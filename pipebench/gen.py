"""Seeded input generator for the pipeline benchmark.

Writes one directory of parquet tables per seed, in the schemas graft's
`Tables` loaders read and `tools/check.py` queries: events (ticks),
documents, embeddings, queries (the search batches) and msgs.jsonl (the
ticks as JSON feed messages, which the stream replays). The directory also
holds empty stand-ins for the other tables, because `tools/check.py`
declares a DuckDB view over every table it knows.

The same seed always gives byte-identical tables; every random draw comes
from one `numpy.random.Generator` per table, seeded from the seed.
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. The dashboard and curation passes are dominated by per-job
# scheduling at these sizes (see README.md, "Sizing"), so larger inputs
# mostly lengthen runs without changing which layer dominates. The stream
# replays a prefix of the same ticks the dashboard reads.
TICKS = 16_000
DAYS = 30
SYMBOLS = ["click", "error", "purchase", "signup", "view"]
USERS = 1_500
DOCS = 1_500
SOURCES = 10
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
EXACT_DUP_FRAC = 0.03
NEAR_DUP_FRAC = 0.05
CONTAMINATED_FRAC = 0.02
VECTORS = 2_000
DIM = 64
LABELS = 10
TOPIC_SIZE = 6
SEARCH_BATCHES = 2
QUERIES_PER_BATCH = 16  # graft.operators.Similarity.QueryCount

# every table tools/check.py declares a view over
CHECKED_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in microseconds


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def events(seed):
    r = _rng(seed, 1)
    n = TICKS
    span = DAYS * 86_400_000_000
    ts = np.sort(r.integers(0, span, n)) + T0_US
    sym = r.integers(0, len(SYMBOLS), n)
    # per-symbol random walk in cents, kept positive
    steps = r.integers(-25, 26, n)
    price = np.empty(n, dtype=np.int64)
    level = r.integers(5_000, 50_000, len(SYMBOLS))
    for i in range(n):
        s = sym[i]
        level[s] = max(100, level[s] + steps[i])
        price[i] = level[s]
    props = [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n)]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, USERS, n).astype(np.int64)),
        "event_type": pa.array([SYMBOLS[s] for s in sym]),
        "value": pa.array(price / 100.0),
        "props": pa.array(props),
    })


def _vocab(r):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < 400:
        words.add("".join(r.choice(letters, r.integers(3, 9))))
    return sorted(words)


def documents(seed):
    r = _rng(seed, 2)
    vocab = _vocab(r)
    texts = [" ".join(r.choice(vocab, r.integers(8, 90))) for _ in range(DOCS)]
    source = [f"src{i}" for i in r.integers(0, SOURCES, DOCS)]
    ids = np.arange(DOCS)
    # exact duplicates: copy another document's text verbatim
    for i in r.choice(ids[1:], int(DOCS * EXACT_DUP_FRAC), replace=False):
        texts[i] = texts[r.integers(0, i)]
    # near duplicates: copy and replace about one word in twenty
    for i in r.choice(ids[1:], int(DOCS * NEAR_DUP_FRAC), replace=False):
        words = texts[r.integers(0, i)].split(" ")
        for j in range(len(words)):
            if r.random() < 0.05:
                words[j] = vocab[r.integers(0, len(vocab))]
        texts[i] = " ".join(words)
    # contamination: splice a 12-word run of a src0 document into others
    bench = [i for i in ids if source[i] == "src0" and len(texts[i].split()) >= 12]
    others = [i for i in ids if source[i] != "src0"]
    for i in r.choice(others, int(DOCS * CONTAMINATED_FRAC), replace=False):
        words = texts[bench[r.integers(0, len(bench))]].split(" ")
        k = r.integers(0, len(words) - 11)
        texts[i] = texts[i] + " " + " ".join(words[k:k + 12])
    return pa.table({
        "doc_id": pa.array(ids.astype(np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in r.integers(0, len(LANGS), DOCS)]),
        "source": pa.array(source),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(seed):
    """Unit vectors in LABELS classes; each class holds tight topics of
    TOPIC_SIZE vectors, so a vector's five nearest neighbours are its
    topic and an approximate index can find them."""
    r = _rng(seed, 3)
    centers = r.normal(size=(LABELS, DIM))
    topic_label = r.integers(0, LABELS, -(-VECTORS // TOPIC_SIZE))
    topics = centers[topic_label] + 0.7 * r.normal(size=(len(topic_label), DIM))
    topic = r.permutation(np.arange(VECTORS) // TOPIC_SIZE)
    label = topic_label[topic]
    v = topics[topic] + 0.25 * r.normal(size=(VECTORS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(VECTORS, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def query_batches(seed, emb):
    """Corpus vectors drawn by the seed, in batches of QUERIES_PER_BATCH."""
    r = _rng(seed, 5)
    n = SEARCH_BATCHES * QUERIES_PER_BATCH
    pick = r.choice(emb.num_rows, n, replace=False)
    return pa.table({
        "batch": pa.array(np.arange(n, dtype=np.int32) // QUERIES_PER_BATCH),
        "vec_id": emb["vec_id"].take(pick),
        "embedding": emb["embedding"].take(pick),
    })


def json_feed(ev):
    """The ticks as the JSON messages graft's StreamPipelines.toJsonFeed
    writes (microsecond timestamps), one per line, in event-id order."""
    cols = {c: ev[c].to_pylist() for c in ("event_id", "user_id", "event_type", "value", "props")}
    out = []
    for i, t in enumerate(ev["ts"].cast(pa.int64()).to_pylist()):
        sec, us = divmod(t, 1_000_000)
        stamp = np.datetime64(sec, "s").item().strftime("%Y-%m-%d %H:%M:%S") + f".{us:06d}"
        out.append(json.dumps({"event_id": cols["event_id"][i], "ts": stamp,
                               "user_id": cols["user_id"][i], "event_type": cols["event_type"][i],
                               "value": cols["value"][i], "props": cols["props"][i]},
                              separators=(",", ":")))
    return out


def _write_dir(path, tables):
    os.makedirs(path, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(path, f"{name}.parquet"))
    stub = pa.table({"stub": pa.array([], type=pa.int64())})
    for name in CHECKED_TABLES:
        if name not in tables:
            pq.write_table(stub, os.path.join(path, f"{name}.parquet"))


def generate(seed, out):
    """Write the seed's tables under `out` (atomically: a half-written
    directory is never left under the final name)."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    emb = embeddings(seed)
    ticks = events(seed)
    _write_dir(tmp, {
        "events": ticks,
        "documents": documents(seed),
        "embeddings": emb,
        "queries": query_batches(seed, emb),
    })
    with open(os.path.join(tmp, "msgs.jsonl"), "w") as f:
        f.write("\n".join(json_feed(ticks)) + "\n")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2])
