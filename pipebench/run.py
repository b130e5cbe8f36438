"""Pipeline benchmark for graft: the tick pipeline (stream ingest, then
dashboard refresh) and the curation pipeline (dedup, export plan, search).

Usage (from the root of a checkout):
  python3 pipebench/run.py --workload {ticks,curation} \
      --seed N --seconds S --trace {0,1}

Builds graft and the harness from source (pipebench/build.py), generates
the seed's inputs (pipebench/gen.py), runs the workload in one JVM and
prints, as the last line of stdout, one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics when --trace 0 and the per-layer metrics
when --trace 1. See pipebench/README.md for what each metric means.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["ticks", "curation"]
HEAP = "1g"
MAX_CORES = 4
DEADLINE_S = 170

END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "pass_s": "s",
              "latency_ms_p50": "ms", "latency_ms_p90": "ms"}


def per_layer_units():
    units = {}
    for layer in metrics.LAYERS:
        for f in metrics.LAYER_FIELDS:
            units[f"{layer}.{f}"] = ("s" if f.endswith("_s") else
                                     "bytes" if f.endswith("_bytes") else "count")
    units.update({"checkpoints.blocks": "count", "checkpoints.bytes": "bytes",
                  "streaming.batches": "count", "streaming.state_rows": "count",
                  "streaming.state_mem_bytes": "bytes", "sinks.wall_s": "s",
                  "sinks.bytes_written": "bytes", "gen.late_ms_p90": "ms",
                  "trace.overhead_frac": "fraction", "similarity.recall_at5": "fraction",
                  "streaming.drain_ticks_per_s": "ticks/s", "refresh.panel_ms_p50": "ms"})
    for name, _ in metrics.STREAM_PHASES:
        units[f"streaming.{name}"] = "ms"
    return units


def cores():
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def commit(root):
    """The checkout's git commit, or "none" when it is not a git work tree."""
    if not os.path.exists(os.path.join(root, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def row_counts(out, queries):
    import pyarrow.parquet as pq
    counts = {}
    for q in queries:
        files = glob.glob(os.path.join(out, q, "*.parquet"))
        if files:
            counts[q] = sum(pq.read_metadata(f).num_rows for f in files)
    return counts


def verify(root, data, out, workload, records):
    """Compare graft.Verify's dump of this seed against the DuckDB oracle."""
    queries = metrics.WORKLOAD_QUERIES[workload]
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"), data, out] + queries,
                       capture_output=True, text=True, timeout=120)
    counts = row_counts(out, queries)
    searches = metrics.of(records, "search")
    recall = (metrics.recall_at_k([tuple(p) for s in searches for p in s["ann"]],
                                  [tuple(p) for s in searches for p in s["exact"]])
              if searches else None)
    return {"ok": r.returncode == 0 and len(counts) == len(queries), "counts": counts,
            "recall": recall, "check": (r.stdout + r.stderr)[-4000:]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tools", "check.py")):
        raise SystemExit("pipebench: run from the root of a graft checkout (tools/check.py is missing)")
    jar, key = build.build(root)

    bb = os.path.join(root, ".bench_build")
    data = os.path.join(bb, "data", str(a.seed))
    if not os.path.isdir(data):
        gen.generate(a.seed, data)
    cache = os.path.join(bb, "verified", f"{key}-{a.workload}-{a.seed}.json")
    verified = json.load(open(cache)) if os.path.exists(cache) else None

    tag = f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(bb, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = os.path.join(work, "raw.jsonl")
    verify_out = os.path.join(work, "verify")
    cmd = (["java"] + build.cds_options(jar) + build.ADD_OPENS +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'harness', 'log4j2.properties')}",
            "-cp", f"{jar}{os.pathsep}{build.spark_jars()}", "pipebench.Harness",
            "--workload", a.workload, "--data", data, "--raw", raw, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores()),
            "--seed", str(a.seed), "--verify-out", verify_out,
            "--verify-queries", ",".join(metrics.WORKLOAD_QUERIES[a.workload]),
            "--verified-ops", ",".join(metrics.ORACLE),
            "--spawn-ms", str(time.time() * 1000.0)])
    # The harness's stdout goes to stderr, so the result below is the last
    # line of stdout.
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("pipebench: harness timed out")
    records = metrics.load(raw) if os.path.exists(raw) else []
    if code != 0 or not metrics.of(records, "setup"):
        raise SystemExit(f"pipebench: harness failed with exit code {code}")
    build.commit_cds(jar)

    if verified is None:
        verified = verify(root, data, verify_out, a.workload, records)
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as f:
            json.dump(verified, f)
    elif row_counts(verify_out, metrics.WORKLOAD_QUERIES[a.workload]) != verified["counts"]:
        verified = dict(verified, ok=False, check="this run's oracle dump differs in row counts")

    attempted, failed, problems = metrics.accounting(records, verified)
    if not verified["ok"]:
        problems.append("oracle check failed:\n" + verified["check"])
    if a.workload == "curation" and (verified["recall"] or 0.0) < metrics.RECALL_FLOOR:
        problems.append(f"search recall@5 {verified['recall']} below {metrics.RECALL_FLOOR}")
    if a.trace:
        values = metrics.per_layer(a.workload, records, work, verified.get("recall"))
        units = per_layer_units()
    else:
        values = metrics.end_to_end(a.workload, records)
        units = END_TO_END
    record = dict(metrics.of(records, "env")[0], commit=commit(root), build=key,
                  problems=problems, verified=verified, metrics=values)
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(record, f, indent=1)
    for p in problems:
        print(f"pipebench: {p}", file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
