"""Arithmetic of the benchmark: turns the harness's raw records (one JSON
object per line) into the end-to-end and per-layer metrics.

Kept apart from the harness so that every formula here has a unit test
(tests/test_metrics.py) and runs without a JVM.
"""
import glob
import json
import os

LAYERS = ["bars", "indicators", "ema", "relational", "dedup", "training", "similarity"]
LAYER_FIELDS = ["wall_s", "build_s", "driver_s", "jobs", "stages", "tasks",
                "task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "input_bytes"]
STREAM_PHASES = [("trigger_ms_p50", "triggerExecution"), ("latest_offset_ms_p50", "latestOffset"),
                 ("get_batch_ms_p50", "getBatch"), ("query_planning_ms_p50", "queryPlanning"),
                 ("add_batch_ms_p50", "addBatch"), ("wal_commit_ms_p50", "walCommit"),
                 ("commit_ms_p50", "commitOffsets")]
# The curation pass proper; the search batches are timed as requests.
CURATE_OPS = {"dedup.exactDocs", "training.exportPlan", "similarity.semDedup"}
SEARCH_OP = "similarity.annIvfPqFor"
# Operations whose output graft.Verify can dump and tools/check.py can
# compare against the DuckDB oracle, with the oracle's query name.
ORACLE = {
    "bars.ohlcv": "q_bars_ohlcv", "indicators.sma": "q_sma",
    "indicators.bollinger": "q_bollinger", "indicators.rsi": "q_rsi",
    "indicators.atr": "q_atr", "indicators.stochastic": "q_stochastic",
    "indicators.vwap": "q_vwap", "indicators.momentum": "q_momentum",
    "indicators.summaryStats": "q_summary_stats", "indicators.latestMetrics": "q_latest_metrics",
    "indicators.weeklyRange": "q_weekly_range", "indicators.volumeHeatmap": "q_volume_heatmap",
    "ema.macd": "q_macd", "relational.dedupLatest": "q_dedup_latest",
    "relational.latestTs": "q_latest_ts", "relational.fetchGuard": "q_fetch_guard",
    "dedup.exactDocs": "q_dedup_exact_docs", "training.exportPlan": "q_export_plan",
    "similarity.semDedup": "q_semdedup",
}
WORKLOAD_QUERIES = {
    # the dashboard's operations, and q_stream_props: the batch twin of
    # propsWindowAggStream, which the stream's output is checked against.
    # The harness dumps them in parallel in this order, so the ones with
    # the longest cold start come first.
    "ticks": ["q_macd", "q_stream_props"] + [
        q for op, q in ORACLE.items()
        if op.split(".")[0] in ("bars", "indicators", "relational")],
    "curation": ["q_export_plan", "q_semdedup", "q_dedup_exact_docs"],
}
# IVF-PQ is approximate; below this recall@5 against brute force the
# search output is treated as wrong, so speed cannot be bought with recall.
RECALL_FLOOR = 0.5


# ---- statistics -------------------------------------------------------------

def percentile(xs, q):
    """Linear-interpolated q-th percentile (0..100) of a non-empty sample."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sample")
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return percentile(xs, 50)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it that child intervals cover."""
    a, b = span
    clipped = [(max(a, c0), min(b, c1)) for c0, c1 in children if c1 > a and c0 < b]
    return (b - a) - union_length(clipped)


def open_loop_latency(due, committed):
    """Latency of one open-loop request: from when it was due to be sent,
    not from when it was sent, so a stalled generator or system shows."""
    return committed - due


def lateness(due, sent):
    """How far behind its schedule the generator sent a request."""
    return max(0.0, sent - due)


def recall_at_k(ann, exact):
    """Mean over queries of |ann ∩ exact| / |exact|; pairs are (query, neighbour)."""
    want, got = {}, {}
    for q, n in exact:
        want.setdefault(q, set()).add(n)
    for q, n in ann:
        got.setdefault(q, set()).add(n)
    if not want:
        raise ValueError("recall without exact neighbours")
    return sum(len(want[q] & got.get(q, set())) / len(want[q]) for q in want) / len(want)


# ---- records ----------------------------------------------------------------

def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def of(records, rtype, **match):
    return [r for r in records if r["type"] == rtype and all(r.get(k) == v for k, v in match.items())]


def dir_bytes(path):
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


def batch_of_file(ckpt):
    """File name -> micro-batch id, from a file source's metadata log."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def batch_ends(records, query):
    """Micro-batch id -> epoch ms at which that batch finished."""
    return {r["batch"]: r["start"] + r["dur"].get("triggerExecution", 0)
            for r in of(records, "progress", query=query)}


def tick_latencies(records, props_ckpt, sink_ckpt):
    """Per pushed file of the timed stream (not the warm-up's): latency
    until both queries committed it, or None."""
    logs = [(batch_of_file(props_ckpt), batch_ends(records, "props_run")),
            (batch_of_file(sink_ckpt), batch_ends(records, "sink_run"))]
    out = []
    for p in of(records, "push"):
        if p["phase"] == "warm":
            continue
        ends = [ends.get(files.get(p["file"])) for files, ends in logs]
        out.append((p, None if None in ends else open_loop_latency(p["due"], max(ends))))
    return out


# ---- metrics ----------------------------------------------------------------

def op_spans(records, timed_only=True):
    """Operation spans; pass 0 is the untimed warm-up."""
    return [r for r in of(records, "span", kind="op") if not timed_only or r["pass"] >= 1]


def pass_durations(records, traced=None):
    return [(r["t1"] - r["t0"]) / 1000.0 for r in of(records, "span", kind="pass")
            if r["pass"] >= 1 and (traced is None or r["traced"] == traced)]


def rate_latencies(records):
    run = of(records, "stream_run")[0]
    return [x for p, x in tick_latencies(records, run["props_ckpt"], run["sink_ckpt"])
            if p["phase"] == "rate" and x is not None]


def end_to_end(workload, records):
    """ticks: pass_s is a dashboard refresh, latency a pushed tick's.
    curation: pass_s is exactDocs + exportPlan + semDedup, latency a
    search batch's."""
    m = {"setup_s": of(records, "setup")[0]["s"],
         "peak_rss_mb": of(records, "rss")[0]["peak_mb"]}
    if workload == "ticks":
        m["pass_s"] = median(pass_durations(records))
        lat = rate_latencies(records)
    else:
        by_pass = {}
        for r in op_spans(records):
            if r["name"] in CURATE_OPS:
                by_pass[r["pass"]] = by_pass.get(r["pass"], 0.0) + (r["t1"] - r["t0"]) / 1000.0
        m["pass_s"] = median(list(by_pass.values()))
        lat = [r["t1"] - r["t0"] for r in op_spans(records) if r["name"] == SEARCH_OP]
    m["latency_ms_p50"] = median(lat)
    m["latency_ms_p90"] = percentile(lat, 90)
    return m


def per_layer(workload, records, work, recall):
    jobs, stages = {}, {}
    for j in of(records, "job"):
        jobs.setdefault(j["group"], []).append(j)
    for s in of(records, "stage"):
        stages.setdefault(s["group"], []).append(s)
    traced = [r for r in op_spans(records) if r["traced"]]
    m = {}
    for layer in LAYERS:
        per_pass = {}
        for r in traced:
            if r["layer"] != layer:
                continue
            acc = per_pass.setdefault(r["pass"], dict.fromkeys(LAYER_FIELDS, 0.0))
            js, ss = jobs.get(r["id"], []), stages.get(r["id"], [])
            acc["wall_s"] += (r["t1"] - r["t0"]) / 1000.0
            acc["build_s"] += (r["tb"] - r["t0"]) / 1000.0
            acc["driver_s"] += self_time((r["t0"], r["t1"]), [(j["t0"], j["t1"]) for j in js]) / 1000.0
            acc["jobs"] += len(js)
            acc["stages"] += len(ss)
            acc["tasks"] += sum(s["tasks"] for s in ss)
            acc["task_cpu_s"] += sum(s["cpu_ns"] for s in ss) / 1e9
            acc["gc_s"] += sum(s["gc_ms"] for s in ss) / 1000.0
            acc["shuffle_write_bytes"] += sum(s["shuffle_write"] for s in ss)
            acc["spill_bytes"] += sum(s["spill"] for s in ss)
            acc["input_bytes"] += sum(s["input"] for s in ss)
        for f in LAYER_FIELDS:
            vals = [p[f] for p in per_pass.values()]
            m[f"{layer}.{f}"] = median(vals) if vals else 0.0
    storage = [s for s in of(records, "storage") if s["pass"] >= 1]
    m["checkpoints.blocks"] = median([s["blocks"] for s in storage]) if storage else 0
    m["checkpoints.bytes"] = median([s["bytes"] for s in storage]) if storage else 0

    batches = [p for p in of(records, "progress") if p["query"].endswith("_run") and p["rows"] > 0]
    m["streaming.batches"] = len(batches)
    for name, key in STREAM_PHASES:
        vals = [b["dur"].get(key, 0) for b in batches]
        m[f"streaming.{name}"] = median(vals) if vals else 0.0
    state = [b for b in batches if b["query"] == "props_run"]
    m["streaming.state_rows"] = max((b["state_rows"] for b in state), default=0)
    m["streaming.state_mem_bytes"] = max((b["state_mem"] for b in state), default=0)
    drains = of(records, "span", kind="drain")
    m["streaming.drain_ticks_per_s"] = (median([d["ticks"] * 1000.0 / (d["t1"] - d["t0"])
                                                for d in drains]) if drains else 0.0)
    sinks = of(records, "span", kind="sink", query="run")
    m["sinks.wall_s"] = sum(s["t1"] - s["t0"] for s in sinks) / 1000.0
    m["sinks.bytes_written"] = dir_bytes(os.path.join(work, "stream", "run", "out"))
    panels = [r["t1"] - r["t0"] for r in op_spans(records)] if workload == "ticks" else []
    m["refresh.panel_ms_p50"] = median(panels) if panels else 0.0
    late = [lateness(p["due"], p["done"]) for p in of(records, "push", phase="rate")]
    m["gen.late_ms_p90"] = percentile(late, 90) if late else 0.0
    plain, with_trace = pass_durations(records, False), pass_durations(records, True)
    m["trace.overhead_frac"] = (median(with_trace) / median(plain) - 1.0
                                if plain and with_trace else 0.0)
    m["similarity.recall_at5"] = recall if recall is not None else 0.0
    return m


def accounting(records, verified):
    """(attempted, failed, problems): every operation attempt counts, and a
    problem is anything that makes the run's output wrong."""
    problems = [f"fatal {r['error_class']}: {r['error']}" for r in of(records, "fatal")]
    problems += [f"check {r['name']}: {r['detail']}" for r in of(records, "check") if not r["ok"]]
    spans = op_spans(records, timed_only=False)
    attempted = len(spans)
    failed = sum(1 for r in spans if not r["ok"]) + len(of(records, "fatal"))
    counts = verified.get("counts", {})
    for r in spans:
        q = ORACLE.get(r["name"])
        if r["ok"] and q in counts and r["rows"] != counts[q]:
            problems.append(f"{r['name']} returned {r['rows']} rows, verified {counts[q]}")
    run = of(records, "stream_run")
    if run:
        # a push counts as failed when a query never committed it
        pushes = tick_latencies(records, run[0]["props_ckpt"], run[0]["sink_ckpt"])
        attempted += len(pushes)
        failed += sum(1 for _, x in pushes if x is None) + len(of(records, "stream_error"))
        problems += [f"stream error: {r['error']}" for r in of(records, "stream_error")]
    return max(attempted, 1), failed, problems
