"""Metrics from a driver run record: the end-to-end figures, the
per-layer figures of a traced run, and span self times.

A pass is one run of every op of the workload in the seeded order.
Per-layer times and counts are per timed pass, the same unit of work as
pass_s; fractions are ratios of sums; session.* are one-off set-up.
"""
import math
import statistics

# end-to-end metrics BENCHMARK.json gates on; every workload reports all
GATED = ["setup_s", "peak_rss_mb", "live_heap_mb", "pass_s"]

PER_LAYER = {
    "session.spark_start_s": "s", "session.warmup_s": "s",
    "catalog.put_s": "s", "catalog.persist_s": "s", "catalog.persist_mb": "MB",
    "catalog.load_s": "s", "catalog.list_s": "s", "catalog.delete_s": "s",
    "mr.run_job_s": "s", "mr.write_tsv_s": "s", "mr.sink_mb": "MB",
    "mr.shuffle_records": "count", "mr.distinct_keys": "count",
    "mr.records_per_key": "ratio", "mr.spill_mb": "MB",
    "entry.build_s": "s", "entry.build_jobs": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "codegen.compile_s": "s", "codegen.compiles": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.run_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.scheduler_delay_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.peak_exec_mem_mb": "MB", "exec.busy_frac": "ratio",
    "streaming.batches": "count", "streaming.empty_batch_frac": "ratio",
    "streaming.input_rows": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.query_planning_s": "s",
    "streaming.offset_s": "s", "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s", "streaming.lifecycle_s": "s",
    "streaming.state_rows": "count", "streaming.state_mem_mb": "MB",
}

UNITS = dict({"setup_s": "s", "peak_rss_mb": "MB", "live_heap_mb": "MB", "pass_s": "s"},
             **PER_LAYER)

# span name -> per-layer metric holding its summed duration
SPAN_METRICS = {
    "catalog.put": "catalog.put_s", "catalog.persist": "catalog.persist_s",
    "catalog.load": "catalog.load_s", "catalog.list": "catalog.list_s",
    "catalog.delete": "catalog.delete_s", "mr.run_job": "mr.run_job_s",
    "mr.write_tsv": "mr.write_tsv_s", "entry.build": "entry.build_s",
    "plan.analysis": "plan.analysis_s", "plan.optimization": "plan.optimization_s",
    "plan.planning": "plan.planning_s", "codegen.compile": "codegen.compile_s",
}

# counters summed over timed ops, reported per pass
COUNTERS = [
    "entry.build_jobs", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.failed_tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "exec.scheduler_delay_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "exec.spill_mb", "streaming.batches", "streaming.input_rows",
    "streaming.trigger_s", "streaming.add_batch_s",
    "streaming.query_planning_s", "streaming.offset_s",
    "streaming.wal_commit_s", "streaming.commit_offsets_s",
]


def percentile(values, p):
    """Nearest-rank percentile, p in (0, 1)."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p * len(xs)) - 1)]


def percentile_ok(n, p):
    """The percentile rule: at least ten samples lie beyond it."""
    return n - math.ceil(p * n) >= 10


def _per_op(rec):
    """op -> wall times of its successful timed samples, in run order."""
    walls = {}
    for s in rec["samples"]:
        if s["error"] is None:
            walls.setdefault(s["op"], []).append(s["wall_s"])
    return walls


def end_to_end(rec, stamp, verdict):
    walls = _per_op(rec)
    medians = {op: statistics.median(ws) for op, ws in walls.items()}
    gated = {
        "setup_s": rec["setup_s"],
        "peak_rss_mb": rec["peak_rss_mb"],
        "live_heap_mb": rec["live_heap_mb"],
        "pass_s": sum(medians.values()),
    }
    report = {"failed_frac": (verdict["failed"] / verdict["attempted"], "ratio", None)}
    if stamp["workload"] == "mr_wordcount":
        for op, name in (("upload", "upload_s"), ("wordcount", "mr_wordcount_s"),
                         ("inverted_index", "mr_inverted_index_s")):
            report[name] = (medians[op], "s", len(walls[op]))
        jobs = walls["wordcount"] + walls["inverted_index"]
        report["mr_input_mb_per_s"] = (
            verdict["corpus"]["bytes"] / 1e6 * len(jobs) / sum(jobs), "MB/s", len(jobs))
        report["corpus"] = (verdict["corpus"], "", None)
    else:
        for kind, rate in (("query", "queries_per_s"), ("stream", "stream_queries_per_s")):
            xs = [w for op, ws in walls.items() for w in ws
                  if op.startswith("stream_") == (kind == "stream")]
            n = len(xs)
            report[f"{kind}_p50_s"] = (statistics.median(xs), "s", n)
            for p in ((0.9, 0.75) if kind == "query" else (0.75,)):
                if percentile_ok(n, p):
                    report[f"{kind}_p{round(p * 100)}_s"] = (percentile(xs, p), "s", n)
                    break
            else:
                report[f"{kind}_tail_s"] = (None, "s", n)
            # the tail the run can show at any size: its slowest line
            slowest = max(m for op, m in medians.items()
                          if op.startswith("stream_") == (kind == "stream"))
            report[f"{kind}_slowest_line_p50_s"] = (slowest, "s", None)
            # ops of this kind per second of their own wall time
            report[rate] = (n / sum(xs), "1/s", n)
    return {"gated": gated, "report": report,
            "op_medians": medians, "samples": {op: len(ws) for op, ws in walls.items()}}


def print_end_to_end(e2e):
    for k, v in e2e["gated"].items():
        print(f"metric {k} = {v:.4f} {UNITS[k]}")
    for k, (v, unit, n) in e2e["report"].items():
        if isinstance(v, dict):
            print(f"{k} {v}")
        elif v is None:
            print(f"metric {k} = n/a {unit} (n={n}: too few samples for p75)")
        else:
            print(f"metric {k} = {v:.4f} {unit}" + (f" (n={n})" if n else ""))


def _timed(op):
    return op.startswith("timed:")


def per_layer(rec):
    passes = rec["passes"]
    spans = rec["spans"]
    counts = rec["counts"]
    out = {k: 0.0 for k in PER_LAYER}
    for s in spans:
        if s["name"] in ("session.spark_start", "session.warmup") and not s["op"]:
            out[s["name"] + "_s"] += (s["end_ms"] - s["start_ms"]) / 1e3
        elif s["name"] in SPAN_METRICS and _timed(s["op"]):
            out[SPAN_METRICS[s["name"]]] += (s["end_ms"] - s["start_ms"]) / 1e3 / passes
    timed = {op: m for op, m in counts.items() if _timed(op)}
    for op, m in timed.items():
        for k in COUNTERS:
            out[k] += m.get(k, 0.0) / passes
        out["exec.peak_exec_mem_mb"] = max(out["exec.peak_exec_mem_mb"],
                                           m.get("exec.peak_exec_mem_mb", 0.0))
        for k, v in m.items():
            if k.startswith("streaming.state.") and k.endswith(".rows"):
                out["streaming.state_rows"] += v / passes
            elif k.startswith("streaming.state.") and k.endswith(".mb"):
                out["streaming.state_mem_mb"] += v / passes
    out["codegen.compiles"] = rec["compiles"] / passes
    op_wall = sum(s["wall_s"] for s in rec["samples"])
    out["exec.busy_frac"] = (out["exec.run_s"] * passes /
                             (op_wall * int(rec["cores"])) if op_wall else 0.0)
    batches = out["streaming.batches"]
    empty = sum(m.get("streaming.empty_batches", 0.0) for m in timed.values())
    out["streaming.empty_batch_frac"] = empty / passes / batches if batches else 0.0
    queries = sum(s["end_ms"] - s["start_ms"] for s in spans
                  if s["name"] == "streaming.query" and _timed(s["op"]))
    if queries:
        out["streaming.lifecycle_s"] = queries / 1e3 / passes - out["streaming.trigger_s"]
    extra = rec.get("extra", {})
    if "digests" in extra:
        mr_ops = [m for op, m in timed.items()
                  if op.endswith(":wordcount") or op.endswith(":inverted_index")]
        keys = rec["verdict"]["corpus"]["distinct_keys"]
        shuffled = sum(m.get("exec.shuffle_records", 0.0) for m in mr_ops) / passes
        out["mr.shuffle_records"] = shuffled
        out["mr.distinct_keys"] = float(keys)
        # two jobs per pass, each reducing to `keys` outputs
        out["mr.records_per_key"] = shuffled / (2 * keys)
        out["mr.spill_mb"] = sum(m.get("exec.spill_mb", 0.0) for m in mr_ops) / passes
        out["mr.sink_mb"] = extra["sink_bytes"] / 1e6
        out["catalog.persist_mb"] = extra["persist_bytes"] / 1e6
    return out


def resolve_parents(spans):
    """Parent index of every span: recorded for benchmark spans; for
    spans rebuilt from listener events, the shortest longer span of the
    same op that contains it (1 ms slack: Spark's event times are
    whole milliseconds)."""
    parents = []
    by_op = {}
    for i, s in enumerate(spans):
        by_op.setdefault(s["op"], []).append(i)
    for i, s in enumerate(spans):
        if s["parent"] != -2:
            parents.append(s["parent"])
            continue
        dur = s["end_ms"] - s["start_ms"]
        best, best_dur = -1, math.inf
        for j in by_op.get(s["op"], []):
            t = spans[j]
            tdur = t["end_ms"] - t["start_ms"]
            if (j != i and tdur > dur and tdur < best_dur
                    and t["start_ms"] <= s["start_ms"] + 1
                    and s["end_ms"] <= t["end_ms"] + 1):
                best, best_dur = j, tdur
        parents.append(best)
    return parents


def _covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(lo, a), min(hi, b)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(rec):
    """span name -> (spans, inclusive s, self s), per timed pass. Self
    time is a span's duration minus the part its children cover."""
    spans = rec["spans"]
    parents = resolve_parents(spans)
    children = {}
    for i, p in enumerate(parents):
        if p >= 0:
            children.setdefault(p, []).append(i)
    out = {}
    passes = rec["passes"]
    for i, s in enumerate(spans):
        if not _timed(s["op"]):
            continue
        lo, hi = s["start_ms"], s["end_ms"]
        kids = [(spans[c]["start_ms"], spans[c]["end_ms"]) for c in children.get(i, [])]
        n, inc, slf = out.get(s["name"], (0, 0.0, 0.0))
        out[s["name"]] = (n + 1, inc + (hi - lo) / 1e3 / passes,
                          slf + (hi - lo - _covered(lo, hi, kids)) / 1e3 / passes)
    return out


def print_per_layer(metrics, selfs):
    print("per-layer metrics (per timed pass unless noted):")
    for k in PER_LAYER:
        print(f"  {k:30s} {metrics[k]:14.4f} {PER_LAYER[k]}")
    print("span self times per timed pass (name, spans, inclusive s, self s):")
    for name in sorted(selfs):
        n, inc, slf = selfs[name]
        print(f"  {name:22s} {n:6d} {inc:10.4f} {slf:10.4f}")


def print_overhead(base, traced):
    print("tracing overhead (traced minus untraced):")
    for k, v in traced["gated"].items():
        b = base["gated"][k]
        print(f"  {k:12s} {v - b:+.4f} {UNITS[k]} ({(v - b) / b:+.1%})")
