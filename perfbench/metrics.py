"""Turn a harness JVM's raw report into the benchmark's metrics.

End-to-end metrics are shared by both workloads; what each one measures
depends on the workload:

    setup_s         session start, input generation (median of three),
                    fixture/index build and warm-up
    op_p50_ms       registry: one query's wall time (median of its passes);
                    jobs: one stream event, from its due time to the commit
                    of the micro-batch that read it, at the fixed rate.
                    A run has 9 (registry) or 4 (jobs) samples, too
                    few for a higher percentile, so only the median is a
                    metric
    cycle_s         registry: one pass over the query panel (median);
                    jobs: one daily batch job, lake to tables
    rate_per_s      registry: queries/s closed loop;
                    jobs: stream events/s while a backlog exists
    heap_retained_mb  JVM heap still reachable after the workload (after
                    full collections): what the engine keeps resident
    ok_rate         passed operations and output checks / attempted

Per-layer metrics come from the workload's traced run (--trace 1): seven
counters per span (wall, jobs, tasks, executor CPU, idle = span time with no
task of the span running, shuffle write bytes, spill bytes) and the
singletons below. A layer the workload does not reach reads 0.
"""
import math
import re

SPANS = [
    "SparkEntry.build", "SparkEntry.execute",
    "functions.Dedup.minhashCandidates", "functions.Dedup.duplicateClustersLogN",
    "sinks.Sinks.readLakePartition", "ops.Cleaning.dedupByKey",
    "pipeline.EventsPipeline.enrich", "agg.BatchAggregates",
    "sinks.Sinks.upsertBatch", "pipeline.BatchPipeline.run",
    "pipeline.IngestPipeline.ingestBatch", "pipeline.IngestPipeline.maintain",
    "functions.Bm25.search", "functions.Similarity.queryIvfIndex",
    "functions.Pq.queryIvfPqIndex",
]
COUNTERS = [("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
            ("exec_cpu_s", "s"), ("idle_s", "s"), ("shuffle_bytes", "bytes"),
            ("spill_bytes", "bytes")]
SINGLETONS = [
    ("sources.input_bytes", "bytes", "lower"),
    ("sinks.output_bytes", "bytes", "lower"),
    ("sinks.files_written", "count", "lower"),
    ("pipeline.StreamPipeline.addBatch_ms", "ms", "lower"),
    ("pipeline.StreamPipeline.queryPlanning_ms", "ms", "lower"),
    ("pipeline.StreamPipeline.walCommit_ms", "ms", "lower"),
    ("pipeline.StreamPipeline.batch_rows", "count", "higher"),
    ("pipeline.StreamPipeline.backlog_growth_files", "count", "lower"),
    ("pipeline.StreamPipeline.generator_late_ms", "ms", "lower"),
    ("pipeline.IngestPipeline.accept_ratio", "fraction", "higher"),
    ("trace.overhead_pct", "%", "lower"),
    ("spark.parallel_speedup", "x", "higher"),
    ("functions.serve_recall", "fraction", "higher"),
]
END_TO_END = [
    ("setup_s", "s", "lower"), ("op_p50_ms", "ms", "lower"), ("cycle_s", "s", "lower"),
    ("rate_per_s", "1/s", "higher"),
    ("heap_retained_mb", "MB", "lower"), ("ok_rate", "fraction", "higher"),
]


def per_layer_names():
    return ([(f"{s}.{c}", u, "lower") for s in SPANS for c, u in COUNTERS]
            + SINGLETONS)


NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def validate_names(names_units):
    """Problems with metric names/units under the benchmark's naming rules."""
    bad, seen = [], set()
    for name, unit in names_units:
        if not NAME_RE.match(name):
            bad.append(f"bad name {name!r}")
        if not UNIT_RE.match(unit):
            bad.append(f"bad unit {unit!r} of {name}")
        if name in seen:
            bad.append(f"duplicate name {name}")
        seen.add(name)
    return bad


def percentile(xs, q):
    """Linear-interpolated q-th percentile (0..100), numpy's default rule."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def union_length(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def idle_seconds(windows, tasks):
    """Span time during which none of the span's tasks ran: the Spark driver,
    planner and scheduler share of the span."""
    return sum((b - a) - union_length(tasks, a, b) for a, b in windows) / 1000.0


def _m(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(workload, raw, gen_s, verdicts):
    smp = raw["samples"]
    setup = gen_s + sum(raw["setup_s"].values())
    n_ok = sum(1 for ok, _ in verdicts.values() if ok)
    if workload == "registry":
        ops = [s * 1000 for s in smp["query_s"]]
        cycle = percentile(smp["suite_s"], 50)
        rate = len(smp["query_s"]) * len(smp["suite_s"]) / sum(smp["suite_s"])
    else:
        ops = [s * 1000 for s in smp["stream_latency_s"]]
        cycle = percentile(smp["batch_s"], 50)
        rate = smp["stream_drain_eps"][0]
    attempted = raw["attempted"] + len(verdicts)
    bad = raw["failed"] + (len(verdicts) - n_ok)
    vals = {
        "setup_s": setup, "op_p50_ms": percentile(ops, 50),
        "cycle_s": cycle, "rate_per_s": rate,
        "heap_retained_mb": raw["extra"]["heap_retained_mb"],
        "ok_rate": (attempted - bad) / max(1, attempted),
    }
    return {n: _m(vals[n], u) for n, u, _ in END_TO_END}


def details(workload, raw):
    """The workload's own named figures, for humans (stderr)."""
    smp = raw["samples"]
    p = percentile
    common = {"peak_rss_mb": raw["extra"]["vm_hwm_kb"] / 1024.0}
    if workload == "registry":
        return {**common,
                "suite_s": p(smp["suite_s"], 50), "query_p50_s": p(smp["query_s"], 50),
                "query_p90_s": p(smp["query_s"], 90), "passes": smp["suite_s"],
                "query_s": smp["query_s"],
                "warmup_query_s": smp["warmup_query_s"],
                "warmup_pass_s": smp["warmup_pass_s"]}
    return {**common,
            "batch_s": p(smp["batch_s"], 50), "days": len(smp["batch_s"]),
            "stream_drain_eps": smp["stream_drain_eps"][0],
            "stream_latency_p50_s": p(smp["stream_latency_s"], 50),
            "latency_samples": len(smp["stream_latency_s"]),
            "backlog_growth_files": smp["backlog_growth_files"][0]}


def per_layer(raw, recall):
    spans, smp = raw["spans"], raw["samples"]
    vals = {}
    for s in SPANS:
        st = spans.get(s, {})
        vals.update({
            f"{s}.wall_s": st.get("wall_s", 0.0), f"{s}.jobs": st.get("jobs", 0),
            f"{s}.tasks": st.get("tasks", 0), f"{s}.exec_cpu_s": st.get("exec_cpu_s", 0.0),
            f"{s}.idle_s": idle_seconds(st.get("windows", []), st.get("task_times", [])),
            f"{s}.shuffle_bytes": st.get("shuffle_bytes", 0),
            f"{s}.spill_bytes": st.get("spill_bytes", 0)})
    sp = "pipeline.StreamPipeline"
    before, traced, after = smp["overhead_passes"]

    def med(name):  # 0 where the workload does not reach the layer
        return percentile(smp[name], 50) if smp.get(name) else 0.0
    pair = smp.get("speedup_pair")
    vals.update({
        "sources.input_bytes": raw["input_bytes"],
        "sinks.output_bytes": raw["output_bytes"],
        "sinks.files_written": raw["extra"].get("files_written", 0),
        f"{sp}.addBatch_ms": med("addBatch_ms"),
        f"{sp}.queryPlanning_ms": med("queryPlanning_ms"),
        f"{sp}.walCommit_ms": med("walCommit_ms"),
        f"{sp}.batch_rows": med("batch_rows"),
        f"{sp}.backlog_growth_files": med("backlog_growth_files"),
        f"{sp}.generator_late_ms": med("generator_late_ms"),
        "pipeline.IngestPipeline.accept_ratio": med("accept_ratio"),
        "trace.overhead_pct": 100.0 * (traced / ((before + after) / 2) - 1.0),
        "spark.parallel_speedup": pair[0] / pair[1] if pair else 0.0,
        "functions.serve_recall": recall or 0.0,
    })
    return {n: _m(vals[n], u) for n, u, _ in per_layer_names()}
