"""Metric definitions, the per-layer breakdown of a traced run, and the
report line.

Every workload prints every metric, as the result line requires; a layer a
workload never enters reads 0 there (``dsl.*`` and ``catalyst.plan_s`` on
batch, the batch statement kinds on search).  Per-operation figures are means
over the timed operations, so they add up: on search
``dsl.parse_s + dsl.build_s + catalyst.plan_s + engine.job_busy_s +
engine.driver_gap_s + trace.unattributed_s`` equals ``trace.op_wall_s``.

A search statement is built, planned and run inside one ``Engine.execute``
call, and nothing is built or planned a second time for measuring: the
event log splits that call's wall time (``tracing.split_span``) into

- ``dsl.build_s``: outside every SQL execution and job: building and
  analyzing the statement's DataFrames, and reading results into Python;
- ``catalyst.plan_s``: from each SQL execution's start to its first job:
  optimizing and planning the plan that actually runs;
- ``engine.job_busy_s``: some job of the statement is running;
- ``engine.driver_gap_s``: inside a SQL execution, after its first job,
  while no job runs: adaptive re-planning and result hand-off.

``{kind}.plan_s`` of a batch statement is the same planning share, summed
over its build and run.
"""

from __future__ import annotations

import statistics
import sys

import oracle
import tracing
import workloads as wl

END_TO_END = (
    ("setup_s", "s"),
    ("op_cpu_s", "s"),
    ("stored_bytes_per_input_byte", "ratio"),
)

SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "job_busy_s": "s", "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "max_task_over_median": "ratio",
}

PER_LAYER = (
    ("session.start_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("trace.op_wall_s", "s"),
    ("trace.op_p50_s", "s"),
    ("trace.untraced_op_p50_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.unattributed_s", "s"),
    ("dsl.parse_s", "s"),
    ("dsl.build_s", "s"),
    ("catalyst.plan_s", "s"),
    ("engine.execute_s", "s"),
    ("engine.sql_executions", "count"),
    ("engine.job_busy_s", "s"),
    ("engine.driver_gap_s", "s"),
    ("engine.result_rows", "count"),
    *((f"spark.{k}", u) for k, u in SPARK_UNITS.items()),
    ("sources.input_bytes", "bytes"),
    ("sources.rows_read_per_result", "ratio"),
    ("sources.output_bytes", "bytes"),
    ("sources.output_files", "count"),
    ("model.scan_tasks", "count"),
    *((f"{kind}.{k}", u) for kind in wl.BATCH_KINDS for k, u in (
        ("wall_s", "s"), ("build_s", "s"), ("eager_jobs", "count"),
        ("plan_s", "s"), *SPARK_UNITS.items())),
    ("near_dup.lsh_precision", "ratio"),
    ("near_dup.planted_recall", "ratio"),
)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(ctx, spans, log_path, outcome, *, session_s,
              untraced_op_p50_s, stored, lsh_precision, peak_rss_mb) -> dict:
    """The per-layer metrics of a traced run, from its spans and event log."""
    log = tracing.read_event_log(log_path)
    self_s = dict(zip(map(id, spans), tracing.self_times(spans)))
    timed = [s for s in spans if s.op >= ctx.timed_from]
    ops = sorted({s.op for s in timed})
    by_op: dict[int, dict[str, tracing.Span]] = {o: {} for o in ops}
    for s in timed:
        by_op[s.op][s.name] = s

    def span_s(name):       # mean seconds of a named span per operation
        return _mean(d[name].seconds if name in d else 0.0
                     for d in by_op.values())

    def groups(d, names=None):
        return {s.group for n, s in d.items()
                if s.group and (names is None or n in names)}

    def jobs_in(d, name):
        g = groups(d, {name})
        return sum(1 for j in log.jobs.values() if j.group in g)

    def split(d, names):    # split_span of the named spans, summed
        parts = [tracing.split_span(log, s.start, s.end, {s.group})
                 for n, s in d.items() if n in names]
        return {k: sum(p[k] for p in parts) for k in
                ("driver_s", "plan_s", "job_busy_s", "gap_s")}

    root = f"{ctx.workload}.op"
    per_op = [tracing.spark_stats(log, groups(d)) for d in by_op.values()]
    m: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
    m["session.start_s"] = session_s
    m["session.peak_rss_mb"] = peak_rss_mb
    m["trace.op_wall_s"] = span_s(root)
    # time in the operation outside every layer's span
    m["trace.unattributed_s"] = _mean(self_s[id(d[root])]
                                      for d in by_op.values())
    m["trace.op_p50_s"] = statistics.median(outcome.op_seconds)
    if untraced_op_p50_s is not None:
        m["trace.untraced_op_p50_s"] = untraced_op_p50_s
        m["trace.overhead_s"] = m["trace.op_p50_s"] - untraced_op_p50_s
    for k in SPARK_UNITS:
        m[f"spark.{k}"] = _mean(st[k] for st in per_op)
    m["sources.input_bytes"] = _mean(st["input_bytes"] for st in per_op)
    m["model.scan_tasks"] = _mean(st["scan_tasks"] for st in per_op)
    m["sources.output_bytes"], m["sources.output_files"] = stored

    if ctx.workload == "search":
        m["dsl.parse_s"] = span_s("dsl.parse")
        m["engine.execute_s"] = span_s("engine.execute")
        parts = [split(d, {"engine.execute"}) for d in by_op.values()]
        m["dsl.build_s"] = _mean(p["driver_s"] for p in parts)
        m["catalyst.plan_s"] = _mean(p["plan_s"] for p in parts)
        m["engine.job_busy_s"] = _mean(p["job_busy_s"] for p in parts)
        m["engine.driver_gap_s"] = _mean(p["gap_s"] for p in parts)
        m["engine.sql_executions"] = _mean(
            sum(1 for x in log.sql.values()
                if x.group in groups(d, {"engine.execute"}))
            for d in by_op.values())
        n = len(outcome.op_seconds)
        m["engine.result_rows"] = outcome.result_rows / n if n else 0.0
        m["sources.rows_read_per_result"] = (
            sum(st["input_records"] for st in per_op)
            / max(outcome.result_rows, 1))
    if ctx.workload == "batch":
        for kind in wl.BATCH_KINDS:
            m[f"{kind}.wall_s"] = span_s(f"{kind}.op")
            names = {f"{kind}.build", f"{kind}.exec"}
            m[f"{kind}.build_s"] = span_s(f"{kind}.build")
            m[f"{kind}.plan_s"] = _mean(split(d, names)["plan_s"]
                                        for d in by_op.values())
            m[f"{kind}.eager_jobs"] = _mean(
                jobs_in(d, f"{kind}.build") for d in by_op.values())
            stats = [tracing.spark_stats(log, groups(d, names))
                     for d in by_op.values()]
            for k in SPARK_UNITS:
                m[f"{kind}.{k}"] = _mean(st[k] for st in stats)
        m["near_dup.lsh_precision"] = lsh_precision
        m["near_dup.planted_recall"] = outcome.planted_recall
    units = dict(PER_LAYER)
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


def report(args, env, ctx, outcome, e2e, *, setup, peak_rss_mb) -> dict:
    """Everything a reader needs beside the metrics: the pinned settings,
    sizes, sample counts, error rate, and the workload's own figures under
    the names a user of that workload would look for."""
    import duckdb
    import pyspark
    op = outcome.op_seconds
    figures: dict[str, float] = {}
    if ctx.workload == "search":
        figures["query_p50_s"] = statistics.median(op)
        tail = tracing.tail_percentile(len(op))
        if tail is not None:
            figures[f"query_p{tail}_s"] = tracing.percentile(op, tail)
        figures["query_qps"] = len(op) / sum(op)
        figures["query_cpu_s"] = e2e["op_cpu_s"][0]
    else:
        figures["pass_s"] = statistics.median(op)
        for kind, xs in outcome.kind_seconds.items():
            figures[f"{kind}_s"] = statistics.median(xs)
        figures["near_dup_planted_recall"] = outcome.planted_recall
        postings, _ = oracle.expected_postings(ctx.corpus)
        figures["ingest_postings_per_s"] = \
            postings / figures["ingest_s"]
    figures["stored_bytes_per_input_byte"] = \
        e2e["stored_bytes_per_input_byte"][0]
    figures["peak_rss_mb"] = peak_rss_mb
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "sizes": {**wl.SIZES[args.workload],
                  "text_bytes": ctx.corpus.text_bytes()},
        "environment": {**env, "python": sys.version.split()[0],
                        "pyspark": pyspark.__version__,
                        "duckdb": duckdb.__version__},
        "samples": len(op),
        "op_seconds": [round(x, 4) for x in op],
        "setup": setup,
        "error_rate": outcome.failed / max(outcome.attempted, 1),
        "errors": outcome.errors,
        "figures": figures,
        "end_to_end": {k: {"value": v, "unit": u}
                       for k, (v, u) in e2e.items()},
    }
