#!/usr/bin/env python3
"""Benchmark for cantera_table_spark: the search and batch workloads.

Run from the repository root::

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

The run generates its corpus from ``--seed``, sets up (Spark session, corpus
load, index build, warm-up), runs one workload as a closed loop with one
client, checks every answer against an oracle outside the timed region, and
prints as its last line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--seconds`` sets the length of the timed loop as a fixed amount of work:
what takes that long at the commit that defined the benchmark (see
``workloads.NOMINAL_OP_S``).  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` enables spans and Spark's event log and reports the per-layer
metrics instead; its ``trace.overhead_s`` compares with the last untraced
run in the same checkout, and reads 0 unless that run had the same seed and
code.  The line before it is a JSON report with the pinned
environment, the sample counts, the error rate and the per-workload figures.
All files go under ``.perfbench_out/`` in the repository root.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
DEFAULT_SEED = 1          # the seed tuned on
HELDOUT_SEED = 7          # a seed not used while tuning
DRIVER_MEMORY = "2g"      # well below the RAM of a small host


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("search", "batch"))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED,
                    help=f"corpus seed (default {DEFAULT_SEED}; "
                    f"{HELDOUT_SEED} is the held-out seed)")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(out: str, trace: bool) -> dict:
    """Set the package's and Spark's launch-time settings from outside."""
    tmp = os.path.join(out, "tmp")
    local = os.path.join(out, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(out, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}"
                    for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return {"nproc": cpus, "SPARK_GRAFT_CPUS": cpus,
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.relpath(local, ROOT), **confs}


def host_cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine: the share of time the
    hypervisor gave its CPUs to someone else, which inflates wall times."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def source_digest() -> str:
    """sha256 of the package's and the benchmark's files, so a traced run
    compares its timings only with an untraced run of the same code."""
    h = hashlib.sha256()
    for top in ("cantera_table_spark", "perfbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, top, "**", "*"),
                                     recursive=True)):
            if os.path.isfile(path) and "__pycache__" not in path:
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def load_untraced(path: str, seed: int, digest: str) -> float | None:
    """The query/pass p50 of the last untraced run in this checkout, when
    it ran the same seed on the same code; otherwise None."""
    if not os.path.exists(path):
        why = "no untraced run of this workload in this checkout"
    else:
        with open(path) as f:
            untraced = json.load(f)
        if untraced.get("seed") != seed:
            why = f"the last untraced run used seed {untraced.get('seed')}"
        elif untraced.get("source_sha256") != digest:
            why = "the last untraced run ran other code"
        else:
            return untraced["op_p50_s"]
    print(f"{why}: trace.overhead_s and trace.untraced_op_p50_s read 0",
          file=sys.stderr)
    return None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()        # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cantera_table_spark")):
        print(f"cantera_table_spark not found under {ROOT}", file=sys.stderr)
        return 2
    out = os.path.join(OUT, args.workload)
    shutil.rmtree(out, ignore_errors=True)
    env = pin_environment(out, bool(args.trace))
    sys.path[:0] = [ROOT, HERE]

    import layers
    import workloads as wl
    import tracing
    from tracing import Tracer
    from cantera_table_spark import get_spark

    t0, cpu0 = time.perf_counter(), tracing.process_tree_cpu_s()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    session_cpu = tracing.process_tree_cpu_s() - cpu0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(enabled=bool(args.trace), sc=spark.sparkContext,
                    prefix=f"pb{args.seed}")
    ctx = wl.Context(spark, out, tracer, args.workload, args.seed)
    outcome = wl.Outcome()
    try:
        setups = [wl.setup_once(ctx) for _ in range(wl.SETUP_REPEATS)]
        t0, cpu0 = time.perf_counter(), tracing.process_tree_cpu_s()
        if args.workload in wl.WARMUPS:
            wl.WARMUPS[args.workload](ctx)
        warm_s = time.perf_counter() - t0
        warm_cpu = tracing.process_tree_cpu_s() - cpu0
        ctx.timed_from = ctx.op + 1
        host0 = host_cpu_jiffies()
        wl.RUNNERS[args.workload](
            ctx, wl.ops_for(args.workload, args.seconds), outcome)
        host1 = host_cpu_jiffies()
        env["host_steal_share"] = (host1[0] - host0[0]) / max(
            host1[1] - host0[1], 1)
        stored_bytes, stored_files = wl.index_bytes(ctx.index_dir)
        precision = (wl.lsh_precision(ctx)
                     if args.trace and args.workload == "batch" else 0.0)
        env["java"] = spark._jvm.java.lang.System.getProperty("java.version")
        peak_rss = jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    op = outcome.op_seconds
    # CPU seconds, like op_cpu_s: set-up wall time on a shared host moves
    # with the load of other guests far more than its CPU time does
    setup_cpu = (session_cpu + statistics.median(c for _, c in setups)
                 + warm_cpu)
    e2e = {
        "setup_s": (setup_cpu, "s"),
        "op_cpu_s": (outcome.cpu_s / len(op), "s"),
        "stored_bytes_per_input_byte":
            (stored_bytes / ctx.corpus.text_bytes(), "ratio"),
    }
    untraced_file = os.path.join(OUT, f"untraced_{args.workload}.json")
    digest = source_digest()
    if args.trace:
        untraced = load_untraced(untraced_file, args.seed, digest)
        tracer.write(os.path.join(out, "spans.jsonl"))
        (log_path,) = glob.glob(os.path.join(out, "eventlog", "*"))
        metrics = layers.per_layer(
            ctx, tracer.spans, log_path, outcome,
            session_s=session_s, untraced_op_p50_s=untraced,
            stored=(stored_bytes, stored_files), lsh_precision=precision,
            peak_rss_mb=peak_rss)
    else:
        with open(untraced_file, "w") as f:
            json.dump({"op_p50_s": statistics.median(op),
                       "seed": args.seed, "source_sha256": digest}, f)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    report = layers.report(
        args, env, ctx, outcome, e2e, peak_rss_mb=peak_rss,
        setup={"session_s": session_s, "session_cpu_s": session_cpu,
               "data_s": [w for w, _ in setups],
               "data_cpu_s": [c for _, c in setups],
               "warmup_s": warm_s, "warmup_cpu_s": warm_cpu})
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
