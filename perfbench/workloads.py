"""The two workloads: set-up, the timed closed loop, and the checks.

Each workload drives the package only through its public functions:
``dsl.parser.parse_script``, ``Engine``, ``Catalog``, ``model.derive_*``,
``sources.ingest.write_postings`` and ``functions.dedup``.  One client
sends the next operation only after the previous one returned.

- ``search``: a stream of QUERY statements over the index built in set-up.
- ``batch``: a pass of long statements on one engine, the index build
  (the ingest path) among them.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import gen
import oracle
import tracing

# Batch statements run many jobs each, so their corpus is smaller.
SIZES = {
    "search": {"n_docs": 10_000, "vocab": 10_000},
    "batch": {"n_docs": 4_000, "vocab": 8_000},
}
SETUP_REPEATS = 3          # set-ups per run; setup_s takes the median
# Query-kind cycles run before timing.  The JVM is still compiling hot
# code through the first cycles after set-up (process CPU per cycle falls
# by half over the first six), so fewer make op_cpu_s a figure of JIT
# progress and host load rather than of the queries.
WARMUP_CYCLES = 4
WARMUP_STREAM, TIMED_STREAM = 0, 1
BATCH_KINDS = ("ingest", "correlate", "select", "export", "near_dup",
               "incremental_dedup")

# Seconds one operation takes at the commit that defined the benchmark, on
# a 4-core host: a cycle of the seven query kinds, a pass of the batch
# statements.  A run does a fixed amount of work, ``--seconds`` worth at
# that speed, so a faster commit does not get a longer, better warmed run
# than its parent.
NOMINAL_OP_S = {"search": 2.5, "batch": 22.0}


def ops_for(workload: str, seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_OP_S[workload]))


@dataclass
class Outcome:
    """What a workload's timed loop produced."""
    op_seconds: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    kind_seconds: dict[str, list[float]] = field(default_factory=dict)
    result_rows: int = 0
    cpu_s: float = 0.0               # process-tree CPU of the timed loop
    planted_recall: float = 0.0      # planted near-dup pairs clustered

    def check(self, why: str | None) -> None:
        self.attempted += 1
        if why:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(why[:300])


class Context:
    """State shared by set-up, the loop and the checks of one run."""

    def __init__(self, spark, out: str, tracer, workload: str, seed: int):
        self.spark = spark
        self.out = out
        self.tracer = tracer
        self.workload = workload
        self.seed = seed
        self.data_dir = os.path.join(out, "data")
        self.index_dir = os.path.join(out, "index")
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.corpus: gen.Corpus | None = None
        self.engine = None
        self.op = 0               # operation id for spans
        self.timed_from = 0       # first op id of the timed loop

    def next_op(self) -> int:
        self.op += 1
        return self.op


# ---------------------------------------------------------------------------
# set-up, and the ingest path it shares with the batch workload
# ---------------------------------------------------------------------------

def postings_df(ctx: Context):
    from cantera_table_spark.model import (
        derive_label_postings, derive_postings)
    return derive_postings(ctx.spark, ctx.data_dir).unionByName(
        derive_label_postings(ctx.spark, ctx.data_dir))


def write_index(ctx: Context, postings, dest: str) -> None:
    """Postings and documents tables, as ``ca-load`` would build them."""
    from cantera_table_spark.model import derive_documents
    from cantera_table_spark.sources.ingest import write_postings
    write_postings(postings, os.path.join(dest, "postings"),
                   n_buckets=ctx.cpus)
    derive_documents(ctx.spark, ctx.data_dir).write.mode(
        "overwrite").parquet(os.path.join(dest, "documents"))


def open_engine(ctx: Context):
    from cantera_table_spark import Catalog, Engine
    read = ctx.spark.read.parquet
    catalog = Catalog(
        summaries=[read(os.path.join(ctx.index_dir, "documents"))],
        indexes=[read(os.path.join(ctx.index_dir, "postings"))],
        postings_buckets=ctx.cpus)
    return Engine(catalog, unique_postings=True)


def setup_once(ctx: Context) -> tuple[float, float]:
    """Generate and load the corpus, build the index, open the engine;
    returns (wall, process-tree CPU) seconds."""
    size = SIZES[ctx.workload]
    t0, cpu0 = time.perf_counter(), tracing.process_tree_cpu_s()
    for d in (ctx.data_dir, ctx.index_dir):
        shutil.rmtree(d, ignore_errors=True)
    ctx.corpus = gen.generate(ctx.seed, size["n_docs"], size["vocab"])
    gen.write_documents(ctx.corpus, ctx.data_dir)
    write_index(ctx, postings_df(ctx), ctx.index_dir)
    ctx.engine = open_engine(ctx)
    return (time.perf_counter() - t0, tracing.process_tree_cpu_s() - cpu0)


def index_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the Parquet written under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------

def search_op(ctx: Context, q: gen.Query):
    """One QUERY statement; returns the engine's reply."""
    from cantera_table_spark.dsl.parser import parse_script
    op, tr = ctx.next_op(), ctx.tracer
    with tr.span("search.op", op):
        with tr.span("dsl.parse", op):
            stmt = parse_script(q.dsl())[0]
        # building, planning and running the statement happen in this one
        # call; the event log splits its time (layers.per_layer)
        with tr.span("engine.execute", op, jobs=True):
            return ctx.engine.execute(stmt)


def warm_search(ctx: Context) -> None:
    """Query-kind cycles from a separate stream, before timing."""
    for q in gen.query_stream(WARMUP_STREAM, ctx.corpus.vocab,
                              WARMUP_CYCLES * len(gen.QUERY_KINDS)):
        search_op(ctx, q)


def run_search(ctx: Context, n_ops: int, out: Outcome) -> None:
    """``n_ops`` whole cycles of the query kinds, so every run weighs the
    kinds alike; the replies are checked after the loop."""
    replies = []
    cpu0 = tracing.process_tree_cpu_s()
    for q in gen.query_stream(TIMED_STREAM, ctx.corpus.vocab,
                              n_ops * len(gen.QUERY_KINDS)):
        t0 = time.perf_counter()
        try:
            reply = search_op(ctx, q)
        except Exception as e:  # a failed query is counted, not fatal
            reply = e
        out.op_seconds.append(time.perf_counter() - t0)
        replies.append((q, reply))
    out.cpu_s = tracing.process_tree_cpu_s() - cpu0
    check = oracle.SearchOracle(ctx.data_dir)
    try:
        for q, reply in replies:
            if isinstance(reply, Exception):
                out.check(f"{q.dsl()}: {reply!r}")
                continue
            if isinstance(reply, dict):
                out.result_rows += reply.get("result-count", 0)
            why = oracle.check_query(check, q, reply)
            out.check(why and f"{q.dsl()}: {why}")
    finally:
        check.close()


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------

def batch_statements(ctx: Context) -> dict:
    """kind -> (build, action, check) over this run's corpus.

    ``build`` returns the DataFrame (running whatever jobs the package runs
    while constructing it), ``action`` materializes it fully and returns
    what ``check`` compares with the oracle."""
    from pyspark.sql import functions as F
    from cantera_table_spark.dsl.parser import parse_script
    from cantera_table_spark.functions import dedup
    c, eng, spark = ctx.corpus, ctx.engine, ctx.spark
    v = c.vocab
    docs = spark.read.parquet(
        os.path.join(ctx.data_dir, "documents.parquet")).select(
        "doc_id", "text")
    # the rebuild goes beside the index the engine reads, not over it
    rebuild_dir = os.path.join(ctx.out, "rebuild")
    n_postings, lists = oracle.expected_postings(c)
    sel_q = gen.Query([v[1], v[2]], ["OR"])
    sel_fields = [v[0], v[5], "lang:en", "len:chars"]
    exp_q = gen.Query([v[0], v[3]], ["OR"])
    export_dir = os.path.join(ctx.out, "export")
    held = docs.filter(F.col("doc_id") >= c.batch_start)
    rest = docs.filter(F.col("doc_id") < c.batch_start)
    clusters = oracle.expected_clusters(c)
    admitted = oracle.expected_admitted(c)

    def rows(df):
        return [r.asDict() for r in df.collect()]

    def pairs(df):
        return {r[0]: r[1] for r in df.collect()}

    return {
        "ingest": (
            lambda: postings_df(ctx),
            lambda df: write_index(ctx, df, rebuild_dir),
            lambda got, o: oracle.check_index(rebuild_dir, c, n_postings,
                                              lists)),
        "correlate": (
            lambda: eng.execute_script(
                "CORRELATE QUERY (lang:en), (lang:es);")[0],
            rows,
            lambda got, o: oracle.check_correlate(got, c)),
        "select": (
            lambda: eng.execute_script(
                f"SELECT {', '.join(sel_fields)} FROM ({sel_q.expr()});"
            )[0],
            rows,
            lambda got, o: oracle.check_select(got, o, sel_q, sel_fields)),
        "export": (
            lambda: eng.export_results(
                parse_script(exp_q.dsl())[0].query).select("result_json"),
            lambda df: df.write.mode("overwrite").text(export_dir),
            lambda got, o: oracle.check_export(export_dir, o, exp_q)),
        "near_dup": (
            lambda: dedup.near_dup_clusters(docs),
            pairs,
            lambda got, o: None if got == clusters else
            f"{sum(got.get(k) != x for k, x in clusters.items())} docs "
            f"in another cluster than the LSH oracle's"),
        "incremental_dedup": (
            lambda: dedup.incremental_dedup(held, rest),
            pairs,
            lambda got, o: None if got == admitted else
            f"admitted {len(got)} != {len(admitted)}"),
    }


def batch_statement(ctx: Context, op: int, kind: str, stmt,
                    results: list, out: Outcome) -> float:
    """Run one statement; returns its wall seconds."""
    tr = ctx.tracer
    build, action, _ = stmt
    t0 = time.perf_counter()
    try:
        with tr.span(f"{kind}.op", op):
            with tr.span(f"{kind}.build", op, jobs=True):
                df = build()
            with tr.span(f"{kind}.exec", op, jobs=True):
                got = action(df)
    except Exception as e:  # a failed statement is counted, not fatal
        got = e
    dt = time.perf_counter() - t0
    out.kind_seconds.setdefault(kind, []).append(dt)
    results.append((kind, got))
    # release what the statement persisted (outside the timing)
    ctx.engine.release_caches()
    ctx.spark.catalog.clearCache()
    return dt


def batch_pass(ctx: Context, stmts: dict, check, out: Outcome) -> None:
    """One pass of the statements, timed, then checked."""
    op, results = ctx.next_op(), []
    cpu0 = tracing.process_tree_cpu_s()
    with ctx.tracer.span("batch.op", op):
        out.op_seconds.append(sum(
            batch_statement(ctx, op, kind, stmts[kind], results, out)
            for kind in BATCH_KINDS))
    out.cpu_s += tracing.process_tree_cpu_s() - cpu0
    for kind, got in results:
        if isinstance(got, Exception):
            out.check(f"{kind}: {got!r}")
            continue
        why = stmts[kind][2](got, check)
        out.check(why and f"{kind}: {why}")
        if kind == "near_dup":
            out.planted_recall = oracle.planted_recall(got, ctx.corpus)


def run_batch(ctx: Context, n_ops: int, out: Outcome) -> None:
    """``n_ops`` passes.  The first runs on a JVM that has not run these
    statements before, as a batch statement usually does."""
    stmts = batch_statements(ctx)
    check = oracle.SearchOracle(ctx.data_dir)
    try:
        for _ in range(n_ops):
            batch_pass(ctx, stmts, check, out)
    finally:
        check.close()


def lsh_precision(ctx: Context) -> float:
    """Verified pairs over LSH candidate pairs, from the same public
    functions ``near_dup_clusters`` composes, at its default settings."""
    from cantera_table_spark.functions import dedup
    docs = ctx.spark.read.parquet(
        os.path.join(ctx.data_dir, "documents.parquet")).select(
        "doc_id", "text")
    arrs = dedup.shingle_arrays(docs)
    cands = dedup.lsh_candidate_pairs_arrays(arrs)
    n_cands = cands.count()
    verified = dedup.jaccard_pairs(dedup.exploded_shingles(arrs),
                                   min_jaccard=oracle.CLUSTER_MIN_JACCARD,
                                   candidates=cands).count()
    return verified / n_cands if n_cands else 1.0


RUNNERS = {"search": run_search, "batch": run_batch}
WARMUPS = {"search": warm_search}
