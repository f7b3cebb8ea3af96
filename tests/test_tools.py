"""Smoke tests for the dev tooling that the round workflow depends on
(the rotation planner feeds gate.py's _DRIVER_ORDER each round)."""

import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_rotate_window_proposal_invariants():
    rw = _load("rotate_window")
    from cantera_table_spark import gate
    order, stats = rw.propose(window=50, n_sentinels=12)
    registry = set(gate._QUERIES)
    # a full permutation of the registry, no inventions or duplicates
    assert len(order) == len(registry)
    assert set(order) == registry
    assert stats["registry"] == len(registry)
    head = set(order[:50])
    hist = rw.load_history(os.path.join(ROOT))
    never = registry - set(hist)
    # never-checked gates fill the window first; when debt exceeds the
    # non-sentinel capacity the overflow legitimately waits a round
    assert len(never & head) >= min(len(never), 50 - 12)
    # red-at-last-check gates are next in priority under the same cap
    red = {n for n, rs in hist.items()
           if n in registry and rs and not rs[max(rs)]}
    assert len((never | red) & head) >= min(len(never | red), 50 - 12)
    # every chosen sentinel sits inside the window (the reservation
    # the planner promises, regression-prone against truncation)
    assert set(stats["sentinels"]) <= head, \
        set(stats["sentinels"]) - head


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cache_scope_frees_every_persisting_call(spark):
    """Every library call that persists a frame outliving it records
    that frame with the open cache scope, and the scope frees them all
    on exit, exit by exception included; an Engine used outside any
    scope frees its statements' frames with release_caches()."""
    from cantera_table_spark.engine import Engine
    from cantera_table_spark.functions.dedup import duplicate_clusters
    from cantera_table_spark.functions.ml import logreg_train_score
    from cantera_table_spark.functions.similarity import semantic_dedup
    from cantera_table_spark.functions.text import ppl_buckets
    from cantera_table_spark.model import Catalog
    from cantera_table_spark.operators.correlate import correlate_sets
    from cantera_table_spark.session import cache_scope, persist

    postings = spark.createDataFrame(
        [("f", d, 0.0) for d in range(8)] +
        [("g", d, float(d % 4)) for d in range(16)] +
        [("a", d, 0.0) for d in range(10)] +
        [("b", d, 0.0) for d in range(10, 16)],
        "keyword string, doc_id long, score double")
    cat = Catalog(summaries=[spark.createDataFrame(
        [(d, f"d{d}", "{}") for d in range(16)],
        "doc_id long, key string, doc string")], indexes=[postings])
    sets = postings.select("doc_id", "score")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "doc_a long, doc_b long")
    emb = spark.createDataFrame(
        [(i, [1.0, float(i % 3), 0.5, float(i % 2)]) for i in range(12)],
        "vec_id long, embedding array<double>")
    texts = spark.createDataFrame(
        [(i, "the cat sat on the mat " * (1 + i % 3)) for i in range(9)],
        "doc_id long, text string")
    feats = spark.createDataFrame(
        [(float(i % 5), i % 2) for i in range(20)], "x double, y int")

    spark.catalog.clearCache()
    with cache_scope() as frames:
        correlate_sets(postings, sets.filter("doc_id < 8"),
                       sets.filter("doc_id >= 8")).collect()
        Engine(cat).execute_script(
            "CORRELATE QUERY (a), (b);")[0].collect()
        duplicate_clusters(sets.select("doc_id"), pairs,
                           small_graph_edges=0).collect()
        semantic_dedup(emb, threshold=0.9, n_clusters=2).collect()
        ppl_buckets(texts).collect()
        logreg_train_score(feats, ["x"], "y", steps=2)[0].collect()
        assert not _cache_empty(spark)
    # correlate_sets 4 + Engine CORRELATE 4 + labels + assignment +
    # score table + trainable subset
    assert len(frames) == 12, len(frames)
    assert _cache_empty(spark)

    with pytest.raises(RuntimeError), cache_scope():
        persist(spark.range(5)).count()
        raise RuntimeError("boom")
    assert _cache_empty(spark)

    eng = Engine(cat)
    eng.execute_script("CORRELATE QUERY (a), (b);")[0].collect()
    assert not _cache_empty(spark)
    eng.release_caches()
    assert _cache_empty(spark)


def test_corr02_scope_frees_its_frames(spark):
    """corr02 calls correlate_sets itself, so its histogram, kind and
    split frames (and the gate's own ts-postings aggregate) must all
    be freed when the gate runs inside a cache scope."""
    from cantera_table_spark import gate
    from cantera_table_spark.session import cache_scope
    from tests.conftest import SF_SMOKE

    spark.catalog.clearCache()
    with cache_scope() as frames:
        gate.queries()["corr02_event_prediction"](spark, SF_SMOKE) \
            .collect()
        assert not _cache_empty(spark)
    assert len(frames) >= 4, len(frames)
    assert _cache_empty(spark)


@pytest.mark.slow
def test_jpeg_matmul_dct_byte_identity():
    """The DCT's byte-identity with the einsum form depends on the BLAS
    build numpy links, so the proof runs on every platform the suite
    runs on."""
    _load("verify_jpeg_matmul").main()


def test_native_state_store_conflict_raises(spark):
    """r9 review finding: an EXPLICIT different provider already on the
    session must raise a conflict, not be silently replaced — the conf
    is session-global and a checkpointed query cannot change provider
    between restarts."""
    import pytest

    from cantera_table_spark.streaming.sessionize import (
        _STATE_STORE_KEY, ensure_state_store_provider)
    prev = spark.conf.get(_STATE_STORE_KEY, None)
    try:
        spark.conf.set(_STATE_STORE_KEY, "com.example.OtherProvider")
        with pytest.raises(RuntimeError, match="already set"):
            ensure_state_store_provider(spark)
        # matching value: no-op, no raise
        from cantera_table_spark.streaming.sessionize import (
            ROCKSDB_STATE_STORE_PROVIDER)
        spark.conf.set(_STATE_STORE_KEY, ROCKSDB_STATE_STORE_PROVIDER)
        ensure_state_store_provider(spark)
    finally:
        if prev:
            spark.conf.set(_STATE_STORE_KEY, prev)
        else:
            try:
                spark.conf.unset(_STATE_STORE_KEY)
            except Exception:
                pass


def test_plan_lint_fold_recompute_detector(spark):
    """r10 verdict item 4: the sim01 defect class — a filter on the
    computed pair cosine re-inlines the whole O(d) fold into the join
    condition (Catalyst substitutes the alias's defining expression
    into every predicate; no new exchange, no new operator kind, so
    only bench medians noticed the 1.7x) — must now trip plan_lint
    structurally.  The shipped per-side _rankable form stays within
    the measured budget; the reverted form exceeds it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cantera_table_spark.functions.similarity import (brute_force_topk,
                                                          cosine)
    pl = _load("plan_lint")

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (i + 3)).cast("float")
                  for i in range(4)]).alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 2)

    good = brute_force_topk(emb, queries, k=5)
    n_good = pl.fold_count(pl.explain_str(good, "simple"))
    assert 0 < n_good <= pl.FOLD_BUDGET["sim01_brute_topk"], n_good
    # per-SIDE folds (_rankable norms) are exempt by design: the good
    # plan still prints them, only the PAIR fold is budgeted
    assert not [h for h in pl.lint_one("sim01_brute_topk", good)
                if h.startswith("FoldRecompute")]

    # the reverted (defect) form: no per-side prefilters, validity
    # decided by filtering the COMPUTED cosine column
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("cv"))
    scored = (c.join(F.broadcast(q),
                     F.col("query_id") != F.col("neighbor_id"))
              .withColumn("cos", F.round(cosine(F.col("qv"),
                                                F.col("cv")), 6))
              .filter(F.col("cos").isNotNull() & ~F.isnan("cos")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    bad = (scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= 5)
           .select("query_id", "neighbor_id", "cos", "rank"))
    n_bad = pl.fold_count(pl.explain_str(bad, "simple"))
    assert n_bad > pl.FOLD_BUDGET["sim01_brute_topk"], (n_bad, n_good)
    assert [h for h in pl.lint_one("sim01_brute_topk", bad)
            if h.startswith("FoldRecompute")]


def test_oracle_shared_fragments_in_lockstep():
    """r11 gate-registry review: the CORRELATE mining tail and the IVF
    probe replay now live in shared constants (byte-identity enforced
    here); the PQ ADC chain intentionally remains three contextual
    copies (their common suffix is only ~230 bytes — no clean
    boundary), so this test pins the INVARIANTS a drift would break:
    every copy carries the same deterministic `ORDER BY d, code`
    codebook tie-break and the same shared ADC-rank suffix."""
    from cantera_table_spark import gate

    o = gate.oracle_sql()
    assert gate.ORACLE_CORRELATE_TAIL in o["corr01_feature_mining"]
    assert gate.ORACLE_CORRELATE_TAIL in o["corr02_event_prediction"]
    assert gate.ORACLE_IVF_PROBE_TAIL in o["sim02_ivf_topk"]
    assert gate.ORACLE_IVF_PROBE_TAIL in o["sim08_quantized_ivf"]

    pq = [o[k] for k in ("sim09_pq_topk", "sim10_ivfpq_topk",
                         "sim11_pq_trained")]
    assert all("ORDER BY d, code" in s for s in pq)

    def common_suffix(a, b):
        i = 0
        while i < min(len(a), len(b)) and a[-1 - i] == b[-1 - i]:
            i += 1
        return i

    n = min(common_suffix(pq[0], pq[1]), common_suffix(pq[0], pq[2]))
    # the shared ADC-rank suffix (GROUP BY + final approx_d2 select)
    assert n >= 200 and "approx_d2" in pq[0][-n:], (n, pq[0][-50:])
