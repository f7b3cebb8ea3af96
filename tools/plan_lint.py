"""Plan linter: sweep every gate's PHYSICAL plan for the antipatterns
that kill a 100 TB run, regardless of whether the toy-SF result is
right — cartesian / broadcast-nested-loop joins, row-at-a-time Python
eval in engine paths, and single-partition exchanges (global sorts or
unpartitioned windows) outside bounded frames.

Complements tools/check_gate.py (value correctness) and the pinned
plan tests (tests/test_plan_shapes.py — deep assertions on ~30
representative plans): this sweeps ALL gates shallowly so a regression
in any un-pinned gate still trips a red line.

Whitelist entries are load-bearing documentation: every exception
names the gate and WHY its hit is bounded (driver-small frame, labeled
oracle baseline, statement-level LIMIT page).

Usage: python tools/plan_lint.py [sf_dir] [name_filter]
Exit 1 on any unexplained hit.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from cantera_table_spark import gate  # noqa: E402
from cantera_table_spark.plans.inspect import explain_str  # noqa: E402
from cantera_table_spark.session import cache_scope, get_spark  # noqa: E402

# gate -> (pattern -> reason the hit is bounded/intended)
_CENTROID_CROSS = ("centroid/codebook table broadcast against every "
                   "vector: k rows, driver-small by contract — the IVF "
                   "assignment/probe pattern")
_STATS_ROW_CROSS = ("broadcast ONE-ROW corpus aggregate (N/avgdl/"
                    "cutoffs) crossed onto every row — the lazy "
                    "scalar-stats pattern")
WHITELIST: dict[str, dict[str, str]] = {
    # brute-force exact ANN is the labeled oracle baseline; queries are
    # a bounded top-k list by contract and ride a BroadcastExchange
    "sim01_brute_topk": {
        "BroadcastNestedLoopJoin": "exact-scoring baseline: every "
        "(query, vector) pair is the operator's defined output",
    },
    "dd05_embedding_neardup": {
        "BroadcastNestedLoopJoin": "labeled ORACLE BASELINE for the "
        "LSH path (exact pairwise cosine) — quadratic on purpose",
    },
    "dd15_semantic_dedup": {
        "BroadcastNestedLoopJoin": _CENTROID_CROSS,
    },
    "sim02_ivf_topk": {"BroadcastNestedLoopJoin": _CENTROID_CROSS},
    "sim04_ivf_assign": {"BroadcastNestedLoopJoin": _CENTROID_CROSS},
    "sim06_ivf_partitioned": {"BroadcastNestedLoopJoin": _CENTROID_CROSS},
    "sim07_quantized_topk": {"BroadcastNestedLoopJoin": _STATS_ROW_CROSS},
    "sim08_quantized_ivf": {"BroadcastNestedLoopJoin": _CENTROID_CROSS},
    "sim10_ivfpq_topk": {"BroadcastNestedLoopJoin": _CENTROID_CROSS},
    "tx05_tfidf": {"BroadcastNestedLoopJoin": _STATS_ROW_CROSS},
    "tx10_lm_score": {"BroadcastNestedLoopJoin": _STATS_ROW_CROSS},
    "tx15_ppl_buckets": {"BroadcastNestedLoopJoin": _STATS_ROW_CROSS},
    "ir01_bm25": {"BroadcastNestedLoopJoin": _STATS_ROW_CROSS},
    "ir02_rrf_hybrid": {
        "BroadcastNestedLoopJoin": _STATS_ROW_CROSS,
        "SinglePartition": "candidate-list ranks + the fused ranking, "
        "every one fed by a bounded page: kw cut to KW_CANDIDATES=1000 "
        "via top_k/TakeOrderedAndProject BEFORE its rank window "
        "(pinned in test_plan_shapes.test_hybrid_kw_list_is_bounded), "
        "vec bounded by ANN k=100, fuse by their union (<=1100 rows)",
    },
    "ir03_bm25_hybrid": {
        "BroadcastNestedLoopJoin": _STATS_ROW_CROSS,
        "SinglePartition": "same bounded candidate-list ranking as ir02 "
        "(kw top-1000 page, vec k=100, fused union <=1100)",
    },
    "ds04_shuffle_shards": {
        "SinglePartition": "two-phase global rank: the single-partition "
        "cumsum runs over PER-GROUP-PARTITION COUNTS (one row per "
        "group-partition id), never the corpus rows",
    },
    "tx07_corpus_stats": {
        "SinglePartition": "same bounded per-group-partition-count "
        "cumsum as ds04 (shared global-rank machinery)",
    },
}

# Always-allowed single-partition CONSUMERS: statement-level LIMIT
# pages (the reference's result pages are bounded by limit) and scalar
# one-row aggregates.  The exemption is scoped per exchange — the
# operator directly consuming the `Exchange SinglePartition` must
# itself be bounded — so a limit page elsewhere in the same plan no
# longer hides an unrelated unpartitioned window/sort regression.
_SP_BOUNDED_CONSUMER = re.compile(
    r"TakeOrderedAndProject|CollectLimit|GlobalLimit"
    r"|(?:Hash|Sort|ObjectHash)Aggregate\(keys=\[\]")

PATTERNS = {
    "CartesianProduct": re.compile(r"CartesianProduct"),
    "BroadcastNestedLoopJoin": re.compile(r"BroadcastNestedLoopJoin"),
    "RowPythonUDF": re.compile(r"BatchEvalPython"),
    "SinglePartition": re.compile(r"Exchange SinglePartition"),
}

# --- per-PAIR fold recompute budget (the r10 sim01 defect class) ---
#
# A filter on an expensive COMPUTED column (the per-pair cosine, an
# O(d) `aggregate(zip_with(...))` fold over BOTH join sides)
# re-inlines the whole fold into the predicates: Catalyst substitutes
# the alias's defining expression into every predicate that references
# it, the plan gains no new exchange or operator kind, and only bench
# medians noticed the 1.7x (sim01, BASELINE.md r10).  Counting the
# `aggregate(zip_with(` occurrences catches the substitution
# structurally: the reverted sim01 form prints the pair fold 3x (once
# per predicate + projection) instead of once in the projection.
# Per-SIDE folds (the _rankable norm prefilters — one fold per input
# ROW, the fix's whole point) use aggregate(transform(...)) and are
# deliberately NOT counted.
#
# Budgets are the measured counts at the audited HEAD — load-bearing
# documentation like WHITELIST: a gate exceeding its budget means a
# pair fold got duplicated into a predicate (or a legitimate new fold
# was added, in which case re-measure and raise the budget
# CONSCIOUSLY, noting why).  Multi-fold entries are real distinct
# computations: sim03/sim05 compute one signed projection per
# hyperplane; ivf variants fold once per stage (assign, probe, rank).
_FOLD = re.compile(r"aggregate\(zip_with\(")
_FOLD_BUDGET_DEFAULT = 2
FOLD_BUDGET = {
    "dd15_semantic_dedup": 7,
    "ir02_rrf_hybrid": 1,
    "ir03_bm25_hybrid": 1,
    "sim01_brute_topk": 1,
    "sim02_ivf_topk": 3,
    "sim03_lsh_neardup": 34,
    "sim04_ivf_assign": 1,
    "sim05_hyperplane_sig": 16,
    "sim06_ivf_partitioned": 3,
    "sim07_quantized_topk": 1,
    "sim08_quantized_ivf": 3,
    "sim09_pq_topk": 2,
    "sim10_ivfpq_topk": 4,
    "sim11_pq_trained": 4,
}


def fold_count(text: str) -> int:
    """Number of per-pair lambda-fold computations printed in a plan."""
    return len(_FOLD.findall(text))


def _tree_indent(line: str) -> int:
    """Depth of a plan line = width of its `:  +- ` tree art prefix."""
    return len(re.match(r"^[ :+-]*", line).group(0))


def direct_consumer(lines: list[str], i: int) -> str | None:
    """The plan node that consumes line ``i``'s output: the nearest
    line above with smaller tree indent (None for the plan root).
    Shared with the plan-shape tests so the tree-art parsing lives in
    exactly one place."""
    ind = _tree_indent(lines[i])
    for j in range(i - 1, -1, -1):
        if lines[j].strip() and _tree_indent(lines[j]) < ind:
            return lines[j]
    return None


def _unbounded_single_partitions(text: str) -> int:
    """Count `Exchange SinglePartition` nodes whose direct consumer
    (nearest line above with smaller tree indent) is NOT a bounded
    producer (limit page / scalar aggregate)."""
    lines = text.splitlines()
    bad = 0
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        consumer = direct_consumer(lines, i)
        if consumer is None or not _SP_BOUNDED_CONSUMER.search(consumer):
            bad += 1
    return bad


def lint_one(name: str, df) -> list[str]:
    text = explain_str(df, "simple")
    hits = []
    wl = WHITELIST.get(name, {})
    for label, pat in PATTERNS.items():
        if not pat.search(text):
            continue
        if label in wl:
            continue
        if (label == "SinglePartition"
                and _unbounded_single_partitions(text) == 0):
            continue
        hits.append(label)
    n_folds = fold_count(text)
    budget = FOLD_BUDGET.get(name, _FOLD_BUDGET_DEFAULT)
    if n_folds > budget:
        hits.append(f"FoldRecompute({n_folds}>{budget})")
    return hits


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""
    spark = get_spark("plan-lint")
    spark.sparkContext.setLogLevel("ERROR")
    qs = gate.queries()
    n_bad = n_ok = 0
    for name in sorted(qs):
        if name_filter and name_filter not in name:
            continue
        try:
            with cache_scope():
                hits = lint_one(name, qs[name](spark, sf_dir))
        except Exception as e:  # plan build failed entirely
            print(f"LINT-ERR {name}: {e}")
            n_bad += 1
            continue
        if hits:
            print(f"LINT {name}: {', '.join(hits)}")
            n_bad += 1
        else:
            n_ok += 1
    print(f"\n{n_ok} clean, {n_bad} flagged")
    spark.stop()
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
