"""Interleaved same-JVM A/B of gate queries between two source trees.

Usage:

    python tools/ab_compare.py <old_tree> <new_tree> <gate1,gate2,...> \
        [repeats]

For each gate, runs ``repeats`` interleaved pairs (new, old, new, old,
...) of the gate's query with a noop-sink write, ALL inside one
SparkSession/JVM, and prints per-leg timings plus medians.  Between
legs the Spark cache is cleared and a driver-side GC nudged — the same
inter-phase hygiene bench.py applies — so neither leg inherits the
other's cached blocks.

Tree switching purges every ``cantera_table_spark`` module and swaps
``sys.path[0]``; the JVM, executor pool, and codegen cache persist
across legs, which is the point: the r12 host stalls hit whole wall-
clock windows, so only same-window interleaved medians separate a code
regression from a host artifact (BASELINE.md protocol).
"""

from __future__ import annotations

import json
import os
import sys
import time


def _median(xs):
    xs = sorted(xs)
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def _load_tree(tree: str):
    """(Re)import the package from ``tree``, purging prior imports."""
    for name in [n for n in sys.modules if n == "cantera_table_spark"
                 or n.startswith("cantera_table_spark.")]:
        del sys.modules[name]
    sys.path[0] = tree
    from cantera_table_spark import gate  # noqa: PLC0415
    return gate


def main() -> None:
    old_tree, new_tree = sys.argv[1], sys.argv[2]
    names = sys.argv[3].split(",")
    repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    sys.path.insert(0, new_tree)
    from cantera_table_spark.session import get_spark  # noqa: PLC0415
    spark = get_spark("ab-compare")
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict[str, list[float]]] = {}
    for name in names:
        legs: dict[str, list[float]] = {"new": [], "old": []}
        for rep in range(repeats):
            for label, tree in (("new", new_tree), ("old", old_tree)):
                gate = _load_tree(tree)
                spark.sparkContext.setJobDescription(
                    f"ab {name} {label} #{rep}")
                t0 = time.monotonic()
                gate.queries()[name](spark, sf_dir) \
                    .write.mode("overwrite").format("noop").save()
                legs[label].append(round(time.monotonic() - t0, 3))
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        results[name] = legs
        print(json.dumps({
            "gate": name,
            "new": legs["new"], "old": legs["old"],
            "median_new": round(_median(legs["new"]), 3),
            "median_old": round(_median(legs["old"]), 3),
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
