"""Capture ``.explain("formatted")`` for bench queries into plan files.

Usage: python tools/capture_plans.py <out_dir> <suffix> [name1,name2,...]

Writes ``<out_dir>/<gate>_<suffix>.txt`` for every bench query (or the
given subset) against the same parquet-backed catalog bench.py uses
(ingest derivations written to a temp dir first, so the plans show the
real scan-side pruning).  The optimization-round deliverable
(plans/r12/<query>_before|after.txt) is generated with this tool so
before/after captures can never drift methodologically.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from cantera_table_spark import gate  # noqa: E402
from cantera_table_spark.model import (  # noqa: E402
    Catalog, derive_documents, derive_label_postings, derive_postings,
)
from cantera_table_spark.plans.inspect import explain_str  # noqa: E402
from cantera_table_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    import bench
    names = list(bench.BENCH_QUERIES)
    if only:
        unknown = only - set(names)
        if unknown:
            raise SystemExit(f"unknown bench names: {sorted(unknown)}")
        names = [n for n in names if n in only]

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    work = "/tmp/cantera_capture_plans"
    shutil.rmtree(work, ignore_errors=True)
    n_buckets = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from cantera_table_spark.sources.ingest import write_postings
    postings = derive_postings(spark, sf_dir).unionByName(
        derive_label_postings(spark, sf_dir))
    write_postings(postings, f"{work}/postings", n_buckets=n_buckets)
    derive_documents(spark, sf_dir).write.mode("overwrite").parquet(
        f"{work}/documents")
    catalog = Catalog(
        summaries=[spark.read.parquet(f"{work}/documents")],
        indexes=[spark.read.parquet(f"{work}/postings")],
        postings_buckets=n_buckets,
    )
    gate.use_catalog(spark, sf_dir, catalog)

    qs = gate.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        text = explain_str(df, "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        spark.catalog.clearCache()
        print(f"wrote {path} ({len(text)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
