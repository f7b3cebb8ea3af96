"""Local stand-in for the driver's correctness check: run every gate
query on Spark AND its DuckDB oracle at a given SF, compare row count,
column names, and (order-insensitively) values.

Usage: python tools/check_gate.py [sf_dir] [name_filter]

name_filter is a substring, or the literal ``@window`` to sweep exactly
the gates in ``gate._DRIVER_ORDER`` (the driver's 50-slot round window)
in window order — the pre-commit proof that a freshly-rotated window is
green at HEAD.
"""

from __future__ import annotations

import math
import sys
from decimal import Decimal

import duckdb
import pyarrow.types as pat

sys.path.insert(0, ".")

from cantera_table_spark import gate  # noqa: E402
from cantera_table_spark.session import cache_scope, get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return 0.0          # canonicalize -0.0 (repr-keyed sort)
        return round(v, 6)
    return v


def arrow_kind(t) -> str:
    """Collapse an Arrow type to the kind class a typed value-hash
    distinguishes.  The driver materializes the DuckDB oracle through
    Arrow/pandas, where an uncast sum(BIGINT) is HUGEINT ->
    decimal128/float64 while Spark emits int64 — values identical, hash
    red.  Comparing kinds catches that class at build time."""
    if pat.is_integer(t):
        return "int"
    if pat.is_floating(t):
        return "float"
    if pat.is_decimal(t):
        return "decimal"
    if pat.is_boolean(t):
        return "bool"
    if pat.is_string(t) or pat.is_large_string(t):
        return "str"
    if pat.is_date(t):
        return "date"
    if pat.is_timestamp(t):
        return "timestamp"
    if pat.is_list(t) or pat.is_large_list(t):
        return "array"
    if pat.is_binary(t) or pat.is_large_binary(t):
        return "binary"
    return "other"


def spark_kind(dt: str) -> str:
    dt = dt.lower()
    if dt in ("tinyint", "smallint", "int", "bigint", "long"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt.startswith("decimal"):
        return "decimal"
    if dt == "boolean":
        return "bool"
    if dt == "string":
        return "str"
    if dt == "date":
        return "date"
    if dt.startswith("timestamp"):
        return "timestamp"
    if dt.startswith("array"):
        return "array"
    if dt == "binary":
        return "binary"
    return "other"


def rows_key(df_rows, cols):
    out = []
    for r in df_rows:
        d = dict(zip(cols, r))
        out.append(tuple(norm(d[c]) for c in sorted(cols)))
    # None/NaN-safe deterministic order: rows may carry NULL group keys
    # (a legitimate value the edge fixture exercises); raw tuple sorting
    # would raise on None < str.  Values compare by (is-None, repr) —
    # deterministic on both engines after norm's rounding.
    return sorted(out, key=lambda row: tuple((v is None, repr(v))
                                             for v in row))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""

    spark = get_spark("gate-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = gate.queries()
    oracles = gate.oracle_sql()
    if name_filter == "@window":
        names = list(gate._DRIVER_ORDER)
    else:
        names = [n for n in sorted(qs)
                 if not name_filter or name_filter in n]
    n_pass = n_fail = 0
    for name in names:
        try:
            # gate._engine's shared postings cache survives the scope
            with cache_scope():
                sdf = qs[name](spark, sf_dir)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"  ok {name}: rows-only ({len(srows)} rows)")
            n_pass += 1
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            otbl = cur.fetch_arrow_table()
            orows = [tuple(rec[c] for c in ocols) for rec in otbl.to_pylist()]
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(ocols)}")
            n_fail += 1
            continue
        skinds = {c: spark_kind(dt) for c, dt in sdf.dtypes}
        okinds = {f.name: arrow_kind(f.type) for f in otbl.schema}
        kind_diffs = {c: (skinds[c], okinds[c]) for c in scols
                      if skinds[c] != okinds[c]}
        if kind_diffs:
            print(f"FAIL {name}: dtype kinds differ (spark, oracle): "
                  f"{kind_diffs}")
            n_fail += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount {len(srows)} != {len(orows)}")
            n_fail += 1
            continue
        sk, ok = rows_key(srows, scols), rows_key(orows, ocols)
        if sk != ok:
            diffs = [(a, b) for a, b in zip(sk, ok) if a != b][:3]
            print(f"FAIL {name}: values differ, e.g. {diffs}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(srows)} rows)")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
