"""Driver-mimic correctness checker: runs every queries() entry on Spark
and its oracle_sql() on DuckDB at a given sf dir, compares row-count,
column names (sorted), and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if v is None:
        return ""
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from warchaeology_spark.session import get_spark

    spark = get_spark("oracle-check", master="local[16]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL {name}: duckdb error {str(e)[:200]}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append((name, f"COLS spark={sorted(scols)} duck={sorted(dcols)}"))
            print(f"FAIL {name}: column mismatch {sorted(scols)} vs {sorted(dcols)}")
            continue
        if len(srows) != len(drows):
            failures.append((name, f"ROWS spark={len(srows)} duck={len(drows)}"))
            print(f"FAIL {name}: row count {len(srows)} vs {len(drows)}")
            continue
        a = norm_rows(scols, [tuple(r) for r in srows])
        b = norm_rows(dcols, drows)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            failures.append((name, f"VALUES {diff}"))
            print(f"FAIL {name}: value mismatch, first diffs {diff}")
            continue
        print(f"OK   {name}: {len(srows)} rows")

    print(f"\n{len(failures)} failures")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
