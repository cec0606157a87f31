"""Self-check harness mimicking the driver's CORRECTNESS gate:
runs every __spark_entry__.queries() entry on Spark and the matching
oracle_sql() on DuckDB at sf0.01, compares row count, column names and
order-insensitive values.

Usage: python scripts_local/check_entry.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

# the checkout this script lives in
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from credigraph_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("entry-check", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        ok_vals = False
        if ok_cols and ok_count:
            ok_vals = canon(srows, scols) == canon(drows, dcols)
        status = "OK   " if (ok_cols and ok_count and ok_vals) else "FAIL "
        if status.startswith("FAIL"):
            failures.append(name)
        print(f"{status} {name}: spark={len(srows)} duck={len(drows)} "
              f"cols={'OK' if ok_cols else f'{scols} vs {dcols}'} "
              f"vals={'OK' if ok_vals else 'MISMATCH'} [{time.time()-t0:.1f}s]")
        if ok_cols and ok_count and not ok_vals:
            a, b = canon(srows, scols), canon(drows, dcols)
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            for x, y in diffs:
                print(f"        spark={x}\n        duck ={y}")
    print("FAILURES:", failures if failures else "none")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
