"""Strict driver-faithful correctness check over __spark_entry__.

Unlike check_entry.py (9-significant-digit float normalization), this
mimics the driver's hash compare as closely as we can observe it from
the round-4 record: columns sorted by name, rows sorted, and values
compared BIT-EXACTLY (floats via struct.pack, ints by exact value), with
a dtype audit that flags anything the driver is known to hash
differently (DuckDB HUGEINT/int128 from a bare SUM(BIGINT), DECIMAL
leaking into a column Spark emits as double/long, date vs timestamp).

Usage: python scripts_local/check_strict.py [sf_dir] [n_first | names...]
"""

from __future__ import annotations

import math
import struct
import sys
import time
from decimal import Decimal
from pathlib import Path

# the checkout this script lives in
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from credigraph_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell_key(v):
    """Bit-exact canonical form: float -> IEEE754 bytes, int exact,
    Decimal flagged via its exact string, bytes hex, arrays recursed."""
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", b"nan")
        return ("f", struct.pack(">d", v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v))
    if isinstance(v, (list, tuple)):
        return ("a",) + tuple(cell_key(x) for x in v)
    if isinstance(v, dict):
        return ("m",) + tuple(sorted((k, cell_key(x)) for k, x in v.items()))
    return ("s", str(v))


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(cell_key(r[i]) for i in order) for r in rows)


def dtype_audit(name, srows, orows, cols):
    """Flag value-type divergence between engines per column."""
    issues = []
    for i, c in enumerate(sorted(cols)):
        for s, o in zip(srows[:200], orows[:200]):
            a, b = s[i], o[i]
            if a[0] != b[0] and "null" not in (a[0], b[0]):
                issues.append(f"col {c}: spark {a[0]} vs oracle {b[0]}")
                break
            if a[0] == "i" and (abs(a[1]) > 2**63 or abs(b[1]) > 2**63):
                issues.append(f"col {c}: int exceeds int64 range")
                break
    return issues


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    sel = args[1:]
    spark = get_spark("strict-check", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = list(qs)
    if len(sel) == 1 and sel[0].isdigit():
        names = names[:int(sel[0])]
    elif sel:
        names = [n for n in names if n in set(sel)]

    failures, weak = [], []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                weak.append(name)
                print(f"  {name:28s} rows={len(srows):7d} (no oracle) "
                      f"{time.time()-t0:5.1f}s")
                continue
            ores = con.sql(oracles[name])
            ocols = list(ores.columns)
            orows = ores.fetchall()
            sc = canon(srows, scols)
            oc = canon(orows, ocols)
            ok_rows = len(srows) == len(orows)
            ok_schema = sorted(scols) == sorted(ocols)
            ok_vals = sc == oc
            audit = dtype_audit(name, sc, oc, scols) if ok_schema else []
            status = "OK" if (ok_rows and ok_schema and ok_vals
                              and not audit) else "FAIL"
            if status == "FAIL":
                failures.append(name)
                detail = []
                if not ok_rows:
                    detail.append(f"rows {len(srows)} vs {len(orows)}")
                if not ok_schema:
                    detail.append(f"schema {sorted(scols)} vs "
                                  f"{sorted(ocols)}")
                if ok_rows and ok_schema and not ok_vals:
                    for j, (a, b) in enumerate(zip(sc, oc)):
                        if a != b:
                            detail.append(f"first diff row {j}: {a} vs {b}")
                            break
                detail += audit
                print(f"  {name:28s} FAIL  {'; '.join(detail)[:300]}")
            else:
                print(f"  {name:28s} OK    rows={len(srows):7d} "
                      f"{time.time()-t0:5.1f}s")
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"  {name:28s} ERROR {type(exc).__name__}: "
                  f"{str(exc)[:200]}")
    print(f"\n{len(names)} checked, {len(failures)} failed, "
          f"{len(weak)} weak (no oracle)")
    if failures:
        print("FAILED:", " ".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
