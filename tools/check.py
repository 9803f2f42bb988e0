"""Local correctness harness mimicking the driver's t2 gate:
runs every queries() entry at sf0.01 AND its oracle_sql() in DuckDB,
compares row count, column names, and an order-insensitive value hash
(columns sorted by name, values normalized).

Usage: python tools/check.py [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        # FULL precision (r6 verdict): rounding here masked sub-1e-9
        # cross-engine drift, so local green failed to predict driver
        # red. repr() round-trips the exact double.
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return norm_cell(float(v))
    except ImportError:
        pass
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from prohap_spark.session import get_spark

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[1:])
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(s_rows)} rows, cols={s_cols} ({time.time()-t0:.1f}s) [no oracle]")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [c[0] for c in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failed.append(name)
            continue
        ok_cols = sorted(s_cols) == sorted(d_cols)
        ok_count = len(s_rows) == len(d_rows)
        sh = value_hash(s_cols, s_rows)
        dh = value_hash(d_cols, d_rows)
        ok_hash = sh == dh
        status = "PASS" if (ok_cols and ok_count and ok_hash) else "FAIL"
        detail = ""
        if not ok_cols:
            detail += f" cols spark={sorted(s_cols)} duck={sorted(d_cols)}"
        if not ok_count:
            detail += f" rows spark={len(s_rows)} duck={len(d_rows)}"
        if ok_cols and ok_count and not ok_hash:
            detail += f" hash {sh} != {dh}"
            # show a diff sample
            order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
            sset = {tuple(norm_cell(r[i]) for i in order) for r in s_rows}
            dorder = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
            dset = {tuple(norm_cell(r[i]) for i in dorder) for r in d_rows}
            s_only = list(sset - dset)[:3]
            d_only = list(dset - sset)[:3]
            detail += f"\n      spark-only: {s_only}\n      duck-only:  {d_only}"
        print(f"{status}  {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s){detail}")
        if status == "FAIL":
            failed.append(name)
    print(f"\n{'ALL PASS' if not failed else 'FAILED: ' + ', '.join(failed)}")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
