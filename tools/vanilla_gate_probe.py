"""Value-hash the t2 gate under a VANILLA SparkSession — the one
local axis neither tools/check.py (tuned session factory: UTC pin,
AQE configs, InferFiltersFromGenerate excluded, shuffle=cores) nor
tools/drive_contract.py (vanilla session but row-counts only) ever
exercised. The driver runs queries under ITS OWN session; if any
gate's hashed values depended on a session config we set and the
driver doesn't — timezone, ANSI mode, optimizer rule set, shuffle
partitioning — the board would be locally green under check.py and
driver-red, which is exactly the sim_embedding_board r11-r13 pattern.

Runs the named queries (default: the r14 front risk set) on a bare
builder, hashes with check.py's exact normalization, and compares
against the DuckDB oracle. PASS here + PASS under check.py = the
session-config axis is closed for that query.

Usage: python tools/vanilla_gate_probe.py [--tz ZONE] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check import SF_DIR, TABLES, value_hash  # noqa: E402

DEFAULT_SET = [
    "sim_embedding_brute_gate",
    "sim_embedding_centroid_gate",
    "sim_embedding_env_probe",
    "sim_ivf_board",
    "dedup_semantic",
    "sim_quantized_ann_board",
    "float_env_canary",
    "text_preference_pairs",
    "q_join_board",
]


def main():
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    args = [a for a in sys.argv[1:] if not a.startswith("--tz")]
    tz = None
    if "--tz" in sys.argv:
        tz = sys.argv[sys.argv.index("--tz") + 1]
        args = [a for a in args if a != tz]
    names = args or DEFAULT_SET

    # the drive_contract builder verbatim: NONE of our factory configs
    builder = SparkSession.builder.master("local[4]").appName("vanilla-gate")
    builder = builder.config("spark.ui.enabled", "false").config(
        "spark.ui.showConsoleProgress", "false"
    ).config("spark.driver.host", "127.0.0.1")
    if tz:
        builder = builder.config("spark.sql.session.timeZone", tz)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name in names:
        if name not in qs:
            print(f"SKIP  {name}: not registered")
            continue
        t0 = time.monotonic()
        df = qs[name](spark, SF_DIR)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        wall = time.monotonic() - t0
        if name not in oracles:
            print(f"ROWS  {name}: {len(rows)} rows (no oracle) ({wall:.1f}s)")
            continue
        o = con.execute(oracles[name])
        ocols = [d[0] for d in o.description]
        orows = o.fetchall()
        ok_cols = sorted(cols) == sorted(ocols)
        ok_rows = len(rows) == len(orows)
        h_s = value_hash(cols, rows)
        h_o = value_hash(ocols, orows)
        ok = ok_cols and ok_rows and h_s == h_o
        failures += 0 if ok else 1
        detail = "" if ok else (
            f" cols={ok_cols} rows={len(rows)}vs{len(orows)} "
            f"hash={h_s}vs{h_o}"
        )
        print(f"{'PASS' if ok else 'FAIL'}  {name}: {len(rows)} rows "
              f"(vanilla tz={tz or 'system'}) ({wall:.1f}s){detail}")
    spark.stop()
    print("VANILLA GATE " + ("CLEAN" if failures == 0 else f"{failures} FAIL"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
