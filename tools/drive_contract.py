"""Drive the driver contract exactly as the driver would: a VANILLA
SparkSession (none of our session-factory configs), import
__spark_entry__, run entry() and a sample of queries()/oracle_sql().

Usage: python tools/drive_contract.py [--tz ZONE]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

tz = None
if "--tz" in sys.argv:
    tz = sys.argv[sys.argv.index("--tz") + 1]

builder = SparkSession.builder.master("local[4]").appName("driver-sim")
builder = builder.config("spark.ui.enabled", "false").config(
    "spark.ui.showConsoleProgress", "false"
).config("spark.driver.host", "127.0.0.1")
if tz:
    builder = builder.config("spark.sql.session.timeZone", tz)
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as m

df = m.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
assert len(rows) >= 0
df2 = m.entry(spark)
assert [f.name for f in df2.schema.fields] == [f.name for f in df.schema.fields]
print("entry() rerun: stable schema OK")

qs = m.queries()
oracles = m.oracle_sql()
print(f"queries: {len(qs)}, oracles: {len(oracles)}")
missing = [k for k in oracles if k not in qs]
assert not missing, f"oracle without query: {missing}"

sample = ["q1_pricing_summary", "j10_asof_join", "w1_islands_board", "dedup_minhash_lsh_board", "j13_bloom_semi_join"]
for name in sample:
    out = qs[name](spark, "/root/testdata/sf0.01")
    n = out.count()
    print(f"  {name}: {n} rows on vanilla session (tz={tz or 'system'})")

spark.stop()
print("CONTRACT OK")
