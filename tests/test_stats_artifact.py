"""operators/stats.py: mergeable, persistable column statistics."""

import pytest
from pyspark.sql import functions as F

from prohap_spark.operators.stats import (
    column_stats_partials,
    finish_stats,
    merge_stats,
    read_stats_artifact,
    write_stats_artifact,
)

SF_DIR = "/root/testdata/sf0.001"
NUM = ["l_orderkey", "l_quantity"]
STR = ["l_returnflag"]


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        *NUM, *STR
    ).cache()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_partials_basic_values(spark, lineitem):
    basic, regs = column_stats_partials(lineitem, NUM, STR)
    got = {r["col"]: r for r in basic.collect()}
    truth = lineitem.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_quantity").alias("qmin"),
        F.max("l_quantity").alias("qmax"),
        F.min("l_returnflag").alias("rmin"),
        F.max("l_returnflag").alias("rmax"),
    ).collect()[0]
    assert got["l_quantity"]["n"] == truth["n"]
    assert got["l_quantity"]["min_d"] == truth["qmin"]
    assert got["l_quantity"]["max_d"] == truth["qmax"]
    assert got["l_quantity"]["n_null"] == 0
    assert got["l_returnflag"]["min_s"] == truth["rmin"]
    assert got["l_returnflag"]["max_s"] == truth["rmax"]
    assert got["l_returnflag"]["min_d"] is None
    # regs: <= 64 register rows per column, for any shard size
    per = {r["col"]: r["cnt"] for r in regs.groupBy("col").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(per) == set(NUM) | set(STR)
    assert all(c <= 64 for c in per.values())


def test_shard_merge_equals_single_pass(spark, lineitem):
    """The artifact's whole point: per-shard partials folded with
    merge_stats equal one pass over the concatenation EXACTLY — basic
    rows and HLL register rows both."""
    even = lineitem.where(F.col("l_orderkey") % 2 == 0)
    odd = lineitem.where(F.col("l_orderkey") % 2 == 1)
    merged_b, merged_r = merge_stats(
        column_stats_partials(even, NUM, STR),
        column_stats_partials(odd, NUM, STR),
    )
    single_b, single_r = column_stats_partials(lineitem, NUM, STR)
    assert _rows(merged_b) == _rows(single_b)
    assert _rows(merged_r) == _rows(single_r)


def test_finish_ndv_matches_direct_hll(spark, lineitem):
    from prohap_spark.functions.sketches import hll_distinct

    basic, regs = column_stats_partials(lineitem, NUM, STR)
    fin = {r["col"]: r for r in finish_stats(basic, regs).collect()}
    for c in NUM + STR:
        direct = hll_distinct(
            lineitem.where(F.col(c).isNotNull()).select(
                F.lit(c).alias("g"), F.col(c).cast("string").alias("v")
            ),
            ["g"],
            "v",
        ).collect()[0]["hll_est"]
        assert fin[c]["ndv_hll"] == direct
    # sanity: the estimate is in-family for the low-card column (3)
    exact_rf = lineitem.select("l_returnflag").distinct().count()
    assert fin["l_returnflag"]["ndv_hll"] == exact_rf


def test_artifact_roundtrip_and_torn_read(spark, lineitem, tmp_path):
    basic, regs = column_stats_partials(lineitem, NUM, STR)
    path = str(tmp_path / "stats")
    write_stats_artifact(path, basic, regs)
    b2, r2 = read_stats_artifact(spark, path)
    assert _rows(b2) == _rows(basic)
    assert _rows(r2) == _rows(regs)

    # torn artifact fails loud: drop one part-file from the regs table
    import glob
    import os

    # (single-part at this SF, so the removal may leave an empty dir —
    # either way the read must fail loud, never return a subset)
    part = glob.glob(f"{path}/regs/part-*.parquet")[0]
    os.remove(part)
    with pytest.raises(
        Exception,
        match="(?i)manifest|mismatch|checksum|count|infer schema",
    ):
        b3, r3 = read_stats_artifact(spark, path)
        r3.collect()


def test_range_selectivity_vs_actual(spark, lineitem):
    from prohap_spark.operators.stats import range_selectivity

    hist = {
        r["b"]: r["c"]
        for r in lineitem.where("l_quantity IS NOT NULL")
        .selectExpr("CAST(least(floor((l_quantity - 1) / 5), 9) AS INT) AS b")
        .groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    counts = [hist.get(i, 0) for i in range(10)]
    n = sum(counts)
    for lo, hi in [(1, 10), (20, 30), (45, 50), (None, 25), (30, None)]:
        est = range_selectivity(counts, 1.0, 51.0, lo, hi)
        cond = []
        if lo is not None:
            cond.append(f"l_quantity >= {lo}")
        if hi is not None:
            cond.append(f"l_quantity <= {hi}")
        actual = lineitem.where(" AND ".join(cond)).count() / n
        # uniform-within-bucket on integer data: a bucket's worth of
        # slack either way
        assert abs(est - actual) < 0.12, (lo, hi, est, actual)
    assert range_selectivity(counts, 1.0, 51.0, 60, 70) == 0.0
    assert abs(range_selectivity(counts, 1.0, 51.0, None, None) - 1.0) < 1e-9


def test_join_cardinality_fk_exact(spark):
    from prohap_spark.operators.stats import join_cardinality

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    n_l, n_o = li.count(), o.count()
    ndv_l = li.select("l_orderkey").distinct().count()
    ndv_o = o.select("o_orderkey").distinct().count()
    est = join_cardinality(n_l, ndv_l, n_o, ndv_o)
    actual = li.join(o, li.l_orderkey == o.o_orderkey).count()
    # clean FK join: the containment estimate is near-exact (every
    # lineitem key exists in orders; ndv_child <= ndv_parent)
    assert abs(est - actual) / actual < 0.02, (est, actual)


def test_suggest_zorder_dims(spark, lineitem):
    from prohap_spark.operators.stats import (
        column_stats_partials,
        finish_stats,
        suggest_zorder_dims,
    )

    fin = finish_stats(*column_stats_partials(lineitem, NUM, STR))
    # l_orderkey (thousands of keys) must outrank l_quantity (50
    # values), and the 3-value flag never qualifies ahead of either
    dims = suggest_zorder_dims(fin, ["l_orderkey", "l_quantity", "l_returnflag"], k=2)
    assert dims == ["l_orderkey", "l_quantity"]
    assert suggest_zorder_dims(fin, ["l_returnflag"], k=2) == ["l_returnflag"]
