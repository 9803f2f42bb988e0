"""operators/zonemap.py: explicit file-skipping zone maps."""

import random

import pytest
from pyspark.sql import functions as F

from prohap_spark.operators.zonemap import (
    build_zone_map,
    prune_files,
    read_pruned,
    read_zone_map,
    write_zone_map,
)


@pytest.fixture(scope="module")
def clustered(spark, tmp_path_factory):
    """A range-clustered table: 16 files, each covering a narrow key
    span — the layout zone maps reward."""
    path = str(tmp_path_factory.mktemp("zm") / "t")
    df = spark.range(0, 16000).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("v"),
    )
    df.repartitionByRange(16, "k").write.mode("overwrite").parquet(path)
    return path


def test_zone_map_prunes_and_matches_full_scan(spark, clustered):
    zm = build_zone_map(spark, clustered, ["k"]).cache()
    n_files = zm.count()
    assert n_files == 16
    # narrow range: few files survive, results identical to full scan
    lo, hi = 4000, 4999
    files = prune_files(zm, "k", lo, hi)
    assert 0 < len(files) <= 3
    got = sorted(
        r["k"] for r in read_pruned(spark, zm, "k", lo, hi).collect()
    )
    want = sorted(
        r["k"]
        for r in spark.read.parquet(clustered)
        .where(f"k >= {lo} AND k <= {hi}")
        .collect()
    )
    assert got == want


def test_zone_map_randomized_never_loses_rows(spark, clustered):
    zm = build_zone_map(spark, clustered, ["k", "v"]).cache()
    full = spark.read.parquet(clustered).cache()
    rng = random.Random(9)
    for _ in range(8):
        col = rng.choice(["k", "v"])
        a = rng.randint(-10, 16010)
        b = a + rng.randint(0, 5000)
        lo, hi = (a, b) if rng.random() < 0.8 else (None, b)
        got = read_pruned(spark, zm, col, lo, hi).count()
        cond = []
        if lo is not None:
            cond.append(f"{col} >= {lo}")
        if hi is not None:
            cond.append(f"{col} <= {hi}")
        want = full.where(" AND ".join(cond)).count()
        assert got == want, (col, lo, hi)
    # the unclustered column prunes nothing (v spans every file) —
    # the honest negative: zone maps only pay on clustered dims
    assert len(prune_files(zm, "v", 5, 10)) == 16


def test_zone_map_empty_survivors_and_artifact_roundtrip(
    spark, clustered, tmp_path
):
    zm = build_zone_map(spark, clustered, ["k"])
    assert prune_files(zm, "k", 100000, 200000) == []
    empty = read_pruned(spark, zm, "k", 100000, 200000)
    assert empty.count() == 0 and "k" in empty.columns

    path = str(tmp_path / "zm_idx")
    write_zone_map(zm, path)
    back = read_zone_map(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, zm.collect()))


@pytest.fixture(scope="module")
def scattered(spark, tmp_path_factory):
    """An UNCLUSTERED table: 16 files, high-NDV key scattered across
    all of them — the layout where min/max zone maps prune nothing
    and Bloom skipping earns its keep."""
    path = str(tmp_path_factory.mktemp("bs") / "t")
    df = spark.range(0, 16000).select(
        # bit-mix so neighboring keys land in different files
        F.xxhash64(F.col("id")).alias("shuf"),
        F.col("id").alias("k"),
    )
    df.repartitionByRange(16, "shuf").drop("shuf").write.mode(
        "overwrite"
    ).parquet(path)
    return path


def test_bloom_skip_never_loses_rows_and_prunes(spark, scattered):
    from prohap_spark.operators.zonemap import (
        build_bloom_skip,
        prune_files_bloom,
        read_pruned_eq,
    )

    bm = build_bloom_skip(spark, scattered, "k", k=3, m_bits=4096).cache()
    # min/max pruning is USELESS here (every file spans ~the whole
    # domain) — the scenario the bloom skip exists for
    zm = build_zone_map(spark, scattered, ["k"]).cache()
    assert len(prune_files(zm, "k", 7777, 7777)) == 16

    rng = random.Random(13)
    total_survivors = 0
    for _ in range(12):
        key = rng.randrange(0, 16000)
        files = prune_files_bloom(bm, key, k=3, m_bits=4096)
        total_survivors += len(files)
        got = [r["k"] for r in read_pruned_eq(spark, bm, "k", key).collect()]
        # never loses the matching row (conservative contract)...
        assert got == [key]
    # ...and the point lookup reads FAR fewer than 16 files on average
    # (k=3, m=4096, ~1000 keys/file -> fp per file ~ (1-e^-0.73)^3)
    assert total_survivors < 12 * 8


def test_bloom_skip_absent_key_and_empty_survivors(spark, scattered):
    from prohap_spark.operators.zonemap import (
        build_bloom_skip,
        prune_files_bloom,
        read_pruned_eq,
    )

    bm = build_bloom_skip(spark, scattered, "k", k=3, m_bits=4096).cache()
    # absent keys: whatever files false-positive, the row-exact
    # re-filter returns zero rows; empty survivor sets keep the schema
    for key in (111111, 222222, 333333):
        files = prune_files_bloom(bm, key, k=3, m_bits=4096)
        out = read_pruned_eq(spark, bm, "k", key)
        assert out.count() == 0
        assert out.columns == ["k"]
        assert len(files) <= 16


def test_append_zone_map_and_bloom_equal_rebuild(spark, tmp_path):
    """Incremental maintenance == rebuild, for BOTH skipping artifacts:
    after new files land, appending scans only the fresh files yet
    produces exactly the rows a from-scratch build would."""
    from prohap_spark.operators.zonemap import (
        append_bloom_skip,
        append_zone_map,
        build_bloom_skip,
    )

    path = str(tmp_path / "t")
    base = spark.range(0, 8000).select(F.col("id").alias("k"))
    base.repartitionByRange(8, "k").write.mode("overwrite").parquet(path)
    zm0 = build_zone_map(spark, path, ["k"]).cache()
    bm0 = build_bloom_skip(spark, path, "k").cache()
    zm0.count(), bm0.count()  # materialize BEFORE the new files land

    delta = spark.range(8000, 12000).select(F.col("id").alias("k"))
    delta.repartitionByRange(4, "k").write.mode("append").parquet(path)

    zm1 = append_zone_map(spark, path, zm0, ["k"])
    bm1 = append_bloom_skip(spark, path, bm0, "k")
    want_zm = sorted(tuple(r) for r in build_zone_map(spark, path, ["k"]).collect())
    want_bm = sorted(tuple(r) for r in build_bloom_skip(spark, path, "k").collect())
    assert sorted(tuple(r) for r in zm1.collect()) == want_zm
    assert sorted(tuple(r) for r in bm1.collect()) == want_bm
    # and the appended artifacts actually answer queries
    from prohap_spark.operators.zonemap import prune_files_bloom

    assert len(prune_files(zm1, "k", 9000, 9100)) <= 2
    got = prune_files_bloom(bm1, 9050)
    assert any("part" in f for f in got)


def test_bloom_skip_artifact_roundtrip(spark, scattered, tmp_path):
    """Persisted Bloom-skip artifact: write under the validated
    manifest, read back loud, prune identically to the in-memory map."""
    from prohap_spark.operators.zonemap import (
        build_bloom_skip,
        prune_files_bloom,
        read_bloom_skip,
        write_bloom_skip,
    )

    bm = build_bloom_skip(spark, scattered, "k", k=3, m_bits=4096)
    path = str(tmp_path / "bsidx")
    m = write_bloom_skip(bm, path)
    assert m["n_rows"] > 0
    back = read_bloom_skip(spark, path)
    for key in (7, 4242, 999999):
        assert sorted(prune_files_bloom(back, key)) == sorted(
            prune_files_bloom(bm, key)
        )
