"""operators/trgm.py: trigram posting index for substring search."""

import random

import pytest
from pyspark.sql import functions as F

from prohap_spark.operators.trgm import (
    build_trigram_index,
    like_candidates,
    like_search,
    read_trigram_index,
    trigram_grams,
    write_trigram_index,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(1212)
    vocab = ["alpha", "beta", "gamma", "delta", "needle", "haystack", "xyz"]
    rows = []
    for i in range(80):
        words = [rng.choice(vocab) for _ in range(rng.randint(1, 12))]
        rows.append((i, " ".join(words)))
    rows += [(100, "ne"), (101, ""), (102, "NEEDLE in CAPS")]
    return spark.createDataFrame(rows, "doc_id int, text string").cache()


@pytest.fixture(scope="module")
def index(corpus):
    return build_trigram_index(corpus, "doc_id", "text").cache()


def _brute(corpus, needle):
    return {
        r["doc_id"]
        for r in corpus.where(
            F.contains(F.lower("text"), F.lit(needle.lower()))
        ).collect()
    }


def test_grams_match_python(corpus, index):
    got = {
        (r["gram"], r["doc_id"])
        for r in index.where(F.col("doc_id") == 102).collect()
    }
    want = {(g, 102) for g in set(trigram_grams("NEEDLE in CAPS"))}
    assert got == want


def test_search_equals_brute_force_randomized(spark, corpus, index):
    rng = random.Random(7)
    needles = [
        "needle", "NEEDLE", "ta nee", "gamma d", "xyz", "a b",  # short->fallback
        "zzz-not-there", "alpha alpha", "ck",
    ] + ["".join(rng.choice("abgdex ") for _ in range(rng.randint(1, 8)))
         for _ in range(10)]
    for needle in needles:
        got = {
            r["doc_id"]
            for r in like_search(
                corpus, index, "doc_id", "text", needle
            ).collect()
        }
        assert got == _brute(corpus, needle), needle


def test_candidates_are_superset_and_prune(spark, corpus, index):
    # no false negatives, and the index genuinely prunes for a
    # selective needle
    needle = "needle"
    cand = {r["doc_id"] for r in like_candidates(index, "doc_id", needle).collect()}
    truth = _brute(corpus, needle)
    assert truth <= cand
    assert len(cand) < corpus.count()


def test_short_needle_falls_back_honestly(spark, corpus, index):
    assert like_candidates(index, "doc_id", "ne") is None
    got = {
        r["doc_id"]
        for r in like_search(corpus, index, "doc_id", "text", "ne").collect()
    }
    assert got == _brute(corpus, "ne")
    assert 100 in got  # the 2-char doc itself matches


def test_index_artifact_roundtrip(spark, corpus, index, tmp_path):
    path = str(tmp_path / "trgm")
    write_trigram_index(index, path)
    back = read_trigram_index(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, index.collect())
    )


def test_candidate_gram_filter_pushed_to_parquet_scan(spark, corpus, tmp_path):
    """The scale claim in the module docstring: the literal gram set
    reaches the posting-table PARQUET SCAN as a pushed In-filter —
    a query touches |needle|-2 posting lists, never the whole index."""
    path = str(tmp_path / "trgm_idx")
    write_trigram_index(build_trigram_index(corpus, "doc_id", "text"), path)
    idx = read_trigram_index(spark, path)
    plan = (
        like_candidates(idx, "doc_id", "needle")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "In(gram" in plan, plan[:2000]


def test_append_equals_rebuild(spark, corpus, tmp_path):
    from prohap_spark.operators.trgm import append_trigram_index

    base = corpus.where("doc_id < 50")
    delta = corpus.where("doc_id >= 50")
    path = str(tmp_path / "inc")
    write_trigram_index(build_trigram_index(base, "doc_id", "text"), path)
    append_trigram_index(spark, path, delta, "doc_id", "text")
    got = sorted(map(tuple, read_trigram_index(spark, path).collect()))
    full = sorted(
        map(tuple, build_trigram_index(corpus, "doc_id", "text").collect())
    )
    assert got == full
    # and the maintained index answers searches identically
    got_ids = {
        r["doc_id"]
        for r in like_search(
            corpus, read_trigram_index(spark, path), "doc_id", "text", "needle"
        ).collect()
    }
    assert got_ids == _brute(corpus, "needle")


def test_segmented_ingest_equals_rebuild_and_compacts(spark, tmp_path):
    """Segmented ingest (r13): two delta segments + base must answer
    like_search identically to a from-scratch rebuild over the full
    corpus; compaction folds everything into one flat artifact with
    the same answers; vacuum_index never mistakes a segment for an
    orphan (dot-dirs are invisible to its glob)."""
    import os

    from pyspark.sql import functions as F

    from prohap_spark.operators.compact import vacuum_index
    from prohap_spark.operators.trgm import (
        append_trigram_segment,
        build_trigram_index,
        compact_trigram_segments,
        like_search,
        read_trigram_index,
        read_trigram_segments,
        write_trigram_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha bravo{i % 7} charlie delta{i % 5} spark value") for i in range(300)],
        "doc_id int, text string",
    )
    base = docs.where(F.col("doc_id") % 3 == 0)
    d1 = docs.where(F.col("doc_id") % 3 == 1)
    d2 = docs.where(F.col("doc_id") % 3 == 2)
    path = str(tmp_path / "seg_idx")
    write_trigram_index(build_trigram_index(base, "doc_id", "text"), path)
    m1 = append_trigram_segment(spark, path, d1, "doc_id", "text")
    m2 = append_trigram_segment(spark, path, d2, "doc_id", "text")
    assert m1["segment"].endswith(".seg_00000")
    assert m2["segment"].endswith(".seg_00001")

    merged = read_trigram_segments(spark, path)
    full = build_trigram_index(docs, "doc_id", "text")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))

    for needle in ("spark value", "bravo3", "zzzz"):
        got = sorted(
            r["doc_id"]
            for r in like_search(docs, merged, "doc_id", "text", needle).collect()
        )
        want = sorted(
            r["doc_id"]
            for r in docs.where(
                F.contains(F.lower("text"), F.lit(needle))
            ).select("doc_id").collect()
        )
        assert got == want

    # vacuum on the segmented dir: segments are NOT orphans
    assert vacuum_index(spark, path)["orphans_removed"] == 0
    assert os.path.isdir(m1["segment"]) and os.path.isdir(m2["segment"])

    # compaction folds segments into the flat artifact, same answers
    stats = compact_trigram_segments(spark, path)
    assert stats["segments_folded"] == 2
    assert not os.path.isdir(m1["segment"])
    flat = read_trigram_index(spark, path)
    assert sorted(map(tuple, flat.collect())) == sorted(map(tuple, full.collect()))
    # idempotent: nothing left to fold
    assert compact_trigram_segments(spark, path)["segments_folded"] == 0
