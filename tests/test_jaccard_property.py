"""Randomized soundness pin for the AllPairs/PPJoin prefix-filtered
set-similarity join (operators/dedup.py jaccard_pairs): over a family
of deterministically-seeded random corpora — varying document counts,
vocabulary sizes (dense AND sparse similarity regimes), doc lengths
down to a single token, plus planted exact duplicates (J = 1) — the
prefix strategy with the r10 POSITIONAL filter must return exactly
the block-quadratic kernel's pairs AND exactly a pure-Python
brute-force oracle's pairs, at thresholds including the edges
(0.05 permissive, 0.5 boundary-ridden, 0.99, 1.0 where the prefix
length collapses to a single gram).

Design note: all corpora run in ONE Spark job — each random corpus is
a block value (blocks isolate corpora by construction), so the test
covers ~binomial(30, 2) threshold × corpus combinations at one job's
cost instead of one Spark round-trip per hypothesis example.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def _random_corpora(seed: int):
    rng = random.Random(seed)
    corpora = []
    for cid in range(12):
        vocab_size = rng.choice([3, 8, 30, 200])
        n_docs = rng.randint(2, 25)
        vocab = [f"w{v}" for v in range(vocab_size)]
        docs = []
        for d in range(n_docs):
            n_tok = rng.randint(1, 12)
            docs.append((d, " ".join(rng.choice(vocab) for _ in range(n_tok))))
        # planted exact duplicate (J = 1 must survive every threshold)
        if n_docs >= 2:
            docs[1] = (1, docs[0][1])
        corpora.append((f"c{cid}", docs))
    return corpora


def _brute_pairs(docs, threshold: float, ngram: int = 1):
    out = set()
    sets = {}
    for did, text in docs:
        toks = text.split()
        grams = (
            set(toks)
            if ngram == 1
            else {" ".join(toks[i : i + ngram]) for i in range(len(toks) - ngram + 1)}
        )
        sets[did] = grams
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            u = sets[a] | sets[b]
            if not u:
                continue
            j = len(sets[a] & sets[b]) / len(u)
            if j >= threshold:
                out.add((a, b))
    return out


def test_prefix_positional_matches_block_and_bruteforce(spark):
    from prohap_spark.operators.dedup import jaccard_pairs

    corpora = _random_corpora(seed=20260815)
    rows = [
        (cid, did, text) for cid, docs in corpora for did, text in docs
    ]
    df = spark.createDataFrame(rows, "corpus string, doc_id long, text string")

    for t in (0.05, 0.5, 0.99, 1.0):
        got_prefix = {
            (r["corpus"], r["id_a"], r["id_b"])
            for r in jaccard_pairs(
                df, "doc_id", "text", ["corpus"], t, ngram=1, strategy="prefix"
            ).collect()
        }
        got_block = {
            (r["corpus"], r["id_a"], r["id_b"])
            for r in jaccard_pairs(
                df, "doc_id", "text", ["corpus"], t, ngram=1, strategy="block"
            ).collect()
        }
        want = {
            (cid, a, b)
            for cid, docs in corpora
            for a, b in _brute_pairs(docs, t)
        }
        assert got_prefix == got_block == want, (
            t,
            sorted(want - got_prefix)[:5],
            sorted(got_prefix - want)[:5],
        )
        # the planted duplicates must be present at EVERY threshold
        for cid, docs in corpora:
            if len(docs) >= 2 and docs[0][1] == docs[1][1]:
                assert (cid, 0, 1) in got_prefix, (t, cid)


def test_prefix_candidates_grow_linearly_under_fresh_content(spark):
    """The scale claim behind the prefix strategy, pinned at test
    scale (NOTES_ROUND10 records it at sf0.1): when a
    corpus doubles with FRESH content (disjoint vocabulary — the
    realistic growth model), positional candidates must grow ~linearly
    while block pairs grow ~quadratically. Deterministic corpus: R
    replicas of 60 docs over replica-prefixed vocabularies."""
    from prohap_spark.operators.dedup import _prefix_candidates, shingle_table

    def corpus(n_rep):
        rng = random.Random(99)
        rows = []
        for rep in range(n_rep):
            vocab = [f"r{rep}w{v}" for v in range(40)]
            for d in range(60):
                rows.append(
                    (
                        rep * 1000 + d,
                        " ".join(rng.choice(vocab) for _ in range(10)),
                    )
                )
        return spark.createDataFrame(rows, "doc_id long, text string").withColumn(
            "blk", F.lit("one")
        )

    counts = {}
    for r in (1, 2, 4):
        base = shingle_table(corpus(r), "doc_id", "text", 1, keep_cols=["blk"])
        counts[r] = _prefix_candidates(base, "doc_id", ["blk"], 0.7).count()
    n = 60
    # block pairs: C(60,2)=1770 -> C(240,2)=28680 (16.2x). Candidates:
    # cross-replica docs share no grams, so candidates are exactly
    # R x (1-replica candidates) up to same-seed variation — assert
    # growth is ~linear (within 1.5x of proportional), far below the
    # quadratic 4x-per-doubling
    assert counts[2] <= 2 * counts[1] * 1.5, counts
    assert counts[4] <= 4 * counts[1] * 1.5, counts
    block_growth_4 = (4 * n * (4 * n - 1)) / (n * (n - 1))  # ~16.2
    cand_growth_4 = counts[4] / max(counts[1], 1)
    assert cand_growth_4 < block_growth_4 / 2, (counts, block_growth_4)


def test_prefix_positional_matches_block_bigram(spark):
    """Same identity at the registered query's bigram shape, one
    threshold on each side of the production boundary."""
    from prohap_spark.operators.dedup import jaccard_pairs

    corpora = _random_corpora(seed=7)
    rows = [(cid, did, text) for cid, docs in corpora for did, text in docs]
    df = spark.createDataFrame(rows, "corpus string, doc_id long, text string")
    for t in (0.3, 0.8):
        a = {
            (r["corpus"], r["id_a"], r["id_b"])
            for r in jaccard_pairs(
                df, "doc_id", "text", ["corpus"], t, ngram=2, strategy="prefix"
            ).collect()
        }
        b = {
            (r["corpus"], r["id_a"], r["id_b"])
            for r in jaccard_pairs(
                df, "doc_id", "text", ["corpus"], t, ngram=2, strategy="block"
            ).collect()
        }
        want = {
            (cid, x, y)
            for cid, docs in corpora
            for x, y in _brute_pairs(docs, t, ngram=2)
        }
        assert a == b == want, (t, sorted(want - a)[:5], sorted(a - want)[:5])
