"""Deduplication operators for large-scale training-data pipelines.

The reference's dedup is exact sequence dedup via an in-memory
bisect-sorted hash list (/root/reference/src/process_haplotypes.py:437-454
and merge_duplicate_seq.py:20-85). At 100 TB the Spark-native family is:

- exact dedup: one hash aggregate on the content (or a stable content
  hash) — map-side partial agg, AQE-coalesced shuffle;
- MinHash + LSH banding: shingle → k min-hashes → band → equi-join on
  (band_idx, band_hash) buckets — turns the quadratic all-pairs problem
  into an equi-join Catalyst can shuffle/skew-split; candidates are
  then verified with exact Jaccard;
- SimHash: 64-bit weighted-bit signature, near-dups share signatures
  (or differ in few bits);
- n-gram Jaccard: exact verification kernel, also usable standalone
  within blocking keys.

Determinism: all hashes are md5-based (stable across runs/engines —
the reference's salted Python ``hash()`` is NOT reproducible, see
SURVEY.md §7.2), so an external SQL oracle can replicate results
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from prohap_spark.functions.hof import bind_once


def dedup_exact(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
) -> DataFrame:
    """Keep one representative row per distinct ``key_cols`` value — the
    row that sorts first under ``order_cols`` (deterministic, unlike
    dropDuplicates). Adds ``dup_count``. One shuffle on the key.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c) for c in order_cols])
    cnt = Window.partitionBy(*key_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(cnt))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _multi_doc_keys(
    ex: DataFrame, key_col: str, id_col: str, min_docs: int
) -> DataFrame:
    """Keys of ``ex`` appearing in at least ``min_docs`` distinct
    documents — the duplicated-key detection shared by
    segment_dedup / substring_dedup / cdc_dedup_stats.

    r14 (guide §2.3 aggregate-before-shuffle): the dominant
    ``min_docs == 2`` case ("shared by more than one document") is
    exactly ``min(id) != max(id)`` — two cheap fully-map-side-partial
    aggregates — instead of ``countDistinct``'s two-phase distinct
    expansion (group by (key, id) first, then by key), which re-keys
    the whole occurrence table twice. Measured on the sf0.1 gram
    table (236k rows): the dup aggregate alone 0.67 s → 0.47 s; the
    equivalence is exact — a key whose occurrences span ≥2 distinct
    non-null ids has min != max, a single-doc key (or all-null ids,
    which countDistinct also ignores) does not. The general
    threshold keeps countDistinct."""
    g = ex.groupBy(key_col)
    if min_docs == 2:
        return (
            g.agg(F.min(id_col).alias("__lo"), F.max(id_col).alias("__hi"))
            .where(F.col("__lo") != F.col("__hi"))
            .select(key_col)
        )
    return (
        g.agg(F.countDistinct(id_col).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select(key_col)
    )


def _drop_positions(items: Column, rm: Column) -> Column:
    """Order-preserving removal of the 0-based positions ``rm`` from
    the array ``items`` — the scrub-reassembly core shared by
    segment_dedup and substring_dedup.

    Shape matters here (r6 verdict What's-wrong #3, then re-litigated
    by bench): the obvious ``filter(items, (x, i) -> !array_contains
    (rm, i))`` is O(n·r) per row — measured 30+ s on a 5k-doc frame
    once docs hit ~1k tokens with half removed; a sorted-``rm``
    between-slices walk is O(n+r) on paper but Spark re-evaluates
    higher-order-function operands per lambda element, so the nested
    concat/slice form measured even worse. This form is linear AND
    codegen-friendly: ``array_except`` builds a hash set over ``rm``
    once per row (Spark's primitive-type OpenHashSet path) to produce
    the kept index list order-preserved, and ``element_at`` is O(1)
    per index. Same 5k-doc heavy frame: ~1.4 s; realistic light
    frames match the array_contains fast case."""
    # guard the empty array: sequence(0, -1) DESCENDS (the packing
    # zero-token lesson again), which would index [0, -1] into an
    # empty items array — caught by the property pin in
    # tests/test_operators.py
    kept_idx = F.when(
        F.size(items) > 0,
        F.array_except(F.sequence(F.lit(0), F.size(items) - 1), rm),
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(kept_idx, lambda i: F.element_at(items, i + 1))


def tokens_expr(text_col: str | Column, lowercase: bool = True) -> Column:
    """Distinct whitespace tokens of a text column (the shingle set)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if lowercase:
        c = F.lower(c)
    return F.array_distinct(F.split(F.trim(c), r"\s+"))


def words_expr(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(F.lower(c)), r"\s+")


def ngrams_from_words(words: Column, n: int) -> Column:
    """Distinct word n-gram shingles via array-level zip_with over
    shifted slices. Deliberately avoids element_at-inside-transform:
    CollapseProject re-inlines upstream expressions into lambdas, so a
    per-element array reference degrades to O(row_len) re-evaluations
    per element (O(n²) per row); slice/zip_with reference the array a
    constant number of times per ROW instead."""
    if n == 1:
        return F.array_distinct(words)
    grams = words
    for j in range(1, n):
        shifted = F.slice(words, j + 1, F.greatest(F.size(words) - j, F.lit(0)))
        grams = F.zip_with(
            grams,
            shifted,
            lambda g, w: F.when(w.isNotNull() & g.isNotNull(), F.concat(g, F.lit(" "), w)),
        )
    # zip_with pads the shorter (shifted) side with null → trailing
    # partial grams become null; drop them
    return F.array_distinct(F.array_compact(grams))


def ngram_tokens_expr(text_col: str | Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles of a text column (n=1 safe inline;
    for n>1 prefer shingle_table which materializes the words first)."""
    return ngrams_from_words(words_expr(text_col), n)


def shingle_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int,
    keep_cols: list[str] | None = None,
    drop_empty: bool = False,
) -> DataFrame:
    """(id, tokens) with the words array materialized in its own
    projection so the n-gram lambda reads a computed column.

    ``drop_empty``: drop rows whose shingle set would be empty. Do NOT
    express that as ``where(size(__tokens) > 0)`` on the result —
    Catalyst pushes the predicate below the projections, substituting
    the ENTIRE shingle pipeline into the Filter, so every row pays the
    token build twice (plus 3x the word split, measured in the r14
    plan: the pushed condition inlines ``split(trim(lower(text)))``
    three times). The equivalent cheap precondition is
    ``size(words) >= ngram`` on the raw text (split never yields null
    elements, the zip_with chain nulls exactly the trailing partial
    grams, and null text nulls out either way — equivalence pinned by
    test_shingle_drop_empty_equivalence), which pushes to the scan and
    costs ONE split for rows that are then never shingled at all."""
    if drop_empty:
        df = df.where(F.size(words_expr(text_col)) >= ngram)
    base = df.select(
        *(keep_cols or []), F.col(id_col), words_expr(text_col).alias("__words")
    )
    return base.select(
        *(keep_cols or []),
        F.col(id_col),
        ngrams_from_words(F.col("__words"), ngram).alias("__tokens"),
    )


def minhash_signature_expr(tokens_col: str | Column, num_hashes: int = 16) -> Column:
    """MinHash signature: for seed s in [0, k), min over tokens of
    md5(s || '|' || token). md5 hex strings are fixed-width, so string
    min == numeric min of the 128-bit value. Engine-portable.
    """
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda s: F.array_min(
            F.transform(toks, lambda t: F.md5(F.concat(s.cast("string"), F.lit("|"), t)))
        ),
    )


def jaccard_expr(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def band_table(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    num_hashes: int = 16,
    band_size: int = 2,
) -> DataFrame:
    """(id, band_idx, band_hash) rows — one per LSH band: the MinHash
    signature sliced into ``num_hashes / band_size`` bands, each band
    md5-hashed to a bucket key. Shared by the one-shot batch LSH and
    the stateful streaming variant so both bucket identically."""
    assert num_hashes % band_size == 0
    n_bands = num_hashes // band_size
    # bind the signature as a lambda VALUE: an aliased __sig column
    # referenced once inside the band lambda gets inlined back by
    # CollapseProject, and higher-order bodies re-evaluate non-bound
    # subtrees per element — the md5-heavy signature would recompute
    # once per BAND (the k-means argmin-per-dimension lesson)
    band_arr = bind_once(
        minhash_signature_expr(tokens_col, num_hashes),
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.md5(
                F.concat_ws("|", F.slice(s, b * band_size + 1, band_size))
            ),
        ),
    )
    return df.select(
        F.col(id_col),
        F.posexplode(band_arr).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    num_hashes: int = 16,
    band_size: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH banding: docs sharing any (band_idx, band_hash)
    bucket become a candidate pair. Returns distinct (id_a, id_b,
    tokens_a, tokens_b) with id_a < id_b.

    Bucket-GROUPING formulation: band rows shuffle ONCE on
    (band_idx, band_hash), ids collect per bucket, and candidate pairs
    explode from each bucket's sorted id list — so the md5-heavy
    signature stage has exactly ONE consumer and runs once, with no
    persist (round 2 cached the token table instead, but a library
    persist has no owner to unpersist it and at scale pins the
    corpus-sized token table in executor storage; a self-join variant
    recomputes the signatures per side, since the higher-order-function
    lambdas don't canonicalize equal for ReusedExchange). LSH buckets
    are small by construction (band_size rows of agreement); a
    degenerate hot bucket (boilerplate corpus) produces its k² pairs
    from one task — the same pairs a self-join would emit, minus AQE's
    ability to split them; raise band_size if bucket sizes degenerate.

    ``max_bucket_size``: skip buckets with more members than this —
    the 100 TB guard against the k² blowup on boilerplate corpora
    (a bucket of 10⁶ identical-boilerplate docs would emit 5·10¹¹
    pairs from ONE task). Skipped docs are typically exact or
    near-exact duplicates better handled by exact dedup upstream;
    use ``lsh_bucket_stats`` with the same parameters to see what a
    cap would skip — silent truncation is not acceptable, measured
    truncation is.
    """
    bands = band_table(df, id_col, tokens_col, num_hashes, band_size)
    buckets = (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("__ids"))
        .where(F.size("__ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("__ids") <= max_bucket_size)
    combos = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("__ids"), i + 2, F.greatest(F.size("__ids") - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    pairs = (
        buckets.select(F.explode(combos).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )
    # re-join the token sets for the verify stage — a cheap projection
    # of the input, no signature recompute
    toks_a = df.select(F.col(id_col).alias("id_a"), F.col(tokens_col).alias("tokens_a"))
    toks_b = df.select(F.col(id_col).alias("id_b"), F.col(tokens_col).alias("tokens_b"))
    return pairs.join(toks_a, "id_a").join(toks_b, "id_b")


def lsh_detection_prob(threshold: float, num_hashes: int, band_size: int) -> float:
    """P(two sets with Jaccard ``threshold`` share at least one LSH
    band) for a ``num_hashes``-long MinHash signature banded into rows
    of ``band_size``: 1 - (1 - t^r)^b — the standard S-curve
    (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch.3;
    public method)."""
    b = num_hashes // band_size
    return 1.0 - (1.0 - threshold**band_size) ** b


def lsh_plan(
    threshold: float,
    min_recall: float = 0.95,
    max_fp_sim: float | None = None,
    max_fp_prob: float = 0.05,
    max_hashes: int = 128,
) -> dict:
    """Choose (num_hashes, band_size) for MinHash-LSH from the
    OPERATING REQUIREMENTS instead of folklore defaults: the cheapest
    configuration whose S-curve detects true pairs (J >= threshold)
    with probability >= ``min_recall`` while — optionally — keeping
    the candidate probability of a dissimilar pair (J = max_fp_sim)
    <= ``max_fp_prob``.

    Cost model: signature length (num_hashes) dominates both compute
    (one md5-derived hash per position per gram) and the band-table
    shuffle (n_bands rows per doc), so the search minimizes num_hashes
    first, then n_bands. Returns the config plus its predicted curve
    points; raises ValueError when no configuration within
    ``max_hashes`` satisfies the constraints (the caller should relax
    recall or raise the budget — silence would under-dedup).

    100 TB relevance: recall here is PER-PAIR detection probability —
    a fleet-scale corpus has billions of true pairs, so an
    85%-detection default silently misses ~15% of near-dups; this
    makes the trade explicit and testable (the empirical leg lives in
    tests/test_operators.py)."""
    best = None
    for num_hashes in range(2, max_hashes + 1):
        for band_size in range(1, num_hashes + 1):
            if num_hashes % band_size:
                continue
            recall = lsh_detection_prob(threshold, num_hashes, band_size)
            if recall < min_recall:
                continue
            if max_fp_sim is not None:
                fp = lsh_detection_prob(max_fp_sim, num_hashes, band_size)
                if fp > max_fp_prob:
                    continue
            n_bands = num_hashes // band_size
            key = (num_hashes, n_bands)
            if best is None or key < (best["num_hashes"], best["n_bands"]):
                best = {
                    "num_hashes": num_hashes,
                    "band_size": band_size,
                    "n_bands": n_bands,
                    "recall_at_threshold": recall,
                    "fp_prob_at_max_fp_sim": (
                        lsh_detection_prob(max_fp_sim, num_hashes, band_size)
                        if max_fp_sim is not None
                        else None
                    ),
                }
        if best is not None and best["num_hashes"] == num_hashes:
            break  # num_hashes is the primary cost — first feasible wins
    if best is None:
        raise ValueError(
            f"lsh_plan: no (num_hashes<=#{max_hashes}, band_size) reaches "
            f"recall {min_recall} at J={threshold}"
            + (
                f" with FP prob <= {max_fp_prob} at J={max_fp_sim}"
                if max_fp_sim is not None
                else ""
            )
            + " — relax the constraints or raise max_hashes"
        )
    return best


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 16,
    band_size: int = 2,
    ngram: int = 1,
    max_bucket_size: int | None = None,
    share_scan: bool = True,
) -> DataFrame:
    """Near-duplicate pairs: MinHash-LSH candidates verified with exact
    Jaccard >= threshold. Returns (id_a, id_b, jaccard).

    ``share_scan`` (default True): the shingle table feeds THREE
    consumers inside ``lsh_candidate_pairs`` (the signature/band stage
    plus the two verify-side token re-joins), and Spark re-executes
    unshared subplans — each re-execution re-scans and re-shingles the
    corpus. The lazy localCheckpoint shares it (the device
    ``incremental_lsh_pairs`` measured at -31% on the sf0.1 ingest);
    usual caveats — snapshot on first action, non-fault-tolerant local
    blocks, pass False on preemptible clusters."""
    toks = shingle_table(df, id_col, text_col, ngram, drop_empty=True)
    # spread the md5-heavy signature stage: a small input file arrives
    # as one split, which would serialize the hashing on a single core
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = toks.repartition(par, id_col)
    if share_scan:
        toks = toks.localCheckpoint(eager=False)
    cand = lsh_candidate_pairs(
        toks, id_col, "__tokens", num_hashes, band_size, max_bucket_size
    )
    return (
        cand.withColumn("jaccard", jaccard_expr(F.col("tokens_a"), F.col("tokens_b")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_bucket_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    band_size: int = 2,
    ngram: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Observability for the LSH bucket distribution: one row per
    multi-member bucket with its size, emitted pair count, and whether
    a ``max_bucket_size`` cap would skip it — run this (cheap: stops at
    the bucket aggregate, no pair explode) before/alongside a capped
    dedup so truncation is measured, not silent."""
    toks = shingle_table(df, id_col, text_col, ngram, drop_empty=True)
    # same lambda-binding as band_table: the signature must compute
    # once per row, not once per band
    bands = band_table(toks, id_col, "__tokens", num_hashes, band_size)
    out = (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .where(F.col("bucket_size") > 1)
        .withColumn(
            "n_pairs", (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2).cast("long")
        )
    )
    capped = (
        F.lit(False)
        if max_bucket_size is None
        else F.col("bucket_size") > max_bucket_size
    )
    return out.withColumn("capped", capped)


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 60,
    n_bands: int = 4,
    sig_table: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs within a Hamming ball: docs whose
    60-bit signatures differ in <= ``max_hamming`` bits.

    Exact-signature grouping (``dedup_simhash``) misses the SimHash
    operating point — near-dups usually land 1-3 bits apart (the
    reference's whole purpose in A7 dedup is catching NON-identical
    duplicates, merge_duplicate_seq.py:20-85). Pigeonhole blocking
    makes the ball reachable by equi-join: split the signature into
    ``n_bands`` contiguous bit bands; distance <= max_hamming < n_bands
    flips at most max_hamming bands, so at least one band is untouched
    and the pair collides on that band's key. Candidates come from ONE
    shuffled equi-join on (band_idx, band_bits) — never all-pairs —
    then exact ``bit_count(xor)`` verifies the distance. 100% recall
    inside the ball, same bucket-join scale shape as MinHash-LSH.

    ``sig_table``: a precomputed ``simhash()`` frame (id_col, simhash)
    to band instead of re-deriving signatures from text — callers that
    also consume the signatures directly (dedup_simhash_board) share
    ONE signature pass this way.
    """
    assert max_hamming < n_bands, "pigeonhole needs max_hamming < n_bands"
    width = bits // n_bands
    mask = (1 << width) - 1
    sig = sig_table if sig_table is not None else simhash(df, id_col, text_col, bits)
    band_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))
            for b in range(n_bands)
        ]
    )
    bands = sig.select(
        F.col(id_col), F.col("simhash"), F.posexplode(band_arr).alias("band_idx", "band_bits")
    )
    a = bands.select(
        "band_idx", "band_bits", F.col(id_col).alias("id_a"), F.col("simhash").alias("__sig_a")
    )
    b = bands.select(
        "band_idx", "band_bits", F.col(id_col).alias("id_b"), F.col("simhash").alias("__sig_b")
    )
    return (
        a.join(b, ["band_idx", "band_bits"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__sig_a", "__sig_b")
        .distinct()
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__sig_a").bitwiseXOR(F.col("__sig_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float,
    ngram: int = 1,
    strategy: str = "prefix",
    share_scan: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs within blocking keys — the
    same result set under two physical strategies:

    - ``strategy="prefix"`` (default, the scale path): an
      AllPairs/PPJoin-style prefix-filtered set-similarity self-join
      (Bayardo et al. 2007; Xiao et al. 2008 — public method). Each
      document's DISTINCT gram set is ordered rarest-first by global
      document frequency; if J(A,B) >= t, the first
      |X| - ceil(t*|X|) + 1 grams of EACH side must share a gram (any
      fixed total order; rarest-first makes prefix grams rare so the
      candidate equi-join on (block, gram) stays sparse), so
      candidates = prefix-gram join, then the exact Jaccard verifies.
      Measured r9 at sf0.1 (5k docs, lang blocks, t=0.3): 125 s
      block-quadratic -> ~3 s prefix — and the asymptotic shape
      changes from block² to candidates.
    - ``strategy="block"``: the naive blocked all-pairs verify kernel
      (quadratic within block) — retained as the oracle-shaped
      reference and for post-LSH verification where the input IS the
      candidate set.
    """
    base = shingle_table(df, id_col, text_col, ngram, keep_cols=block_cols)
    if strategy == "block":
        a = base.select(*block_cols, F.col(id_col).alias("id_a"), F.col("__tokens").alias("tokens_a"))
        b = base.select(*block_cols, F.col(id_col).alias("id_b"), F.col("__tokens").alias("tokens_b"))
        return (
            a.join(b, block_cols)
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("jaccard", jaccard_expr(F.col("tokens_a"), F.col("tokens_b")))
            .where(F.col("jaccard") >= threshold)
            .select(*block_cols, "id_a", "id_b", "jaccard")
        )
    if strategy != "prefix":
        raise ValueError(f"jaccard_pairs: unknown strategy {strategy!r}")

    # the gram table feeds the df-count, the ordered prefixes, and the
    # verify joins — share the shingle derivation (multiplied-subplan
    # rule; usual lazy-localCheckpoint caveats)
    if share_scan:
        base = base.localCheckpoint(eager=False)
    cand = _prefix_candidates(base, id_col, block_cols, threshold)
    ta = base.select(
        *block_cols, F.col(id_col).alias("id_a"), F.col("__tokens").alias("tokens_a")
    )
    # the b-side token join carries the block keys too (r10): ids only
    # need to be unique WITHIN a block — with per-block id spaces (each
    # block an independent dataset, a legitimate blocked-dedup shape) a
    # bare id_b join would serve token arrays from the wrong block and
    # silently mis-verify (caught by tests/test_jaccard_property.py)
    tb = base.select(
        *block_cols, F.col(id_col).alias("id_b"), F.col("__tokens").alias("tokens_b")
    )
    verified = (
        cand.join(ta, [*block_cols, "id_a"])
        .join(tb, [*block_cols, "id_b"])
        .withColumn("jaccard", jaccard_expr(F.col("tokens_a"), F.col("tokens_b")))
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select(*block_cols, "id_a", "id_b", "jaccard")


def _prefix_candidates(
    base: DataFrame,
    id_col: str,
    block_cols: list[str],
    threshold: float,
    positional: bool = True,
) -> DataFrame:
    """Candidate (block, id_a, id_b) pairs of the AllPairs prefix
    filter over a shingle_table frame, with the PPJoin POSITIONAL
    filter (Xiao et al. 2008) applied inside the prefix join (r10):
    a shared gram at 0-based order-positions (i, j) of sets sized
    (n_a, n_b) bounds the overlap by min(i,j) + 1 +
    min(n_a-i-1, n_b-j-1); a pair survives only if some shared prefix
    gram's bound could still pass the verify. The pass test is
    expressed in the VERIFY'S OWN float semantics —
    ``double(bound) / double(n_a + n_b - bound) >= t`` — because the
    gate of record is jaccard_expr's double division, and IEEE
    correctly-rounded division is monotone in the exact quotient: for
    any true overlap o <= bound, fl(o/(s-o)) <= fl(bound/(s-bound)),
    so a bound that fails here proves every o <= bound fails the
    verify. (An exact-rational alpha test is WRONG here — at knife
    edges like o/u = 4/5 vs t = the 0.8 double, the float quotient
    rounds UP to exactly t and the verify accepts a pair whose exact
    J is below t's exact rational value; caught by
    tests/test_jaccard_property.py.) Result set provably identical to
    the unfiltered prefix join + verify."""
    grams = base.select(*block_cols, F.col(id_col), F.explode("__tokens").alias("__g"))
    dfreq = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    # rarest-first total order (ties on the gram string — any FIXED
    # order is correct; frequency order is what keeps prefixes sparse)
    ordered = (
        grams.join(dfreq, "__g")
        .groupBy(*block_cols, id_col)
        .agg(F.array_sort(F.collect_list(F.struct("__df", "__g"))).alias("__ord"))
    )
    # prefix length p = |X| - floor(t*|X|) + 1 (>= the theoretical
    # ceil form, so never under-generates; float-edge-proof)
    p = (
        F.size("__ord")
        - F.floor(F.lit(float(threshold)) * F.size("__ord")).cast("int")
        + F.lit(1)
    )
    prefixes = ordered.select(
        *block_cols,
        F.col(id_col),
        F.size("__ord").alias("__n"),
        F.posexplode(F.slice("__ord", F.lit(1), p)).alias("__i", "__e"),
    ).select(
        *block_cols, id_col, "__n", "__i", F.col("__e.__g").alias("__g")
    )
    pa = prefixes.select(
        *block_cols, F.col(id_col).alias("id_a"),
        F.col("__n").alias("__na"), F.col("__i").alias("__ia"), "__g",
    )
    pb = prefixes.select(
        F.col(id_col).alias("id_b"),
        F.col("__n").alias("__nb"), F.col("__i").alias("__ib"), "__g",
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
    )
    joined = pa.join(
        pb,
        [pa["__g"] == pb["__g"]]
        + [pa[c] == pb[f"__b_{c}"] for c in block_cols],
    ).where(F.col("id_a") < F.col("id_b"))
    if positional:
        # overlap upper bound for THIS shared gram, tested in the
        # verify's float semantics (see docstring — monotone rounding
        # makes the drop provably safe)
        bound = (
            F.least("__ia", "__ib")
            + F.lit(1)
            + F.least(
                F.col("__na") - F.col("__ia") - 1,
                F.col("__nb") - F.col("__ib") - 1,
            )
        )
        union_floor = (F.col("__na") + F.col("__nb") - bound).cast("double")
        joined = joined.where(
            bound.cast("double") / union_floor >= F.lit(float(threshold))
        )
    return joined.select(*block_cols, "id_a", "id_b").distinct()


def cdc_chunk_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    divisor: int = 16,
    min_words: int = 8,
    max_words: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Content-defined chunking (the Rabin/FastCDC family, public
    method): split each document at WORD positions where a hash of the
    trailing ``window``-word context is ≡ 0 (mod ``divisor``) —
    boundaries determined by CONTENT, not offsets, so an insertion
    near the head re-chunks only up to the first downstream boundary
    and every later chunk keeps its identity (the shift-resistance
    property fixed-window segmentation lacks; pinned in pytest).
    Expected chunk length ≈ divisor words, bounded to
    [min_words, max_words]: candidate cuts closer than min_words to
    the previous accepted cut are skipped (the FastCDC minimum), and
    intervals longer than max_words force arithmetic cuts (identity
    shift-resistance holds only within such an oversized stretch —
    the same trade FastCDC's forced cut makes).

    Returns one row per (id, chunk_idx, chunk, chunk_hash). All
    column expressions (transform/filter/aggregate/xxhash64) — the
    per-row cost is O(n_words · window) hash characters; for the true
    O(n) rolling polynomial see :func:`cdc_chunk_table_rolling`.

    ``hash_fn``: 'xxhash64' (default — fastest, Spark-only) or 'md5'
    (the codebase's 60-bit md5 integer, replayable bit-exactly by a
    DuckDB oracle — the registered ``dedup_cdc_chunking`` query uses
    this so boundary decisions are cross-engine value-checked)."""
    # THE COST MODEL LIVES IN LAMBDA BINDING. Higher-order-function
    # bodies are interpreted per element with NO subexpression
    # elimination, so any non-lambda-variable subtree inside a lambda
    # re-evaluates per element. Three generations of blowup fixed
    # here, each measured in NOTES_ROUND11's CDC scaling table:
    # (1) `cuts` referenced 4x re-ran the entire candidate-hash scan
    #     per reference (~20x wall on the md5 variant at sf0.01);
    # (2) exploding (a, b] interval structs and slicing in a follow-up
    #     projection carried the FULL words array into every Generate
    #     output row — O(n²/divisor) copying per document;
    # (3) the words SPLIT expression referenced inside the candidate
    #     filter's lambda re-split the whole document once per word
    #     position — O(n²) in characters (4.3 s -> 20.5 s from 500- to
    #     2000-word docs at CONSTANT total words).
    # Everything therefore nests inside ONE singleton transform that
    # binds the split result as a lambda VALUE `w`, with `cuts` bound
    # the same way one level down.
    def _ctx_hash(w, i):
        ctx = F.concat_ws(" ", F.slice(w, i - window + 1, window))
        if hash_fn == "md5":
            return F.conv(F.substring(F.md5(ctx), 1, 15), 16, 10).cast("long")
        return F.xxhash64(ctx)

    def _chunks_of(w):
        n = F.size(w)
        # candidate cut AFTER word i (1-based), needing i >= window so
        # the context is full
        cand = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (i >= window) & (F.pmod(_ctx_hash(w, i), F.lit(divisor)) == 0),
        )
        # FastCDC minimum: fold candidates left-to-right, accept a cut
        # only min_words past the previous accepted one; the tail cut
        # (append n when the last accepted cut falls short) lives in
        # the finish lambda so `acc` is referenced as a bound value
        cuts = F.aggregate(
            cand,
            F.array(F.lit(0)),
            lambda acc, c: F.when(
                c - F.element_at(acc, -1) >= min_words, F.concat(acc, F.array(c))
            ).otherwise(acc),
            lambda acc: F.when(
                F.element_at(acc, -1) < n, F.concat(acc, F.array(n))
            ).otherwise(acc),
        )
        # intervals (a, b] with forced arithmetic sub-cuts past
        # max_words, materialized directly as chunk strings
        return bind_once(
            cuts,
            lambda cs: F.flatten(
                F.transform(
                    F.sequence(F.lit(2), F.size(cs)),
                    lambda j: F.transform(
                        F.sequence(
                            F.element_at(cs, (j - 1).cast("int")),
                            F.element_at(cs, j.cast("int")) - 1,
                            F.lit(max_words),
                        ),
                        lambda a: F.concat_ws(
                            " ",
                            F.slice(
                                w,
                                (a + 1).cast("int"),
                                F.least(
                                    F.lit(max_words),
                                    F.element_at(cs, j.cast("int")) - a,
                                ).cast("int"),
                            ),
                        ),
                    ),
                )
            ),
        )

    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    chunk_arr = bind_once(words, _chunks_of)
    chunks = df.select(
        F.col(id_col),
        F.posexplode(chunk_arr).alias("chunk_idx", "chunk"),
    )
    return chunks.where(F.length("chunk") > 0).withColumn(
        "chunk_hash", F.xxhash64("chunk")
    )


def cdc_chunk_table_rolling(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    divisor: int = 16,
    min_words: int = 8,
    max_words: int = 64,
) -> DataFrame:
    """Content-defined chunking with a TRUE O(n)-per-document rolling
    polynomial (the Rabin fingerprint the method is named for — the
    100 TB follow-up :func:`cdc_chunk_table`'s docstring promises):
    instead of re-concatenating and re-hashing the ``window``-word
    context at every position (O(n·window) characters per row), an
    Arrow-batched ``mapInPandas`` kernel rolls

        h_i = (h_{i-1}·B + x_i − x_{i-window}·B^window) mod M

    over per-word CRC32 codes — O(1) per word, one pass per document
    (B = 1e6+3, M = 2^61−1; incremental == from-scratch window hash is
    pinned in pytest, so the O(n) trick provably computes the same
    boundary decisions a naive per-window hash would).

    Same cut policy as the column-algebra variant — candidate where
    the context hash ≡ 0 (mod divisor), greedy FastCDC minimum,
    forced arithmetic cuts past ``max_words`` — but a DIFFERENT hash
    family, so boundary POSITIONS differ by design while every
    property (shift resistance, expected/bounded chunk length,
    concat-identity) holds for both; the shared property suite runs
    against each. Returns (id, chunk_idx, chunk, chunk_hash) like the
    column variant (chunk_hash = the codebase's 60-bit md5 integer).

    100 TB shape: the kernel is per-row independent (no state across
    documents), Arrow-batched, and emits chunk rows only — the
    downstream dup aggregate still shuffles (id, hash) pairs alone.
    NOTES_ROUND11 measures the per-word cost staying flat (~0.35 s
    per million words) as documents grow 500→8000 words, while the
    column variant's grows with window·n."""
    import hashlib
    import zlib

    id_type = dict(df.dtypes)[id_col]
    out_schema = (
        f"{id_col} {id_type}, chunk_idx int, chunk string, chunk_hash long"
    )
    B = 1_000_003
    M = (1 << 61) - 1
    bw = pow(B, window, M)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            out_id, out_idx, out_chunk, out_hash = [], [], [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                ws = str(text).strip().lower().split()
                n = len(ws)
                xs = [zlib.crc32(w.encode()) + 1 for w in ws]
                cuts = [0]
                h = 0
                for i in range(n):
                    h = (h * B + xs[i]) % M
                    if i >= window:
                        h = (h - xs[i - window] * bw) % M
                    pos = i + 1
                    if (
                        pos >= window
                        and h % divisor == 0
                        and pos - cuts[-1] >= min_words
                    ):
                        cuts.append(pos)
                if cuts[-1] < n:
                    cuts.append(n)
                k = 0
                for j in range(1, len(cuts)):
                    a, b = cuts[j - 1], cuts[j]
                    while a < b:
                        e = min(a + max_words, b)
                        chunk = " ".join(ws[a:e])
                        if chunk:
                            out_id.append(rid)
                            out_idx.append(k)
                            out_chunk.append(chunk)
                            out_hash.append(
                                int(
                                    hashlib.md5(chunk.encode()).hexdigest()[:15],
                                    16,
                                )
                            )
                            k += 1
                        a = e
            yield pd.DataFrame(
                {
                    id_col: out_id,
                    "chunk_idx": out_idx,
                    "chunk": out_chunk,
                    "chunk_hash": out_hash,
                }
            )

    return df.select(id_col, text_col).mapInPandas(kernel, out_schema)


def cdc_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    strategy: str = "column",
    share_scan: bool = True,
    **chunk_kwargs,
) -> DataFrame:
    """Per-document chunk-level dup report over CDC chunks: (id,
    n_chunks, n_dup_chunks, dup_fraction) where a chunk is dup if its
    hash appears in ≥2 documents corpus-wide. The 100 TB shape: only
    (id, hash) pairs shuffle — chunk text never leaves the map side;
    one hash aggregate + one equi-join, the segment_dedup layout with
    shift-resistant boundaries. ``strategy``: 'column' (pure column
    algebra, engine-replayable) or 'rolling' (the O(n) Rabin kernel,
    :func:`cdc_chunk_table_rolling`). ``share_scan``: the (id, hash)
    pair table feeds two consumers (the dup aggregate and the join
    back) — the lazy localCheckpoint runs the chunker ONCE instead of
    per consumer (segment_dedup's device, with its trade-offs:
    executor-local blocks, snapshot-on-first-action)."""
    chunker = cdc_chunk_table_rolling if strategy == "rolling" else cdc_chunk_table
    ch = chunker(df, id_col, text_col, **chunk_kwargs)
    pairs = ch.select(F.col(id_col), "chunk_hash")
    if share_scan:
        pairs = pairs.localCheckpoint(eager=False)
    dup_hashes = _multi_doc_keys(pairs, "chunk_hash", id_col, 2)
    flagged = pairs.join(
        dup_hashes.withColumn("__dup", F.lit(1)), "chunk_hash", "left"
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.coalesce("__dup", F.lit(0))).alias("n_dup_chunks"),
        F.round(
            F.sum(F.coalesce("__dup", F.lit(0))) / F.count(F.lit(1)), 6
        ).alias("dup_fraction"),
    )


def token_fingerprint(text_col: str | Column) -> Column:
    """Canonical document fingerprint: md5 of the sorted distinct token
    set — robust to word order and repetition (the A6/A7 'sequence
    dedup key' analog for text)."""
    return F.md5(F.concat_ws(" ", F.array_sort(tokens_expr(text_col))))


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64
) -> DataFrame:
    """64-bit SimHash over whitespace tokens, computed relationally:
    explode tokens → per-token md5-derived bit pattern → per-bit
    weighted vote via bit arithmetic in a single aggregate.

    Each token contributes +1/-1 per bit; the signature sets bit i iff
    the sum is positive. Implemented as sum over ((h >> i) & 1)*2-1
    for the low 32 and high 32 bits separately to stay in longs.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("__tok")
    )
    # stable 64-bit token hash from md5 (first 15 hex chars < 2^60 keeps
    # conv() exact; xxhash64 would be Spark-only)
    h = F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10).cast("long")
    toks = toks.withColumn("__h", h)
    votes = [
        F.sum(((F.shiftright(F.col("__h"), i) % 2) * 2 - 1)).alias(f"__b{i}")
        for i in range(bits if bits <= 60 else 60)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sig = None
    nb = bits if bits <= 60 else 60
    for i in range(nb):
        bit = F.when(F.col(f"__b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig + term
    return agg.select(F.col(id_col), sig.alias("simhash"))


def segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = 4,
    max_docs: int = 1,
    share_scan: bool = True,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """CCNet-style duplicated-segment removal: split every document
    into consecutive ``seg_words``-word segments (pseudo-paragraphs —
    the corpus has no newlines, so fixed word windows play the role
    CCNet's '\\n'-split paragraphs do), count each distinct segment's
    document frequency corpus-wide, drop segments appearing in more
    than ``max_docs`` documents, and reassemble the surviving segments
    in original order.

    The 100 TB shape: only (id, seg_idx, hash) triples ever shuffle —
    the segment TEXT never leaves its map side, keyed by xxhash64
    (8-byte long, 4× less shuffle payload than an md5 hex string; a
    64-bit collision merges two segments' dup decisions — the
    accepted hash-dedup risk). One narrow posexplode
    feeds (a) the duplicated-key aggregate (map-side partial agg; the
    over-cap table is duplicate-surface-sized) and (b) the equi-join
    that collects each doc's removed indexes (a tiny per-doc int
    array); the final pass re-splits the original text map-side and
    drops the removed indexes with JVM array expressions. Compared to
    shuffling segments through a sort-aggregate reassembly, the
    shuffle payload is ~seg_words× smaller and the reassembly is
    shuffle-free. Returns (id_col, n_segs, n_removed, scrubbed_text)."""

    def ws_of(col: str):
        return F.split(F.trim(F.col(col)), " ")

    def seglist_from(ws):
        # `ws` must be a MATERIALIZED column reference, never the raw
        # split expression (the HOF lesson, see cdc_chunk_table's
        # cost-model comment): the slice inside the per-element lambda
        # re-evaluates its operand per segment, which would re-split
        # the document once per segment — O(n²/seg_words) chars on
        # long documents. Referencing the attribute >= 2x also keeps
        # CollapseProject from inlining the split back in.
        #
        # r14 note: substring_dedup's word-hash-slice gram key was
        # A/B'd here too and LOST (0.65 s → 0.75 s at sf0.1): with
        # ALIGNED seg_words-word segments each word is joined+hashed
        # exactly once either way, so per-word hashing only adds
        # seg_words× more xxhash64 invocations over the same char
        # volume. The string-join key stays.
        n_segs = F.ceil(F.size(ws) / F.lit(float(seg_words))).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda s: F.array_join(F.slice(ws, s * seg_words + 1, seg_words), " "),
        )

    # the segment table feeds two consumers (dup aggregate + removed
    # join); with share_scan the lazy localCheckpoint shares one
    # computation at the RDD level instead of re-exploding the corpus
    # per consumer (measured -19% at sf0.1). The trade, stated fully:
    # the (id, idx, hash) triples materialize to executor-LOCAL disk
    # (roughly the bytes the exchange moves anyway); the returned
    # frame SNAPSHOTS on its first action (a later action re-serves
    # the checkpointed blocks even if the source files changed); and
    # local checkpoints are not fault-tolerant — losing an executor
    # loses its blocks with no recompute path. Pass share_scan=False
    # on clusters with preemptible executors or when the frame must
    # re-read live sources per action; the result is identical.
    ex = (
        df.select(F.col(id_col), ws_of(text_col).alias("__sws"))
        .select(
            F.col(id_col),
            F.posexplode(seglist_from(F.col("__sws"))).alias("__seg_idx", "__seg"),
        )
        .select(id_col, "__seg_idx", F.xxhash64(F.col("__seg")).alias("__k"))
    )
    if share_scan:
        ex = ex.localCheckpoint(eager=False)
    dup = _multi_doc_keys(ex, "__k", id_col, max_docs + 1)
    removed = (
        ex.join(dup, "__k")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("__seg_idx")).alias("__rm"))
    )
    rm = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
    # bind the split chain to a REAL column before the element-wise
    # reassembly: Spark re-evaluates higher-order-function operands
    # per lambda element, so passing the raw split expression into
    # _drop_positions re-splits the document once per segment
    # (measured 3.5x on the sf0.1 bench); a materialized projection
    # is evaluated once (CollapseProject keeps non-cheap multi-use
    # aliases in their own project)
    joined = (
        df.join(removed, id_col, "left")
        .withColumn("__sws", ws_of(text_col))
        .withColumn("__segs", seglist_from(F.col("__sws")))
    )
    segs = F.col("__segs")
    kept = _drop_positions(segs, rm)
    # `passthrough` (r15): extra df columns carried through the
    # reassembly for free — the final map-side pass already holds the
    # full input row, so a caller that needs e.g. `source` downstream
    # names it here instead of re-joining the corpus afterwards (at
    # scale that re-join is a second full shuffle or an
    # everything-broadcast; see corpus_curation_e2e).
    return joined.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        F.size(segs).cast("long").alias("n_segs"),
        F.size(rm).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("scrubbed_text"),
    )


def substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    max_docs: int = 1,
    share_scan: bool = True,
) -> DataFrame:
    """Exact substring deduplication (the "Deduplicating Training Data
    Makes Language Models Better" recipe at word granularity): every
    SLIDING ``k``-word gram whose corpus-wide document frequency
    exceeds ``max_docs`` marks ALL token positions it covers for
    removal — in every document containing it — and the surviving
    tokens reassemble in order. Unlike ``segment_dedup``'s aligned
    fixed windows, sliding grams catch duplicated spans at ANY offset,
    so a boilerplate sentence pasted mid-paragraph is excised even when
    no segment boundary lines up with it.

    The 100 TB shape mirrors ``segment_dedup``: only
    (id, gram_pos, hash) triples shuffle — gram TEXT never leaves its
    map side, and the gram key is xxhash64 (an 8-byte long, 4× less
    shuffle payload than an md5 hex string and measurably cheaper to
    compute; a 64-bit collision merges two grams' dup decisions, the
    same accepted risk every hash-based dedup takes). The
    duplicated-gram aggregate is map-side partial
    (countDistinct over hash keys); the coverage pass explodes each
    duplicated occurrence into its k positions (duplicate-surface-
    sized, not corpus-sized) and collects a tiny per-doc int set; the
    final pass re-splits the original text map-side and drops covered
    positions with JVM array expressions — reassembly is shuffle-free.
    Returns (id_col, n_tokens, n_removed, scrubbed_text)."""
    def ws_of(col: str):
        return F.split(F.trim(F.col(col)), " ")

    def gramlist_from(wh):
        # `wh` must be a MATERIALIZED column reference, never a raw
        # expression: the slice inside the per-element lambda
        # re-evaluates its operand per gram (the HOF lesson from
        # _drop_positions/ngrams_from_words), which would redo the
        # work once per token — O(n²) on long documents
        n = F.size(wh) - F.lit(k - 1)
        # guard the sequence: n <= 0 would generate a DESCENDING range
        # (the packing zero-token lesson), so short docs get no grams
        return F.when(
            n > 0,
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda s: F.xxhash64(F.slice(wh, s + 1, k)),
            ),
        ).otherwise(F.array().cast("array<long>"))

    # same sharing trade (and caveats) as segment_dedup's segment
    # table: the gram table feeds the dup aggregate AND the coverage
    # join — checkpoint once instead of re-exploding k-word grams per
    # consumer (measured -44% at sf0.1; gram fan-out is ~k× the token
    # count, so the second pass is the operator's single largest
    # cost). share_scan=False restores the pure-plan recompute path.
    #
    # r14 gram-key optimization (guide §1.2 per-task work): hash each
    # WORD once (one xxhash64 per token) and key each gram as
    # xxhash64 over the k-long slice of word hashes, instead of
    # re-joining the gram's k words into a fresh string per gram —
    # that string build copied O(k) chars per gram, ~8× the payload
    # this hashes. Measured: the gram build+aggregate pass 1.18 s →
    # 0.66 s at sf0.1, with the dup-coverage set IDENTICAL (the key
    # is still a deterministic 64-bit digest of the gram's word
    # sequence — same equality structure, same accepted 64-bit
    # collision risk; word-level hash collisions compose into gram
    # collisions at the same ~2^-64 order).
    occ = df.select(
        F.col(id_col),
        F.transform(ws_of(text_col), lambda w: F.xxhash64(w)).alias("__gwh"),
    ).select(
        F.col(id_col),
        F.posexplode(gramlist_from(F.col("__gwh"))).alias("__gpos", "__k"),
    )
    if share_scan:
        occ = occ.localCheckpoint(eager=False)
    dup = _multi_doc_keys(occ, "__k", id_col, max_docs + 1)
    # coverage pass (r14, guide §2.3 shuffle-fewer-bytes): aggregate
    # the duplicated GRAM positions per doc, then expand each gram to
    # its k covered token positions with array expressions AFTER the
    # aggregate — the previous explode-before-aggregate shape pushed
    # k× the rows (and k× the collect_set partial-state) through the
    # per-doc shuffle to carry information the gram position already
    # determines. Identical result (sorted distinct covered
    # positions; verified 0 diff rows both directions at sf0.1,
    # settled A/B 0.68 → 0.64 s; at scale the win is the k× row cut
    # on the duplicate-surface shuffle).
    removed = (
        occ.join(dup, "__k")
        .groupBy(id_col)
        .agg(F.collect_set("__gpos").alias("__gps"))
        .select(
            F.col(id_col),
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.transform(
                            F.col("__gps"),
                            lambda p: F.sequence(p, p + F.lit(k - 1)),
                        )
                    )
                )
            ).alias("__rm"),
        )
    )
    rm = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
    # same binding discipline as segment_dedup: materialize the token
    # array once; the HOF lambda must reference an attribute, not the
    # split expression
    joined = df.join(removed, id_col, "left").withColumn(
        "__ws", ws_of(text_col)
    )
    ws = F.col("__ws")
    kept = _drop_positions(ws, rm)
    return joined.select(
        F.col(id_col),
        F.size(ws).cast("long").alias("n_tokens"),
        F.size(rm).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("scrubbed_text"),
    )


def winnowing_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fp_docs: int | None = None,
    share_scan: bool = True,
) -> DataFrame:
    """Winnowing fingerprints (the MOSS local-fingerprinting scheme):
    hash every word ``ngram``, slide a ``window`` over the hash
    sequence keeping each window's minimum, and dedup the kept set —
    the selection guarantees any shared run of at least
    ``window + ngram - 1`` words produces at least one shared
    fingerprint, a POSITIONAL guarantee MinHash's random permutations
    don't give. Documents sharing >= ``min_shared`` fingerprints
    become candidate pairs.

    All selection is per-document JVM array math (no shuffle); the
    pair generation is one equi-self-join on the fingerprint value —
    the same bucket-join shape as LSH, so it inherits the same k²
    degenerate: a fingerprint shared by a million boilerplate docs
    emits its full pair square from one join group. ``max_fp_docs``
    is the guard (the `max_bucket_size` of this operator, measured
    quadratic in the replica scale probe without it): fingerprints
    appearing in more distinct documents are dropped before the pair
    join — such fingerprints are non-discriminative boilerplate, and
    the docs they connect remain connected through their rarer
    fingerprints or are exact-dedup material upstream. Returns
    (id_a, id_b, shared_fps).

    Each stage materializes in its OWN projection (the
    ngrams_from_words discipline): a sliding-window lambda slicing an
    INLINE hash subtree duplicates — not shares — that subtree, so the
    whole md5 pipeline re-evaluates once per window element (measured
    90 s vs 1.5 s at sf0.01); referencing a materialized column keeps
    every stage one pass per row, and the >=2 references per consumer
    stop CollapseProject re-inlining the upstream expression. Short
    documents are handled by WHEN guards producing empty arrays, and
    the fan-out uses explode_OUTER + a post-filter on the generated
    attribute: plain explode() triggers InferFiltersFromGenerate,
    whose inferred size(...)>0 filter pushes below the projections
    with the WHOLE un-staged expression tree substituted back in —
    the same per-window duplication, re-measured at ~50× the staged
    cost; explode_outer is exempt from that rule, and a filter on the
    generator's OUTPUT attribute cannot push below the Generate."""

    def guarded(size_col, min_n, expr, elem_type):
        return F.when(size_col >= min_n, expr).otherwise(
            F.array().cast(f"array<{elem_type}>")
        )

    base = df.select(F.col(id_col), words_expr(text_col).alias("__ws"))
    g = base.select(
        id_col,
        guarded(
            F.size("__ws"),
            ngram,
            F.transform(
                F.sequence(F.lit(1), F.size("__ws") - ngram + 1),
                lambda i: F.array_join(F.slice(F.col("__ws"), i, ngram), " "),
            ),
            "string",
        ).alias("__grams"),
    )
    h = g.select(
        id_col,
        F.transform(
            F.col("__grams"),
            lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long"),
        ).alias("__hs"),
    )
    f = h.select(
        id_col,
        guarded(
            F.size("__hs"),
            window,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("__hs") - window + 1),
                    lambda i: F.array_min(F.slice(F.col("__hs"), i, window)),
                )
            ),
            "bigint",
        ).alias("__fps"),
    )
    ex = f.select(id_col, F.explode_outer("__fps").alias("__fp")).where(
        F.col("__fp").isNotNull()
    )
    # the fingerprint table feeds up to four consumers (the cap's
    # groupBy + its join, and both self-join legs) and the winnow
    # derivation above it — shingle, md5, window-min, explode — is the
    # operator's expensive part; Spark re-executes unshared subplans,
    # so share it once via the lazy localCheckpoint device (usual
    # caveats: snapshot on first action, local blocks)
    if share_scan:
        ex = ex.localCheckpoint(eager=False)
    if max_fp_docs is not None:
        keep = (
            ex.groupBy("__fp")
            .agg(F.countDistinct(id_col).alias("__nd"))
            .where(F.col("__nd") <= max_fp_docs)
            .select("__fp")
        )
        # restore (id, fp) column order — the join puts the key first
        ex = ex.join(keep, "__fp").select(id_col, "__fp")
    a = ex.toDF("id_a", "__fp")
    b = ex.toDF("id_b", "__fp")
    # shuffle_hash, unconditionally: ex is scan → fingerprint explode
    # → join with NO shuffle boundary, so Catalyst sizes it at ~1x the
    # scan while the generator fans it ~len/window per doc — a scan
    # just under the broadcast threshold would be statically planned
    # as a multi-GB broadcast AQE cannot demote (the hazard the r7
    # interval scale probe measured at 143.6 s vs 16.0 s). For a
    # SELF-join of two identically-sized fanned sides a broadcast is
    # never the winning plan at scale, so the hint costs nothing.
    return (
        a.join(b.hint("shuffle_hash"), "__fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def exact_key_index(df: DataFrame, text_col: str) -> DataFrame:
    """The persistable artifact of exact incremental dedup: one ``key``
    column of distinct md5(text) values. Write it once, append each
    ingest's kept keys, and pass it back to ``incremental_dedup`` as
    ``base_keys`` so the recurring per-ingest cost never rescans the
    corpus. Persist through :func:`write_dedup_index` /
    :func:`read_dedup_index` — a TORN index is the one corruption
    parquet cannot catch by itself (see their docstrings)."""
    return df.select(F.md5(F.col(text_col)).alias("key")).distinct()


_INDEX_MANIFEST = "_dedup_index_manifest.json"


def _index_stats(df: DataFrame) -> tuple[int, int, list[str]]:
    """(row count, order-independent checksum, column names) of an
    index frame. The checksum is bit_xor over crc32 of the
    canonicalized row (columns joined in NAME order with an
    unprintable separator) — commutative and overflow-free, so it is
    partitioning- and order-independent, and together with the exact
    row count it detects any dropped/duplicated/bit-flipped row."""
    cols = sorted(df.columns)
    # concat_ws SKIPS nulls, which would let rows differing only in
    # WHICH column is null canonicalize identically — coalesce every
    # column to an unprintable sentinel first (the current indexes are
    # all-non-null, but the validator must not assume that)
    canon = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in cols],
    )
    row = df.select(canon.alias("__canon")).agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(crc32(__canon))").alias("x")
    ).collect()[0]
    return int(row["n"]), int(row["x"] or 0), cols


def write_dedup_index(
    index: DataFrame, path: str, partition_by: list[str] | None = None
) -> dict:
    """Persist a validated index artifact (``exact_key_index`` /
    ``lsh_band_index`` / the IVF cell table in
    operators/similarity.py) with a VALIDATION MANIFEST beside the
    parquet files.

    Why: a torn or partially-deleted index is the failure parquet
    cannot catch on its own — every surviving part-file is internally
    valid, so a plain ``spark.read.parquet`` returns a SUBSET of the
    keys and the next ingest silently under-dedups (r7 verdict #8's
    exact concern: corruption must fail loud, not quietly admit
    duplicates). The manifest pins (row count, order-independent
    checksum, column set) computed from a read-back of what was
    actually written; :func:`read_dedup_index` re-derives them and
    refuses a mismatch. ``partition_by`` lays the artifact out
    partitioned on disk (e.g. IVF cells by cell_id so probes prune to
    nprobe directories); the stats are column-NAME-sorted, so the
    read-back reordering of partition columns doesn't move the
    checksum. Returns the manifest dict."""
    import json
    import os

    w = index.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    try:
        back = index.sparkSession.read.parquet(path)
        n, x, cols = _index_stats(back)
    except Exception:
        # an empty PARTITIONED write leaves no schema-bearing file, so
        # its own read-back fails (r14) — clean up rather than leave a
        # torn manifest-less dir that every later read refuses, and
        # name the real cause instead of surfacing UNABLE_TO_INFER
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        raise ValueError(
            f"write_dedup_index: the index written to {path} could not "
            "be read back (an EMPTY frame with partition_by writes no "
            "schema-bearing parquet file) — refusing to leave a torn "
            "directory; write a non-empty index or skip the write"
        ) from None
    # r13: the manifest also pins the DATA FILE SET (relative paths),
    # so vacuum_index (operators/compact.py) can distinguish the
    # committed files from stragglers a crashed/zombie job appended —
    # the retention half of the fail-loud story: read refuses the
    # polluted directory, vacuum restores it to exactly the manifest.
    import glob as _glob

    files = sorted(
        os.path.relpath(f, path)
        for f in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    manifest = {
        "n_rows": n,
        "checksum_xor_crc32": x,
        "columns": cols,
        "files": files,
    }
    with open(os.path.join(path, _INDEX_MANIFEST), "w") as f:
        json.dump(manifest, f)
    return manifest


def read_dedup_index(spark, path: str) -> DataFrame:
    """Load a persisted dedup index, FAILING LOUD unless the data on
    disk matches the manifest written beside it: a missing manifest, a
    column-set change, or any count/checksum drift (torn write,
    deleted part-file, appended stragglers, bit flips that survive the
    parquet CRC granularity) raises ValueError naming the mismatch.
    Cost: one narrow scan of the index at load time — the index is
    keys/bands only, orders of magnitude smaller than the corpus it
    summarizes, and a silent under-dedup costs far more downstream."""
    import json
    import os

    mpath = os.path.join(path, _INDEX_MANIFEST)
    try:
        with open(mpath) as f:
            manifest = json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"read_dedup_index: no manifest at {mpath} — the index was "
            "not written by write_dedup_index or the write was torn "
            "before the manifest landed; refusing to serve an "
            "unvalidatable index"
        ) from None
    df = spark.read.parquet(path)
    n, x, cols = _index_stats(df)
    want = (manifest["n_rows"], manifest["checksum_xor_crc32"], manifest["columns"])
    if (n, x, cols) != want:
        raise ValueError(
            f"read_dedup_index: index at {path} does not match its "
            f"manifest (rows {n} vs {want[0]}, checksum {x} vs "
            f"{want[1]}, columns {cols} vs {want[2]}) — torn/partial "
            "write or post-write tampering; re-derive the index "
            "rather than silently under-deduplicating"
        )
    return df


def incremental_dedup(
    base: DataFrame | None,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    base_keys: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingest dedup: flag each DELTA document against the
    already-curated BASE corpus and against the delta itself, WITHOUT
    ever re-comparing base x base — the shape that keeps per-ingest
    cost O(delta) instead of O(corpus) as the corpus grows. Returns
    (id_col, dup_of_base, dup_within_delta, kept): ``dup_of_base`` if
    the md5(text) key exists in base, ``dup_within_delta`` if a
    smaller-id delta row shares the key, ``kept`` if neither — the
    rows an ingest pass would append.

    Scale shape: only md5 keys shuffle (never document text — the
    curation-funnel lesson); the delta side is one key-partitioned
    window. Pass ``base_keys`` (the persisted ``exact_key_index``,
    column ``key``) to skip the base scan entirely — the deployment
    path whose recurring cost is independent of corpus size;
    ``base=None`` is then allowed. Without it, the index is derived
    from ``base`` in-query (the fixture stand-in)."""
    if base_keys is None:
        if base is None:
            raise ValueError("incremental_dedup needs base or base_keys")
        base_keys = exact_key_index(base, text_col)
    base_keys = base_keys.select(F.col("key").alias("__key")).distinct()
    key = F.md5(F.col(text_col))
    w = Window.partitionBy("__key").orderBy(id_col)
    d = (
        delta.select(F.col(id_col), key.alias("__key"))
        .withColumn("__rn", F.row_number().over(w))
    )
    flagged = d.join(
        base_keys.withColumn("__in_base", F.lit(True)), "__key", "left"
    )
    dup_of_base = F.coalesce(F.col("__in_base"), F.lit(False))
    dup_within = F.col("__rn") > 1
    return flagged.select(
        F.col(id_col),
        dup_of_base.alias("dup_of_base"),
        dup_within.alias("dup_within_delta"),
        (~dup_of_base & ~dup_within).alias("kept"),
    )


def lsh_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    band_size: int = 4,
    ngram: int = 2,
) -> DataFrame:
    """The persistable artifact of incremental near-dup: the
    (id, band_idx, band_hash) MinHash-LSH band table. Write it once,
    append each ingest's kept rows, and pass it back to
    ``incremental_lsh_pairs`` as ``base_bands`` — the recurring
    per-ingest cost then never re-shingles the corpus."""
    toks = shingle_table(df, id_col, text_col, ngram, drop_empty=True)
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = toks.repartition(par, id_col)
    return band_table(toks, id_col, "__tokens", num_hashes, band_size)


def incremental_lsh_pairs(
    base: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    num_hashes: int = 16,
    band_size: int = 4,
    ngram: int = 2,
    max_bucket_size: int | None = None,
    base_bands: DataFrame | None = None,
    share_scan: bool = True,
) -> DataFrame:
    """Incremental NEAR-dup: the MinHash-LSH twin of
    ``incremental_dedup`` — every delta document probed against the
    curated base's band index AND against earlier delta documents,
    with base x base never recompared. Returns verified pairs
    (id_delta, id_other, side, jaccard) where side says whether the
    match came from the base index ('base') or a smaller-id delta row
    ('delta').

    Scale shape: pass ``base_bands`` (the persisted ``lsh_band_index``)
    and the base corpus is never re-shingled — candidates come from
    band-bucket equi-joins against the index (never a cross join), and
    the Jaccard verify shingles ONLY the candidate base rows (an
    id semi-join prunes the base read BEFORE the shingle projection),
    so recurring per-ingest cost is O(delta + candidates). Without
    ``base_bands`` the index is derived from ``base`` in-query (the
    sf-fixture stand-in). ``base`` itself is always required: the
    verify stage must fetch candidate documents' text, exactly as a
    deployment fetches them from the corpus store. ``max_bucket_size``
    drops over-cap base buckets before the probe join — the same
    measured k²-guard as ``lsh_candidate_pairs``."""
    toks_d = shingle_table(delta, id_col, text_col, ngram, drop_empty=True)
    par = delta.sparkSession.sparkContext.defaultParallelism
    # the delta shingle table feeds THREE consumers (band table, verify
    # left leg, verify delta-side right leg); as an unshared subplan
    # Spark would re-shingle the delta per consumer — the lazy
    # localCheckpoint turns that into one computation shared at the
    # RDD level (measured -31% on the sf0.1 ingest). Same caveats as
    # segment_dedup's share_scan: snapshot-on-first-action,
    # non-fault-tolerant local blocks; gate with share_scan=False on
    # preemptible clusters.
    toks_d = toks_d.repartition(par, id_col)
    if share_scan:
        toks_d = toks_d.localCheckpoint(eager=False)

    bb = (
        base_bands
        if base_bands is not None
        else lsh_band_index(base, id_col, text_col, num_hashes, band_size, ngram)
    )
    db = band_table(toks_d, id_col, "__tokens", num_hashes, band_size)
    if max_bucket_size is not None:
        ok = (
            bb.groupBy("band_idx", "band_hash")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") <= max_bucket_size)
            .select("band_idx", "band_hash")
        )
        bb = bb.join(ok, ["band_idx", "band_hash"], "left_semi")

    d_side = db.select(
        F.col(id_col).alias("id_delta"), "band_idx", "band_hash"
    )
    cand_base = (
        d_side.join(
            bb.select(F.col(id_col).alias("id_other"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .select("id_delta", "id_other")
        .distinct()
        .withColumn("side", F.lit("base"))
    )
    cand_delta = (
        d_side.join(
            db.select(F.col(id_col).alias("id_other"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .where(F.col("id_other") < F.col("id_delta"))
        .select("id_delta", "id_other")
        .distinct()
        .withColumn("side", F.lit("delta"))
    )

    ta = toks_d.select(F.col(id_col).alias("id_delta"), F.col("__tokens").alias("tokens_a"))
    # verify shingles ONLY candidate base rows: the id semi-join sits
    # below the shingle projection, so a persisted-index run reads (and
    # tokenizes) just the handful of matched documents, not the corpus
    base_needed = base.join(
        cand_base.select(F.col("id_other").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    toks_bn = shingle_table(base_needed, id_col, text_col, ngram).where(
        F.size("__tokens") > 0
    )
    tb_base = toks_bn.select(F.col(id_col).alias("id_other"), F.col("__tokens").alias("tokens_b"))
    tb_delta = toks_d.select(F.col(id_col).alias("id_other"), F.col("__tokens").alias("tokens_b"))
    verified = (
        cand_base.join(ta, "id_delta").join(tb_base, "id_other")
        .unionAll(cand_delta.join(ta, "id_delta").join(tb_delta, "id_other"))
        .withColumn("jaccard", jaccard_expr(F.col("tokens_a"), F.col("tokens_b")))
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("id_delta", "id_other", "side", "jaccard")
