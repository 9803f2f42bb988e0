"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is fully materialized with the noop sink (no driver
collect). Value = total wall seconds across the headline set.

Methodology — steady state, MEDIAN-OF-3: each pass REBUILDS every
query's DataFrame outside the timer (plan build + analysis stay
untimed, and a fresh frame means operators using lazy localCheckpoint
re-materialize honestly every pass — a reused frame would serve later
passes from pass-1 checkpoint blocks). A full untimed pass absorbs
JVM/JIT/codegen/Python-worker warmup, then THREE timed passes run
the same queries. The headline "value" is the median-sum (continuity
with earlier rounds); the per-query "queries" map reports each
query's MIN of the three passes — its noise floor on this box — so
per-query round-over-round diffs self-correct for contention
(single-pass numbers on a shared box swing 2-3x — r4's
"dedup_minhash_lsh regression" was exactly such a phantom;
sum(queries.values()) == min_total by construction). Driver-side plan construction and Catalyst analysis
are one-time costs that amortize to zero at production scale, so they
are deliberately outside the timed region; caches are cleared between
passes so no pass serves data from the previous one.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    # j1_interval_join_binned merged into j1_interval_board in r12 —
    # a direct builder below keeps its bench entry like-for-like
    "j3_star_dim_join",
    "j10_asof_join",
    "a2_signature_grouping",
    "w5_running_offset",
    "topk_per_group",
    "text_quality_board",
    "text_fingerprint_dedup",
    # the peptide chain (explode + containment join + canonical-first
    # resolution + class grid, J6/J9/J11/U4) — kernel-adjacent path
    # whose perf was invisible to round-over-round comparison before r5
    "u4_peptide_classes",
    # r5 fourth wave: the new training-data surface's heavy paths —
    # segment dedup (agg+join+reassemble), packing (per-shard window),
    # SemDeDup (cell-confined pairwise)
    "text_line_dedup",
    # r6 third wave: the sliding-gram exact substring dedup — same
    # family as line_dedup but gram fan-out is ~k x larger
    "text_substring_dedup",
    "pack_context_windows",
    "dedup_semantic",
    # r5 fifth wave: the one-query curation funnel (quality -> lang ->
    # segment scrub -> exact dedup -> token budget)
    "corpus_curation_e2e",
    # r7: degree-ordered triangle counting over the dense sf0.1
    # co-purchase graph (~1.5M edges over 20k parts). The first
    # wedge-row implementation took ~90 s here — materializing every
    # candidate two-path as a shuffle row; the adjacency-intersection
    # rewrite (packed out-neighbor arrays, JVM-side array_intersect)
    # runs the same graph ~10x faster and earned the board slot.
    "graph_triangle_count",
    # r11: the one-scan TPC-H rewrites (Q18 HAVING-double-duty, Q21
    # stacked-aggregation) join the board so the plan-audit wins are
    # wall-clocked every round, not just plan-pinned (r10 verdict #5)
    "q18_large_volume_customer",
    "q21_suppliers_kept_waiting",
    # r11 tail: the z-order tile/pruning model joins the board (the
    # Bloom semi-join joins via a direct builder below — the
    # registered gate deliberately under-sizes m to exercise FPs at
    # sf0.01, which saturates at sf0.1; the bench times the operator
    # in its intended regime, m sized ~17 bits/key)
    "layout_zorder_cluster",
]
# sim_bruteforce_topk / emb_centroid_cosine merged into
# sim_embedding_board in r11 (registry slot-freeing); custom builders
# below keep their bench entries like-for-like with BENCH_r01..r10
# (the build_minhash precedent).
# graph_pagerank joins the board via a custom builder below (the
# registered query materializes inside its eager checkpoint, which
# would move all the work outside the timed region).
# CONTINUITY NOTE (r15, per VERDICT r14 #5): BENCH_r14 is the
# hash-family-swap boundary for j13_bloom_semi_join — r14 switched
# the bench builder's production sizing to hash_family="xxh64"
# (pytest-pinned to return identical rows to the md5 family), so the
# r13→r14 j13 speedup is "cheaper hash family at the same sizing",
# not same-work speedup; r14→onward entries are like-for-like again.
# The registered md5-family gate j13_bloom_semi_join is untouched.


def _burn(deadline: float, out, idx: int) -> None:
    # Fixed integer-arithmetic kernel; chunked so the clock is read
    # ~every few ms, not every iteration.
    n = 0
    x = 1
    while time.monotonic() < deadline:
        for _ in range(10_000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        n += 10_000
    out[idx] = n


def _cpu_probe(n_workers: int = 16, duration_s: float = 1.5) -> dict:
    """Raw host CPU throughput at measurement time (r11 verdict #8).

    n_workers processes each run a fixed integer LCG kernel for
    duration_s; the record is total iterations/sec. The number is
    meaningful only relative to other runs of THIS function on
    other days — it converts BENCH wall-times into box-speed units
    so cross-round comparisons survive host contention. Runs after
    the timed passes (never concurrent with them).
    """
    import multiprocessing as mp

    try:
        ctx = mp.get_context("fork")
        out = ctx.Array("q", n_workers)
        deadline = time.monotonic() + duration_s
        procs = [
            ctx.Process(target=_burn, args=(deadline, out, i))
            for i in range(n_workers)
        ]
        t0 = time.monotonic()
        for p in procs:
            p.start()
        for p in procs:
            p.join(timeout=duration_s + 10)
        elapsed = time.monotonic() - t0
        total = sum(out[:])
        return {
            "iters_per_s": int(total / max(elapsed, 1e-9)),
            "workers": n_workers,
            "duration_s": round(elapsed, 3),
        }
    except Exception as exc:  # never let the probe sink the record
        return {"error": f"{type(exc).__name__}: {exc}"}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    from prohap_spark.session import get_spark

    spark = get_spark("bench")
    builders = bench_builders(spark, sf_dir)
    # Crash-isolated: one broken query must not kill the whole bench —
    # it's recorded in `errors` and the rest still report numbers.
    errors: dict[str, str] = {}

    # SPARK_GRAFT_BENCH_MARKERS=1: write a per-query marker line to
    # stderr so JVM log events (e.g. the benign late-accumulator burst
    # documented below) can be attributed to the query that triggered
    # them — the log4j console stream and ours interleave in order
    markers = os.environ.get("SPARK_GRAFT_BENCH_MARKERS") == "1"

    def run_all(record: dict[str, list[float]] | None) -> None:
        for name, build in builders:
            if markers:
                sys.stderr.write(
                    f"=== bench query {name} pass={'timed' if record is not None else 'warm'} "
                    f"t={time.strftime('%H:%M:%S')}\n"
                )
                sys.stderr.flush()
            if name in errors:
                continue
            # rebuild the frame OUTSIDE the timer each pass: plan-build
            # and analysis stay untimed (the prepared-statement model),
            # and a FRESH frame means operators using lazy
            # localCheckpoint re-materialize honestly every pass — a
            # reused frame would serve later passes from the pass-1
            # checkpoint blocks, which clearCache() does not drop
            try:
                df = build()
            except Exception as e:  # noqa: BLE001
                errors[name] = f"prepare: {type(e).__name__}: {str(e)[:200]}"
                continue
            t0 = time.time()
            try:
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                errors[name] = f"execute: {type(e).__name__}: {str(e)[:200]}"
                continue
            if record is not None:
                record.setdefault(name, []).append(time.time() - t0)

    # measure steady state: one untimed pass absorbs JVM/JIT/codegen
    # warmup, then three timed passes — each query reports its MEDIAN.
    # Clear the data cache between passes — operators that persist()
    # intermediates would otherwise serve later passes from cache
    # (Spark's cache manager matches identical analyzed plans).
    run_all(None)
    samples: dict[str, list[float]] = {}
    for _ in range(3):
        spark.catalog.clearCache()
        # several operators share multi-consumer subplans via lazy
        # localCheckpoint; those RDD blocks are NOT dropped by
        # clearCache — they release when the Python frame objects are
        # garbage-collected and Spark's ContextCleaner runs. Collect
        # explicitly so earlier passes' blocks cannot accumulate into
        # later passes' storage pressure.
        #
        # The BENCH_r08 "ERROR DAGScheduler: Failed to update
        # accumulator NNNN (Unknown class)" burst, run to ground in r9
        # with the marker protocol (SPARK_GRAFT_BENCH_MARKERS=1): the
        # burst fires MID-ACTION inside a share_scan query (caught
        # live during dedup_minhash_lsh's warm pass — one stage's full
        # task set x its ~17 SQL-metric accumulators, single
        # timestamp). Mechanism: when a lazy localCheckpoint
        # materializes, Spark truncates the lineage below it; the
        # truncated subplan's weakly-referenced metric accumulators
        # become collectible while the materialization stage's LAST
        # task-completion events are still queued on the DAGScheduler
        # event loop — the late events then log this ERROR. It is
        # Spark-internal (not triggered by our gc — that runs between
        # passes, the burst is mid-query), benign (the job result was
        # already delivered; rc and the JSON line are unaffected), and
        # not drainable from outside (no public API reaches the DAG
        # event loop mid-action). The epilogue below prints a
        # classification line after the JSON so a log tail is
        # self-explaining. The sleep covers the OTHER variant of the
        # same race (late events vs the between-pass gc).
        import gc

        time.sleep(1.0)
        gc.collect()
        run_all(samples)

    import statistics

    cpu_probe = _cpu_probe()
    medians = {n: round(statistics.median(v), 3) for n, v in samples.items()}
    # per-query map: MIN-of-passes (r9 verdict #6) — the per-query
    # noise floor, so round-over-round per-query diffs self-correct
    # for box contention the way min_total already does for the total.
    # The headline value stays the median-sum for continuity with
    # BENCH_r01-r09; sum(queries.values()) == min_total by design.
    timings = {n: round(min(v), 3) for n, v in samples.items()}
    total = round(sum(medians.values()), 3)
    # Dispersion protocol (r7 verdict #6): a single hot sample on a
    # shared box can sit 20-30% above the same code's settled number,
    # which round-over-round comparison then misreads as a regression.
    # Alongside the headline median total we record (a) each pass's
    # total, so a reader sees the spread the medians were drawn from,
    # and (b) the min-of-N total — the best noise-floor estimate of
    # what the code CAN do on this box. Compare min-to-min (or check
    # pass_totals overlap) before calling a delta a regression.
    n_passes = max((len(v) for v in samples.values()), default=0)
    pass_totals = [
        round(sum(v[i] for v in samples.values() if len(v) > i), 3)
        for i in range(n_passes)
    ]
    min_total = round(sum(min(v) for v in samples.values()), 3)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "pass_totals": pass_totals,
        "min_total": min_total,
        # Box-speed reference (r11 verdict #8): this host's raw CPU
        # throughput swings up to 3.3x on identical code (measured:
        # 80938 vs 271487 iters/10s same-session). The probe stamps
        # the record with the box speed AT measurement time so a
        # future reader can normalize min_total across rounds
        # without re-running. Compare cpu_probe.iters_per_s
        # round-over-round before calling any wall-time delta a
        # regression: a 2x slower probe explains a 2x slower total.
        "cpu_probe": cpu_probe,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    # self-classifying epilogue for the stderr tail (see the r9 note
    # above the gc): the one known-benign ERROR signature named, so a
    # reader of the driver's captured tail can tell it from a real
    # failure without this file open
    sys.stderr.write(
        "bench epilogue: exit code 0 + the JSON line above = success. Any "
        "'ERROR DAGScheduler: Failed to update accumulator' lines above are "
        "the known-benign localCheckpoint lineage-truncation race "
        "(bench.py r9 note); real failures appear in the JSON 'errors' "
        "field or a non-zero exit.\n"
    )
    spark.stop()


def bench_builders(spark, sf_dir: str) -> list:
    """The bench entries in run order, as (name, thunk) pairs; each
    thunk builds a fresh DataFrame. Each pass rebuilds its frames
    untimed (see run_all)."""
    from prohap_spark.pipeline.synthetic import (
        run_peptides_e2e,
        run_prohap_e2e,
        run_provar_e2e,
    )
    from prohap_spark.queries import queries

    qs = queries()
    builders = []
    for name in HEADLINE:
        builders.append((name, lambda name=name: qs[name](spark, sf_dir)))
    # domain pipeline end-to-end (synthetic cohort: 100 transcripts,
    # 1000 variants, 50 samples → VCF melt → islands → haplotype
    # grouping → U3 kernel → merge)
    for name, builder in (
        ("domain_prohap_e2e", run_prohap_e2e),
        ("domain_provar_e2e", run_provar_e2e),
    ):
        builders.append((name, lambda b=builder: b(spark, scale=1)))
    # peptide-annotation chain (J6→J11+U4) at corpus scale — the one
    # §2.9 kernel-adjacent path whose full-pipeline shape was not in
    # the headline set before r6
    builders.append(("domain_peptides_e2e", lambda: run_peptides_e2e(spark, sf_dir)))

    # fixed-point PageRank over the supply graph (r7): lazy build so
    # the six iteration rounds execute inside the timer; the edge
    # cache it registers is dropped by the between-pass clearCache
    def build_pagerank():
        from pyspark.sql import functions as F

        from prohap_spark.operators.graph import pagerank_micro
        from prohap_spark.queries.classic import _PAGERANK_PART_OFFSET
        from prohap_spark.queries.registry import table as _table

        li = _table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
        fwd = li.select(
            F.col("l_suppkey").alias("src"),
            (F.lit(_PAGERANK_PART_OFFSET) + F.col("l_partkey")).alias("dst"),
        )
        back = li.where(F.col("l_partkey") % 2 == 0).select(
            (F.lit(_PAGERANK_PART_OFFSET) + F.col("l_partkey")).alias("src"),
            F.col("l_suppkey").alias("dst"),
        )
        return pagerank_micro(
            fwd.unionAll(back), "src", "dst", n_iter=6, materialize=False
        )

    builders.append(("graph_pagerank", build_pagerank))

    # uncapped MinHash-LSH near-dup pairs, timed as the bare operator:
    # the registered query merged into dedup_minhash_lsh_board in r8
    # (uncapped ∪ capped legs), which would double the timed work —
    # this builder keeps the board entry like-for-like with the
    # dedup_minhash_lsh entries of BENCH_r01..r07
    def build_minhash():
        from pyspark.sql import functions as F

        from prohap_spark.operators.dedup import minhash_dedup_pairs
        from prohap_spark.queries.registry import table as _table

        d = _table(spark, sf_dir, "documents")
        out = minhash_dedup_pairs(
            d, "doc_id", "text", threshold=0.6, num_hashes=16, band_size=4, ngram=2
        )
        return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))

    builders.append(("dedup_minhash_lsh", build_minhash))

    # the two sim_embedding_board legs, timed separately under their
    # historical names (see the HEADLINE note)
    from prohap_spark.queries.simsearch import (
        emb_centroid_cosine,
        sim_bruteforce_topk,
    )

    builders.append(("sim_bruteforce_topk", lambda: sim_bruteforce_topk(spark, sf_dir)))
    builders.append(("emb_centroid_cosine", lambda: emb_centroid_cosine(spark, sf_dir)))

    # j1_interval_join_binned merged into j1_interval_board in r12;
    # the direct builder keeps the bench entry like-for-like with
    # BENCH_r01..r11 (same device as the legs above)
    from prohap_spark.queries.windowed import j1_interval_join_binned

    builders.append(
        ("j1_interval_join_binned", lambda: j1_interval_join_binned(spark, sf_dir))
    )

    # w1_islands_sessionize / stream_tumbling_window merged into
    # w1_islands_board / stream_batch_parity_board in the r11 tail;
    # direct builders keep their bench entries like-for-like with
    # BENCH_r01..r10 (same device as the sim_embedding_board legs)
    from prohap_spark.queries.windowed import (
        stream_tumbling_window,
        w1_islands_sessionize,
    )

    builders.append(
        ("w1_islands_sessionize", lambda: w1_islands_sessionize(spark, sf_dir))
    )
    builders.append(
        ("stream_tumbling_window", lambda: stream_tumbling_window(spark, sf_dir))
    )

    # Bloom runtime-filter semi-join at its production sizing (see the
    # HEADLINE note): urgent-orders keys -> m=2^19 filter (~23% fill at
    # sf0.1), lineitem prefiltered map-side before the exact semi-join.
    # r14: production configuration also means the production hash —
    # hash_family='xxh64' (the family Spark's own injected runtime
    # Bloom uses), replacing the md5-hex+conv probe whose per-row cost
    # dominated this entry (probe leg measured 1.19 s of the 1.86 s
    # total; xxh64 probes the same filter shape in ~0.1 s). Output rows
    # are IDENTICAL — the exact semi-join erases the prefilter's FP
    # set — so the entry times the same query; the oracle-replayable
    # md5 family stays on the registered j13 gate untouched.
    def build_bloom_semi():
        from pyspark.sql import functions as F

        from prohap_spark.operators.bloom_join import bloom_semi_join
        from prohap_spark.queries.registry import table as _table

        li = _table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_quantity"
        )
        dim = _table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        sj = bloom_semi_join(
            li, dim, "l_orderkey", "o_orderkey", k=4, m_bits=1 << 19,
            hash_family="xxh64",
        )
        return sj.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )

    builders.append(("j13_bloom_semi_join", build_bloom_semi))
    return builders


if __name__ == "__main__":
    main()
