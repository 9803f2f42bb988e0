"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime re-plan + skew-join splitting), shuffle partitions
sized to cores (local) — on a 1000-executor cluster this would be
set to ~2-3x total cores or left to AQE coalescing, Arrow enabled for
the pandas-UDF kernels, UTC session timezone so results compare
stably against external oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime SQL confs every engine frame must plan under. get_spark
# applies them to the sessions it creates; queries/registry.py:
# engine_session sets them on the child session registered queries run
# on, because runtime confs set on a parent never reach frames planned
# on a child.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    # AQE + skew-join splitting: unmitigated skewed SMJ measured at ~6x
    # the AQE-split wall at 32x skew (NOTES_ROUND8).
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE's coalescing targets shuffle BYTES and is blind to
    # downstream per-row cost: the r9 profile caught it folding the
    # ProHap kernel's 6.4k-row input (compressed ACGT shuffles
    # brutally small) into ONE partition, serializing a 32-way
    # Arrow/Python stage behind a single task (measured: e2e
    # 3.6 s -> 1.8 s after this floor restored 16-way parallelism).
    # Lowering the coalesce floor from the 1 MB default keeps
    # small-byte/expensive-row stages wide; large shuffles are
    # unaffected (their parallelismFirst byte targets dominate),
    # and the worst case for genuinely tiny JVM stages is a few ms
    # of extra task scheduling.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64kb",
    # TIMESTAMP_NTZ -> TIMESTAMP casts match the TZ-naive DuckDB oracle
    # regardless of the caller's zone.
    "spark.sql.session.timeZone": "UTC",
    # InferFiltersFromGenerate re-derives size(e)>0 below every
    # explode and pushdown substitutes the FULL generator expression
    # into the condition — for expensive computed arrays (minhash
    # signatures, winnowing fingerprints, segment lists) that means
    # re-evaluating the whole per-row pipeline 2-3 extra times
    # (measured: -20% on the LSH family, 50x on winnowing before it
    # switched to explode_outer). Empty-array rows are rare in every
    # generate path here, so the rule's benefit is nil.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def get_spark(
    app_name: str = "prohap-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Whole-stage-codegen CLASS cache (static conf, default 100
        # entries, JVM-wide). This engine's workload is many distinct
        # query shapes per session (the bench alone runs 29 queries
        # x ~5-10 codegen units each), so the 100-entry default
        # thrashes: every pass re-compiles nearly every generated
        # class through Janino, a fixed ~50-200 ms tax per stage that
        # round-robin eviction makes PERMANENT within the session —
        # measured r14: the full bench drops 16.98 s -> 11.27 s
        # min_total (-34%) at equal cpu_probe from this one setting,
        # and the previously-unexplained "in-pass JVM state" penalty
        # (late-pass queries 0.2-0.9 s over their isolated times,
        # unrecoverable by clearCache/gc) disappears — it was cache
        # eviction, not JIT pollution. Not a local-only win: the same
        # cache exists in every executor JVM and any long-running app
        # with >100 distinct codegen units pays the same recompile
        # tax at any scale; entries hold compiled classes (KB-100s of
        # KB each), so 4096 bounds the cache at tens of MB.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
