"""Small-files compaction — the table-maintenance op of a 100 TB
parquet store.

Streaming sinks, incremental ingests, and over-parallel writes leave
thousands of KB-sized files; every reader then pays per-file open/
footer/scheduling costs that dwarf the data (NOTES_ROUND8 measures
the cliff). Compaction rewrites a directory into
size-targeted files WITHOUT changing a single row.

Safety discipline (the write_dedup_index lesson applied to rewrites):
never rewrite in place. The compactor writes to a NEW directory,
validates the rewrite against the source (row count + order-
independent checksum over all columns), and only then — optionally —
swaps. A torn compaction therefore leaves the source untouched; a
checksum mismatch fails loud instead of silently dropping rows.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def _digest(df) -> tuple[int, int]:
    """(n_rows, order-independent checksum): xor of per-row crc32 over
    the concatenated column values (column order pinned by name sort so
    schema reordering doesn't move it) — the write_dedup_index manifest
    convention; xor never overflows, and paired with the exact row
    count it catches every realistic rewrite defect (xor alone would
    miss even-multiplicity swaps; the count closes cardinality)."""
    cols = sorted(df.columns)
    row = F.crc32(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
    out = df.select(row.alias("__r")).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(__r)").alias("s"),
    ).collect()[0]
    return int(out["n"]), int(out["s"] or 0)


def compact_parquet(
    spark,
    src: str,
    dst: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 1,
) -> dict:
    """Rewrite the parquet directory ``src`` into ``dst`` with
    ~``target_bytes``-sized files (sized from the SOURCE's on-disk
    bytes — compressed size is what readers schedule on). Validates
    row count + checksum of the rewrite against the source and raises
    on any mismatch. Returns the stats dict."""
    n_src_files = 0
    src_bytes = 0
    for root, _dirs, files in os.walk(src):
        for f in files:
            if f.endswith(".parquet"):
                n_src_files += 1
                src_bytes += os.path.getsize(os.path.join(root, f))
    df = spark.read.parquet(src)
    n, checksum = _digest(df)
    n_out = max(min_files, (src_bytes + target_bytes - 1) // target_bytes)
    df.repartition(int(n_out)).write.mode("overwrite").parquet(dst)
    back = spark.read.parquet(dst)
    n2, checksum2 = _digest(back)
    if (n, checksum) != (n2, checksum2):
        raise RuntimeError(
            f"compaction validation failed for {src} -> {dst}: "
            f"rows {n} -> {n2}, checksum {checksum} -> {checksum2}; "
            "the source is untouched, the destination must be discarded"
        )
    n_dst_files = sum(
        1
        for root, _d, files in os.walk(dst)
        for f in files
        if f.endswith(".parquet")
    )
    return {
        "n_rows": n,
        "src_files": n_src_files,
        "dst_files": n_dst_files,
        "src_bytes": src_bytes,
    }


def recluster_parquet(
    spark,
    src: str,
    dst: str,
    cols: list[str],
    bits: int = 8,
    n_files: int = 16,
) -> dict:
    """OPTIMIZE-ZORDER as a maintenance op: rewrite ``src`` z-order
    clustered on ``cols`` (operators/layout.py) with the SAME
    never-in-place + row-count/checksum validation discipline as
    :func:`compact_parquet` — layout changes must never be able to
    change data. Returns the stats dict."""
    from prohap_spark.operators.layout import write_zorder_clustered

    df = spark.read.parquet(src)
    n, checksum = _digest(df)
    write_zorder_clustered(df, dst, cols, bits=bits, n_files=n_files)
    n2, checksum2 = _digest(spark.read.parquet(dst))
    if (n, checksum) != (n2, checksum2):
        raise RuntimeError(
            f"recluster validation failed for {src} -> {dst}: "
            f"rows {n} -> {n2}, checksum {checksum} -> {checksum2}; "
            "the source is untouched, the destination must be discarded"
        )
    n_dst_files = sum(
        1
        for root, _d, files in os.walk(dst)
        for f in files
        if f.endswith(".parquet")
    )
    return {"n_rows": n, "dst_files": n_dst_files}


def vacuum_index(spark, path: str) -> dict:
    """VACUUM for a manifest-validated index directory (r13 — the
    retention half of the fail-loud artifact story): delete every
    visible data file that is NOT in the manifest's committed file
    set. A crashed or zombie writer that appends stragglers into the
    directory makes read_dedup_index REFUSE the whole index (count/
    checksum drift — correct, but the index is now unreadable);
    vacuum restores it to exactly the manifest, after which the read
    validates again. Refuses to touch the directory when the manifest
    is absent or any COMMITTED file is missing (that is data loss, not
    pollution — deleting more cannot fix it). Delta's VACUUM plays
    this role against its transaction log; the manifest is this
    engine's log. Validation read at the end fails loud if the swept
    directory still doesn't match. Local-filesystem plumbing, like the
    other maintenance ops."""
    import glob as _glob
    import json
    import os

    from prohap_spark.operators.dedup import _INDEX_MANIFEST, read_dedup_index

    mpath = os.path.join(path, _INDEX_MANIFEST)
    try:
        with open(mpath) as f:
            manifest = json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"vacuum_index: no manifest at {mpath} — refusing to guess "
            "which files are committed"
        )
    committed = manifest.get("files")
    if committed is None:
        raise ValueError(
            "vacuum_index: manifest predates file tracking — rewrite the "
            "index (write_dedup_index) before vacuuming"
        )
    visible = {
        os.path.relpath(f, path)
        for f in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }
    missing = sorted(set(committed) - visible)
    if missing:
        raise ValueError(
            f"vacuum_index: {len(missing)} committed file(s) missing "
            f"(e.g. {missing[0]}) — the index is torn, not polluted; "
            "vacuum cannot repair data loss"
        )
    orphans = sorted(visible - set(committed))
    for rel in orphans:
        os.remove(os.path.join(path, rel))
    read_dedup_index(spark, path)  # fail-loud revalidation
    return {"orphans_removed": len(orphans), "kept": len(committed)}
