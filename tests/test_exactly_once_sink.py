"""streaming/sink.py: exactly-once delivery via the idempotent
epoch-keyed foreachBatch writer."""

import datetime as dt
import os

from pyspark.sql import functions as F

from prohap_spark.streaming.sink import (
    COMMIT_MARKER,
    committed_batch_ids,
    idempotent_batch_writer,
    read_committed,
)


def test_replayed_epoch_is_noop(spark, tmp_path):
    out = str(tmp_path / "out")
    w = idempotent_batch_writer(out)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    w(df, 0)
    first_mtime = os.path.getmtime(os.path.join(out, "batch_id=0", COMMIT_MARKER))
    # Spark redelivers the same epoch after a recovery — must be a no-op
    w(df, 0)
    assert read_committed(spark, out).count() == 2
    assert os.path.getmtime(
        os.path.join(out, "batch_id=0", COMMIT_MARKER)
    ) == first_mtime


def test_torn_write_overwritten_and_invisible(spark, tmp_path):
    out = str(tmp_path / "out")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    # simulate the crash: parquet landed (twice over, as a torn retry
    # might), marker never written
    torn = os.path.join(out, "batch_id=7")
    df.write.mode("overwrite").parquet(torn)
    # a reader between crash and retry must not see the torn epoch
    assert committed_batch_ids(out) == []
    # the replayed delivery overwrites wholesale — no append-duplication
    idempotent_batch_writer(out)(df, 7)
    assert committed_batch_ids(out) == [7]
    assert read_committed(spark, out).count() == 2


def test_stream_restart_no_duplicates(spark, tmp_path):
    """End-to-end: file-source stream → idempotent sink, stopped and
    restarted from the same checkpoint after new files land. The
    committed output must equal the batch read of the source exactly
    (no duplicated epochs, no lost rows)."""
    from prohap_spark.streaming.events import EVENT_SCHEMA, read_event_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    eid = 0

    def write_file(n_rows):
        nonlocal eid
        rows = []
        for _ in range(n_rows):
            eid += 1
            rows.append(
                (eid, dt.datetime(2024, 1, 1, 10, 0, eid), eid % 3, "click",
                 float(eid), "{}")
            )
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        q = (
            read_event_stream(spark, src, max_files_per_trigger=1)
            .select("event_id", "user_id", "value")
            .writeStream.outputMode("append")
            .foreachBatch(idempotent_batch_writer(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    write_file(4)
    write_file(4)
    run()
    n_phase1 = len(committed_batch_ids(out))
    assert n_phase1 >= 1

    # crash/redeploy: new data, restart from the same checkpoint
    write_file(4)
    run()
    assert len(committed_batch_ids(out)) > n_phase1

    got = read_committed(spark, out)
    assert got.count() == 12
    # exactly-once: every source event delivered exactly once
    assert got.groupBy("event_id").count().where(F.col("count") > 1).count() == 0
    src_sum = spark.read.parquet(src).agg(F.sum("value")).collect()[0][0]
    assert got.agg(F.sum("value")).collect()[0][0] == src_sum


def test_compact_epochs_preserves_content_and_replay_contract(spark, tmp_path):
    """compact_epochs folds committed epoch dirs into the max id:
    content identical (digest-validated inside the op, re-checked
    here), fresh epochs still union cleanly after (no partition-column
    schema split), and a replayed delivery of the kept id still
    no-ops on its marker."""
    out = str(tmp_path / "out")
    w = idempotent_batch_writer(out)
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "k int, v string"
    )
    w(mk(0, 5), 0)
    w(mk(5, 9), 1)
    w(mk(9, 12), 2)
    before = sorted(tuple(r) for r in read_committed(spark, out).collect())

    from prohap_spark.streaming.sink import compact_epochs

    stats = compact_epochs(spark, out)
    assert stats["compacted"] == 3 and stats["into"] == 2
    assert committed_batch_ids(out) == [2]
    after = sorted(tuple(r) for r in read_committed(spark, out).collect())
    assert after == before

    # a replayed epoch 2 (the kept id) must STILL no-op — the marker
    # protects the compacted prefix from being overwritten back down
    # to epoch 2's rows alone
    w(mk(9, 12), 2)
    assert sorted(tuple(r) for r in read_committed(spark, out).collect()) == before

    # the stream keeps going: a fresh epoch unions with the compacted
    # one under the SAME schema (no batch_id partition-column leak)
    w(mk(12, 15), 3)
    got = read_committed(spark, out)
    assert got.columns == ["k", "v"]
    assert got.count() == 15


def test_compact_epochs_noop_below_two(spark, tmp_path):
    out = str(tmp_path / "out")
    idempotent_batch_writer(out)(
        spark.createDataFrame([(1, "a")], "k int, v string"), 0
    )
    from prohap_spark.streaming.sink import compact_epochs

    assert compact_epochs(spark, out)["compacted"] == 0
    assert committed_batch_ids(out) == [0]


def _mk(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "k int, v string"
    )


def test_recover_compaction_rolls_forward(spark, tmp_path):
    """Crash AFTER the originals moved to trash but BEFORE the staging
    rename: the next read self-heals by finishing the swap (the
    staging dir was digest-validated before any original was touched),
    and the full row set is visible — never zero committed epochs."""
    import shutil

    from prohap_spark.streaming.sink import recover_compaction

    out = str(tmp_path / "out")
    w = idempotent_batch_writer(out)
    w(_mk(spark, 0, 5), 0)
    w(_mk(spark, 5, 9), 1)
    before = sorted(tuple(r) for r in read_committed(spark, out).collect())

    # simulate the crash window by hand: validated staging + trash
    staging = os.path.join(out, ".staging_batch_id=1")
    spark.read.parquet(
        os.path.join(out, "batch_id=0"), os.path.join(out, "batch_id=1")
    ).coalesce(1).write.parquet(staging)
    trash = os.path.join(out, ".trash_compact_1")
    os.makedirs(trash)
    os.rename(os.path.join(out, "batch_id=0"), os.path.join(trash, "batch_id=0"))
    # crash here: batch_id=1 original NOT yet moved, staging not renamed

    # committed_batch_ids self-heals (calls recover_compaction)
    assert committed_batch_ids(out) == [1]
    assert sorted(tuple(r) for r in read_committed(spark, out).collect()) == before
    assert not os.path.exists(trash)
    assert not os.path.exists(staging)
    # idempotent: nothing left to recover
    assert recover_compaction(out) is None
    shutil.rmtree(out)


def test_recover_compaction_rolls_back_torn_staging(spark, tmp_path):
    """Crash BEFORE any original was touched (no trash dir): the
    staging dir may be a torn write, so recovery drops it and the
    originals stay authoritative."""
    from prohap_spark.streaming.sink import recover_compaction

    out = str(tmp_path / "out")
    w = idempotent_batch_writer(out)
    w(_mk(spark, 0, 5), 0)
    w(_mk(spark, 5, 9), 1)
    before = sorted(tuple(r) for r in read_committed(spark, out).collect())

    staging = os.path.join(out, ".staging_batch_id=1")
    os.makedirs(staging)
    with open(os.path.join(staging, "part-torn.parquet"), "wb") as f:
        f.write(b"\x00torn")

    assert recover_compaction(out) == "rolled_back"
    assert not os.path.exists(staging)
    assert committed_batch_ids(out) == [0, 1]
    assert sorted(tuple(r) for r in read_committed(spark, out).collect()) == before


def test_recover_compaction_completes_marker_and_trash(spark, tmp_path):
    """Crash AFTER the staging rename but BEFORE the marker/trash
    cleanup: recovery (re)writes the marker and drops the trash."""
    import shutil

    from prohap_spark.streaming.sink import recover_compaction

    out = str(tmp_path / "out")
    w = idempotent_batch_writer(out)
    w(_mk(spark, 0, 5), 0)
    w(_mk(spark, 5, 9), 1)
    before = sorted(tuple(r) for r in read_committed(spark, out).collect())

    staging = os.path.join(out, ".staging_batch_id=1")
    spark.read.parquet(
        os.path.join(out, "batch_id=0"), os.path.join(out, "batch_id=1")
    ).coalesce(1).write.parquet(staging)
    trash = os.path.join(out, ".trash_compact_1")
    os.makedirs(trash)
    for n in ("batch_id=0", "batch_id=1"):
        os.rename(os.path.join(out, n), os.path.join(trash, n))
    os.rename(staging, os.path.join(out, "batch_id=1"))
    # crash here: no marker yet, trash still present
    os.remove(os.path.join(out, "batch_id=1", "_SUCCESS"))

    assert recover_compaction(out) == "rolled_forward"
    assert committed_batch_ids(out) == [1]
    assert sorted(tuple(r) for r in read_committed(spark, out).collect()) == before
    assert not os.path.exists(trash)
    shutil.rmtree(out)


def test_recover_compaction_preserves_post_crash_epochs(spark, tmp_path):
    """r14 (ADVICE, high): a restarted stream appends NEW epochs after
    a compaction crashed mid-swap. Roll-forward must fold only the
    compaction's own originals (batch_id <= keep) into the trash — an
    epoch committed after the crash must survive recovery with every
    row intact, not ride into the trash and be deleted."""
    from prohap_spark.streaming.sink import recover_compaction

    out = str(tmp_path / "out")
    w = idempotent_batch_writer(out)
    w(_mk(spark, 0, 5), 0)
    w(_mk(spark, 5, 9), 1)

    # crash window: validated staging + trash, originals partly moved
    staging = os.path.join(out, ".staging_batch_id=1")
    spark.read.parquet(
        os.path.join(out, "batch_id=0"), os.path.join(out, "batch_id=1")
    ).coalesce(1).write.parquet(staging)
    trash = os.path.join(out, ".trash_compact_1")
    os.makedirs(trash)
    os.rename(os.path.join(out, "batch_id=0"), os.path.join(trash, "batch_id=0"))

    # the restarted stream delivers a NEW epoch before any read heals
    w(_mk(spark, 9, 12), 2)

    assert recover_compaction(out) == "rolled_forward"
    assert committed_batch_ids(out) == [1, 2]
    got = sorted(r.k for r in read_committed(spark, out).collect())
    assert got == list(range(12))  # epoch 2's rows survived


def test_recover_compaction_respects_live_lock(spark, tmp_path):
    """r14 (ADVICE): while a compaction holds a live pid lock, a
    concurrent read's recovery must not touch its staging dir; once
    the lock is stale (dead pid), recovery sweeps it and proceeds."""
    from prohap_spark.streaming.sink import recover_compaction

    out = str(tmp_path / "out")
    w = idempotent_batch_writer(out)
    w(_mk(spark, 0, 5), 0)
    w(_mk(spark, 5, 9), 1)

    staging = os.path.join(out, ".staging_batch_id=1")
    os.makedirs(staging)
    lock = os.path.join(out, ".compact_lock_1")
    with open(lock, "w") as f:
        f.write(str(os.getpid()))  # our own pid: alive

    assert recover_compaction(out) is None  # hands off
    assert os.path.isdir(staging)
    assert committed_batch_ids(out) == [0, 1]  # reads still work

    with open(lock, "w") as f:
        f.write("999999999")  # dead pid: stale lock
    assert recover_compaction(out) == "rolled_back"
    assert not os.path.exists(lock)
    assert not os.path.exists(staging)


def test_compact_epochs_cleans_lock(spark, tmp_path):
    """compact_epochs leaves no lock behind on success, and the
    compacted output still reads back in full."""
    from prohap_spark.streaming.sink import compact_epochs

    out = str(tmp_path / "out")
    w = idempotent_batch_writer(out)
    w(_mk(spark, 0, 5), 0)
    w(_mk(spark, 5, 9), 1)
    stats = compact_epochs(spark, out)
    assert stats["compacted"] == 2
    assert not any(n.startswith(".compact_lock_") for n in os.listdir(out))
    assert sorted(r.k for r in read_committed(spark, out).collect()) == list(range(9))


def test_read_committed_asof_prefix_snapshots(spark, tmp_path):
    """read_committed_asof: every as_of returns exactly the committed
    prefix (epoch ids only grow, so snapshots are prefix filters);
    pre-history raises; a torn (uncommitted) epoch is invisible to
    every snapshot; post-compaction the folded prefix reads at the
    compacted id."""
    import pytest as _pytest

    from prohap_spark.streaming.sink import compact_epochs, read_committed_asof

    out = str(tmp_path / "out")
    w = idempotent_batch_writer(out)
    w(_mk(spark, 0, 5), 0)
    w(_mk(spark, 5, 9), 1)
    w(_mk(spark, 9, 12), 2)
    # a torn epoch 3 (no marker) must not appear in any snapshot
    _mk(spark, 12, 20).write.mode("overwrite").parquet(
        os.path.join(out, "batch_id=3")
    )

    assert sorted(r.k for r in read_committed_asof(spark, out, 0).collect()) == list(
        range(5)
    )
    assert sorted(r.k for r in read_committed_asof(spark, out, 1).collect()) == list(
        range(9)
    )
    for hi in (2, 3, 99):
        got = sorted(r.k for r in read_committed_asof(spark, out, hi).collect())
        assert got == list(range(12))
    with _pytest.raises(FileNotFoundError):
        read_committed_asof(spark, out, -1)

    # compaction folds 0..2 into batch_id=2: the full snapshot is
    # unchanged, sub-prefix granularity is (documentedly) gone
    compact_epochs(spark, out)
    assert sorted(r.k for r in read_committed_asof(spark, out, 2).collect()) == list(
        range(12)
    )
    with _pytest.raises(FileNotFoundError):
        read_committed_asof(spark, out, 1)


def test_delete_keys_read_current(spark, tmp_path):
    """Deletion vectors: delete_keys lands key sets without touching
    data epochs; read_current subtracts them; read_committed (the
    history view) is unchanged; a torn delete set is invisible; a
    replayed delete_id is a no-op."""
    import pytest as _pytest

    from prohap_spark.streaming.sink import (
        committed_delete_ids,
        delete_keys,
        read_current,
    )

    out = str(tmp_path / "out")
    w = idempotent_batch_writer(out)
    w(_mk(spark, 0, 5), 0)
    w(_mk(spark, 5, 12), 1)

    did = delete_keys(spark, out, spark.createDataFrame([(2,), (11,)], "k int"))
    assert did == 0
    assert committed_delete_ids(out) == [0]
    cur = sorted(r.k for r in read_current(spark, out).collect())
    assert cur == [0, 1, 3, 4, 5, 6, 7, 8, 9, 10]
    # history view unchanged
    assert read_committed(spark, out).count() == 12

    # torn delete set (no marker) is invisible
    spark.createDataFrame([(0,)], "k int").write.mode("overwrite").parquet(
        os.path.join(out, "delete_id=9")
    )
    assert committed_delete_ids(out) == [0]
    assert 0 in {r.k for r in read_current(spark, out).collect()}

    # replayed delete_id no-ops: different keys, same id -> ignored
    delete_keys(spark, out, spark.createDataFrame([(3,)], "k int"), delete_id=0)
    assert 3 in {r.k for r in read_current(spark, out).collect()}

    # a second delete set composes
    delete_keys(spark, out, spark.createDataFrame([(0,), (2,)], "k int"))
    assert sorted(r.k for r in read_current(spark, out).collect()) == [
        1, 3, 4, 5, 6, 7, 8, 9, 10,
    ]

    # validation: multi-column key set refused
    with _pytest.raises(ValueError):
        delete_keys(spark, out, _mk(spark, 0, 1))
    # validation: key column absent from the data
    delete_keys(spark, out, spark.createDataFrame([(1,)], "zz int"))
    with _pytest.raises(ValueError):
        read_current(spark, out).collect()


def test_materialize_deletes(spark, tmp_path):
    """materialize_deletes folds the vectors in: physical rows gone,
    delete dirs swept, read_committed == read_current afterwards;
    idempotent when nothing is pending; leftover delete sets from a
    crash-after-marker window subtract nothing (idempotent replay)."""
    from prohap_spark.streaming.sink import (
        committed_delete_ids,
        delete_keys,
        materialize_deletes,
        read_current,
    )

    out = str(tmp_path / "out")
    w = idempotent_batch_writer(out)
    w(_mk(spark, 0, 5), 0)
    w(_mk(spark, 5, 12), 1)
    delete_keys(spark, out, spark.createDataFrame([(2,), (7,)], "k int"))

    stats = materialize_deletes(spark, out)
    assert stats["materialized"] == 1 and stats["n_rows"] == 10
    assert committed_delete_ids(out) == []
    assert committed_batch_ids(out) == [1]
    survivors = [0, 1, 3, 4, 5, 6, 8, 9, 10, 11]
    assert sorted(r.k for r in read_committed(spark, out).collect()) == survivors
    assert sorted(r.k for r in read_current(spark, out).collect()) == survivors

    # nothing pending -> no-op
    assert materialize_deletes(spark, out)["materialized"] == 0

    # crash-after-marker simulation: a delete set whose keys are
    # already physically gone must subtract nothing
    delete_keys(spark, out, spark.createDataFrame([(2,), (7,)], "k int"))
    assert sorted(r.k for r in read_current(spark, out).collect()) == survivors
    # and the next materialize sweeps it
    materialize_deletes(spark, out)
    assert committed_delete_ids(out) == []
    assert sorted(r.k for r in read_committed(spark, out).collect()) == survivors

    # the log keeps moving after materialization: new epoch + delete
    w(_mk(spark, 12, 15), 2)
    delete_keys(spark, out, spark.createDataFrame([(13,)], "k int"))
    assert sorted(r.k for r in read_current(spark, out).collect()) == (
        survivors + [12, 14]
    )


def test_read_committed_merge_schema(spark, tmp_path):
    """Additive schema evolution: a stream that gained a column
    mid-history reads under merge_schema=True with NULLs for the
    older epochs; the strict default fails loudly or drops nothing
    silently — callers must opt in."""
    from prohap_spark.streaming.sink import delete_keys, read_current

    out = str(tmp_path / "out")
    w = idempotent_batch_writer(out)
    w(_mk(spark, 0, 3), 0)
    w(
        spark.createDataFrame(
            [(3, "v3", "en"), (4, "v4", "de")], "k int, v string, lang string"
        ),
        1,
    )
    got = read_committed(spark, out, merge_schema=True)
    assert sorted(got.columns) == ["k", "lang", "v"]
    rows = {r.k: r.lang for r in got.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: "en", 4: "de"}
    # strict default: no silent lang column from the first epoch's schema
    strict = read_committed(spark, out)
    assert set(strict.columns) <= {"k", "v", "lang"}


def test_sink_full_lifecycle_integration(spark, tmp_path):
    """Cross-feature integration over the sink's whole table-format
    arc: epochs → deletes → EPOCH COMPACTION with delete sets present
    (compact folds data dirs only; the vectors and their subtraction
    must survive it) → time travel at the compaction boundary →
    materialization → a schema-evolved epoch on top, read both
    strictly and merged."""
    import pytest as _pytest

    from prohap_spark.streaming.sink import (
        committed_delete_ids,
        compact_epochs,
        delete_keys,
        materialize_deletes,
        read_committed_asof,
        read_current,
    )

    out = str(tmp_path / "out")
    w = idempotent_batch_writer(out)
    w(_mk(spark, 0, 5), 0)
    w(_mk(spark, 5, 9), 1)
    w(_mk(spark, 9, 12), 2)
    delete_keys(spark, out, spark.createDataFrame([(1,), (10,)], "k int"))
    survivors = [0, 2, 3, 4, 5, 6, 7, 8, 9, 11]

    # epoch compaction must not touch the delete sets or their effect
    assert compact_epochs(spark, out)["compacted"] == 3
    assert committed_delete_ids(out) == [0]
    assert sorted(r.k for r in read_current(spark, out).collect()) == survivors
    # history (raw) still has all 12 rows, time-travel at the boundary
    assert read_committed_asof(spark, out, 2).count() == 12

    # materialize after compaction: one epoch rewritten, vectors swept
    stats = materialize_deletes(spark, out)
    assert stats["materialized"] == 1 and stats["n_rows"] == 10
    assert sorted(r.k for r in read_committed(spark, out).collect()) == survivors

    # schema-evolved epoch on top of the compacted+materialized log
    w(
        spark.createDataFrame([(12, "v12", "en")], "k int, v string, lang string"),
        3,
    )
    merged = read_committed(spark, out, merge_schema=True)
    assert sorted(merged.columns) == ["k", "lang", "v"]
    assert {r.k: r.lang for r in merged.collect()}[12] == "en"
    assert merged.count() == 11
    # asof before the evolved epoch never sees the new column
    old = read_committed_asof(spark, out, 2, merge_schema=True)
    assert sorted(old.columns) == ["k", "v"] and old.count() == 10
    # deletes still compose after the whole arc
    delete_keys(spark, out, spark.createDataFrame([(12,)], "k int"))
    assert sorted(r.k for r in read_current(spark, out).collect()) == survivors


def test_randomized_lifecycle_vs_model(spark, tmp_path):
    """Randomized soundness pin (the test_jaccard_property idiom —
    deterministically-seeded random op programs, not per-example Spark
    jobs): random interleavings of write-epoch / replay-epoch /
    delete-keys / replay-delete / compact / materialize are checked
    after every step against a pure-Python model (dict of live rows +
    set of deleted keys). read_current must always equal model-minus-
    deletes; read_committed must equal the raw model until a
    materialize folds the deletes in."""
    import random as _random

    from prohap_spark.streaming.sink import (
        compact_epochs,
        delete_keys,
        materialize_deletes,
        read_current,
    )

    for seed in (11, 23):
        rng = _random.Random(seed)
        out = str(tmp_path / f"out_{seed}")
        w = idempotent_batch_writer(out)
        rows: dict[int, str] = {}   # k -> v, every row ever committed
        deleted: set[int] = set()   # keys with a live delete vector
        next_k, next_epoch = 0, 0
        for _step in range(10):
            op = rng.choice(
                ["write", "write", "replay", "delete", "compact", "materialize"]
            )
            if op == "write":
                n = rng.randint(1, 6)
                batch = {next_k + i: f"v{next_k + i}" for i in range(n)}
                w(_mk(spark, next_k, next_k + n), next_epoch)
                rows.update(batch)
                next_k += n
                next_epoch += 1
            elif op == "replay" and next_epoch > 0:
                # redeliver the last epoch with DIFFERENT content — the
                # marker must make it a no-op
                w(_mk(spark, 900 + next_k, 905 + next_k), next_epoch - 1)
            elif op == "delete" and rows:
                ks = rng.sample(sorted(rows), min(len(rows), rng.randint(1, 4)))
                delete_keys(
                    spark, out, spark.createDataFrame([(k,) for k in ks], "k int")
                )
                deleted.update(ks)
            elif op == "compact" and next_epoch > 0:
                compact_epochs(spark, out)
            elif op == "materialize" and next_epoch > 0:
                materialize_deletes(spark, out)
                # the vectors are folded into the data: history rewritten
                for k in deleted:
                    rows.pop(k, None)
                deleted.clear()
            if not rows and not next_epoch:
                continue
            live = sorted(set(rows) - deleted)
            if next_epoch:
                got_cur = sorted(r.k for r in read_current(spark, out).collect())
                assert got_cur == live, (seed, _step, op)
                got_raw = sorted(r.k for r in read_committed(spark, out).collect())
                assert got_raw == sorted(rows), (seed, _step, op)
