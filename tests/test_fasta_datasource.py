"""sources/fasta_datasource.py: the Spark 4 Python Data Source path
must agree with the Catalyst read_fasta path on the engine's own
FASTA output, single-file and globbed, plain and gzipped."""

import glob
import os

import pytest

from prohap_spark.sources.fasta import read_fasta, write_fasta
from prohap_spark.sources.fasta_datasource import FastaDataSource


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(FastaDataSource)
    return spark


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def fasta_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("fa")
    rows = [
        ("sp", "P1", "first protein", "MKV" * 10),
        ("sp", "P2.3", "", "ACDEFGHIKLMNPQRSTVWY"),
        ("enshap", "H7", "hap with desc", "MM"),
    ]
    df = spark.createDataFrame(
        rows, "tag string, accession string, description string, sequence string"
    )
    write_fasta(
        df, str(base / "a.fasta"),
        tag_col="tag", accession_col="accession",
        description_col="description", sequence_col="sequence",
    )
    write_fasta(
        df.where("accession = 'P1'"), str(base / "b.fasta"),
        tag_col="tag", accession_col="accession",
        description_col="description", sequence_col="sequence",
    )
    return str(base)


def test_datasource_matches_catalyst_reader(registered, fasta_dir):
    spark = registered
    for sub in ("a.fasta", "b.fasta"):
        path = f"{fasta_dir}/{sub}"
        got = spark.read.format("fasta").load(path)
        want = read_fasta(spark, path)
        assert got.columns == want.columns
        assert _rows(got) == _rows(want)


def test_datasource_glob_partitions_per_file(registered, fasta_dir):
    spark = registered
    got = spark.read.format("fasta").load(f"{fasta_dir}/*.fasta")
    want = read_fasta(spark, f"{fasta_dir}/*.fasta")
    assert _rows(got) == _rows(want)
    # one input partition per file — the documented sharding
    n_parts = (
        spark.read.format("fasta").load(f"{fasta_dir}/*.fasta")
        .rdd.getNumPartitions()
    )
    assert n_parts == 2


def test_datasource_gz_transparent(registered, fasta_dir, tmp_path):
    import gzip
    import shutil

    spark = registered
    src = glob.glob(f"{fasta_dir}/a.fasta/part-*")[0] if os.path.isdir(
        f"{fasta_dir}/a.fasta"
    ) else f"{fasta_dir}/a.fasta"
    gz = str(tmp_path / "a.fa.gz")
    with open(src, "rb") as fi, gzip.open(gz, "wb") as fo:
        shutil.copyfileobj(fi, fo)
    got = spark.read.format("fasta").load(gz)
    want = read_fasta(spark, src)
    assert _rows(got) == _rows(want)


def test_datasource_missing_path_fails_loud(registered, tmp_path):
    spark = registered
    with pytest.raises(Exception, match="(?i)no files|not exist|path"):
        spark.read.format("fasta").load(str(tmp_path / "nope/*.fa")).collect()


def test_streaming_fasta_exactly_once_pipeline(registered, tmp_path):
    """End-to-end genomics ingest: FASTA landing dir → the
    fasta_stream Python streaming source → the idempotent epoch sink.
    Two availableNow runs with files arriving between them; the
    committed output must equal a batch parse of everything exactly
    once (restart consumes only the new files)."""
    from prohap_spark.sources.fasta_datasource import (
        FastaStreamDataSource,
        _parse_fasta_text,
    )
    from prohap_spark.streaming.sink import (
        idempotent_batch_writer,
        read_committed,
    )

    spark = registered
    spark.dataSource.register(FastaStreamDataSource)
    land = tmp_path / "landing"
    land.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drop_file(i, n_recs):
        body = "".join(
            f">sp|A{i}_{j}|rec {i}.{j}\nMKV\nLLT\n" for j in range(n_recs)
        )
        (land / f"batch{i:03d}.fasta").write_text(body)

    def run():
        q = (
            spark.readStream.format("fasta_stream").load(str(land))
            .writeStream.outputMode("append")
            .foreachBatch(idempotent_batch_writer(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    drop_file(0, 3)
    drop_file(1, 2)
    run()
    n1 = read_committed(spark, out).count()
    assert n1 == 5

    drop_file(2, 4)  # arrives "later"; restart from checkpoint
    run()
    got = read_committed(spark, out)
    assert got.count() == 9  # 5 + 4, nothing re-ingested
    accs = sorted(r["accession"] for r in got.collect())
    want = sorted(
        rec[1]
        for i, n in ((0, 3), (1, 2), (2, 4))
        for rec in _parse_fasta_text((land / f"batch{i:03d}.fasta").read_text())
    )
    assert accs == want
    assert got.where("sequence <> 'MKVLLT'").count() == 0


def test_fasta_datasource_writer_roundtrip(spark, tmp_path):
    """WRITE half of the Data Source demo: df.write.format('fasta')
    through the staged two-phase commit, read back through BOTH read
    paths — content identical to the source frame, _SUCCESS present,
    no staging leftovers."""
    import os

    from prohap_spark.sources.fasta import read_fasta
    from prohap_spark.sources.fasta_datasource import FastaDataSource

    spark.dataSource.register(FastaDataSource)
    src = spark.createDataFrame(
        [
            ("sp", f"ACC{i}", f"protein {i}", "MKTAYIAKQRQISFVKSHFSRQLEERLGLIEVQ" * 3)
            for i in range(50)
        ],
        "tag string, accession string, description string, sequence string",
    )
    out = str(tmp_path / "fa_out")
    os.makedirs(out)
    src.repartition(4).write.format("fasta").mode("overwrite").save(out)

    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not os.path.exists(os.path.join(out, "_staging"))
    want = sorted(tuple(r) for r in src.collect())
    via_ds = sorted(
        tuple(r) for r in spark.read.format("fasta").load(f"{out}/*.fa").collect()
    )
    via_catalyst = sorted(tuple(r) for r in read_fasta(spark, f"{out}/*.fa").collect())
    assert via_ds == want
    assert via_catalyst == want

    # overwrite replaces, never appends
    src.limit(10).write.format("fasta").mode("overwrite").save(out)
    assert spark.read.format("fasta").load(f"{out}/*.fa").count() == 10


def test_fasta_datasource_writer_append_never_clobbers(spark, tmp_path):
    """r14 (ADVICE, medium): append mode must ADD parts, not silently
    overwrite an earlier save's part files (the old fixed
    part-{i:05d}.fa names collided across saves). Final names keep
    the staged uuid, so two appends and an overwrite-then-append all
    coexist correctly."""
    import os

    from prohap_spark.sources.fasta_datasource import FastaDataSource

    spark.dataSource.register(FastaDataSource)

    def mk(lo, hi):
        return spark.createDataFrame(
            [("sp", f"A{i}", f"p {i}", "MKTAYIAKQRQISFVKSHFSRQ") for i in range(lo, hi)],
            "tag string, accession string, description string, sequence string",
        )

    out = str(tmp_path / "fa_append")
    os.makedirs(out)
    mk(0, 10).repartition(2).write.format("fasta").mode("append").save(out)
    mk(10, 25).repartition(2).write.format("fasta").mode("append").save(out)
    got = sorted(
        r.accession for r in spark.read.format("fasta").load(f"{out}/*.fa").collect()
    )
    assert got == sorted(f"A{i}" for i in range(25))  # nothing clobbered

    # overwrite still replaces the union, and a subsequent append adds
    mk(0, 5).write.format("fasta").mode("overwrite").save(out)
    mk(5, 8).write.format("fasta").mode("append").save(out)
    got = sorted(
        r.accession for r in spark.read.format("fasta").load(f"{out}/*.fa").collect()
    )
    assert got == sorted(f"A{i}" for i in range(8))
