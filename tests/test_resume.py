"""Checkpoint/resume semantics (C4): interrupted run + resume ==
single full run, byte-identical output; completed buckets are skipped."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark import fixtures
from pdf_extraction_spark.plans.checkpoint import Ledger
from pdf_extraction_spark.plans.pipeline import read_extracted, run_extraction
from pdf_extraction_spark.sources.tables import TableIO


def _result_frame(spark, root):
    return (
        TableIO(spark, root)
        .read("extracted")
        .select("conv_id", "turn_idx", "extracted_text", "status", "route", "bucket")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )


@pytest.fixture()
def small_transcripts(spark):
    pdf = fixtures.transcripts_pandas(n_convs=20, whale_every=10, whale_len=60)
    return spark.createDataFrame(pdf)


def test_interrupt_then_resume_equals_full_run(spark, small_transcripts, tmp_path):
    full_root = str(tmp_path / "full")
    part_root = str(tmp_path / "partial")

    s1 = run_extraction(spark, small_transcripts, full_root, run_id="r1", n_buckets=8, n_waves=2)
    assert s1["buckets_run"] == 8 and not s1["resumed"]

    # Simulate a crash after wave 1 of 2: run with n_waves=2 but kill wave 2
    # by monkeypatching? Simpler + honest: run only a subset of buckets by
    # pre-marking the complement ledger rows absent and interrupting via a
    # partial run (n_waves=1 over half the buckets).
    import pdf_extraction_spark.plans.pipeline as pl

    # First "crashed" run: process buckets 0-3 only by intercepting the todo
    # list through a ledger pre-pass — emulate by running with resume after
    # marking 4-7 done, then wiping those ledger rows.
    io = TableIO(spark, part_root)
    ledger = Ledger(io, "r2")
    fake = [{"bucket": b, "n_turns": 0, "checksum": -999} for b in range(4, 8)]
    ledger.mark_done(fake)
    s2 = run_extraction(spark, small_transcripts, part_root, run_id="r2", n_buckets=8, n_waves=2)
    assert s2["resumed"] and s2["buckets_run"] == 4  # only 0-3 ran

    # "restart": clear the fake rows so 4-7 are no longer done, then resume
    led = io.read("lineage").filter(F.col("checksum") != "-999")
    led_pdf = led.toPandas()
    import shutil

    shutil.rmtree(io.path("lineage"))
    spark.createDataFrame(led_pdf).write.mode("overwrite").parquet(io.path("lineage"))

    s3 = run_extraction(spark, small_transcripts, part_root, run_id="r2", n_buckets=8, n_waves=2)
    assert s3["resumed"] and s3["buckets_run"] == 4  # the remaining 4-7

    got = _result_frame(spark, part_root)
    want = _result_frame(spark, full_root)
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))


def test_rerun_is_noop(spark, small_transcripts, tmp_path):
    root = str(tmp_path / "w")
    run_extraction(spark, small_transcripts, root, run_id="r1", n_buckets=8)
    before = _result_frame(spark, root)
    s = run_extraction(spark, small_transcripts, root, run_id="r1", n_buckets=8)
    assert s["buckets_run"] == 0 and s["resumed"]
    after = _result_frame(spark, root)
    pd.testing.assert_frame_equal(before, after)


def test_ledger_checksums_match_rewritten_data(spark, small_transcripts, tmp_path):
    """Re-running a bucket (idempotent overwrite) reproduces its checksum."""
    root = str(tmp_path / "w")
    run_extraction(spark, small_transcripts, root, run_id="r1", n_buckets=8)
    io = TableIO(spark, root)
    led = io.read("lineage").toPandas().set_index("bucket")
    stats = Ledger.bucket_stats(io.read("extracted"))
    assert len(stats) > 0
    for s in stats:
        assert str(s["checksum"]) == led.loc[s["bucket"], "checksum"]
        assert s["n_turns"] == led.loc[s["bucket"], "n_turns"]


def test_whale_conversation_is_salted(spark, tmp_path):
    """A whale conversation must span multiple tasks after salting."""
    pdf = fixtures.transcripts_pandas(n_convs=1, whale_every=1, whale_len=500)
    df = spark.createDataFrame(pdf)
    from pdf_extraction_spark.plans.pipeline import _with_bucket

    salted = (
        _with_bucket(df, 8)
        .withColumn("salt", (F.col("turn_idx") / F.lit(100)).cast("int"))
        .repartition(8, "bucket", "salt")
        .withColumn("pid", F.spark_partition_id())
    )
    n_parts = salted.select("pid").distinct().count()
    assert n_parts >= 3  # 500 turns / salt grain 100 → ≥5 salt groups; hashing may collide a little


def _count_extracted_reads(monkeypatch):
    """Wrap TableIO.read; returns the list that records each read of the
    ``extracted`` table."""
    reads = []
    real = TableIO.read

    def read(self, name, merge_schema=False):
        if name == "extracted":
            reads.append(name)
        return real(self, name, merge_schema)

    monkeypatch.setattr(TableIO, "read", read)
    return reads


def _lineage_turns(spark, root, run_id):
    led = TableIO(spark, root).read("lineage")
    return led.filter((F.col("run_id") == run_id) & (F.col("status") == "done")) \
        .agg(F.sum("n_turns")).first()[0]


def test_metrics_table_contents(spark, small_transcripts, tmp_path, monkeypatch):
    """n_waves=1: one metrics row per route whose status counters add up,
    whose turn counts match the summary and the ledger, and whose mean
    quality is a score; ``extracted`` is read back exactly once."""
    root = str(tmp_path / "w")
    reads = _count_extracted_reads(monkeypatch)
    s = run_extraction(spark, small_transcripts, root, run_id="r1", n_buckets=8)
    assert len(reads) == 1

    met = TableIO(spark, root).read("metrics").toPandas()
    assert set(met["run_id"]) == {"r1"}
    assert sorted(met["route"]) == sorted(
        r["route"] for r in read_extracted(spark, root).select("route").distinct().collect())
    assert (met["n_ok"] + met["n_partial"] + met["n_failed"] == met["n_turns"]).all()
    assert met["n_turns"].sum() == s["n_turns"] == _lineage_turns(spark, root, "r1")
    assert s["n_turns"] == small_transcripts.count()
    assert ((met["avg_quality"] >= 0) & (met["avg_quality"] <= 1)).all()


def test_crash_between_waves_keeps_committed_metrics(spark, small_transcripts, tmp_path, monkeypatch):
    """A run that dies after wave 1 of 2 committed must leave that
    wave's metrics rows behind: after resume, the run's metrics cover every
    input turn exactly once, like its lineage. Each committed wave reads
    ``extracted`` back exactly once."""
    import pdf_extraction_spark.plans.pipeline as pl

    root = str(tmp_path / "w")
    real = pl.extract_stage
    calls = []

    def dies_on_second_wave(df):
        calls.append(1)
        if len(calls) == 2:
            raise KeyboardInterrupt  # not an Exception: escapes the wave handler
        return real(df)

    reads = _count_extracted_reads(monkeypatch)
    monkeypatch.setattr(pl, "extract_stage", dies_on_second_wave)
    with pytest.raises(KeyboardInterrupt):
        run_extraction(spark, small_transcripts, root, run_id="r", n_buckets=4, n_waves=2)
    assert len(reads) == 1

    monkeypatch.setattr(pl, "extract_stage", real)
    s = run_extraction(spark, small_transcripts, root, run_id="r", n_buckets=4, n_waves=2)
    assert s["resumed"] and s["buckets_run"] == 2

    met = TableIO(spark, root).read("metrics").filter(F.col("run_id") == "r")
    n_metrics = met.agg(F.sum("n_turns")).first()[0]
    assert n_metrics == small_transcripts.count() == _lineage_turns(spark, root, "r")
    assert len(reads) == 3  # the resume committed two one-bucket waves


_ONE_BOUNDS = ["n_buckets", "salt_turns", "n_waves", "partitions"]


@pytest.mark.parametrize("param", _ONE_BOUNDS)
def test_parameter_below_one_raises_before_ledger(spark, small_transcripts, tmp_path, param):
    root = str(tmp_path / "w")
    with pytest.raises(ValueError, match=param):
        run_extraction(spark, small_transcripts, root, run_id="r", **{param: 0})
    assert not (tmp_path / "w" / "lineage").exists()


@pytest.mark.parametrize("param", _ONE_BOUNDS)
def test_parameter_at_one_runs(spark, tmp_path, param):
    df = spark.createDataFrame(fixtures.transcripts_pandas(n_convs=3, whale_every=100, whale_len=5))
    root = str(tmp_path / "w")
    s = run_extraction(spark, df, root, run_id="r", **{"n_buckets": 4, param: 1})
    assert s["n_turns"] == df.count()
    assert _lineage_turns(spark, root, "r") == df.count()
