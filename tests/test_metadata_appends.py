"""Metadata appends (lineage, metrics, op_metrics, review_queue) go through
``tables.metadata_frame``: exact DDL schema, NULLs kept, no Python task, and
one file per append."""

import os

from pyspark.sql.types import StructType

from pdf_extraction_spark import fixtures
from pdf_extraction_spark.plans.checkpoint import LEDGER_SCHEMA
from pdf_extraction_spark.plans.observe import OP_METRICS_SCHEMA
from pdf_extraction_spark.plans.pipeline import METRICS_SCHEMA, run_extraction
from pdf_extraction_spark.plans.review_queue import REVIEW_SCHEMA, enqueue_buckets
from pdf_extraction_spark.sources.tables import TableIO, metadata_frame


def _n_files(io, name):
    return sum(
        f.endswith(".parquet") for _, _, files in os.walk(io.path(name)) for f in files
    )


def _fields(df, drop=()):
    return [(f.name, f.dataType) for f in df.schema.fields if f.name not in drop]


def test_metadata_frame_is_one_local_partition_with_exact_schema(spark):
    rows = [("r", "s", 0, "Scan", 5, 1, None, None, None, None),
            {"run_id": "r", "stage": "s", "depth": 1, "node": "Exchange", "rows_out": None,
             "files_read": None, "shuffle_bytes_written": 7, "shuffle_records_written": 2,
             "spill_bytes": None, "peak_memory": None}]
    df = metadata_frame(spark, rows, OP_METRICS_SCHEMA)
    assert df.schema == StructType.fromDDL(OP_METRICS_SCHEMA)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Python" not in plan
    assert df._jdf.rdd().getNumPartitions() == 1
    got = [r.asDict() for r in df.collect()]
    assert got[0]["shuffle_bytes_written"] is None and got[0]["files_read"] == 1
    assert got[1]["rows_out"] is None and got[1]["shuffle_bytes_written"] == 7


def test_pipeline_appends_one_file_per_table_per_wave(spark, tmp_path):
    pdf = fixtures.transcripts_pandas(n_convs=12, whale_every=0)
    root = str(tmp_path / "wh")
    io = TableIO(spark, root)
    run_extraction(spark, spark.createDataFrame(pdf), root, run_id="m1", n_buckets=4, n_waves=2)
    for name in ("lineage", "metrics", "op_metrics"):
        assert _n_files(io, name) == 2, name  # one append per committed wave

    assert _fields(io.read("lineage"), drop=("ts",)) == _fields(
        spark.createDataFrame([], LEDGER_SCHEMA))
    assert _fields(io.read("metrics")) == _fields(spark.createDataFrame([], METRICS_SCHEMA))
    ops = io.read("op_metrics")
    assert _fields(ops) == _fields(spark.createDataFrame([], OP_METRICS_SCHEMA))
    # not-applicable metrics stay NULL, not 0 (a Scan has no shuffle columns)
    scans = [r for r in ops.collect() if r["node"].startswith("Scan")]
    assert scans and all(r["shuffle_bytes_written"] is None for r in scans)
    assert all(r["rows_out"] is not None for r in scans)


def test_enqueue_buckets_appends_one_file(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "wh"))
    assert enqueue_buckets(io, "q1", [3, 1, 2]) == 3
    assert _n_files(io, "review_queue") == 1
    rq = io.read("review_queue")
    assert _fields(rq, drop=("status", "enqueued_ts", "resolved_ts")) == _fields(
        spark.createDataFrame([], REVIEW_SCHEMA))
    rows = rq.collect()
    assert {r["bucket"] for r in rows} == {1, 2, 3}
    assert all(r["conv_id"] is None and r["turn_idx"] is None for r in rows)
