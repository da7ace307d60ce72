"""The extraction pipeline: the flagship Spark program of this engine.

Stages (SURVEY.md §7):
  1. bucket assignment  — ``pmod(xxhash64(conv_id), n_buckets)``: the unit of
     idempotent commit + resume (Iceberg ``bucket(conv_id)`` analogue).
  2. resume anti-join   — drop buckets already ledgered 'done' for this
     run_id (reference dedup short-circuit, app/routers/extraction.py:110-125,
     re-expressed as C4 checkpoint semantics).
  3. salt + repartition — ``repartition(P, bucket, salt)`` where
     ``salt = turn_idx // salt_turns`` splits whale conversations across
     tasks (extraction is per-turn, so correctness is unaffected; skew is).
  4. extraction         — ONE ``mapInPandas`` stage running the
     deterministic core per Arrow batch; per-row try/except inside the
     batch yields status='failed' rows instead of killing tasks (reference
     PartialExtractionError semantics, app/services/pdf_extractor.py:588-633).
  5. wave commit        — buckets are processed in bounded waves; each wave
     writes data partitions (dynamic overwrite → idempotent re-run), reads
     them back ONCE, and appends its lineage rows (the commit point), its
     ``metrics`` rows and its ``op_metrics`` rows. A crash between waves
     loses at most one uncommitted wave; resume re-runs only missing buckets.
     DEFAULT n_waves=1: each wave is a full input scan when the input is not
     bucket-partitioned (the bucket filter can't push down a computed
     column), so multi-wave commit is only worth it when (a) the input IS
     Iceberg bucket(conv_id)-partitioned — then the filter prunes at the
     manifest level — or (b) the run is long enough that losing a whole run
     to a cluster failure costs more than the extra scans. Within one wave,
     Spark task retries already absorb transient failures.
  6. wave stats         — the read-back is one GROUPING SETS aggregation
     (``checkpoint.wave_stats``): bucket rows feed the ledger, route rows
     the per-wave ``metrics`` table (replaces the reference's row-at-a-time
     batch_jobs counters, app/db/batch_jobs.py:86-183).

Scale notes (100 TB / 10^12 turns): no driver-side data movement — the only
collects are the ledger's bucket-status list (≤ n_buckets rows of metadata)
and each wave's stats (≤ buckets-per-wave + routes rows).
The extraction stage is map-only (no shuffle beyond the explicit
repartition, which doubles as the write-partitioning). Output is
bucket-partitioned so downstream conv_id joins/groupBys can pre-prune.
"""

from __future__ import annotations

import time
from typing import Iterable, Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extraction_spark.core.extractor import extract_turn
from pdf_extraction_spark.plans.checkpoint import MAX_ATTEMPTS, ROUTE_METRICS, Ledger, wave_stats
from pdf_extraction_spark.plans.observe import OP_METRICS_SCHEMA, op_metrics_rows
from pdf_extraction_spark.plans.review_queue import enqueue_buckets
from pdf_extraction_spark.sources.tables import TableIO, metadata_frame

SPANS_TYPE = (
    "array<struct<span_idx:int,kind:string,text:string,page:int,"
    "bbox:struct<x1:double,y1:double,x2:double,y2:double>>>"
)

EXTRACTED_SCHEMA = (
    "conv_id string, turn_idx int, role string, tool string, ts timestamp, "
    f"extracted_text string, spans {SPANS_TYPE}, quality_score double, "
    "doc_kind string, classify_method string, route string, status string, "
    "error string, extract_ms double"
)

METRICS_SCHEMA = (
    "run_id string, route string, n_turns bigint, n_ok bigint, n_partial bigint, n_failed bigint, "
    "avg_quality double, p95_extract_ms double, throughput_turns_per_sec double"
)

_PASS_COLS = ["conv_id", "turn_idx", "role", "tool", "ts"]
_OUT_COLS = [
    "extracted_text", "spans", "quality_score", "doc_kind",
    "classify_method", "route", "status", "error",
]

_FAILED_ROW = {
    "extracted_text": "",
    "spans": [],
    "quality_score": 0.0,
    "doc_kind": "other",
    "classify_method": "default",
    "route": "fallback",
    "status": "failed",
}


def _extract_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: Arrow batch in → Arrow batch out, memory-flat."""
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        outs: List[dict] = []
        timings: List[float] = []
        texts = pdf["text"].tolist()
        tools = pdf["tool"].tolist()
        for text, tool in zip(texts, tools):
            t0 = time.perf_counter()
            try:
                outs.append(extract_turn(text, tool if isinstance(tool, str) else None))
            except Exception as exc:  # C3: a poison row must not kill the task
                outs.append({**_FAILED_ROW, "error": f"extract_error:{type(exc).__name__}"})
            timings.append((time.perf_counter() - t0) * 1000.0)
        res = pdf[_PASS_COLS].copy()
        for col in _OUT_COLS:
            res[col] = [o[col] for o in outs]
        res["extract_ms"] = timings
        yield res


def extract_stage(transcripts: DataFrame) -> DataFrame:
    """The vectorized extraction transform (no shuffle of its own)."""
    cols = transcripts.columns
    missing = [c for c in _PASS_COLS if c not in cols]
    if missing:
        raise ValueError(f"transcripts missing columns: {missing}")
    return transcripts.select(*_PASS_COLS, "text").mapInPandas(_extract_batches, EXTRACTED_SCHEMA)


def _with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int"))


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    out_root: str,
    run_id: str,
    n_buckets: int = 32,
    salt_turns: int = 1000,
    n_waves: int = 1,
    partitions: Optional[int] = None,
    resume: bool = True,
    repartition_input: bool = True,
    input_fp: Optional[str] = None,
) -> dict:
    """Run the pipeline; returns a small summary dict (counts + timing).

    Failure semantics (C2/C3): a wave whose Spark action raises marks every
    bucket in that wave 'failed' (attempt N) in the ledger and the run
    CONTINUES with the remaining waves (partial results beat dead runs).
    On resume, failed buckets are retried until their attempt count reaches
    ``MAX_ATTEMPTS`` (5, the reference's retry cap); after that they are
    escalated to the ``review_queue`` table and never re-run under this
    run_id (the reference's poison-row guarantee,
    app/routers/extraction.py:332-355). Failure granularity is the wave —
    run with ``n_waves == n_buckets`` for per-bucket isolation.

    ``input_fp`` (optional): caller-supplied fingerprint of the input
    (e.g. an Iceberg snapshot id). Stamped into the ledger; resuming the
    same run_id with a different fingerprint — or a different n_buckets —
    fails fast instead of silently skipping re-mapped buckets.

    Raises ``ValueError`` before touching the ledger if ``n_buckets``,
    ``salt_turns``, ``n_waves`` or a given ``partitions`` is below 1.
    """
    bounds = {"n_buckets": n_buckets, "salt_turns": salt_turns, "n_waves": n_waves,
              "partitions": 1 if partitions is None else partitions}
    bad = {k: v for k, v in bounds.items() if v < 1}
    if bad:
        raise ValueError(f"run_extraction parameters must be >= 1, got {bad}")

    io = TableIO(spark, out_root)
    ledger = Ledger(io, run_id, n_buckets=n_buckets, input_fp=input_fp)
    t0 = time.monotonic()

    df = _with_bucket(transcripts, n_buckets)

    if resume:
        state = ledger.bucket_state()  # fails fast on n_buckets/input_fp drift
    else:
        state = {"done": frozenset(), "retryable": frozenset(), "exhausted": frozenset()}
    done, exhausted = state["done"], state["exhausted"]
    # exhausted buckets found at startup may come from a previous run that
    # crashed before escalating — enqueue is idempotent, so always sweep.
    n_escalated = enqueue_buckets(io, run_id, sorted(exhausted)) if exhausted else 0
    todo = sorted(set(range(n_buckets)) - done - exhausted)
    if not todo:
        return {"run_id": run_id, "buckets_done": len(done), "buckets_run": 0,
                "buckets_failed": 0, "buckets_escalated": n_escalated,
                "n_turns": 0, "elapsed_s": 0.0, "resumed": True}

    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    total_turns = 0
    failed_buckets: List[int] = []
    ran_buckets: List[int] = []
    waves = [todo[i::n_waves] for i in range(min(n_waves, len(todo)))]
    for wave in waves:
        t_wave = time.monotonic()
        wave_df = df.filter(F.col("bucket").isin(wave))
        if repartition_input:
            # explicit (bucket, salt) repartition: balances whale
            # conversations across tasks and clusters the write. Disable
            # ONLY when the input is already bucket-partitioned by an
            # upstream writer (e.g. Iceberg bucket(conv_id)) — extraction
            # itself is per-turn and needs no co-location, so skipping the
            # shuffle saves a full pass over the input bytes at 100 TB.
            wave_df = wave_df.withColumn(
                "salt", (F.col("turn_idx") / F.lit(salt_turns)).cast("int")
            ).repartition(partitions, "bucket", "salt").drop("salt")
        try:
            extracted = extract_stage(wave_df.drop("bucket"))
            extracted = _with_bucket(extracted, n_buckets)

            io.write(extracted, "extracted", mode="overwrite_partitions",
                     partition_by=["bucket"])
        except Exception:  # wave-level failure: ledger it, keep going (C3)
            # attempt numbering is PER BUCKET: a never-failed bucket that
            # shares a wave with an almost-exhausted one must be recorded
            # at ITS OWN attempt 1, not inherit the wave maximum (which
            # would silently escalate it on its first failure)
            prior = ledger.attempts()
            per_bucket = {b: prior.get(b, 0) + 1 for b in wave}
            for att in sorted(set(per_bucket.values())):
                ledger.mark_failed(
                    [b for b, a in per_bucket.items() if a == att], att
                )
            failed_buckets.extend(per_bucket)
            exhausted_now = sorted(
                b for b, a in per_bucket.items() if a >= MAX_ATTEMPTS
            )
            if exhausted_now:
                n_escalated += enqueue_buckets(io, run_id, exhausted_now)
            continue

        # lineage and metrics rows are computed FROM WHAT WAS WRITTEN — the
        # ledger certifies on-disk state, not in-flight state — in one read.
        written = io.read("extracted").filter(F.col("bucket").isin(wave))
        stats, routes, executed = wave_stats(written)
        # buckets with zero input rows still count as done (else they re-run
        # on every resume forever)
        nonempty = {s["bucket"] for s in stats}
        stats += [{"bucket": b, "n_turns": 0, "checksum": 0}
                  for b in wave if b not in nonempty]
        wave_turns = sum(s["n_turns"] for s in stats)
        ledger.mark_done(stats)
        total_turns += wave_turns
        ran_buckets.extend(wave)

        # per-wave metrics, written right after the commit so a resumed run
        # never loses the rows of waves an earlier invocation committed
        tps = wave_turns / max(time.monotonic() - t_wave, 1e-9)
        metrics = [(run_id, *(r[c] for c in ROUTE_METRICS), tps) for r in routes]
        io.write(metadata_frame(spark, metrics, METRICS_SCHEMA), "metrics", mode="append")
        io.write(metadata_frame(spark, op_metrics_rows(executed, run_id, stage="run_metrics"),
                                OP_METRICS_SCHEMA), "op_metrics", mode="append")

    elapsed = time.monotonic() - t0
    return {
        "run_id": run_id,
        "buckets_done": len(done),
        "buckets_run": len(ran_buckets),
        "buckets_failed": len(failed_buckets),
        "buckets_escalated": n_escalated,
        "n_turns": total_turns,
        "elapsed_s": round(elapsed, 3),
        "resumed": bool(done),
    }


def read_extracted(spark: SparkSession, out_root: str) -> DataFrame:
    return TableIO(spark, out_root).read("extracted")
