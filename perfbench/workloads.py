"""The benchmark's three closed-loop workloads.

One caller: each call starts after the previous one returns. A workload is
driven only through the program's public entry points
(``plans.pipeline.run_extraction``, the ``__spark_entry__.queries()``
registry, ``plans.incremental.append_batch``). The layer probes of a traced
run call each layer's public functions from here; the program itself is
not instrumented.

A *round* is what the loop repeats until the measuring window closes: one
``run_extraction`` call, one pass over the query list, or one ingest of
every batch into a fresh warehouse followed by its maintenance. A round
yields one or more *ops*, the unit of the end-to-end timings.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import traceback
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from perfbench import inputs
from perfbench.probe import JobGroups, dir_mb, timed

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")

# The swept queries: headline queries (bench.py's HEADLINE list) of the
# operator modules the open ROADMAP items change: MinHash/LSH and Bloom
# dedup, similarity, the suffix-array index, SemDeDup and the broadcast
# joins of TPC-H Q5. A pass over all 45 headline queries takes ~38 s on 4
# cores, more than a run may spend measuring.
QUERIES = (
    "dedup_minhash_lsh",
    "dedup_bloom_prefilter",
    "neardup_bucketed_pairs",
    "incremental_exact_substring",
    "semantic_dedup_stats",
    "tpch_q5_regional_revenue",
)

PAYLOAD_CLASSES = ("html", "layout", "tool_noise", "plain")


@dataclass(frozen=True)
class Sizes:
    extract_convs: int
    rich: int
    whale_every: int
    whale_len: int
    n_buckets: int
    salt_turns: int
    check_per_class: int  # turns per payload class in the equality check
    core_sample: int  # turns timed in one process for the core layers
    queries: Tuple[str, ...]
    ingest_batches: int
    ingest_batch_docs: int


# whale_every/whale_len are the fixture generator's default skew: about a
# third of the turns sit in 1,200-turn conversations. The input is 1/10 of
# the ROADMAP's 33,918-turn reference run, so n_buckets and salt_turns are
# its 256 and 1,000 scaled by 1/8: rows per bucket and the whale's share
# of a task stay as in the reference, instead of one 1,000-turn salt chunk
# outweighing a whole 4-core stage.
FULL = Sizes(extract_convs=200, rich=8, whale_every=200, whale_len=1200, n_buckets=32, salt_turns=125,
             check_per_class=12, core_sample=300, queries=QUERIES,
             ingest_batches=2, ingest_batch_docs=600)
TINY = Sizes(extract_convs=24, rich=1, whale_every=12, whale_len=40, n_buckets=16, salt_turns=25,
             check_per_class=3, core_sample=40, queries=QUERIES[4:6],
             ingest_batches=2, ingest_batch_docs=60)

# name -> unit. Every run reports every metric of its kind; a layer that the
# workload does not exercise reports 0.
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "items/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "trace.op_p50_s": "s",
    "trace.items_per_s": "items/s",
    "trace.overhead_frac": "ratio",
    "pipeline.run_s": "s",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.failed_tasks": "count",
    "tables.scan_s": "s",
    "pipeline.extract_noop_s": "s",
    "pipeline.extract_noop_vs_1core": "ratio",
    "pipeline.arrow_passthrough_s": "s",
    "pipeline.salt_net_s": "s",
    "tables.write_s": "s",
    "tables.write_mb": "MB",
    "tables.write_files": "count",
    "checkpoint.bucket_stats_s": "s",
    "pipeline.unattributed_s": "s",
    "tables.extract_out_mb": "MB",
    "core.turns_per_s_1core": "turns/s",
    "pipeline.extract_speedup_vs_1core": "ratio",
    **{f"core.{c}_s": "s" for c in PAYLOAD_CLASSES},
    "core.html_share": "ratio",
    "core.tokenize_s": "s",
    "core.dom_parse_s": "s",
    "core.density_s": "s",
    "core.layout_parse_s": "s",
    "core.noise_strip_s": "s",
    "core.segment_plain_s": "s",
    "core.classify_s": "s",
    "core.quality_s": "s",
    **{f"query.{q}_s": "s" for q in QUERIES},
    "sweep.jobs": "count",
    "sweep.tasks": "count",
    "ingest.batch_first_s": "s",
    "ingest.batch_last_s": "s",
    "ingest.jobs": "count",
    "ingest.gram_classes_s": "s",
    "ingest.dup_mass_s": "s",
    "ingest.bloom_candidate_frac": "ratio",
    "ingest.bloom_useful_frac": "ratio",
    "ingest.compact_index_s": "s",
    "ingest.rebuild_bloom_s": "s",
    "tables.store_mb": "MB",
    **{f"tables.store_mb.{t}": "MB" for t in ("corpus", "gram_index", "doc_hashes", "bloom", "dup_report")},
}


@dataclass
class Op:
    seconds: float
    items: int
    counts: Optional[Dict[str, float]] = None  # Spark work, traced ops only


@dataclass
class Round:
    ops: List[Op]
    attempted: int
    failed: int
    traced: bool
    extra: Dict[str, float] = field(default_factory=dict)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def payload_class(text: str, tool: Optional[str]) -> str:
    """The extractor's own routing order (``core.extractor.extract_turn``)."""
    from pdf_extraction_spark.core.layout import sniff_layout
    from pdf_extraction_spark.core.tokenizer import looks_like_html

    if text and text.strip():
        if sniff_layout(text):
            return "layout"
        if looks_like_html(text):
            return "html"
        if tool:
            return "tool_noise"
    return "plain"


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, sizes: Sizes):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.cpus = self.sc.defaultParallelism
        self.jobs = JobGroups(self.sc)
        self.log: List[str] = []
        # operations run by the layer probes of a traced run, and failures
        self.probe_attempted = self.probe_failed = 0

    def call(self, traced: bool, label: str, fn, *args, **kwargs):
        """Time one call; under tracing also count its Spark work."""
        if traced:
            return self.jobs.run(label, fn, *args, **kwargs)
        out, seconds = timed(fn, *args, **kwargs)
        return out, {"seconds": seconds}

    def setup(self) -> None:
        raise NotImplementedError

    def round(self, traced: bool) -> Round:
        raise NotImplementedError

    def check(self, rounds: List[Round]) -> int:
        """Failures found by checks that run once after the loop."""
        return 0

    def layers(self, rounds: List[Round]) -> Dict[str, float]:
        """Per-layer metrics of this workload (traced runs only)."""
        raise NotImplementedError


# ---------------------------------------------------------------- extract


def _passthrough(batches):
    """mapInPandas body that moves the extraction stage's rows across the
    Arrow boundary without calling the core: the text is echoed back."""
    for pdf in batches:
        out = pdf[["conv_id", "turn_idx", "role", "tool", "ts"]].copy()
        out["extracted_text"] = pdf["text"]
        out["spans"] = [[] for _ in range(len(pdf))]
        out["quality_score"] = 0.0
        for col in ("doc_kind", "classify_method", "route", "status", "error"):
            out[col] = ""
        out["extract_ms"] = 0.0
        yield out


class ExtractRich(Workload):
    """One ``run_extraction`` into a fresh warehouse per round."""

    name = "extract_rich"

    def setup(self) -> None:
        from pdf_extraction_spark.core.extractor import EXTRACT_FIELDS, extract_turn

        s = self.sizes
        self.partitions = 4 * self.cpus
        path = os.path.join(self.work, "input")
        inputs.transcripts(self.spark, self.seed, s.extract_convs, s.rich, s.whale_every,
                           s.whale_len, self.partitions).write.parquet(path)
        self.transcripts = self.spark.read.parquet(path)
        fingerprint = inputs.fingerprint(self.transcripts)
        self.n_input = int(fingerprint.split(":")[0])
        self.log.append(f"input_fingerprint={fingerprint} turns={self.n_input}")

        # seeded samples: a class-covering one (with whale turns) for the
        # per-turn equality check, a uniform one for the core layer timings
        frac = min(1.0, 2.0 * s.core_sample / self.n_input)
        rows = sorted(
            self.transcripts.sample(fraction=frac, seed=self.seed)
            .select("conv_id", "turn_idx", "text", "tool").collect()
        )
        r = random.Random(self.seed)
        self.core_sample = [(x["text"], x["tool"]) for x in r.sample(rows, min(s.core_sample, len(rows)))]
        by_class: Dict[str, list] = {c: [] for c in PAYLOAD_CLASSES}
        for x in rows:
            by_class[payload_class(x["text"], x["tool"])].append(x)
        check = [x for c in PAYLOAD_CLASSES for x in r.sample(by_class[c], min(s.check_per_class, len(by_class[c])))]
        whales = [x for x in rows if x["turn_idx"] >= 20]  # only whales exceed 20 turns
        check += r.sample(whales, min(2, len(whales)))
        missing = [c for c in PAYLOAD_CLASSES if not by_class[c]]
        if missing or not whales:
            raise RuntimeError(f"equality sample lacks classes {missing} or whale turns")
        self.fields = [f for f in EXTRACT_FIELDS if f != "spans"] + ["spans"]
        self.expected = {}
        for x in check:
            got = extract_turn(x["text"], x["tool"])
            self.expected[(x["conv_id"], x["turn_idx"])] = tuple(
                _plain(got[f]) for f in self.fields)
        self.check_keys = self.spark.createDataFrame(
            sorted(self.expected), "conv_id string, turn_idx int")

        # one untimed round: every code path (scan, salt shuffle, Python
        # workers, partitioned write, ledger and metrics read-backs) warm
        self._extract(os.path.join(self.work, "warm"))
        self.out = os.path.join(self.work, "out")

    def _extract(self, out: str, repartition_input: bool = True) -> dict:
        from pdf_extraction_spark.plans.pipeline import run_extraction

        shutil.rmtree(out, ignore_errors=True)
        return run_extraction(self.spark, self.transcripts, out, run_id="perfbench",
                              n_buckets=self.sizes.n_buckets, salt_turns=self.sizes.salt_turns, n_waves=1,
                              partitions=self.partitions, resume=False,
                              repartition_input=repartition_input)

    def round(self, traced: bool) -> Round:
        summary, counts = self.call(traced, "run_extraction", self._extract, self.out)
        nb = self.sizes.n_buckets
        ok = (summary["buckets_run"] == nb and summary["n_turns"] == self.n_input
              and self._sample_matches())
        failed = int(summary["buckets_failed"]) if ok else nb
        return Round([Op(counts["seconds"], int(summary["n_turns"]), counts if traced else None)],
                     attempted=nb, failed=failed, traced=traced)

    def _sample_matches(self) -> bool:
        from pyspark.sql import functions as F

        from pdf_extraction_spark.plans.pipeline import read_extracted

        got = {
            (x["conv_id"], x["turn_idx"]): tuple(_plain(x[f]) for f in self.fields)
            for x in read_extracted(self.spark, self.out)
            .join(F.broadcast(self.check_keys), ["conv_id", "turn_idx"]).collect()
        }
        bad = [k for k, v in self.expected.items() if got.get(k) != v]
        if bad:
            self.log.append(f"per-turn mismatch on {len(bad)} turns, e.g. {bad[:3]}")
        return not bad

    def layers(self, rounds: List[Round]) -> Dict[str, float]:
        from pdf_extraction_spark.plans.checkpoint import Ledger
        from pdf_extraction_spark.plans.pipeline import EXTRACTED_SCHEMA, extract_stage, read_extracted
        from pdf_extraction_spark.sources.tables import TableIO

        def noop(df):
            return lambda: df.write.format("noop").mode("overwrite").save()

        traced = [op.counts for r in rounds if r.traced for op in r.ops]
        m: Dict[str, float] = {
            "pipeline.run_s": median(c["seconds"] for c in traced),
            "pipeline.jobs": median(c["jobs"] for c in traced),
            "pipeline.tasks": median(c["tasks"] for c in traced),
            "pipeline.failed_tasks": sum(c["failed_tasks"] for c in traced),
        }
        out_mb = sum(dir_mb(os.path.join(self.out, t))[0] for t in ("extracted", "lineage", "metrics"))
        m["tables.extract_out_mb"] = out_mb
        cols = ["conv_id", "turn_idx", "role", "tool", "ts", "text"]
        m["tables.scan_s"] = timed(noop(self.transcripts))[1]
        m["pipeline.arrow_passthrough_s"] = timed(
            noop(self.transcripts.select(*cols).mapInPandas(_passthrough, EXTRACTED_SCHEMA)))[1]
        m["pipeline.extract_noop_s"] = timed(noop(extract_stage(self.transcripts)))[1]
        no_salt = timed(self._extract, os.path.join(self.work, "out_nosalt"), False)[1]
        m["pipeline.salt_net_s"] = m["pipeline.run_s"] - no_salt
        copy = TableIO(self.spark, os.path.join(self.work, "copy"))
        m["tables.write_s"] = timed(copy.write, read_extracted(self.spark, self.out), "extracted",
                                    "overwrite_partitions", ["bucket"])[1]
        m["tables.write_mb"], m["tables.write_files"] = dir_mb(copy.path("extracted"))
        m["checkpoint.bucket_stats_s"] = timed(Ledger.bucket_stats, read_extracted(self.spark, self.out))[1]
        m["pipeline.unattributed_s"] = m["pipeline.run_s"] - (
            m["pipeline.extract_noop_s"] + m["pipeline.salt_net_s"] + m["tables.write_s"]
            + m["checkpoint.bucket_stats_s"])
        m.update(core_layers(self.core_sample))
        m["pipeline.extract_speedup_vs_1core"] = (
            self.n_input / m["pipeline.run_s"] / m["core.turns_per_s_1core"])
        m["pipeline.extract_noop_vs_1core"] = (
            self.n_input / m["pipeline.extract_noop_s"] / m["core.turns_per_s_1core"])
        return m


def _plain(v):
    """Spark Rows and Python dicts/lists as comparable plain values."""
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if isinstance(v, dict):
        return tuple(sorted((k, _plain(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    return v


def core_layers(sample: List[Tuple[str, Optional[str]]]) -> Dict[str, float]:
    """Time the core's public functions in this process over ``sample``."""
    import time

    from pdf_extraction_spark.core import density, dom, layout, noise, tokenizer
    from pdf_extraction_spark.core.classify import classify_text
    from pdf_extraction_spark.core.extractor import extract_turn
    from pdf_extraction_spark.core.quality import calculate_quality_score

    for text, tool in sample[:20]:  # warm regex caches and imports
        extract_turn(text, tool)
    m = {f"core.{c}_s": 0.0 for c in PAYLOAD_CLASSES}
    for k in ("tokenize", "dom_parse", "density", "layout_parse", "noise_strip",
              "segment_plain", "classify", "quality"):
        m[f"core.{k}_s"] = 0.0
    total = 0.0
    clock = time.perf_counter
    for text, tool in sample:
        cls = payload_class(text, tool)
        t0 = clock()
        extract_turn(text, tool)
        dt = clock() - t0
        m[f"core.{cls}_s"] += dt
        total += dt
        parsed = None
        if cls == "html":
            t0 = clock()
            list(tokenizer.tokenize(text))
            t1 = clock()
            dom.parse(text)
            t2 = clock()
            parsed = density.extract_html(text)
            t3 = clock()
            m["core.tokenize_s"] += t1 - t0
            m["core.dom_parse_s"] += (t2 - t1) - (t1 - t0)  # self time: minus its tokenize
            m["core.density_s"] += (t3 - t2) - (t2 - t1)  # self time: minus its parse
        elif cls == "layout":
            t0 = clock()
            parsed = layout.extract_layout(text)
            m["core.layout_parse_s"] += clock() - t0
        elif cls == "tool_noise":
            t0 = clock()
            parsed = noise.strip_noise(text)
            m["core.noise_strip_s"] += clock() - t0
        elif text and text.strip():
            t0 = clock()
            parsed = noise.segment_plain(text)
            m["core.segment_plain_s"] += clock() - t0
        t0 = clock()
        classify_text(text or "")
        m["core.classify_s"] += clock() - t0
        if parsed is not None:
            t0 = clock()
            calculate_quality_score(len(parsed["text"]), parsed["element_count"],
                                    parsed["heading_count"], parsed["tables"])
            m["core.quality_s"] += clock() - t0
    m["core.turns_per_s_1core"] = len(sample) / total
    m["core.html_share"] = m["core.html_s"] / total
    return m


# ------------------------------------------------------------------ query


class QuerySweep(Workload):
    """One pass over the query list per round; each query is forced with
    ``count()`` through the ``queries()`` wrapper, which releases caches."""

    name = "query_sweep"

    def setup(self) -> None:
        import __spark_entry__

        self.registry = __spark_entry__.queries()
        self.order = list(self.sizes.queries)
        random.Random(self.seed).shuffle(self.order)
        self.log.append(f"query_order={','.join(self.order)}")
        self.counts: List[Dict[str, Optional[int]]] = []
        self._pass(traced=False)  # untimed warm-up pass
        self.counts.clear()

    def _pass(self, traced: bool) -> Tuple[float, Dict[str, Dict[str, float]]]:
        per: Dict[str, Dict[str, float]] = {}
        rows: Dict[str, Optional[int]] = {}
        for name in self.order:
            try:
                rows[name], per[name] = self.call(
                    traced, name, lambda: self.registry[name](self.spark, SF_DIR).count())
            except Exception:  # a failing query is counted, the pass goes on
                self.log.append(f"{name} raised:\n{traceback.format_exc()}")
                rows[name], per[name] = None, {"seconds": 0.0}
        self.counts.append(rows)
        return sum(c["seconds"] for c in per.values()), per

    def round(self, traced: bool) -> Round:
        seconds, per = self._pass(traced)
        op = Op(seconds, len(self.order), None)
        if traced:
            op.counts = {"seconds": seconds,
                         "jobs": sum(c["jobs"] for c in per.values()),
                         "tasks": sum(c["tasks"] for c in per.values())}
            op.counts.update({f"query.{q}_s": c["seconds"] for q, c in per.items()})
        return Round([op], attempted=len(self.order), failed=0, traced=traced)

    def check(self, rounds: List[Round]) -> int:
        """Queries, over all passes, whose row count differs from the
        DuckDB twin's (or that raised). DuckDB runs once per process."""
        want = oracle_counts(self.order)
        failed = 0
        for rows in self.counts:
            bad = [q for q in self.order if rows.get(q) != want[q]]
            if bad:
                self.log.append(f"row counts differ from DuckDB: {[(q, rows.get(q), want[q]) for q in bad]}")
            failed += len(bad)
        return failed

    def layers(self, rounds: List[Round]) -> Dict[str, float]:
        traced = [op.counts for r in rounds if r.traced for op in r.ops]
        m = {k: median(c[k] for c in traced) for k in traced[0] if k.startswith("query.")}
        m["sweep.jobs"] = median(c["jobs"] for c in traced)
        m["sweep.tasks"] = median(c["tasks"] for c in traced)
        # ingest_append does not fit the per-run time budget as a workload;
        # its layers are probed here, next to the incremental operators
        # (incremental_exact_substring, dedup_bloom_prefilter) it deploys.
        # No warm-up: its first batch includes the ingest paths' first use.
        ingest = IngestAppend(self.spark, os.path.join(self.work, "ingest"), self.seed, self.sizes)
        ingest.prepare()
        rnd = ingest.round(traced=True)
        self.probe_attempted, self.probe_failed = rnd.attempted, rnd.failed
        m.update(ingest.layers([rnd]))
        self.log.extend(ingest.log)
        return m


TESTDATA_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                   "lineitem", "events", "documents", "embeddings")


def oracle_counts(names) -> Dict[str, int]:
    """Row count of each query's DuckDB twin (``__spark_entry__.oracle_sql``)
    over SF_DIR. A count is a pure function of the SQL text and the data
    bytes, so it is cached under ``.work/`` keyed by both; the SemDeDup twin
    alone takes ~12 s in DuckDB."""
    import hashlib
    import json

    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    data = hashlib.sha256()
    for t in TESTDATA_TABLES:
        with open(os.path.join(SF_DIR, f"{t}.parquet"), "rb") as f:
            data.update(f.read())
    keys = {q: hashlib.sha256((sql[q] + data.hexdigest()).encode()).hexdigest() for q in names}
    path = os.path.join(HERE, ".work", "oracle_counts.json")
    try:
        with open(path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    todo = [q for q in names if keys[q] not in cache]
    if todo:
        import duckdb

        con = duckdb.connect()
        try:
            con.sql("SET enable_progress_bar = false")
            for t in TESTDATA_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(SF_DIR, t)}.parquet'")
            for q in todo:
                cache[keys[q]] = con.sql(f"SELECT count(*) FROM ({sql[q]})").fetchone()[0]
        finally:
            con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(path + ".tmp", path)
    return {q: cache[keys[q]] for q in names}


# ----------------------------------------------------------------- ingest


class IngestAppend(Workload):
    """Per round: every batch through ``append_batch(admit_unique=True)``
    into one fresh, growing warehouse, then one ``compact_gram_index`` and
    one ``rebuild_bloom``."""

    name = "ingest_append"
    TABLES = ("corpus", "gram_index", "doc_hashes", "bloom", "dup_report")

    def setup(self) -> None:
        self.prepare()
        self._ingest(os.path.join(self.work, "warm"), self.frames[:2], traced=False)  # untimed warm-up

    def prepare(self) -> None:
        """Inputs only, no warm-up."""
        s = self.sizes
        self.batches = inputs.ingest_batches(self.seed, s.ingest_batches, s.ingest_batch_docs,
                                             dup_frac=0.1, resend_frac=0.2)
        self.log.append(f"input_fingerprint={inputs.ingest_fingerprint(self.batches)}")
        self.expected_admitted = inputs.distinct_md5(self.batches)
        self.frames = [self.spark.createDataFrame(b.rows, "doc_id long, text string")
                       for b in self.batches]
        self.root = os.path.join(self.work, "warehouse")

    def _ingest(self, root: str, frames, traced: bool):
        from pdf_extraction_spark.plans.incremental import append_batch, compact_gram_index, rebuild_bloom

        shutil.rmtree(root, ignore_errors=True)
        results = []
        for b, df in zip(self.batches, frames):
            try:
                summary, counts = self.call(traced, "append_batch", append_batch, self.spark, root,
                                            df, b.batch_id, admit_unique=True)
            except Exception:  # a failing batch is counted, the round goes on
                self.log.append(f"append_batch({b.batch_id}) raised:\n{traceback.format_exc()}")
                summary, counts = None, None
            results.append((summary, counts))
        _, compact_s = timed(compact_gram_index, self.spark, root)
        _, rebuild_s = timed(rebuild_bloom, self.spark, root)
        return results, compact_s, rebuild_s

    def round(self, traced: bool) -> Round:
        from pdf_extraction_spark.plans.incremental import append_batch
        from pdf_extraction_spark.sources.tables import TableIO

        results, compact_s, rebuild_s = self._ingest(self.root, self.frames, traced)
        ops = [Op(c["seconds"], len(b.rows), c if traced else None)
               for b, (s, c) in zip(self.batches, results) if s is not None]
        failed = sum(1 for s, _ in results if s is None or s.get("skipped"))
        admitted = sum(s["n_admitted"] for s, _ in results if s)
        reported = TableIO(self.spark, self.root).read("dup_report").count()
        again = append_batch(self.spark, self.root, self.frames[-1], self.batches[-1].batch_id,
                             admit_unique=True)
        if admitted != self.expected_admitted or reported != admitted or not again.get("skipped"):
            self.log.append(f"ingest check failed: admitted={admitted} expected={self.expected_admitted} "
                            f"dup_report={reported} re-append skipped={again.get('skipped')}")
            failed = len(self.batches)
        later = [s for s, _ in results[1:] if s]
        extra = {
            "ingest.compact_index_s": compact_s,
            "ingest.rebuild_bloom_s": rebuild_s,
            "offered": sum(s["n_in"] for s in later),
            "candidates": sum(s["n_bloom_candidates"] for s in later),
            "store_dups": sum(s["n_store_dups"] for s in later),
        }
        return Round(ops, attempted=len(self.batches), failed=failed, traced=traced, extra=extra)

    def layers(self, rounds: List[Round]) -> Dict[str, float]:
        from pdf_extraction_spark.cache import release_caches
        from pdf_extraction_spark.operators.sarray import SA_WINDOW, gram_classes, incremental_duplicated_mass
        from pdf_extraction_spark.sources.tables import TableIO

        traced = [r for r in rounds if r.traced]
        m: Dict[str, float] = {
            "ingest.batch_first_s": median(r.ops[0].seconds for r in traced),
            "ingest.batch_last_s": median(r.ops[-1].seconds for r in traced),
            "ingest.jobs": median(op.counts["jobs"] for r in traced for op in r.ops),
            "ingest.compact_index_s": median(r.extra["ingest.compact_index_s"] for r in traced),
            "ingest.rebuild_bloom_s": median(r.extra["ingest.rebuild_bloom_s"] for r in traced),
        }
        offered = sum(r.extra["offered"] for r in traced)
        cands = sum(r.extra["candidates"] for r in traced)
        m["ingest.bloom_candidate_frac"] = cands / offered if offered else 0.0
        m["ingest.bloom_useful_frac"] = sum(r.extra["store_dups"] for r in traced) / cands if cands else 0.0
        m["tables.store_mb"] = dir_mb(self.root)[0]
        for t in self.TABLES:
            m[f"tables.store_mb.{t}"] = dir_mb(os.path.join(self.root, t))[0]

        # the last batch against the grown (compacted) index
        index = TableIO(self.spark, self.root).read("gram_index").select("gram_key", "n_old")
        docs = self.frames[-1]
        classes, m["ingest.gram_classes_s"] = timed(
            lambda: _forced(gram_classes(docs, window=SA_WINDOW)))
        m["ingest.dup_mass_s"] = timed(lambda: _forced(
            incremental_duplicated_mass(index, docs, window=SA_WINDOW, new_classes=classes)))[1]
        release_caches()
        return m


def _forced(df):
    df.write.format("noop").mode("overwrite").save()
    return df


WORKLOADS = {w.name: w for w in (ExtractRich, QuerySweep, IngestAppend)}
