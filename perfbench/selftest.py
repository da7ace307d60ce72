"""Self-test of the benchmark itself, on tiny inputs in one Spark session.

    python3 perfbench/run.py --selftest

Checks that:
- the metric names and units match BENCHMARK.json, and its workloads exist;
- every workload runs untraced and traced, reports every metric of its
  kind, and its end-to-end metrics are non-zero;
- untraced runs set no Spark job group (tracing is off);
- the same seed gives the same input fingerprint and another seed another;
- a deliberately wrong expectation (row count, DuckDB count, admitted
  documents) drives the failed count above 0.
"""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench import inputs
from perfbench.workloads import END_TO_END, PER_LAYER, TINY, WORKLOADS, ExtractRich, IngestAppend, QuerySweep

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Failures:
    def __init__(self):
        self.n = 0

    def check(self, ok: bool, what: str) -> None:
        print(f"# selftest {'ok  ' if ok else 'FAIL'} {what}", file=sys.stderr)
        self.n += not ok


def selftest(spark, work: str, measure, sampler) -> int:
    f = _Failures()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    f.check({m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END,
            "end_to_end names and units match BENCHMARK.json")
    f.check({m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER,
            "per_layer names and units match BENCHMARK.json")
    f.check({w["name"] for w in spec["workloads"]} <= set(WORKLOADS),
            "BENCHMARK.json workloads exist")

    tracker = spark.sparkContext.statusTracker()
    for name in WORKLOADS:
        spark.range(1).count()  # an ungrouped job marks where this run starts
        last = max(tracker.getJobIdsForGroup(None))
        r = measure(spark, name, 1, 0.0, False, TINY, work, time.perf_counter(), sampler)
        # job ids are sequential: a job run under any group leaves a gap in
        # the ungrouped ids
        new = sorted(j for j in tracker.getJobIdsForGroup(None) if j > last)
        f.check(bool(new) and new == list(range(last + 1, new[-1] + 1)),
                f"{name}: untraced run sets no job group")
        f.check(r["correct"] and r["attempted"] > 0 and r["failed"] == 0, f"{name}: tiny run correct")
        f.check(set(r["metrics"]) == set(END_TO_END)
                and all(m["value"] > 0 for m in r["metrics"].values()),
                f"{name}: every end-to-end metric reported and non-zero")
        r = measure(spark, name, 1, 0.0, True, TINY, work, time.perf_counter(), sampler)
        f.check(r["correct"] and set(r["metrics"]) == set(PER_LAYER),
                f"{name}: traced run correct, every per-layer metric reported")

    fps = [inputs.fingerprint(inputs.transcripts(spark, s, 12, 1, 6, 30, 4)) for s in (3, 3, 4)]
    f.check(fps[0] == fps[1] != fps[2], f"transcript fingerprint repeats per seed: {fps}")
    ing = [inputs.ingest_fingerprint(inputs.ingest_batches(s, 2, 20, 0.1, 0.2)) for s in (3, 3, 4)]
    f.check(ing[0] == ing[1] != ing[2], f"ingest fingerprint repeats per seed: {ing}")

    broken = os.path.join(work, "broken")
    wl = ExtractRich(spark, os.path.join(broken, "extract"), 1, TINY)
    wl.setup()
    wl.n_input += 1  # a wrong expected row count
    r = wl.round(traced=False)
    f.check(r.failed == r.attempted > 0, "extract_rich: wrong expected count fails the round")
    wl = QuerySweep(spark, os.path.join(broken, "query"), 1, TINY)
    wl.setup()
    rnd = wl.round(traced=False)
    wl.counts[-1][wl.order[0]] += 1  # a wrong query row count
    f.check(wl.check([rnd]) == 1, "query_sweep: count differing from DuckDB fails the query")
    wl = IngestAppend(spark, os.path.join(broken, "ingest"), 1, TINY)
    wl.prepare()
    wl.expected_admitted += 1  # a wrong expected admitted total
    r = wl.round(traced=False)
    f.check(r.failed == r.attempted > 0, "ingest_append: wrong admitted total fails the round")

    print(f"# selftest: {f.n} failure(s)", file=sys.stderr)
    return 1 if f.n else 0
