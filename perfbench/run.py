#!/usr/bin/env python3
"""Repository benchmark: extraction, query-sweep and ingest workloads.

Run from the repository root:

    python3 perfbench/run.py --workload extract_rich --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --selftest

One run starts Spark at local[<cores>], makes the workload's inputs from
--seed, warms up, then repeats the workload's round until --seconds have
passed (at least one round), checks every round's outputs, and prints each
metric by name with its unit on stderr. The last line on stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 every other round runs
under Spark job groups, and the per-layer probes run after the loop.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = ("pdf_extraction_spark", "__spark_entry__.py")
DRIVER_MEMORY = "2g"  # JVM heap; the inputs are tens of MB


def _prepare_env(work: str) -> None:
    """Keep every file Spark and its workers write inside ``work``, and let
    the Python workers import the program and this package."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM that spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str):
    from pdf_extraction_spark.session import build_session

    cpus = len(os.sched_getaffinity(0))
    java_opts = [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-XX:-UsePerfData",  # no hsperfdata file outside the work dir
        # A fixed-size heap makes peak RSS depend on what the run allocates,
        # not on when G1 chose to grow the heap.
        f"-Xms{DRIVER_MEMORY}",
        # C1 only: in a JVM that lives one minute on 4 cores, C2 compile
        # threads compete with the task threads and every round is faster
        # than the last; C1 code reaches its steady speed during warm-up.
        "-XX:TieredStopAtLevel=1",
    ]
    return build_session(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=4 * cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": " ".join(java_opts),
        },
    )


def stop_spark(spark, tree) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (Python worker daemons included) has exited."""
    from pyspark import SparkContext

    from perfbench.probe import wait_gone

    children = tree.descendants()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    killed = wait_gone(children)
    if killed:
        print(f"# killed {len(killed)} leftover processes", file=sys.stderr)


def measure(spark, workload: str, seed: int, seconds: float, trace: bool, sizes,
            work: str, t_start: float, sampler) -> dict:
    """Set up one workload, run its closed loop and return the result
    object (metrics not yet rounded; every digit as measured)."""
    from perfbench.workloads import END_TO_END, PER_LAYER, WORKLOADS, median

    wl = WORKLOADS[workload](spark, os.path.join(work, workload), seed, sizes)
    shutil.rmtree(wl.work, ignore_errors=True)
    os.makedirs(wl.work)
    wl.setup()
    setup_s = time.perf_counter() - t_start

    rounds = []
    deadline = time.perf_counter() + seconds
    # under tracing the rounds alternate untraced/traced, so the run can
    # report its own tracing overhead; it needs at least one of each
    while not rounds or time.perf_counter() < deadline or (trace and len(rounds) < 2):
        rounds.append(wl.round(traced=trace and len(rounds) % 2 == 1))
    layers = wl.layers(rounds) if trace else {}
    attempted = sum(r.attempted for r in rounds) + wl.probe_attempted
    failed = sum(r.failed for r in rounds) + wl.probe_failed + wl.check(rounds)

    def summary(rs):
        ops = [op for r in rs for op in r.ops]
        return median(op.seconds for op in ops), median(op.items / op.seconds for op in ops)

    if trace:
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(layers)
        op_s, items_s = summary([r for r in rounds if r.traced])
        metrics["trace.op_p50_s"], metrics["trace.items_per_s"] = op_s, items_s
        metrics["trace.overhead_frac"] = op_s / summary([r for r in rounds if not r.traced])[0] - 1.0
        units = PER_LAYER
    else:
        op_s, items_s = summary(rounds)
        metrics = {"setup_s": setup_s, "op_p50_s": op_s, "items_per_s": items_s,
                   "peak_rss_mb": sampler.peak_mb}
        units = END_TO_END
    for line in wl.log:
        print(f"# {workload}: {line}", file=sys.stderr)
    op_secs = " ".join(f"{op.seconds:.3f}" for r in rounds for op in r.ops)
    print(f"# {workload}: seed={seed} rounds={len(rounds)} op_seconds=[{op_secs}] "
          f"attempted={attempted} failed={failed} failed_frac={failed / attempted:.4f}",
          file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()}}


def print_metrics(result: dict) -> None:
    for name, m in result["metrics"].items():
        print(f"# {name:40s} {m['value']:>14.6g} {m['unit']}", file=sys.stderr)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("extract_rich", "query_sweep", "ingest_append"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="check names, tracing and a tiny pass")
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not in {ROOT} (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    _prepare_env(work)
    from perfbench.probe import ProcessTree, RssSampler

    tree = ProcessTree()
    sampler = RssSampler(tree).start()
    spark = None
    try:
        spark = start_spark(work)
        if args.selftest:
            from perfbench.selftest import selftest

            return selftest(spark, work, measure, sampler)
        from perfbench.workloads import FULL

        result = measure(spark, args.workload, args.seed, args.seconds, bool(args.trace),
                         FULL, work, t_start, sampler)
    finally:
        if spark is not None:
            stop_spark(spark, tree)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    print_metrics(result)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
