"""SparkSession factory with scale-appropriate defaults.

Locked settings:
- UTC session timezone (oracle comparability with DuckDB),
- Arrow enabled (all Python work is Arrow-batched),
- AQE + skew-join handling on (whale conversations, skewed joins),
- shuffle partitions sized to cores for local mode (the 200 default is
  wrong at both ends; on a real cluster set ~2-3× total cores),
- on local masters, Python workers run under ``worker_daemon`` (see
  ``worker_daemon_conf``). The stock daemon's workers call
  ``importlib.invalidate_caches()`` before every task, and on CPython 3.11
  that re-reads ``pyspark.zip``'s directory once per zipimporter: 0.32 s
  per Python task on a 4-core box, 0.09 s under ``worker_daemon``
  (``bench_extra.py --task-overhead``). Other masters keep the
  stock daemon, because a driver-side path need not exist on executors.
  To use it on a cluster, install this package on the executors and set
  ``spark.python.daemon.module=pdf_extraction_spark.worker_daemon``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory (checkout) or zip (``--py-files``) this package is imported from
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def worker_daemon_conf(master: str, package_root: str, pythonpath: str | None = None) -> dict:
    """Conf that runs Python workers under ``worker_daemon`` on a local master:
    the daemon module, and ``package_root`` appended to the workers'
    PYTHONPATH (merged with ``pythonpath``, the value otherwise set) so the
    daemon can import itself before any task ships code. Empty elsewhere."""
    if not (master == "local" or master.startswith("local[")):
        return {}
    paths = [p for p in (pythonpath or "").split(os.pathsep) if p]
    if package_root not in paths:
        paths.append(package_root)
    return {
        "spark.python.daemon.module": "pdf_extraction_spark.worker_daemon",
        _PYTHONPATH: os.pathsep.join(paths),
    }


def build_session(
    app_name: str = "pdf_extraction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark_local"))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # r7: scan-split size (guide §6.1). The driver testdata ships as one
        # parquet file per table with ~20 MB row groups, so the 128m default
        # reads even the 126 MB lineitem fact as ONE task; 32m splits it to
        # row-group granularity (~6 tasks). Parameterised: a production
        # deployment with many large files sets 256m-1g per the guide to cut
        # task-scheduling overhead and map-task counts feeding shuffles.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_FILES_MAX_PARTITION_BYTES", "32m"))
    )
    extra_conf = extra_conf or {}
    conf = {**extra_conf, **worker_daemon_conf(master, PACKAGE_ROOT, extra_conf.get(_PYTHONPATH))}
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
