"""SparkSession builder with the engine's recommended configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """min(48g, ~40% of physical RAM), floor 2g — a 48g default on a small
    host would over-commit the JVM and get OOM-killed (round-3 ADVICE)."""
    try:
        total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        gb = max(2, min(48, int(total * 0.4) >> 30))
    except (ValueError, OSError, AttributeError):
        gb = 8
    return f"{gb}g"


def with_python_workers(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Run the session's Python workers under ``rustiflow_spark.worker_daemon``.

    The JVM puts ``pyspark.zip``, the py4j zip and the spark-core jar first
    on the workers' path, and PySpark invalidates the import caches at the
    start of every task, which makes each zip/jar importer re-read its
    archive: ~0.25 s per task. The daemon drops the jar, and drops each zip
    whose distribution is installed at the same version, before pyspark is
    imported. Where only the zip exists (a cluster that ships nothing else)
    it keeps the zip, logs one line to the worker's stderr and behaves like
    Spark's own daemon.

    The daemon lives in this package, so the package root is shipped as
    ``spark.executorEnv.PYTHONPATH``: an executor env var, not os.environ,
    so it also holds when the JVM is already up (spark-submit --py-files:
    the root is then the shipped zip). The worker imports the daemon from
    that driver-side path before --py-files reach it, so apply this only
    where executors can read the driver's files (a local master). Call
    before ``getOrCreate``.
    """
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return builder.config("spark.executorEnv.PYTHONPATH", pkg_root).config(
        "spark.python.daemon.module", "rustiflow_spark.worker_daemon"
    )


def get_spark(
    app_name: str = "rustiflow_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Local-mode session tuned like a production job would be.

    On a real cluster the same settings ship via spark-submit --conf; the
    adaptive/Arrow settings below are what make the 100 TB plan viable:
    AQE coalesces + skew-splits the sessionization shuffle, Arrow batches
    amortize Python transfer, and shuffle partitions track parallelism.

    Python workers run under ``rustiflow_spark.worker_daemon``
    (``with_python_workers``).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores * 2, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # in local mode the driver JVM IS the executor: its heap must hold
        # the shuffle/sort working set for all cores. 8g silently hung
        # 64M-row runs on a 128 GiB box (workers idle, JVM thrashing in
        # spill) — size it like an executor, not like a driver. Capped at
        # ~40% of physical RAM so smaller hosts don't over-commit.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    builder = with_python_workers(builder)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
