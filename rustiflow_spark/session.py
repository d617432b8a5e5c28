"""SparkSession builder with the engine's recommended configuration."""

from __future__ import annotations

import atexit
import hashlib
import logging
import os
import shutil
import subprocess
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

DEFAULT_JAVA_OPTS = "spark.driver.defaultJavaOptions"
# the JVM prints one [cds] line per class it cannot archive (signed jars,
# old class versions) to its stdout, which is the Python process's stdout
CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
DUMP_EXIT_WAIT_S = 120  # the archive dump makes the JVM's exit ~15-20 s longer
PROBE_WAIT_S = 60


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


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


class CdsLaunch(NamedTuple):
    """How to start the driver JVM with a class-data-sharing (AppCDS) archive."""

    java_opts: str  # the whole spark.driver.defaultJavaOptions value
    conf_dir: str  # SPARK_CONF_DIR for the launch: an empty directory
    archive: str  # the published archive, <key>.jsa
    part: str | None  # a miss: the file the JVM dumps its classes to at exit


def cds_key(java_home: str, spark_home: str) -> str:
    """Names the JDK build and the launch classpath: an archive only maps
    into the JVM that wrote it, over the same jars."""
    h = hashlib.sha256()
    st = os.stat(os.path.join(java_home, "lib", "server", "libjvm.so"))
    h.update(f"{os.path.realpath(java_home)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def cds_launch(
    cds_dir: str,
    java_home: str,
    spark_home: str,
    conf_dir: str | None = None,
    java_opts: str = "",
) -> CdsLaunch | None:
    """The CDS flags for a driver JVM about to start, or None (with one
    logged line) when CDS cannot apply.

    A hit (``<key>.jsa`` exists) maps the archive with ``-Xshare:auto``: a
    file the JVM cannot use is ignored. A miss has the JVM write
    ``<key>.<pid>.part`` at exit, which ``publish_archive`` checks and
    renames. CDS refuses a non-empty directory on the classpath, and the
    launcher puts the Spark conf dir (``conf_dir``, else
    ``$SPARK_HOME/conf``) first on it: a conf dir of ``*.template`` files
    only (or none) is replaced by an empty one, a real one turns CDS off.
    ``java_opts`` (the caller's defaultJavaOptions) follow the CDS flags.
    """
    conf_dir = conf_dir or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir):
        real = sorted(n for n in os.listdir(conf_dir) if not n.endswith(".template"))
        if real:
            logger.warning(
                "class-data sharing off: the Spark conf dir %s holds %s", conf_dir, real[0]
            )
            return None
    try:
        key = cds_key(java_home, spark_home)
        empty = os.path.join(cds_dir, "conf")
        os.makedirs(empty, exist_ok=True)
        if not os.access(cds_dir, os.W_OK):
            raise PermissionError(f"{cds_dir} is not writable")
    except OSError as exc:
        logger.warning("class-data sharing off: %s", exc)
        return None
    archive = os.path.join(cds_dir, f"{key}.jsa")
    if os.path.isfile(archive):
        flags, part = f"-XX:SharedArchiveFile={archive} -Xshare:auto", None
    else:
        part = os.path.join(cds_dir, f"{key}.{os.getpid()}.part")
        flags = f"-XX:ArchiveClassesAtExit={part}"
    return CdsLaunch(" ".join(filter(None, (flags, CDS_QUIET, java_opts))), empty, archive, part)


def publish_archive(proc: subprocess.Popen, launch: CdsLaunch, java_home: str) -> bool:
    """End the dumping JVM and publish its archive if it is sound.

    The JVM leaves on EOF on its stdin. The archive is published only when
    the JVM exited 0 and a fresh JVM starts with it: a truncated archive
    kills the JVM with SIGBUS even under ``-Xshare:auto``. Anything else
    deletes the part file. A publish deletes the archives of other keys
    and the part files of dead dumps.
    """
    if proc.poll() is None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    try:
        ok = proc.wait(DUMP_EXIT_WAIT_S) == 0
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        ok = False
    if not (ok and os.path.isfile(launch.part) and _starts_with(java_home, launch.part)):
        try:
            os.unlink(launch.part)
        except FileNotFoundError:
            pass
        return False
    os.replace(launch.part, launch.archive)
    cds_dir = os.path.dirname(launch.archive)
    for name in os.listdir(cds_dir):
        path = os.path.join(cds_dir, name)
        if (name.endswith(".jsa") and path != launch.archive) or (
            name.endswith(".part") and not _alive(int(name.split(".")[-2]))
        ):
            os.unlink(path)
    return True


def _starts_with(java_home: str, archive: str) -> bool:
    """Whether a fresh JVM runs ``-version`` with ``archive`` mapped."""
    # a crash writes no hs_err file or core into the caller's cwd
    probe = [os.path.join(java_home, "bin", "java"), f"-XX:SharedArchiveFile={archive}",
             "-Xshare:auto", *CDS_QUIET.split(), f"-XX:ErrorFile={os.devnull}",
             "-XX:-CreateCoredumpOnCrash", "-version"]
    try:
        return subprocess.run(probe, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL, timeout=PROBE_WAIT_S).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _cds_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "rustiflow_spark", "cds")


def _java_home() -> str | None:
    """The JDK spark-class runs: $JAVA_HOME, else `java` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


_dumping: set[str] = set()  # part files a JVM of this process will write at exit


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
    (``with_python_workers``). ``cores`` defaults to ``default_cores()``.

    When this call starts the driver JVM itself (no gateway yet, not under
    spark-submit), the JVM gets a class-data-sharing archive keyed by JDK
    and Spark jars under ``${XDG_CACHE_HOME:-~/.cache}/rustiflow_spark/cds``
    (``cds_launch``), which roughly halves its start. The first such launch
    writes the archive when its JVM exits (``publish_archive``, registered
    with ``atexit``); ``extra_conf``'s defaultJavaOptions are kept after the
    CDS flags.
    """
    cores = cores or default_cores()
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
    conf = dict(extra_conf or {})
    launch = java_home = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        java_home = _java_home()
        if java_home is not None:
            launch = cds_launch(_cds_dir(), java_home, _find_spark_home(),
                                os.environ.get("SPARK_CONF_DIR"), conf.get(DEFAULT_JAVA_OPTS, ""))
        if launch is not None and launch.part in _dumping:
            launch = None  # this process's earlier JVM still owes that file
    if launch is not None:
        conf[DEFAULT_JAVA_OPTS] = launch.java_opts
    for k, v in conf.items():
        builder = builder.config(k, v)
    if launch is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if launch.part is not None:
        _dumping.add(launch.part)
        atexit.register(publish_archive, SparkContext._gateway.proc, launch, java_home)
    return spark
