"""Driver-JVM cold start: the class-data-sharing (CDS) archive get_spark
writes on its first launch and maps on later ones, and the default core
count.

The option builder is tested on fake JDK/Spark trees. The JVM-level tests
run each session in a fresh Python process with its own cache dir and an
empty SPARK_CONF_DIR, so they never touch the user's cache or depend on the
box's Spark conf dir.
"""

from __future__ import annotations

import json
import logging
import os
import subprocess
import sys

import pytest

from rustiflow_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tree(tmp_path, jars=("a.jar", "b.jar"), conf=None):
    java = tmp_path / "jdk"
    (java / "lib" / "server").mkdir(parents=True)
    (java / "lib" / "server" / "libjvm.so").write_bytes(b"jvm")
    spark = tmp_path / "spark"
    (spark / "jars").mkdir(parents=True)
    for j in jars:
        (spark / "jars" / j).write_bytes(b"jar")
    if conf is not None:
        (spark / "conf").mkdir()
        for name in conf:
            (spark / "conf" / name).write_text("# x\n")
    return str(java), str(spark), str(tmp_path / "cache" / "cds")


def test_miss_dumps_to_a_part_file(tmp_path):
    java, spark, cds = _tree(tmp_path)
    launch = session.cds_launch(cds, java, spark)
    assert launch.part == os.path.join(
        cds, f"{session.cds_key(java, spark)}.{os.getpid()}.part"
    )
    assert launch.java_opts.split() == [
        f"-XX:ArchiveClassesAtExit={launch.part}", *session.CDS_QUIET.split()
    ]
    assert not os.path.exists(launch.archive)


def test_hit_maps_the_archive(tmp_path):
    java, spark, cds = _tree(tmp_path)
    archive = session.cds_launch(cds, java, spark).archive
    open(archive, "wb").close()
    launch = session.cds_launch(cds, java, spark)
    assert launch.part is None
    assert launch.java_opts.split() == [
        f"-XX:SharedArchiveFile={archive}", "-Xshare:auto", *session.CDS_QUIET.split()
    ]


def test_callers_default_java_options_are_kept(tmp_path):
    java, spark, cds = _tree(tmp_path)
    launch = session.cds_launch(cds, java, spark, java_opts="-Xss4m -Dx=1")
    assert launch.java_opts.startswith("-XX:ArchiveClassesAtExit=")
    assert launch.java_opts.endswith(f"{session.CDS_QUIET} -Xss4m -Dx=1")


@pytest.mark.parametrize("conf", [None, ["spark-defaults.conf.template", "workers.template"]])
def test_template_only_conf_dir_is_swapped_for_an_empty_one(tmp_path, conf):
    java, spark, cds = _tree(tmp_path, conf=conf)
    launch = session.cds_launch(cds, java, spark)
    assert launch.conf_dir == os.path.join(cds, "conf")
    assert os.listdir(launch.conf_dir) == []


def test_real_conf_dir_turns_cds_off_with_one_log_line(tmp_path, caplog):
    java, spark, cds = _tree(tmp_path, conf=["spark-defaults.conf", "workers.template"])
    with caplog.at_level(logging.INFO, logger=session.__name__):
        assert session.cds_launch(cds, java, spark) is None
    assert len(caplog.records) == 1
    assert "spark-defaults.conf" in caplog.records[0].getMessage()
    assert not os.path.exists(cds)


def test_unwritable_cache_turns_cds_off_with_one_log_line(tmp_path, caplog):
    java, spark, _ = _tree(tmp_path)
    blocker = tmp_path / "file"
    blocker.write_text("")
    with caplog.at_level(logging.INFO, logger=session.__name__):
        assert session.cds_launch(str(blocker / "cds"), java, spark) is None
    assert len(caplog.records) == 1


def test_key_follows_the_jar_set_and_the_jdk(tmp_path):
    java, spark, _ = _tree(tmp_path / "one")
    key = session.cds_key(java, spark)
    assert session.cds_key(java, spark) == key
    assert session.cds_key(*_tree(tmp_path / "two", jars=("a.jar", "c.jar"))[:2]) != key
    assert session.cds_key(*_tree(tmp_path / "three", jars=("a.jar",))[:2]) != key
    with open(os.path.join(java, "lib", "server", "libjvm.so"), "ab") as f:
        f.write(b"patched")
    assert session.cds_key(java, spark) != key


def test_default_cores(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cores() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session.default_cores() == len(os.sched_getaffinity(0))


# --- JVM level: each case is a fresh Python process -------------------------

CHILD = r"""
import atexit, json, os, signal, sys
from pyspark import SparkContext
from rustiflow_spark import session

conf = {"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"}
spark = session.get_spark("cds-test", cores=1, shuffle_partitions=1, extra_conf=conf)
out = {"count": spark.range(3).count(),
       "java_opts": spark.sparkContext.getConf().get(session.DEFAULT_JAVA_OPTS, "")}
if sys.argv[1] == "again":
    calls = []
    register, launch = atexit.register, session.cds_launch
    atexit.register = lambda *a: calls.append("atexit") or register(*a)
    session.cds_launch = lambda *a: calls.append("cds_launch") or launch(*a)
    session.get_spark("cds-test-2", cores=1, extra_conf=conf)
    atexit.register, session.cds_launch = register, launch
    out["again"] = calls
    out["java_opts_again"] = spark.sparkContext.getConf().get(session.DEFAULT_JAVA_OPTS, "")
elif sys.argv[1] == "kill":
    proc = SparkContext._gateway.proc
    os.kill(proc.pid, signal.SIGKILL)
    proc.wait()
print(json.dumps(out))
"""


def _key() -> str:
    return session.cds_key(session._java_home(), session._find_spark_home())


def _run(cache, mode: str) -> tuple[dict, str, str]:
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    conf_dir = os.path.join(cache, "spark-conf")
    os.makedirs(conf_dir, exist_ok=True)
    env.update(XDG_CACHE_HOME=str(cache), SPARK_CONF_DIR=conf_dir,
               PYTHONPATH=os.pathsep.join(filter(None, (ROOT, env.get("PYTHONPATH")))))
    res = subprocess.run([sys.executable, "-c", CHILD, mode], env=env, cwd=str(cache),
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    return json.loads(res.stdout.strip().splitlines()[-1]), res.stdout, res.stderr


def _cds_files(cache) -> list[str]:
    return sorted(n for n in os.listdir(os.path.join(cache, "rustiflow_spark", "cds"))
                  if n != "conf")


def _no_cds_lines(*texts: str) -> None:
    for text in texts:
        assert [ln for ln in text.splitlines() if "[cds" in ln] == []


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """One dump run, with a stale archive of another key and a dead dump's
    part file in the cache that the publish must delete."""
    cache = tmp_path_factory.mktemp("cds-cache")
    cds = cache / "rustiflow_spark" / "cds"
    cds.mkdir(parents=True)
    (cds / "0123456789abcdef0123.jsa").write_bytes(b"old")
    (cds / f"{_key()}.999999999.part").write_bytes(b"dead")
    return cache, _run(cache, "again")


def test_dump_run_publishes_quietly_and_only_once(dumped):
    cache, (out, stdout, stderr) = dumped
    assert out["count"] == 3
    assert out["java_opts"].startswith("-XX:ArchiveClassesAtExit=")
    # a second get_spark while the JVM is up neither relaunches nor dumps
    assert out["again"] == []
    assert out["java_opts_again"] == out["java_opts"]
    _no_cds_lines(stdout, stderr)
    assert _cds_files(cache) == [f"{_key()}.jsa"]


def test_hit_run_maps_the_archive_quietly(dumped):
    cache = dumped[0]
    out, stdout, stderr = _run(cache, "plain")
    assert out["count"] == 3
    assert out["java_opts"].startswith("-XX:SharedArchiveFile=")
    _no_cds_lines(stdout, stderr)
    assert _cds_files(cache) == [f"{_key()}.jsa"]


def test_garbage_archive_degrades_to_a_plain_start(tmp_path):
    cds = tmp_path / "rustiflow_spark" / "cds"
    cds.mkdir(parents=True)
    (cds / f"{_key()}.jsa").write_bytes(os.urandom(1 << 16))
    out, stdout, stderr = _run(tmp_path, "plain")
    assert out["count"] == 3
    assert out["java_opts"].startswith("-XX:SharedArchiveFile=")
    _no_cds_lines(stdout, stderr)


def test_killed_dump_publishes_nothing(tmp_path):
    out, _, _ = _run(tmp_path, "kill")
    assert out["count"] == 3
    assert out["java_opts"].startswith("-XX:ArchiveClassesAtExit=")
    assert _cds_files(tmp_path) == []


def test_truncated_dump_is_not_published(dumped, tmp_path):
    """A JVM that exits 0 with a truncated archive: the probe JVM dies on
    it (SIGBUS even under -Xshare:auto), so the part file is deleted."""
    good = os.path.join(dumped[0], "rustiflow_spark", "cds", f"{_key()}.jsa")
    part = tmp_path / f"{_key()}.{os.getpid()}.part"
    with open(good, "rb") as f:
        part.write_bytes(f.read(os.path.getsize(good) // 3))
    launch = session.CdsLaunch("", str(tmp_path), str(tmp_path / f"{_key()}.jsa"), str(part))
    proc = subprocess.Popen([sys.executable, "-c", "pass"], stdin=subprocess.PIPE)
    assert session.publish_archive(proc, launch, session._java_home()) is False
    assert os.listdir(tmp_path) == []
