#!/usr/bin/env python3
"""rustiflow_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pcap_cic --seed 1 --seconds 15 --trace 0

Per run: generate (or reuse) the seeded input; start a local[nproc]
session; materialise the full result once into parquet and compare it
with DuckDB (outside the timed region); run WARM_REPS untimed repetitions
(session start through these is ``setup_s``); then time repeated full
materialisations to the noop sink for ``--seconds`` (at least MIN_REPS)
and report their median. ``--trace 1`` adds one traced repetition and the
per-layer numbers (see layers.py).

Human-readable metric lines go to stdout first; the last stdout line is
the JSON result. Everything the run writes stays under perfbench/.work.

The measuring process runs as a child of a supervisor (``supervise``)
that, once the child has ended, waits for or kills every process the run
left behind -- the multiprocessing resource tracker of input generation,
PySpark's worker daemon (which moves to its own process group) -- so that
no process outlives run.py.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170  # the whole run must end within 180 s
CHILD_LIMIT_S = 172  # the supervisor kills the measuring process after this
LINGER_S = 4  # left-behind processes get this long to exit before SIGKILL
INNER_ENV = "PERFBENCH_INNER"
PR_SET_CHILD_SUBREAPER = 36
MIN_REPS = 3
WARM_REPS = 2
KEEP_INPUTS = 3  # cached inputs kept per workload and scale

END_TO_END_UNITS = {
    "wall_s": "s", "input_rows_per_s": "rows/s", "setup_s": "s",
    "peak_rss_mb": "MB", "ok_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["pcap_cic", "session_hotkey", "stream_flows"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="tiny: self-test input sizes")
    return p.parse_args(argv)


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and make the package importable."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # HotSpot writes /tmp/hsperfdata_<user> whatever java.io.tmpdir says;
    # this also covers the launcher JVM spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def spark_conf() -> dict:
    # a fixed, pre-touched 2 GiB heap: a heap that grows on demand made the
    # JVM's RSS differ by ~500 MB between runs of the same job
    return {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }


def start_session(cores: int):
    from rustiflow_spark import session

    spark = session.get_spark("perfbench", cores=cores, extra_conf=spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark=None, keep_jvm: bool = False) -> None:
    """Stop the active session; unless keep_jvm, also end the JVM (and with
    it the Python workers) and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if keep_jvm or gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def prune_inputs(name: str, scale: str, keep: str) -> None:
    import glob
    import shutil

    dirs = sorted(glob.glob(os.path.join(WORK, "inputs", f"{name}-{scale}-*")),
                  key=os.path.getmtime)
    stale = [d for d in dirs if d != keep and not d.endswith(".tmp")]
    for d in stale[: max(0, len(stale) - (KEEP_INPUTS - 1))]:
        shutil.rmtree(d, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "rustiflow_spark", "__init__.py")):
        print("rustiflow_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    prepare_env()
    import layers
    import tracing
    import workloads

    W = workloads.WORKLOADS[args.workload]
    wl = W(WORK, args.seed, args.scale)
    props = wl.generate()
    os.utime(wl.dir)
    prune_inputs(wl.name, args.scale, wl.dir)
    cores = len(os.sched_getaffinity(0))

    try:
        # setup = session start + warm-up. The warm-up is the first full
        # materialisation, which writes the output the check compares (so
        # the check stays outside the timed region), then WARM_REPS untimed
        # repetitions: later repetitions run ~30% faster than the first two.
        t0 = time.perf_counter()
        spark = start_session(cores)
        t1 = time.perf_counter()
        e_warm = tracing.last_execution_id(spark)
        try:
            check_out = wl.write_check_output(spark)
        except Exception as exc:  # a raised error is a failed operation
            check_out, chk = None, {"ok": False, "error": repr(exc)}
        t2 = time.perf_counter()
        warmup_sql = tracing.sql_metrics(spark, e_warm)
        if check_out is not None:
            try:
                chk = wl.compare(check_out)
            except Exception as exc:
                chk = {"ok": False, "error": repr(exc)}
        expected = chk.get("expected_rows")
        log(f"check {chk}")

        failed, attempted, errors = 0, 1, []  # the checked materialisation

        def repetition() -> float | None:
            nonlocal failed, attempted
            attempted += 1
            t = time.perf_counter()
            try:
                n = wl.run(spark)
            except Exception as exc:
                failed += 1
                errors.append(repr(exc))
                return None
            dt = time.perf_counter() - t
            log(f"repetition {attempted - 1}: {dt:.3f} s, {n} rows")
            if n != expected:
                failed += 1
                errors.append(f"repetition returned {n} rows, expected {expected}")
            return dt

        t3 = time.perf_counter()
        for _ in range(WARM_REPS):
            repetition()
        t4 = time.perf_counter()
        setup = {"setup_s": (t2 - t0) + (t4 - t3), "start_s": t1 - t0,
                 "warmup_s": (t2 - t1) + (t4 - t3), "warmup_sql": warmup_sql}
        log(f"setup {setup['setup_s']:.2f} s (start {t1 - t0:.2f} s, warm-up {setup['warmup_s']:.2f} s)")

        walls, timed = [], 0
        with tracing.RssSampler(jvm_pid()) as rss:
            t_begin = time.perf_counter()
            while (time.perf_counter() - t_begin < args.seconds or timed < MIN_REPS) \
                    and time.perf_counter() - t_start < RUN_LIMIT_S - 30:
                timed += 1
                dt = repetition()
                if dt is not None:
                    walls.append(dt)
        log(f"peak RSS {rss.peak / 2 ** 20:.0f} MB: JVM {rss.peak_root / 2 ** 20:.0f} MB, "
            f"Python workers {rss.peak_children / 2 ** 20:.0f} MB")
        if not chk["ok"]:
            failed = attempted
        # with no successful repetition, report the time spent failing
        wall = statistics.median(walls) if walls else (time.perf_counter() - t_begin) / timed

        result = {
            "wall_s": wall,
            "input_rows_per_s": props["input_rows"] / wall,
            "setup_s": setup["setup_s"],
            "peak_rss_mb": rss.peak / 2 ** 20,
            "ok_frac": 1.0 - failed / attempted,
        }
        if args.trace:
            metrics, extra_ok = layers.per_layer(
                spark, wl, W, setup, walls, cores, chk,
                deadline=t_start + RUN_LIMIT_S, out_dir=os.path.join(WORK, "results"),
                start_session=start_session, stop_session=stop_session,
            )
            attempted += len(extra_ok)
            failed += extra_ok.count(False)
            units = layers.UNITS
        else:
            metrics, units = result, END_TO_END_UNITS
    finally:
        stop_session()

    for k, v in result.items():
        print(f"{args.workload} {k} = {v:.6g} {END_TO_END_UNITS[k]}")
    print(f"{args.workload} failed_frac = {failed / attempted:.6g} ratio "
          f"({failed} of {attempted} operations)")
    if errors or not chk["ok"]:
        print(f"{args.workload} errors: check={chk} reps={errors[:3]}", file=sys.stderr)
    out = {
        "correct": bool(chk["ok"]) and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out))
    return 0


def _descendants(root: int) -> list[int]:
    import tracing

    kids, out, todo = tracing.process_children(), [], [root]
    while todo:
        pid = todo.pop()
        for k in kids.get(pid, ()):
            out.append(k)
            todo.append(k)
    return out


def _reap() -> bool:
    """Reap ended children; True once no child is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            return False


def supervise(argv) -> int:
    """Run the benchmark in a child process and return its exit code, after
    every process it started has ended.

    As a child subreaper this process inherits the orphans the child
    leaves, so when ``waitpid`` reports no children, none is left."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")
    env = dict(os.environ, **{INNER_ENV: "1"})
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                             env=env, start_new_session=True)

    def kill_all():
        # a reaped child's pid may already belong to another process
        pids = [child.pid] if child.poll() is None else []
        for pid in pids + _descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    def on_signal(signum, _frame):
        kill_all()
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    try:
        try:
            code = child.wait(CHILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            log(f"run exceeded {CHILD_LIMIT_S} s; killing it")
            kill_all()
            child.wait()
            code = 3
        deadline = time.monotonic() + LINGER_S
        while not _reap() and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        kill_all()
        while True:
            try:
                os.waitpid(-1, 0)
            except ChildProcessError:
                break
    return code


if __name__ == "__main__":
    if os.environ.get(INNER_ENV) == "1":
        sys.exit(main())
    sys.exit(supervise(sys.argv[1:]))
