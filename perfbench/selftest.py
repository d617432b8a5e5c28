#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Runs every workload (including stream_flows, which BENCHMARK.json does
not list) through run.py at ``--scale tiny`` with ``--trace 1``, so each
workload's output check, timed repetitions and per-layer code run once,
plus one ``--trace 0`` run. Each must exit 0 with a correct result whose
metric names match BENCHMARK.json, and leave no process running.
Finally, run.py copied without the program next to it must exit non-zero
without printing a result.
Takes about four minutes on 4 cores.
"""

from __future__ import annotations

import ctypes
import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def left_behind() -> list[int]:
    """Processes a finished run.py left running. This process is a child
    subreaper, so they have become its children; reap the ended ones."""
    left = []
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return left
        if pid == 0:
            break
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[1]) == os.getpid():
                    left.append(int(d))
        except (OSError, IndexError, ValueError):
            pass
    return left


def run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )
    left = left_behind()
    if left:
        print(f"run.py left processes running: {left}", file=sys.stderr)
        return -1, p.stdout.strip().splitlines()
    return p.returncode, p.stdout.strip().splitlines()


def main() -> int:
    ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = {
        0: {m["name"] for m in bench["end_to_end"]},
        1: {m["name"] for m in bench["per_layer"]},
    }
    cases = [(w, 1) for w in ("pcap_cic", "session_hotkey", "stream_flows")]
    cases.append(("session_hotkey", 0))
    failures = []
    for workload, trace in cases:
        code, out = run(["--workload", workload, "--seed", "7", "--seconds", "1",
                         "--trace", str(trace), "--scale", "tiny"])
        res = json.loads(out[-1]) if code == 0 and out else None
        ok = (
            res is not None and res["correct"] and res["failed"] == 0
            and res["attempted"] >= 2 and set(res["metrics"]) == names[trace]
            and all(v["value"] == v["value"] for v in res["metrics"].values())
        )
        print(f"{'ok  ' if ok else 'FAIL'} {workload} --trace {trace}")
        if not ok:
            failures.append((workload, trace, code, out[-3:]))

    # without the program next to it, run.py must fail without a result
    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for f in glob.glob(os.path.join(HERE, "*.py")) + glob.glob(os.path.join(HERE, "*.md")):
        shutil.copy(f, os.path.join(bare, "perfbench"))
    code, out = run(["--workload", "pcap_cic", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    ok = code != 0 and not any(line.startswith("{") for line in out)
    print(f"{'ok  ' if ok else 'FAIL'} run without the program exits {code}")
    if not ok:
        failures.append(("bare", 0, code, out[-3:]))

    for f in failures:
        print("failure:", f, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
