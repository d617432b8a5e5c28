"""Tracing for the benchmark: spans kept in memory, Spark's own SQL metrics
read from the status store, and an RSS sampler.

Spans are recorded only from the benchmark's files, around calls into the
program's public functions; nothing inside the program is changed.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time


class Tracer:
    """Spans (name, start, end, parent) in memory; written out at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "start": start, "end": end, **attrs})

    def wrap(self, module, attr: str):
        """Replace ``module.attr`` with a span-recording wrapper; returns an
        undo callable."""
        fn = getattr(module, attr)

        def wrapped(*a, **kw):
            with self.span(attr):
                return fn(*a, **kw)

        setattr(module, attr, wrapped)
        return lambda: setattr(module, attr, fn)

    def covered_s(self, root: int) -> float:
        """Seconds of the root span covered by the union of its children."""
        kids = sorted((s["start"], s["end"]) for s in self.spans if s["parent"] == root)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total


# --- Spark status store --------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
}
_VAL = r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]*)"


def _num(v: str, unit: str) -> float:
    return float(v.replace(",", "")) * _UNITS.get(unit, 1.0)


def parse_metric(text: str) -> dict:
    """Parse a formatted SQL metric: either a plain count, or
    'total (min, med, max (...))' followed by the values. Times come out in
    seconds and sizes in bytes."""
    lines = text.strip().split("\n")
    if len(lines) == 1:
        m = re.match(_VAL, lines[0].strip())
        v = _num(*m.groups()) if m else 0.0
        return {"total": v, "min": v, "med": v, "max": v}
    vals = re.findall(_VAL, lines[1])
    nums = [_num(v, u) for v, u in vals[:4]]
    while len(nums) < 4:
        nums.append(nums[0] if nums else 0.0)
    return dict(zip(("total", "min", "med", "max"), nums))


def scala_list(s) -> list:
    """A Scala Seq reached through py4j, as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def drain_listeners(spark) -> None:
    """Wait until Spark's listener bus has delivered every event, so the
    status store holds the final metrics of finished executions."""
    spark._jsc.sc().listenerBus().waitUntilEmpty()


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [e.executionId() for e in scala_list(store.executionsList())]
    return max(ids) if ids else -1


def sql_metrics(spark, after_id: int) -> list[dict]:
    """Every node metric of the SQL executions with id > after_id."""
    drain_listeners(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for ex in scala_list(store.executionsList()):
        eid = ex.executionId()
        if eid <= after_id:
            continue
        values = {}
        it = store.executionMetrics(eid).iterator()
        while it.hasNext():
            t = it.next()
            values[int(t._1())] = t._2()
        for node in scala_list(store.planGraph(eid).allNodes()):
            for m in scala_list(node.metrics()):
                text = values.get(int(m.accumulatorId()))
                if text is None:
                    continue
                out.append({"execution": eid, "node": node.name(), "metric": m.name(),
                            **parse_metric(text)})
    return out


# --- memory ----------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """Resident bytes of ``root`` and of all its descendants."""
    kids = process_children()
    own, rest, todo = 0, 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
        if pid == root:
            own = rss
        else:
            rest += rss
    return own, rest


class RssSampler:
    """Samples the RSS of a process tree in a background thread: ``peak``
    is the largest sum seen, ``peak_root`` / ``peak_children`` the largest
    RSS of the root process and of its descendants."""

    def __init__(self, root: int, interval_s: float = 0.5) -> None:
        self.root, self.interval_s = root, interval_s
        self.peak = self.peak_root = self.peak_children = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        own, rest = tree_rss_bytes(self.root)
        self.peak = max(self.peak, own + rest)
        self.peak_root = max(self.peak_root, own)
        self.peak_children = max(self.peak_children, rest)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
