"""Per-layer numbers for the traced run (``--trace 1``).

The layers are the repository's modules. Each number comes from one of:

- spans recorded here around calls into the program's public functions
  (``read_pcap``, ``with_canonical_key``, ``sessionize_packets``,
  ``cic_schema``, ``sessionize_events``, ``sessionize_packets_stream``),
  plus a span per Spark SQL execution nested under the call that ran it;
- Spark's own per-operator SQL metrics and streaming progress;
- ``featurize_packet_block`` / ``featurize_block`` called in this process
  on the same sorted input the Spark plan feeds them (kernel self time);
- extra materialisations: sessionize_packets without the schema
  projection, and the whole pipeline again at local[1].

Metrics of a layer a workload does not run are reported as 0.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import Counter

import numpy as np

import oracle
import tracing
import workloads

CAUSES = {
    "Active Timeout": "active_timeout",
    "Idle Timeout": "idle_timeout",
    "TCP Normal Termination": "tcp_normal_termination",
    "TCP Reset": "tcp_reset",
    "Exporter Shutdown": "exporter_shutdown",
}

UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "arrow.worker_start_s": "s", "arrow.worker_init_s": "s",
    "sources.decode_s": "s", "sources.decode_rows_per_s": "rows/s",
    "sources.split_mismatch_rows": "count",
    "scan.scan_s": "s",
    "exchange.bytes": "B", "exchange.records": "count", "exchange.fetch_wait_s": "s",
    "sort.sort_s": "s", "sort.peak_mem_mb": "MB", "sort.spill_bytes": "B",
    "arrow.python_s": "s", "arrow.python_max_task_s": "s",
    "arrow.bytes_to_python": "B", "arrow.bytes_from_python": "B",
    "arrow.boundary_s": "s", "skew.max_over_median_task": "ratio",
    "kernel.packet_s": "s", "kernel.event_s": "s", "schemas.project_s": "s",
    "stream.batches": "count", "stream.batch_p50_s": "s", "stream.batch_max_s": "s",
    "stream.rows_per_s": "rows/s", "stream.state_rows": "count",
    "stream.state_mem_mb": "MB", "stream.state_commit_s": "s",
    "kernel.sessions_out": "count",
    **{f"kernel.sessions.{v}": "count" for v in CAUSES.values()},
    "workload.input_rows": "count", "workload.keys": "count",
    "workload.hot_key_rows": "count", "workload.max_batches_per_key": "count",
    "scaling.eff_1toN": "ratio",
    "tracing.overhead_s": "s", "tracing.coverage": "ratio",
}

_NO_SCANS = np.empty(0, dtype=np.int64)  # scan_mode="none": no expiry scans

# the operator that hosts each workload's kernel boundary
_KERNEL_NODE = {
    "pcap_cic": "MapInArrow",
    "session_hotkey": "MapInArrow",
    "stream_flows": "FlatMapGroupsInPandasWithState",
}


def _sum(ms, node: str, metric: str, field: str = "total") -> float:
    return sum(m[field] for m in ms if m["node"].startswith(node) and m["metric"] == metric)


def _max(ms, node: str, metric: str, field: str = "max") -> float:
    return max((m[field] for m in ms if m["node"].startswith(node) and m["metric"] == metric),
               default=0.0)


def _wrap_program(tracer: tracing.Tracer):
    from rustiflow_spark.flows import schemas
    from rustiflow_spark.operators import event_features, sessionize
    from rustiflow_spark.sources import pcap
    from rustiflow_spark.streaming import sessionize_stream

    return [
        tracer.wrap(pcap, "read_pcap"),
        tracer.wrap(sessionize, "with_canonical_key"),
        tracer.wrap(sessionize, "sessionize_packets"),
        tracer.wrap(schemas, "cic_schema"),
        tracer.wrap(event_features, "sessionize_events"),
        tracer.wrap(sessionize_stream, "sessionize_packets_stream"),
    ]


def _execution_spans(spark, tracer: tracing.Tracer, after_id: int, notes: list) -> None:
    """One span per SQL execution, under the innermost span that contains
    its submission time."""
    tracing.drain_listeners(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    for ex in tracing.scala_list(store.executionsList()):
        if ex.executionId() <= after_id:
            continue
        start = ex.submissionTime() / 1000.0
        if not ex.completionTime().isDefined():
            notes.append(f"sql.{ex.executionId()} has no completion time")
            continue
        end = ex.completionTime().get().getTime() / 1000.0
        holders = [s for s in tracer.spans if s["end"] and s["start"] <= start <= s["end"]
                   and not s["name"].startswith("sql.")]
        if not holders:
            notes.append(f"sql.{ex.executionId()} starts outside every span")
        parent = max(holders, key=lambda s: s["start"])["id"] if holders else None
        tracer.add(f"sql.{ex.executionId()}", start, end, parent,
                   description=ex.description()[:120])


def _key_starts(a: dict, keys: list[str]) -> np.ndarray:
    """True where a row starts a new key in key-sorted column arrays."""
    newk = np.zeros(a[keys[0]].size, dtype=bool)
    newk[:1] = True
    for c in keys:
        newk[1:] |= a[c][1:] != a[c][:-1]
    return newk


def _time_kernel(tracer, name: str, newk: np.ndarray, parts: int, call) -> tuple[float, Counter]:
    """Run ``call(start, end)`` on about ``parts`` row blocks cut at key
    starts (as the Spark partitions would hold them); returns the summed
    kernel seconds and the sessions by cause."""
    n = newk.size
    starts = np.flatnonzero(newk)
    idx = np.searchsorted(starts, [n * i // parts for i in range(1, parts)])
    cuts = sorted({0, n, *(int(starts[i]) for i in idx if i < starts.size)})
    total, causes = 0.0, Counter()
    with tracer.span("kernel.inprocess", rows=n):
        for s, e in zip(cuts[:-1], cuts[1:]):
            t = time.perf_counter()
            with tracer.span(name, rows=e - s):
                res = call(s, e)
            total += time.perf_counter() - t
            causes.update(res["cause"])
    return total, causes


def _packet_kernel(spark, wl, tracer, parts: int) -> tuple[float, Counter]:
    """featurize_packet_block in this process on the sorted kernel input."""
    import pyarrow.compute as pc

    from rustiflow_spark.kernel import packet_segmented
    from rustiflow_spark.operators import sessionize
    from rustiflow_spark.sources import pcap

    key_cols, int_cols = sessionize._KEY_COLS, sessionize._INT_COLS
    cols = list(dict.fromkeys(key_cols + int_cols + ["icmp_type", "icmp_code", "dir_a"]))
    df = pcap.read_pcap(spark, os.path.join(wl.dir, "pcap"))
    tbl = (sessionize.with_canonical_key(df).select(*cols)
           .orderBy(*key_cols, "ts_us", "event_seq").toArrow())
    a = {}
    for name in cols:  # the kernel boundary's null handling
        c = tbl.column(name)
        if name in ("key_ip_a", "key_ip_b"):
            a[name] = c.to_numpy(zero_copy_only=False)
        elif name == "dir_a":
            a[name] = c.to_numpy(zero_copy_only=False).astype(bool)
        else:
            fill = -1 if name in ("icmp_type", "icmp_code") else 0
            a[name] = pc.fill_null(c, fill).to_numpy(zero_copy_only=False).astype(np.int64)
    newk = _key_starts(a, key_cols)
    flush_ts = int(a["ts_us"].max())

    def call(s, e):
        g = {c: a[c][s:e] for c in int_cols + ["icmp_type", "icmp_code", "dir_a"]}
        g["key_id"] = np.cumsum(newk[s:e]) - 1
        keys = {c: a[c][s:e] for c in ("key_ip_a", "key_port_a", "key_ip_b", "key_port_b")}
        return packet_segmented.featurize_packet_block(g, keys, workloads.engine_cfg(), _NO_SCANS, flush_ts)

    return _time_kernel(tracer, "featurize_packet_block", newk, parts, call)


def _event_kernel(spark, wl, tracer, parts: int) -> tuple[float, Counter]:
    """featurize_block in this process on the sorted kernel input."""
    from rustiflow_spark.kernel import segmented
    from rustiflow_spark.sources.tables import parquet_column_max

    path = os.path.join(wl.dir, "events")
    keys = ["source", "doc_id"]
    tbl = (spark.read.parquet(path)
           .select(*keys, "ts_us", "n_tok", "direction", "terminator", "event_seq")
           .orderBy(*keys, "ts_us", "event_seq").toArrow())
    a = {c: tbl.column(c).to_numpy(zero_copy_only=False) for c in tbl.column_names}
    newk = _key_starts(a, keys)
    flush_ts = int(parquet_column_max(path, "ts_us"))

    def call(s, e):
        return segmented.featurize_block(
            (np.cumsum(newk[s:e]) - 1).astype(np.int64),
            a["ts_us"][s:e].astype(np.int64), a["n_tok"][s:e].astype(np.float64),
            a["direction"][s:e].astype(np.int64), a["terminator"][s:e].astype(np.int64),
            workloads.engine_cfg(), _NO_SCANS, flush_ts,
        )

    return _time_kernel(tracer, "featurize_block", newk, parts, call)


SPLIT_PROBE_BYTES = 1 << 20
_PACKET_ID = ["ts_us", "src_ip", "dst_ip", "src_port", "dst_port", "protocol", "length"]


def split_mismatch_rows(pcap_dir: str) -> int:
    """Packets that byte-range split decoding (1 MiB splits, what
    read_pcap(split_size=...) runs per task) gets wrong: the multiset
    difference, both ways, against whole-file decoding of each capture."""
    import glob

    from rustiflow_spark.sources import pcap

    bad = 0
    for fp in sorted(glob.glob(os.path.join(pcap_dir, "*.pcap"))):
        with open(fp, "rb") as f:
            data = f.read()
        endian, ns, link = pcap.parse_pcap_header(data[:24])
        whole = Counter(pcap.decode_pcap_bytes(data)[_PACKET_ID].itertuples(index=False))
        split: Counter = Counter()
        for start in range(24, len(data), SPLIT_PROBE_BYTES):
            part = pcap.decode_pcap_split(
                fp, start, min(start + SPLIT_PROBE_BYTES, len(data)), endian, ns, link
            )
            if len(part):
                split.update(part[_PACKET_ID].itertuples(index=False))
        bad += sum(((whole - split) + (split - whole)).values())
    return bad


def _check_causes(chk: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT cause, count(*) FROM read_parquet('{chk['output']}/*.parquet') GROUP BY cause"
        ).fetchall()
    finally:
        con.close()
    return {c: int(k) for c, k in rows}


def _stream_metrics(progress: list[dict]) -> dict:
    """Micro-batch and state-store numbers from streaming progress."""
    prog = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not prog:
        return {}
    dur = [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog]
    st = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    return {
        "stream.batches": len(prog),
        "stream.batch_p50_s": statistics.median(dur),
        "stream.batch_max_s": max(dur),
        "stream.rows_per_s": sum(p["numInputRows"] for p in prog) / sum(dur),
        "stream.state_rows": max((s["numRowsTotal"] for s in st), default=0),
        "stream.state_mem_mb": max((s["memoryUsedBytes"] for s in st), default=0) / 2 ** 20,
        "stream.state_commit_s": sum(s.get("commitTimeMs", 0) for s in st) / 1000.0,
    }


def per_layer(spark, wl, W, setup, walls, cores, chk, deadline, out_dir,
              start_session, stop_session) -> tuple[dict, list[bool]]:
    """Per-layer metrics, and whether each extra operation the traced run
    makes (repetitions, stream replay, local[1] run) returned what the
    check expects."""
    name = wl.name
    expected = chk.get("expected_rows")
    extra_ok: list[bool] = []
    wall = statistics.median(walls)
    m = {k: 0.0 for k in UNITS}
    m["session.start_s"] = setup["start_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    wm = setup["warmup_sql"]
    m["arrow.worker_start_s"] = _sum(wm, "", "time to start Python workers")
    m["arrow.worker_init_s"] = _sum(wm, "", "time to initialize Python workers")
    for k in ("input_rows", "keys", "hot_key_rows", "max_batches_per_key"):
        m[f"workload.{k}"] = wl.props[k]
    notes: list[str] = []

    # one traced repetition
    tracer = tracing.Tracer()
    undo = _wrap_program(tracer)
    wl.span = tracer.span
    e0 = tracing.last_execution_id(spark)
    try:
        with tracer.span("repetition") as root:
            extra_ok.append(wl.run(spark) == expected)
    finally:
        for u in undo:
            u()
        wl.span = None
    _execution_spans(spark, tracer, e0, notes)
    ms = tracing.sql_metrics(spark, e0)
    rep_s = root["end"] - root["start"]
    m["tracing.overhead_s"] = rep_s - wall
    m["tracing.coverage"] = tracer.covered_s(root["id"]) / rep_s

    kn = _KERNEL_NODE[name]
    m["arrow.python_s"] = _sum(ms, kn, "time to run Python workers")
    m["arrow.python_max_task_s"] = _max(ms, kn, "time to run Python workers")
    med = _max(ms, kn, "time to run Python workers", "med")
    m["skew.max_over_median_task"] = m["arrow.python_max_task_s"] / med if med else 0.0
    m["arrow.bytes_to_python"] = _sum(ms, kn, "data sent to Python workers")
    m["arrow.bytes_from_python"] = _sum(ms, kn, "data returned from Python workers")
    m["scan.scan_s"] = _sum(ms, "Scan parquet", "scan time")
    m["exchange.bytes"] = _sum(ms, "Exchange", "shuffle bytes written")
    m["exchange.records"] = _sum(ms, "Exchange", "shuffle records written")
    m["exchange.fetch_wait_s"] = _sum(ms, "Exchange", "fetch wait time")
    m["sort.sort_s"] = _sum(ms, "Sort", "sort time")
    m["sort.peak_mem_mb"] = _max(ms, "Sort", "peak memory") / 2 ** 20
    m["sort.spill_bytes"] = _sum(ms, "Sort", "spill size")
    if name == "pcap_cic":
        m["sources.decode_s"] = _sum(ms, "MapInPandas", "time to run Python workers")
        rows = _sum(ms, "MapInPandas", "number of output rows")
        m["sources.decode_rows_per_s"] = rows / m["sources.decode_s"] if m["sources.decode_s"] else 0.0

    def time_left(need: float, what: str) -> bool:
        ok = time.perf_counter() + need < deadline
        if not ok:
            notes.append(f"skipped {what}: out of time")
        return ok

    stream_progress = []
    if name == "stream_flows":
        stream_progress = wl.progress
        causes = _check_causes(chk) if chk.get("output") else {}
    elif name == "pcap_cic":
        k_s, causes = _packet_kernel(spark, wl, tracer, cores)
        m["kernel.packet_s"] = k_s
        with tracer.span("split_probe"):
            m["sources.split_mismatch_rows"] = split_mismatch_rows(os.path.join(wl.dir, "pcap"))
        if m["sources.split_mismatch_rows"]:
            notes.append("read_pcap split mode decodes these captures wrongly")
        m["arrow.boundary_s"] = m["arrow.python_s"] - k_s
        if time_left(3 * wall, "schemas.project_s"):
            base = []
            for _ in range(2):
                t = time.perf_counter()
                wl.flows(spark).write.format("noop").mode("overwrite").save()
                base.append(time.perf_counter() - t)
            m["schemas.project_s"] = wall - statistics.median(base)
        # the realtime twin on this workload's packet semantics: a small
        # TCP replay through sessionize_packets_stream
        if time_left(60, "stream.*"):
            st = workloads.StreamFlows(wl.work, wl.seed, wl.scale)
            st.generate()
            n, exp = st.run(spark), oracle.compare_count(st.expected_sql())
            extra_ok.append(n == exp)
            if n != exp:
                notes.append(f"stream replay emitted {n} flows, expected {exp}")
            stream_progress = st.progress
    else:
        k_s, causes = _event_kernel(spark, wl, tracer, cores)
        m["kernel.event_s"] = k_s
        m["arrow.boundary_s"] = m["arrow.python_s"] - k_s
    m.update(_stream_metrics(stream_progress))
    m["kernel.sessions_out"] = sum(causes.values())
    for c, k in causes.items():
        if c in CAUSES:
            m[f"kernel.sessions.{CAUSES[c]}"] = k
        else:
            notes.append(f"unexpected cause {c!r}: {k}")

    # single-core baseline: the same job at local[1] in the same JVM
    wall_1 = None
    if name != "stream_flows" and cores > 1 and time_left(20 + 1.5 * cores * wall, "scaling.eff_1toN"):
        stop_session(spark, keep_jvm=True)
        spark = start_session(1)
        warm = W(wl.work, 0, "tiny")
        warm.generate()
        warm.run(spark)
        t = time.perf_counter()
        extra_ok.append(wl.run(spark) == expected)
        wall_1 = time.perf_counter() - t
        m["scaling.eff_1toN"] = wall_1 / (cores * wall)

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{name}-{wl.scale}-{wl.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": name, "seed": wl.seed, "scale": wl.scale, "cores": cores,
            "props": wl.props, "check": chk, "walls_s": walls, "wall_local1_s": wall_1,
            "metrics": m, "notes": notes, "spans": tracer.spans, "sql_metrics": ms,
            "warmup_sql_metrics": wm, "stream_progress": stream_progress,
        }, f, indent=1, default=str)
    print(f"trace written to {os.path.relpath(path)}")
    return m, extra_ok
