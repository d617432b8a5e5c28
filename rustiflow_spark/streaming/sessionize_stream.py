"""Structured Streaming sessionization — the realtime-path analog of the
reference's eBPF pipeline (SURVEY.md §2.1 S6/S7; rustiflow/src/realtime.rs).

The reference drains kernel ring buffers into sharded in-memory flow tables;
the Spark-native re-expression is ``readStream -> groupBy(key) ->
applyInPandasWithState`` with event-time timeouts:

  * per-key state = an O(1) feature ACCUMULATOR for the open session's
    watermark-frozen prefix (kernel/event_accum.py — the reference's
    "state never holds raw packets" rule, flow_table.rs:24) plus only the
    raw events still inside the watermark horizon, where late data may yet
    interleave. State size is O(watermark_delay x event_rate), independent
    of session length: a key emitting 10k ev/s inside a 1-hour active
    window holds ~delay-seconds of raw events, not 36M.
  * every micro-batch sorts the horizon buffer + new events and segments
    them with the batch kernel's own segment_events
    (kernel/event_kernel.py), resumed from the accumulator's open session
    (``resume=(first_ts, last_ts)``; the packet path resumes
    flow_kernel.segment_biflow the same way, adding the first packet's
    direction and the TCP lifecycle state). It emits every session that is
    provably closed (a successor event observed its expiry, or a
    terminator event ended it), folds the surviving open session's
    now-frozen events (ts < current watermark) into the accumulator and
    keeps the rest raw
  * the trailing open session stays in state; an event-time timeout set at
    its idle/active-expiry instant flushes it when the watermark passes

Differences vs batch (documented, not hidden): close timestamps for
timeout-flushed sessions are the idle-expiry instant rather than the
reference's scan-time (the periodic scan is a single-process construct);
statistic blocks of sessions spanning micro-batches are Chan-merged
partials, equal to the batch two-pass values up to float associativity
(np.isclose-asserted by the equivalence tests in tests/test_streaming.py;
the contract query rounds emitted floats).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from rustiflow_spark.config import (
    CAUSE_ACTIVE,
    CAUSE_IDLE,
    CAUSE_SHUTDOWN,
    CAUSE_TCP_RESET,
    CAUSE_TCP_TERM,
    PROTO_TCP,
    EngineConfig,
)
from rustiflow_spark.kernel.event_accum import (
    I_FIRST_TS,
    I_LAST_TS,
    acc_finalize,
    acc_fold,
)
from rustiflow_spark.kernel.event_kernel import segment_events
from rustiflow_spark.kernel.flow_kernel import segment_biflow

STATE_SCHEMA = T.StructType(
    [
        T.StructField("acc_i", T.ArrayType(T.LongType())),
        T.StructField("acc_f", T.ArrayType(T.DoubleType())),
        T.StructField("ts", T.ArrayType(T.LongType())),
        T.StructField("value", T.ArrayType(T.DoubleType())),
        T.StructField("direction", T.ArrayType(T.LongType())),
        T.StructField("terminator", T.ArrayType(T.LongType())),
        T.StructField("session_base", T.LongType()),
    ]
)

_NO_SCANS = np.empty(0, dtype=np.int64)


def _set_timeout(state: GroupState, at_us: int) -> None:
    """Event-time timeout at at_us, clamped strictly past the current
    watermark: a backlog replay can put an expiry behind the stream head,
    and Spark rejects timestamps <= watermark (IllegalArgumentException)."""
    state.setTimeoutTimestamp(max(at_us // 1000, state.getCurrentWatermarkMs() + 1))


def _advance_event_key(
    acc: tuple[np.ndarray, np.ndarray] | None,
    ts: np.ndarray,
    val: np.ndarray,
    dr: np.ndarray,
    tm: np.ndarray,
    cfg: EngineConfig,
    watermark_us: int,
    flush_all: bool,
) -> tuple[list[dict], tuple[np.ndarray, np.ndarray] | None, dict | None]:
    """Pure per-key micro-batch transition (unit-testable without Spark).

    Inputs: the open session's accumulator (or None), the sorted raw event
    arrays (horizon buffer + this batch), the current watermark and whether
    this is a timeout flush. Returns (emitted_rows, new_acc, new_tail) with
    new_tail a dict of arrays holding ONLY events >= watermark_us (None
    alongside new_acc=None when every session closed)."""
    n = ts.size
    if acc is None and n == 0:
        return [], None, None
    flush_ts = int(ts[-1]) if n else int(acc[0][I_LAST_TS])

    # session 0 continues the accumulator's open session, if there is one
    resume = (
        (int(acc[0][I_FIRST_TS]), int(acc[0][I_LAST_TS]))
        if acc is not None else None
    )
    sessions = segment_events(ts, tm, cfg, _NO_SCANS, flush_ts, resume=resume)

    trailing_open = sessions[-1][2] != CAUSE_TCP_TERM
    n_emit = len(sessions) - 1 if (trailing_open and not flush_all) else len(sessions)

    rows: list[dict] = []
    for i in range(n_emit):
        s, e, cause, close_ts, closed = sessions[i]
        a = acc_fold(acc if i == 0 else None, ts[s:e], val[s:e], dr[s:e])
        row = acc_finalize(a, cause, close_ts, closed)
        if flush_all and i == len(sessions) - 1 and cause == CAUSE_SHUTDOWN:
            # timeout flush: the watermark passed the earlier of the two
            # expiries; active is checked first (basic_flow.rs:361). The
            # relabel happens AFTER finalize — the feature values stay the
            # batch kernel's shutdown-flush values (no trailing idle gap).
            active_exp = cfg.active_expiry_us(int(a[0][I_FIRST_TS]))
            idle_exp = cfg.idle_expiry_us(int(a[0][I_LAST_TS]))
            row["cause"] = CAUSE_ACTIVE if active_exp <= idle_exp else CAUSE_IDLE
        row["session_index"] = i
        rows.append(row)

    if n_emit >= len(sessions):
        return rows, None, None

    # trailing open session: fold its watermark-frozen prefix, keep the rest
    s, e = sessions[-1][:2]
    frozen_end = s + int(np.searchsorted(ts[s:e], watermark_us, side="left"))
    new_acc = acc if len(sessions) == 1 else None
    if frozen_end > s:
        new_acc = acc_fold(
            new_acc, ts[s:frozen_end], val[s:frozen_end], dr[s:frozen_end]
        )
    tail = {
        "ts": ts[frozen_end:e],
        "value": val[frozen_end:e],
        "direction": dr[frozen_end:e],
        "terminator": tm[frozen_end:e],
    }
    return rows, new_acc, tail


def sessionize_stream(
    events: DataFrame,
    key_cols: list[str],
    cfg: EngineConfig | None = None,
    ts_col: str = "ts_us",
    value_col: str = "n_tok",
    direction_col: str = "direction",
    terminator_col: str = "terminator",
    watermark_delay: str = "10 seconds",
    ordinal_ttl_s: int = 3600,
) -> DataFrame:
    """Streaming session features. `events` must be a streaming DataFrame.

    Late data beyond `watermark_delay` is dropped by the watermark — the
    batch path has no such loss (it sorts globally), which is the standard
    streaming-vs-batch tradeoff.

    ordinal_ttl_s bounds state for fully-flushed keys: the per-key session
    ordinal is kept in an empty state entry so session_index stays
    continuous across micro-batches, and that entry expires ordinal_ttl_s
    of event time after the key's last event (past the horizon a returning
    key restarts session_index at 0 — documented divergence; without the
    TTL the state store would grow without bound on high-cardinality
    ephemeral keys)."""
    from rustiflow_spark.operators.event_features import _feature_schema

    cfg = cfg or EngineConfig()
    out_schema = _feature_schema(events, key_cols)
    out_cols = [f.name for f in out_schema.fields]

    def func(key: tuple, pdfs, state: GroupState):
        if state.exists:
            acc_i, acc_f, ts_b, val_b, dir_b, term_b, base = state.get
            acc = (
                (np.asarray(acc_i, dtype=np.int64),
                 np.asarray(acc_f, dtype=np.float64))
                if acc_i else None
            )
        else:
            acc, ts_b, val_b, dir_b, term_b, base = None, [], [], [], [], 0

        new = [pd.DataFrame({
            "ts": pdf[ts_col].to_numpy(np.int64),
            "v": pdf[value_col].to_numpy(np.float64),
            "d": pdf[direction_col].to_numpy(np.int64),
            "t": pdf[terminator_col].to_numpy(np.int64),
        }) for pdf in pdfs]

        buf = pd.DataFrame({
            "ts": np.asarray(ts_b, dtype=np.int64),
            "v": np.asarray(val_b, dtype=np.float64),
            "d": np.asarray(dir_b, dtype=np.int64),
            "t": np.asarray(term_b, dtype=np.int64),
        })
        allev = pd.concat([buf] + new, ignore_index=True) if new else buf
        if not len(allev) and acc is None:
            if state.hasTimedOut:
                state.remove()
            return
        allev = allev.sort_values("ts", kind="mergesort")

        wm_us = state.getCurrentWatermarkMs() * 1000
        rows, new_acc, tail = _advance_event_key(
            acc,
            allev["ts"].to_numpy(np.int64),
            allev["v"].to_numpy(np.float64),
            allev["d"].to_numpy(np.int64),
            allev["t"].to_numpy(np.int64),
            cfg,
            wm_us,
            state.hasTimedOut,
        )

        if new_acc is None and tail is None:
            # keep the per-key session ordinal across micro-batches: an
            # empty entry + the advanced base. Removing state here would
            # restart session_index at 0 for the key's next event and emit
            # duplicate (key, session_index) rows, diverging from the batch
            # path's continuous ordinal. The entry expires after
            # ordinal_ttl_s of event time (the timeout handler sees an
            # empty entry and removes it) so state stays bounded.
            last_ts = int(allev["ts"].iloc[-1]) if len(allev) else wm_us
            state.update(([], [], [], [], [], [], base + len(rows)))
            _set_timeout(state, last_ts + ordinal_ttl_s * 1_000_000)
        else:
            ai = new_acc[0] if new_acc is not None else None
            first_ts = (
                int(ai[I_FIRST_TS]) if ai is not None else int(tail["ts"][0])
            )
            last_ts = (
                int(tail["ts"][-1]) if tail["ts"].size
                else int(ai[I_LAST_TS])
            )
            state.update((
                new_acc[0].tolist() if new_acc is not None else [],
                new_acc[1].tolist() if new_acc is not None else [],
                tail["ts"].tolist(),
                tail["value"].tolist(),
                tail["direction"].tolist(),
                tail["terminator"].tolist(),
                base + len(rows),
            ))
            # flush at whichever expiry comes first: idle (vs last event) or
            # active (vs the open session's first event)
            _set_timeout(state, min(
                cfg.idle_expiry_us(last_ts), cfg.active_expiry_us(first_ts)
            ))

        if rows:
            out = pd.DataFrame(rows)
            out["session_index"] = out["session_index"] + base
            for col, v in zip(key_cols, key):
                out[col] = v
            yield out.reindex(columns=out_cols)

    with_watermark = events.withColumn(
        "__event_time", F.timestamp_micros(F.col(ts_col))
    ).withWatermark("__event_time", watermark_delay)

    return with_watermark.groupBy(*key_cols).applyInPandasWithState(
        func,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# Packet-path streaming (the realtime eBPF pipeline analog for flows)
# ---------------------------------------------------------------------------

_PKT_STATE_COLS = [
    "ts_us", "fin_flag", "syn_flag", "rst_flag", "psh_flag", "ack_flag",
    "urg_flag", "cwr_flag", "ece_flag", "flags", "data_length",
    "header_length", "length", "window_size", "sequence_number",
    "sequence_number_ack", "protocol", "event_seq", "icmp_type", "icmp_code",
]

PACKET_STATE_SCHEMA = T.StructType(
    [T.StructField(c, T.ArrayType(T.LongType())) for c in _PKT_STATE_COLS]
    + [T.StructField("dir_a", T.ArrayType(T.BooleanType()))]
)

# acc mode: fixed-size accumulator + retrans range lists + the raw
# watermark-horizon buffer
PACKET_ACC_STATE_SCHEMA = T.StructType(
    [
        T.StructField("acc_i", T.ArrayType(T.LongType())),
        T.StructField("acc_f", T.ArrayType(T.DoubleType())),
        T.StructField("rf_s", T.ArrayType(T.LongType())),
        T.StructField("rf_e", T.ArrayType(T.LongType())),
        T.StructField("rb_s", T.ArrayType(T.LongType())),
        T.StructField("rb_e", T.ArrayType(T.LongType())),
    ]
    + [T.StructField(c, T.ArrayType(T.LongType())) for c in _PKT_STATE_COLS]
    + [T.StructField("dir_a", T.ArrayType(T.BooleanType()))]
)


def _advance_packet_key(
    acc: dict | None,
    g: dict[str, np.ndarray],
    cfg: EngineConfig,
    watermark_us: int,
    flush_all: bool,
    meta: dict,
) -> tuple[list[dict], dict | None, dict | None]:
    """Pure per-key micro-batch transition for the packet path (acc mode).
    Same contract as _advance_event_key: returns (rows, new_acc, new_tail)
    with the tail holding only packets >= watermark_us."""
    from rustiflow_spark.kernel import flow_accum as fa

    ts = g["ts_us"]
    n = ts.size
    if acc is None and n == 0:
        return [], None, None
    flush_ts = int(ts[-1]) if n else int(acc["i"][fa.I_LAST_TS])

    protocol = int(g["protocol"][0]) if n else int(acc["i"][fa.I_PROTOCOL])
    tcp_ctl = None
    if protocol == PROTO_TCP:
        tcp_ctl = {
            "fin": g["fin_flag"], "rst": g["rst_flag"], "syn": g["syn_flag"],
            "ack": g["ack_flag"], "seq": g["sequence_number"],
            "ack_seq": g["sequence_number_ack"], "data_len": g["data_length"],
        }
    # session 0 continues the accumulator's open flow, if there is one
    resume = None
    if acc is not None:
        ai = acc["i"]
        resume = (
            int(ai[fa.I_FIRST_TS]), int(ai[fa.I_LAST_TS]),
            bool(ai[fa.I_FIRST_DIR_A]), fa.tcp_state_from_acc(ai),
        )
    sessions = [
        x for x in segment_biflow(
            ts, g["dir_a"], protocol, tcp_ctl, cfg, _NO_SCANS, flush_ts,
            resume=resume,
        )
        if x.snapshot_of < 0  # acc mode requires early_export=None
    ]
    trailing_open = sessions[-1].cause not in (CAUSE_TCP_TERM, CAUSE_TCP_RESET)
    n_emit = len(sessions) - 1 if (trailing_open and not flush_all) else len(sessions)

    rows: list[dict] = []
    for i in range(n_emit):
        sess = sessions[i]
        a = fa.flow_acc_fold(
            acc if i == 0 else None,
            {c: v[sess.start:sess.end] for c, v in g.items()},
        )
        row = fa.flow_acc_finalize(
            a, meta, sess.cause, sess.close_ts, sess.closed,
            sess.handshake_completed, sess.reset_before_handshake,
            sess.reset_after_handshake, sess.close_style,
        )
        if flush_all and i == len(sessions) - 1 and sess.cause == CAUSE_SHUTDOWN:
            active_exp = cfg.active_expiry_us(int(a["i"][fa.I_FIRST_TS]))
            idle_exp = cfg.idle_expiry_us(int(a["i"][fa.I_LAST_TS]))
            row["cause"] = CAUSE_ACTIVE if active_exp <= idle_exp else CAUSE_IDLE
        rows.append(row)

    if n_emit >= len(sessions):
        return rows, None, None

    s, e = sessions[-1].start, sessions[-1].end
    frozen_end = s + int(np.searchsorted(ts[s:e], watermark_us, side="left"))
    new_acc = acc if len(sessions) == 1 else None
    if frozen_end > s:
        new_acc = fa.flow_acc_fold(
            new_acc, {c: v[s:frozen_end] for c, v in g.items()}
        )
    tail = {c: v[frozen_end:e] for c, v in g.items()}
    return rows, new_acc, tail


def sessionize_packets_stream(
    events: DataFrame,
    cfg: EngineConfig | None = None,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming flow extraction: packet events -> full feature-superset
    flow rows, one open flow buffered per biflow key.

    Mirrors the reference's realtime path (rustiflow/src/realtime.rs): a
    flow is exported as soon as it is provably closed — a successor packet
    observed its expiry, or TCP termination (FIN sequence / RST) ended it —
    and the trailing open flow flushes on an event-time timeout at its
    idle/active expiry instant. Same documented close-ts divergence as the
    event path (expiry instant instead of scan time).

    State (default): an O(1) FlowAccum (kernel/flow_accum.py) for the open
    flow's watermark-frozen prefix plus only the raw packets inside the
    watermark horizon — the reference's state-never-holds-raw-packets rule
    (flow_table.rs:24). With ``cfg.early_export`` set, the state is the open
    flow's raw packets instead: early export re-exports the live flow's
    full prefix per packet past the threshold, so each micro-batch segments
    the key's buffered + new packets and runs the batch block kernel
    (kernel/packet_segmented.featurize_packet_block) over the closed flows'
    rows, emitting them with the snapshots that end inside them.

    A trailing flow flushed by its event-time timeout keeps its "Exporter
    Shutdown" feature values, and its cause is relabelled to the expiry
    that fired (Idle or Active Timeout) on both paths."""
    from rustiflow_spark.kernel.packet_segmented import (
        featurize_packet_block,
        segment_groups,
    )
    from rustiflow_spark.operators.sessionize import with_canonical_key
    from rustiflow_spark.schema import FLOW_SUPERSET_COLUMNS, FLOW_SUPERSET_SCHEMA

    cfg = cfg or EngineConfig()
    key_cols = ["key_ip_a", "key_port_a", "key_ip_b", "key_port_b", "protocol"]
    use_acc = cfg.early_export is None

    def _read_batches(pdfs) -> list[dict]:
        parts = []
        for pdf in pdfs:
            p = {}
            for c in _PKT_STATE_COLS:
                if c in ("icmp_type", "icmp_code"):
                    p[c] = pdf[c].to_numpy(dtype=np.float64, na_value=-1).astype(np.int64)
                else:
                    p[c] = pdf[c].to_numpy(dtype=np.int64, na_value=0)
            p["dir_a"] = pdf["dir_a"].to_numpy(dtype=bool)
            parts.append(p)
        return parts

    def func_acc(key: tuple, pdfs, state: GroupState):
        from rustiflow_spark.kernel import flow_accum as fa

        acc = None
        if state.exists:
            stored = state.get
            if stored[0]:
                acc = {
                    "i": np.asarray(stored[0], dtype=np.int64),
                    "f": np.asarray(stored[1], dtype=np.float64),
                    "rf_s": list(stored[2]), "rf_e": list(stored[3]),
                    "rb_s": list(stored[4]), "rb_e": list(stored[5]),
                }
            bufs = {c: np.asarray(stored[6 + i], dtype=np.int64)
                    for i, c in enumerate(_PKT_STATE_COLS)}
            bufs["dir_a"] = np.asarray(
                stored[6 + len(_PKT_STATE_COLS)], dtype=bool
            )
        else:
            bufs = {c: np.empty(0, dtype=np.int64) for c in _PKT_STATE_COLS}
            bufs["dir_a"] = np.empty(0, dtype=bool)

        parts = [bufs] + _read_batches(pdfs)
        merged = {
            c: np.concatenate([p[c] for p in parts])
            for c in (*_PKT_STATE_COLS, "dir_a")
        }
        if merged["ts_us"].size == 0 and acc is None:
            if state.hasTimedOut:
                state.remove()
            return
        order = np.lexsort((merged["event_seq"], merged["ts_us"]))
        merged = {c: v[order] for c, v in merged.items()}
        meta = {
            "src_ip_a": key[0], "src_port_a": int(key[1]),
            "dst_ip_a": key[2], "dst_port_a": int(key[3]),
        }
        wm_us = state.getCurrentWatermarkMs() * 1000
        rows, new_acc, tail = _advance_packet_key(
            acc, merged, cfg, wm_us, state.hasTimedOut, meta
        )

        if new_acc is None and tail is None:
            state.remove()  # flows carry no per-key ordinal; nothing to keep
        else:
            if new_acc is not None:
                # the retransmission range lists already hold Python ints
                acc_cols = (
                    new_acc["i"].tolist(), new_acc["f"].tolist(),
                    new_acc["rf_s"], new_acc["rf_e"],
                    new_acc["rb_s"], new_acc["rb_e"],
                )
                first_ts = int(new_acc["i"][fa.I_FIRST_TS])
                last_ts = (
                    int(tail["ts_us"][-1]) if tail["ts_us"].size
                    else int(new_acc["i"][fa.I_LAST_TS])
                )
            else:
                acc_cols = ([], [], [], [], [], [])
                first_ts = int(tail["ts_us"][0])
                last_ts = int(tail["ts_us"][-1])
            state.update(
                acc_cols + tuple(tail[c].tolist() for c in (*_PKT_STATE_COLS, "dir_a"))
            )
            _set_timeout(state, min(
                cfg.idle_expiry_us(last_ts), cfg.active_expiry_us(first_ts)
            ))

        if rows:
            yield pd.DataFrame(rows).reindex(columns=FLOW_SUPERSET_COLUMNS)

    def func(key: tuple, pdfs, state: GroupState):
        if state.exists:
            stored = state.get
            bufs = {c: np.asarray(stored[i], dtype=np.int64)
                    for i, c in enumerate(_PKT_STATE_COLS)}
            bufs["dir_a"] = np.asarray(stored[len(_PKT_STATE_COLS)], dtype=bool)
        else:
            bufs = {c: np.empty(0, dtype=np.int64) for c in _PKT_STATE_COLS}
            bufs["dir_a"] = np.empty(0, dtype=bool)

        parts = [bufs] + _read_batches(pdfs)
        merged = {
            c: np.concatenate([p[c] for p in parts])
            for c in (*_PKT_STATE_COLS, "dir_a")
        }
        n = merged["ts_us"].size
        if n == 0:
            if state.hasTimedOut:
                state.remove()
            return
        order = np.lexsort((merged["event_seq"], merged["ts_us"]))
        merged = {c: v[order] for c, v in merged.items()}
        merged["key_id"] = np.zeros(n, dtype=np.int64)

        ts = merged["ts_us"]
        flush_all = state.hasTimedOut
        segd = segment_groups(merged, cfg, _NO_SCANS, int(ts[-1]))
        starts, ends = segd["starts"], segd["ends"]
        nsess = starts.size
        if flush_all or segd["cause"][-1] in (CAUSE_TCP_TERM, CAUSE_TCP_RESET):
            n_emit = nsess
        else:
            n_emit = nsess - 1

        out = None
        if n_emit > 0:
            # featurize only the closed sessions' rows: the segmentation
            # lists sessions in start order and snapshots in (start, end)
            # order, so the closed ones are prefixes of both. A snapshot is
            # emitted exactly once, alongside the close of its parent; those
            # of the still-open trailing flow regenerate next batch.
            cut = int(ends[n_emit - 1])
            snap_ends = segd.get("snap_ends", _NO_SCANS)
            n_snap = int(np.count_nonzero(snap_ends <= cut))
            closed_segd = {
                k: v[:n_snap] if k.startswith("snap_") else v[:n_emit]
                for k, v in segd.items()
                if n_snap or not k.startswith("snap_")
            }
            block = {c: v[:cut] for c, v in merged.items()}
            keys = {
                name: np.full(cut, v, dtype=object)
                for name, v in zip(key_cols[:4], key)
            }
            res = featurize_packet_block(
                block, keys, cfg, _NO_SCANS, int(ts[-1]), segd=closed_segd
            )
            out = pd.DataFrame({c: res[c] for c in FLOW_SUPERSET_COLUMNS})
            if flush_all and out.at[nsess - 1, "cause"] == CAUSE_SHUTDOWN:
                # relabel after featurizing, as in the accumulator path: the
                # values stay the batch kernel's shutdown-flush values
                active_exp = cfg.active_expiry_us(int(ts[starts[-1]]))
                idle_exp = cfg.idle_expiry_us(int(ts[ends[-1] - 1]))
                out.at[nsess - 1, "cause"] = (
                    CAUSE_ACTIVE if active_exp <= idle_exp else CAUSE_IDLE
                )

        if n_emit >= nsess:
            state.remove()  # flows carry no per-key ordinal; nothing to keep
        else:
            s, e = int(starts[-1]), int(ends[-1])
            state.update(
                tuple(merged[c][s:e].tolist() for c in (*_PKT_STATE_COLS, "dir_a"))
            )
            _set_timeout(state, min(
                cfg.idle_expiry_us(int(ts[e - 1])), cfg.active_expiry_us(int(ts[s]))
            ))

        if out is not None:
            yield out

    keyed = with_canonical_key(events).withColumn(
        "__event_time", F.timestamp_micros(F.col("ts_us"))
    ).withWatermark("__event_time", watermark_delay)

    return keyed.groupBy(*key_cols).applyInPandasWithState(
        func_acc if use_acc else func,
        outputStructType=FLOW_SUPERSET_SCHEMA,
        stateStructType=PACKET_ACC_STATE_SCHEMA if use_acc else PACKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
