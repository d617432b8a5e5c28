"""Vectorized sessionization + featurization kernel for generic keyed event
streams — the north-rule re-expression of the flow engine over
(key, ts, value, direction, terminator) events such as pre-tokenized
training sequences keyed by (source, doc_id).

Semantics mirror the packet path (segmentation in kernel/flow_kernel.py,
features in kernel/packet_segmented.featurize_packet_block) with the
reference's session-cut rules re-keyed (SURVEY.md §2.3 "North_rule
re-expression"):

  * idle timeout / active timeout cuts — truncating-integer-second
    comparisons exactly as basic_flow.rs:361-367
  * terminator events — the TCP-termination analog: the session is
    exported at that event, close() semantics NOT applied
    (flow_table.rs:95-97: terminated flows skip close_flow)
  * expired-on-arrival replacement, periodic scan close-ts, shutdown
    flush — identical to the packet kernel

The kernel is segment-vectorized: one invocation processes MANY keys
(an Arrow batch), with all per-session statistics computed via
np.add.reduceat-style segmented reductions — no per-event Python, and
per-session Python only for the tiny cut-recursion loop.
"""

from __future__ import annotations

import numpy as np

from rustiflow_spark.config import (
    ACTIVE_IDLE_TIMEOUT_US,
    CAUSE_IDLE,
    CAUSE_TCP_TERM,
    SUBFLOW_TIMEOUT_US,
    US_PER_S,
    EngineConfig,
)
from rustiflow_spark.kernel.flow_kernel import _timeout_close, stats6


def segment_events(
    ts: np.ndarray,
    terminator: np.ndarray,
    cfg: EngineConfig,
    scan_times: np.ndarray,
    flush_ts: int,
    resume: tuple[int, int] | None = None,
) -> list[tuple[int, int, str, int, bool]]:
    """Split one key's sorted event stream into sessions.

    Returns [(start, end, cause, close_ts, closed)]. Terminator events cut
    AFTER the event; timeout cuts BEFORE the first event observing expiry.

    resume=(first_ts, last_ts) continues an open session whose earlier
    events are not in ``ts``: the first session returned is that session
    (it may hold zero rows), with its idle and active checks applied from
    row 0 against those timestamps.
    """
    n = ts.size
    active_us = (cfg.active_timeout + 1) * US_PER_S
    idle_us = (cfg.idle_timeout + 1) * US_PER_S

    gap_cut = np.zeros(n, dtype=bool)
    if n > 1:
        gap_cut[1:] = np.diff(ts) >= idle_us
    if resume is not None and n:
        gap_cut[0] = ts[0] - resume[1] >= idle_us
    gap_idx = np.flatnonzero(gap_cut)
    term_idx = np.flatnonzero(terminator > 0)

    out = []
    s = 0
    cont = resume is not None  # the session at s continues the open one
    while s < n or cont:
        first, last = resume if cont else (int(ts[s]), -1)
        # a continued session may cut before its row s; a fresh one cannot
        gi = gap_idx[np.searchsorted(gap_idx, s, side="left" if cont else "right"):]
        next_idle = int(gi[0]) if gi.size else n
        na = int(np.searchsorted(ts, first + active_us, side="left"))
        next_active = na if na > s or cont else n
        e = min(next_idle, next_active, n)
        tj = term_idx[np.searchsorted(term_idx, s, side="left"):]
        next_term = int(tj[0]) + 1 if tj.size else n + 1
        cont = False
        if next_term <= e:
            out.append((s, next_term, CAUSE_TCP_TERM, int(ts[next_term - 1]), False))
            s = next_term
            continue
        if e > s:
            last = int(ts[e - 1])
        nxt = int(ts[e]) if e < n else -1
        cause, close_ts = _timeout_close(cfg, first, last, nxt, scan_times, flush_ts)
        out.append((s, e, cause, close_ts, True))
        s = e
    return out


EVENT_FEATURE_COLUMNS = (
    ["session_index", "first_ts_us", "last_ts_us", "duration_us", "cause"]
    + ["event_count", "fwd_event_count", "bwd_event_count"]
    + [f"n_tok_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"fwd_n_tok_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"bwd_n_tok_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"iat_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"fwd_iat_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"bwd_iat_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"active_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"idle_{s}" for s in ("total", "mean", "std", "max", "min")]
    + ["subflow_count", "tok_per_s", "events_per_s", "fwd_tok_per_s", "bwd_tok_per_s",
       "down_up_ratio", "fwd_duration_ms", "bwd_duration_ms"]
)


def _put_stats(row: dict, name: str, x: np.ndarray) -> None:
    total, mean, std, mx, mn, _ = stats6(x)
    row[f"{name}_total"] = total
    row[f"{name}_mean"] = mean
    row[f"{name}_std"] = std
    row[f"{name}_max"] = mx
    row[f"{name}_min"] = mn


def featurize_key_events(
    ts: np.ndarray,
    value: np.ndarray,
    direction: np.ndarray,
    terminator: np.ndarray,
    cfg: EngineConfig,
    scan_times: np.ndarray,
    flush_ts: int,
) -> list[dict]:
    """Features for every session of one key's sorted event stream.

    value plays the role of n_tok (payload length analog); direction 0=fwd.
    """
    sessions = segment_events(ts, terminator, cfg, scan_times, flush_ts)
    rows = []
    value = value.astype(np.float64)
    for idx, (s, e, cause, close_ts, closed) in enumerate(sessions):
        t = ts[s:e]
        v = value[s:e]
        fwd = direction[s:e] == 0
        bwd = ~fwd
        first, last = int(t[0]), int(t[-1])
        dur_us = last - first
        row: dict = {
            "session_index": idx,
            "first_ts_us": first,
            "last_ts_us": last,
            "duration_us": dur_us,
            "cause": cause,
            "event_count": int(t.size),
            "fwd_event_count": int(fwd.sum()),
            "bwd_event_count": int(bwd.sum()),
        }
        _put_stats(row, "n_tok", v)
        _put_stats(row, "fwd_n_tok", v[fwd])
        _put_stats(row, "bwd_n_tok", v[bwd])
        gaps = np.diff(t)
        _put_stats(row, "iat", gaps / 1000.0)
        _put_stats(row, "fwd_iat", np.diff(t[fwd]) / 1000.0)
        _put_stats(row, "bwd_iat", np.diff(t[bwd]) / 1000.0)
        # active/idle segmentation (active_idle_stats.rs semantics)
        idle_mask = gaps > ACTIVE_IDLE_TIMEOUT_US
        idle_vals = gaps[idle_mask] / 1000.0
        bounds = np.flatnonzero(idle_mask)
        starts = np.concatenate(([0], bounds + 1))
        ends = np.concatenate((bounds, [t.size - 1]))
        span = (t[ends] - t[starts]).astype(np.float64)
        if not closed:
            span = span[:-1]
        active_vals = span[span > 0] / 1000.0
        if closed and cause == CAUSE_IDLE:
            idle_vals = np.concatenate((idle_vals, [(close_ts - last) / 1000.0]))
        _put_stats(row, "active", active_vals)
        _put_stats(row, "idle", idle_vals)
        row["subflow_count"] = int(1 + np.count_nonzero(gaps > SUBFLOW_TIMEOUT_US))
        # rates (features/util.rs:159-161 safe_per_second_rate)
        dur_s = dur_us / 1_000_000.0
        row["tok_per_s"] = float(v.sum() / dur_s) if dur_us else 0.0
        row["events_per_s"] = float(t.size / dur_s) if dur_us else 0.0
        row["fwd_tok_per_s"] = float(v[fwd].sum() / dur_s) if dur_us else 0.0
        row["bwd_tok_per_s"] = float(v[bwd].sum() / dur_s) if dur_us else 0.0
        nf, nb = int(fwd.sum()), int(bwd.sum())
        row["down_up_ratio"] = nb / nf if nf else 0.0
        tf, tb = t[fwd], t[bwd]
        row["fwd_duration_ms"] = float(tf[-1] - tf[0]) / 1000.0 if tf.size else 0.0
        row["bwd_duration_ms"] = float(tb[-1] - tb[0]) / 1000.0 if tb.size else 0.0
        rows.append(row)
    return rows
