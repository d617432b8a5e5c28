"""Segment-vectorized event featurization: many keys, many sessions, zero
per-event and zero per-session Python.

This is the scale path of the event/token engine. One call processes a whole
sorted block (all rows of >=1 complete keys, sorted by key, ts, seq) and
computes every per-session statistic with segmented NumPy reductions
(np.add.reduceat / np.minimum.reduceat over contiguous session slices).
The only Python-level loops are (a) per *episode* active-timeout recursion,
entered only for episodes longer than the active timeout, and (b) nothing
else.

Semantics are identical to kernel/event_kernel.featurize_key_events (which
is the simple reference implementation, kept for differential testing);
both reproduce the reference engine's session-cut semantics
(rustiflow/src/flow_table.rs, flows/basic_flow.rs:351-370) — see the
docstring of the shared segmentation primitives, kernel/flow_kernel.py, for
the batch-vs-stream argument.
"""

from __future__ import annotations

import numpy as np

from rustiflow_spark.config import (
    ACTIVE_IDLE_TIMEOUT_US,
    CAUSE_ACTIVE,
    CAUSE_IDLE,
    CAUSE_SHUTDOWN,
    CAUSE_TCP_TERM,
    SUBFLOW_TIMEOUT_US,
    US_PER_S,
    EngineConfig,
)

_CAUSE_STRINGS = np.array(
    [CAUSE_TCP_TERM, CAUSE_ACTIVE, CAUSE_IDLE, CAUSE_SHUTDOWN], dtype=object
)
TERM, ACTIVE, IDLE, SHUTDOWN = 0, 1, 2, 3


def segment_block(
    key_ids: np.ndarray,
    ts: np.ndarray,
    terminator: np.ndarray,
    cfg: EngineConfig,
) -> np.ndarray:
    """Session start indices for a sorted block (key_ids, ts ascending per key).

    Cuts: key change; idle gap >= (idle+1)s; previous event was a terminator;
    active timeout (per-episode recursion, only for episodes longer than the
    active window). Returns int64 array of session start indices (first is 0).
    """
    n = ts.size
    if n == 0:
        return np.empty(0, dtype=np.int64)
    idle_us = (cfg.idle_timeout + 1) * US_PER_S
    active_us = (cfg.active_timeout + 1) * US_PER_S

    cut = np.zeros(n, dtype=bool)
    cut[0] = True
    if n > 1:
        new_key = key_ids[1:] != key_ids[:-1]
        gap_cut = (ts[1:] - ts[:-1]) >= idle_us
        term_cut = terminator[:-1] > 0
        cut[1:] = new_key | (gap_cut & ~new_key) | (term_cut & ~new_key)
    starts = np.flatnonzero(cut)

    # Active-timeout recursion inside each episode that can contain one.
    ends = np.append(starts[1:], n)
    ep_dur = ts[ends - 1] - ts[starts]
    long_eps = np.flatnonzero(ep_dur >= active_us)
    if long_eps.size == 0:
        return starts
    extra: list[int] = []
    for e_i in long_eps:
        s, e = int(starts[e_i]), int(ends[e_i])
        first = int(ts[s])
        while True:
            na = int(np.searchsorted(ts[s:e], first + active_us, side="left")) + s
            if na >= e:
                break
            extra.append(na)
            s = na
            first = int(ts[s])
    if not extra:
        return starts
    return np.unique(np.concatenate((starts, np.asarray(extra, dtype=np.int64))))


def close_sessions(
    starts: np.ndarray,
    ends: np.ndarray,
    key_ids: np.ndarray,
    ts: np.ndarray,
    terminator: np.ndarray,
    cfg: EngineConfig,
    scan_times: np.ndarray,
    flush_ts: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized cause + close-ts + closed-flag per session.

    cause codes: TERM/ACTIVE/IDLE/SHUTDOWN; closed=False only for TERM
    (reference exports terminated flows without close_flow —
    flow_table.rs:95-97, 113-119).
    """
    nsess = starts.size
    first_ts = ts[starts]
    last_ts = ts[ends - 1]
    e_active = first_ts + (cfg.active_timeout + 1) * US_PER_S
    e_idle = last_ts + (cfg.idle_timeout + 1) * US_PER_S
    expiry = np.minimum(e_active, e_idle)

    is_term = terminator[ends - 1] > 0
    # next same-key session start event
    has_next = np.zeros(nsess, dtype=bool)
    has_next[:-1] = key_ids[starts[1:]] == key_ids[starts[:-1]]
    next_ts = np.full(nsess, -1, dtype=np.int64)
    next_ts[:-1][has_next[:-1]] = ts[starts[1:][has_next[:-1]]]

    if scan_times.size:
        pos = np.searchsorted(scan_times, expiry, side="left")
        scan_close = np.where(
            pos < scan_times.size, scan_times[np.minimum(pos, scan_times.size - 1)], -1
        )
    else:
        scan_close = np.full(nsess, -1, dtype=np.int64)

    close_ts = np.full(nsess, flush_ts, dtype=np.int64)
    cause = np.full(nsess, SHUTDOWN, dtype=np.int8)
    closed = np.ones(nsess, dtype=bool)

    both = (scan_close >= 0) & has_next
    c = np.where(
        both,
        np.minimum(scan_close, next_ts),
        np.where(scan_close >= 0, scan_close, np.where(has_next, next_ts, -1)),
    )
    observed = c >= 0
    close_ts[observed] = c[observed]
    cause[observed & (c >= e_active)] = ACTIVE
    cause[observed & (c < e_active)] = IDLE

    cause[is_term] = TERM
    close_ts[is_term] = last_ts[is_term]
    closed[is_term] = False
    return cause, close_ts, closed


def _seg_bounds(counts: np.ndarray) -> np.ndarray:
    """Segment start offsets from per-segment counts (sorted seg_ids)."""
    bounds = np.empty(counts.size, dtype=np.int64)
    if counts.size:
        bounds[0] = 0
        np.cumsum(counts[:-1], out=bounds[1:])
    return bounds


def _seg_stats(
    values: np.ndarray, seg_ids: np.ndarray, nsess: int, prefix: str, out: dict
) -> None:
    """Population stats per segment for values tagged with sorted seg_ids.

    Emits {prefix}_{total,mean,std,max,min} with the reference's empty
    semantics (features/util.rs:49-79: empty -> 0.0). All reductions are
    reduceat over cumsum-derived bounds — O(n + nsess), minimal passes
    (this kernel is memory-bandwidth-bound at high parallelism)."""
    if values.size:
        counts = np.bincount(seg_ids, minlength=nsess).astype(np.int64)
        bounds = _seg_bounds(counts)
        nonempty = counts > 0
        # reduceat only over non-empty segments: their bounds are strictly
        # increasing and < len(values), and consecutive non-empty bounds
        # delimit exactly one segment (empty segments share the next bound).
        ne_idx = np.flatnonzero(nonempty)
        totals = np.zeros(nsess)
        maxs = np.zeros(nsess)
        mins = np.zeros(nsess)
        stds = np.zeros(nsess)
        means = np.zeros(nsess)
        if ne_idx.size:
            nb = bounds[ne_idx]
            totals[ne_idx] = np.add.reduceat(values, nb)
            maxs[ne_idx] = np.maximum.reduceat(values, nb)
            mins[ne_idx] = np.minimum.reduceat(values, nb)
            np.divide(totals, counts, out=means, where=nonempty)
            dev = values - np.repeat(means, counts)
            np.multiply(dev, dev, out=dev)
            m2 = np.zeros(nsess)
            m2[ne_idx] = np.add.reduceat(dev, nb)
            np.divide(m2, counts, out=stds, where=nonempty)
            np.sqrt(stds, out=stds)
    else:
        counts = np.zeros(nsess, np.int64)
        totals = np.zeros(nsess)
        means = np.zeros(nsess)
        stds = np.zeros(nsess)
        maxs = np.zeros(nsess)
        mins = np.zeros(nsess)
    out[f"{prefix}_total"] = totals
    out[f"{prefix}_mean"] = means
    out[f"{prefix}_std"] = stds
    out[f"{prefix}_max"] = maxs
    out[f"{prefix}_min"] = mins
    out[f"{prefix}_count"] = counts


FEATURE_BLOCKS = ("value", "iat", "active_idle", "subflow", "rates", "direction")


def featurize_block(
    key_ids: np.ndarray,
    ts: np.ndarray,
    value: np.ndarray,
    direction: np.ndarray,
    terminator: np.ndarray,
    cfg: EngineConfig,
    scan_times: np.ndarray,
    flush_ts: int,
    blocks: frozenset | None = None,
) -> dict[str, np.ndarray]:
    """All session features for a sorted block. Returns column arrays plus
    'session_row' (index of each session's first row, for key extraction).

    blocks: optional subset of FEATURE_BLOCKS — column pruning pushed
    through the kernel: unrequested feature families are neither computed
    nor shipped back through Arrow (the session output can be 10x the
    input for sparse keys, so this is the dominant knob at scale)."""
    want = frozenset(FEATURE_BLOCKS) if blocks is None else frozenset(blocks)
    n = ts.size
    out: dict[str, np.ndarray] = {}
    if n == 0:
        return {"session_row": np.empty(0, dtype=np.int64)}
    starts = segment_block(key_ids, ts, terminator, cfg)
    ends = np.append(starts[1:], n)
    nsess = starts.size
    cause, close_ts, closed = close_sessions(
        starts, ends, key_ids, ts, terminator, cfg, scan_times, flush_ts
    )
    sess_of_row = np.zeros(n, dtype=np.int64)
    sess_of_row[starts[1:]] = 1
    sess_of_row = np.cumsum(sess_of_row)

    first_ts = ts[starts]
    last_ts = ts[ends - 1]
    counts = ends - starts

    out["session_row"] = starts
    out["session_index"] = _per_key_ordinal(key_ids[starts])
    out["first_ts_us"] = first_ts
    out["last_ts_us"] = last_ts
    out["duration_us"] = last_ts - first_ts
    out["cause"] = _CAUSE_STRINGS[cause]
    out["event_count"] = counts.astype(np.int64)

    value = value.astype(np.float64)
    need_dir = "direction" in want or "rates" in want
    if need_dir:
        fwd = direction == 0
        fwd_rows = np.flatnonzero(fwd)
        bwd_rows = np.flatnonzero(~fwd)
        out["fwd_event_count"] = np.bincount(
            sess_of_row[fwd_rows], minlength=nsess
        ).astype(np.int64)
        out["bwd_event_count"] = np.bincount(
            sess_of_row[bwd_rows], minlength=nsess
        ).astype(np.int64)

    if "value" in want:
        _seg_stats(value, sess_of_row, nsess, "n_tok", out)
        if need_dir:
            _seg_stats(value[fwd_rows], sess_of_row[fwd_rows], nsess, "fwd_n_tok", out)
            _seg_stats(value[bwd_rows], sess_of_row[bwd_rows], nsess, "bwd_n_tok", out)

    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = -1
    gaps[1:] = ts[1:] - ts[:-1]
    gaps[starts] = -1  # first row of a session has no predecessor gap
    intra = np.flatnonzero(gaps >= 0)

    if "iat" in want:
        # IAT: gaps between consecutive rows of the same session
        _seg_stats(gaps[intra] / 1000.0, sess_of_row[intra], nsess, "iat", out)
        if need_dir:
            # per-direction IAT: consecutive same-direction rows in session
            for rows, name in ((fwd_rows, "fwd_iat"), (bwd_rows, "bwd_iat")):
                if rows.size > 1:
                    same_sess = sess_of_row[rows[1:]] == sess_of_row[rows[:-1]]
                    dgaps = (ts[rows[1:]] - ts[rows[:-1]])[same_sess] / 1000.0
                    dsess = sess_of_row[rows[1:]][same_sess]
                    _seg_stats(dgaps, dsess, nsess, name, out)
                else:
                    _seg_stats(np.empty(0), np.empty(0, np.int64), nsess, name, out)

    if "subflow" in want:
        # subflow: 1 + strict >1s gaps within session (subflow_stats.rs:23-34)
        sub_rows = intra[gaps[intra] > SUBFLOW_TIMEOUT_US]
        out["subflow_count"] = (
            1 + np.bincount(sess_of_row[sub_rows], minlength=nsess)
        ).astype(np.int64)

    if "active_idle" in want:
        # active/idle spans (active_idle_stats.rs): big gaps strictly > 5s
        big_rows = intra[gaps[intra] > ACTIVE_IDLE_TIMEOUT_US]
        idle_vals = gaps[big_rows] / 1000.0
        idle_sess = sess_of_row[big_rows]
        # trailing idle gap for closed Idle-Timeout sessions
        idle_trail = np.flatnonzero(closed & (cause == IDLE))
        idle_all = np.concatenate(
            (idle_vals, (close_ts[idle_trail] - last_ts[idle_trail]) / 1000.0)
        )
        idle_all_sess = np.concatenate((idle_sess, idle_trail))
        order = np.argsort(idle_all_sess, kind="stable")
        _seg_stats(idle_all[order], idle_all_sess[order], nsess, "idle", out)

        # active spans: boundaries at session starts and at big-gap rows
        span_starts = np.unique(np.concatenate((starts, big_rows)))
        span_sess = sess_of_row[span_starts]
        span_ends_rows = np.append(span_starts[1:] - 1, n - 1)
        # a span's end row must stay within its session
        sess_last_row = (ends - 1)[span_sess]
        span_end = np.minimum(span_ends_rows, sess_last_row)
        span_dur = (ts[span_end] - ts[span_starts]).astype(np.float64)
        # trailing span (the last span of each session) only counts when closed
        is_trailing = span_end == sess_last_row
        keep = (span_dur > 0) & (~is_trailing | closed[span_sess])
        _seg_stats(span_dur[keep] / 1000.0, span_sess[keep], nsess, "active", out)

    if "rates" in want:
        dur_s = out["duration_us"] / 1_000_000.0
        nonzero = out["duration_us"] > 0
        if "n_tok_total" in out and "fwd_n_tok_total" in out:
            tok_total = out["n_tok_total"]
            fwd_tok_total = out["fwd_n_tok_total"]
            bwd_tok_total = out["bwd_n_tok_total"]
        else:
            tok_total = np.bincount(sess_of_row, weights=value, minlength=nsess)
            fwd_tok_total = np.bincount(
                sess_of_row[fwd_rows], weights=value[fwd_rows], minlength=nsess
            )
            bwd_tok_total = np.bincount(
                sess_of_row[bwd_rows], weights=value[bwd_rows], minlength=nsess
            )
        out["tok_per_s"] = np.divide(tok_total, dur_s, out=np.zeros(nsess), where=nonzero)
        out["events_per_s"] = np.divide(counts, dur_s, out=np.zeros(nsess), where=nonzero)
        out["fwd_tok_per_s"] = np.divide(
            fwd_tok_total, dur_s, out=np.zeros(nsess), where=nonzero
        )
        out["bwd_tok_per_s"] = np.divide(
            bwd_tok_total, dur_s, out=np.zeros(nsess), where=nonzero
        )
        nf = out["fwd_event_count"].astype(np.float64)
        out["down_up_ratio"] = np.divide(
            out["bwd_event_count"], nf, out=np.zeros(nsess), where=nf > 0
        )

    if "direction" in want:
        for rows, name in ((fwd_rows, "fwd"), (bwd_rows, "bwd")):
            dur = np.zeros(nsess)
            if rows.size:
                srows = sess_of_row[rows]
                cnt = np.bincount(srows, minlength=nsess)
                bounds = _seg_bounds(cnt)
                ne_idx = np.flatnonzero(cnt > 0)
                if ne_idx.size:
                    nb = bounds[ne_idx]
                    trows = ts[rows]
                    firsts = trows[nb]
                    lasts = trows[np.append(nb[1:], rows.size) - 1]
                    dur[ne_idx] = (lasts - firsts) / 1000.0
            out[f"{name}_duration_ms"] = dur

    return out


def _per_key_ordinal(session_keys: np.ndarray) -> np.ndarray:
    """0-based session ordinal within each key (keys contiguous)."""
    n = session_keys.size
    if n == 0:
        return np.empty(0, dtype=np.int64)
    new = np.ones(n, dtype=np.int64)
    new[1:] = (session_keys[1:] != session_keys[:-1]).astype(np.int64)
    grp_start = np.flatnonzero(new)
    ordinal = np.arange(n, dtype=np.int64)
    return ordinal - np.repeat(grp_start, np.diff(np.append(grp_start, n)))
