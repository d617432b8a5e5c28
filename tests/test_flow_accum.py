"""Accumulator-based packet-path streaming state (round-5 verdict item 1,
packet variant). Mirrors tests/test_event_accum.py: multi-batch replay of
_advance_packet_key must emit the batch kernel's flows
(packet_segmented.featurize_packet_block on the key's packets; np.isclose
per feature), and per-key state must stay bounded by the watermark
horizon."""

import numpy as np
import pytest

from rustiflow_spark.config import EngineConfig
from rustiflow_spark.kernel.flow_accum import (
    ACC_F_LEN,
    ACC_I_LEN,
    flow_acc_fold,
    flow_acc_finalize,
)
from rustiflow_spark.kernel.flow_kernel import segment_biflow
from rustiflow_spark.kernel.packet_segmented import featurize_packet_block
from rustiflow_spark.schema import FLOW_SUPERSET_COLUMNS
from rustiflow_spark.streaming.sessionize_stream import (
    _PKT_STATE_COLS,
    _advance_packet_key,
)

NO_SCANS = np.empty(0, dtype=np.int64)
BASE_TS = 1_700_000_000_000_000
META = {"src_ip_a": "10.0.0.1", "src_port_a": 1234,
        "dst_ip_a": "93.184.216.34", "dst_port_a": 443}
COLS = [*_PKT_STATE_COLS, "dir_a"]


def _synth_group(rng, proto, n):
    gaps = rng.choice(
        [100, 5_000, 900_000, 1_500_000, 4_900_000, 5_100_000,
         31_500_000, 6_000_000],
        size=n, p=[0.3, 0.2, 0.15, 0.1, 0.1, 0.05, 0.05, 0.05],
    )
    ts = np.cumsum(gaps).astype(np.int64) + BASE_TS
    dl = rng.choice([0, 0, 40, 512, 1460], size=n).astype(np.int64)
    g = {
        "ts_us": ts,
        "dir_a": rng.random(n) < 0.55,
        "protocol": np.full(n, proto, dtype=np.int64),
        "data_length": dl,
        "header_length": rng.integers(20, 60, n).astype(np.int64),
        "length": dl + rng.integers(20, 60, n).astype(np.int64),
        "window_size": rng.choice([0, 1024, 65535, 65535], size=n).astype(np.int64),
        "sequence_number": rng.integers(0, 2 ** 30, n).astype(np.int64),
        "sequence_number_ack": rng.choice(
            rng.integers(0, 2 ** 30, 5), size=n
        ).astype(np.int64),
        "icmp_type": (
            rng.choice([0, 3, 8, 11, -1], size=n).astype(np.int64)
            if proto in (1, 58) else np.full(n, -1, np.int64)
        ),
        "icmp_code": rng.integers(0, 3, n).astype(np.int64),
        "event_seq": np.arange(n, dtype=np.int64),
    }
    zeros = np.zeros(n, np.int64)
    if proto == 6:
        g["fin_flag"] = (rng.random(n) < 0.04).astype(np.int64)
        g["syn_flag"] = zeros.copy()
        g["syn_flag"][0] = 1
        g["rst_flag"] = (rng.random(n) < 0.02).astype(np.int64)
        g["ack_flag"] = (rng.random(n) < 0.9).astype(np.int64)
        g["psh_flag"] = (rng.random(n) < 0.3).astype(np.int64)
    else:
        for c in ("fin_flag", "syn_flag", "rst_flag", "ack_flag", "psh_flag"):
            g[c] = zeros
    g["urg_flag"] = (rng.random(n) < 0.01).astype(np.int64)
    g["cwr_flag"] = zeros
    g["ece_flag"] = zeros
    g["flags"] = (
        g["fin_flag"] * 1 + g["syn_flag"] * 2 + g["rst_flag"] * 4
        + g["psh_flag"] * 8 + g["ack_flag"] * 16 + g["urg_flag"] * 32
        + g["cwr_flag"] * 64 + g["ece_flag"] * 128
    )
    return g


def _batch_rows(g, cfg):
    """The block kernel's rows for one key's sorted packets, sessions in
    start order (then early-export snapshots, if cfg asks for them)."""
    n = g["ts_us"].size
    block = dict(g, key_id=np.zeros(n, dtype=np.int64))
    keys = {
        "key_ip_a": np.full(n, META["src_ip_a"], dtype=object),
        "key_port_a": np.full(n, META["src_port_a"]),
        "key_ip_b": np.full(n, META["dst_ip_a"], dtype=object),
        "key_port_b": np.full(n, META["dst_port_a"]),
    }
    res = featurize_packet_block(block, keys, cfg, NO_SCANS, int(g["ts_us"][-1]))
    return [
        {c: res[c][i] for c in FLOW_SUPERSET_COLUMNS}
        for i in range(res["first_ts_us"].size)
    ]


def _slice(g, a, b):
    return {c: g[c][a:b] for c in COLS}


def _concat(t1, t2):
    return {c: np.concatenate([t1[c], t2[c]]) for c in COLS}


def _replay(g, cfg, n_batches, delay_us, rng):
    n = g["ts_us"].size
    cuts = np.sort(rng.choice(np.arange(1, n), size=n_batches - 1,
                              replace=False))
    bounds = [0] + [int(c) for c in cuts] + [n]
    acc, tail = None, None
    rows_all = []
    wm = 0
    for a, b in zip(bounds[:-1], bounds[1:]):
        chunk = _slice(g, a, b)
        merged = _concat(tail, chunk) if tail is not None else chunk
        rows, acc, tail = _advance_packet_key(acc, merged, cfg, wm, False, META)
        rows_all.extend(rows)
        wm = int(g["ts_us"][b - 1]) - delay_us
    if acc is not None or tail is not None:
        empty = {c: g[c][:0] for c in COLS}
        rows, acc, tail = _advance_packet_key(
            acc, tail if tail is not None else empty, cfg, wm, True, META
        )
        rows_all.extend(rows)
    return rows_all


# (active_timeout, idle_timeout): the long active timeout never fires; the
# short ones make flows resumed across micro-batches reach the active cut
REPLAY_TIMEOUTS = [(3600, 30), (60, 30), (20, 120)]


@pytest.mark.parametrize("seed,proto,active,idle", [
    pytest.param(seed, proto, act, idle, id=f"{seed}-{proto}" if act == 3600
                 else f"{seed}-{proto}-a{act}-i{idle}")
    for act, idle in REPLAY_TIMEOUTS
    for seed, proto in [(1, 6), (2, 6), (3, 17), (4, 1), (5, 6)]
])
def test_packet_multibatch_replay_matches_batch_kernel(seed, proto, active, idle):
    rng = np.random.default_rng(seed)
    cfg = EngineConfig(active_timeout=active, idle_timeout=idle,
                       scan_mode="none")
    n = int(rng.integers(50, 400))
    g = _synth_group(rng, proto, n)
    batch = _batch_rows(g, cfg)
    stream_rows = _replay(g, cfg, n_batches=6, delay_us=10_000_000, rng=rng)
    assert len(stream_rows) == len(batch)
    for i, (srow, brow) in enumerate(zip(stream_rows, batch)):
        for col, bv in brow.items():
            av = srow[col]
            if col == "cause" and i == len(batch) - 1:
                continue  # flush relabel (Shutdown -> Idle/Active), documented
            if isinstance(bv, str):
                assert av == bv, (i, col, av, bv)
            elif isinstance(bv, float) and np.isinf(bv):
                assert np.isinf(float(av)), (col, av, bv)
            else:
                assert np.isclose(float(av), float(bv)), (col, av, bv)


def test_packet_open_flow_state_bounded_by_watermark_horizon():
    cfg = EngineConfig(active_timeout=100_000, idle_timeout=100_000,
                       scan_mode="none")
    rng = np.random.default_rng(7)
    n = 40_000
    g = _synth_group(rng, 17, n)
    g["ts_us"] = (np.arange(n, dtype=np.int64) * 1000) + BASE_TS  # one flow
    delay_us = 2_000_000
    batch_sz = 4000
    acc, tail = None, None
    for a in range(0, n, batch_sz):
        b = min(a + batch_sz, n)
        wm = 0 if a == 0 else int(g["ts_us"][a - 1]) - delay_us
        chunk = _slice(g, a, b)
        merged = _concat(tail, chunk) if tail is not None else chunk
        rows, acc, tail = _advance_packet_key(acc, merged, cfg, wm, False, META)
        assert rows == []
        assert tail["ts_us"].size <= (delay_us // 1000) + batch_sz + 1
        if a > 0:
            assert acc["i"].size == ACC_I_LEN and acc["f"].size == ACC_F_LEN
    rows, acc, tail = _advance_packet_key(
        acc, tail, cfg, int(g["ts_us"][-1]), True, META
    )
    assert len(rows) == 1
    batch = _batch_rows(g, cfg)
    assert len(batch) == 1
    for col, bv in batch[0].items():
        if col == "cause":
            continue
        av = rows[0][col]
        if isinstance(bv, str):
            assert av == bv, (col, av, bv)
        else:
            assert np.isclose(float(av), float(bv)), (col, av, bv)


def test_single_fold_finalize_bit_matches_batch_features():
    rng = np.random.default_rng(23)
    cfg = EngineConfig(active_timeout=3600, idle_timeout=30, scan_mode="none")
    g = _synth_group(rng, 6, 250)
    tcp_ctl = {"fin": g["fin_flag"], "rst": g["rst_flag"],
               "syn": g["syn_flag"], "ack": g["ack_flag"],
               "seq": g["sequence_number"],
               "ack_seq": g["sequence_number_ack"],
               "data_len": g["data_length"]}
    sessions = segment_biflow(g["ts_us"], g["dir_a"], 6, tcp_ctl, cfg,
                              NO_SCANS, int(g["ts_us"][-1]))
    batch = _batch_rows(g, cfg)
    assert len(batch) == len(sessions)
    for sess, brow in zip(sessions, batch):
        acc = flow_acc_fold(None, _slice(g, sess.start, sess.end))
        row = flow_acc_finalize(
            acc, META, sess.cause, sess.close_ts, sess.closed,
            sess.handshake_completed, sess.reset_before_handshake,
            sess.reset_after_handshake, sess.close_style,
        )
        for col, bv in brow.items():
            av = row[col]
            if isinstance(bv, str):
                assert av == bv, (col, av, bv)
            elif isinstance(bv, float) and np.isinf(bv):
                assert np.isinf(float(av))
            else:
                assert np.isclose(float(av), float(bv), rtol=1e-12, atol=1e-12), (
                    col, av, bv,
                )
