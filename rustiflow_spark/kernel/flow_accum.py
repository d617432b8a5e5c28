"""Incremental per-flow feature accumulator for the packet path.

Streaming-state analog of the reference's FlowTable design: per-flow state
is O(1) online accumulators, never raw packets (flow_table.rs:24; every
feature module in flows/features/* is single-pass). The batch kernel
(kernel/packet_segmented.featurize_packet_block) computes the ~90-field
feature superset from the full raw packet slice; this module computes the
same fields from a fixed-size accumulator folded one sorted chunk at a
time, so the streaming sessionizer can freeze the open flow's
below-watermark prefix instead of buffering it raw:

  * statistic blocks (IAT / active / idle / payload / header / packet
    length / window / bulk) are (n, sum, M2, max, min) partials merged
    with the exact Chan/Welford formula (util.rs:97-107 — the reference
    itself accumulates these online), two-pass within each chunk so a
    single-chunk fold finalizes equal to the batch kernel up to float
    rounding (asserted at rtol 1e-12 in tests/test_flow_accum.py);
  * bulk keeps the reference's cross-direction in-progress state
    (bulk_stats.rs:115-167): per direction [start_ms, last_ms, count,
    size], finalized bulks folding straight into the stat blocks;
  * retransmission keeps the merged seen-seq interval list per direction
    (retransmission_stats.rs:36-146) — the identical state the reference
    holds, bounded by distinct in-flight ranges;
  * duplicate-ACK keeps one (candidate, ack, window) triple per direction
    (tcp_quality_stats.rs:44-66 comparator);
  * the TCP lifecycle state machine (_TcpState, basic_flow.rs:70-190) is
    replayed over folded chunks so segmentation can resume mid-session.

Finalize is non-destructive: early-export snapshots or repeated flush
attempts can materialize a feature row at any prefix without perturbing
the accumulator.
"""

from __future__ import annotations

import numpy as np

from rustiflow_spark.config import (
    ACK_FLAG,
    ACTIVE_IDLE_TIMEOUT_US,
    BULK_IDLE_MS,
    CAUSE_IDLE,
    CLOSE_NOT_APPLICABLE,
    FIN_FLAG,
    MIN_BULK_PACKETS,
    PROTO_ICMP,
    PROTO_ICMPV6,
    PROTO_TCP,
    SUBFLOW_TIMEOUT_US,
    SYN_FLAG,
)
from rustiflow_spark.kernel.flow_kernel import U32_MAX, _TcpState

# ---------------------------------------------------------------------------
# integer scalar slots
# ---------------------------------------------------------------------------
_FLAG_NAMES = ("fin", "syn", "rst", "psh", "ack", "urg", "cwr", "ece")

I_FIRST_TS = 0
I_LAST_TS = 1
I_COUNT = 2
I_FWD_COUNT = 3
I_BWD_COUNT = 4
I_FIRST_DIR_A = 5
I_FIRST_FWD_TS = 6
I_LAST_FWD_TS = 7
I_FIRST_BWD_TS = 8
I_LAST_BWD_TS = 9
I_SPAN_START = 10
I_SUBFLOW_GAPS = 11
I_FLAGS0 = 12  # 8 flags x (fwd, bwd) -> 16 slots
I_NZ_PAYLOAD_FWD = 28
I_NZ_PAYLOAD_BWD = 29
I_ZERO_WIN_FWD = 30
I_ZERO_WIN_BWD = 31
I_INIT_WIN_FWD = 32
I_INIT_WIN_BWD = 33
I_ICMP_SEEN = 34
I_ICMP_TYPE = 35
I_ICMP_CODE = 36
I_ICMP_REQ = 37
I_ICMP_REP = 38
I_ICMP_ERR = 39
I_ICMP_DUNR = 40
# _TcpState mirror
I_TCP_STATE_FWD = 41
I_TCP_STATE_BWD = 42
I_TCP_EXP_ACK_FWD = 43
I_TCP_EXP_ACK_BWD = 44
I_TCP_SAW_SYN_FWD = 45
I_TCP_SAW_SYN_ACK_BWD = 46
I_TCP_EXP_HS_ACK = 47
I_TCP_HANDSHAKE = 48
I_TCP_RESET_BEFORE = 49
I_TCP_RESET_AFTER = 50
I_TCP_SAW_FIN_FWD = 51
I_TCP_SAW_FIN_BWD = 52
I_TCP_SIMULTANEOUS = 53
# bulk in-progress state: [start_ms, last_ms, count, size] per direction
I_BULK_F = 54  # ..57
I_BULK_B = 58  # ..61
# dup-ack comparator: have_prev, prev_cand, prev_ack, prev_win, count per dir
I_DUP_F = 62  # ..65
I_DUP_F_CNT = 66
I_DUP_B = 67  # ..70
I_DUP_B_CNT = 71
I_RETRANS_F_CNT = 72
I_RETRANS_B_CNT = 73
I_PROTOCOL = 74
ACC_I_LEN = 75

_BLOCKS = (
    "iat", "fwd_iat", "bwd_iat", "active", "idle",
    "payload_len", "fwd_payload_len", "bwd_payload_len",
    "header_len", "fwd_header_len", "bwd_header_len",
    "fwd_packet_len", "bwd_packet_len",
    "window_size", "fwd_window_size", "bwd_window_size",
    "fwd_bulk_packets", "fwd_bulk_bytes", "fwd_bulk_duration",
    "bwd_bulk_packets", "bwd_bulk_bytes", "bwd_bulk_duration",
)
_OFF = {name: i * 5 for i, name in enumerate(_BLOCKS)}
ACC_F_LEN = len(_BLOCKS) * 5


def flow_acc_new() -> dict:
    ai = np.zeros(ACC_I_LEN, dtype=np.int64)
    ai[I_FIRST_TS] = ai[I_LAST_TS] = -1
    ai[I_FIRST_DIR_A] = -1
    ai[I_FIRST_FWD_TS] = ai[I_LAST_FWD_TS] = -1
    ai[I_FIRST_BWD_TS] = ai[I_LAST_BWD_TS] = -1
    ai[I_INIT_WIN_FWD] = ai[I_INIT_WIN_BWD] = -1
    ai[I_ICMP_TYPE] = ai[I_ICMP_CODE] = -1
    ai[I_TCP_EXP_ACK_FWD] = ai[I_TCP_EXP_ACK_BWD] = -1
    ai[I_TCP_EXP_HS_ACK] = -1
    ai[I_BULK_F] = ai[I_BULK_B] = -1
    return {
        "i": ai,
        "f": np.zeros(ACC_F_LEN, dtype=np.float64),
        "rf_s": [], "rf_e": [], "rb_s": [], "rb_e": [],
    }


def _chunk_stats(x: np.ndarray):
    n = x.size
    if n == 0:
        return 0.0, 0.0, 0.0, 0.0, 0.0
    s = float(x.sum())
    mean = s / n
    m2 = float(((x - mean) ** 2).sum())
    return float(n), s, m2, float(x.max()), float(x.min())


def _merge(af: np.ndarray, name: str, st) -> None:
    n2, s2, m2_2, mx2, mn2 = st
    if n2 == 0:
        return
    off = _OFF[name]
    n1 = af[off]
    if n1 == 0:
        af[off:off + 5] = (n2, s2, m2_2, mx2, mn2)
        return
    s1, m2_1 = af[off + 1], af[off + 2]
    delta = s2 / n2 - s1 / n1
    af[off + 2] = m2_1 + m2_2 + delta * delta * n1 * n2 / (n1 + n2)
    af[off] = n1 + n2
    af[off + 1] = s1 + s2
    af[off + 3] = max(af[off + 3], mx2)
    af[off + 4] = min(af[off + 4], mn2)


def _fold(af: np.ndarray, name: str, x: np.ndarray) -> None:
    _merge(af, name, _chunk_stats(x))


def tcp_state_from_acc(ai: np.ndarray) -> _TcpState:
    st = _TcpState()
    st.state_fwd = int(ai[I_TCP_STATE_FWD])
    st.state_bwd = int(ai[I_TCP_STATE_BWD])
    st.exp_ack_fwd = int(ai[I_TCP_EXP_ACK_FWD])
    st.exp_ack_bwd = int(ai[I_TCP_EXP_ACK_BWD])
    st.saw_syn_fwd = bool(ai[I_TCP_SAW_SYN_FWD])
    st.saw_syn_ack_bwd = bool(ai[I_TCP_SAW_SYN_ACK_BWD])
    st.exp_hs_ack = int(ai[I_TCP_EXP_HS_ACK])
    st.handshake = bool(ai[I_TCP_HANDSHAKE])
    st.reset_before = bool(ai[I_TCP_RESET_BEFORE])
    st.reset_after = bool(ai[I_TCP_RESET_AFTER])
    st.saw_fin_fwd = bool(ai[I_TCP_SAW_FIN_FWD])
    st.saw_fin_bwd = bool(ai[I_TCP_SAW_FIN_BWD])
    st.simultaneous = bool(ai[I_TCP_SIMULTANEOUS])
    return st


def _tcp_state_to_acc(ai: np.ndarray, st: _TcpState) -> None:
    ai[I_TCP_STATE_FWD] = st.state_fwd
    ai[I_TCP_STATE_BWD] = st.state_bwd
    ai[I_TCP_EXP_ACK_FWD] = st.exp_ack_fwd
    ai[I_TCP_EXP_ACK_BWD] = st.exp_ack_bwd
    ai[I_TCP_SAW_SYN_FWD] = int(st.saw_syn_fwd)
    ai[I_TCP_SAW_SYN_ACK_BWD] = int(st.saw_syn_ack_bwd)
    ai[I_TCP_EXP_HS_ACK] = st.exp_hs_ack
    ai[I_TCP_HANDSHAKE] = int(st.handshake)
    ai[I_TCP_RESET_BEFORE] = int(st.reset_before)
    ai[I_TCP_RESET_AFTER] = int(st.reset_after)
    ai[I_TCP_SAW_FIN_FWD] = int(st.saw_fin_fwd)
    ai[I_TCP_SAW_FIN_BWD] = int(st.saw_fin_bwd)
    ai[I_TCP_SIMULTANEOUS] = int(st.simultaneous)


def _retrans_fold(
    starts: list, ends: list, seq: np.ndarray, data_len: np.ndarray,
    flags: np.ndarray, mask: np.ndarray,
) -> int:
    """Incremental retransmission count (retransmission_stats.rs:36-146;
    the block kernel's per-session scan and tests/oracle_flow.py): same
    eligibility and merged-interval overlap test, but against persistent
    range lists. Returns the chunk's overlap count."""
    eligible = mask & ~((flags == ACK_FLAG) & (data_len == 0))
    ctl = ((flags & SYN_FLAG) != 0).astype(np.int64) + (
        (flags & FIN_FLAG) != 0
    ).astype(np.int64)
    seg_len = data_len + ctl
    eligible &= seg_len > 0
    count = 0
    for i in np.flatnonzero(eligible):
        start = int(seq[i])
        end = min(start + int(seg_len[i]), U32_MAX)
        if any(s < end and start < e for s, e in zip(starts, ends)):
            count += 1
        ns, ne = start, end
        j = 0
        while j < len(starts):
            cs, ce = starts[j], ends[j]
            if ce < ns:
                j += 1
                continue
            if ne < cs:
                break
            ns = min(ns, cs)
            ne = max(ne, ce)
            starts.pop(j)
            ends.pop(j)
        starts.insert(j, ns)
        ends.insert(j, ne)
    return count


def _dup_ack_fold(
    ai: np.ndarray, base: int, cnt_slot: int, ack_seq: np.ndarray,
    window: np.ndarray, flags: np.ndarray, data_len: np.ndarray,
    mask: np.ndarray,
) -> None:
    """Incremental duplicate-ACK count (tcp_quality_stats.rs:44-66):
    consecutive in-direction candidate pairs with equal (ack, window); the previous
    packet's triple is carried in ai[base:base+4]."""
    idx = np.flatnonzero(mask)
    if idx.size == 0:
        return
    cand = (flags[idx] == ACK_FLAG) & (data_len[idx] == 0)
    acks = ack_seq[idx]
    wins = window[idx]
    if ai[base] and ai[base + 1] and cand[0] and \
            acks[0] == ai[base + 2] and wins[0] == ai[base + 3]:
        ai[cnt_slot] += 1
    if idx.size > 1:
        same = (acks[1:] == acks[:-1]) & (wins[1:] == wins[:-1])
        ai[cnt_slot] += int(np.count_nonzero(cand[1:] & cand[:-1] & same))
    ai[base] = 1
    ai[base + 1] = int(cand[-1])
    ai[base + 2] = int(acks[-1])
    ai[base + 3] = int(wins[-1])


def _bulk_finalize_into(ai: np.ndarray, af: np.ndarray, slot: int,
                        name: str) -> None:
    if ai[slot] >= 0 and ai[slot + 2] >= MIN_BULK_PACKETS:
        _fold(af, f"{name}_bulk_packets", np.array([float(ai[slot + 2])]))
        _fold(af, f"{name}_bulk_bytes", np.array([float(ai[slot + 3])]))
        _fold(af, f"{name}_bulk_duration",
              np.array([float(ai[slot + 1] - ai[slot])]))
    ai[slot] = -1


def _bulk_fold(ai: np.ndarray, af: np.ndarray, ts_us: np.ndarray,
               length: np.ndarray, fwd: np.ndarray) -> None:
    """Incremental bulk-transfer state machine (bulk_stats.rs:115-167, as
    in tests/oracle_flow.py): cross-direction coupled, ms-truncated, zero-length packets skipped."""
    idx = np.flatnonzero(length > 0)
    if idx.size == 0:
        return
    ts_ms = ts_us // 1000
    slot_of = {True: I_BULK_F, False: I_BULK_B}
    name_of = {True: "fwd", False: "bwd"}
    for i in idx:
        d = bool(fwd[i])
        slot = slot_of[d]
        t = int(ts_ms[i])
        ln = int(length[i])
        if ai[slot] >= 0:
            if t - ai[slot + 1] > BULK_IDLE_MS:
                _bulk_finalize_into(ai, af, slot, name_of[d])
                ai[slot:slot + 4] = (t, t, 1, ln)
            else:
                ai[slot + 2] += 1
                ai[slot + 3] += ln
                ai[slot + 1] = t
        else:
            ai[slot:slot + 4] = (t, t, 1, ln)
            _bulk_finalize_into(ai, af, slot_of[not d], name_of[not d])


def flow_acc_fold(acc: dict | None, g: dict[str, np.ndarray]) -> dict:
    """Fold a sorted chunk of one flow's packets (int64 packet-column
    arrays plus bool dir_a, as buffered by the stream path) into the
    accumulator. Chunks must arrive in
    timestamp order relative to previously folded packets."""
    if acc is None:
        acc = flow_acc_new()
    ai, af = acc["i"], acc["f"]
    ts = g["ts_us"]
    n = ts.size
    if n == 0:
        return acc
    dir_a = g["dir_a"]
    fresh = ai[I_COUNT] == 0
    if fresh:
        ai[I_FIRST_TS] = int(ts[0])
        ai[I_SPAN_START] = int(ts[0])
        ai[I_FIRST_DIR_A] = int(dir_a[0])
        ai[I_PROTOCOL] = int(g["protocol"][0])
        t_ext = ts
    else:
        t_ext = np.concatenate(([ai[I_LAST_TS]], ts))
    fwd = dir_a == bool(ai[I_FIRST_DIR_A])
    bwd = ~fwd

    # IAT
    gaps = np.diff(t_ext)
    _fold(af, "iat", gaps / 1000.0)
    tf, tb = ts[fwd], ts[bwd]
    tf_ext = (np.concatenate(([ai[I_LAST_FWD_TS]], tf))
              if ai[I_LAST_FWD_TS] >= 0 and tf.size else tf)
    _fold(af, "fwd_iat", np.diff(tf_ext) / 1000.0)
    tb_ext = (np.concatenate(([ai[I_LAST_BWD_TS]], tb))
              if ai[I_LAST_BWD_TS] >= 0 and tb.size else tb)
    _fold(af, "bwd_iat", np.diff(tb_ext) / 1000.0)

    # active/idle + subflow (same machine as event_accum)
    idle_pos = np.flatnonzero(gaps > ACTIVE_IDLE_TIMEOUT_US)
    if idle_pos.size:
        _fold(af, "idle", gaps[idle_pos] / 1000.0)
        close_ends = t_ext[idle_pos]
        close_starts = np.concatenate(
            ([ai[I_SPAN_START]], t_ext[idle_pos[:-1] + 1])
        )
        spans = (close_ends - close_starts).astype(np.float64)
        _fold(af, "active", spans[spans > 0] / 1000.0)
        ai[I_SPAN_START] = int(t_ext[idle_pos[-1] + 1])
    ai[I_SUBFLOW_GAPS] += int(np.count_nonzero(gaps > SUBFLOW_TIMEOUT_US))

    # length-ish blocks
    data_len = g["data_length"].astype(np.float64)
    _fold(af, "payload_len", data_len)
    _fold(af, "fwd_payload_len", data_len[fwd])
    _fold(af, "bwd_payload_len", data_len[bwd])
    ai[I_NZ_PAYLOAD_FWD] += int(np.count_nonzero(data_len[fwd] > 0))
    ai[I_NZ_PAYLOAD_BWD] += int(np.count_nonzero(data_len[bwd] > 0))
    hdr = g["header_length"].astype(np.float64)
    _fold(af, "header_len", hdr)
    _fold(af, "fwd_header_len", hdr[fwd])
    _fold(af, "bwd_header_len", hdr[bwd])
    length = g["length"].astype(np.float64)
    _fold(af, "fwd_packet_len", length[fwd])
    _fold(af, "bwd_packet_len", length[bwd])
    win = g["window_size"].astype(np.float64)
    _fold(af, "window_size", win)
    _fold(af, "fwd_window_size", win[fwd])
    _fold(af, "bwd_window_size", win[bwd])
    if ai[I_INIT_WIN_FWD] < 0 and tf.size:
        ai[I_INIT_WIN_FWD] = int(g["window_size"][fwd][0])
    if ai[I_INIT_WIN_BWD] < 0 and tb.size:
        ai[I_INIT_WIN_BWD] = int(g["window_size"][bwd][0])

    # flag counters
    for k, name in enumerate(_FLAG_NAMES):
        col = g[name + "_flag"]
        ai[I_FLAGS0 + 2 * k] += int(col[fwd].sum())
        ai[I_FLAGS0 + 2 * k + 1] += int(col[bwd].sum())

    # ICMP
    proto = g["protocol"]
    icmp_mask = (proto == PROTO_ICMP) | (proto == PROTO_ICMPV6)
    icmp_idx = np.flatnonzero(icmp_mask)
    if icmp_idx.size:
        itype = g["icmp_type"]
        if not ai[I_ICMP_SEEN]:
            ai[I_ICMP_SEEN] = 1
            i0 = icmp_idx[0]
            ai[I_ICMP_TYPE] = int(itype[i0]) if itype[i0] >= 0 else -1
            icode = g["icmp_code"]
            ai[I_ICMP_CODE] = int(icode[i0]) if icode[i0] >= 0 else -1
        t_vals = itype[icmp_mask]
        v4 = proto[icmp_mask] == PROTO_ICMP
        req = np.where(v4, t_vals == 8, t_vals == 128)
        rep = np.where(v4, t_vals == 0, t_vals == 129)
        dunr = np.where(v4, t_vals == 3, t_vals == 1)
        err_extra = np.where(
            v4, np.isin(t_vals, (4, 5, 11, 12)), np.isin(t_vals, (2, 3, 4))
        )
        ai[I_ICMP_REQ] += int(req.sum())
        ai[I_ICMP_REP] += int(rep.sum())
        ai[I_ICMP_ERR] += int((dunr | err_extra).sum())
        ai[I_ICMP_DUNR] += int(dunr.sum())

    # bulk
    _bulk_fold(ai, af, ts, g["length"], fwd)

    # TCP-only modules
    if ai[I_PROTOCOL] == PROTO_TCP:
        flags_bm = g["flags"]
        seq = g["sequence_number"]
        ack_seq = g["sequence_number_ack"]
        dl = g["data_length"]
        win_i = g["window_size"]
        ai[I_RETRANS_F_CNT] += _retrans_fold(
            acc["rf_s"], acc["rf_e"], seq, dl, flags_bm, fwd
        )
        ai[I_RETRANS_B_CNT] += _retrans_fold(
            acc["rb_s"], acc["rb_e"], seq, dl, flags_bm, bwd
        )
        _dup_ack_fold(ai, I_DUP_F, I_DUP_F_CNT, ack_seq, win_i, flags_bm, dl, fwd)
        _dup_ack_fold(ai, I_DUP_B, I_DUP_B_CNT, ack_seq, win_i, flags_bm, dl, bwd)
        ai[I_ZERO_WIN_FWD] += int(np.count_nonzero(win_i[fwd] == 0))
        ai[I_ZERO_WIN_BWD] += int(np.count_nonzero(win_i[bwd] == 0))
        # lifecycle state machine replay — skippable exactly when the batch
        # kernel's jump condition holds (no control packet can change state)
        st = tcp_state_from_acc(ai)
        has_ctl = bool(
            np.any(g["fin_flag"]) or np.any(g["rst_flag"])
            or np.any(g["syn_flag"])
        )
        if has_ctl or st.state_fwd or st.state_bwd or (
            not st.handshake and st.saw_syn_ack_bwd
        ):
            fin_l = g["fin_flag"].tolist()
            syn_l = g["syn_flag"].tolist()
            ack_l = g["ack_flag"].tolist()
            seq_l = seq.tolist()
            ack_seq_l = ack_seq.tolist()
            dl_l = dl.tolist()
            fwd_l = fwd.tolist()
            for i in range(n):
                if syn_l[i] or ack_l[i]:
                    st.observe_handshake(
                        fwd_l[i], syn_l[i] > 0, ack_l[i] > 0,
                        seq_l[i], ack_seq_l[i],
                    )
                if fin_l[i] or st.state_fwd or st.state_bwd:
                    # no termination can occur inside a folded chunk (the
                    # session would have been cut and emitted instead)
                    st.is_finished(
                        fwd_l[i], fin_l[i] > 0, seq_l[i], ack_seq_l[i],
                        dl_l[i],
                    )
            _tcp_state_to_acc(ai, st)

    # counts / endpoints
    ai[I_COUNT] += n
    ai[I_FWD_COUNT] += int(fwd.sum())
    ai[I_BWD_COUNT] += int(bwd.sum())
    ai[I_LAST_TS] = int(ts[-1])
    if tf.size:
        if ai[I_FIRST_FWD_TS] < 0:
            ai[I_FIRST_FWD_TS] = int(tf[0])
        ai[I_LAST_FWD_TS] = int(tf[-1])
    if tb.size:
        if ai[I_FIRST_BWD_TS] < 0:
            ai[I_FIRST_BWD_TS] = int(tb[0])
        ai[I_LAST_BWD_TS] = int(tb[-1])
    return acc


def _emit(out: dict, name: str, af: np.ndarray) -> None:
    off = _OFF[name]
    n = af[off]
    if n == 0:
        out[f"{name}_total"] = 0.0
        out[f"{name}_mean"] = 0.0
        out[f"{name}_std"] = 0.0
        out[f"{name}_max"] = 0.0
        out[f"{name}_min"] = 0.0
        out[f"{name}_count"] = 0
        return
    s = af[off + 1]
    out[f"{name}_total"] = s
    out[f"{name}_mean"] = s / n
    out[f"{name}_std"] = float(np.sqrt(max(af[off + 2], 0.0) / n))
    out[f"{name}_max"] = af[off + 3]
    out[f"{name}_min"] = af[off + 4]
    out[f"{name}_count"] = int(n)


def flow_acc_finalize(
    acc: dict,
    meta: dict,
    cause: str,
    close_ts: int,
    closed: bool,
    handshake_completed: bool,
    reset_before: bool,
    reset_after: bool,
    close_style: str,
) -> dict:
    """Feature row from the accumulator — same field set and semantics as
    a featurize_packet_block row. Lifecycle fields come from the
    caller's (resumed) segmentation state. Non-destructive."""
    from rustiflow_spark.flows import ipmeta

    ai = acc["i"]
    af = acc["f"].copy()
    first_ts, last_ts = int(ai[I_FIRST_TS]), int(ai[I_LAST_TS])
    protocol = int(ai[I_PROTOCOL])

    out: dict = {}
    if ai[I_FIRST_DIR_A]:
        src_ip, dst_ip = meta["src_ip_a"], meta["dst_ip_a"]
        src_port, dst_port = int(meta["src_port_a"]), int(meta["dst_port_a"])
    else:
        src_ip, dst_ip = meta["dst_ip_a"], meta["src_ip_a"]
        src_port, dst_port = int(meta["dst_port_a"]), int(meta["src_port_a"])
    out["flow_key"] = f"{src_ip}:{src_port}-{dst_ip}:{dst_port}-{protocol}"
    out["src_ip"], out["src_port"] = src_ip, src_port
    out["dst_ip"], out["dst_port"] = dst_ip, dst_port
    out["protocol"] = protocol
    out["ip_version"] = ipmeta.ip_version(src_ip)
    out["src_ip_scope"] = ipmeta.ip_scope(src_ip)
    out["dst_ip_scope"] = ipmeta.ip_scope(dst_ip)
    out["path_locality"] = ipmeta.path_locality(src_ip, dst_ip)
    out["first_ts_us"] = first_ts
    out["last_ts_us"] = last_ts
    out["duration_us"] = last_ts - first_ts
    out["cause"] = cause
    out["close_style"] = (
        CLOSE_NOT_APPLICABLE if protocol != PROTO_TCP else close_style
    )
    out["handshake_completed"] = int(handshake_completed)
    out["reset_before_handshake"] = int(reset_before)
    out["reset_after_handshake"] = int(reset_after)

    # close-time adjustments (mirror the block kernel exactly)
    final_span = last_ts - int(ai[I_SPAN_START])
    if closed and final_span > 0:
        _fold(af, "active", np.array([final_span / 1000.0]))
    if closed and cause == CAUSE_IDLE:
        _fold(af, "idle", np.array([(close_ts - last_ts) / 1000.0]))
    if closed:
        ai = ai.copy()
        _bulk_finalize_into(ai, af, I_BULK_F, "fwd")
        _bulk_finalize_into(ai, af, I_BULK_B, "bwd")

    for name in _BLOCKS:
        _emit(out, name, af)
    out["subflow_count"] = 1 + int(ai[I_SUBFLOW_GAPS])
    out["fwd_non_zero_payload_packets"] = int(ai[I_NZ_PAYLOAD_FWD])
    out["bwd_non_zero_payload_packets"] = int(ai[I_NZ_PAYLOAD_BWD])

    for k, name in enumerate(_FLAG_NAMES):
        out[f"fwd_{name}_flag_count"] = int(ai[I_FLAGS0 + 2 * k])
        out[f"bwd_{name}_flag_count"] = int(ai[I_FLAGS0 + 2 * k + 1])
    out["flags"] = "".join(
        ch
        if out[f"fwd_{nm}_flag_count"] + out[f"bwd_{nm}_flag_count"]
        else "."
        for ch, nm in (
            ("U", "urg"), ("A", "ack"), ("P", "psh"),
            ("R", "rst"), ("S", "syn"), ("F", "fin"),
        )
    )

    out["fwd_init_window_size"] = max(int(ai[I_INIT_WIN_FWD]), 0)
    out["bwd_init_window_size"] = max(int(ai[I_INIT_WIN_BWD]), 0)

    out["icmp_type"] = int(ai[I_ICMP_TYPE])
    out["icmp_code"] = int(ai[I_ICMP_CODE])
    out["icmp_echo_request_count"] = int(ai[I_ICMP_REQ])
    out["icmp_echo_reply_count"] = int(ai[I_ICMP_REP])
    out["icmp_error_count"] = int(ai[I_ICMP_ERR])
    out["icmp_destination_unreachable_count"] = int(ai[I_ICMP_DUNR])

    # bulk rates (ms totals / 1e6 quirk, bulk_stats.rs:65-78)
    for name in ("fwd", "bwd"):
        n_d = af[_OFF[f"{name}_bulk_duration"]]
        if n_d == 0:
            out[f"{name}_bulk_rate"] = 0.0
        else:
            denom = float(af[_OFF[f"{name}_bulk_duration"] + 1]) / 1_000_000.0
            sz = float(af[_OFF[f"{name}_bulk_bytes"] + 1])
            out[f"{name}_bulk_rate"] = sz / denom if denom else float("inf")

    out["fwd_retransmission_count"] = int(ai[I_RETRANS_F_CNT])
    out["bwd_retransmission_count"] = int(ai[I_RETRANS_B_CNT])
    out["fwd_duplicate_ack_count"] = int(ai[I_DUP_F_CNT])
    out["bwd_duplicate_ack_count"] = int(ai[I_DUP_B_CNT])
    out["fwd_zero_window_count"] = int(ai[I_ZERO_WIN_FWD])
    out["bwd_zero_window_count"] = int(ai[I_ZERO_WIN_BWD])

    nf, nb = int(ai[I_FWD_COUNT]), int(ai[I_BWD_COUNT])
    out["first_ts_fwd_ms"] = float(ai[I_FIRST_FWD_TS]) / 1000.0 if nf else 0.0
    out["first_ts_bwd_ms"] = float(ai[I_FIRST_BWD_TS]) / 1000.0 if nb else 0.0
    out["last_ts_fwd_ms"] = float(ai[I_LAST_FWD_TS]) / 1000.0 if nf else 0.0
    out["last_ts_bwd_ms"] = float(ai[I_LAST_BWD_TS]) / 1000.0 if nb else 0.0
    out["fwd_duration_ms"] = (
        float(ai[I_LAST_FWD_TS] - ai[I_FIRST_FWD_TS]) / 1000.0 if nf else 0.0
    )
    out["bwd_duration_ms"] = (
        float(ai[I_LAST_BWD_TS] - ai[I_FIRST_BWD_TS]) / 1000.0 if nb else 0.0
    )
    return out
