"""Segment-vectorized packet-flow featurization: many biflows per Arrow
block, all order-invariant statistics via segmented NumPy reductions, with
per-session Python only for the genuinely order-dependent sparse parts
(TCP lifecycle segmentation, bulk transfers, retransmission intervals —
and those only for sessions that can possibly produce nonzero results).

``featurize_packet_block`` is the package's one packet-flow featurizer:
batch ``sessionize_packets`` runs it per sorted Arrow block and the
streaming early-export path per buffered key. Segmentation comes from
kernel/flow_kernel.py (citations there); parity with the reference is
asserted against the transliteration oracle, tests/oracle_flow.py.
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
    EngineConfig,
)
from rustiflow_spark.config import CAUSE_NONE, CLOSE_NONE
from rustiflow_spark.kernel.flow_kernel import segment_biflow
from rustiflow_spark.kernel.segmented import (
    _CAUSE_STRINGS,
    _seg_bounds,
    _seg_stats,
    close_sessions,
    segment_block,
)

U32_MAX = 0xFFFFFFFF

# 6-bit flags-string lookup (U A P R S F presence), tcp_flag_stats.rs:49-82
_FLAGS_LUT = np.array(
    [
        "".join(
            ch if (m >> b) & 1 else "."
            for ch, b in (("U", 5), ("A", 4), ("P", 3), ("R", 2), ("S", 1), ("F", 0))
        )
        for m in range(64)
    ],
    dtype=object,
)


def _first_last_per_segment(ts: np.ndarray, rows: np.ndarray, seg_of_row: np.ndarray,
                            nsess: int):
    """(first_ts, last_ts, count) per segment for a sorted row subset."""
    firsts = np.zeros(nsess, dtype=np.int64)
    lasts = np.zeros(nsess, dtype=np.int64)
    cnt = np.bincount(seg_of_row[rows], minlength=nsess) if rows.size else np.zeros(nsess, np.int64)
    ne = np.flatnonzero(cnt > 0)
    if rows.size and ne.size:
        bounds = _seg_bounds(cnt)
        nb = bounds[ne]
        t = ts[rows]
        firsts[ne] = t[nb]
        lasts[ne] = t[np.append(nb[1:], rows.size) - 1]
    return firsts, lasts, cnt.astype(np.int64), ne


def segment_groups(
    g: dict[str, np.ndarray], cfg: EngineConfig, scan_times: np.ndarray, flush_ts: int
) -> dict[str, np.ndarray]:
    """Per-biflow segmentation over a sorted block, vectorized across groups
    for the common case.

    Groups without TCP control flags (all non-TCP traffic plus flagless TCP)
    are segmented block-wide with segmented NumPy (segment_block +
    close_sessions) — zero per-group Python. Only TCP biflows that carry at
    least one FIN/RST/SYN run the per-group lifecycle state machine
    (segment_biflow), exactly the rows whose cuts are control-driven
    (basic_flow.rs:155-191). Both paths produce identical sessions for
    flagless groups. The accumulator stream path calls segment_biflow
    alone, passing each key's open flow as ``resume=`` (a resumed TCP flow
    always takes the per-packet loop); tests/test_flow_accum.py and the
    stream-vs-batch tests compare the two.

    Returns per-session arrays sorted by start row: starts, ends (exclusive),
    cause (object), close_ts, closed, close_style (object), handshake,
    reset_before, reset_after (int64). When cfg.early_export is set, a
    second group of arrays with the "snap_" prefix carries the early-export
    snapshots (flow_table.rs:155-177): one per packet past the threshold,
    spanning the live session's prefix, cause 'None', closed False.
    """
    key_ids = g["key_id"]
    n = key_ids.size
    ts = g["ts_us"]
    dir_a = g["dir_a"]
    proto = g["protocol"]
    grp_start = np.flatnonzero(np.concatenate(([True], key_ids[1:] != key_ids[:-1])))
    grp_end = np.append(grp_start[1:], n)
    ngroups = grp_start.size

    # control groups: TCP biflows with >= 1 fin/rst/syn packet
    ctlrow = (
        ((g["fin_flag"] > 0) | (g["rst_flag"] > 0) | (g["syn_flag"] > 0))
        & (proto == PROTO_TCP)
    )
    grp_of_row = np.zeros(n, dtype=np.int64)
    grp_of_row[grp_start[1:]] = 1
    np.cumsum(grp_of_row, out=grp_of_row)
    ctl_grp = np.bincount(grp_of_row[ctlrow], minlength=ngroups) > 0
    row_is_ctl = ctl_grp[grp_of_row]

    starts_parts: list[np.ndarray] = []
    ends_parts: list[np.ndarray] = []
    cause_parts: list[np.ndarray] = []
    close_parts: list[np.ndarray] = []
    closed_parts: list[np.ndarray] = []
    style_parts: list[np.ndarray] = []
    hs_parts: list[np.ndarray] = []
    rb_parts: list[np.ndarray] = []
    ra_parts: list[np.ndarray] = []

    snap_starts_parts: list[np.ndarray] = []
    snap_ends_parts: list[np.ndarray] = []
    snap_hs_parts: list[np.ndarray] = []

    nc_rows = np.flatnonzero(~row_is_ctl)
    if nc_rows.size:
        sub_keys = key_ids[nc_rows]
        sub_ts = ts[nc_rows]
        zeros = np.zeros(nc_rows.size, dtype=np.int64)
        starts_l = segment_block(sub_keys, sub_ts, zeros, cfg)
        ends_l = np.append(starts_l[1:], nc_rows.size)
        codes, close_ts_nc, closed_nc = close_sessions(
            starts_l, ends_l, sub_keys, sub_ts, zeros, cfg, scan_times, flush_ts
        )
        # groups are wholly control or wholly not, so sessions tile their
        # group contiguously in absolute row space too
        starts_parts.append(nc_rows[starts_l])
        ends_parts.append(nc_rows[ends_l - 1] + 1)
        cause_parts.append(_CAUSE_STRINGS[codes])
        close_parts.append(close_ts_nc)
        closed_parts.append(closed_nc)
        sess_proto = proto[nc_rows[starts_l]]
        style_parts.append(
            np.where(sess_proto == PROTO_TCP, CLOSE_NONE, CLOSE_NOT_APPLICABLE).astype(
                object
            )
        )
        m = starts_l.size
        hs_parts.append(np.zeros(m, dtype=np.int64))
        rb_parts.append(np.zeros(m, dtype=np.int64))
        ra_parts.append(np.zeros(m, dtype=np.int64))

        if cfg.early_export is not None:
            # fast-path early export (flow_table.rs:155-177): every packet
            # past the threshold snapshots the running flow. Vectorized:
            # a row is a snapshot end iff ts >= session_first + (early+1)s.
            seg_of = np.zeros(nc_rows.size, dtype=np.int64)
            seg_of[starts_l[1:]] = 1
            np.cumsum(seg_of, out=seg_of)
            thr = sub_ts[starts_l][seg_of] + (cfg.early_export + 1) * 1_000_000
            snap_l = np.flatnonzero(sub_ts >= thr)
            if snap_l.size:
                snap_starts_parts.append(nc_rows[starts_l[seg_of[snap_l]]])
                snap_ends_parts.append(nc_rows[snap_l] + 1)
                snap_hs_parts.append(np.zeros(snap_l.size, dtype=np.int64))

    # ctl groups are typically small (one biflow each): accumulate plain
    # Python scalars across ALL groups and convert once, instead of paying
    # ~9 array constructions per group
    c_starts: list[int] = []
    c_ends: list[int] = []
    c_cause: list[str] = []
    c_close: list[int] = []
    c_closed: list[bool] = []
    c_style: list[str] = []
    c_hs: list[int] = []
    c_rb: list[int] = []
    c_ra: list[int] = []
    s_starts_l: list[int] = []
    s_ends_l: list[int] = []
    s_hs_l: list[int] = []
    for gi in np.flatnonzero(ctl_grp):
        s, e = int(grp_start[gi]), int(grp_end[gi])
        tcp_ctl = {
            "fin": g["fin_flag"][s:e],
            "rst": g["rst_flag"][s:e],
            "syn": g["syn_flag"][s:e],
            "ack": g["ack_flag"][s:e],
            "seq": g["sequence_number"][s:e],
            "ack_seq": g["sequence_number_ack"][s:e],
            "data_len": g["data_length"][s:e],
        }
        for x in segment_biflow(
            ts[s:e], dir_a[s:e], PROTO_TCP, tcp_ctl, cfg, scan_times, flush_ts
        ):
            if x.snapshot_of >= 0:
                s_starts_l.append(x.start + s)
                s_ends_l.append(x.end + s)
                s_hs_l.append(int(x.handshake_completed))
            else:
                c_starts.append(x.start + s)
                c_ends.append(x.end + s)
                c_cause.append(x.cause)
                c_close.append(x.close_ts)
                c_closed.append(x.closed)
                c_style.append(x.close_style)
                c_hs.append(int(x.handshake_completed))
                c_rb.append(int(x.reset_before_handshake))
                c_ra.append(int(x.reset_after_handshake))
    if c_starts:
        starts_parts.append(np.asarray(c_starts, dtype=np.int64))
        ends_parts.append(np.asarray(c_ends, dtype=np.int64))
        cause_parts.append(np.array(c_cause, dtype=object))
        close_parts.append(np.asarray(c_close, dtype=np.int64))
        closed_parts.append(np.asarray(c_closed, dtype=bool))
        style_parts.append(np.array(c_style, dtype=object))
        hs_parts.append(np.asarray(c_hs, dtype=np.int64))
        rb_parts.append(np.asarray(c_rb, dtype=np.int64))
        ra_parts.append(np.asarray(c_ra, dtype=np.int64))
    if s_starts_l:
        snap_starts_parts.append(np.asarray(s_starts_l, dtype=np.int64))
        snap_ends_parts.append(np.asarray(s_ends_l, dtype=np.int64))
        snap_hs_parts.append(np.asarray(s_hs_l, dtype=np.int64))

    if not starts_parts:
        return {"starts": np.empty(0, dtype=np.int64)}
    starts = np.concatenate(starts_parts)
    order = np.argsort(starts, kind="stable")
    out = {
        "starts": starts[order],
        "ends": np.concatenate(ends_parts)[order],
        "cause": np.concatenate(cause_parts)[order],
        "close_ts": np.concatenate(close_parts)[order],
        "closed": np.concatenate(closed_parts)[order],
        "close_style": np.concatenate(style_parts)[order],
        "handshake": np.concatenate(hs_parts)[order],
        "reset_before": np.concatenate(rb_parts)[order],
        "reset_after": np.concatenate(ra_parts)[order],
    }
    if snap_starts_parts:
        s_starts = np.concatenate(snap_starts_parts)
        s_ends = np.concatenate(snap_ends_parts)
        s_hs = np.concatenate(snap_hs_parts)
        so = np.lexsort((s_ends, s_starts))
        out["snap_starts"] = s_starts[so]
        out["snap_ends"] = s_ends[so]
        out["snap_handshake"] = s_hs[so]
    return out


def featurize_packet_block(
    g: dict[str, np.ndarray],
    keys: dict[str, np.ndarray],
    cfg: EngineConfig,
    scan_times: np.ndarray,
    flush_ts: int,
    columns: set | None = None,
    segd: dict[str, np.ndarray] | None = None,
) -> dict[str, np.ndarray]:
    """Full feature superset for a sorted packet block.

    g: int64 column arrays sorted by (key_id, ts_us, event_seq), plus
    bool dir_a and int64 key_id. keys: per-ROW canonical endpoint arrays
    (object dtype): key_ip_a, key_port_a, key_ip_b, key_port_b.
    Returns superset column arrays (schema.FLOW_SUPERSET_COLUMNS).

    columns: requested superset column names, or None for the full set.
    Narrow schemas (Basic-10, CIDDS-10, NF-71, ...) pass the columns their
    projection actually reads; unneeded feature blocks are skipped entirely
    (retransmission interval scans, bulk runs, ICMP maps — the expensive
    order-dependent parts) and the Arrow batch out of Python carries only
    the requested columns (engineering-notes.md:671-699: serialization
    dominates at high parallelism). Early-export snapshots force full
    compute (the snapshot prefix pass reuses every family's aux arrays);
    output pruning still applies downstream.

    segd: the block's segmentation, as returned by segment_groups(g, cfg,
    scan_times, flush_ts); computed here when None. Rows are exported in
    its order: sessions, then snapshots.
    """
    if segd is None:
        segd = segment_groups(g, cfg, scan_times, flush_ts)
    if segd.get("snap_starts") is not None:
        columns = None

    def need(*prefixes: str) -> bool:
        if columns is None:
            return True
        return any(c.startswith(prefixes) for c in columns)
    starts = segd["starts"]
    nsess = starts.size
    out: dict[str, np.ndarray] = {}
    if nsess == 0:
        return {"__empty": np.empty(0)}

    ts = g["ts_us"]
    n = ts.size
    ends = segd["ends"]
    closed = segd["closed"]
    close_ts = segd["close_ts"]
    cause = segd["cause"]
    style = segd["close_style"]
    handshake = segd["handshake"]
    reset_before = segd["reset_before"]
    reset_after = segd["reset_after"]

    snap_pending = None
    snap_starts = segd.get("snap_starts")
    if snap_starts is not None:
        # Snapshot features are computed after the session pass from
        # per-session prefix-cumulative arrays (O(n) total — the Spark analog
        # of the reference's O(1)-per-snapshot accumulator clone,
        # flow_table.rs:162-173). aux arrays are captured along the way.
        snap_pending = (snap_starts, segd["snap_ends"], segd["snap_handshake"])
        snap_aux: dict[str, object] = {}
        snap_parent_set = set(np.searchsorted(starts, snap_starts).tolist())

    # sessions arrive sorted by start row and tile the block contiguously,
    # so session order IS contiguous row order
    seg_of_row = np.zeros(n, dtype=np.int64)
    seg_of_row[starts[1:]] = 1
    seg_of_row = np.cumsum(seg_of_row)
    sess_of_row = seg_of_row

    counts = ends - starts
    first_ts = ts[starts]
    last_ts = ts[ends - 1]

    # direction: forward = same orientation as session's first packet
    dir_a = g["dir_a"]
    sess_first_dir = dir_a[starts]  # per session (list order)
    rep_first_dir = np.repeat(sess_first_dir, counts)
    fwd_row = dir_a == rep_first_dir  # rows are in contiguous session order

    # --- identity / key columns -------------------------------------------
    ip_a = keys["key_ip_a"][starts]
    port_a = keys["key_port_a"][starts].astype(np.int64)
    ip_b = keys["key_ip_b"][starts]
    port_b = keys["key_port_b"][starts].astype(np.int64)
    first_is_a = sess_first_dir
    src_ip = np.where(first_is_a, ip_a, ip_b)
    src_port = np.where(first_is_a, port_a, port_b)
    dst_ip = np.where(first_is_a, ip_b, ip_a)
    dst_port = np.where(first_is_a, port_b, port_a)
    protocol = g["protocol"][starts]
    out["src_ip"], out["src_port"] = src_ip, src_port.astype(np.int64)
    out["dst_ip"], out["dst_port"] = dst_ip, dst_port.astype(np.int64)
    out["protocol"] = protocol
    if need("flow_key"):
        out["flow_key"] = np.array(
            [
                f"{a}:{b}-{c}:{d}-{p}"
                for a, b, c, d, p in zip(src_ip, src_port, dst_ip, dst_port, protocol)
            ],
            dtype=object,
        )
    if need("ip_version", "src_ip_scope", "dst_ip_scope", "path_locality"):
        # IP metadata: python parsing only over UNIQUE addresses, then
        # gathered; path locality via an 8x8 scope-pair lookup table
        # (flows/util.rs:71-97)
        from rustiflow_spark.flows import ipmeta

        uniq, uinv = np.unique(
            np.concatenate((src_ip, dst_ip)).astype(object), return_inverse=True
        )
        u_scope = np.array([ipmeta.ip_scope(x) for x in uniq], dtype=object)
        u_ver = np.fromiter(
            (ipmeta.ip_version(x) for x in uniq), dtype=np.int64, count=uniq.size
        )
        scope_names = sorted(set(u_scope))
        code_of = {nme: i for i, nme in enumerate(scope_names)}
        u_code = np.fromiter(
            (code_of[x] for x in u_scope), dtype=np.int64, count=uniq.size
        )
        loc_table = np.array(
            [
                [ipmeta.locality_from_scopes(a, b) for b in scope_names]
                for a in scope_names
            ],
            dtype=object,
        )
        s_inv, d_inv = uinv[:nsess], uinv[nsess:]
        out["ip_version"] = u_ver[s_inv]
        out["src_ip_scope"] = u_scope[s_inv]
        out["dst_ip_scope"] = u_scope[d_inv]
        out["path_locality"] = loc_table[u_code[s_inv], u_code[d_inv]]

    out["first_ts_us"] = first_ts
    out["last_ts_us"] = last_ts
    out["duration_us"] = last_ts - first_ts
    out["cause"] = cause
    out["close_style"] = style
    out["handshake_completed"] = handshake
    out["reset_before_handshake"] = reset_before
    out["reset_after_handshake"] = reset_after

    # --- contiguous-order scaffolding --------------------------------------
    fwd_rows = np.flatnonzero(fwd_row)
    bwd_rows = np.flatnonzero(~fwd_row)

    def seg(name: str, values: np.ndarray, rows: np.ndarray) -> None:
        tmp: dict[str, np.ndarray] = {}
        _seg_stats(values, seg_of_row[rows], nsess, name, tmp)
        for k, v in tmp.items():
            out[k] = v

    # IAT (ms) — flow + per direction
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = -1
    gaps[1:] = ts[1:] - ts[:-1]
    gaps[starts] = -1
    intra = np.flatnonzero(gaps >= 0)
    if need("iat_"):
        seg("iat", gaps[intra] / 1000.0, intra)
    for rows, name in ((fwd_rows, "fwd_iat"), (bwd_rows, "bwd_iat")):
        if not need(name + "_"):
            continue
        if rows.size > 1:
            same = seg_of_row[rows[1:]] == seg_of_row[rows[:-1]]
            vals = (ts[rows[1:]] - ts[rows[:-1]])[same] / 1000.0
            sub = rows[1:][same]
            seg(name, vals, sub)
        else:
            seg(name, np.empty(0), np.empty(0, np.int64))

    if snap_pending is not None:
        snap_aux["gaps"] = gaps
        snap_aux["intra"] = intra
        snap_aux["fwd_rows"] = fwd_rows
        snap_aux["bwd_rows"] = bwd_rows

    # subflow (strict > 1s)
    if need("subflow_count"):
        sub_rows = intra[gaps[intra] > SUBFLOW_TIMEOUT_US]
        subflow_contig = 1 + np.bincount(seg_of_row[sub_rows], minlength=nsess)
        out["subflow_count"] = subflow_contig.astype(np.int64)
        if snap_pending is not None:
            snap_aux["sub_rows"] = sub_rows

    # active/idle (strict > 5s) with close semantics
    if need("active_", "idle_"):
        big_rows = intra[gaps[intra] > ACTIVE_IDLE_TIMEOUT_US]
        if snap_pending is not None:
            snap_aux["big_rows"] = big_rows
        idle_vals = gaps[big_rows] / 1000.0
        idle_seg = seg_of_row[big_rows]
        trail = np.flatnonzero(closed & (cause == CAUSE_IDLE))
        idle_all = np.concatenate(
            (idle_vals, (close_ts[trail] - last_ts[trail]) / 1000.0)
        )
        idle_all_seg = np.concatenate((idle_seg, trail))
        o2 = np.argsort(idle_all_seg, kind="stable")
        tmp: dict[str, np.ndarray] = {}
        _seg_stats(idle_all[o2], idle_all_seg[o2], nsess, "idle", tmp)
        for k, v in tmp.items():
            out[k] = v

        span_starts = np.unique(np.concatenate((starts, big_rows)))
        span_seg = seg_of_row[span_starts]
        span_ends_rows = np.append(span_starts[1:] - 1, n - 1)
        sess_last_row = (ends - 1)[span_seg]
        span_end = np.minimum(span_ends_rows, sess_last_row)
        span_dur = (ts[span_end] - ts[span_starts]).astype(np.float64)
        is_trailing = span_end == sess_last_row
        keep = (span_dur > 0) & (~is_trailing | closed[span_seg])
        tmp = {}
        kept_seg = span_seg[keep]
        o3 = np.argsort(kept_seg, kind="stable")
        _seg_stats((span_dur[keep] / 1000.0)[o3], kept_seg[o3], nsess, "active", tmp)
        for k, v in tmp.items():
            out[k] = v

    # payload / header / packet-length / window stats
    data_len = g["data_length"].astype(np.float64)
    hdr = g["header_length"].astype(np.float64)
    length = g["length"].astype(np.float64)
    win = g["window_size"].astype(np.float64)
    allrows = np.arange(n)
    if need("payload_len_"):
        seg("payload_len", data_len, allrows)
    if need("fwd_payload_len_"):
        seg("fwd_payload_len", data_len[fwd_rows], fwd_rows)
    if need("bwd_payload_len_"):
        seg("bwd_payload_len", data_len[bwd_rows], bwd_rows)
    if need("fwd_non_zero", "bwd_non_zero"):
        nz_f = fwd_rows[data_len[fwd_rows] > 0]
        nz_b = bwd_rows[data_len[bwd_rows] > 0]
        if snap_pending is not None:
            snap_aux["nz_f"] = nz_f
            snap_aux["nz_b"] = nz_b
        out["fwd_non_zero_payload_packets"] = np.bincount(
            seg_of_row[nz_f], minlength=nsess
        ).astype(np.int64)
        out["bwd_non_zero_payload_packets"] = np.bincount(
            seg_of_row[nz_b], minlength=nsess
        ).astype(np.int64)
    if need("header_len_"):
        seg("header_len", hdr, allrows)
    if need("fwd_header_len_"):
        seg("fwd_header_len", hdr[fwd_rows], fwd_rows)
    if need("bwd_header_len_"):
        seg("bwd_header_len", hdr[bwd_rows], bwd_rows)
    if need("fwd_packet_len_"):
        seg("fwd_packet_len", length[fwd_rows], fwd_rows)
    if need("bwd_packet_len_"):
        seg("bwd_packet_len", length[bwd_rows], bwd_rows)
    if need("window_size_"):
        seg("window_size", win, allrows)
    if need("fwd_window_size_"):
        seg("fwd_window_size", win[fwd_rows], fwd_rows)
    if need("bwd_window_size_"):
        seg("bwd_window_size", win[bwd_rows], bwd_rows)

    # init window sizes: first packet per direction per session
    if need("fwd_init_window_size", "bwd_init_window_size"):
        for rows, name in (
            (fwd_rows, "fwd_init_window_size"),
            (bwd_rows, "bwd_init_window_size"),
        ):
            firsts, _, cnt, ne = _first_last_per_segment(
                g["window_size"], rows, seg_of_row, nsess
            )
            init = np.zeros(nsess, dtype=np.int64)
            if rows.size and ne.size:
                bounds = _seg_bounds(cnt)
                init[ne] = g["window_size"][rows][bounds[ne]]
            out[name] = init

    # timing (ms floats, 0.0 when absent)
    if need(
        "first_ts_fwd_ms", "first_ts_bwd_ms", "last_ts_fwd_ms",
        "last_ts_bwd_ms", "fwd_duration_ms", "bwd_duration_ms",
    ):
        for rows, pre in ((fwd_rows, "fwd"), (bwd_rows, "bwd")):
            firsts, lasts, cnt, ne = _first_last_per_segment(
                ts, rows, seg_of_row, nsess
            )
            has = cnt > 0
            out[f"first_ts_{pre}_ms"] = np.where(has, firsts / 1000.0, 0.0)
            out[f"last_ts_{pre}_ms"] = np.where(has, lasts / 1000.0, 0.0)
            out[f"{pre}_duration_ms"] = np.where(
                has, (lasts - firsts) / 1000.0, 0.0
            )

    # TCP flag counters + flags string
    if columns is None or "flags" in columns or any(
        c.endswith("_flag_count") for c in columns
    ):
        flagbits = np.zeros(nsess, dtype=np.int64)
        for name, bit in (
            ("urg", 5), ("ack", 4), ("psh", 3), ("rst", 2), ("syn", 1), ("fin", 0),
        ):
            col = g[name + "_flag"]
            fc = np.bincount(
                seg_of_row[fwd_rows], weights=col[fwd_rows], minlength=nsess
            )
            bc = np.bincount(
                seg_of_row[bwd_rows], weights=col[bwd_rows], minlength=nsess
            )
            out[f"fwd_{name}_flag_count"] = fc.astype(np.int64)
            out[f"bwd_{name}_flag_count"] = bc.astype(np.int64)
            flagbits |= ((fc + bc) > 0).astype(np.int64) << bit
        for name in ("cwr", "ece"):
            col = g[name + "_flag"]
            out[f"fwd_{name}_flag_count"] = np.bincount(
                seg_of_row[fwd_rows], weights=col[fwd_rows], minlength=nsess
            ).astype(np.int64)
            out[f"bwd_{name}_flag_count"] = np.bincount(
                seg_of_row[bwd_rows], weights=col[bwd_rows], minlength=nsess
            ).astype(np.int64)
        out["flags"] = _FLAGS_LUT[flagbits]

    # ICMP
    proto_row = g["protocol"]
    if need("icmp_"):
        icmp_rows = np.flatnonzero(
            (proto_row == PROTO_ICMP) | (proto_row == PROTO_ICMPV6)
        )
        itype = g["icmp_type"]
        icode = g["icmp_code"]
        first_t = np.full(nsess, -1, dtype=np.int64)
        first_c = np.full(nsess, -1, dtype=np.int64)
        if icmp_rows.size:
            cnt = np.bincount(seg_of_row[icmp_rows], minlength=nsess)
            ne = np.flatnonzero(cnt > 0)
            bounds = _seg_bounds(cnt)
            first_t[ne] = itype[icmp_rows][bounds[ne]]
            first_c[ne] = icode[icmp_rows][bounds[ne]]
            v4 = proto_row[icmp_rows] == PROTO_ICMP
            t_vals = itype[icmp_rows]
            req = np.where(v4, t_vals == 8, t_vals == 128)
            rep = np.where(v4, t_vals == 0, t_vals == 129)
            dunr = np.where(v4, t_vals == 3, t_vals == 1)
            err_x = np.where(
                v4, np.isin(t_vals, (4, 5, 11, 12)), np.isin(t_vals, (2, 3, 4))
            )
            sor = seg_of_row[icmp_rows]
            out["icmp_echo_request_count"] = np.bincount(sor, weights=req, minlength=nsess).astype(np.int64)
            out["icmp_echo_reply_count"] = np.bincount(sor, weights=rep, minlength=nsess).astype(np.int64)
            out["icmp_error_count"] = np.bincount(sor, weights=(dunr | err_x), minlength=nsess).astype(np.int64)
            out["icmp_destination_unreachable_count"] = np.bincount(sor, weights=dunr, minlength=nsess).astype(np.int64)
        else:
            z = np.zeros(nsess, dtype=np.int64)
            out["icmp_echo_request_count"] = z
            out["icmp_echo_reply_count"] = z.copy()
            out["icmp_error_count"] = z.copy()
            out["icmp_destination_unreachable_count"] = z.copy()
        out["icmp_type"] = first_t
        out["icmp_code"] = first_c

    # duplicate ACK (vectorized across sessions) + zero window
    flags_bm = g["flags"]
    dl = g["data_length"]
    ack_no = g["sequence_number_ack"]
    win_i = g["window_size"]
    is_tcp_row = proto_row == PROTO_TCP
    dupzw_dirs = (
        ((fwd_rows, "fwd"), (bwd_rows, "bwd"))
        if need("fwd_duplicate", "bwd_duplicate", "fwd_zero_window", "bwd_zero_window")
        else ()
    )
    for rows_dir, pre in dupzw_dirs:
        rows = rows_dir[is_tcp_row[rows_dir]]
        zw_rows = rows[win_i[rows] == 0]
        out[f"{pre}_zero_window_count"] = (
            np.bincount(seg_of_row[zw_rows], minlength=nsess)
            .astype(np.int64)
        )
        if rows.size > 1:
            cand = (flags_bm[rows] == ACK_FLAG) & (dl[rows] == 0)
            same_sess = seg_of_row[rows[1:]] == seg_of_row[rows[:-1]]
            dup = (
                cand[1:]
                & cand[:-1]
                & same_sess
                & (ack_no[rows[1:]] == ack_no[rows[:-1]])
                & (win_i[rows[1:]] == win_i[rows[:-1]])
            )
            dup_rows = rows[1:][dup]
            out[f"{pre}_duplicate_ack_count"] = np.bincount(
                seg_of_row[dup_rows], minlength=nsess
            ).astype(np.int64)
        else:
            dup_rows = np.empty(0, dtype=np.int64)
            out[f"{pre}_duplicate_ack_count"] = np.zeros(nsess, dtype=np.int64)
        if snap_pending is not None:
            snap_aux[f"zw_{pre}"] = zw_rows
            snap_aux[f"dup_{pre}"] = dup_rows

    # retransmissions: a vectorized necessary condition prunes the exact
    # per-session scan to sessions that can possibly overlap. A segment can
    # only overlap the union of PRIOR ranges if start < max(prior ends) AND
    # end > min(prior starts) — segmented running max/min computed with the
    # band-lift trick (values + seg_id * 2^33 make np.maximum.accumulate
    # reset at session boundaries since end <= 2^32 < 2^33). In-order
    # traffic (monotone sequence numbers) never enters Python here.
    ctl = ((flags_bm & SYN_FLAG) != 0).astype(np.int64) + ((flags_bm & FIN_FLAG) != 0).astype(np.int64)
    seg_len = dl + ctl
    eligible = is_tcp_row & ~((flags_bm == ACK_FLAG) & (dl == 0)) & (seg_len > 0)
    seq = g["sequence_number"]
    _LIFT = np.int64(1) << 33
    rt_dirs = (
        ((fwd_rows, "fwd"), (bwd_rows, "bwd"))
        if need("fwd_retransmission", "bwd_retransmission")
        else ()
    )
    for rows_dir, pre in rt_dirs:
        rows = rows_dir[eligible[rows_dir]]
        res = np.zeros(nsess, dtype=np.int64)
        rt_event_rows: list[int] = []
        if rows.size:
            seg_r = seg_of_row[rows]
            start_v = seq[rows]
            end_v = np.minimum(start_v + seg_len[rows], U32_MAX)
            band = seg_r * _LIFT
            cmax_end = np.maximum.accumulate(end_v + band)
            cmin_start = np.minimum.accumulate(start_v - band)
            cand = np.zeros(rows.size, dtype=bool)
            if rows.size > 1:
                cand[1:] = ((start_v[1:] + band[1:]) < cmax_end[:-1]) & (
                    (end_v[1:] - band[1:]) > cmin_start[:-1]
                )
            cnt = np.bincount(seg_r, minlength=nsess)
            multi = np.unique(seg_r[cand])
            bounds = _seg_bounds(cnt)
            for si in multi:
                rr = rows[bounds[si] : bounds[si] + cnt[si]]
                want_rows = snap_pending is not None and int(si) in snap_parent_set
                count = 0
                ranges: list[tuple[int, int]] = []
                for r in rr:
                    start_ = int(seq[r])
                    end_ = min(start_ + int(seg_len[r]), U32_MAX)
                    if any(s_ < end_ and start_ < e_ for s_, e_ in ranges):
                        count += 1
                        if want_rows:
                            rt_event_rows.append(int(r))
                    ns_, ne_ = start_, end_
                    j = 0
                    while j < len(ranges):
                        cs, ce = ranges[j]
                        if ce < ns_:
                            j += 1
                            continue
                        if ne_ < cs:
                            break
                        ns_ = min(ns_, cs)
                        ne_ = max(ne_, ce)
                        ranges.pop(j)
                    ranges.insert(j, (ns_, ne_))
                res[si] = count
        out[f"{pre}_retransmission_count"] = res
        if snap_pending is not None:
            snap_aux[f"rt_{pre}"] = np.sort(
                np.asarray(rt_event_rows, dtype=np.int64)
            )

    # bulk transfers, fully vectorized. The reference's interleaved 2-state
    # machine (bulk_stats.rs:115-167; tests/oracle_flow.py) reduces to:
    # a bulk attempt is a maximal run of CONSECUTIVE same-direction
    # nonzero-length packets, additionally split where the intra-run gap
    # exceeds BULK_IDLE_MS (a direction's pending bulk is finalized exactly
    # when the other direction starts a fresh one, i.e. at every direction
    # switch). A run is recorded iff it has >= MIN_BULK_PACKETS packets and
    # is not the session-trailing run of an unclosed (terminated) flow.
    ts_ms = ts // 1000
    length_i = g["length"]
    bulk_needed = need("fwd_bulk_", "bwd_bulk_")
    nzrows = (
        np.flatnonzero(length_i > 0) if bulk_needed else np.empty(0, np.int64)
    )
    if bulk_needed:
        for d in ("fwd", "bwd"):
            for m in ("packets", "bytes", "duration"):
                for s_ in ("total", "mean", "std", "max", "min"):
                    out[f"{d}_bulk_{m}_{s_}"] = np.zeros(nsess)
                out[f"{d}_bulk_{m}_count"] = np.zeros(nsess, dtype=np.int64)
            out[f"{d}_bulk_rate"] = np.zeros(nsess)
    if nzrows.size:
        nzsess = seg_of_row[nzrows]
        nzdir = fwd_row[nzrows]
        t_ms = ts_ms[nzrows]
        ln = length_i[nzrows]
        nb = nzrows.size
        newrun = np.ones(nb, dtype=bool)
        if nb > 1:
            newrun[1:] = ~(
                (nzsess[1:] == nzsess[:-1])
                & (nzdir[1:] == nzdir[:-1])
                & ((t_ms[1:] - t_ms[:-1]) <= BULK_IDLE_MS)
            )
        run_start = np.flatnonzero(newrun)
        r_sess = nzsess[run_start]
        r_dir = nzdir[run_start]
        r_count = np.diff(np.append(run_start, nb)).astype(np.int64)
        r_bytes = np.add.reduceat(ln, run_start)
        r_dur = (
            t_ms[np.append(run_start[1:], nb) - 1] - t_ms[run_start]
        ).astype(np.int64)
        is_last_run = np.ones(run_start.size, dtype=bool)
        is_last_run[:-1] = r_sess[:-1] != r_sess[1:]
        if snap_pending is not None:
            snap_aux["bulk"] = {
                "nzrows": nzrows,
                "run_start": run_start,
                "r_sess": r_sess,
                "r_dir": r_dir,
                "r_count": r_count,
                "r_bytes": r_bytes,
                "r_dur": r_dur,
            }
        keep = (r_count >= MIN_BULK_PACKETS) & (~is_last_run | closed[r_sess])
        for d_val, d in ((True, "fwd"), (False, "bwd")):
            m = keep & (r_dir == d_val)
            m_sess = r_sess[m]
            for name, arr in (
                ("packets", r_count[m].astype(np.float64)),
                ("bytes", r_bytes[m].astype(np.float64)),
                ("duration", r_dur[m].astype(np.float64)),
            ):
                tmp = {}
                _seg_stats(arr, m_sess, nsess, f"{d}_bulk_{name}", tmp)
                out.update(tmp)
            # rate quirk (bulk_stats.rs:65-78): ms totals / 1e6; zero total
            # duration with a recorded bulk -> +inf like Rust f64 division
            b_tot = out[f"{d}_bulk_bytes_total"]
            d_tot = out[f"{d}_bulk_duration_total"] / 1_000_000.0
            has = out[f"{d}_bulk_packets_count"] > 0
            rate = np.zeros(nsess)
            pos = has & (d_tot > 0)
            np.divide(b_tot, d_tot, out=rate, where=pos)
            rate[has & (d_tot == 0)] = np.inf
            out[f"{d}_bulk_rate"] = rate

    if snap_pending is not None:
        s_starts, s_ends, s_hs = snap_pending
        snap_out = _snapshot_features(
            g, cfg, ts, starts, ends, seg_of_row, out,
            s_starts, s_ends, s_hs, snap_aux,
        )
        for col in out:
            out[col] = np.concatenate((out[col], snap_out[col]))

    return out


def _snapshot_features(
    g: dict[str, np.ndarray],
    cfg: EngineConfig,
    ts: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    seg_of_row: np.ndarray,
    sess_out: dict[str, np.ndarray],
    snap_starts: np.ndarray,
    snap_ends: np.ndarray,
    snap_hs: np.ndarray,
    aux: dict,
) -> dict[str, np.ndarray]:
    """Early-export snapshot features from per-session prefix-cumulative
    arrays (flow_table.rs:155-177): O(total session rows), not O(sum of
    prefix lengths) — the vectorized analog of the reference's O(1)
    accumulator clone per snapshot.

    Every statistic of a snapshot (prefix [session start, snap_end)) is a
    prefix reduction of per-row "arrival" events: a value v arriving at row
    r contributes to snapshots with end row >= r. Totals/means come from
    per-session-reset cumulative sums (fresh np.cumsum per session — bitwise
    equal to the sequential reduceat sums of the session pass), max/min from
    per-session cumulative extrema, and the population variance from the
    shifted-moment identity m2 = sum((v - v0)^2) - (sum(v - v0))^2 / k with
    v0 the session's first value, whose FP error is bounded by ~k*eps
    relative to m2 itself. Counts are exact searchsorted prefix counts.
    """
    nsnap = snap_starts.size
    parent = np.searchsorted(starts, snap_starts)
    e_abs = snap_ends - 1
    s_abs = snap_starts
    n = ts.size
    out: dict[str, np.ndarray] = {}

    # --- identity / scalar columns (same first packet as the parent) -------
    for col in (
        "src_ip", "src_port", "dst_ip", "dst_port", "protocol", "ip_version",
        "src_ip_scope", "dst_ip_scope", "path_locality", "flow_key",
        "icmp_type", "icmp_code", "first_ts_us",
    ):
        out[col] = sess_out[col][parent]
    out["last_ts_us"] = ts[e_abs]
    out["duration_us"] = out["last_ts_us"] - out["first_ts_us"]
    out["cause"] = np.full(nsnap, CAUSE_NONE, dtype=object)
    proto = sess_out["protocol"][parent]
    out["close_style"] = np.where(
        proto == PROTO_TCP, CLOSE_NONE, CLOSE_NOT_APPLICABLE
    ).astype(object)
    out["handshake_completed"] = snap_hs.astype(np.int64)
    out["reset_before_handshake"] = np.zeros(nsnap, dtype=np.int64)
    out["reset_after_handshake"] = np.zeros(nsnap, dtype=np.int64)

    # --- arrival-event family definitions -----------------------------------
    gaps = aux["gaps"]
    intra = aux["intra"]
    fwd_rows = aux["fwd_rows"]
    bwd_rows = aux["bwd_rows"]
    big_rows = aux["big_rows"]
    allrows = np.arange(n, dtype=np.int64)
    data_len = g["data_length"].astype(np.float64)
    hdr = g["header_length"].astype(np.float64)
    length = g["length"].astype(np.float64)
    win = g["window_size"].astype(np.float64)

    stat_fams: list[tuple[str, np.ndarray, np.ndarray]] = []
    stat_fams.append(("iat", intra, gaps[intra] / 1000.0))
    for rows_d, nm in ((fwd_rows, "fwd_iat"), (bwd_rows, "bwd_iat")):
        if rows_d.size > 1:
            same = seg_of_row[rows_d[1:]] == seg_of_row[rows_d[:-1]]
            arr = rows_d[1:][same]
            vals = (ts[rows_d[1:]] - ts[rows_d[:-1]])[same] / 1000.0
        else:
            arr, vals = np.empty(0, np.int64), np.empty(0)
        stat_fams.append((nm, arr, vals))
    # active spans completed at each big-gap row (the big row starts the
    # next span; the prefix-trailing span is dropped — snapshots are open)
    if big_rows.size:
        prev = np.empty(big_rows.size, dtype=np.int64)
        prev[0] = starts[seg_of_row[big_rows[0]]]
        same_s = seg_of_row[big_rows[1:]] == seg_of_row[big_rows[:-1]]
        prev[1:] = np.where(
            same_s, big_rows[:-1], starts[seg_of_row[big_rows[1:]]]
        )
        dur = (ts[big_rows - 1] - ts[prev]).astype(np.float64) / 1000.0
        keep = dur > 0
        stat_fams.append(("active", big_rows[keep], dur[keep]))
    else:
        stat_fams.append(("active", big_rows, np.empty(0)))
    # idle gaps (no trailing idle: snapshots are never closed)
    stat_fams.append(("idle", big_rows, gaps[big_rows] / 1000.0))
    stat_fams.append(("payload_len", allrows, data_len))
    stat_fams.append(("fwd_payload_len", fwd_rows, data_len[fwd_rows]))
    stat_fams.append(("bwd_payload_len", bwd_rows, data_len[bwd_rows]))
    stat_fams.append(("header_len", allrows, hdr))
    stat_fams.append(("fwd_header_len", fwd_rows, hdr[fwd_rows]))
    stat_fams.append(("bwd_header_len", bwd_rows, hdr[bwd_rows]))
    stat_fams.append(("fwd_packet_len", fwd_rows, length[fwd_rows]))
    stat_fams.append(("bwd_packet_len", bwd_rows, length[bwd_rows]))
    stat_fams.append(("window_size", allrows, win))
    stat_fams.append(("fwd_window_size", fwd_rows, win[fwd_rows]))
    stat_fams.append(("bwd_window_size", bwd_rows, win[bwd_rows]))
    # bulk runs: run i becomes visible exactly when run i+1 of the same
    # session starts (prefix-trailing run dropped — snapshots are open)
    bk = aux.get("bulk")
    for d_val, d in ((True, "fwd"), (False, "bwd")):
        if bk is not None and bk["run_start"].size > 1:
            r_sess, r_dir = bk["r_sess"], bk["r_dir"]
            r_count = bk["r_count"]
            idx = np.flatnonzero(r_sess[1:] == r_sess[:-1])
            q = idx[(r_dir[idx] == d_val) & (r_count[idx] >= MIN_BULK_PACKETS)]
            arr = bk["nzrows"][bk["run_start"][q + 1]]
            stat_fams.append(
                (f"{d}_bulk_packets", arr, r_count[q].astype(np.float64))
            )
            stat_fams.append(
                (f"{d}_bulk_bytes", arr, bk["r_bytes"][q].astype(np.float64))
            )
            stat_fams.append(
                (f"{d}_bulk_duration", arr, bk["r_dur"][q].astype(np.float64))
            )
        else:
            e_i, e_f = np.empty(0, np.int64), np.empty(0)
            stat_fams.append((f"{d}_bulk_packets", e_i, e_f))
            stat_fams.append((f"{d}_bulk_bytes", e_i, e_f))
            stat_fams.append((f"{d}_bulk_duration", e_i, e_f))

    # weighted prefix-sum families (flag / ICMP counters)
    wfams: list[tuple[str, np.ndarray, np.ndarray]] = []
    for name in ("urg", "ack", "psh", "rst", "syn", "fin", "cwr", "ece"):
        col = g[name + "_flag"].astype(np.float64)
        wfams.append((f"fwd_{name}_flag_count", fwd_rows, col[fwd_rows]))
        wfams.append((f"bwd_{name}_flag_count", bwd_rows, col[bwd_rows]))
    proto_row = g["protocol"]
    icmp_rows = np.flatnonzero(
        (proto_row == PROTO_ICMP) | (proto_row == PROTO_ICMPV6)
    )
    if icmp_rows.size:
        v4 = proto_row[icmp_rows] == PROTO_ICMP
        t_vals = g["icmp_type"][icmp_rows]
        req = np.where(v4, t_vals == 8, t_vals == 128)
        rep = np.where(v4, t_vals == 0, t_vals == 129)
        dunr = np.where(v4, t_vals == 3, t_vals == 1)
        err_x = np.where(
            v4, np.isin(t_vals, (4, 5, 11, 12)), np.isin(t_vals, (2, 3, 4))
        )
    else:
        req = rep = dunr = err_x = np.empty(0, dtype=bool)
    wfams.append(("icmp_echo_request_count", icmp_rows, req.astype(np.float64)))
    wfams.append(("icmp_echo_reply_count", icmp_rows, rep.astype(np.float64)))
    wfams.append(
        ("icmp_error_count", icmp_rows, (dunr | err_x).astype(np.float64))
    )
    wfams.append(
        ("icmp_destination_unreachable_count", icmp_rows, dunr.astype(np.float64))
    )

    # --- exact prefix counts (searchsorted over event rows) -----------------
    def prefix_count(rows: np.ndarray) -> np.ndarray:
        return (
            np.searchsorted(rows, e_abs, side="right")
            - np.searchsorted(rows, s_abs, side="left")
        ).astype(np.int64)

    out["subflow_count"] = 1 + prefix_count(aux["sub_rows"])
    out["fwd_non_zero_payload_packets"] = prefix_count(aux["nz_f"])
    out["bwd_non_zero_payload_packets"] = prefix_count(aux["nz_b"])
    for pre in ("fwd", "bwd"):
        out[f"{pre}_zero_window_count"] = prefix_count(aux[f"zw_{pre}"])
        out[f"{pre}_duplicate_ack_count"] = prefix_count(aux[f"dup_{pre}"])
        out[f"{pre}_retransmission_count"] = prefix_count(aux[f"rt_{pre}"])

    # per-family prefix counts (shared by stats assembly below)
    kcounts = {nm: prefix_count(rows) for nm, rows, _ in stat_fams}

    # --- timing + init window (first/last arrival value <= snapshot end) ----
    for rows_d, pre in ((fwd_rows, "fwd"), (bwd_rows, "bwd")):
        kg = np.searchsorted(rows_d, e_abs, side="right")
        f_i = np.searchsorted(rows_d, s_abs, side="left")
        has = kg > f_i
        if rows_d.size:
            tv = ts[rows_d]
            wv = g["window_size"][rows_d]
            first = tv[np.minimum(f_i, rows_d.size - 1)]
            last = tv[np.maximum(kg - 1, 0)]
            init = wv[np.minimum(f_i, rows_d.size - 1)]
        else:
            first = last = init = np.zeros(nsnap, dtype=np.int64)
        out[f"first_ts_{pre}_ms"] = np.where(has, first / 1000.0, 0.0)
        out[f"last_ts_{pre}_ms"] = np.where(has, last / 1000.0, 0.0)
        out[f"{pre}_duration_ms"] = np.where(has, (last - first) / 1000.0, 0.0)
        out[f"{pre}_init_window_size"] = np.where(has, init, 0).astype(np.int64)

    # --- chunked per-session cumulative matrices -----------------------------
    nfam = len(stat_fams)
    ncol_sum = 3 * nfam + len(wfams)
    snap_sessions = np.unique(parent)
    sess_lens = (ends - starts)[snap_sessions]
    # greedy chunks of whole sessions, ~256k rows apiece
    chunk_of = np.zeros(snap_sessions.size, dtype=np.int64)
    if snap_sessions.size:
        acc, cid = 0, 0
        target = 1 << 18
        for i_s in range(snap_sessions.size):
            if acc >= target:
                cid += 1
                acc = 0
            chunk_of[i_s] = cid
            acc += int(sess_lens[i_s])
    nchunks = int(chunk_of[-1]) + 1 if snap_sessions.size else 0
    snap_local = np.searchsorted(snap_sessions, parent)
    snap_chunk = chunk_of[snap_local]

    g_sum = np.zeros((nsnap, ncol_sum))
    g_max = np.zeros((nsnap, nfam))
    g_min = np.zeros((nsnap, nfam))
    row_to_sub = np.full(n, -1, dtype=np.int64)
    for cid in range(nchunks):
        c_sessions = np.flatnonzero(chunk_of == cid)
        c_starts = starts[snap_sessions[c_sessions]]
        c_lens = sess_lens[c_sessions]
        n_sub = int(c_lens.sum())
        sub_off = np.zeros(c_lens.size, dtype=np.int64)
        np.cumsum(c_lens[:-1], out=sub_off[1:])
        rows_of = (
            np.arange(n_sub, dtype=np.int64)
            - np.repeat(sub_off, c_lens)
            + np.repeat(c_starts, c_lens)
        )
        row_to_sub[rows_of] = np.arange(n_sub, dtype=np.int64)

        m_sum = np.zeros((n_sub, ncol_sum))
        m_max = np.full((n_sub, nfam), -np.inf)
        m_min = np.full((n_sub, nfam), np.inf)
        for j, (nm, rows, vals) in enumerate(stat_fams):
            if not rows.size:
                continue
            sel = row_to_sub[rows] >= 0
            p = row_to_sub[rows[sel]]
            if not p.size:
                continue
            v = vals[sel]
            m_sum[p, 3 * j] = v
            # shift by the session's first family value (exact 0 for v0)
            grp = seg_of_row[rows[sel]]
            gnew = np.ones(p.size, dtype=bool)
            gnew[1:] = grp[1:] != grp[:-1]
            gs = np.flatnonzero(gnew)
            first_rep = np.repeat(v[gs], np.diff(np.append(gs, p.size)))
            y = v - first_rep
            m_sum[p, 3 * j + 1] = y
            m_sum[p, 3 * j + 2] = y * y
            m_max[p, j] = v
            m_min[p, j] = v
        for j, (nm, rows, w) in enumerate(wfams):
            if not rows.size:
                continue
            sel = row_to_sub[rows] >= 0
            p = row_to_sub[rows[sel]]
            if p.size:
                m_sum[p, 3 * nfam + j] = w[sel]

        for off, ln in zip(sub_off.tolist(), c_lens.tolist()):
            sl = slice(off, off + ln)
            np.cumsum(m_sum[sl], axis=0, out=m_sum[sl])
            np.maximum.accumulate(m_max[sl], axis=0, out=m_max[sl])
            np.minimum.accumulate(m_min[sl], axis=0, out=m_min[sl])

        in_chunk = snap_chunk == cid
        p_snap = row_to_sub[e_abs[in_chunk]]
        g_sum[in_chunk] = m_sum[p_snap]
        g_max[in_chunk] = m_max[p_snap]
        g_min[in_chunk] = m_min[p_snap]
        row_to_sub[rows_of] = -1

    # --- assemble stat families ---------------------------------------------
    for j, (nm, _rows, _vals) in enumerate(stat_fams):
        k = kcounts[nm]
        has = k > 0
        total = g_sum[:, 3 * j]
        mean = np.divide(total, k, out=np.zeros(nsnap), where=has)
        m2 = g_sum[:, 3 * j + 2] - np.divide(
            g_sum[:, 3 * j + 1] ** 2, k, out=np.zeros(nsnap), where=has
        )
        np.maximum(m2, 0.0, out=m2)
        std = np.sqrt(np.divide(m2, k, out=np.zeros(nsnap), where=has))
        out[f"{nm}_total"] = total
        out[f"{nm}_mean"] = mean
        out[f"{nm}_std"] = std
        out[f"{nm}_max"] = np.where(has, g_max[:, j], 0.0)
        out[f"{nm}_min"] = np.where(has, g_min[:, j], 0.0)
        out[f"{nm}_count"] = k
    for j, (nm, _rows, _w) in enumerate(wfams):
        out[nm] = g_sum[:, 3 * nfam + j].astype(np.int64)

    # flags string from prefix flag presence
    bits = np.zeros(nsnap, dtype=np.int64)
    for name, b in (
        ("urg", 5), ("ack", 4), ("psh", 3), ("rst", 2), ("syn", 1), ("fin", 0),
    ):
        tot = out[f"fwd_{name}_flag_count"] + out[f"bwd_{name}_flag_count"]
        bits |= (tot > 0).astype(np.int64) << b
    out["flags"] = _FLAGS_LUT[bits]

    # bulk rate quirk (bulk_stats.rs:65-78)
    for d in ("fwd", "bwd"):
        b_tot = out[f"{d}_bulk_bytes_total"]
        d_tot = out[f"{d}_bulk_duration_total"] / 1_000_000.0
        has = out[f"{d}_bulk_packets_count"] > 0
        rate = np.zeros(nsnap)
        pos = has & (d_tot > 0)
        np.divide(b_tot, d_tot, out=rate, where=pos)
        rate[has & (d_tot == 0)] = np.inf
        out[f"{d}_bulk_rate"] = rate

    return out
