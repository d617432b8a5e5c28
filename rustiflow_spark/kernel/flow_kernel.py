"""Flow segmentation primitives shared by the packet and event kernels.

Features are computed elsewhere: by the block kernel
(kernel/packet_segmented.featurize_packet_block) in batch and in the
streaming early-export path, and by the accumulator (kernel/flow_accum.py)
in the streaming default path. Those, and the event kernel
(kernel/event_kernel.py), import the cut rules from here; the streaming
default path keeps no copy of its own and continues each key's open flow
by passing the accumulator's state to ``segment_biflow`` as ``resume=``.
Together they reproduce the reference's ``FlowTable`` semantics
(rustiflow/src/flow_table.rs:23-246):

  * idle timeout:  (t - last)/1e6  > idle   (basic_flow.rs:365-367)
  * active timeout:(t - first)/1e6 > active (basic_flow.rs:361-363)
  * TCP FIN/RST termination cuts (basic_flow.rs:155-191, 287-308) —
    ``_TcpState`` and ``segment_biflow``
  * expired-on-arrival replacement (flow_table.rs:120-126)
  * periodic virtual-time expiry scan (flow_table.rs:207-245) — reproduced
    from a precomputed shard-global scan timeline (see timeline.py) in
    ``_timeout_close``
  * early-export snapshots (flow_table.rs:155-177)
  * exporter-shutdown flush at the shard's last event time
    (flow_table.rs:180-195)

Key batch-vs-stream insight exploited here: the periodic scan never changes
*which* packet starts a new session (a scan can only close a flow the next
same-biflow packet would also observe as expired, because scan times are
event timestamps processed in order). It only affects the close timestamp
and cause of sessions whose expiry is not observed by a successor packet.
So segmentation is computed locally per biflow, and scan times enter only
the close-ts/cause computation.

``stats6`` is the reference's statistics block over one value array
(features/util.rs:49-79), used by the event kernel.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from rustiflow_spark.config import (
    CAUSE_ACTIVE,
    CAUSE_IDLE,
    CAUSE_SHUTDOWN,
    CAUSE_TCP_RESET,
    CAUSE_TCP_TERM,
    CLOSE_BIDIRECTIONAL,
    CLOSE_FOUR_WAY,
    CLOSE_HALF,
    CLOSE_NONE,
    CLOSE_NOT_APPLICABLE,
    CLOSE_RESET,
    CLOSE_SIMULTANEOUS,
    PROTO_TCP,
    US_PER_S,
    EngineConfig,
)

U32_MAX = 0xFFFFFFFF


@dataclass
class Session:
    start: int  # index into group arrays (inclusive)
    end: int  # exclusive
    cause: str
    close_ts: int  # observation timestamp passed to close(); same as last
    # packet ts for terminated sessions (close not invoked)
    closed: bool  # whether close() semantics apply (False for TCP-terminated
    # and early-export snapshots: reference exports those
    # without calling close_flow — flow_table.rs:95-97,113-119)
    # TCP lifecycle results (state machine)
    handshake_completed: bool = False
    reset_before_handshake: bool = False
    reset_after_handshake: bool = False
    close_style: str = CLOSE_NONE
    snapshot_of: int = -1  # >=0: early-export snapshot ending at this index


class _TcpState:
    """BasicFlow TCP lifecycle per session (basic_flow.rs:70-190)."""

    __slots__ = (
        "state_fwd",
        "state_bwd",
        "exp_ack_fwd",
        "exp_ack_bwd",
        "saw_syn_fwd",
        "saw_syn_ack_bwd",
        "exp_hs_ack",
        "handshake",
        "reset_before",
        "reset_after",
        "saw_fin_fwd",
        "saw_fin_bwd",
        "simultaneous",
    )

    EST, FIN_SENT, FIN_ACKED = 0, 1, 2

    def __init__(self) -> None:
        self.state_fwd = self.EST
        self.state_bwd = self.EST
        self.exp_ack_fwd = -1
        self.exp_ack_bwd = -1
        self.saw_syn_fwd = False
        self.saw_syn_ack_bwd = False
        self.exp_hs_ack = -1
        self.handshake = False
        self.reset_before = False
        self.reset_after = False
        self.saw_fin_fwd = False
        self.saw_fin_bwd = False
        self.simultaneous = False

    def observe_handshake(self, fwd, syn, ack, seq, ack_seq) -> None:
        if self.handshake:
            return
        if fwd and syn and not ack:
            self.saw_syn_fwd = True
            self.saw_syn_ack_bwd = False
            self.exp_hs_ack = -1
            return
        if (not fwd) and self.saw_syn_fwd and syn and ack:
            self.saw_syn_ack_bwd = True
            self.exp_hs_ack = (seq + 1) & U32_MAX
            return
        if (
            fwd
            and self.saw_syn_fwd
            and self.saw_syn_ack_bwd
            and ack
            and not syn
            and ack_seq == self.exp_hs_ack
        ):
            self.handshake = True

    def is_finished(self, fwd, fin, seq, ack_seq, data_len) -> bool:
        if fin:
            if fwd:
                if self.state_bwd == self.FIN_SENT:
                    self.simultaneous = True
                self.saw_fin_fwd = True
                self.state_fwd = self.FIN_SENT
                self.exp_ack_bwd = (seq + data_len + 1) & U32_MAX
            else:
                if self.state_fwd == self.FIN_SENT:
                    self.simultaneous = True
                self.saw_fin_bwd = True
                self.state_bwd = self.FIN_SENT
                self.exp_ack_fwd = (seq + data_len + 1) & U32_MAX
        if self.state_bwd == self.FIN_SENT and fwd and ack_seq == self.exp_ack_fwd >= 0:
            self.state_bwd = self.FIN_ACKED
        elif self.state_fwd == self.FIN_SENT and (not fwd) and ack_seq == self.exp_ack_bwd >= 0:
            self.state_fwd = self.FIN_ACKED
        return self.state_fwd == self.FIN_ACKED and self.state_bwd == self.FIN_ACKED

    def close_style(self, cause: str) -> str:
        # basic_flow.rs:121-141 (TCP branch; non-TCP handled by caller)
        if cause == CAUSE_TCP_RESET:
            return CLOSE_RESET
        if self.saw_fin_fwd and self.saw_fin_bwd:
            if self.state_fwd == self.FIN_ACKED and self.state_bwd == self.FIN_ACKED:
                return CLOSE_SIMULTANEOUS if self.simultaneous else CLOSE_FOUR_WAY
            return CLOSE_BIDIRECTIONAL
        if self.saw_fin_fwd or self.saw_fin_bwd:
            return CLOSE_HALF
        return CLOSE_NONE


def _first_scan_at_or_after(scan_times: np.ndarray, t: int) -> int:
    """Smallest scan time >= t, or -1."""
    if scan_times.size == 0:
        return -1
    i = int(np.searchsorted(scan_times, t, side="left"))
    if i >= scan_times.size:
        return -1
    return int(scan_times[i])


def _timeout_close(cfg: EngineConfig, first_ts: int, last_ts: int, next_pkt_ts: int,
                   scan_times: np.ndarray, flush_ts: int):
    """Close observation time + cause for a session ending by timeout/flush.

    next_pkt_ts: ts of the next same-biflow packet (it must observe expiry),
    or -1 if the session is the key's last (flush candidate).
    Returns (cause, close_ts, closed_by_flush_sort_rank).
    """
    e_active = cfg.active_expiry_us(first_ts)
    e_idle = cfg.idle_expiry_us(last_ts)
    e = min(e_active, e_idle)
    s = _first_scan_at_or_after(scan_times, e)
    candidates = [c for c in (s, next_pkt_ts) if c >= 0]
    if not candidates:
        # never observed expired before end of input -> exporter shutdown
        return CAUSE_SHUTDOWN, flush_ts
    c = min(candidates)
    if next_pkt_ts < 0 and c > flush_ts:
        # scan time beyond end of input can't happen (scan times are event
        # timestamps), guard anyway
        return CAUSE_SHUTDOWN, flush_ts
    cause = CAUSE_ACTIVE if c >= e_active else CAUSE_IDLE
    return cause, c


def segment_biflow(
    ts: np.ndarray,
    dir_a: np.ndarray,
    protocol: int,
    tcp_ctl: dict | None,
    cfg: EngineConfig,
    scan_times: np.ndarray,
    flush_ts: int,
    resume: tuple[int, int, bool, _TcpState] | None = None,
) -> list[Session]:
    """Split one canonical-biflow packet sequence into exported sessions.

    ts: int64 timestamps (sorted); dir_a: bool, directed-key orientation;
    tcp_ctl: dict of int64 arrays (fin, syn, rst, ack, seq, ack_seq,
    data_len) when protocol is TCP else None.

    resume=(first_ts, last_ts, first_dir_a, tcp_state) continues an open
    flow whose earlier packets are not in ``ts``: the first session
    returned is that flow (it may hold zero rows), with its idle and active
    checks applied from row 0 and its TCP lifecycle advancing ``tcp_state``
    in place. Early-export snapshots of the continued flow cover only its
    rows here, so callers that resume run without early export.
    """
    n = ts.size
    sessions: list[Session] = []
    # a resumed TCP flow may finish or complete its handshake on a packet
    # without control flags, so it always takes the per-packet loop
    has_ctl = tcp_ctl is not None and (
        resume is not None
        or tcp_ctl["fin"].any() or tcp_ctl["rst"].any() or tcp_ctl["syn"].any()
    )
    active_us = (cfg.active_timeout + 1) * US_PER_S
    idle_us = (cfg.idle_timeout + 1) * US_PER_S
    early_us = cfg.early_export  # threshold in whole seconds (compared via //)

    if not has_ctl:
        # Fast path: pure timeout segmentation, no TCP control flags.
        gap_cut = np.zeros(n, dtype=bool)
        if n > 1:
            gap_cut[1:] = np.diff(ts) >= idle_us
        if resume is not None and n:
            gap_cut[0] = ts[0] - resume[1] >= idle_us
        gap_idx = np.flatnonzero(gap_cut)
        s = 0
        cont = resume is not None  # the session at s continues the open flow
        while s < n or cont:
            first, last = resume[:2] if cont else (int(ts[s]), -1)
            # next idle cut: after s for a fresh session, at s for a
            # continued one (its previous packet is not in ts)
            gi = gap_idx[np.searchsorted(gap_idx, s, side="left" if cont else "right"):]
            next_idle = int(gi[0]) if gi.size else n
            # next active cut: first index with ts >= first + active_us
            na = int(np.searchsorted(ts, first + active_us, side="left"))
            next_active = na if na > s or cont else n
            cut = min(next_idle, next_active, n)
            cont = False
            if cut > s:
                last = int(ts[cut - 1])
            nxt = int(ts[cut]) if cut < n else -1
            cause, close_ts = _timeout_close(
                cfg, first, last, nxt, scan_times, flush_ts
            )
            sessions.append(Session(s, cut, cause, close_ts, closed=True))
            s = cut
        _attach_nontcp_style(sessions, protocol)
        _maybe_add_early_exports(sessions, ts, cfg)
        return sessions

    # TCP path with control flags: per-packet state machine drives cuts.
    # Arrays are converted to Python lists once per group: list indexing of
    # native ints is several times faster than NumPy scalar extraction in
    # this inherently sequential loop, and the handshake/FIN trackers are
    # only invoked for packets that can change their state.
    fin = tcp_ctl["fin"].tolist()
    rst = tcp_ctl["rst"].tolist()
    syn = tcp_ctl["syn"].tolist()
    ack = tcp_ctl["ack"].tolist()
    seq = tcp_ctl["seq"].tolist()
    ack_seq = tcp_ctl["ack_seq"].tolist()
    data_len = tcp_ctl["data_len"].tolist()
    ts_l = ts.tolist()
    dir_l = dir_a.tolist()

    # Fast-forward jump tables (worth building when control packets are
    # sparse): when the handshake is settled (complete, or no pending
    # SYN-ACK, so it cannot progress without another control packet) and no
    # FIN is in flight, a packet can only matter if it carries a control
    # flag, arrives after an idle-expiry gap, or crosses the active limit.
    # Those stop points are tracked with ROLLING pointers into ascending
    # index arrays (amortized O(1) per jump; i is monotone across the
    # group), plus one searchsorted per session for the active limit.
    # Skipped stretches still emit their early-export snapshots (state is
    # constant across a stretch). Control-dense traffic (> 1 control packet
    # per 32 rows) skips the machinery entirely — short sessions pay the
    # per-session active-limit lookup and the jump stops every few packets,
    # so it only adds overhead there (measured -13% on RST-every-23 groups
    # at a gate of 8).
    ctlf = tcp_ctl["fin"] | tcp_ctl["rst"] | tcp_ctl["syn"]
    n_ctl = int(np.count_nonzero(ctlf))
    jump = n >= 64 and n_ctl * 32 < n
    if jump:
        ctl_idx = ctlf.nonzero()[0].tolist()
        idle_idx = (np.flatnonzero(ts[1:] - ts[:-1] >= idle_us) + 1).tolist()
        nc_ptr = 0
        ni_ptr = 0
        n_ctl_idx = len(ctl_idx)
        n_idle_idx = len(idle_idx)

    snapshots: list[Session] = []
    s = 0
    cont = resume is not None  # the session at s continues the open flow
    while s < n or cont:
        if cont:
            first, prev_t, fwd_dir, st = resume
        else:
            first = prev_t = ts_l[s]
            fwd_dir = dir_l[s]
            st = _TcpState()
        i = s
        terminated = False
        term_cause = ""
        act_lim = first + active_us
        # first index whose ts crosses the active limit (fixed per session)
        ja = int(np.searchsorted(ts, act_lim)) if jump else n
        while i < n:
            if (
                jump
                and i > s
                and not st.state_fwd
                and not st.state_bwd
                # handshake state can only change on a control packet
                # unless a SYN-ACK is pending (then any fwd ACK completes)
                and (st.handshake or not st.saw_syn_ack_bwd)
            ):
                while nc_ptr < n_ctl_idx and ctl_idx[nc_ptr] < i:
                    nc_ptr += 1
                j = ctl_idx[nc_ptr] if nc_ptr < n_ctl_idx else n
                while ni_ptr < n_idle_idx and idle_idx[ni_ptr] < i:
                    ni_ptr += 1
                if ni_ptr < n_idle_idx and idle_idx[ni_ptr] < j:
                    j = idle_idx[ni_ptr]
                # clamp to i so an already-active-expired packet i falls
                # through to the slow path's break
                if ja < j:
                    j = ja if ja > i else i
                if j > i:
                    if early_us is not None:
                        thr = first + (early_us + 1) * US_PER_S
                        k0 = max(int(np.searchsorted(ts, thr)), i)
                        for k in range(k0, j):
                            snap = Session(
                                s, k + 1, "None", ts_l[k],
                                closed=False, snapshot_of=k,
                            )
                            snap.handshake_completed = st.handshake
                            snapshots.append(snap)
                    prev_t = ts_l[j - 1]
                    i = j
                    continue
            t = ts_l[i]
            if i > s or cont:
                # expiry check before applying packet (flow_table.rs:132-153)
                # t >= min(act_lim, prev+idle) decomposed to avoid min()
                if t >= act_lim or t - prev_t >= idle_us:
                    break
            fwd = dir_l[i] == fwd_dir
            if syn[i] or ack[i]:
                st.observe_handshake(fwd, syn[i] > 0, ack[i] > 0, seq[i], ack_seq[i])
            if (fin[i] or st.state_fwd or st.state_bwd) and st.is_finished(
                fwd, fin[i] > 0, seq[i], ack_seq[i], data_len[i]
            ):
                terminated = True
                term_cause = CAUSE_TCP_TERM
                i += 1
                break
            if rst[i]:
                if st.handshake:
                    st.reset_after = True
                else:
                    st.reset_before = True
                terminated = True
                term_cause = CAUSE_TCP_RESET
                i += 1
                break
            if early_us is not None and (t - first) // US_PER_S > early_us:
                # post-update snapshot of the live flow (flow_table.rs:155-177)
                # — exported without close_flow; close style is still 'none'
                # and handshake/reset flags are the running values
                snap = Session(s, i + 1, "None", t, closed=False, snapshot_of=i)
                snap.handshake_completed = st.handshake
                snapshots.append(snap)
            prev_t = t
            i += 1
        cont = False
        if terminated:
            sess = Session(s, i, term_cause, ts_l[i - 1], closed=False)
        else:
            nxt = ts_l[i] if i < n else -1
            cause, close_ts = _timeout_close(
                cfg, first, prev_t, nxt, scan_times, flush_ts
            )
            sess = Session(s, i, cause, close_ts, closed=True)
        sess.handshake_completed = st.handshake
        sess.reset_before_handshake = st.reset_before
        sess.reset_after_handshake = st.reset_after
        sess.close_style = st.close_style(sess.cause)
        sessions.append(sess)
        s = i
    sessions.extend(snapshots)
    return sessions


def _attach_nontcp_style(sessions: list[Session], protocol: int) -> None:
    style = CLOSE_NOT_APPLICABLE if protocol != PROTO_TCP else CLOSE_NONE
    for sess in sessions:
        sess.close_style = style


def _maybe_add_early_exports(sessions: list[Session], ts: np.ndarray, cfg: EngineConfig) -> None:
    """Early export for timeout-segmented sessions (flow_table.rs:155-177):
    every packet past the threshold exports a post-update snapshot of the
    running flow (the flow stays live). Only used on the fast path, where
    sessions never terminate mid-stream, so every packet of a session is a
    snapshot candidate."""
    if cfg.early_export is None:
        return
    snapshots: list[Session] = []
    for sess in sessions:
        if sess.snapshot_of >= 0:
            continue
        first = int(ts[sess.start])
        for i in range(sess.start, sess.end):
            t = int(ts[i])
            if (t - first) // US_PER_S > cfg.early_export:
                snapshots.append(
                    Session(sess.start, i + 1, "None", t, closed=False, snapshot_of=i)
                )
    sessions.extend(snapshots)


def stats6(x: np.ndarray) -> tuple[float, float, float, float, float, int]:
    """(total, mean, std_pop, max, min, count) with the reference's empty
    semantics (features/util.rs:49-79): min/max/mean/std -> 0.0 on empty."""
    n = x.size
    if n == 0:
        return 0.0, 0.0, 0.0, 0.0, 0.0, 0
    total = float(x.sum())
    mean = total / n
    std = float(np.sqrt(np.mean((x - mean) ** 2)))
    return total, mean, std, float(x.max()), float(x.min()), n
