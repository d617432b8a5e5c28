"""Deterministic synthetic test-data generators (FIXTURES.md §1 and §2).

These produce pandas DataFrames (seeded, reproducible) used by tests and
micro-benchmarks. They are never used in production pipelines — the engine's
inputs are parquet/Iceberg tables.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

US = 1_000_000
EPOCH_US = 1_700_000_000 * US  # arbitrary fixed base

IPV4_POOL = [
    "10.0.0.5",
    "10.1.2.3",
    "192.168.1.10",
    "192.168.126.228",
    "100.64.3.7",
    "127.0.0.1",
    "169.254.10.20",
    "8.8.8.8",
    "203.0.113.9",
    "198.51.100.77",
]
IPV6_POOL = [
    "2001:db8::1",
    "2001:db8::2",
    "fe80::1",
    "fe80::2",
    "fd00::10",
    "::1",
    "2607:f8b0::99",
]


def _mk_flags_bitmask(df_cols: dict) -> np.ndarray:
    bits = {
        "fin_flag": 1,
        "syn_flag": 2,
        "rst_flag": 4,
        "psh_flag": 8,
        "ack_flag": 16,
        "urg_flag": 32,
        "ece_flag": 64,
        "cwr_flag": 128,
    }
    n = len(df_cols["fin_flag"])
    mask = np.zeros(n, dtype=np.int64)
    for col, bit in bits.items():
        mask |= (np.asarray(df_cols[col]) > 0) * bit
    return mask


def generate_packet_events(
    n_flows: int = 120,
    seed: int = 42,
    heavy_hitter_fraction: float = 0.3,
    long_flow_packets: int = 600,
) -> pd.DataFrame:
    """Generate a deterministic packet-event table exercising every
    session-cut and feature-module path (FIXTURES.md §1)."""
    rng = np.random.RandomState(seed)
    rows: list[dict] = []

    def endpoints(v6: bool):
        pool = IPV6_POOL if v6 else IPV4_POOL
        a, b = rng.choice(len(pool), 2, replace=False)
        return pool[a], pool[b]

    def base_pkt(src, dst, sport, dport, proto, ts, **kw):
        r = {
            "src_ip": src,
            "dst_ip": dst,
            "src_port": int(sport),
            "dst_port": int(dport),
            "protocol": int(proto),
            "ts_us": int(ts),
            "fin_flag": 0,
            "syn_flag": 0,
            "rst_flag": 0,
            "psh_flag": 0,
            "ack_flag": 0,
            "urg_flag": 0,
            "cwr_flag": 0,
            "ece_flag": 0,
            "data_length": 0,
            "header_length": 8,
            "length": 0,
            "window_size": 0,
            "sequence_number": 0,
            "sequence_number_ack": 0,
            "icmp_type": None,
            "icmp_code": None,
        }
        r.update(kw)
        return r

    t_cursor = EPOCH_US

    for flow_idx in range(n_flows):
        v6 = rng.rand() < 0.2
        src, dst = endpoints(v6)
        scenario = rng.choice(
            [
                "tcp_complete",
                "tcp_rst_before",
                "tcp_rst_after",
                "tcp_half_close",
                "tcp_simultaneous",
                "tcp_no_close",
                "udp_gaps",
                "icmp_echo",
                "udp_idle_split",
            ],
            p=[0.18, 0.08, 0.08, 0.07, 0.05, 0.12, 0.2, 0.1, 0.12],
        )
        sport = int(rng.randint(1024, 65000))
        dport = int(rng.choice([80, 443, 53, 22, 8080, 50000, 123]))
        t0 = t_cursor + int(rng.randint(0, 5 * US))
        t_cursor = t0
        t = t0

        def step(lo_ms=0.1, hi_ms=800.0):
            nonlocal t
            t += int(rng.uniform(lo_ms, hi_ms) * 1000)
            return t

        if scenario.startswith("tcp"):
            proto = 6
            hdr = lambda: int(rng.choice([20, 32, 40]))
            win = lambda: int(rng.choice([0, 1024, 8192, 65535], p=[0.05, 0.3, 0.4, 0.25]))
            seq_f = int(rng.randint(0, 2**31))
            seq_b = int(rng.randint(0, 2**31))

            def tcp_pkt(fwd, ts, data=0, **flags):
                nonlocal seq_f, seq_b
                s, d, sp, dp = (src, dst, sport, dport) if fwd else (dst, src, dport, sport)
                seq = seq_f if fwd else seq_b
                r = base_pkt(
                    s,
                    d,
                    sp,
                    dp,
                    proto,
                    ts,
                    data_length=data,
                    header_length=hdr(),
                    length=data + 40,
                    window_size=win(),
                    sequence_number=seq,
                    sequence_number_ack=(seq_b if fwd else seq_f) % (2**32),
                    **_subset_flags(flags),
                )
                if fwd:
                    seq_f = (seq_f + data) % (2**32)
                else:
                    seq_b = (seq_b + data) % (2**32)
                return r

            def _subset_flags(flags):
                return {k + "_flag": v for k, v in flags.items()}

            # handshake
            do_handshake = scenario != "tcp_rst_before" or rng.rand() < 0.3
            if do_handshake:
                rows.append(tcp_pkt(True, t, syn=1))
                syn_seq = seq_f
                step(0.1, 30)
                p = tcp_pkt(False, t, syn=1, ack=1)
                p["sequence_number_ack"] = (syn_seq + 1) % (2**32)
                synack_seq = p["sequence_number"]
                rows.append(p)
                step(0.1, 30)
                p = tcp_pkt(True, t, ack=1)
                p["sequence_number_ack"] = (synack_seq + 1) % (2**32)
                rows.append(p)

            # data exchange
            n_data = int(rng.randint(2, 14))
            for _ in range(n_data):
                fwd = bool(rng.rand() < 0.5)
                data = int(rng.choice([0, 100, 512, 1200, 1460]))
                step(0.1, 900)
                flags = {"ack": 1}
                if data and rng.rand() < 0.4:
                    flags["psh"] = 1
                p = tcp_pkt(fwd, t, data=data, **flags)
                if data == 0 and rng.rand() < 0.5:
                    # duplicate-ACK run: repeat same (ack, window)
                    for _ in range(int(rng.randint(1, 3))):
                        step(0.05, 5)
                        dup = dict(p)
                        dup["ts_us"] = int(t)
                        rows.append(dup)
                rows.append(p)
                if data and rng.rand() < 0.15:
                    # retransmission: resend overlapping range
                    step(0.1, 50)
                    re = dict(p)
                    re["ts_us"] = int(t)
                    rows.append(re)

            if scenario == "tcp_complete":
                # 4-way FIN close
                step()
                p1 = tcp_pkt(True, t, fin=1, ack=1)
                fin_f_seq, fin_f_data = p1["sequence_number"], p1["data_length"]
                rows.append(p1)
                step(0.1, 40)
                p2 = tcp_pkt(False, t, ack=1)
                p2["sequence_number_ack"] = (fin_f_seq + fin_f_data + 1) % (2**32)
                rows.append(p2)
                step(0.1, 40)
                p3 = tcp_pkt(False, t, fin=1, ack=1)
                fin_b_seq, fin_b_data = p3["sequence_number"], p3["data_length"]
                rows.append(p3)
                step(0.1, 40)
                p4 = tcp_pkt(True, t, ack=1)
                p4["sequence_number_ack"] = (fin_b_seq + fin_b_data + 1) % (2**32)
                rows.append(p4)
            elif scenario in ("tcp_rst_before", "tcp_rst_after"):
                step()
                rows.append(tcp_pkt(bool(rng.rand() < 0.7), t, rst=1))
            elif scenario == "tcp_half_close":
                step()
                rows.append(tcp_pkt(True, t, fin=1, ack=1))
                step(0.1, 40)
                rows.append(tcp_pkt(False, t, ack=1))
            elif scenario == "tcp_simultaneous":
                step()
                p1 = tcp_pkt(True, t, fin=1, ack=1)
                rows.append(p1)
                step(0.05, 5)
                p2 = tcp_pkt(False, t, fin=1, ack=1)
                rows.append(p2)
                step(0.05, 20)
                p3 = tcp_pkt(True, t, ack=1)
                p3["sequence_number_ack"] = (
                    p2["sequence_number"] + p2["data_length"] + 1
                ) % (2**32)
                rows.append(p3)
                step(0.05, 20)
                p4 = tcp_pkt(False, t, ack=1)
                p4["sequence_number_ack"] = (
                    p1["sequence_number"] + p1["data_length"] + 1
                ) % (2**32)
                rows.append(p4)
            # tcp_no_close: leave open -> idle timeout / shutdown path

        elif scenario == "udp_gaps":
            proto = 17
            n_pkts = int(rng.randint(3, 30))
            for i in range(n_pkts):
                fwd = bool(rng.rand() < 0.6)
                s, d, sp, dp = (src, dst, sport, dport) if fwd else (dst, src, dport, sport)
                data = int(rng.randint(20, 1400))
                rows.append(
                    base_pkt(
                        s, d, sp, dp, proto, t, data_length=data, header_length=8, length=data + 28
                    )
                )
                # gap mix: sub-second, >1s (subflow), >5s (active/idle stat)
                gap_kind = rng.choice(["tiny", "sub1", "sub5", "big"], p=[0.5, 0.25, 0.15, 0.1])
                if gap_kind == "tiny":
                    step(0.05, 200)
                elif gap_kind == "sub1":
                    step(1001, 4000)
                elif gap_kind == "sub5":
                    step(5001, 20000)
                else:
                    step(20001, 90000)
        elif scenario == "udp_idle_split":
            proto = 17
            # several bursts separated by > idle timeout (120 s) to force
            # expired-on-arrival replacement; one very long quiet gap
            for burst in range(int(rng.randint(2, 4))):
                for i in range(int(rng.randint(2, 8))):
                    fwd = bool(rng.rand() < 0.6)
                    s, d, sp, dp = (src, dst, sport, dport) if fwd else (dst, src, dport, sport)
                    data = int(rng.randint(20, 1200))
                    rows.append(
                        base_pkt(
                            s,
                            d,
                            sp,
                            dp,
                            proto,
                            t,
                            data_length=data,
                            header_length=8,
                            length=data + 28,
                        )
                    )
                    step(0.1, 400)
                t += int(rng.uniform(121, 400) * US)
        else:  # icmp_echo
            proto = 58 if v6 else 1
            req_t, rep_t = (128, 129) if v6 else (8, 0)
            n_pairs = int(rng.randint(1, 6))
            for _ in range(n_pairs):
                rows.append(
                    base_pkt(
                        src,
                        dst,
                        0,
                        0,
                        proto,
                        t,
                        icmp_type=req_t,
                        icmp_code=0,
                        header_length=8,
                        length=64,
                        data_length=56,
                    )
                )
                step(0.1, 50)
                rows.append(
                    base_pkt(
                        dst,
                        src,
                        0,
                        0,
                        proto,
                        t,
                        icmp_type=rep_t,
                        icmp_code=0,
                        header_length=8,
                        length=64,
                        data_length=56,
                    )
                )
                step(100, 2000)
            if rng.rand() < 0.4:
                err_t = 1 if v6 else 3
                rows.append(
                    base_pkt(
                        dst, src, 0, 0, proto, t, icmp_type=err_t, icmp_code=int(rng.randint(0, 4)),
                        header_length=8, length=96, data_length=88,
                    )
                )
                step(10, 100)

    # one heavy-hitter long flow with active-timeout splitting potential
    src, dst = IPV4_POOL[0], IPV4_POOL[7]
    t = EPOCH_US + 1000
    for i in range(long_flow_packets):
        fwd = i % 3 != 0
        s, d, sp, dp = (src, dst, 40000, 443) if fwd else (dst, src, 443, 40000)
        rows.append(
            base_pkt(s, d, sp, dp, 17, t, data_length=512, header_length=8, length=540)
        )
        # mostly steady, occasionally long gaps
        t += int(np.interp(i % 50, [0, 49], [200_000, 9_000_000]))

    df = pd.DataFrame(rows)
    df = df.sort_values("ts_us", kind="mergesort").reset_index(drop=True)
    df["event_seq"] = np.arange(len(df), dtype=np.int64)
    df["flags"] = _mk_flags_bitmask({c: df[c].values for c in df.columns if c.endswith("_flag")})
    for col in ("icmp_type", "icmp_code"):
        df[col] = df[col].astype("object").where(df[col].notna(), None)
    return df


def generate_token_sequences(
    n_docs: int = 200,
    seed: int = 42,
    n_sources: int = 8,
    heavy_key_fraction: float = 0.25,
    mean_events_per_doc: int = 12,
    vocab: int = 50257,
) -> pd.DataFrame:
    """North-rule token-sequence event table (FIXTURES.md §2).

    One row per training-sequence event: (doc_id, tokens, n_tok, source) plus
    deterministic event context (ts_us nondecreasing per key with the §1 gap
    mix, direction, terminator). One or two heavy-hitter keys hold
    ~heavy_key_fraction of all rows (skew path).
    """
    rng = np.random.RandomState(seed)
    rows = []
    sources = [f"src{i}" for i in range(n_sources)]
    heavy_docs = max(1, n_docs // 100)
    total_events_target = n_docs * mean_events_per_doc
    heavy_events = int(total_events_target * heavy_key_fraction)

    event_seq = 0
    for doc_idx in range(n_docs):
        doc_id = f"doc-{doc_idx:06d}"
        source = sources[doc_idx % n_sources]
        is_heavy = doc_idx < heavy_docs
        n_events = (
            heavy_events // heavy_docs
            if is_heavy
            else max(1, int(rng.poisson(mean_events_per_doc)))
        )
        t = EPOCH_US + int(rng.randint(0, 3600 * US))
        for i in range(n_events):
            n_tok = int(rng.randint(8, 512))
            tokens = rng.randint(0, vocab, size=n_tok).astype(np.int32)
            terminator = int(i == n_events - 1 and rng.rand() < 0.3)
            rows.append(
                {
                    "doc_id": doc_id,
                    "tokens": tokens.tolist(),
                    "n_tok": n_tok,
                    "source": source,
                    "ts_us": int(t),
                    "direction": int(rng.rand() < 0.4),
                    "terminator": terminator,
                    "event_seq": event_seq,
                }
            )
            event_seq += 1
            gap_kind = rng.choice(["tiny", "sub1", "sub5", "idle"], p=[0.55, 0.2, 0.15, 0.1])
            if gap_kind == "tiny":
                t += int(rng.uniform(100, 800_000))
            elif gap_kind == "sub1":
                t += int(rng.uniform(1.001e6, 4e6))
            elif gap_kind == "sub5":
                t += int(rng.uniform(5.001e6, 3e7))
            else:
                t += int(rng.uniform(121e6, 600e6))
    df = pd.DataFrame(rows)
    df = df.sort_values(["ts_us", "event_seq"], kind="mergesort").reset_index(drop=True)
    df["event_seq"] = np.arange(len(df), dtype=np.int64)
    return df
