"""Kernel vs pure-Python oracle parity on deterministic synthetic traffic.

The oracle (tests/oracle_flow.py) transliterates the reference row-by-row;
the kernel (rustiflow_spark/kernel/packet_segmented.featurize_packet_block)
is the vectorized block featurizer Spark runs per sorted Arrow block. Both
consume the same single-shard packet stream; outputs must match per
(flow_key, first_ts) with np.allclose on floats and exact equality on
ints/strings.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from oracle_flow import OracleFlowTable, Packet
from rustiflow_spark.config import EngineConfig
from rustiflow_spark.kernel.packet_segmented import featurize_packet_block
from rustiflow_spark.schema import FLOW_SUPERSET_COLUMNS
from rustiflow_spark.sources.synth import generate_packet_events
from rustiflow_spark.timeline import scan_times_from_sorted

INT_COLS = [
    "ts_us",
    "fin_flag",
    "syn_flag",
    "rst_flag",
    "psh_flag",
    "ack_flag",
    "urg_flag",
    "cwr_flag",
    "ece_flag",
    "flags",
    "data_length",
    "header_length",
    "length",
    "window_size",
    "sequence_number",
    "sequence_number_ack",
    "protocol",
    "event_seq",
]


def df_to_packets(df: pd.DataFrame) -> list[Packet]:
    pkts = []
    for r in df.itertuples(index=False):
        pkts.append(
            Packet(
                src_ip=r.src_ip,
                dst_ip=r.dst_ip,
                src_port=r.src_port,
                dst_port=r.dst_port,
                protocol=r.protocol,
                ts_us=r.ts_us,
                fin_flag=r.fin_flag,
                syn_flag=r.syn_flag,
                rst_flag=r.rst_flag,
                psh_flag=r.psh_flag,
                ack_flag=r.ack_flag,
                urg_flag=r.urg_flag,
                cwr_flag=r.cwr_flag,
                ece_flag=r.ece_flag,
                data_length=r.data_length,
                header_length=r.header_length,
                length=r.length,
                window_size=r.window_size,
                sequence_number=r.sequence_number,
                sequence_number_ack=r.sequence_number_ack,
                icmp_type=None if r.icmp_type is None or (isinstance(r.icmp_type, float) and math.isnan(r.icmp_type)) else int(r.icmp_type),
                icmp_code=None if r.icmp_code is None or (isinstance(r.icmp_code, float) and math.isnan(r.icmp_code)) else int(r.icmp_code),
            )
        )
    return pkts


def run_vectorized(df: pd.DataFrame, cfg: EngineConfig) -> list[dict]:
    """featurize_packet_block over the whole input as one block sorted by
    (canonical key, ts_us, event_seq), as sessionize_packets feeds it."""
    ts_sorted = np.sort(df["ts_us"].to_numpy(np.int64))
    scans = (
        scan_times_from_sorted(ts_sorted, cfg.check_interval_us)
        if cfg.scan_mode == "exact"
        else np.empty(0, np.int64)
    )
    flush_ts = int(ts_sorted[-1])
    # canonical key (same rule as operators/sessionize.with_canonical_key)
    a_first = (df["src_ip"] < df["dst_ip"]) | (
        (df["src_ip"] == df["dst_ip"]) & (df["src_port"] <= df["dst_port"])
    )
    df = df.assign(
        dir_a=a_first,
        key_ip_a=np.where(a_first, df["src_ip"], df["dst_ip"]),
        key_port_a=np.where(a_first, df["src_port"], df["dst_port"]),
        key_ip_b=np.where(a_first, df["dst_ip"], df["src_ip"]),
        key_port_b=np.where(a_first, df["dst_port"], df["src_port"]),
    ).sort_values(
        ["key_ip_a", "key_port_a", "key_ip_b", "key_port_b", "protocol", "ts_us", "event_seq"],
        kind="mergesort",
    ).reset_index(drop=True)
    g = {c: df[c].to_numpy(dtype=np.int64) for c in INT_COLS}
    for c in ("icmp_type", "icmp_code"):
        g[c] = df[c].astype("float64").fillna(-1).to_numpy().astype(np.int64)
    g["dir_a"] = df["dir_a"].to_numpy(dtype=bool)
    g["key_id"] = pd.factorize(
        pd.MultiIndex.from_frame(
            df[["key_ip_a", "key_port_a", "key_ip_b", "key_port_b", "protocol"]]
        )
    )[0].astype(np.int64)
    keys = {k: df[k].to_numpy() for k in ("key_ip_a", "key_port_a", "key_ip_b", "key_port_b")}
    res = featurize_packet_block(g, keys, cfg, scans, flush_ts)
    cols = [c for c in FLOW_SUPERSET_COLUMNS if c in res]
    return pd.DataFrame({c: res[c] for c in cols}).to_dict("records")


def compare_flow_sets(oracle_rows: list[dict], kernel_rows: list[dict], rtol=1e-9, atol=1e-6):
    # cause disambiguates an early-export snapshot from the closed session
    # ending at the same packet
    okey = {
        (r["flow_key"], r["first_ts_us"], r["last_ts_us"], r["cause"]): r
        for r in oracle_rows
    }
    kkey = {
        (r["flow_key"], r["first_ts_us"], r["last_ts_us"], r["cause"]): r
        for r in kernel_rows
    }
    assert set(okey) == set(kkey), (
        f"flow set mismatch: only-oracle={sorted(set(okey) - set(kkey))[:5]} "
        f"only-kernel={sorted(set(kkey) - set(okey))[:5]} "
        f"(o={len(okey)}, k={len(kkey)})"
    )
    mismatches = []
    for key, orow in okey.items():
        krow = kkey[key]
        for col, oval in orow.items():
            kval = krow.get(col)
            if isinstance(oval, float) or isinstance(kval, float):
                if not np.allclose(float(oval), float(kval), rtol=rtol, atol=atol):
                    mismatches.append((key, col, oval, kval))
            else:
                if oval != kval:
                    mismatches.append((key, col, oval, kval))
    assert not mismatches, f"{len(mismatches)} mismatches, first 10: {mismatches[:10]}"


@pytest.mark.parametrize("seed", [42, 7, 123])
def test_kernel_matches_oracle(seed):
    df = generate_packet_events(n_flows=80, seed=seed, long_flow_packets=300)
    cfg = EngineConfig()
    oracle = OracleFlowTable(
        cfg.active_timeout, cfg.idle_timeout, cfg.early_export, cfg.expiration_check_interval
    )
    oracle_rows = oracle.run(df_to_packets(df))
    kernel_rows = run_vectorized(df, cfg)
    compare_flow_sets(oracle_rows, kernel_rows)


@pytest.mark.parametrize("seed", [3, 17])
def test_kernel_matches_oracle_early_export(seed):
    """T7 early export: per-packet post-update snapshots past the threshold
    (flow_table.rs:155-177), exported without close semantics."""
    df = generate_packet_events(n_flows=40, seed=seed, long_flow_packets=200)
    cfg = EngineConfig(early_export=5)
    oracle = OracleFlowTable(3600, 120, 5, 60)
    oracle_rows = oracle.run(df_to_packets(df))
    kernel_rows = run_vectorized(df, cfg)
    assert any(r["cause"] == "None" for r in oracle_rows), "no snapshots generated"
    compare_flow_sets(oracle_rows, kernel_rows)


def test_kernel_matches_oracle_short_timeouts():
    """Short timeouts exercise active/idle splitting + scan-close paths."""
    df = generate_packet_events(n_flows=60, seed=9, long_flow_packets=400)
    cfg = EngineConfig(active_timeout=30, idle_timeout=8, expiration_check_interval=5)
    oracle = OracleFlowTable(30, 8, None, 5)
    oracle_rows = oracle.run(df_to_packets(df))
    kernel_rows = run_vectorized(df, cfg)
    compare_flow_sets(oracle_rows, kernel_rows)
