"""Session-table integration scenarios ported case-for-case from the
reference (rustiflow/src/tests/flows/flow_table_test.rs), asserted on the
block kernel via the same helpers as the feature-module tests."""

from __future__ import annotations

import numpy as np
import pytest

from rustiflow_spark.config import EngineConfig
from test_feature_modules import mk_packets, run_both
from test_kernel_parity import run_vectorized


def test_idle_timeout_cause_and_flow_key():
    # flow_table_test.rs:103-123: idle timeout observed by a later scan —
    # here the scan fires from a second biflow's packet at 3s
    pdf = mk_packets([
        {"ts_us": 1_000_000, "fwd": True},
    ])
    other = mk_packets([{"ts_us": 3_000_000, "fwd": True}])
    other["src_ip"], other["dst_ip"] = "10.9.9.9", "10.8.8.8"
    pdf = mk_packets([{"ts_us": 1_000_000, "fwd": True}])
    import pandas as pd

    both = pd.concat([pdf, other], ignore_index=True)
    both["event_seq"] = range(len(both))
    # the reference test forces export_expired_flows(3s) directly; with
    # packet-driven scanning, interval=1 makes the 3s packet fire the scan
    cfg = EngineConfig(active_timeout=3600, idle_timeout=1, expiration_check_interval=1)
    rows = run_vectorized(both, cfg)
    target = [r for r in rows if r["flow_key"].startswith("10.0.0.1:1000")]
    assert len(target) == 1
    assert target[0]["cause"] == "Idle Timeout"
    assert target[0]["flow_key"] == "10.0.0.1:1000-10.0.0.2:2000-6"


def test_reset_cause_preserved_and_reset_before_handshake():
    # flow_table_test.rs:125-139
    pdf = mk_packets([
        {"ts_us": 1_000_000, "fwd": True, "syn_flag": 1, "flags": 2},
        {"ts_us": 1_100_000, "fwd": True, "rst_flag": 1, "flags": 4},
    ])
    r = run_both(pdf)[0]
    assert r["cause"] == "TCP Reset"
    assert r["handshake_completed"] == 0
    assert r["reset_before_handshake"] == 1


def test_first_packet_terminated_flow_not_reexported():
    # flow_table_test.rs:141-156: a lone RST exports once, flush adds nothing
    pdf = mk_packets([{"ts_us": 1_000_000, "fwd": True, "rst_flag": 1, "flags": 4}])
    rows = run_both(pdf, n_sessions=1)
    assert rows[0]["cause"] == "TCP Reset"


def test_reverse_direction_packets_merge_into_one_biflow():
    # flow_table_test.rs:158-189
    pdf = mk_packets([
        {"ts_us": 1_000_000, "fwd": True, "length": 120},
        {"ts_us": 1_000_500, "fwd": False, "length": 80},
    ])
    r = run_both(pdf)[0]
    assert r["flow_key"] == "10.0.0.1:1000-10.0.0.2:2000-6"
    assert r["fwd_packet_len_count"] == 1
    assert r["bwd_packet_len_count"] == 1
    assert r["fwd_packet_len_total"] == 120.0
    assert r["bwd_packet_len_total"] == 80.0


def test_expired_flow_replaced_by_new_flow_same_key():
    # flow_table_test.rs:191-219
    pdf = mk_packets([
        {"ts_us": 1_000_000, "fwd": True},
        {"ts_us": 3_000_000, "fwd": True},
    ])
    cfg = EngineConfig(active_timeout=3600, idle_timeout=1, scan_mode="none")
    rows = run_both(pdf, cfg, n_sessions=2)
    first, second = rows
    assert first["cause"] == "Idle Timeout"
    assert first["first_ts_us"] == first["last_ts_us"] == 1_000_000
    assert second["cause"] == "Exporter Shutdown"
    assert second["first_ts_us"] == second["last_ts_us"] == 3_000_000


def test_early_export_keeps_flow_active_for_final_export():
    # flow_table_test.rs:221-244: snapshot at the 2nd packet (past 1s
    # threshold), final flow still flushed with full span
    pdf = mk_packets([
        {"ts_us": 1_000_000, "fwd": True},
        {"ts_us": 3_000_001, "fwd": True},
    ])
    cfg = EngineConfig(active_timeout=3600, idle_timeout=120, early_export=1,
                       scan_mode="none")
    rows = sorted(
        run_vectorized(pdf, cfg), key=lambda r: (r["cause"] != "None", r["last_ts_us"])
    )
    assert len(rows) == 2
    snapshot = [r for r in rows if r["cause"] == "None"][0]
    final = [r for r in rows if r["cause"] == "Exporter Shutdown"][0]
    assert snapshot["first_ts_us"] == 1_000_000
    assert snapshot["last_ts_us"] == 3_000_001
    assert final["first_ts_us"] == 1_000_000
    assert final["last_ts_us"] == 3_000_001
