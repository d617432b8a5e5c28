"""Golden end-to-end fixtures ported from the reference
(rustiflow/src/tests/flows/pcap_fixture_test.rs:40-157): the two real nmap
captures must produce the exact flow counts, per-flow packet counts, flags
strings, causes, and handshake results — single shard, active=3600,
idle=120, no early export. Additionally the full kernel output is checked
against the pure-Python oracle on the decoded packets."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from oracle_flow import OracleFlowTable
from pcap_decoder import decode_pcap
from rustiflow_spark.config import EngineConfig
from rustiflow_spark.operators.sessionize import sessionize_packets
from rustiflow_spark.flows.schemas import rustiflow_schema
from test_kernel_parity import compare_flow_sets, df_to_packets
from test_sessionize_spark import make_events_df

DATA = "/root/reference/rustiflow/tests/data"

needs_data = pytest.mark.skipif(
    not os.path.exists(DATA), reason=f"reference pcap fixtures not found at {DATA}"
)


def extract(spark, name: str) -> pd.DataFrame:
    pdf = decode_pcap(os.path.join(DATA, name))
    cfg = EngineConfig(active_timeout=3600, idle_timeout=120, expiration_check_interval=60)
    flows = sessionize_packets(make_events_df(spark, pdf), cfg)
    return flows.toPandas(), pdf


@needs_data
def test_tcp_syn_fixture(spark):
    flows, pdf = extract(spark, "nmap_tcp_syn_version.pcap")
    assert len(flows) == 17

    http = flows[flows["flow_key"] == "192.168.126.228:54122-192.168.126.224:80-6"]
    assert len(http) == 1
    r = http.iloc[0]
    assert r["fwd_packet_len_count"] + r["bwd_packet_len_count"] == 10
    assert r["fwd_packet_len_count"] == 5
    assert r["bwd_packet_len_count"] == 5
    assert r["cause"] == "TCP Normal Termination"
    assert r["handshake_completed"] == 1
    assert r["reset_before_handshake"] == 0
    assert r["reset_after_handshake"] == 0
    assert r["flags"] == ".AP.SF"

    icmp = flows[flows["flow_key"] == "192.168.126.228:0-192.168.126.224:0-1"]
    assert len(icmp) == 1
    r = icmp.iloc[0]
    assert r["fwd_packet_len_count"] + r["bwd_packet_len_count"] == 4
    assert r["icmp_type"] == 8
    assert r["icmp_code"] == 0
    assert r["handshake_completed"] == 0
    assert r["cause"] == "Exporter Shutdown"

    # full-vector parity vs the oracle on the same decoded packets
    oracle = OracleFlowTable(3600, 120, None, 60)
    compare_flow_sets(oracle.run(df_to_packets(pdf)), flows.to_dict("records"))

    # schema invariant: 203-column RustiFlow layout materializes
    rf = rustiflow_schema(sessionize_packets(make_events_df(spark, pdf), EngineConfig()))
    assert len(rf.columns) == 203


@needs_data
def test_udp_fixture(spark):
    flows, pdf = extract(spark, "nmap_udp_version.pcap")
    assert len(flows) == 56
    assert (flows["protocol"] == 17).sum() == 53
    assert (flows["protocol"] == 6).sum() == 2
    assert (flows["protocol"] == 1).sum() == 1

    rst = flows[flows["flow_key"] == "192.168.177.151:48385-192.168.126.204:80-6"]
    assert len(rst) == 1
    r = rst.iloc[0]
    assert r["fwd_packet_len_count"] + r["bwd_packet_len_count"] == 2
    assert r["cause"] == "TCP Reset"
    assert r["reset_before_handshake"] == 1
    assert r["flags"] == ".A.R.."

    icmp = flows[flows["protocol"] == 1]
    r = icmp.iloc[0]
    assert r["fwd_packet_len_count"] + r["bwd_packet_len_count"] == 22
    assert r["fwd_packet_len_count"] == 2
    assert r["bwd_packet_len_count"] == 20
    assert r["icmp_type"] == 8
    assert r["icmp_code"] == 0

    oracle = OracleFlowTable(3600, 120, None, 60)
    compare_flow_sets(oracle.run(df_to_packets(pdf)), flows.to_dict("records"))
