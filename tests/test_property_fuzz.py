"""Property-based fuzzing: for ANY packet stream, the block kernel must
match the pure-Python transliteration oracle. Hypothesis explores edge
combinations the seeded generators miss (equal timestamps, flag soup,
zero-length groups, tiny timeouts)."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from rustiflow_spark.config import EngineConfig
from oracle_flow import OracleFlowTable
from test_kernel_parity import compare_flow_sets, df_to_packets, run_vectorized

ENDPOINTS = [("10.0.0.1", 1000), ("10.0.0.2", 2000), ("10.0.0.3", 80)]


@st.composite
def packet_stream(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    rows = []
    ts = 1_000_000
    for i in range(n):
        ts += draw(st.integers(min_value=0, max_value=8_000_000))
        a = draw(st.integers(min_value=0, max_value=2))
        b = draw(st.integers(min_value=0, max_value=2).filter(lambda x: True))
        if b == a:
            b = (a + 1) % 3
        proto = draw(st.sampled_from([6, 6, 6, 17, 1]))
        flags = draw(st.integers(min_value=0, max_value=255)) if proto == 6 else 0
        data_len = draw(st.integers(min_value=0, max_value=1460))
        rows.append(
            {
                "src_ip": ENDPOINTS[a][0],
                "src_port": ENDPOINTS[a][1],
                "dst_ip": ENDPOINTS[b][0],
                "dst_port": ENDPOINTS[b][1],
                "protocol": proto,
                "ts_us": ts,
                "fin_flag": int(bool(flags & 1)),
                "syn_flag": int(bool(flags & 2)),
                "rst_flag": int(bool(flags & 4)),
                "psh_flag": int(bool(flags & 8)),
                "ack_flag": int(bool(flags & 16)),
                "urg_flag": int(bool(flags & 32)),
                "ece_flag": int(bool(flags & 64)),
                "cwr_flag": int(bool(flags & 128)),
                "flags": flags,
                "data_length": data_len if proto != 1 else 56,
                "header_length": 20 if proto == 6 else 8,
                "length": draw(st.sampled_from([0, 40, 100, 1500])),
                "window_size": draw(st.sampled_from([0, 1024, 65535])),
                "sequence_number": draw(
                    st.integers(min_value=0, max_value=2**32 - 1)
                ),
                "sequence_number_ack": draw(
                    st.integers(min_value=0, max_value=2**32 - 1)
                ),
                "icmp_type": draw(st.sampled_from([0, 3, 8, 11])) if proto == 1 else None,
                "icmp_code": 0 if proto == 1 else None,
                "event_seq": i,
            }
        )
    return pd.DataFrame(rows)


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    pdf=packet_stream(),
    active=st.sampled_from([2, 30, 3600]),
    idle=st.sampled_from([1, 5, 120]),
    interval=st.sampled_from([1, 7, 60]),
)
def test_fuzz_kernels_match_oracle(pdf, active, idle, interval):
    cfg = EngineConfig(
        active_timeout=active, idle_timeout=idle, expiration_check_interval=interval
    )
    oracle = OracleFlowTable(active, idle, None, interval)
    expected = oracle.run(df_to_packets(pdf))
    vec = run_vectorized(pdf, cfg)
    compare_flow_sets(expected, vec)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    pdf=packet_stream(),
    active=st.sampled_from([5, 3600]),
    idle=st.sampled_from([2, 120]),
    early=st.sampled_from([0, 1, 3]),
)
def test_fuzz_early_export_prefix_path(pdf, active, idle, early):
    """For ANY packet stream the O(n) prefix-cumulative snapshot path must
    match the oracle (with early export)."""
    cfg = EngineConfig(
        active_timeout=active, idle_timeout=idle, early_export=early,
        expiration_check_interval=60,
    )
    oracle = OracleFlowTable(active, idle, early, 60)
    expected = oracle.run(df_to_packets(pdf))
    prefix = run_vectorized(pdf, cfg)
    compare_flow_sets(expected, prefix)


@given(
    qs=st.lists(st.integers(min_value=0, max_value=2**52), min_size=1, max_size=64),
    sub_bits=st.integers(min_value=2, max_value=10),
)
@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_fuzz_hdr_bucket_properties(spark, qs, sub_bits):
    """HDR bucket formula invariants over arbitrary non-negative ints:
    bucket is monotone in q, lower_bound(bucket(q)) <= q, and the bounded
    relative error lower_bound >= q * (1 - 2^-sub_bits) holds."""
    from rustiflow_spark.operators.sketches import _hdr_bucket_expr, _hdr_lower_bound

    import pandas as _pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(_pd.DataFrame({"__q": sorted(set(qs))}))
    out = (
        df.withColumn("bucket", _hdr_bucket_expr("__q", sub_bits))
        .withColumn("lo", _hdr_lower_bound("bucket", sub_bits))
        .toPandas()
        .sort_values("__q")
    )
    assert out.bucket.is_monotonic_increasing
    assert (out.lo <= out.__q).all()
    # relative error bound: the bucket's lower bound is within 2^-m of q
    m = sub_bits
    assert (out.lo >= out.__q - (out.__q // (1 << m)) - 1).all()
