"""The vectorized packet block kernel must equal the transliteration
oracle on every synthetic scenario, and the Spark boundary around it
(sorting, Arrow batching, key-run carry) must not change its output."""

from __future__ import annotations

import pandas as pd
import pytest

from oracle_flow import OracleFlowTable
from rustiflow_spark.config import EngineConfig
from rustiflow_spark.sources.synth import generate_packet_events
from test_kernel_parity import compare_flow_sets, df_to_packets, run_vectorized


@pytest.mark.parametrize("seed", [42, 7, 99])
@pytest.mark.parametrize(
    "cfg",
    [
        EngineConfig(),
        EngineConfig(active_timeout=30, idle_timeout=8, expiration_check_interval=5),
        EngineConfig(active_timeout=60, idle_timeout=10, early_export=3,
                     expiration_check_interval=15),
    ],
)
def test_vectorized_matches_simple(seed, cfg):
    """Block kernel vs the oracle: default timeouts, short timeouts with
    scan-time closes, and early-export snapshots."""
    df = generate_packet_events(n_flows=80, seed=seed, long_flow_packets=300)
    oracle = OracleFlowTable(
        cfg.active_timeout, cfg.idle_timeout, cfg.early_export,
        cfg.expiration_check_interval,
    )
    expected = oracle.run(df_to_packets(df))
    compare_flow_sets(expected, run_vectorized(df, cfg))


def _assert_spark_equals_local(spark_pdf: pd.DataFrame, local_rows: list[dict], key):
    local = pd.DataFrame(local_rows)[list(spark_pdf.columns)]
    a = spark_pdf.sort_values(key).reset_index(drop=True)
    b = local.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_vectorized_spark_end_to_end(spark):
    from rustiflow_spark.operators.sessionize import sessionize_packets
    from test_sessionize_spark import make_events_df

    pdf = generate_packet_events(n_flows=50, seed=2, long_flow_packets=150)
    sdf = make_events_df(spark, pdf)
    cfg = EngineConfig()
    got = sessionize_packets(sdf, cfg).toPandas()
    _assert_spark_equals_local(
        got, run_vectorized(pdf, cfg), ["flow_key", "first_ts_us", "last_ts_us"]
    )


def test_vectorized_early_export_spark_end_to_end(spark):
    """The Spark path emits the same early-export snapshots as the block
    kernel run locally over the whole input."""
    from rustiflow_spark.operators.sessionize import sessionize_packets
    from test_sessionize_spark import make_events_df

    pdf = generate_packet_events(n_flows=30, seed=5, long_flow_packets=200)
    sdf = make_events_df(spark, pdf)
    cfg = EngineConfig(active_timeout=3600, idle_timeout=120, early_export=2)
    got = sessionize_packets(sdf, cfg).toPandas()
    assert (got["cause"] == "None").any(), "no early-export snapshots produced"
    _assert_spark_equals_local(
        got, run_vectorized(pdf, cfg),
        ["flow_key", "first_ts_us", "last_ts_us", "cause", "duration_us"],
    )
