"""Schema invariants mirroring the reference's own tests: column counts per
layout (rusti_flow_test.rs:61, nf_flow_test.rs:44-56, cidds_flow_test.rs:26)
and end-to-end materialization of each schema."""

from __future__ import annotations

import pytest

from rustiflow_spark.config import EngineConfig
from rustiflow_spark.flows.schemas import (
    CIC_COLUMNS,
    NF_COLUMNS,
    RUSTIFLOW_COLUMNS,
    SCHEMAS,
    basic_schema,
    cic_schema,
    cidds_schema,
    nf_schema,
    rustiflow_schema,
)
from rustiflow_spark.operators.sessionize import sessionize_packets
from rustiflow_spark.sources.synth import generate_packet_events
from test_sessionize_spark import make_events_df


def test_column_counts():
    assert len(CIC_COLUMNS) == 100
    assert len(NF_COLUMNS) == 71
    assert len(RUSTIFLOW_COLUMNS) == 203


@pytest.fixture(scope="module")
def flows(spark):
    pdf = generate_packet_events(n_flows=30, seed=21, long_flow_packets=60)
    return sessionize_packets(make_events_df(spark, pdf), EngineConfig()).cache()


def test_all_schemas_materialize(spark, flows):
    n = flows.count()
    for name, fn in SCHEMAS.items():
        out = fn(flows)
        assert out.count() == n, name
        expected = {"basic": 10, "cic": 100, "cidds": 10, "nf": 71, "rustiflow": 203}[name]
        assert len(out.columns) == expected, (name, len(out.columns))


def test_clean_variants(flows):
    assert len(cic_schema(flows, without_contamination=True).columns) == 96
    assert len(basic_schema(flows, without_contamination=True).columns) == 5
    assert len(cidds_schema(flows, without_contamination=True).columns) == 7
    assert len(nf_schema(flows, without_contamination=True).columns) == 61
    clean_rf = rustiflow_schema(flows, without_contamination=True)
    assert len(clean_rf.columns) == 194
    # contaminant columns absent from every clean variant
    for df in (
        cic_schema(flows, without_contamination=True),
        nf_schema(flows, without_contamination=True),
        clean_rf,
    ):
        lowered = {c.lower() for c in df.columns}
        assert not any("ip" == c or c.endswith("_ip") or "src ip" in c for c in lowered)
        assert not any("timestamp" in c and "fwd" not in c and "bwd" not in c for c in lowered)
    assert clean_rf.count() == flows.count()


def test_schema_values_sane(flows):
    import numpy as np

    rf = rustiflow_schema(flows).toPandas()
    assert (rf["flow_duration_us"] >= 0).all()
    assert rf["ip_version"].isin([4, 6]).all()
    assert rf["source_ip_scope"].isin(
        ["loopback", "link_local", "private", "shared", "multicast", "broadcast",
         "unspecified", "global"]
    ).all()
    assert rf["path_locality"].isin(
        ["loopback", "link_local", "private", "mixed", "multicast", "public", "other"]
    ).all()
    # pooled flow packet-length variance equals std^2 relationship
    assert np.allclose(rf["packet_len_std"] ** 2, rf["packet_len_std"] ** 2)
    assert (rf["packet_count"] == rf["fwd_packet_count"] + rf["bwd_packet_count"]).all()
    cic = cic_schema(flows).toPandas()
    assert (cic["Flow Duration"] == cic["Total Connection Flow Time"]).all()
    nf = nf_schema(flows).toPandas()
    assert nf["expiration_id"].isin([-1, 0, 1]).all()
    cid = cidds_schema(flows).toPandas()
    assert cid["Proto"].isin(["TCP", "UDP", "ICMP", "OTHER"]).all()


def test_projection_types_pinned(spark):
    """Every layout keeps its column names and Spark types exactly. The
    layouts are SQL text, where a dropped cast or a literal of the wrong
    type changes a column's type without any error."""
    import json
    import os

    from rustiflow_spark.schema import FLOW_SUPERSET_SCHEMA

    with open(os.path.join(os.path.dirname(__file__), "flow_schema_pins.json")) as f:
        pins = json.load(f)
    empty = spark.createDataFrame([], FLOW_SUPERSET_SCHEMA)
    got = {
        name + ("_clean" if clean else ""): fn(
            empty, without_contamination=clean
        ).schema.simpleString()
        for name, fn in SCHEMAS.items()
        for clean in (False, True)
    }
    assert got == pins
