"""Skew handling (salted two-phase Welford) + the end-to-end
north-rule pipeline, including plan-quality assertions (pushdown/pruning)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from rustiflow_spark.config import EngineConfig
from rustiflow_spark.operators.skew import salted_welford_agg
from rustiflow_spark.pipeline import token_feature_pipeline
from rustiflow_spark.sources.synth import generate_token_sequences


def test_salted_welford_matches_plain(spark):
    pdf = pd.DataFrame(
        {
            "k": np.random.RandomState(1).randint(0, 20, 5000),
            "v": np.random.RandomState(2).randn(5000) * 50 + 10,
        }
    )
    sdf = spark.createDataFrame(pdf)
    salted = salted_welford_agg(sdf, ["k"], "v", salt_buckets=8).toPandas().set_index("k")
    plain = (
        sdf.groupBy("k")
        .agg(
            F.count("v").alias("count"),
            F.sum("v").alias("total"),
            F.avg("v").alias("mean"),
            F.var_pop("v").alias("var_pop"),
            F.stddev_pop("v").alias("std_pop"),
            F.min("v").alias("min"),
            F.max("v").alias("max"),
        )
        .toPandas()
        .set_index("k")
    )
    for col in plain.columns:
        assert np.allclose(
            salted[col].sort_index(), plain[col].sort_index(), rtol=1e-9
        ), col


def test_pipeline_end_to_end(spark, tmp_path):
    pdf = generate_token_sequences(n_docs=40, seed=8)
    sdf = spark.createDataFrame(pdf)
    cfg = EngineConfig(active_timeout=10_000_000, idle_timeout=1800, scan_mode="none")
    ref = (
        sdf.groupBy("source", "doc_id")
        .agg(F.min("ts_us").alias("ts_us"), F.first("n_tok").alias("first_n_tok"))
    )
    out = token_feature_pipeline(sdf, cfg, reference=ref)
    res = out.toPandas()
    assert len(res) > 0
    assert "n_tok_total_lag1" in res.columns
    assert "first_n_tok_ref" in res.columns
    # leakage-free: reference match ts never exceeds session start
    matched = res[res["ts_us_ref"].notna()]
    assert (matched["ts_us_ref"] <= matched["first_ts_us"]).all()
    # lag features: first session per key has null lag
    firsts = res[res["session_index"] == 0]
    assert firsts["n_tok_total_lag1"].isna().all()

    # checkpointed run + resume
    from rustiflow_spark.pipeline import run_checkpointed

    out_path = str(tmp_path / "pipe")
    s1 = run_checkpointed(sdf, out_path, cfg, n_buckets=3, input_fingerprint="a")
    s2 = run_checkpointed(sdf, out_path, cfg, n_buckets=3, input_fingerprint="a")
    assert s1["completed"] == 3 and s2["skipped"] == 3


def test_plan_quality_pushdown_and_pruning(spark, sf_dir):
    """Scale guarantees visible in the physical plan: predicate pushdown to
    the parquet scan, column pruning, and a single exchange for the
    sessionize pipeline."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = ev.filter(F.col("user_id") == 7).select("user_id", "ts", "value")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]" in plan, plan
    assert "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,value:double>" in plan, plan

    import __spark_entry__ as em

    feats = em.q_session_features(spark, sf_dir)
    fplan = feats._jdf.queryExecution().executedPlan().toString()
    assert fplan.count("Exchange") == 1, fplan
    # only needed columns are read for the sessionize pipeline
    assert "event_type" in fplan  # used to derive terminator
    assert "props" not in fplan  # unused column pruned from the scan

def test_packet_plan_single_exchange(spark, sf_dir):
    """The packet path is one shuffle end-to-end: scan -> canonical-key
    projection -> Exchange on the biflow key -> Sort -> the Arrow
    kernel stage."""
    import __spark_entry__ as em

    flows = em.q_flow_cic_udp(spark, sf_dir)
    plan = flows._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "MapInArrow" in plan, plan
    # props is never referenced by the synthesis; the scan must prune it
    assert "props" not in plan, plan
