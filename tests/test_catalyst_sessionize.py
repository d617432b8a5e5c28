"""The pure-Catalyst sessionizer must equal the kernel path exactly
(idle-only + terminator configurations), and its plan must contain no
Python stage at all."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from rustiflow_spark.config import EngineConfig
from rustiflow_spark.operators.event_features import (
    sessionize_events,
    sessionize_events_catalyst,
)
from rustiflow_spark.sources.synth import generate_token_sequences

KEY = ["source", "doc_id"]


def _compare(kernel: pd.DataFrame, catalyst: pd.DataFrame) -> None:
    sort = KEY + ["session_index"]
    a = kernel.sort_values(sort).reset_index(drop=True)
    b = catalyst[a.columns].sort_values(sort).reset_index(drop=True)
    assert len(a) == len(b), (len(a), len(b))
    for col in a.columns:
        if a[col].dtype.kind == "f":
            assert np.allclose(
                a[col].to_numpy(), b[col].to_numpy(), rtol=1e-9, atol=1e-6
            ), col
        else:
            assert (a[col] == b[col]).all(), col


@pytest.mark.parametrize("seed", [14, 3])
def test_catalyst_matches_kernel(spark, seed):
    pdf = generate_token_sequences(n_docs=60, seed=seed)
    sdf = spark.createDataFrame(pdf.drop(columns=["tokens"]))
    cfg = EngineConfig(active_timeout=10_000_000, idle_timeout=60, scan_mode="none")
    kernel = sessionize_events(sdf, KEY, cfg).toPandas()
    catalyst = sessionize_events_catalyst(sdf, KEY, cfg).toPandas()
    assert (kernel["cause"] == "TCP Normal Termination").any()
    _compare(kernel, catalyst)


def test_catalyst_plan_has_no_python(spark):
    pdf = generate_token_sequences(n_docs=10, seed=1)
    sdf = spark.createDataFrame(pdf.drop(columns=["tokens"]))
    cfg = EngineConfig(active_timeout=10_000_000, idle_timeout=60, scan_mode="none")
    plan = sessionize_events_catalyst(sdf, KEY, cfg)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "Python" not in plan, plan[:2000]


def test_auto_strategy_dispatch(spark):
    pdf = generate_token_sequences(n_docs=20, seed=5)
    sdf = spark.createDataFrame(pdf.drop(columns=["tokens"]))
    cfg = EngineConfig(active_timeout=10_000_000, idle_timeout=60, scan_mode="none")

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # eligible config -> auto takes the zero-Python plan, with the kernel's
    # exact (pruned) schema, and values equal to the kernel path
    feats = ["value", "iat", "subflow", "direction"]
    auto = sessionize_events(sdf, KEY, cfg, features=feats, strategy="auto")
    assert "Python" not in plan_of(auto)
    kernel = sessionize_events(sdf, KEY, cfg, features=feats)
    assert [f.name for f in auto.schema.fields] == [
        f.name for f in kernel.schema.fields
    ]
    assert [(f.name, f.dataType) for f in auto.schema.fields] == [
        (f.name, f.dataType) for f in kernel.schema.fields
    ]
    _compare(kernel.toPandas(), auto.toPandas())

    # finite active timeout: auto STILL rides the zero-Python plan
    # (bounded-pass active-cut refinement) and matches the kernel
    finite = EngineConfig(active_timeout=120, idle_timeout=60, scan_mode="none")
    auto_f = sessionize_events(sdf, KEY, finite, strategy="auto")
    assert "Python" not in plan_of(auto_f)
    kernel_f = sessionize_events(sdf, KEY, finite)
    _compare(kernel_f.toPandas(), auto_f.toPandas())

    # planted hot key (2000 events, idle gaps + terminators) beside twelve
    # light keys: auto is plain dispatch — one zero-Python plan, no union
    # of a split branch — equal to the kernel (session_index included)
    # whatever the input partitioning
    rng = np.random.default_rng(42)
    rows = []
    seq = 0
    for doc, n in [("hot", 2000)] + [(f"d{i}", 40) for i in range(12)]:
        ts = 1_000_000
        for _ in range(n):
            ts += int(rng.choice([500_000, 2_000_000, 61_000_001],
                                 p=[0.6, 0.3, 0.1]))
            rows.append({
                "source": "s", "doc_id": doc, "ts_us": ts,
                "n_tok": int(rng.integers(0, 200)),
                "direction": int(rng.integers(0, 2)),
                "terminator": int(rng.random() < 0.02),
                "event_seq": seq,
            })
            seq += 1
    hot = pd.DataFrame(rows)
    kernel_h = sessionize_events(spark.createDataFrame(hot), KEY, cfg).toPandas()
    for parts in (1, 7):
        auto_h = sessionize_events(
            spark.createDataFrame(hot).repartition(parts), KEY, cfg,
            strategy="auto",
        )
        plan = plan_of(auto_h)
        assert "Python" not in plan and "Union" not in plan, plan[:2000]
        _compare(kernel_h, auto_h.toPandas())

    # forcing catalyst under an unsupported config raises
    with pytest.raises(ValueError, match="catalyst"):
        sessionize_events(
            sdf, KEY, EngineConfig(idle_timeout=60, scan_mode="exact"),
            strategy="catalyst",
        )


def test_catalyst_guards(spark):
    pdf = generate_token_sequences(n_docs=10, seed=2)
    sdf = spark.createDataFrame(pdf.drop(columns=["tokens"]))
    with pytest.raises(ValueError, match="scan_mode"):
        sessionize_events_catalyst(
            sdf, KEY, EngineConfig(idle_timeout=60, scan_mode="exact")
        )
    # an episode needing more cuts than active_passes must raise, not
    # silently diverge from the kernel's recursion
    deep = pd.DataFrame({
        "source": "s", "doc_id": "d",
        # events every 1.5s with active_timeout=1 (cut every ~2s): ~14
        # renewals in one idle-episode, far beyond active_passes=4
        "ts_us": 1_000_000 + np.arange(30, dtype=np.int64) * 1_500_000,
        "n_tok": 1, "direction": 0, "terminator": 0,
        "event_seq": np.arange(30, dtype=np.int64),
    })
    cfg = EngineConfig(active_timeout=1, idle_timeout=3600, scan_mode="none")
    with pytest.raises(Exception, match="active"):
        sessionize_events_catalyst(
            spark.createDataFrame(deep), KEY, cfg, active_passes=4
        ).collect()


def test_catalyst_finite_active_matches_kernel(spark):
    """Active-timeout renewals: the bounded-pass refinement must reproduce
    the kernel's recursive cuts, causes ('Active Timeout' included) and
    idle-merge gating exactly."""
    rng = np.random.default_rng(77)
    rows = []
    seq = 0
    for d in range(12):
        ts = 1_000_000
        # long bursts (gap < idle cut) so active cuts trigger, mixed with
        # idle gaps and terminators
        for _ in range(rng.integers(5, 120)):
            ts += int(rng.choice([200_000, 900_000, 2_000_000, 31_000_001],
                                 p=[0.55, 0.3, 0.1, 0.05]))
            rows.append({
                "source": "s", "doc_id": f"d{d}", "ts_us": ts,
                "n_tok": int(rng.integers(0, 300)),
                "direction": int(rng.integers(0, 2)),
                "terminator": int(rng.random() < 0.03),
                "event_seq": seq,
            })
            seq += 1
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    cfg = EngineConfig(active_timeout=10, idle_timeout=30, scan_mode="none")
    kernel = sessionize_events(sdf, KEY, cfg).toPandas()
    catalyst = sessionize_events_catalyst(sdf, KEY, cfg).toPandas()
    assert (kernel["cause"] == "Active Timeout").any()  # scenario is real
    _compare(kernel, catalyst)


@st.composite
def event_stream(draw):
    """Adversarial keyed event streams: equal timestamps, mid-stream
    terminators, single-direction keys, 1-event keys, tiny/huge gaps."""
    rows = []
    seq = 0
    for key in range(draw(st.integers(min_value=1, max_value=3))):
        n = draw(st.integers(min_value=1, max_value=25))
        ts = 1_000_000
        one_dir = draw(st.booleans())
        for _ in range(n):
            ts += draw(st.sampled_from([0, 1, 500_000, 5_000_001, 61_000_001]))
            rows.append({
                "source": "s",
                "doc_id": f"k{key}",
                "ts_us": ts,
                "n_tok": draw(st.integers(min_value=0, max_value=500)),
                "direction": 0 if one_dir else draw(st.integers(0, 1)),
                "terminator": draw(st.sampled_from([0, 0, 0, 1])),
                "event_seq": seq,
            })
            seq += 1
    return pd.DataFrame(rows)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large,
                           HealthCheck.function_scoped_fixture],
)
@given(
    pdf=event_stream(),
    idle=st.sampled_from([5, 60]),
    active=st.sampled_from([10_000_000, 11, 37]),
)
def test_fuzz_catalyst_matches_kernel(spark, pdf, idle, active):
    sdf = spark.createDataFrame(pdf)
    cfg = EngineConfig(
        active_timeout=active, idle_timeout=idle, scan_mode="none"
    )
    kernel = sessionize_events(sdf, KEY, cfg).toPandas()
    catalyst = sessionize_events_catalyst(sdf, KEY, cfg).toPandas()
    _compare(kernel, catalyst)


def test_assign_sessions_catalyst_matches_kernel(spark):
    from rustiflow_spark.operators.event_features import (
        assign_sessions,
        assign_sessions_catalyst,
    )

    pdf = generate_token_sequences(n_docs=40, seed=21)
    sdf = spark.createDataFrame(pdf)
    cfg = EngineConfig(active_timeout=10_000_000, idle_timeout=60, scan_mode="none")
    kernel = assign_sessions(sdf, KEY, cfg).toPandas()
    catalyst = assign_sessions_catalyst(sdf, KEY, cfg).toPandas()
    sort = ["event_seq"]
    a = kernel.sort_values(sort).reset_index(drop=True)
    b = catalyst[a.columns].sort_values(sort).reset_index(drop=True)
    assert list(a.columns) == list(b.columns)
    assert (a["session_index"] == b["session_index"]).all()
    assert (a["session_cause"] == b["session_cause"]).all()
    # payload arrays pass through byte-identical on BOTH paths
    for x, y in zip(a["tokens"], b["tokens"]):
        assert list(x) == list(y)

    # zero-Python plan, and auto dispatch picks it
    plan = (
        assign_sessions(sdf, KEY, cfg, strategy="auto")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" not in plan and "Python" not in plan
    # finite active timeout: auto stays zero-Python and matches the kernel
    finite = EngineConfig(active_timeout=60, idle_timeout=30, scan_mode="none")
    auto_f = assign_sessions(sdf, KEY, finite, strategy="auto")
    plan_f = auto_f._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan_f and "Python" not in plan_f
    ka = assign_sessions(sdf, KEY, finite).toPandas().sort_values(sort)
    ca = auto_f.toPandas()[ka.columns].sort_values(sort)
    assert (ka["session_index"].to_numpy() == ca["session_index"].to_numpy()).all()
    assert (ka["session_cause"].to_numpy() == ca["session_cause"].to_numpy()).all()


@pytest.mark.parametrize(
    "feats",
    [["value", "iat", "subflow"], ["value"], ["rates"], ["iat", "rates"]],
)
def test_pruned_features_schema_parity(spark, feats):
    """Pruned feature sets without the direction/rates split must produce
    identical schemas and values on both paths, with no phantom
    fwd_/bwd_ value/iat columns (regression: the schema named columns no
    path emitted — NaN columns on the kernel path, unresolved-column
    errors on the Catalyst cast)."""
    pdf = generate_token_sequences(n_docs=40, seed=9)
    sdf = spark.createDataFrame(pdf.drop(columns=["tokens"]))
    cfg = EngineConfig(active_timeout=10_000_000, idle_timeout=60, scan_mode="none")
    k = sessionize_events(sdf, KEY, cfg, features=feats, strategy="kernel").toPandas()
    c = sessionize_events(sdf, KEY, cfg, features=feats, strategy="catalyst").toPandas()
    assert list(k.columns) == list(c.columns)
    assert not k.isna().any().any(), k.columns[k.isna().any()].tolist()
    need_dir = "direction" in feats or "rates" in feats
    if not need_dir:
        assert not any(col.startswith(("fwd_n_tok", "bwd_n_tok", "fwd_iat", "bwd_iat")) for col in k.columns)
    _compare(k, c)
