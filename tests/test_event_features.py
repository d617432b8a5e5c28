"""Event/token sessionization: kernel vs an independent slow oracle, plus
the Spark operator end-to-end with the token-equality invariant."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from rustiflow_spark.config import (
    CAUSE_ACTIVE,
    CAUSE_IDLE,
    CAUSE_SHUTDOWN,
    CAUSE_TCP_TERM,
    EngineConfig,
)
from rustiflow_spark.kernel.event_kernel import featurize_key_events, segment_events
from rustiflow_spark.sources.synth import generate_token_sequences
from rustiflow_spark.timeline import scan_times_from_sorted


def slow_event_table(events_by_key: dict, cfg: EngineConfig):
    """Independent event-time simulation of the reference FlowTable over
    keyed events (terminator = TCP-termination analog). Processes the global
    ts-ordered stream with the periodic scan, like flow_table.rs:56-245."""
    all_events = []
    for key, evs in events_by_key.items():
        for ts, term in evs:
            all_events.append((ts, key, term))
    all_events.sort()
    live: dict = {}  # key -> [first, last, [events]]
    exported = []
    next_check = None
    interval = cfg.check_interval_us

    def is_expired(state, t):
        if (t - state[0]) // 1_000_000 > cfg.active_timeout:
            return True, CAUSE_ACTIVE
        if (t - state[1]) // 1_000_000 > cfg.idle_timeout:
            return True, CAUSE_IDLE
        return False, None

    for t, key, term in all_events:
        if next_check is None or t >= next_check:
            for k in list(live):
                exp, cause = is_expired(live[k], t)
                if exp:
                    st = live.pop(k)
                    exported.append((k, st[2], cause, t, True))
            next_check = t + interval
        st = live.get(key)
        if st is not None:
            exp, cause = is_expired(st, t)
            if exp:
                live.pop(key)
                exported.append((key, st[2], cause, t, True))
                st = None
        if st is None:
            st = [t, t, []]
            live[key] = st
        st[1] = t
        st[2].append(t)
        if term:
            live.pop(key)
            exported.append((key, st[2], CAUSE_TCP_TERM, t, False))
    last_ts = all_events[-1][0] if all_events else 0
    for k, st in sorted(live.items(), key=lambda kv: kv[1][0]):
        exported.append((k, st[2], CAUSE_SHUTDOWN, last_ts, True))
    return exported


@pytest.mark.parametrize("seed", [1, 42])
@pytest.mark.parametrize(
    "cfg",
    [
        EngineConfig(),
        EngineConfig(active_timeout=40, idle_timeout=9, expiration_check_interval=6),
    ],
)
def test_segmentation_matches_slow_oracle(seed, cfg):
    pdf = generate_token_sequences(n_docs=80, seed=seed)
    events_by_key = {}
    for r in pdf.itertuples(index=False):
        events_by_key.setdefault((r.source, r.doc_id), []).append((r.ts_us, r.terminator))
    expected = slow_event_table(events_by_key, cfg)

    ts_sorted = np.sort(pdf["ts_us"].to_numpy(np.int64))
    scans = scan_times_from_sorted(ts_sorted, cfg.check_interval_us)
    flush_ts = int(ts_sorted[-1])

    got = []
    for key, grp in pdf.groupby(["source", "doc_id"]):
        grp = grp.sort_values(["ts_us", "event_seq"], kind="mergesort")
        ts = grp["ts_us"].to_numpy(np.int64)
        term = grp["terminator"].to_numpy(np.int64)
        for s, e, cause, close_ts, closed in segment_events(ts, term, cfg, scans, flush_ts):
            got.append((key, list(ts[s:e]), cause, close_ts, closed))

    def norm(rows):
        return sorted((tuple(k), tuple(evs), c, ct, cl) for k, evs, c, ct, cl in rows)

    assert norm(expected) == norm(got)


def test_feature_values_basic():
    cfg = EngineConfig(active_timeout=1000, idle_timeout=100)
    ts = np.array([0, 1_000_000, 3_000_000, 10_000_000], dtype=np.int64) + 1_700_000_000_000_000
    value = np.array([10, 20, 30, 40], dtype=np.float64)
    direction = np.array([0, 1, 0, 1], dtype=np.int64)
    term = np.zeros(4, dtype=np.int64)
    rows = featurize_key_events(
        ts, value, direction, term, cfg, np.empty(0, np.int64), int(ts[-1])
    )
    assert len(rows) == 1
    r = rows[0]
    assert r["event_count"] == 4
    assert r["fwd_event_count"] == 2 and r["bwd_event_count"] == 2
    assert r["n_tok_total"] == 100.0
    assert r["n_tok_mean"] == 25.0
    assert np.isclose(r["n_tok_std"], np.std([10, 20, 30, 40]))
    assert r["duration_us"] == 10_000_000
    assert np.isclose(r["iat_mean"], (1000 + 2000 + 7000) / 3)
    assert np.isclose(r["tok_per_s"], 100 / 10.0)
    assert r["subflow_count"] == 1 + 2  # gaps 2s and 7s exceed 1s
    assert r["down_up_ratio"] == 1.0
    # active/idle: gap 7s > 5s splits spans [0,3s] and [10s,10s]
    assert np.isclose(r["active_total"], 3000.0)
    assert np.isclose(r["idle_total"], 7000.0)


def test_spark_event_features_and_token_passthrough(spark):
    from rustiflow_spark.operators.event_features import assign_sessions, sessionize_events

    pdf = generate_token_sequences(n_docs=60, seed=4)
    sdf = spark.createDataFrame(pdf)
    cfg = EngineConfig()

    feats = sessionize_events(sdf, ["source", "doc_id"], cfg).toPandas()
    assert (feats["event_count"] >= 1).all()
    assert set(feats["cause"]).issubset(
        {CAUSE_ACTIVE, CAUSE_IDLE, CAUSE_TCP_TERM, CAUSE_SHUTDOWN}
    )
    # session count consistency vs direct kernel run
    total_events = feats["event_count"].sum()
    assert total_events == len(pdf)

    annotated = assign_sessions(sdf, ["source", "doc_id"], cfg).toPandas()
    assert len(annotated) == len(pdf)
    # exact token-array passthrough (input_hint invariant)
    left = pdf.sort_values("event_seq").reset_index(drop=True)
    right = annotated.sort_values("event_seq").reset_index(drop=True)
    for i in range(len(left)):
        assert list(left["tokens"][i]) == list(right["tokens"][i])
    assert (right.groupby(["source", "doc_id"])["session_index"].min() == 0).all()


def test_order_col_shared_with_a_kernel_column(spark):
    """The sequence column leaves the kernel's feed after the sort, except
    when it is also a column the kernel reads (here the key or the ts)."""
    from rustiflow_spark.operators.event_features import sessionize_events

    key = ["source", "doc_id"]
    sdf = spark.createDataFrame(generate_token_sequences(n_docs=20, seed=5)).drop("tokens")

    def run(order_col):
        out = sessionize_events(sdf, key, EngineConfig(), order_col=order_col).toPandas()
        return out.sort_values(key + ["session_index"]).reset_index(drop=True)

    base = run("event_seq")
    for order_col in ("ts_us", "doc_id"):
        pd.testing.assert_frame_equal(run(order_col), base)


def test_concat_batches_keeps_every_row():
    """key_blocks joins the batches of a key run into one; every row of
    every input batch must survive, payload arrays and NULLs included."""
    import pyarrow as pa

    from rustiflow_spark.kernel.key_runs import _concat_batches

    schema = pa.schema([("k", pa.int64()), ("tokens", pa.list_(pa.string()))])
    batches = [
        pa.RecordBatch.from_pydict(
            {"k": [i, i + 1], "tokens": [[f"t{i}"], None]}, schema=schema
        )
        for i in range(0, 6, 2)
    ]
    out = _concat_batches(batches)
    assert isinstance(out, pa.RecordBatch)
    assert out.to_pydict() == pa.Table.from_batches(batches).to_pydict()
    assert out.num_rows == 6


def _batch_size_case(spark, op):
    """Input frames for ``op`` (one with a hot key spanning many batches,
    one with three keys over more partitions than keys, so some partitions
    are empty and some hold a single key) and a function that runs ``op``
    and returns its rows in a fixed order."""
    cfg = EngineConfig(scan_mode="none")
    key = ["source", "doc_id"]
    if op == "sessionize_packets":
        from rustiflow_spark.operators.sessionize import sessionize_packets
        from rustiflow_spark.sources.synth import generate_packet_events
        from test_sessionize_spark import make_events_df

        frames = [
            make_events_df(spark, generate_packet_events(n_flows=n, seed=11, long_flow_packets=300))
            for n in (40, 3)
        ]

        def run(sdf):
            out = sessionize_packets(sdf, cfg, num_partitions=16).toPandas()
            return out.sort_values(list(out.columns)).reset_index(drop=True)

        return frames, run
    from rustiflow_spark.operators import event_features

    pdf = generate_token_sequences(n_docs=30, seed=8)
    few = pdf[key].drop_duplicates().head(3)
    frames = [spark.createDataFrame(pdf), spark.createDataFrame(pdf.merge(few, on=key))]
    if op == "assign_sessions":
        def run(sdf):
            out = event_features.assign_sessions(sdf, key, cfg).toPandas()
            return out.sort_values("event_seq").reset_index(drop=True)
    else:
        def run(sdf):
            out = event_features.sessionize_events(
                sdf.drop("tokens"), key, cfg, num_partitions=16
            ).toPandas()
            return out.sort_values(key + ["session_index"]).reset_index(drop=True)
    return frames, run


@pytest.mark.parametrize(
    "op", ["assign_sessions", "sessionize_events", "sessionize_packets"]
)
def test_assign_sessions_small_arrow_batches(spark, op):
    """Output does not depend on the Arrow batch size: 1, 7 and 65536 rows
    per batch give the one-batch-per-partition output, with a hot key
    spanning many batches, empty partitions and single-key partitions."""
    frames, run = _batch_size_case(spark, op)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    try:
        for sdf in frames:
            spark.conf.set(conf, str(1 << 30))
            base = run(sdf)
            assert len(base)
            for size in (1, 7, 65536):
                spark.conf.set(conf, str(size))
                got = run(sdf)
                if "tokens" in base:
                    assert [list(t) for t in base["tokens"]] == [
                        list(t) for t in got["tokens"]
                    ]
                pd.testing.assert_frame_equal(
                    base.drop(columns="tokens", errors="ignore"),
                    got.drop(columns="tokens", errors="ignore"),
                )
    finally:
        spark.conf.set(conf, old)


@pytest.mark.parametrize("op", ["sessionize_events", "assign_sessions"])
def test_null_key_rows_group_together(spark, op):
    """Rows with a NULL key are one key, as in Spark's grouping: the kernel
    gives the Catalyst plan's output, also for a partition whose last row
    has a NULL key."""
    from pyspark.sql import types as T

    from rustiflow_spark.operators import event_features

    schema = T.StructType(
        [T.StructField("uid", T.LongType())]
        + [
            T.StructField(c, T.LongType(), False)
            for c in ("ts_us", "n_tok", "direction", "terminator", "event_seq")
        ]
    )
    rows = [
        (None, 0, 5, 0, 0, 0),
        (None, 1_000, 6, 1, 0, 1),
        (None, 2_000, 7, 0, 0, 2),
        (1, 0, 8, 0, 0, 3),
        (1, 900_000_000, 9, 1, 0, 4),
        (2, 10, 3, 0, 1, 5),
    ]
    cfg = EngineConfig(scan_mode="none")
    fn = getattr(event_features, op)
    for data in (rows, rows[:3]):
        sdf = spark.createDataFrame(data, schema)
        if op == "sessionize_events":
            sort = ["uid", "session_index"]
            kw = {"value_col": "n_tok", "num_partitions": 1}
        else:
            sort = ["event_seq"]
            kw = {}
        kernel, catalyst = (
            fn(sdf, ["uid"], cfg, strategy=s, **kw).toPandas()
            .sort_values(sort).reset_index(drop=True)
            for s in ("kernel", "catalyst")
        )
        pd.testing.assert_frame_equal(kernel, catalyst[kernel.columns])
        assert kernel["uid"].isna().sum() == (1 if op == "sessionize_events" else 3)


@pytest.mark.parametrize(
    "op", ["sessionize_events", "assign_sessions", "sessionize_packets"]
)
def test_null_timestamp_fails_loudly(spark, op):
    """A NULL ts must raise, not become an arbitrary integer timestamp."""
    from pyspark.sql import functions as F

    from rustiflow_spark.operators import event_features, sessionize

    cfg = EngineConfig(scan_mode="none")
    if op == "sessionize_packets":
        from rustiflow_spark.sources.synth import generate_packet_events
        from test_sessionize_spark import make_events_df

        sdf = make_events_df(spark, generate_packet_events(n_flows=5, seed=2))

        def run(d):
            return sessionize.sessionize_packets(d, cfg)
    else:
        sdf = spark.createDataFrame(generate_token_sequences(n_docs=5, seed=2))

        def run(d):
            return getattr(event_features, op)(d, ["source", "doc_id"], cfg)
    first = sdf.agg(F.min("event_seq")).first()[0]
    sdf = sdf.withColumn(
        "ts_us", F.expr(f"CASE WHEN event_seq = {first} THEN NULL ELSE ts_us END")
    )
    with pytest.raises(Exception, match="'ts_us' has 1 NULL"):
        run(sdf).collect()
