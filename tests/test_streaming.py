"""Streaming sessionization: batch-equivalence of closed sessions."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest

from rustiflow_spark.config import EngineConfig
from rustiflow_spark.operators.event_features import sessionize_events
from rustiflow_spark.sources.synth import generate_token_sequences
from rustiflow_spark.streaming.sessionize_stream import sessionize_stream


@pytest.mark.parametrize("n_docs", [40])
def test_stream_matches_batch_closed_sessions(spark, tmp_path, n_docs):
    pdf = generate_token_sequences(n_docs=n_docs, seed=13)
    src_dir = str(tmp_path / "stream_src")
    out_dir = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    cols = ["doc_id", "n_tok", "source", "ts_us", "direction", "terminator", "event_seq"]
    sdf_all = spark.createDataFrame(pdf[cols + ["tokens"]].drop(columns=["tokens"], errors="ignore") if False else pdf[cols])
    sdf_all.write.mode("overwrite").parquet(src_dir)

    cfg = EngineConfig(active_timeout=10_000_000, idle_timeout=120, scan_mode="none")
    stream = spark.readStream.schema(sdf_all.schema).parquet(src_dir)
    features = sessionize_stream(stream, ["source", "doc_id"], cfg)
    q = (
        features.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir).toPandas()
    batch = sessionize_events(sdf_all, ["source", "doc_id"], cfg, value_col="n_tok").toPandas()

    # the stream emits only sessions provably closed within the data
    # (terminator- or successor-closed); those must match batch exactly
    closed_batch = batch[
        (batch["cause"] == "TCP Normal Termination")
        | (
            batch.groupby(["source", "doc_id"])["session_index"].transform("max")
            > batch["session_index"]
        )
    ]
    key = ["source", "doc_id", "session_index"]
    got_k = got.set_index(key).sort_index()
    for _, row in closed_batch.iterrows():
        k = (row["source"], row["doc_id"], row["session_index"])
        assert k in got_k.index, f"closed session missing from stream output: {k}"
        srow = got_k.loc[k]
        for col in ("event_count", "first_ts_us", "last_ts_us", "duration_us", "cause"):
            assert srow[col] == row[col], (k, col, srow[col], row[col])
        for col in ("n_tok_total", "iat_mean", "active_total", "subflow_count"):
            assert np.isclose(float(srow[col]), float(row[col])), (k, col)
    # and nothing extra beyond batch's session set
    batch_keys = set(map(tuple, batch[key].itertuples(index=False)))
    got_keys = set(map(tuple, got[key].itertuples(index=False)))
    assert got_keys <= batch_keys


def test_stream_session_index_continues_across_microbatches(spark, tmp_path):
    """When a micro-batch flushes every session of a key (terminator-closed
    trailing session), the per-key ordinal must survive into later
    micro-batches — no duplicate (key, session_index) rows (ADVICE r1)."""
    import time as _time

    src_dir = tmp_path / "mb_src"
    src_dir.mkdir()
    out_dir = str(tmp_path / "mb_out")
    ckpt = str(tmp_path / "mb_ckpt")

    def events(ts_list, term_last, seq0):
        return pd.DataFrame({
            "doc_id": ["d"] * len(ts_list),
            "n_tok": [float(10 + i) for i in range(len(ts_list))],
            "source": ["s"] * len(ts_list),
            "ts_us": np.asarray(ts_list, dtype=np.int64),
            "direction": np.zeros(len(ts_list), dtype=np.int64),
            "terminator": np.asarray(
                [0] * (len(ts_list) - 1) + [1 if term_last else 0], dtype=np.int64
            ),
            "event_seq": np.arange(seq0, seq0 + len(ts_list), dtype=np.int64),
        })

    base = 1_700_000_000_000_000
    sdf1 = spark.createDataFrame(events([base, base + 1_000_000, base + 2_000_000], True, 0))
    sdf1.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "f1.parquet"))
    _time.sleep(1.1)  # distinct mod times => deterministic file order
    sdf2 = spark.createDataFrame(
        events([base + 50_000_000, base + 51_000_000], True, 10)
    )
    sdf2.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "f2.parquet"))

    cfg = EngineConfig(active_timeout=10_000_000, idle_timeout=120, scan_mode="none")
    stream = (
        spark.readStream.schema(sdf1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "*"))
    )
    features = sessionize_stream(stream, ["source", "doc_id"], cfg)
    q = (
        features.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas()
    assert len(got) == 2, got
    assert sorted(got["session_index"].tolist()) == [0, 1], got
    assert set(got["cause"]) == {"TCP Normal Termination"}


def test_stream_event_time_timeout_flushes_trailing_session(spark, tmp_path):
    """The watermark passing a key's idle expiry must flush its trailing
    open session with the timeout cause (the state-timeout path, which the
    availableNow equivalence test never exercises because trailing sessions
    stay in state when the stream ends)."""
    import time as _time

    src_dir = tmp_path / "to_src"
    src_dir.mkdir()
    out_dir = str(tmp_path / "to_out")
    ckpt = str(tmp_path / "to_ckpt")

    def events(doc, ts_list, seq0):
        return pd.DataFrame({
            "doc_id": [doc] * len(ts_list),
            "n_tok": [float(5)] * len(ts_list),
            "source": ["s"] * len(ts_list),
            "ts_us": np.asarray(ts_list, dtype=np.int64),
            "direction": np.zeros(len(ts_list), dtype=np.int64),
            "terminator": np.zeros(len(ts_list), dtype=np.int64),
            "event_seq": np.arange(seq0, seq0 + len(ts_list), dtype=np.int64),
        })

    base = 1_700_000_000_000_000
    # key A: two events, then silence
    sdf1 = spark.createDataFrame(events("A", [base, base + 1_000_000], 0))
    sdf1.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "f1.parquet"))
    _time.sleep(1.1)
    # key B much later: watermark moves past A's idle expiry (idle=120s)
    sdf2 = spark.createDataFrame(events("B", [base + 600_000_000], 10))
    sdf2.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "f2.parquet"))

    cfg = EngineConfig(active_timeout=10_000_000, idle_timeout=120, scan_mode="none")
    stream = (
        spark.readStream.schema(sdf1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "*"))
    )
    features = sessionize_stream(stream, ["source", "doc_id"], cfg)
    q = (
        features.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas()
    a = got[got["doc_id"] == "A"]
    assert len(a) == 1, got
    assert a.iloc[0]["cause"] == "Idle Timeout", got
    assert a.iloc[0]["event_count"] == 2


def test_packet_stream_matches_batch_closed_flows(spark, tmp_path):
    """Streaming flow extraction must equal the batch path for every flow
    that is provably closed within the data (successor-observed expiry or
    TCP termination)."""
    from rustiflow_spark.operators.sessionize import sessionize_packets
    from rustiflow_spark.sources.synth import generate_packet_events
    from rustiflow_spark.streaming.sessionize_stream import sessionize_packets_stream
    from test_sessionize_spark import make_events_df

    pdf = generate_packet_events(n_flows=40, seed=11, long_flow_packets=150)
    sdf_all = make_events_df(spark, pdf)
    src = str(tmp_path / "pkt_src")
    out_dir = str(tmp_path / "pkt_out")
    ckpt = str(tmp_path / "pkt_ckpt")
    sdf_all.write.mode("overwrite").parquet(src)

    cfg = EngineConfig(active_timeout=3600, idle_timeout=120, scan_mode="none")
    stream = spark.readStream.schema(sdf_all.schema).parquet(src)
    flows = sessionize_packets_stream(stream, cfg)
    q = (
        flows.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir).toPandas()
    batch = sessionize_packets(sdf_all, cfg).toPandas()

    key = ["flow_key", "first_ts_us", "last_ts_us"]
    # closed = TCP-terminated, or not the last flow of its biflow key
    batch["__last"] = (
        batch.groupby("flow_key")["first_ts_us"].transform("max")
        == batch["first_ts_us"]
    )
    closed = batch[
        batch["cause"].isin(["TCP Normal Termination", "TCP Reset"])
        | ~batch["__last"]
    ].drop(columns="__last")
    assert len(closed) > 0
    got_k = got.sort_values(key).set_index(key)
    for _, row in closed.iterrows():
        k = (row["flow_key"], row["first_ts_us"], row["last_ts_us"])
        assert k in got_k.index, f"closed flow missing from stream: {k}"
        srow = got_k.loc[k]
        for col in ("cause", "close_style", "duration_us", "subflow_count",
                    "fwd_packet_len_count", "bwd_packet_len_count", "flags",
                    "handshake_completed"):
            assert srow[col] == row[col], (k, col, srow[col], row[col])
        for col in ("iat_mean", "payload_len_total", "active_total",
                    "fwd_bulk_bytes_total"):
            assert np.isclose(float(srow[col]), float(row[col])), (k, col)
    # stream emits nothing outside the batch flow set
    batch_keys = set(map(tuple, batch[key].itertuples(index=False)))
    got_keys = set(map(tuple, got[key].itertuples(index=False)))
    assert got_keys <= batch_keys


def test_packet_stream_early_export_no_reemission(spark, tmp_path):
    """Early-export snapshots must not drive the emit/keep logic: a snapshot
    is emitted exactly once, alongside its parent flow's close, and
    snapshots of the still-open trailing flow are not re-emitted per
    micro-batch (ADVICE r2). Three keys cover the three ways a flow closes
    on this path: a later packet (UDP), TCP termination by FIN (the
    segmentation's TCP-control path) and the event-time timeout flush of a
    trailing flow (relabelled Idle Timeout)."""
    import time as _time

    from rustiflow_spark.streaming.sessionize_stream import sessionize_packets_stream

    src_dir = tmp_path / "ee_src"
    src_dir.mkdir()
    out_dir = str(tmp_path / "ee_out")
    ckpt = str(tmp_path / "ee_ckpt")

    def packets(ts_list, seq0, **cols):
        n = len(ts_list)
        pdf = pd.DataFrame({
            "src_ip": "10.0.0.1", "dst_ip": "10.0.0.2",
            "src_port": 1234, "dst_port": 443, "protocol": 17,
            "ts_us": np.asarray(ts_list, dtype=np.int64),
            "fin_flag": 0, "syn_flag": 0, "rst_flag": 0,
            "psh_flag": 0, "ack_flag": 0, "urg_flag": 0,
            "cwr_flag": 0, "ece_flag": 0, "flags": 0,
            "data_length": 100, "header_length": 8,
            "length": 128, "window_size": 0,
            "sequence_number": 0, "sequence_number_ack": 0,
            "icmp_type": None, "icmp_code": None,
            "event_seq": np.arange(seq0, seq0 + n, dtype=np.int64),
        })
        for c, v in cols.items():
            pdf[c] = v
        return pdf

    base = 1_700_000_000_000_000
    # key 1 (UDP), batch 1: one flow spanning 8s -> snapshots past the 2s
    # threshold, flow still open at end of batch
    b1 = [base + i * 2_000_000 for i in range(5)]
    # batch 2: a gap > idle timeout closes the first flow (successor packet)
    b2 = [base + 200_000_000]
    # key 2 (TCP), batch 1: handshake, data, FIN both ways, last ACK
    fwd = [True, False, True, True, False, True, False, True]
    tcp = packets(
        [base + i * 1_000_000 for i in range(8)], 20,
        src_ip=["10.0.0.3" if f else "10.0.0.4" for f in fwd],
        dst_ip=["10.0.0.4" if f else "10.0.0.3" for f in fwd],
        src_port=[5555 if f else 80 for f in fwd],
        dst_port=[80 if f else 5555 for f in fwd],
        protocol=6,
        syn_flag=[1, 1, 0, 0, 0, 0, 0, 0],
        ack_flag=[0, 1, 1, 1, 1, 1, 1, 1],
        fin_flag=[0, 0, 0, 0, 0, 1, 1, 0],
        psh_flag=[0, 0, 0, 1, 0, 0, 0, 0],
        flags=[0x02, 0x12, 0x10, 0x18, 0x10, 0x11, 0x11, 0x10],
        data_length=[0, 0, 0, 100, 0, 0, 0, 0],
        header_length=20, window_size=1000,
        sequence_number=[100, 500, 101, 101, 501, 201, 501, 202],
        sequence_number_ack=[0, 101, 501, 501, 201, 501, 202, 502],
    )
    # key 3 (UDP), batch 1: a flow that no later packet closes; batch 2
    # moves the watermark past its idle expiry, so its timeout flushes it
    trailing = packets(
        [base + (10 + i) * 1_000_000 for i in range(5)], 40,
        src_ip="10.0.0.5", dst_ip="10.0.0.6", src_port=53, dst_port=5353,
    )
    batch1 = pd.concat([packets(b1, 0), tcp, trailing], ignore_index=True)
    batch2 = packets(b2, 10)
    from test_sessionize_spark import make_events_df
    make_events_df(spark, batch1).coalesce(1).write.mode(
        "overwrite").parquet(str(src_dir / "f1.parquet"))
    _time.sleep(1.1)
    make_events_df(spark, batch2).coalesce(1).write.mode(
        "overwrite").parquet(str(src_dir / "f2.parquet"))

    cfg = EngineConfig(active_timeout=3600, idle_timeout=60, scan_mode="none",
                       early_export=2)
    schema = make_events_df(spark, batch1).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "*"))
    )
    flows = sessionize_packets_stream(stream, cfg)
    q = (
        flows.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas()

    udp = got[got["flow_key"].str.startswith("10.0.0.1:")]
    snaps = udp[udp["cause"] == "None"]
    closed = udp[udp["cause"] != "None"]
    # first flow closed by the batch-2 successor; its snapshots (packets at
    # +4s/+6s/+8s past the 2s threshold) emitted exactly once each
    assert len(closed) == 1, udp[["cause", "first_ts_us", "last_ts_us"]]
    assert len(snaps) == 3, udp[["cause", "first_ts_us", "last_ts_us"]]
    assert snaps.duplicated(["flow_key", "first_ts_us", "last_ts_us"]).sum() == 0
    # every snapshot spans a prefix of the closed flow
    assert (snaps["first_ts_us"] == closed.iloc[0]["first_ts_us"]).all()
    assert (snaps["last_ts_us"] <= closed.iloc[0]["last_ts_us"]).all()

    # the closed flows and their snapshots carry the batch kernel's values
    from rustiflow_spark.operators.sessionize import sessionize_packets

    all_packets = pd.concat([batch1, batch2], ignore_index=True)
    batch = sessionize_packets(make_events_df(spark, all_packets), cfg).toPandas()
    _assert_stream_rows_match_batch(got, batch)

    # the TCP and the timeout-flushed flow are exported whole, with every
    # snapshot, exactly once
    span = ["first_ts_us", "last_ts_us"]
    for prefix, cause in (("10.0.0.3:", "TCP Normal Termination"),
                          ("10.0.0.5:", "Idle Timeout")):
        g = got[got["flow_key"].str.startswith(prefix)]
        b = batch[batch["flow_key"].str.startswith(prefix)]
        assert (g["cause"] != "None").sum() == 1, g[["cause", *span]]
        assert g.loc[g["cause"] != "None", "cause"].iloc[0] == cause
        assert (g["cause"] == "None").sum() >= 2, g[["cause", *span]]
        assert sorted(map(tuple, g[span].to_numpy())) == sorted(
            map(tuple, b[span].to_numpy())
        ), (g[["cause", *span]], b[["cause", *span]])


def _assert_stream_rows_match_batch(got: pd.DataFrame, batch: pd.DataFrame) -> None:
    """Every streamed flow row equals the batch row with the same
    (flow_key, first_ts_us, last_ts_us, cause): ints and strings exactly,
    floats with np.isclose.

    A trailing flow flushed by its event-time timeout is exported with its
    "Exporter Shutdown" features and the cause relabelled to Idle/Active
    Timeout (sessionize_packets_stream docstring). Such a row is matched on
    the batch "Exporter Shutdown" row and only its cause is not compared:
    no other column reads the close time of a shutdown-flushed flow."""
    key = ["flow_key", "first_ts_us", "last_ts_us", "cause"]
    by_key = batch.set_index(key)
    assert not by_key.index.duplicated().any()
    for _, srow in got.iterrows():
        k = tuple(srow[c] for c in key)
        skip = set()
        if k not in by_key.index and srow["cause"] in ("Idle Timeout", "Active Timeout"):
            k = k[:3] + ("Exporter Shutdown",)
            skip.add("cause")
        assert k in by_key.index, f"streamed row missing from batch: {k}"
        brow = by_key.loc[k]
        for col in batch.columns:
            if col in key or col in skip:
                continue
            sv, bv = srow[col], brow[col]
            if pd.api.types.is_float_dtype(batch[col].dtype):
                assert np.isclose(float(sv), float(bv)), (k, col, sv, bv)
            else:
                assert sv == bv, (k, col, sv, bv)


def test_rollup_stream_matches_batch_on_finalized_buckets(spark, tmp_path):
    """Streaming continuous aggregate == batch rollup restricted to buckets
    the final watermark passed, bit-exactly (decimal sums)."""
    import pandas as pd

    from rustiflow_spark.operators.intervals import time_bucket_rollup
    from rustiflow_spark.streaming.rollup_stream import rollup_stream

    rng = np.random.RandomState(11)
    pdf = pd.DataFrame(
        {
            "ts_us": np.sort(rng.randint(0, 600 * 1_000_000, size=4000)),
            "g": rng.choice(["a", "b"], size=4000),
            "v": np.round(rng.randn(4000) * 10, 2),
        }
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = spark.createDataFrame(pdf)
    # two micro-batches: buckets spanning the file split must still be exact
    df.where("ts_us < 300000000").coalesce(1).write.mode("append").parquet(src)
    df.where("ts_us >= 300000000").coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    roll = rollup_stream(stream, "ts_us", 60, ["g"], "v", "5 seconds")
    q = (
        roll.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out).toPandas().sort_values(["g", "bucket_s"]).reset_index(drop=True)

    max_us = int(pdf["ts_us"].max())
    wm_us = (max_us // 1000 - 5000) * 1000
    batch = time_bucket_rollup(df, "ts_us", 60, ["g"], "v").toPandas()
    batch = batch[(batch["bucket_s"] + 60) * 1_000_000 <= wm_us]
    batch = batch.sort_values(["g", "bucket_s"]).reset_index(drop=True)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got[batch.columns], batch)


def test_hll_stream_registers_match_batch(spark, tmp_path):
    """Streaming windowed HLL register tables == batch hll_registers per
    finalized bucket (and estimates agree exactly)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from rustiflow_spark.operators.sketches import hll_estimate, hll_registers
    from rustiflow_spark.streaming.rollup_stream import hll_stream

    rng = np.random.RandomState(13)
    pdf = pd.DataFrame(
        {
            "ts_us": np.sort(rng.randint(0, 600 * 1_000_000, size=6000)),
            "uid": rng.randint(0, 800, size=6000),
            "g": ["x"] * 6000,
        }
    )
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    df = spark.createDataFrame(pdf)
    df.where("ts_us < 300000000").coalesce(1).write.mode("append").parquet(src)
    df.where("ts_us >= 300000000").coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    regs = hll_stream(stream, "ts_us", 60, "uid", ["g"], p=12, watermark_delay="5 seconds")
    q = (
        regs.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out).toPandas().sort_values(["g", "bucket_s", "reg"]).reset_index(drop=True)
    assert len(got) > 0

    max_us = int(pdf["ts_us"].max())
    wm_us = (max_us // 1000 - 5000) * 1000
    batch = df.withColumn("bucket_s", (F.floor(F.col("ts_us") / 60_000_000) * 60).cast("long"))
    bregs = hll_registers(batch, "uid", ["g", "bucket_s"], p=12).toPandas()
    bregs = bregs[(bregs["bucket_s"] + 60) * 1_000_000 <= wm_us]
    bregs = bregs.sort_values(["g", "bucket_s", "reg"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[bregs.columns].astype(bregs.dtypes.to_dict()), bregs)

    # and the estimates over the emitted registers agree bit-for-bit
    e1 = hll_estimate(spark.read.parquet(out), ["g", "bucket_s"], p=12).toPandas()
    e2 = hll_estimate(
        hll_registers(batch, "uid", ["g", "bucket_s"], p=12).where(
            (F.col("bucket_s") + 60) * 1_000_000 <= wm_us
        ),
        ["g", "bucket_s"],
        p=12,
    ).toPandas()
    m = e1.merge(e2, on=["g", "bucket_s"], suffixes=("_s", "_b"))
    assert (m.hll_estimate_s == m.hll_estimate_b).all()


def test_rollup_stream_drops_late_rows(spark, tmp_path):
    """Once the watermark has actually advanced past a row's bucket, the
    row is dropped and the finalized bucket does NOT re-emit. Spark's
    watermark lags one micro-batch behind the data that advances it (it
    is computed at batch commit and applied from the NEXT batch), so the
    very-late probe row arrives two batches after the data that moved the
    watermark."""
    import pandas as pd

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    # b1: on-time rows through 400s (advances the watermark to 395s at
    # commit); b2: fresh rows only; b3: a VERY late row for bucket 0
    # (ts=30s, two batches after the advance) plus a fresh row
    b1 = pd.DataFrame({"ts_us": [10_000_000, 20_000_000, 130_000_000, 400_000_000],
                       "g": ["x"] * 4, "v": [1.0] * 4})
    b2 = pd.DataFrame({"ts_us": [430_000_000, 460_000_000], "g": ["x"] * 2, "v": [1.0] * 2})
    b3 = pd.DataFrame({"ts_us": [30_000_000, 470_000_000], "g": ["x"] * 2, "v": [100.0, 1.0]})
    schema = "ts_us long, g string, v double"
    from rustiflow_spark.streaming.rollup_stream import rollup_stream

    from conftest import write_pinned_batches

    write_pinned_batches(src, [
        (lambda b=b: spark.createDataFrame(b, schema).coalesce(1)
         .write.mode("append").parquet(src))
        for b in (b1, b2, b3)
    ])

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    roll = rollup_stream(stream, "ts_us", 60, ["g"], "v", "5 seconds")
    q = (
        roll.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out).toPandas().set_index("bucket_s")
    # bucket 0 emitted with its on-time rows {10s, 20s}; the very-late
    # 30s/v=100 row must neither re-emit the bucket nor create a new row
    assert got.loc[0, "n_rows"] == 2
    assert float(got.loc[0, "sum_value"]) == 2.0
    assert (got.index == 0).sum() == 1


def test_rollup_stream_restart_no_duplicates(spark, tmp_path):
    """Exactly-once across restarts: a second availableNow run over the
    SAME checkpoint, after new files arrive, appends only newly finalized
    buckets — earlier emissions never re-emit and late state is not
    recounted."""
    import pandas as pd

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    schema = "ts_us long, g string, v double"
    from rustiflow_spark.streaming.rollup_stream import rollup_stream

    import glob
    import os

    _batch_no = [0]

    def add_file(b, i):
        # incremental variant of conftest.write_pinned_batches: files are
        # added across restarts, so the batch counter persists between calls
        del i
        seen = set(glob.glob(f"{src}/part-*.parquet"))
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(src)
        pin = 1_000_000_000 + _batch_no[0] * 60
        for f in set(glob.glob(f"{src}/part-*.parquet")) - seen:
            os.utime(f, (pin, pin))
        _batch_no[0] += 1

    def run_once():
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).option("maxFilesPerTrigger", 1).parquet(src)
        roll = rollup_stream(stream, "ts_us", 60, ["g"], "v", "5 seconds")
        q = (
            roll.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    add_file(pd.DataFrame({"ts_us": [10_000_000, 70_000_000, 200_000_000],
                           "g": ["x"] * 3, "v": [1.0] * 3}), 0)
    run_once()
    first = spark.read.parquet(out).toPandas()

    # restart with two more files: later data finalizes more buckets
    add_file(pd.DataFrame({"ts_us": [250_000_000, 400_000_000], "g": ["x"] * 2, "v": [1.0] * 2}), 1)
    add_file(pd.DataFrame({"ts_us": [500_000_000], "g": ["x"], "v": [1.0]}), 2)
    run_once()
    final = spark.read.parquet(out).toPandas()

    assert len(final) > len(first)
    # no bucket appears twice, and the first run's rows are unchanged
    assert final["bucket_s"].is_unique
    merged = first.merge(final, on="bucket_s", suffixes=("_1", "_2"))
    assert (merged.n_rows_1 == merged.n_rows_2).all()
    assert merged.sum_value_1.astype(str).tolist() == merged.sum_value_2.astype(str).tolist()


def test_cms_and_hdr_stream_match_batch(spark, tmp_path):
    """Streaming CMS counters and HDR histograms == their batch builders
    per finalized bucket (same recipe as the HLL equivalence test)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from rustiflow_spark.operators.sketches import cms_sketch, hdr_histogram
    from rustiflow_spark.streaming.rollup_stream import cms_stream, hdr_stream

    rng = np.random.RandomState(23)
    pdf = pd.DataFrame(
        {
            "ts_us": np.sort(rng.randint(0, 600 * 1_000_000, size=5000)),
            "uid": rng.randint(0, 500, size=5000),
            "v": np.abs(np.round(rng.randn(5000) * 10, 2)),
            "g": ["x"] * 5000,
        }
    )
    df = spark.createDataFrame(pdf)
    max_us = int(pdf["ts_us"].max())
    wm_us = (max_us // 1000 - 5000) * 1000
    batch = df.withColumn(
        "bucket_s", (F.floor(F.col("ts_us") / 60_000_000) * 60).cast("long")
    ).where((F.col("bucket_s") + 60) * 1_000_000 <= wm_us)

    from conftest import write_pinned_batches

    def replay(mk, tag):
        src, out, ckpt = (str(tmp_path / f"{tag}_{d}") for d in ("src", "out", "ckpt"))
        write_pinned_batches(src, [
            (lambda p=pred: df.where(p).coalesce(1).write.mode("append").parquet(src))
            for pred in ("ts_us < 300000000", "ts_us >= 300000000")
        ])
        stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = (
            mk(stream).writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        return spark.read.parquet(out).toPandas()

    got_cms = replay(
        lambda s: cms_stream(s, "ts_us", 60, "uid", ["g"], depth=4, width_bits=10,
                             watermark_delay="5 seconds"), "cms"
    ).sort_values(["g", "bucket_s", "row", "bucket"]).reset_index(drop=True)
    exp_cms = (
        cms_sketch(batch, "uid", ["g", "bucket_s"], depth=4, width_bits=10)
        .toPandas().sort_values(["g", "bucket_s", "row", "bucket"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got_cms[exp_cms.columns].astype(exp_cms.dtypes.to_dict()), exp_cms
    )

    got_hdr = replay(
        lambda s: hdr_stream(s, "ts_us", 60, "v", ["g"], sub_bits=5,
                             watermark_delay="5 seconds"), "hdr"
    ).sort_values(["g", "bucket_s", "bucket"]).reset_index(drop=True)
    exp_hdr = (
        hdr_histogram(batch, "v", ["g", "bucket_s"], sub_bits=5)
        .toPandas().sort_values(["g", "bucket_s", "bucket"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got_hdr[exp_hdr.columns].astype(exp_hdr.dtypes.to_dict()), exp_hdr
    )


def test_corpus_quality_stream_chained_operators(spark, tmp_path):
    """Composed quality filter -> fine agg -> chained coarse agg in one
    streaming plan (two stateful operators): emitted coarse register rows
    match the direct batch aggregation on finalized buckets, the quality
    filter keeps low-value rows out of state, and summing register
    partials recovers the bucket rollup."""
    import pandas as pd

    from pyspark.sql import functions as F

    from rustiflow_spark.operators.sketches import hll_registers
    from rustiflow_spark.streaming.rollup_stream import corpus_quality_stream

    rng = np.random.RandomState(17)
    pdf = pd.DataFrame(
        {
            "ts_us": np.sort(rng.randint(0, 1200 * 1_000_000, size=6000)),
            "uid": rng.randint(0, 500, size=6000),
            "g": rng.choice(["x", "y"], size=6000),
            "v": np.round(rng.randn(6000) * 10, 2),
        }
    )
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    df = spark.createDataFrame(pdf)
    df.where("ts_us < 600000000").coalesce(1).write.mode("append").parquet(src)
    df.where("ts_us >= 600000000").coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    cq = corpus_quality_stream(
        stream, "ts_us", 60, 300, "uid", ["g"], "v",
        min_value=0.0, watermark_delay="5 seconds",
    )
    q = (
        cq.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out).toPandas()
    assert len(got) > 0

    max_us = int(pdf["ts_us"].max())
    wm_us = (max_us // 1000 - 5000) * 1000
    filt = df.where("v >= 0.0").withColumn(
        "bucket_s", (F.floor(F.col("ts_us") / 300_000_000) * 300).cast("long")
    )
    # registers match the batch sketch on the coarse grain
    bregs = hll_registers(filt, "uid", ["g", "bucket_s"], p=12).toPandas()
    bregs = bregs[(bregs["bucket_s"] + 300) * 1_000_000 <= wm_us]
    key = ["g", "bucket_s", "reg"]
    gm = got[key + ["mj"]].sort_values(key).reset_index(drop=True)
    bm = bregs[key + ["mj"]].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(gm.astype(bm.dtypes.to_dict()), bm)

    # summing register partials recovers the exact bucket rollup
    roll_s = (
        got.groupby(["g", "bucket_s"])
        .agg(n_rows=("n_rows", "sum"), sum_value=("sum_value", "sum"))
        .reset_index()
    )
    roll_b = (
        filt.groupBy("g", "bucket_s")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("v").cast("decimal(28,6)")).alias("sum_value"),
        )
        .where((F.col("bucket_s") + 300) * 1_000_000 <= wm_us)
        .toPandas()
    )
    m = roll_s.merge(roll_b, on=["g", "bucket_s"], suffixes=("_s", "_b"))
    assert len(m) == len(roll_b)
    assert (m["n_rows_s"].astype("int64") == m["n_rows_b"].astype("int64")).all()
    assert (m["sum_value_s"].astype(float) == m["sum_value_b"].astype(float)).all()

    # the quality filter kept negative-value rows out entirely
    neg = pdf[pdf["v"] < 0.0]
    assert len(neg) > 0
    assert int(roll_s["n_rows"].sum()) <= len(pdf) - len(neg)

    # width-multiple guard
    with pytest.raises(ValueError):
        corpus_quality_stream(stream, "ts_us", 60, 250, "uid", ["g"], "v")


def test_dedup_stream_exact_and_within_watermark(spark, tmp_path):
    """Global-exact streaming dedup: each distinct content emits exactly
    once across micro-batches (first arrival). Within-watermark variant:
    duplicates inside the horizon are deduped and state stays bounded."""
    import pandas as pd

    from rustiflow_spark.streaming.dedup_stream import dedup_stream

    rng = np.random.RandomState(23)
    n = 4000
    pdf = pd.DataFrame(
        {
            "ts_us": np.sort(rng.randint(0, 600 * 1_000_000, size=n)),
            "k": rng.randint(0, 300, size=n).astype(str),
        }
    )
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    df = spark.createDataFrame(pdf)
    df.where("ts_us < 300000000").coalesce(1).write.mode("append").parquet(src)
    df.where("ts_us >= 300000000").coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    d = dedup_stream(stream, ["k"])
    q = (
        d.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out).toPandas()
    # exactly one row per distinct k, even for keys spanning both batches
    assert len(got) == pdf["k"].nunique()
    assert got["k"].is_unique
    # first-arrival semantics: emitted ts is the minimum ts for that key
    firsts = pdf.groupby("k")["ts_us"].min()
    merged = got.set_index("k")["ts_us"]
    assert (merged == firsts.loc[merged.index]).all()

    # within-watermark variant runs and dedups in-horizon duplicates
    out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    stream2 = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    d2 = dedup_stream(stream2, ["k"], ts_us_col="ts_us", watermark_delay="1 hours")
    q2 = (
        d2.writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    got2 = spark.read.parquet(out2).toPandas()
    # horizon (1 h) covers the whole 10-minute stream: still exactly-once
    assert len(got2) == pdf["k"].nunique()

    with pytest.raises(ValueError):
        dedup_stream(stream, ["k"], watermark_delay="10 seconds")


def test_ffill_stream_state_crosses_microbatches(spark, tmp_path):
    """A micro-batch that STARTS with nulls must fill from the previous
    batch's last non-null value (state carries only that scalar)."""
    import time as _time

    from rustiflow_spark.streaming.enrich_stream import ffill_stream

    src_dir = tmp_path / "ff_src"
    src_dir.mkdir()
    out_dir = str(tmp_path / "ff_out")
    ckpt = str(tmp_path / "ff_ckpt")

    def batch(rows, seq0):
        return pd.DataFrame(
            {
                "k": ["u"] * len(rows),
                "ts": np.arange(seq0, seq0 + len(rows), dtype=np.int64) * 1000,
                "seq": np.arange(seq0, seq0 + len(rows), dtype=np.int64),
                "v": pd.array(rows, dtype="float64"),
            }
        )

    b1 = spark.createDataFrame(batch([1.0, None, 7.0], 0))
    b1.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "f1.parquet"))
    _time.sleep(1.1)
    b2 = spark.createDataFrame(batch([None, None, 3.0, None], 10))
    b2.coalesce(1).write.mode("append").parquet(str(src_dir / "f1.parquet"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "f1.parquet"))
    )
    q = (
        ffill_stream(stream, ["k"], "ts", "v", order_col="seq")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out_dir).orderBy("seq").toPandas()
    assert got["v_ffill"].tolist() == [1.0, 1.0, 7.0, 7.0, 7.0, 3.0, 3.0]


def test_ffill_stream_group_split_across_arrow_batches(spark, tmp_path):
    """A key whose micro-batch rows span several Arrow chunks must be
    sorted/filled ONCE per batch — chunk-local fills leak arrival order
    (review finding: reproduced before the concat fix with
    maxRecordsPerBatch=3 and reverse-ts storage order)."""
    from rustiflow_spark.streaming.enrich_stream import ffill_stream

    src_dir = tmp_path / "ffa_src"
    src_dir.mkdir()
    out_dir = str(tmp_path / "ffa_out")
    ckpt = str(tmp_path / "ffa_ckpt")
    # one file = one micro-batch; rows stored in REVERSE ts order, only
    # the earliest row non-null
    n = 9
    pdf = pd.DataFrame(
        {
            "k": ["u"] * n,
            "ts": np.arange(n, 0, -1, dtype="int64") * 1000,
            "seq": np.arange(n, 0, -1, dtype="int64"),
            "v": pd.array([None] * (n - 1) + [42.0], dtype="float64"),
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        str(src_dir / "f.parquet")
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        stream = (
            spark.readStream.schema(spark.createDataFrame(pdf).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src_dir / "f.parquet"))
        )
        q = (
            ffill_stream(stream, ["k"], "ts", "v", order_col="seq")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = spark.read.parquet(out_dir).orderBy("ts").toPandas()
    # earliest row (ts=1000) holds 42.0; every later row fills from it
    assert got["v_ffill"].tolist() == [42.0] * n


def test_profile_stream_matches_batch_on_finalized_buckets(spark, tmp_path):
    """Streaming per-column profile == batch profile restricted to the
    buckets the final watermark passed; null channel counts the planted
    every-3rd-row nulls exactly."""
    from rustiflow_spark.streaming.rollup_stream import profile_stream

    n = 600
    ts = np.arange(n, dtype="int64") * 1_000_000  # 1s apart -> 10 minutes
    pdf = pd.DataFrame(
        {
            "ts_us": ts,
            "k": pd.array(
                [None if i % 3 == 0 else f"v{i % 5}" for i in range(n)],
                dtype="object",
            ),
            "num": np.arange(n, dtype="int64") % 37,
        }
    )
    src = tmp_path / "pf_src"
    src.mkdir()
    out = str(tmp_path / "pf_out")
    ckpt = str(tmp_path / "pf_ckpt")
    df = spark.createDataFrame(pdf)
    df.coalesce(1).write.mode("overwrite").parquet(str(src / "f.parquet"))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f.parquet"))
    )
    prof = profile_stream(stream, "ts_us", 60, ["k", "num"], "5 seconds")
    q = (
        prof.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        spark.read.parquet(out)
        .orderBy("bucket_s", "col_name")
        .toPandas()
    )
    # watermark = max_ts - 5s = 594s -> buckets ending <= 594 finalize:
    # bucket starts 0..480 (bucket 540 ends at 600 > 594)
    assert got["bucket_s"].max() == 480
    assert got["bucket_s"].min() == 0
    b0k = got[(got["bucket_s"] == 0) & (got["col_name"] == "k")].iloc[0]
    assert b0k["n"] == 60 and b0k["n_null"] == 20
    # i=5 -> "v0" survives the i%3 nulling; v4 from i=4
    assert b0k["min_s"] == "v0" and b0k["max_s"] == "v4"
    b0n = got[(got["bucket_s"] == 0) & (got["col_name"] == "num")].iloc[0]
    assert b0n["n_null"] == 0
    # native numeric order rendered to string: min of (0..59 % 37)
    assert b0n["min_s"] == "0" and b0n["max_s"] == "36"
    with pytest.raises(ValueError):
        profile_stream(stream, "ts_us", 60, [])
