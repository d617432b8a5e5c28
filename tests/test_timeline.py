"""Expiry-scan timeline unit tests (timeline.py): exact recursion semantics
(flow_table.rs:207-219) and the bucketed approximation's error bound."""

from __future__ import annotations

import numpy as np

from rustiflow_spark.timeline import scan_times_from_bucket_mins, scan_times_from_sorted


def test_exact_scan_recursion():
    # first event fires a scan; next scan at first event >= prev + interval
    ts = np.array([5, 10, 64, 65, 131, 300], dtype=np.int64)
    scans = scan_times_from_sorted(ts, interval_us=60)
    assert scans.tolist() == [5, 65, 131, 300]


def test_exact_scan_empty_and_single():
    assert scan_times_from_sorted(np.array([], dtype=np.int64), 60).size == 0
    assert scan_times_from_sorted(np.array([42], dtype=np.int64), 60).tolist() == [42]


def test_bucket_mode_error_bound():
    rng = np.random.RandomState(4)
    ts = np.sort(rng.randint(0, 10_000_000, 5000).astype(np.int64))
    interval = 60_000
    exact = scan_times_from_sorted(ts, interval)
    bucket_us = interval // 64
    buckets = ts // bucket_us
    mins = np.array(
        [ts[buckets == b].min() for b in np.unique(buckets)], dtype=np.int64
    )
    approx = scan_times_from_bucket_mins(mins, interval, bucket_us)
    # each approximate scan is a real event time and within one bucket of an
    # exact scan's neighborhood; counts match within rounding drift
    assert np.isin(approx, ts).all()
    assert abs(len(approx) - len(exact)) <= max(2, len(exact) // 20)


def test_parquet_footer_flush_matches_aggregate(spark):
    """parquet_column_max (footer statistics, zero data pages) must agree
    with the aggregate max the engine would otherwise compute per query."""
    import datetime

    from pyspark.sql import functions as F

    from rustiflow_spark.sources.tables import parquet_column_max

    path = "/root/testdata/sf0.01/events.parquet"
    mx = parquet_column_max(path, "ts")
    assert mx is not None
    td = mx - datetime.datetime(1970, 1, 1)
    footer_us = (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
    agg = (
        spark.read.parquet(path)
        .agg(
            F.expr(
                "max(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
            ).alias("mx")
        )
        .collect()[0]["mx"]
    )
    assert footer_us == int(agg)
    assert parquet_column_max(path, "no_such_column") is None


def test_sessionize_with_explicit_flush_matches_default(spark, sf_dir):
    """Flushing at the input's true last event time (footer-derived) and at
    the default end-of-input sentinel give identical output, on the event
    and the packet path, with and without the expiry scan."""
    import dataclasses

    import pandas as pd

    import __spark_entry__ as em
    from rustiflow_spark.operators.event_features import sessionize_events
    from rustiflow_spark.operators.sessionize import sessionize_packets

    ev = em._events(spark, sf_dir)
    packets = em._packet_table(spark, sf_dir, tcp=True)
    ev_flush, pkt_flush = em._events_flush_us(sf_dir), em._packet_flush_us(sf_dir)
    assert ev_flush is not None and pkt_flush is not None

    def frames(build, flush, key):
        base, given = build({}).toPandas(), build({"flush_ts": flush}).toPandas()
        if scan_mode == "none":
            # the sessions whose close time is the flush time
            assert (base["cause"] == "Exporter Shutdown").any()
        return (
            base.sort_values(key).reset_index(drop=True),
            given.sort_values(key).reset_index(drop=True),
        )

    for scan_mode in ("none", "exact"):
        cfg = dataclasses.replace(em._engine_cfg(), scan_mode=scan_mode)
        pd.testing.assert_frame_equal(*frames(
            lambda kw: sessionize_events(ev, ["user_id"], cfg, value_col="value", **kw),
            ev_flush,
            ["user_id", "first_ts_us"],
        ))
        pd.testing.assert_frame_equal(*frames(
            lambda kw: sessionize_packets(packets, cfg, **kw),
            pkt_flush,
            ["flow_key", "first_ts_us"],
        ))


def _jobs_submitted(spark, build) -> list[int]:
    """Spark job ids submitted while ``build()`` runs."""
    sc = spark.sparkContext
    group = "build-probe"
    sc.setJobGroup(group, "query construction")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_building_scan_mode_none_queries_submits_no_job(spark, tmp_path):
    """Without flush_ts and with scan_mode 'none', building a packet or an
    event query touches no data; 'exact' still runs its timeline query."""
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.operators.event_features import (
        assign_sessions,
        sessionize_events,
    )
    from rustiflow_spark.operators.sessionize import sessionize_packets
    from rustiflow_spark.sources.pcap import read_pcap
    from rustiflow_spark.sources.synth import generate_token_sequences
    from test_pcap_source import _synth_capture

    packets = read_pcap(spark, _synth_capture(tmp_path, 200))
    events = spark.createDataFrame(generate_token_sequences(n_docs=20, seed=3))
    key = ["source", "doc_id"]
    none, exact = EngineConfig(scan_mode="none"), EngineConfig(scan_mode="exact")

    assert _jobs_submitted(spark, lambda: sessionize_packets(packets, none)) == []
    assert _jobs_submitted(spark, lambda: sessionize_events(events, key, none)) == []
    assert _jobs_submitted(spark, lambda: assign_sessions(events, key, none)) == []
    # the probe sees jobs when there are some
    assert _jobs_submitted(spark, lambda: sessionize_packets(packets, exact))
    assert _jobs_submitted(spark, lambda: sessionize_events(events, key, exact))
