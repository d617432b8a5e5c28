"""Virtual-time expiry-scan timeline.

The reference scans its whole flow table for expired flows whenever event
time has advanced past ``next_check`` (flow_table.rs:207-219): the first
packet of the shard triggers a scan, then the next scan fires at the first
packet whose timestamp is >= previous scan + interval. Scan times are
therefore a deterministic function of the shard's multiset of event
timestamps, independent of keys — which lets a batch engine reproduce them
exactly with one cheap pass.

Scan times only influence the close timestamp + cause of sessions whose
expiry is not observed by a successor packet of the same biflow (see
kernel/flow_kernel.py docstring), so an approximate timeline degrades only
the trailing-idle statistic, never segmentation.
"""

from __future__ import annotations

import logging

import numpy as np

from rustiflow_spark.config import EngineConfig

logger = logging.getLogger(__name__)


def scan_times_from_sorted(ts_sorted: np.ndarray, interval_us: int) -> np.ndarray:
    """Exact scan timeline from sorted event timestamps.

    O(#scans * log n); #scans <= (t_max - t_min) / interval + 1.
    """
    if ts_sorted.size == 0:
        return np.empty(0, dtype=np.int64)
    scans = [int(ts_sorted[0])]
    n = ts_sorted.size
    while True:
        nxt = scans[-1] + interval_us
        pos = int(np.searchsorted(ts_sorted, nxt, side="left"))
        if pos >= n:
            break
        scans.append(int(ts_sorted[pos]))
    return np.asarray(scans, dtype=np.int64)


def scan_times_from_bucket_mins(
    bucket_mins: np.ndarray, interval_us: int, bucket_us: int
) -> np.ndarray:
    """Approximate scan timeline from per-bucket min timestamps.

    bucket_mins: sorted array of min(ts) per time bucket of width bucket_us
    (bucket_us should divide interval_us; smaller buckets = tighter
    approximation). A scan time may be reported up to one bucket late when
    the true next event shares a bucket with the threshold. Cluster-scale
    path: the aggregate ``min(ts) group by ts div bucket_us`` is tiny
    (duration-bounded) and shuffles no raw data.
    """
    if bucket_mins.size == 0:
        return np.empty(0, dtype=np.int64)
    scans = [int(bucket_mins[0])]
    n = bucket_mins.size
    while True:
        nxt = scans[-1] + interval_us
        pos = int(np.searchsorted(bucket_mins, nxt, side="left"))
        if pos >= n:
            break
        scans.append(int(bucket_mins[pos]))
    return np.asarray(scans, dtype=np.int64)


# 'exact' scan mode falls back to 'bucket' beyond this many distinct
# timestamps rather than collecting them all to the driver
EXACT_SCAN_MAX_TIMESTAMPS = 2_000_000

# Flush time used when the caller does not know the input's last event
# time. It is exact: the flush time only becomes the close time of
# "Exporter Shutdown" sessions, which no output reads (the trailing-idle
# sample is taken for "Idle Timeout" sessions only), and the kernels'
# "scan beyond end of input" guard cannot fire because scan times are
# event timestamps.
END_OF_INPUT_US = int(np.iinfo(np.int64).max)


def compute_timeline(
    df, ts_col: str, cfg: EngineConfig, flush_ts: int | None = None
) -> tuple[np.ndarray, int]:
    """Compute (scan_times, flush_ts) for a packet-event DataFrame.

    scan_mode 'exact' collects the sorted distinct timestamps (test scale /
    single shard domain) and degrades to 'bucket' past
    EXACT_SCAN_MAX_TIMESTAMPS distinct values instead of OOMing the driver;
    'none' returns an empty timeline and submits no Spark job.

    flush_ts: the time leftover sessions are flushed at (the reference
    flushes at the last timestamp it has seen, flow_table.rs:180;
    pcap.rs:277-285). It is returned unchanged; None becomes
    END_OF_INPUT_US, which yields the same output as the true last event
    time without a pass over the input to find it.
    """
    from pyspark.sql import functions as F

    if flush_ts is None:
        flush_ts = END_OF_INPUT_US
    if cfg.scan_mode == "none":
        return np.empty(0, dtype=np.int64), flush_ts

    def bucket_timeline() -> np.ndarray:
        bucket_us = max(cfg.check_interval_us // 64, 1)
        rows = (
            df.select((F.col(ts_col) / F.lit(bucket_us)).cast("long").alias("b"), F.col(ts_col))
            .groupBy("b")
            .agg(F.min(ts_col).alias("mn"))
            .orderBy("b")
            .collect()
        )
        mins = np.asarray([r["mn"] for r in rows], dtype=np.int64)
        return scan_times_from_bucket_mins(mins, cfg.check_interval_us, bucket_us)

    if cfg.scan_mode == "exact":
        rows = (
            df.select(ts_col).distinct().limit(EXACT_SCAN_MAX_TIMESTAMPS + 1).collect()
        )
        if len(rows) > EXACT_SCAN_MAX_TIMESTAMPS:
            logger.warning(
                "scan_mode='exact' fell back to the bucket approximation: "
                "more than %d distinct timestamps. Scan-time close_ts/cause "
                "near scan boundaries may differ from the exact timeline; "
                "set scan_mode='bucket' explicitly to silence this.",
                EXACT_SCAN_MAX_TIMESTAMPS,
            )
            return bucket_timeline(), flush_ts
        ts_sorted = np.sort(np.asarray([r[0] for r in rows], dtype=np.int64))
        return scan_times_from_sorted(ts_sorted, cfg.check_interval_us), flush_ts
    if cfg.scan_mode == "bucket":
        return bucket_timeline(), flush_ts
    raise ValueError(f"unknown scan_mode: {cfg.scan_mode}")
