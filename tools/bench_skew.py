"""Planted heavy-hitter benchmark: one key owns 80% of a 1M-event table.

Times, under AQE, what the engine offers for that shape:

  1. sessionize, kernel          — the hot key's entire stream lands in
                                   ONE sorted kernel task
  2. sessionize, catalyst / auto — zero-Python window plan ('auto' picks
                                   it here: scan_mode='none'); the hot key
                                   lands in ONE window task
  3. salted two-phase Welford    — order-invariant stats with Chan merge
                                   (operators/skew.py), hot key fans out
  4. sort-merge skew join        — AQE's skew-join split off vs on

and checks that 'auto' emits the kernel's session rows, session_index
included.

Usage: python tools/bench_skew.py [n_events]
Prints one JSON line for BENCH.md.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from rustiflow_spark.config import EngineConfig
from rustiflow_spark.operators.event_features import sessionize_events
from rustiflow_spark.operators.skew import salted_welford_agg
from rustiflow_spark.session import get_spark

IDLE_S = 1800


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    spark = get_spark("skew-bench")  # cores from SPARK_GRAFT_CPUS
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.sparkContext.setLogLevel("ERROR")

    # deterministic skewed stream: 80% of events on user 0, rest uniform
    # over 2000 users; the hot key's stream has idle cuts every 500 events
    hot = int(n * 0.8)
    ev = spark.range(n).select(
        F.when(F.col("id") < hot, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(2000)) + 1)
        .alias("user_id"),
        (F.col("id") * 40_000).alias("ts_us"),
        F.col("id").alias("event_seq"),
        (F.pmod(F.col("id"), F.lit(977)).cast("double")).alias("value"),
        F.lit(0).alias("direction"),
        F.lit(0).alias("terminator"),
    )
    # spread the hot user's timestamps so idle cuts exist inside the
    # stream: episode k starts at k*(IDLE_S+100)s, spans 500*40ms = 20s,
    # so the inter-episode gap (~1880s) clears the (IDLE_S+1)s cut
    ev = ev.withColumn(
        "ts_us",
        F.when(
            F.col("user_id") == 0,
            (F.col("event_seq") % 500) * 40_000
            + (F.col("event_seq") / 500).cast("long")
            * ((IDLE_S + 100) * 1_000_000),
        ).otherwise(F.col("ts_us")),
    )
    ev.write.mode("overwrite").parquet("/tmp/skew_events.parquet")
    ev = spark.read.parquet("/tmp/skew_events.parquet")
    cfg = EngineConfig(active_timeout=10_000_000, idle_timeout=IDLE_S, scan_mode="none")

    def mat(df) -> float:
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    feats = ["value", "iat", "subflow"]
    unsplit_df = sessionize_events(ev, ["user_id"], cfg, value_col="value",
                                   features=feats)
    # warm up Python workers / codegen
    # warmup = one FULL materialization: a limit(1) warmup interrupts
    # mapInPandas tasks mid-stream and a reused Python worker can come
    # back desynced on pyspark 4.1's single-threaded runner (observed as
    # a both-sides-reading deadlock at 64M rows; tools/bench_catalyst.py)
    mat(unsplit_df)
    t_unsplit = min(mat(unsplit_df) for _ in range(2))
    # pure Catalyst (hot key serializes in ONE window task) vs auto (the
    # same plan, picked by dispatch)
    catalyst_df = sessionize_events(ev, ["user_id"], cfg, value_col="value",
                                    features=feats, strategy="catalyst")
    auto_df = sessionize_events(ev, ["user_id"], cfg, value_col="value",
                                features=feats, strategy="auto")
    t_catalyst = min(mat(catalyst_df) for _ in range(2))
    mat(auto_df)
    t_auto = min(mat(auto_df) for _ in range(2))
    t_salted = min(mat(salted_welford_agg(ev, ["user_id"], "value")) for _ in range(2))
    t_plain = min(
        mat(ev.groupBy("user_id").agg(
            F.count("value"), F.sum("value"), F.var_pop("value"),
            F.min("value"), F.max("value"))) for _ in range(2)
    )

    cols_i = ["user_id", "first_ts_us", "last_ts_us", "event_count",
              "session_index"]
    c = unsplit_df.select(cols_i).exceptAll(auto_df.select(cols_i)).count()
    d = auto_df.select(cols_i).exceptAll(unsplit_df.select(cols_i)).count()

    # AQE skew-join: hot key joined against a user dimension, sort-merge
    # forced (broadcast disabled); AQE's skewJoin splits the oversized
    # partition at runtime
    dim = spark.range(2001).select(
        F.col("id").alias("user_id"), (F.col("id") * 7).alias("attr")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    joined = ev.join(dim, "user_id").groupBy("user_id").agg(
        F.sum(F.col("value") + F.col("attr")).alias("s")
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    t_join_noskewfix = min(mat(joined) for _ in range(2))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
    )
    t_join_skewfix = min(mat(joined) for _ in range(2))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    print(json.dumps({
        "n_events": n,
        "hot_key_share": 0.8,
        "sessionize_unsplit_sec": round(t_unsplit, 2),
        "sessionize_catalyst_sec": round(t_catalyst, 2),
        "sessionize_auto_sec": round(t_auto, 2),
        "auto_exact_incl_ordinals": c == 0 and d == 0,
        "salted_welford_sec": round(t_salted, 2),
        "plain_groupby_stats_sec": round(t_plain, 2),
        "smj_skew_join_aqe_off_sec": round(t_join_noskewfix, 2),
        "smj_skew_join_aqe_on_sec": round(t_join_skewfix, 2),
        "aqe_skew_join_speedup": round(t_join_noskewfix / t_join_skewfix, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
