"""Skew / heavy-hitter handling (SURVEY.md §4 custom-work #1).

Two tools for keys that would otherwise serialize inside one reducer:

1. ``salted_welford_agg`` — order-invariant population statistics with a
   salted two-phase partial/final aggregation. The final merge uses the
   exact Chan/Welford parallel-merge formula — the same math the reference
   uses to pool directional variances (packet_stats.rs:63-91) — so results
   are identical (up to float associativity) to a single-phase aggregate
   while heavy keys fan out across `salt_buckets` reducers.

2. ``salted_join`` — a salted equi-join for a hot join key that AQE's
   skew-join split cannot break up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_welford_agg(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase (partial per salt, exact final merge) population stats per
    key: count, total, mean, var_pop, std_pop, min, max."""
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    partial = salted.groupBy(*key_cols, "__salt").agg(
        F.count(value_col).alias("n"),
        F.sum(value_col).alias("s"),
        F.min(value_col).alias("mn"),
        F.max(value_col).alias("mx"),
        (F.var_pop(value_col) * F.count(value_col)).alias("m2"),  # sum sq dev
    )
    # exact Chan merge across salts: combined m2 = sum(m2_i) + sum(n_i * (mean_i - mean)^2)
    merged = partial.groupBy(*key_cols).agg(
        F.sum("n").alias("count"),
        F.sum("s").alias("total"),
        F.min("mn").alias("min"),
        F.max("mx").alias("max"),
        F.sum("m2").alias("m2_within"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sq_of_means_scaled"),
    )
    mean = F.col("total") / F.col("count")
    # between-group component: sum(n_i * mean_i^2) - N * mean^2
    m2_between = F.col("sq_of_means_scaled") - F.col("count") * mean * mean
    var = (F.col("m2_within") + m2_between) / F.col("count")
    var = F.greatest(var, F.lit(0.0))  # guard tiny negative fp residue
    return merged.select(
        *key_cols,
        "count",
        "total",
        mean.alias("mean"),
        var.alias("var_pop"),
        F.sqrt(var).alias("std_pop"),
        "min",
        "max",
    )


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    on: list[str],
    n_salts: int = 8,
    hot_keys: DataFrame | None = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-resilient equi-join: fact rows get a random salt, the dim side
    replicates across all salts, and the join key becomes (key..., salt)
    — a hot join key fans out over ``n_salts`` reducers instead of
    serializing one. Exact for inner and left joins (every fact row still
    meets its dim rows exactly once, in its salt slice).

    hot_keys: optional DataFrame of the keys worth salting (e.g. from a
    sampled heavy-hitter count). When given, only matching fact rows are
    salted and only the hot slice of dim replicates — the cold keyspace
    joins 1:1 with zero replication cost. When None, everything salts
    (simple, dim bytes × n_salts).

    This is the manual fallback; prefer AQE's skew-join split
    (spark.sql.adaptive.skewJoin.enabled) when partition-size skew alone
    triggers it — salting also covers the single-hot-KEY case AQE cannot
    split (one key's rows are one map-side group in a sort-merge join).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id(), F.lit(11)), n_salts)
    salts_arr = F.array(*[F.lit(s) for s in range(n_salts)])
    if hot_keys is None:
        f = facts.withColumn("__salt", salt)
        d = dim.withColumn("__salt", F.explode(salts_arr))
        return f.join(d, on + ["__salt"], how).drop("__salt")
    hk = F.broadcast(hot_keys.select(*on).distinct().withColumn("__hot", F.lit(1)))
    f = (
        facts.join(hk, on, "left")
        .withColumn(
            "__salt",
            F.when(F.col("__hot").isNotNull(), salt).otherwise(F.lit(-1)),
        )
        .drop("__hot")
    )
    # a generator is illegal inside when(): salt LIST conditionally, then
    # one top-level explode (cold keys carry the single sentinel salt -1)
    d = (
        dim.join(hk, on, "left")
        .withColumn(
            "__salts",
            F.when(F.col("__hot").isNotNull(), salts_arr).otherwise(
                F.array(F.lit(-1))
            ),
        )
        .withColumn("__salt", F.explode("__salts"))
        .drop("__salts", "__hot")
    )
    return f.join(d, on + ["__salt"], how).drop("__salt")
