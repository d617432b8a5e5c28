"""Leakage-free categorical/numeric feature encoders.

The north rule's engine is a point-in-time feature-engineering layer over
training sequences: every derived feature at (entity, ts) may only use
STRICTLY-PAST data (the reference's flow features have the same property —
each exported vector is a function of packets at or before the export
timestamp, flow_table.rs expiry model). These encoders extend that
discipline to the classic tabular encoders a training pipeline needs:

- expanding target encoding (past-only mean/count of a target per category)
- quantile binning (rank-based discretization)
- z-score normalization per group (two-phase partial/final aggregate +
  broadcast join back — no global sort, no second scan of wide payloads)

All three are pure Catalyst (window functions + hash aggregates): no Python
stages, whole-stage codegen end-to-end, one shuffle per distinct
partitioning key. At 100 TB the expanding encoders shuffle once on the
category key (skew handled by the same salted two-phase pattern as
operators/skew.py when a category dominates), and the normalize path
broadcasts only the per-group stats table (O(groups) rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def target_encode_expanding(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    ts_col: str,
    order_col: str | None = None,
    prior: float | None = None,
    smoothing: float = 0.0,
    suffix: str = "_te",
) -> DataFrame:
    """Past-only (expanding) target encoding of `cat_col` by `target_col`.

    Each row gets the running mean and count of the target over all
    STRICTLY earlier rows of the same category (ordered by ts_col, then
    order_col for a deterministic total order). Rows with no history get
    NULL (or `prior` when given). With smoothing m > 0 the encoding is the
    shrunk estimate (sum + m*prior) / (cnt + m) — the standard
    leave-nothing-from-the-future target encoder.

    Window is ROWS UNBOUNDED PRECEDING .. 1 PRECEDING: zero temporal
    leakage by construction, same guarantee as the as-of join
    (operators/asof.py).
    """
    order = [F.asc(ts_col)] + ([F.asc(order_col)] if order_col else [])
    w = (
        Window.partitionBy(cat_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cnt = F.count(target_col).over(w)
    s = F.sum(target_col).over(w)
    if smoothing > 0.0:
        if prior is None:
            raise ValueError("smoothing requires a prior")
        enc = (
            F.coalesce(s, F.lit(0.0)) + F.lit(float(smoothing)) * F.lit(float(prior))
        ) / (cnt + F.lit(float(smoothing)))
    else:
        enc = s / cnt  # NULL when cnt == 0 (sum over empty frame is NULL)
        if prior is not None:
            enc = F.coalesce(enc, F.lit(float(prior)))
    return df.withColumn(f"{cat_col}{suffix}_n", cnt.cast("long")).withColumn(
        f"{cat_col}{suffix}", enc
    )


def target_encode_expanding_split(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    ts_col: str,
    chunk_us: int,
    order_col: str | None = None,
    suffix: str = "_te",
) -> DataFrame:
    """Hot-key-safe expanding target encoding: a distributed prefix scan.

    The plain encoder sorts each category in ONE task — a category holding
    10% of a 100-TB corpus serializes on a single core. This variant
    chunks each category's timeline into `chunk_us` buckets:

      1. in-chunk expanding sums, window keyed (cat, chunk) — parallel
         across chunks of the same hot category;
      2. per-chunk totals (hash aggregate, map-side partial);
      3. prefix sums of the totals over chunks — a window over the TINY
         chunk-level table (rows = cats x occupied chunks);
      4. broadcast-join the prefix back; encoding = (prefix + in-chunk).

    Bit-identical to target_encode_expanding when the target is integral
    (integer sums are associative). No smoothing here — compose
    downstream if needed.
    """
    if chunk_us <= 0:
        raise ValueError("chunk_us must be positive")
    order = [F.asc(ts_col)] + ([F.asc(order_col)] if order_col else [])
    chunk = F.floor(F.col(ts_col) / F.lit(int(chunk_us))).alias("__chunk")
    df = df.withColumn("__chunk", chunk)
    w_in = (
        Window.partitionBy(cat_col, "__chunk")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    df = df.withColumn("__cnt_in", F.count(target_col).over(w_in)).withColumn(
        "__sum_in", F.sum(target_col).over(w_in)
    )
    totals = df.groupBy(cat_col, "__chunk").agg(
        F.count(target_col).alias("__cnt_c"), F.sum(target_col).alias("__sum_c")
    )
    w_pref = (
        Window.partitionBy(cat_col)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = totals.select(
        cat_col,
        "__chunk",
        F.coalesce(F.sum("__cnt_c").over(w_pref), F.lit(0)).alias("__cnt_p"),
        F.sum("__sum_c").over(w_pref).alias("__sum_p"),
    )
    out = df.join(F.broadcast(prefix), on=[cat_col, "__chunk"], how="left")
    cnt = (F.col("__cnt_p") + F.col("__cnt_in")).cast("long")
    s = F.coalesce(F.col("__sum_p"), F.lit(0)) + F.coalesce(
        F.col("__sum_in"), F.lit(0)
    )
    enc = F.when(cnt > 0, s / cnt)
    return (
        out.withColumn(f"{cat_col}{suffix}_n", cnt)
        .withColumn(f"{cat_col}{suffix}", enc)
        .drop("__chunk", "__cnt_in", "__sum_in", "__cnt_p", "__sum_p")
    )


def quantile_bin(
    df: DataFrame,
    value_col: str,
    n_bins: int,
    by: str | list[str] | None = None,
    order_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Rank-based discretization: ntile(n_bins) over value_col (optionally
    per group). Deterministic when order_col breaks value ties.

    ntile is an exact equi-depth binning — unlike approxQuantile cutoffs it
    is reproducible bit-for-bit across engines, which is what a training
    pipeline wants for feature parity between backfill and serving.
    Cost: one shuffle on `by` + in-partition sort (Spark's window ntile);
    for the global (by=None) case Spark plans a single-partition window —
    use a grouped variant at scale.
    """
    out_col = out_col or f"{value_col}_bin"
    order = [F.asc(value_col)] + ([F.asc(order_col)] if order_col else [])
    by = [by] if isinstance(by, str) else (list(by) if by else [])
    w = Window.partitionBy(*by).orderBy(*order) if by else Window.orderBy(*order)
    return df.withColumn(out_col, F.ntile(n_bins).over(w))


def quantile_bin_split(
    df: DataFrame,
    value_col: str,
    n_bins: int,
    by: str | list[str] | None = None,
    order_col: str | None = None,
    n_chunks: int = 64,
    out_col: str | None = None,
) -> DataFrame:
    """Distributed EXACT ntile for few/hot groups — the same prefix-scan
    cure as target_encode_expanding_split.

    Plain quantile_bin parallelizes at most #groups tasks (a 5-category
    binning of 10^9 rows runs on 5 cores; the sf10 sweep measured 20 s
    where 4 s was available). This variant:

      1. chunks each group's VALUE RANGE into n_chunks (min/max from one
         O(groups) aggregate, broadcast — ties stay inside one chunk, so
         chunk order is consistent with (value, order) order);
      2. ranks within (group, chunk) — parallel across chunks;
      3. prefix-sums chunk counts over the tiny chunk table;
      4. global rank = prefix + in-chunk rank; the bin comes from the
         exact ntile partitioning rule (first t%n buckets get one extra
         row), so output is IDENTICAL to ntile(n_bins) — pytest-asserted
         and oracle-shared with the plain form.

    Value-skewed data degrades gracefully: identical values share a chunk
    (correct, just less parallel); uniform-ish values spread evenly.
    """
    if n_chunks <= 0:
        raise ValueError("n_chunks must be positive")
    out_col = out_col or f"{value_col}_bin"
    by = [by] if isinstance(by, str) else (list(by) if by else [])
    gb = df.groupBy(*by) if by else df.groupBy()
    stats = gb.agg(
        F.min(value_col).alias("__vmin"),
        F.max(value_col).alias("__vmax"),
        # count(*), not count(value): ntile ranks NULL rows too
        F.count(F.lit(1)).alias("__t"),
    )
    j = df.join(F.broadcast(stats), on=by) if by else df.crossJoin(
        F.broadcast(stats)
    )
    span = F.col("__vmax") - F.col("__vmin")
    # NULL values sort FIRST under ntile's ASC order -> pin them to chunk
    # 0 (least() would otherwise skip the null arithmetic and send them
    # to the LAST chunk — review finding); asc nulls-first inside chunk 0
    # then reproduces the global order exactly
    chunk = F.when(F.col(value_col).isNull(), F.lit(0)).when(
        span > 0,
        F.least(
            F.lit(n_chunks - 1),
            F.floor(
                (F.col(value_col) - F.col("__vmin"))
                / span
                * F.lit(int(n_chunks))
            ),
        ),
    ).otherwise(F.lit(0))
    j = j.withColumn("__chunk", chunk.cast("int"))
    # chunk counts from the pre-window frame: the counting branch is a
    # plain hash aggregate, not a sorted window
    ctab = j.groupBy(*by, "__chunk").agg(F.count("*").alias("__cc"))
    order = [F.asc(value_col)] + ([F.asc(order_col)] if order_col else [])
    w_in = Window.partitionBy(*by, "__chunk").orderBy(*order)
    j = j.withColumn("__rn", F.row_number().over(w_in))
    w_pref = (
        Window.partitionBy(*by)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = ctab.select(
        *by,
        "__chunk",
        F.coalesce(F.sum("__cc").over(w_pref), F.lit(0)).alias("__pref"),
    )
    j = j.join(F.broadcast(pref), on=[*by, "__chunk"])
    rank = (F.col("__pref") + F.col("__rn")).cast("long")
    # exact ntile partitioning: t rows into n buckets, first r = t % n
    # buckets hold q+1 = t//n + 1 rows
    q = F.expr(f"__t div {int(n_bins)}")
    r = F.col("__t") % n_bins
    big = r * (q + 1)
    # q == 0 only when t < n_bins, where rank <= big = t always holds —
    # greatest() keeps the dead branch well-defined anyway
    bin_expr = F.when(
        rank <= big, (rank - 1) / (q + 1)
    ).otherwise(r + (rank - big - 1) / F.greatest(q, F.lit(1)))
    j = j.withColumn(
        out_col, (F.floor(bin_expr) + 1).cast("int")
    )
    return j.drop("__vmin", "__vmax", "__t", "__chunk", "__rn", "__pref")


def zscore_normalize(
    df: DataFrame,
    value_cols: list[str],
    by: str | list[str],
    suffix: str = "_z",
    eps: float = 0.0,
) -> DataFrame:
    """Per-group z-score normalization via a two-phase aggregate.

    Phase 1: hash-aggregate per-group (mean, stddev_pop) — map-side partial
    aggregation, O(groups) result. Phase 2: broadcast the stats table back
    onto the fact rows (no second shuffle of the wide side). Groups with
    zero variance normalize to NULL (or 0 when eps > 0 guards the divide).
    """
    by = [by] if isinstance(by, str) else list(by)
    aggs = []
    for c in value_cols:
        aggs.append(F.avg(c).alias(f"__mean_{c}"))
        aggs.append(F.stddev_pop(c).alias(f"__std_{c}"))
    stats = df.groupBy(*by).agg(*aggs)
    out = df.join(F.broadcast(stats), on=by, how="left")
    for c in value_cols:
        denom = F.col(f"__std_{c}") + F.lit(float(eps))
        z = (F.col(c) - F.col(f"__mean_{c}")) / F.when(denom != 0.0, denom)
        out = out.withColumn(f"{c}{suffix}", z)
    drop = [f"__mean_{c}" for c in value_cols] + [f"__std_{c}" for c in value_cols]
    return out.drop(*drop)


def hash_cross(
    df: DataFrame,
    cols: list[str],
    n_buckets: int,
    out_col: str = "cross_bucket",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Feature-cross hashing (the "hashing trick"): bucket the
    cross-product of categorical columns into a fixed-width id space —
    how wide categorical interactions (site x lang x source) become
    bounded embedding/table indices in a training pipeline without a
    vocabulary build.

    Pure Catalyst, zero shuffle: the bucket is a per-row projection. The
    cross key is the columns rendered to strings and joined with an
    ASCII unit separator, with NULL encoded as a sentinel distinct from
    any real value (concat_ws alone would silently DROP nulls and
    collide ('a', NULL) with ('a',)).

    hash_fn='xxhash64' (production): Spark's native 64-bit hash,
    whole-stage codegen. hash_fn='md5' (replay mode): first 15 hex
    chars of md5, parseable identically by any engine — the repo's
    standard cross-engine oracle convention (operators/sketches.py).
    Bucket = hash mod n_buckets, non-negative in both modes.
    """
    if n_buckets <= 0:
        raise ValueError("hash_cross: n_buckets must be positive")
    parts = [
        F.coalesce(F.col(f"`{c}`").cast("string"), F.lit("\x00NULL"))
        for c in cols
    ]
    key = F.concat_ws("\x1f", *parts)
    if hash_fn == "xxhash64":
        h = F.xxhash64(key)
    elif hash_fn == "md5":
        h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"hash_cross: unknown hash_fn {hash_fn!r}")
    return df.withColumn(out_col, F.pmod(h, F.lit(n_buckets)).cast("int"))


def robust_scale(
    df: DataFrame,
    value_col: str,
    by: str | list[str],
    id_col: str,
    suffix: str = "_robust",
) -> DataFrame:
    """Per-group robust scaling: (x - median) / MAD — the
    outlier-resistant cousin of zscore_normalize (one wild value moves a
    mean/stddev arbitrarily; it moves a median/MAD not at all).

    Exactness: the median is the LOWER median — the element at rank
    ceil(n/2) in (value, id) order — an actual data value picked by
    integer rank arithmetic, never an interpolation, so any engine
    reproduces it bit-for-bit; MAD is the lower median of |x - med|.
    The only floating op is the final single division (IEEE-identical
    everywhere). Groups with MAD == 0 scale to NULL (explicit, not Inf).

    Plan: two rank windows over the group key (value order, then
    deviation order) + two broadcast joins of the O(groups) stats
    tables back onto the rows. Pathological hot groups hit the same
    #groups sort ceiling as quantile_bin — the quantile_bin_split
    prefix-scan trick applies if that ever binds.
    """
    from pyspark.sql import Window

    by = [by] if isinstance(by, str) else list(by)
    v, i = F.col(f"`{value_col}`"), F.col(f"`{id_col}`")
    w1 = Window.partitionBy(*by).orderBy(v.asc(), i.asc())
    wc = Window.partitionBy(*by)
    med = (
        df.withColumn("__rn", F.row_number().over(w1))
        .withColumn("__cnt", F.count(F.lit(1)).over(wc))
        .where(F.col("__rn") == F.expr("CAST(ceil(__cnt / 2.0) AS INT)"))
        .select(*by, v.alias("__med"))
    )
    j = df.join(F.broadcast(med), on=by, how="left")
    dev = F.abs(v - F.col("__med"))
    w2 = Window.partitionBy(*by).orderBy(dev.asc(), i.asc())
    mad = (
        j.withColumn("__rn", F.row_number().over(w2))
        .withColumn("__cnt", F.count(F.lit(1)).over(wc))
        .where(F.col("__rn") == F.expr("CAST(ceil(__cnt / 2.0) AS INT)"))
        .select(*by, dev.alias("__mad"))
    )
    out = j.join(F.broadcast(mad), on=by, how="left")
    scaled = (v - F.col("__med")) / F.when(F.col("__mad") != 0, F.col("__mad"))
    return out.withColumn(f"{value_col}{suffix}", scaled).drop("__med", "__mad")
