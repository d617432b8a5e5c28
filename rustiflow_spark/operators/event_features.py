"""Generic keyed-event sessionization + feature extraction operator.

The production north-rule pipeline: an Iceberg/parquet table of keyed,
timestamped events (e.g. pre-tokenized training sequences keyed by
(source, doc_id), or a user-event stream keyed by user_id) is sessionized
with the reference's timeout semantics and reduced to one feature vector
per session.

Plan shape of the kernel path (one shuffle):

    scan -> repartition(key) -> sortWithinPartitions(key, ts, seq)
         -> mapInArrow(block kernel over kernel/key_runs.key_blocks)
         -> feature rows

``strategy='catalyst'`` (or 'auto') replaces the Python stage with
windows + aggregations (sessionize_events_catalyst). With scan_mode
'exact' or 'bucket', building the query also runs one timeline query
over the ts column (timeline.compute_timeline); with 'none' it submits no job.

``assign_sessions`` instead returns the input rows annotated with
(session_index, session_cause) — the payload columns (e.g. ``tokens``)
pass through byte-identical, which the tests assert per the input_hint
token-equality invariant.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from rustiflow_spark.config import EngineConfig
from rustiflow_spark.kernel.event_kernel import EVENT_FEATURE_COLUMNS
from rustiflow_spark.kernel.key_runs import _require_no_nulls, key_blocks, record_batch
from rustiflow_spark.timeline import compute_timeline


# active timeouts at/above this (seconds) count as "disabled" in the
# Catalyst plan, which then skips the active-cut refinement passes
# (_with_session_boundaries) — ~116 days of continuous single-session
# activity
_ACTIVE_DISABLED_S = 10_000_000

# Auto partition sizing for the Catalyst window path: target bytes of
# (optimizer-estimated) input per sort partition. AQE coalesces partitions
# that are too small but can never split an oversized sort partition, so
# under-provisioning silently goes 2-3x slow/spill-bound (BENCH.md 64M
# table) — over-provision from plan statistics instead. The target is
# deliberately small because plan sizeInBytes for a parquet scan is the
# COMPRESSED file size; the in-memory sort working set expands ~5-10x.
# Measured on 64M events / ~910 MB parquet (single JVM, local[32]):
# 114 partitions 40.0s (spill cliff), 227 -> 20.4s, 455 -> 18.7s,
# 910 -> 17.6s — under-partitioning is catastrophic, over-partitioning
# nearly free, so target the flat part of the curve (~2 MB source bytes
# per partition). The explicit repartition also bypasses AQE's
# 64MB-advisory coalescing, which otherwise collapses a well-sized
# shuffle back onto the cliff (measured: conf=256 coalesced to 35).
_TARGET_SORT_BYTES = 2 << 20


def _auto_partitions(df: DataFrame, key_cols: list[str]) -> int | None:
    """Shuffle-partition count derived from optimizer size statistics:
    ceil(estimated bytes / _TARGET_SORT_BYTES), clamped to
    [default parallelism, 2^20]. None when statistics are unusable."""
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None
    if size <= 0 or size >= 1 << 60:  # unknown-stats sentinel
        return None
    sc = df.sparkSession.sparkContext
    n = max(int(sc.defaultParallelism), -(-size // _TARGET_SORT_BYTES))
    return min(n, 1 << 20)


def _maybe_repartition(
    df: DataFrame, key_cols: list[str], num_partitions: int | str | None
) -> DataFrame:
    if num_partitions == "auto":
        num_partitions = _auto_partitions(df, key_cols)
    if num_partitions:
        return df.repartition(int(num_partitions), *key_cols)
    return df


def _with_session_boundaries(
    rows: DataFrame,
    key_cols: list[str],
    cfg: EngineConfig,
    ts_col: str,
    term_expr: str,
    order_col: str | None,
    active_passes: int = 8,
) -> DataFrame:
    """Adds __gap, __new (final session-start flag) and __sid (running
    per-key 1-based session id) with the kernel's exact cut semantics
    (kernel/segmented.py:segment_block): idle gap >= (idle+1)s, previous
    event a terminator, and active-timeout recursion — the cut lands on the
    first event at or past session_first_ts + (active+1)s, re-anchoring
    there.

    The active recursion is inherently sequential, but each renewal
    advances the anchor by >= the active cut, so it is resolved with
    ``active_passes`` window passes over the SAME (key, ts, seq) sort (no
    extra Exchange or Sort): pass i finds the i-th active cut of every
    idle-episode in parallel. Episodes needing more than ``active_passes``
    cuts (continuous activity > passes x active_timeout without an idle
    gap) are caught by the callers' duration guard, which raises loudly
    instead of diverging. With the active timeout disabled
    (>= _ACTIVE_DISABLED_S) the refinement passes are skipped entirely.
    """
    idle_cut = (cfg.idle_timeout + 1) * 1_000_000
    active_cut = (cfg.active_timeout + 1) * 1_000_000
    kq = ", ".join(f"`{c}`" for c in key_cols)
    ob = f"`{ts_col}`" + (f", `{order_col}`" if order_col else "")
    wk = f"PARTITION BY {kq} ORDER BY {ob}"
    run = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"

    rows = rows.selectExpr(
        "*", f"`{ts_col}` - lag(`{ts_col}`) OVER ({wk}) as __gap"
    )
    new_sess = (
        f"case when __gap is null or __gap >= {idle_cut}L then 1 "
        + (f"when lag({term_expr}) OVER ({wk}) > 0 then 1 " if term_expr != "0" else "")
        + "else 0 end"
    )
    rows = rows.selectExpr("*", f"{new_sess} as __new")
    if cfg.active_timeout < _ACTIVE_DISABLED_S:
        for _ in range(active_passes):
            # anchor: ts of the latest known session start; a session's
            # rows are non-decreasing in ts, so "crossed the active cut"
            # is monotone within it — the first crossing row (lag not yet
            # crossed) is exactly the kernel's searchsorted-left cut.
            rows = rows.selectExpr(
                "*",
                f"`{ts_col}` >= last(case when __new = 1 then `{ts_col}` end, true) "
                f"OVER ({wk} {run}) + {active_cut}L as __x",
            ).selectExpr(
                *[c for c in rows.columns if c != "__new"],
                "case when __new = 1 or (__x and not coalesce(lag(__x) "
                f"OVER ({wk}), false)) then 1 else 0 end as __new",
            )
            rows = rows.drop("__x")
    return rows.selectExpr("*", f"sum(__new) OVER ({wk} {run}) as __sid")


def _column_block(name: str) -> str | None:
    """Feature block owning a column (None = always-on core column)."""
    if name.startswith(("n_tok", "fwd_n_tok", "bwd_n_tok")):
        return "value"
    if "iat" in name:
        return "iat"
    if name.startswith(("active_", "idle_")):
        return "active_idle"
    if name == "subflow_count":
        return "subflow"
    if name.endswith("_per_s") or name == "down_up_ratio":
        return "rates"
    if name in ("fwd_event_count", "bwd_event_count", "fwd_duration_ms", "bwd_duration_ms"):
        return "direction"
    return None


def _feature_schema(
    df: DataFrame, key_cols: list[str], blocks: frozenset | None = None
) -> T.StructType:
    from rustiflow_spark.kernel.segmented import FEATURE_BLOCKS

    want = frozenset(FEATURE_BLOCKS) if blocks is None else frozenset(blocks)
    # per-direction value/iat stats exist only when a block that needs the
    # direction split is requested — mirrors the kernel's and the Catalyst
    # builder's need_dir gate, so the schema never names a column no path
    # emits (which surfaced as NaN columns / unresolved-column errors)
    need_dir = "direction" in want or "rates" in want
    fields = [f for f in df.schema.fields if f.name in key_cols]
    for name in EVENT_FEATURE_COLUMNS:
        blk = _column_block(name)
        if blk is not None and blk not in want:
            continue
        if not need_dir and name.startswith(
            ("fwd_n_tok", "bwd_n_tok", "fwd_iat", "bwd_iat")
        ):
            continue
        if name in ("session_index", "event_count", "fwd_event_count", "bwd_event_count",
                    "subflow_count"):
            fields.append(T.StructField(name, T.IntegerType()))
        elif name in ("first_ts_us", "last_ts_us", "duration_us"):
            fields.append(T.StructField(name, T.LongType()))
        elif name == "cause":
            fields.append(T.StructField(name, T.StringType()))
        else:
            fields.append(T.StructField(name, T.DoubleType()))
    return T.StructType(fields)


def sessionize_events(
    df: DataFrame,
    key_cols: list[str],
    cfg: EngineConfig | None = None,
    ts_col: str = "ts_us",
    value_col: str = "n_tok",
    direction_col: str | None = "direction",
    terminator_col: str | None = "terminator",
    order_col: str | None = "event_seq",
    num_partitions: int | None = None,
    features: list[str] | None = None,
    flush_ts: int | None = None,
    strategy: str = "kernel",
) -> DataFrame:
    """One row per session with the event feature vector (EVENT_FEATURE_COLUMNS).

    Scale path: hash-repartition by key, sort within partitions by
    (key, ts, seq), then a mapInArrow pass over the sorted stream feeds the
    segment-vectorized block kernel (kernel/segmented.py). Arrow batches that
    split a key are stitched into whole key runs by kernel/key_runs.key_blocks
    — so the plan is exactly one shuffle and the Python stage does no
    per-session work.

    features: optional subset of kernel.segmented.FEATURE_BLOCKS — prunes
    both computation and the Arrow-returned columns (the session output can
    exceed the input volume for sparse keys; see the module docstring of
    kernel/segmented.py).

    flush_ts: time leftover sessions are flushed at ("Exporter Shutdown"
    close time). Optional: no output depends on it, and None flushes at
    end of input (timeline.END_OF_INPUT_US) without reading the input.

    The ts, value, direction and terminator columns must not hold NULL:
    the kernel raises rather than decoding one into an integer.

    strategy: 'kernel' (default) always runs the Arrow block kernel;
    'catalyst' forces the zero-Python windows+aggregations plan
    (sessionize_events_catalyst, same output, raises if the configuration
    needs the kernel); 'auto' picks the Catalyst plan when the
    configuration permits it (scan_mode 'none') and the kernel otherwise.
    Finite active timeouts ride the Catalyst plan too (bounded-pass cut
    refinement, exact up to 8 renewals per idle-episode); the Catalyst
    path carries a runtime guard that fails loudly (rather than
    diverging) if an idle-episode needs more cuts than that.
    """
    from rustiflow_spark.kernel.segmented import featurize_block

    cfg = cfg or EngineConfig()
    if strategy not in ("kernel", "catalyst", "auto"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy != "kernel":
        eligible = cfg.scan_mode == "none"
        if strategy == "catalyst" and not eligible:
            raise ValueError(
                "strategy='catalyst' requires scan_mode='none'; use the "
                "kernel path"
            )
        if eligible:
            out = sessionize_events_catalyst(
                df,
                key_cols,
                cfg,
                ts_col=ts_col,
                value_col=value_col,
                direction_col=direction_col,
                terminator_col=terminator_col,
                order_col=order_col,
                num_partitions=num_partitions if num_partitions else "auto",
                features=features,
            )
            schema = _feature_schema(
                df, key_cols, None if features is None else frozenset(features)
            )
            return out.selectExpr(
                *[
                    f"cast(`{f.name}` as {f.dataType.simpleString()}) as `{f.name}`"
                    for f in schema.fields
                ]
            )
    blocks = None if features is None else frozenset(features)
    scan_times, flush_ts = compute_timeline(df, ts_col, cfg, flush_ts=flush_ts)
    schema = _feature_schema(df, key_cols, blocks)
    out_cols = [f.name for f in schema.fields]
    sort_cols = key_cols + [ts_col] + ([order_col] if order_col else [])
    needed = list(
        dict.fromkeys(
            key_cols
            + [ts_col, value_col]
            + ([direction_col] if direction_col else [])
            + ([terminator_col] if terminator_col else [])
            + ([order_col] if order_col else [])
        )
    )

    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)

    numeric = [c for c in (ts_col, value_col, direction_col, terminator_col) if c]

    def process_block(block, key_ids: np.ndarray):
        _require_no_nulls(block, numeric)
        cols = {
            c: block.column(c).to_numpy(zero_copy_only=False) for c in numeric
        }
        ts = cols[ts_col].astype(np.int64, copy=False)
        value = cols[value_col].astype(np.float64, copy=False)
        direction = (
            cols[direction_col].astype(np.int64, copy=False)
            if direction_col
            else np.zeros(ts.size, dtype=np.int64)
        )
        terminator = (
            cols[terminator_col].astype(np.int64, copy=False)
            if terminator_col
            else np.zeros(ts.size, dtype=np.int64)
        )
        res = featurize_block(
            key_ids, ts, value, direction, terminator, cfg,
            scan_times, flush_ts, blocks=blocks,
        )
        rows = res.pop("session_row")
        for col in key_cols:
            res[col] = block.column(col).take(rows)
        return record_batch(res, arrow_schema)

    def run_partition(batches):
        for block, key_ids in key_blocks(batches, key_cols):
            yield process_block(block, key_ids)

    keyed = df.select(*needed)
    parts = num_partitions
    if parts:
        keyed = keyed.repartition(parts, *key_cols)
    else:
        keyed = keyed.repartition(*key_cols)
    keyed = keyed.sortWithinPartitions(*sort_cols)
    if order_col and order_col not in key_cols + numeric:
        # the kernel reads the sequence only as the sort's tiebreak
        keyed = keyed.drop(order_col)
    return keyed.mapInArrow(run_partition, schema=schema)


def assign_sessions(
    df: DataFrame,
    key_cols: list[str],
    cfg: EngineConfig | None = None,
    ts_col: str = "ts_us",
    terminator_col: str | None = "terminator",
    order_col: str | None = "event_seq",
    flush_ts: int | None = None,
    strategy: str = "kernel",
) -> DataFrame:
    """Annotate events with (session_index, session_cause); every input
    column — including array payloads like ``tokens`` — passes through
    unchanged (exact-equality invariant, BASELINE.json input_hint).

    strategy: as in sessionize_events — 'auto' takes the zero-Python
    window plan (assign_sessions_catalyst) whenever scan is off (finite
    active timeouts included, via bounded-pass cut refinement), which
    keeps the payload bytes out of the Arrow round trip entirely.

    flush_ts: as in sessionize_events. The ts and terminator columns must
    not hold NULL (the kernel path raises).
    """
    from rustiflow_spark.kernel.segmented import (
        _CAUSE_STRINGS,
        _per_key_ordinal,
        close_sessions,
        segment_block,
    )

    cfg = cfg or EngineConfig()
    if strategy not in ("kernel", "catalyst", "auto"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy != "kernel":
        eligible = cfg.scan_mode == "none"
        if strategy == "catalyst" and not eligible:
            raise ValueError(
                "strategy='catalyst' requires scan_mode='none'; use the "
                "kernel path"
            )
        if eligible:
            return assign_sessions_catalyst(
                df,
                key_cols,
                cfg,
                ts_col=ts_col,
                terminator_col=terminator_col,
                order_col=order_col,
            )
    scan_times, flush_ts = compute_timeline(df, ts_col, cfg, flush_ts=flush_ts)
    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("session_index", T.IntegerType()),
            T.StructField("session_cause", T.StringType()),
        ]
    )
    sort_cols = key_cols + [ts_col] + ([order_col] if order_col else [])

    # the annotator only reads (key, ts, terminator) and appends two
    # columns: every payload column (array payloads like `tokens`
    # included) rides through as untouched Arrow buffers
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)

    def process_block(b, key_ids: np.ndarray):
        import pyarrow as pa

        _require_no_nulls(b, [ts_col] + ([terminator_col] if terminator_col else []))
        ts = (
            b.column(ts_col)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64, copy=False)
        )
        terminator = (
            b.column(terminator_col)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64, copy=False)
            if terminator_col
            else np.zeros(ts.size, dtype=np.int64)
        )
        starts = segment_block(key_ids, ts, terminator, cfg)
        ends = np.append(starts[1:], ts.size)
        cause, _, _ = close_sessions(
            starts, ends, key_ids, ts, terminator, cfg, scan_times, flush_ts
        )
        ordinal = _per_key_ordinal(key_ids[starts])
        lengths = ends - starts
        si = pa.array(
            np.repeat(ordinal, lengths).astype(np.int32), type=pa.int32()
        )
        sc_ = pa.array(
            np.repeat(_CAUSE_STRINGS[cause], lengths),
            type=pa.string(),
            from_pandas=True,
        )
        return pa.RecordBatch.from_arrays(
            list(b.columns) + [si, sc_], schema=arrow_schema
        )

    def run_partition(batches):
        for block, key_ids in key_blocks(batches, key_cols):
            yield process_block(block, key_ids)

    keyed = df.repartition(*key_cols).sortWithinPartitions(*sort_cols)
    return keyed.mapInArrow(run_partition, schema=schema)


def sessionize_events_catalyst(
    df: DataFrame,
    key_cols: list[str],
    cfg: EngineConfig | None = None,
    ts_col: str = "ts_us",
    value_col: str = "n_tok",
    direction_col: str | None = "direction",
    terminator_col: str | None = "terminator",
    order_col: str | None = "event_seq",
    num_partitions: int | str | None = "auto",
    active_passes: int = 8,
    features: list[str] | None = None,
) -> DataFrame:
    """Pure-Catalyst sessionization fast path — no Python workers at all.

    features: optional subset of kernel.segmented.FEATURE_BLOCKS — the
    same pruning knob the kernel path has, pushed into the plan itself:
    unrequested feature families contribute NO window expressions and NO
    aggregates (Catalyst cannot prune an unused window function whose
    frame differs from the projection, so this must happen at plan
    construction; measured 1.5x on the pruned session_features shape at
    10M events).

    When the configuration allows it, the whole operator is windows +
    aggregations that stay inside whole-stage codegen: the Arrow round trip
    (the single largest cost of the kernel path at high core counts, see
    BENCH.md round 3) disappears. Output schema and values match
    ``sessionize_events`` (asserted by tests/test_catalyst_sessionize.py).

    Finite active timeouts are supported: the kernel's active-timeout
    recursion (segmented.py:segment_block) is resolved with
    ``active_passes`` extra window passes over the same sort — exact for
    up to ``active_passes`` consecutive active renewals per idle-episode
    (default 8 = continuous gap-free activity for 8x the active timeout);
    beyond that the duration guard raises loudly (never diverges) and
    points at the kernel path. Causes match close_sessions exactly:
    terminator > 'Active Timeout' (next same-key session starts at/past
    first_ts + (active+1)s) > 'Idle Timeout' > 'Exporter Shutdown'.

    Restriction: ``scan_mode`` must be 'none' (the periodic-scan close
    timestamps are a sequential construct) — use the kernel otherwise.

    Sizing: the window sorts must fit execution memory; AQE coalesces
    small partitions but never splits large ones. num_partitions='auto'
    (default) derives the sort partition count from optimizer size
    statistics (_auto_partitions) and pre-repartitions by key, which the
    window Exchange then reuses; pass an int to force, or None to use the
    session's spark.sql.shuffle.partitions.

    Skew: a heavy-hitter key serializes inside one window task here, same
    as it would in any partitionBy(key) plan (and in the kernel path's
    one sorted partition). Splitting a hot key would need a cross-split
    ordinal/cause handoff, which this single-sort plan does not attempt.
    """
    from rustiflow_spark.config import (
        ACTIVE_IDLE_TIMEOUT_US,
        CAUSE_ACTIVE,
        CAUSE_IDLE,
        CAUSE_SHUTDOWN,
        CAUSE_TCP_TERM,
        SUBFLOW_TIMEOUT_US,
    )

    from rustiflow_spark.kernel.segmented import FEATURE_BLOCKS

    cfg = cfg or EngineConfig()
    if cfg.scan_mode != "none":
        raise ValueError(
            "sessionize_events_catalyst requires scan_mode='none'; the "
            "periodic expiry scan needs the kernel path"
        )
    active_cut = (cfg.active_timeout + 1) * 1_000_000
    want = frozenset(FEATURE_BLOCKS) if features is None else frozenset(features)
    need_dir = "direction" in want or "rates" in want

    # The whole plan is built from SQL strings (one py4j round trip per
    # expression) rather than Column trees: Column-by-Column construction
    # of this many expressions costs ~1 s of pure driver-side py4j latency
    # per query invocation. Every window rides the SAME (key, ts, seq)
    # sort order, so Catalyst plans exactly one Exchange + one Sort for
    # all of them.
    AIT = ACTIVE_IDLE_TIMEOUT_US
    SFT = SUBFLOW_TIMEOUT_US
    kq = ", ".join(f"`{c}`" for c in key_cols)
    keysel = [f"`{c}`" for c in key_cols]
    fwd = f"(`{direction_col}` = 0)" if direction_col else "true"
    term = f"`{terminator_col}`" if terminator_col else "0"
    df = _maybe_repartition(df, key_cols, num_partitions)
    rows = df.selectExpr(
        *keysel,
        f"`{ts_col}` as __ts",
        *([f"`{order_col}` as __seq"] if order_col else []),
        f"cast(`{value_col}` as double) as __val",
        f"{fwd} as __fwd",
        f"{term} as __t",
    )
    rows = _with_session_boundaries(
        rows, key_cols, cfg, "__ts",
        "__t" if terminator_col else "0",
        "__seq" if order_col else None,
        active_passes=active_passes,
    )

    ob = "__ts" + (", __seq" if order_col else "")
    wk = f"PARTITION BY {kq} ORDER BY {ob}"
    run = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    rows = rows.selectExpr(
        "*",
        "case when __new = 1 then null else __gap end as __ig",
        # span start: first event of the session, or a big (>5s) gap;
        # __gap is null only on episode-opening rows, where __new = 1
        *([f"(__new = 1 or __gap > {AIT}L) as __sstart"]
          if "active_idle" in want else []),
    )
    ws = f"PARTITION BY {kq}, __sid ORDER BY {ob}"
    allf = "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
    prev = "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    # __term_last (per-ROW session-constant terminator flag) is only
    # consumed per row by the active_idle span kernel; every other use is
    # the per-SESSION `__term > 0` test, which max(__t) answers in the
    # aggregate: a positive __t cuts the session immediately after its
    # row, so only the last row of a session can be positive and
    # max(__t) > 0 <=> last(__t) > 0. Skipping the window expression
    # drops a whole Window pass from the pruned plan (guide §1.2 — the
    # bench shape runs 2 window passes instead of 3; measured ~1.3x at
    # sf1.0).
    win_exprs = (
        [f"last(__t) OVER ({ws} {allf}) as __term_last"]
        if "active_idle" in want
        else []
    )
    post_exprs = []
    if "active_idle" in want:
        win_exprs += [
            f"last(case when __sstart then __ts end, true) OVER ({ws} {run}) as __span_ts",
            f"lead(__sstart) OVER ({ws}) as __lead_sstart",
        ]
        post_exprs += [
            "coalesce(__lead_sstart, true) as __send",
            "__lead_sstart is null as __strail",
        ]
    if "iat" in want and need_dir:
        win_exprs += [
            f"last(case when __fwd then __ts end, true) OVER ({ws} {prev}) as __pf",
            f"last(case when not __fwd then __ts end, true) OVER ({ws} {prev}) as __pb",
        ]
        post_exprs += [
            "case when __fwd then __ts - __pf else __ts - __pb end as __dgap",
        ]
    rows = rows.selectExpr("*", *win_exprs)
    if post_exprs:
        rows = rows.selectExpr("*", *post_exprs)

    aggs: list[str] = []

    def st(x: str, pre: str) -> None:
        aggs.extend([
            f"coalesce(sum({x}), 0.0D) as {pre}_total",
            f"coalesce(avg({x}), 0.0D) as {pre}_mean",
            f"coalesce(stddev_pop({x}), 0.0D) as {pre}_std",
            f"coalesce(max({x}), 0.0D) as {pre}_max",
            f"coalesce(min({x}), 0.0D) as {pre}_min",
        ])

    vf = "(case when __fwd then __val end)"
    vb = "(case when not __fwd then __val end)"
    # active spans, evaluated on span-end rows (no extra grouping level or
    # join): span duration = __ts - running span-start ts; the trailing
    # span counts only when the session is closed (every non-terminator
    # session here, since scan_mode is 'none')
    dk = (
        "(case when __send and ((__ts - __span_ts) / 1000.0D) > 0.0D "
        "and ((not __strail) or __term_last = 0) "
        "then (__ts - __span_ts) / 1000.0D end)"
    )
    big = f"(case when __ig > {AIT} then __ig / 1000.0D end)"
    aggs.extend([
        "min(__ts) as first_ts_us",
        "max(__ts) as last_ts_us",
        "count(*) as event_count",
        f"count({vf}) as fwd_event_count",
        f"count({vb}) as bwd_event_count",
        "max(__term_last) as __term" if "active_idle" in want
        else "max(__t) as __term",
    ])
    if "active_idle" in want:
        st(dk, "active")
    if "value" in want:
        st("__val", "n_tok")
        if need_dir:
            st(vf, "fwd_n_tok")
            st(vb, "bwd_n_tok")
    elif "rates" in want:
        # rates need the totals even when the value block is pruned
        aggs.extend([
            "coalesce(sum(__val), 0.0D) as n_tok_total",
            f"coalesce(sum({vf}), 0.0D) as fwd_n_tok_total",
            f"coalesce(sum({vb}), 0.0D) as bwd_n_tok_total",
        ])
    if "iat" in want:
        st("(__ig / 1000.0D)", "iat")
        if need_dir:
            st("(case when __fwd then __dgap / 1000.0D end)", "fwd_iat")
            st("(case when not __fwd then __dgap / 1000.0D end)", "bwd_iat")
    if "subflow" in want:
        aggs.append(f"1 + count(case when __ig > {SFT} then 1 end) as subflow_count")
    if "active_idle" in want:
        aggs.extend([
            f"count({big}) as __b_n",
            f"coalesce(sum({big}), 0.0D) as __b_s",
            f"coalesce(avg({big}), 0.0D) as __b_mean",
            f"coalesce(var_pop({big}), 0.0D) * count({big}) as __b_m2",
            f"max({big}) as __b_max",
            f"min({big}) as __b_min",
        ])
    if "direction" in want:
        aggs.extend([
            "max(case when __fwd then __ts end) - min(case when __fwd then __ts end) as __f_dur",
            "max(case when not __fwd then __ts end) - min(case when not __fwd then __ts end) as __b_dur",
        ])
    agg = rows.groupBy(*key_cols, "__sid").agg(*[F.expr(s) for s in aggs])

    # trailing idle gap (closed Idle-Timeout sessions ONLY, matching
    # featurize_block's `closed & cause == IDLE` gate): merge ONE value
    # into the big-gap moments with the exact Chan single-element update.
    # A session whose successor starts at/past first_ts + active_cut is
    # 'Active Timeout'-closed and gets NO trailing idle merge.
    agg = agg.selectExpr(
        "*",
        f"lead(first_ts_us) OVER (PARTITION BY {kq} ORDER BY __sid) as __next_first",
    )
    if "active_idle" in want:
        agg = agg.selectExpr(
            "*",
            "case when __term > 0 or __next_first is null "
            f"or __next_first >= first_ts_us + {active_cut}L then null "
            "else (__next_first - last_ts_us) / 1000.0D end as __tr",
        )

    # Convergence guard for the bounded active-cut refinement: by
    # construction every session's duration is < active_cut unless an
    # episode needed more than `active_passes` cuts — fail loudly there.
    terr = (
        "raise_error('sessionize_events_catalyst: an episode needed more "
        "active-timeout cuts than active_passes; raise active_passes or "
        "use the kernel path (sessionize_events)')"
    )
    cause = (
        f"case when last_ts_us - first_ts_us >= {active_cut}L then {terr} "
        f"when __term > 0 then '{CAUSE_TCP_TERM}' "
        f"when __next_first >= first_ts_us + {active_cut}L then '{CAUSE_ACTIVE}' "
        f"when __next_first is not null then '{CAUSE_IDLE}' "
        f"else '{CAUSE_SHUTDOWN}' end as cause"
    )
    i_m2 = "(__b_m2 + (__tr - __b_mean) * (__tr - __b_mean) * __b_n / (__b_n + 1))"
    dur_s = "((last_ts_us - first_ts_us) / 1000000.0D)"

    def rate(x: str, name: str) -> str:
        return (
            f"case when last_ts_us - first_ts_us > 0 then {x} / {dur_s} "
            f"else 0.0D end as {name}"
        )

    out_exprs = [
        *[f"`{c}`" for c in key_cols],
        "cast(__sid - 1 as int) as session_index",
        "first_ts_us",
        "last_ts_us",
        "last_ts_us - first_ts_us as duration_us",
        cause,
        "cast(event_count as int) as event_count",
    ]
    if need_dir:
        out_exprs += [
            "cast(fwd_event_count as int) as fwd_event_count",
            "cast(bwd_event_count as int) as bwd_event_count",
        ]
    if "value" in want:
        out_exprs += [
            f"n_tok_{s}" for s in ("total", "mean", "std", "max", "min")
        ]
        if need_dir:
            out_exprs += [
                f"{b}_{s}" for b in ("fwd_n_tok", "bwd_n_tok")
                for s in ("total", "mean", "std", "max", "min")
            ]
    if "iat" in want:
        out_exprs += [f"iat_{s}" for s in ("total", "mean", "std", "max", "min")]
        if need_dir:
            out_exprs += [
                f"{b}_{s}" for b in ("fwd_iat", "bwd_iat")
                for s in ("total", "mean", "std", "max", "min")
            ]
    if "active_idle" in want:
        out_exprs += [
            "active_total", "active_mean", "active_std", "active_max", "active_min",
            "case when __tr is not null then __b_s + __tr else __b_s end as idle_total",
            "case when __tr is not null then (__b_s + __tr) / (__b_n + 1) "
            "else __b_mean end as idle_mean",
            f"case when __tr is not null then sqrt(greatest({i_m2} / (__b_n + 1), 0.0D)) "
            "else sqrt(greatest(case when __b_n > 0 then __b_m2 / __b_n else 0.0D end, 0.0D)) "
            "end as idle_std",
            "case when __tr is not null then greatest(coalesce(__b_max, __tr), __tr) "
            "else coalesce(__b_max, 0.0D) end as idle_max",
            "case when __tr is not null then least(coalesce(__b_min, __tr), __tr) "
            "else coalesce(__b_min, 0.0D) end as idle_min",
        ]
    if "subflow" in want:
        out_exprs.append("cast(subflow_count as int) as subflow_count")
    if "rates" in want:
        out_exprs += [
            rate("n_tok_total", "tok_per_s"),
            rate("cast(event_count as double)", "events_per_s"),
            rate("fwd_n_tok_total", "fwd_tok_per_s"),
            rate("bwd_n_tok_total", "bwd_tok_per_s"),
            "case when fwd_event_count > 0 "
            "then bwd_event_count / cast(fwd_event_count as double) "
            "else 0.0D end as down_up_ratio",
        ]
    if "direction" in want:
        out_exprs += [
            "coalesce(__f_dur / 1000.0D, 0.0D) as fwd_duration_ms",
            "coalesce(__b_dur / 1000.0D, 0.0D) as bwd_duration_ms",
        ]
    return agg.selectExpr(*out_exprs)


def assign_sessions_catalyst(
    df: DataFrame,
    key_cols: list[str],
    cfg: EngineConfig | None = None,
    ts_col: str = "ts_us",
    terminator_col: str | None = "terminator",
    order_col: str | None = "event_seq",
    num_partitions: int | str | None = "auto",
    active_passes: int = 8,
) -> DataFrame:
    """Pure-Catalyst row-level session annotation — payload stays JVM-side.

    The kernel path (assign_sessions) ships EVERY column — including array
    payloads like ``tokens`` — through Arrow to Python and back; this plan
    annotates (session_index, session_cause) with window expressions over
    one (key, ts, seq) sort, so the payload bytes never leave Tungsten
    rows. Output equals assign_sessions exactly (tests).

    Finite active timeouts, causes, sizing and the loud convergence guard
    behave as in sessionize_events_catalyst (same boundary helper).
    """
    from rustiflow_spark.config import (
        CAUSE_ACTIVE,
        CAUSE_IDLE,
        CAUSE_SHUTDOWN,
        CAUSE_TCP_TERM,
    )

    cfg = cfg or EngineConfig()
    if cfg.scan_mode != "none":
        raise ValueError(
            "assign_sessions_catalyst requires scan_mode='none'; the "
            "periodic expiry scan needs the kernel path"
        )
    active_cut = (cfg.active_timeout + 1) * 1_000_000
    in_cols = [f.name for f in df.schema.fields]
    term = f"`{terminator_col}`" if terminator_col else "0"
    kq = ", ".join(f"`{c}`" for c in key_cols)
    ob = f"`{ts_col}`" + (f", `{order_col}`" if order_col else "")
    wk = f"PARTITION BY {kq} ORDER BY {ob}"
    ws_all = f"PARTITION BY {kq}, __sid"

    df = _maybe_repartition(df, key_cols, num_partitions)
    rows = _with_session_boundaries(
        df, key_cols, cfg, ts_col, term, order_col, active_passes=active_passes
    )
    rows = rows.selectExpr(
        "*",
        f"max({term}) OVER ({ws_all}) as __term",
        f"min(`{ts_col}`) OVER ({ws_all}) as __first",
        f"max(`{ts_col}`) OVER ({ws_all}) as __last",
        f"lead(`{ts_col}`) OVER ({wk}) as __lead_ts",
        f"lead(__sid) OVER ({wk}) as __lead_sid",
    ).selectExpr(
        "*",
        # next same-key session's first ts, broadcast to every session row:
        # the candidate is non-null only on the session's last row (the
        # next row in (ts, seq) order opens the next session)
        "case when __lead_sid is null or __lead_sid != __sid "
        "then __lead_ts end as __nf_cand",
    )
    rows = rows.selectExpr(
        "*", f"max(__nf_cand) OVER ({ws_all}) as __next_first"
    )
    terr = (
        "raise_error('assign_sessions_catalyst: an episode needed more "
        "active-timeout cuts than active_passes; raise active_passes or "
        "use assign_sessions (kernel path)')"
    )
    cause = (
        f"case when __last - __first >= {active_cut}L then {terr} "
        f"when __term > 0 then '{CAUSE_TCP_TERM}' "
        f"when __next_first >= __first + {active_cut}L then '{CAUSE_ACTIVE}' "
        f"when __next_first is not null then '{CAUSE_IDLE}' "
        f"else '{CAUSE_SHUTDOWN}' end"
    )
    return rows.selectExpr(
        *[f"`{c}`" for c in in_cols],
        "cast(__sid - 1 as int) as session_index",
        f"{cause} as session_cause",
    )
