"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship sessionized-feature pipeline on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2);
``oracle_sql()`` — DuckDB-equivalent SQL for each (same column names; floats
rounded identically on both sides).

Engine mapping for the driver ``events`` table (TESTDATA.md):
key=user_id, event time=unix microseconds of ts, value as the n_tok/length
analog, direction = event_id % 2, terminator = event_type == 'purchase'
(the TCP-termination analog). All mappings are deterministic and expressed
identically in Spark and DuckDB SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F

IDLE_S = 1800  # 30 min gap sessionization for the events table
BIG_ACTIVE_S = 10_000_000  # effectively disables the active timeout (SQL-oracle queries)

_SHIPPED_SESSIONS: set[int] = set()


def _ensure_package_shipped(spark: SparkSession) -> None:
    """Make rustiflow_spark importable in executor Python workers even when
    the SparkSession was created before this module set PYTHONPATH (the
    production path is spark-submit --py-files; this is the library-mode
    equivalent via addPyFile)."""
    key = id(spark.sparkContext)
    if key in _SHIPPED_SESSIONS:
        return
    conf = spark.sparkContext.getConf()
    if conf.get("spark.python.daemon.module") == "rustiflow_spark.worker_daemon":
        return  # workers run a daemon from this package: it imports already
    import shutil
    import tempfile

    repo = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(repo, "rustiflow_spark")
    zip_base = os.path.join(tempfile.gettempdir(), "rustiflow_spark_pkg")
    zip_path = zip_base + ".zip"
    # rebuild whenever any package source is newer than the cached zip —
    # a stale cache would ship outdated code to the executors
    src_mtime = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(pkg)
        for f in files
        if f.endswith(".py")
    )
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < src_mtime:
        staging = tempfile.mkdtemp()
        shutil.copytree(
            pkg,
            os.path.join(staging, "rustiflow_spark"),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
        out_dir = tempfile.mkdtemp()
        tmp_zip = shutil.make_archive(
            os.path.join(out_dir, "rustiflow_spark_pkg"), "zip", staging
        )
        shutil.move(tmp_zip, zip_path)
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already added or unsupported; PYTHONPATH may still cover it
    _SHIPPED_SESSIONS.add(key)


def _stride_seed_ids(emb: DataFrame, n_seeds: int) -> list[int]:
    """Every stride-th vec_id in sorted order (stride = max(1, n // k)) —
    the positional seeding the ANN/PQ/SemDeDup fit oracles replay. ONE
    job: the total count rides the same ids-only one-task sort as the
    row numbers (count() OVER ()), where the round-5 builders ran a
    separate full-table count() first (guide §1.2 — two scans per
    build for numbers one pass provides)."""
    from pyspark.sql import Window

    rows = (
        emb.select("vec_id")
        .withColumn(
            "__rn", F.row_number().over(Window.orderBy("vec_id")) - 1
        )
        .withColumn("__n", F.count("*").over(Window.partitionBy()))
        .withColumn(
            "__stride", F.expr(f"greatest(1L, __n div {int(n_seeds)})")
        )
        .where(
            (F.col("__rn") % F.col("__stride") == 0)
            & (F.col("__rn") < n_seeds * F.col("__stride"))
        )
        .select("vec_id")
        .collect()
    )
    return [int(r["vec_id"]) for r in rows][:n_seeds]


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    # TIMESTAMP_NTZ -> epoch µs, independent of the session time zone
    # (matches DuckDB's epoch_us on naive timestamps); selectExpr keeps
    # plan construction to a handful of py4j round trips
    return df.selectExpr(
        "user_id",
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) as ts_us",
        "value",
        "cast(event_id % 2 as int) as direction",
        "cast(case when event_type = 'purchase' then 1 else 0 end as int) as terminator",
        "event_id as event_seq",
        "event_type",
    )


def _engine_cfg():
    from rustiflow_spark.config import EngineConfig

    return EngineConfig(
        active_timeout=BIG_ACTIVE_S, idle_timeout=IDLE_S, scan_mode="none"
    )


def _events_flush_us(sf_dir: str) -> int | None:
    """Max epoch µs of events.ts from parquet footer statistics — no data
    scan."""
    from rustiflow_spark.sources.tables import parquet_column_max

    mx = parquet_column_max(f"{sf_dir}/events.parquet", "ts")
    if mx is None:
        return None
    import datetime

    td = mx - datetime.datetime(1970, 1, 1)
    return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds


# --------------------------------------------------------------------------
# Queries
# --------------------------------------------------------------------------


def q_session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core operator: gap+terminator sessionization -> per-session feature
    vector (idle-timeout sessions; SURVEY.md §2.3 T1/T3-analog + §2.4 A1,
    A3, A5, A13)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.event_features import sessionize_events

    feats = sessionize_events(
        _events(spark, sf_dir),
        ["user_id"],
        _engine_cfg(),
        value_col="value",
        # column pruning pushed through the kernel: only the feature blocks
        # this query projects are computed and shipped back through Arrow
        features=["value", "iat", "subflow", "direction"],
    )
    return feats.select(
        "user_id",
        "first_ts_us",
        "last_ts_us",
        "duration_us",
        "cause",
        F.col("event_count").cast("long").alias("event_count"),
        F.col("fwd_event_count").cast("long").alias("fwd_event_count"),
        F.col("bwd_event_count").cast("long").alias("bwd_event_count"),
        F.round("n_tok_total", 6).alias("value_total"),
        F.round("n_tok_mean", 6).alias("value_mean"),
        F.round("n_tok_max", 6).alias("value_max"),
        F.round("n_tok_min", 6).alias("value_min"),
        F.round("iat_total", 4).alias("iat_total_ms"),
        F.round("iat_max", 4).alias("iat_max_ms"),
        F.round("iat_min", 4).alias("iat_min_ms"),
        F.col("subflow_count").cast("long").alias("subflow_count"),
    )


_Q_SESSION_SQL = f"""
WITH ev AS (
    SELECT user_id,
           epoch_us(ts) AS ts_us,
           value,
           event_id % 2 AS direction,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS terminator,
           event_id AS event_seq
    FROM events
), flagged AS (
    SELECT *,
           CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                WHEN ts_us - lag(ts_us) OVER w >= ({IDLE_S} + 1) * 1000000 THEN 1
                WHEN lag(terminator) OVER w = 1 THEN 1
                ELSE 0 END AS new_session,
           ts_us - lag(ts_us) OVER w AS gap_us
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
), sess AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_seq
                                  ROWS UNBOUNDED PRECEDING) AS session_id,
           CASE WHEN new_session = 1 THEN NULL ELSE gap_us END AS intra_gap_us
    FROM flagged
), agg AS (
    SELECT user_id, session_id,
           min(ts_us) AS first_ts_us,
           max(ts_us) AS last_ts_us,
           max(ts_us) - min(ts_us) AS duration_us,
           count(*) AS event_count,
           CAST(sum(CASE WHEN direction = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fwd_event_count,
           CAST(sum(CASE WHEN direction = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bwd_event_count,
           round(sum(value), 6) AS value_total,
           round(avg(value), 6) AS value_mean,
           round(max(value), 6) AS value_max,
           round(min(value), 6) AS value_min,
           round(coalesce(sum(intra_gap_us / 1000.0), 0.0), 4) AS iat_total_ms,
           round(coalesce(max(intra_gap_us / 1000.0), 0.0), 4) AS iat_max_ms,
           round(coalesce(min(intra_gap_us / 1000.0), 0.0), 4) AS iat_min_ms,
           CAST(1 + sum(CASE WHEN intra_gap_us > 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS subflow_count,
           max(CASE WHEN terminator = 1 THEN 1 ELSE 0 END) AS has_term
    FROM sess
    GROUP BY user_id, session_id
)
SELECT user_id, first_ts_us, last_ts_us, duration_us,
       CASE WHEN has_term = 1 THEN 'TCP Normal Termination'
            WHEN last_ts_us < max(last_ts_us) OVER (PARTITION BY user_id)
                 THEN 'Idle Timeout'
            ELSE 'Exporter Shutdown' END AS cause,
       event_count, fwd_event_count, bwd_event_count,
       value_total, value_mean, value_max, value_min,
       iat_total_ms, iat_max_ms, iat_min_ms,
       subflow_count
FROM agg
"""


def q_session_features_catalyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-Catalyst fast path for the same sessionization: windows +
    aggregations only, zero Python workers in the plan (asserted by
    tests/test_catalyst_sessionize.py). Must produce EXACTLY the
    session_features output — same DuckDB oracle. Routed through the
    strategy dispatch with the same feature-block pruning as the kernel
    query: Catalyst's column pruning then drops the unused window/agg
    expressions (1.7× at sf0.1)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.event_features import sessionize_events

    feats = sessionize_events(
        _events(spark, sf_dir), ["user_id"], _engine_cfg(), value_col="value",
        features=["value", "iat", "subflow", "direction"],
        strategy="catalyst",
    )
    return feats.selectExpr(
        "user_id",
        "first_ts_us",
        "last_ts_us",
        "duration_us",
        "cause",
        "cast(event_count as bigint) as event_count",
        "cast(fwd_event_count as bigint) as fwd_event_count",
        "cast(bwd_event_count as bigint) as bwd_event_count",
        "round(n_tok_total, 6) as value_total",
        "round(n_tok_mean, 6) as value_mean",
        "round(n_tok_max, 6) as value_max",
        "round(n_tok_min, 6) as value_min",
        "round(iat_total, 4) as iat_total_ms",
        "round(iat_max, 4) as iat_max_ms",
        "round(iat_min, 4) as iat_min_ms",
        "cast(subflow_count as bigint) as subflow_count",
    )


def q_welford_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant Welford feature block (A5/A6/A7 analog) as pure
    Catalyst aggregation — whole-stage codegen, no Python."""
    df = _events(spark, sf_dir)
    return df.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 6).alias("value_total"),
        F.round(F.avg("value"), 6).alias("value_mean"),
        F.round(F.stddev_pop("value"), 4).alias("value_std"),
        F.round(F.var_pop("value"), 3).alias("value_var"),
        F.round(F.min("value"), 6).alias("value_min"),
        F.round(F.max("value"), 6).alias("value_max"),
        F.sum(F.when(F.col("value") > 100, 1).otherwise(0)).cast("long").alias(
            "big_value_events"
        ),
    )


_Q_WELFORD_SQL = """
SELECT user_id,
       count(*) AS n_events,
       round(sum(value), 6) AS value_total,
       round(avg(value), 6) AS value_mean,
       round(stddev_pop(value), 4) AS value_std,
       round(var_pop(value), 3) AS value_var,
       round(min(value), 6) AS value_min,
       round(max(value), 6) AS value_max,
       CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS big_value_events
FROM events
GROUP BY user_id
"""


def q_iat_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IAT stats via JVM-side window lag (A1 analog without sessions)."""
    from pyspark.sql import Window

    df = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_seq")
    iat = df.withColumn("iat_ms", (F.col("ts_us") - F.lag("ts_us").over(w)) / 1000.0)
    return iat.groupBy("user_id").agg(
        F.round(F.avg("iat_ms"), 4).alias("iat_mean_ms"),
        F.round(F.max("iat_ms"), 4).alias("iat_max_ms"),
        F.round(F.min("iat_ms"), 4).alias("iat_min_ms"),
        F.round(F.sum("iat_ms"), 4).alias("iat_total_ms"),
        F.count("iat_ms").cast("long").alias("iat_count"),
    )


_Q_IAT_SQL = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id AS event_seq FROM events
), iat AS (
    SELECT user_id,
           (ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_seq)) / 1000.0
               AS iat_ms
    FROM ev
)
SELECT user_id,
       round(avg(iat_ms), 4) AS iat_mean_ms,
       round(max(iat_ms), 4) AS iat_max_ms,
       round(min(iat_ms), 4) AS iat_min_ms,
       round(sum(iat_ms), 4) AS iat_total_ms,
       count(iat_ms) AS iat_count
FROM iat
GROUP BY user_id
"""


def q_flag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-count aggregation + presence-mask string (A8 analog:
    tcp_flag_stats.rs:49-106)."""
    df = _events(spark, sf_dir)
    aggs = []
    for et in ("click", "view", "purchase", "signup", "error"):
        aggs.append(
            F.sum(F.when(F.col("event_type") == et, 1).otherwise(0))
            .cast("long")
            .alias(f"{et}_count")
        )
    out = df.groupBy("user_id").agg(*aggs)
    mask = F.concat(
        *[
            F.when(F.col(f"{et}_count") > 0, F.lit(ch)).otherwise(F.lit("."))
            for ch, et in (
                ("C", "click"), ("V", "view"), ("P", "purchase"), ("S", "signup"), ("E", "error"),
            )
        ]
    )
    return out.withColumn("type_mask", mask)


_Q_FLAGS_SQL = """
WITH c AS (
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_count,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup_count,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count
    FROM events GROUP BY user_id
)
SELECT *,
       concat(CASE WHEN click_count > 0 THEN 'C' ELSE '.' END,
              CASE WHEN view_count > 0 THEN 'V' ELSE '.' END,
              CASE WHEN purchase_count > 0 THEN 'P' ELSE '.' END,
              CASE WHEN signup_count > 0 THEN 'S' ELSE '.' END,
              CASE WHEN error_count > 0 THEN 'E' ELSE '.' END) AS type_mask
FROM c
"""


def q_session_annotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level session assignment (assign_sessions operator): every event
    annotated with its session ordinal — payload columns pass through."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.event_features import assign_sessions

    ann = assign_sessions(
        _events(spark, sf_dir), ["user_id"], _engine_cfg(),
    )
    return ann.select(
        "user_id",
        F.col("event_seq").alias("event_id"),
        "ts_us",
        F.col("session_index").cast("long").alias("session_index"),
        "session_cause",
    )


def q_session_annotation_catalyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-Python variant of session annotation (assign_sessions_catalyst):
    window expressions only, so payload columns never cross Arrow. Must
    equal the kernel path exactly — same DuckDB oracle."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.event_features import assign_sessions_catalyst

    ann = assign_sessions_catalyst(
        _events(spark, sf_dir), ["user_id"], _engine_cfg()
    )
    return ann.selectExpr(
        "user_id",
        "event_seq as event_id",
        "ts_us",
        "cast(session_index as bigint) as session_index",
        "session_cause",
    )


_Q_ANNOTATION_SQL = f"""
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS ts_us,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS terminator,
           event_id AS event_seq
    FROM events
), flagged AS (
    SELECT *,
           CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                WHEN ts_us - lag(ts_us) OVER w >= ({IDLE_S} + 1) * 1000000 THEN 1
                WHEN lag(terminator) OVER w = 1 THEN 1
                ELSE 0 END AS new_session
    FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
), sess AS (
    SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_seq
                                     ROWS UNBOUNDED PRECEDING) - 1 AS session_index
    FROM flagged
), last_sess AS (
    SELECT user_id, max(session_index) AS max_si FROM sess GROUP BY user_id
), term_sess AS (
    SELECT user_id, session_index, max(terminator) AS has_term
    FROM sess GROUP BY user_id, session_index
)
SELECT s.user_id, s.event_seq AS event_id, s.ts_us,
       CAST(s.session_index AS BIGINT) AS session_index,
       CASE WHEN t.has_term = 1 THEN 'TCP Normal Termination'
            WHEN s.session_index < l.max_si THEN 'Idle Timeout'
            ELSE 'Exporter Shutdown' END AS session_cause
FROM sess s
JOIN last_sess l ON s.user_id = l.user_id
JOIN term_sess t ON s.user_id = t.user_id AND s.session_index = t.session_index
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication on content hash (training-data op): keeper =
    min doc_id per md5(text)."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        df.withColumn("content_hash", F.md5(F.col("text")))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
            F.count("*").cast("long").alias("copies"),
        )
    )


_Q_DEDUP_SQL = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keeper_doc_id,
       count(*) AS copies
FROM documents
GROUP BY md5(text)
"""


# deterministic PII-bearing text built from doc_id — identical SQL on both
# engines, so the redaction chain (counts + replacement output) is
# hash-verifiable without shipping real PII in the fixture
_PII_TEXT_SQL = (
    "concat(substr(text, 1, 40),"
    " ' mail bob', CAST(doc_id AS VARCHAR), '@ex', CAST(doc_id % 7 AS VARCHAR), '.com',"
    " ' host 10.0.', CAST(doc_id % 256 AS VARCHAR), '.', CAST((doc_id * 7) % 256 AS VARCHAR),"
    " ' tel +1 555 12', CAST(doc_id % 10 AS VARCHAR), ' 4567',"
    " ' acct ', CAST(4111111111 + doc_id AS VARCHAR))"
)


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/textstats.py redact_pii): pure-Catalyst
    regexp chain over a deterministic PII-bearing text derived from
    doc_id — per-type match counts + the redacted output, both
    hash-verified against DuckDB's RE2 replay (patterns restricted to the
    Java∩RE2 regex subset by construction)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.textstats import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id",
        _PII_TEXT_SQL.replace("CAST(doc_id AS VARCHAR)", "CAST(doc_id AS STRING)")
        .replace("AS VARCHAR", "AS STRING")
        + " AS text",
    )
    out = redact_pii(docs, "text")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "pii_email_count",
        "pii_ipv4_count",
        "pii_phone_count",
        "pii_longnum_count",
        F.md5("text_redacted").alias("redacted_md5"),
    )


def _redact_sql() -> str:
    from rustiflow_spark.operators.textstats import PII_PATTERNS

    pats = {name: pat for name, pat, _ in PII_PATTERNS}
    repl = {name: r for name, _, r in PII_PATTERNS}
    chain = "text"
    for name, pat, r in PII_PATTERNS:
        chain = f"regexp_replace({chain}, '{pat}', '{r}', 'g')"
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{pats[n]}', 0)) AS BIGINT)"
        f" AS pii_{n}_count"
        for n in ("email", "ipv4", "phone", "longnum")
    )
    return f"""
WITH p AS (
  SELECT doc_id, {_PII_TEXT_SQL} AS text FROM documents
)
SELECT doc_id,
       {counts},
       md5({chain}) AS redacted_md5
FROM p
"""


def q_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab-apply tokenization (operators/textstats.py
    tokenize_with_vocab): top-200 unigram vocab (vocab_topk) broadcast-
    joined onto posexploded tokens, order restored via array_sort over
    (position, id) structs — the step between the vocab builder and
    sequence packing. Content verified by position-weighted checksum +
    unk counts, not just shape. Oracle: DuckDB list_position against the
    same ranked vocab list."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.textstats import tokenize_with_vocab, vocab_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = vocab_topk(docs, "text", k=200, ngram=1)
    out = tokenize_with_vocab(docs, "doc_id", "text", vocab, tid_col="rnk")
    ids = F.col("token_ids")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(ids).cast("long").alias("n_tokens"),
        F.size(F.filter(ids, lambda x: x == 0)).cast("long").alias("n_unk"),
        F.element_at(ids, 1).cast("long").alias("first_id"),
        F.element_at(ids, -1).cast("long").alias("last_id"),
        F.aggregate(
            F.zip_with(ids, F.sequence(F.lit(1), F.size(ids)), lambda x, i: x * i),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("checksum"),
    )


_TOKENIZE_SQL = """
WITH counts AS (
  SELECT term, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term != '' GROUP BY term
),
v AS (
  SELECT term, row_number() OVER (ORDER BY cnt DESC, term) AS tid
  FROM counts QUALIFY tid <= 200
),
vl AS (SELECT list(term ORDER BY tid) AS terms FROM v),
tok AS (
  SELECT doc_id,
         list_transform(
           list_filter(string_split(text, ' '), t -> t != ''),
           t -> coalesce(list_position(terms, t), 0)
         ) AS ids
  FROM documents, vl
)
SELECT doc_id,
       CAST(len(ids) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(ids, x -> x = 0)) AS BIGINT) AS n_unk,
       CAST(ids[1] AS BIGINT) AS first_id,
       CAST(ids[-1] AS BIGINT) AS last_id,
       CAST(list_aggregate(list_transform(ids, (x, i) -> x * i), 'sum')
            AS BIGINT) AS checksum
FROM tok
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis block: token counting + simple quality ratios."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = F.size(F.split(F.col("text"), " "))
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        words.cast("long").alias("word_count"),
        F.round(F.col("n_chars") / words, 6).alias("chars_per_word"),
        F.length("text").cast("long").alias("text_len"),
    )


_Q_TEXT_SQL = """
SELECT doc_id, lang, source, n_chars,
       len(string_split(text, ' ')) AS word_count,
       round(n_chars / len(string_split(text, ' ')), 6) AS chars_per_word,
       length(text) AS text_len
FROM documents
"""


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search over the embedding column
    (training-data op; JVM-side aggregate/zip_with dot products, built as
    SQL-string lambdas — one parse per expression)."""
    # norms are per-ROW constants: evaluate them once on each side of the
    # crossJoin instead of per PAIR (round-5 shape re-ran both sqrt
    # aggregates for all |queries| x |corpus| pairs — 2 of the 3 HOF
    # aggregates per pair were loop-invariant; guide §1.2 "per-task
    # work"). sqrt(agg) per row then multiplied per pair evaluates the
    # exact same double operations, so cos is bit-identical.
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").selectExpr(
        "vec_id", "cast(embedding as array<double>) as embedding"
    ).selectExpr(
        "vec_id", "embedding",
        "sqrt(aggregate(transform(embedding, x -> x * x), 0.0D,"
        " (a, x) -> a + x)) as e_norm",
    )
    queries = df.where("vec_id < 8").selectExpr(
        "vec_id as query_id", "embedding as q_emb", "e_norm as q_norm"
    )
    sims = (
        queries.crossJoin(df)
        .where("vec_id != query_id")
        .selectExpr(
            "query_id",
            "vec_id as neighbor_id",
            "aggregate(zip_with(q_emb, embedding, (a, b) -> a * b), 0.0D,"
            " (acc, x) -> acc + x)"
            " / (q_norm * e_norm) as cos",
        )
    )
    return (
        sims.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id"
            " ORDER BY cos DESC, neighbor_id ASC) as rank",
        )
        .where("rank <= 5")
        .selectExpr(
            "query_id",
            "cast(rank as bigint) as rank",
            "cast(neighbor_id as bigint) as neighbor_id",
            "round(cos, 4) as cos",
        )
    )


_Q_SIM_SQL = """
WITH q AS (
    SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8
), pairs AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           list_cosine_similarity(q.q_emb, e.embedding) AS cos
    FROM q CROSS JOIN embeddings e
    WHERE e.vec_id != q.query_id
), ranked AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
    FROM pairs
)
SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
FROM ranked WHERE rank <= 5
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time as-of join (north-rule operator; operators/asof.py):
    each event gets its user's most recent signup event at or before it —
    leakage-free backward match."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    left = ev.selectExpr("user_id", "ts_us", "event_seq as event_id", "value")
    right = (
        ev.where("event_type = 'signup'")
        .groupBy("user_id", "ts_us")
        .agg(F.expr("round(max(value), 6) as signup_value"))
    )
    out = asof_join(left, right, by="user_id", suffix="_sig")
    return out.selectExpr(
        "user_id",
        "event_id",
        "ts_us",
        "ts_us_sig as signup_ts_us",
        "round(signup_value_sig, 6) as signup_value",
        # integer µs difference (exact in both engines; a rounded-seconds
        # double lands on exact .00005 ties that Spark and DuckDB break
        # differently — CORRECTNESS_r01). Cast to double so the null-able
        # column serializes identically on both sides.
        "cast(ts_us - ts_us_sig as double) as us_since_signup",
    )


_Q_ASOF_SQL = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id, value, event_type FROM events
), sig AS (
    SELECT user_id, ts_us, round(max(value), 6) AS signup_value
    FROM ev WHERE event_type = 'signup' GROUP BY user_id, ts_us
)
SELECT ev.user_id, ev.event_id, ev.ts_us,
       sig.ts_us AS signup_ts_us,
       round(sig.signup_value, 6) AS signup_value,
       CAST(ev.ts_us - sig.ts_us AS DOUBLE) AS us_since_signup
FROM ev ASOF LEFT JOIN sig
  ON ev.user_id = sig.user_id AND ev.ts_us >= sig.ts_us
"""


def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free lag/lead features (operators/windows.py)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.windows import add_lag_lead_features

    ev = _events(spark, sf_dir).select(
        "user_id", "ts_us", F.col("event_seq").alias("event_id"), "value"
    )
    out = add_lag_lead_features(
        ev, ["user_id"], "ts_us", ["value"], lags=[1, 2], leads=[1], order_col="event_id"
    )
    return out.select(
        "user_id",
        "event_id",
        "ts_us",
        F.round("value_lag1", 6).alias("value_lag1"),
        F.round("value_lag2", 6).alias("value_lag2"),
        F.round("value_lead1", 6).alias("value_lead1"),
    )


_Q_LAG_SQL = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events
)
SELECT user_id, event_id, ts_us,
       round(lag(value, 1) OVER w, 6) AS value_lag1,
       round(lag(value, 2) OVER w, 6) AS value_lag2,
       round(lead(value, 1) OVER w, 6) AS value_lead1
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
"""


def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing event-time range aggregates (RANGE frame, operators/windows.py)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.windows import rolling_time_features

    ev = _events(spark, sf_dir).select(
        "user_id", "ts_us", F.col("event_seq").alias("event_id"), "value"
    )
    out = rolling_time_features(
        ev, ["user_id"], "ts_us", "value", {"6h": 6 * 3600 * 1_000_000}
    )
    return out.select(
        "user_id",
        "event_id",
        "ts_us",
        F.col("value_cnt_6h").cast("long").alias("cnt_6h"),
        F.round("value_sum_6h", 6).alias("sum_6h"),
        F.round("value_mean_6h", 6).alias("mean_6h"),
    )


_Q_ROLLING_SQL = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events
)
SELECT user_id, event_id, ts_us,
       count(value) OVER w AS cnt_6h,
       round(sum(value) OVER w, 6) AS sum_6h,
       round(avg(value) OVER w, 6) AS mean_6h
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)
"""


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup clustering on documents (operators/dedup.py):
    signatures -> banded candidates -> exact Jaccard verify -> min-id
    components. Oracled: the signature kernel is plain wrapping-uint64
    arithmetic (DuckDB HUGEINT), band-hash equality == raw-slice equality,
    and the components come from a recursive label-propagation CTE."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.7).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "is_keeper",
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures over documents (operators/dedup.py bit voting),
    oracled bit-for-bit by a DuckDB HUGEINT replay of the kernel."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.dedup import simhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = simhash_signatures(docs, "doc_id", "text")
    return sigs.select(F.col("doc_id").cast("long").alias("doc_id"), "simhash")


# --- DuckDB oracles for the MinHash / SimHash kernels -----------------------
# The Arrow kernels (operators/dedup.py) are plain wrapping-uint64 FNV-style
# arithmetic, so DuckDB can replay them exactly with HUGEINT intermediates:
# 64-bit wrap = % 2^64, and the one multiply that can exceed INT128
# (h * golden-ratio mix, both operands ~2^64) is split into 32-bit halves.

_U64 = 1 << 64
_MIX = 0x9E3779B97F4A7C15
_MIX_HI, _MIX_LO = _MIX >> 32, _MIX & 0xFFFFFFFF
_FNV = 1099511628211


def _shingle_h0_sql(k: int) -> str:
    """Rolling k-byte shingle hash (dedup.py: win @ powers, wrapping u64):
    sum of byte i * FNV^i over the window starting at 1-based position i."""
    powers = [pow(_FNV, i, _U64) for i in range(k)]
    terms = " + ".join(
        f"CAST(ascii(substr(text, i + {j}, 1)) AS HUGEINT) * {powers[j]}"
        for j in range(k)
    )
    return f"(({terms}) % {_U64})"


_MIXMUL_SQL = (
    f"((h0 * {_MIX_LO} + ((h0 * {_MIX_HI}) % 4294967296) * 4294967296) % {_U64})"
)


def _minhash_perm_rows() -> str:
    """The kernel's permutation constants (dedup.py minhash_signatures:
    RandomState(1729), a odd via <<1|1, b in [1, 2^62))."""
    import numpy as _np

    rng = _np.random.RandomState(1729)
    a = (rng.randint(1, 2**62, size=64).astype(_np.uint64) << _np.uint64(1)) | _np.uint64(1)
    b = rng.randint(1, 2**62, size=64).astype(_np.uint64)
    return ",".join(f"({j}, {int(a[j])}, {int(b[j])})" for j in range(64))


def _minhash_sql() -> str:
    return f"""
WITH RECURSIVE d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents),
pos AS (
  SELECT doc_id, text, unnest(generate_series(1, length(text) - 4)) AS i FROM d
),
h0t AS (SELECT doc_id, {_shingle_h0_sql(5)} AS h0 FROM pos),
hh AS (SELECT DISTINCT doc_id, {_MIXMUL_SQL} AS h FROM h0t),
perms(j, a, b) AS (VALUES {_minhash_perm_rows()}),
sig AS (
  SELECT doc_id, j, min((h * CAST(a AS HUGEINT) + b) % {_U64}) AS s
  FROM hh CROSS JOIN perms GROUP BY doc_id, j
),
sigl AS (
  SELECT doc_id,
         list(CAST(CASE WHEN s >= {1 << 63} THEN s - {_U64} ELSE s END AS BIGINT)
              ORDER BY j) AS sig
  FROM sig GROUP BY doc_id
),
-- banded LSH: 8 bands x 8 rows (bands_for_threshold(64, 0.7)); equality on
-- the raw signature slice == equality of its xxhash64 band key
bandtab AS (
  SELECT doc_id, band, list_slice(sig, band * 8 + 1, band * 8 + 8) AS sl
  FROM sigl CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band) bp
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bandtab x JOIN bandtab y
    ON x.band = y.band AND x.sl = y.sl AND x.doc_id < y.doc_id
),
shset AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, length(text) - 4),
                                      i -> substr(text, i, 5))) AS sh
  FROM d
),
ver AS (
  SELECT id_a, id_b
  FROM cand
  JOIN shset sa ON sa.doc_id = id_a
  JOIN shset sb ON sb.doc_id = id_b
  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / len(list_distinct(sa.sh || sb.sh)) >= 0.7
),
edges AS (SELECT id_a AS a, id_b AS b FROM ver
          UNION SELECT id_b, id_a FROM ver),
lab(id, lab) AS (
  SELECT doc_id, doc_id FROM d
  UNION
  SELECT e.b, l.lab FROM lab l JOIN edges e ON l.id = e.a
)
SELECT id AS doc_id, min(lab) AS cluster_id, id = min(lab) AS is_keeper
FROM lab GROUP BY id
"""


def _simhash_sql() -> str:
    return f"""
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents),
pos AS (
  SELECT doc_id, text, unnest(generate_series(1, length(text) - 3)) AS i FROM d
),
h0t AS (SELECT doc_id, {_shingle_h0_sql(4)} AS h0 FROM pos),
hh AS (
  SELECT DISTINCT doc_id, (({_MIXMUL_SQL}) + 3735928559) % {_U64} AS h
  FROM h0t
),
hsplit AS (
  SELECT doc_id,
         CAST(h % 4294967296 AS BIGINT) AS h_lo,
         CAST(h // 4294967296 AS BIGINT) AS h_hi
  FROM hh
),
bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN b < 32 THEN (h_lo >> b) & 1
                  ELSE (h_hi >> (b - 32)) & 1 END) AS ones,
         count(*) AS m
  FROM hsplit CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bp
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN 2 * ones > m AND b < 63
                     THEN CAST(CAST(1 AS BIGINT) << CAST(b AS INT) AS HUGEINT)
                     ELSE 0 END)
            - sum(CASE WHEN 2 * ones > m AND b = 63
                       THEN CAST({1 << 63} AS HUGEINT) ELSE 0 END)
            AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH + exact cosine verify
    (operators/dedup.py:embedding_neardup). The embeddings table has no
    near-dups (max pairwise cosine ~0.51), so the query plants one
    perturbed copy per vector (vec_id+10000, e_i + 0.05*e_{i+1 mod d});
    the oracle replays the hyperplane projections (inlined seed-7 plane
    constants), the sign-bucket fold, the bucket join and the cosine
    verify in SQL — bucket recall < 1 is LSH semantics and shows
    identically on both sides."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.dedup import embedding_neardup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    pert = emb.select(
        (F.col("vec_id") + 10000).cast("long").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 64), i -> CAST(embedding[i - 1] AS DOUBLE)"
            " + 0.05 * CAST(embedding[i % 64] AS DOUBLE))"
        ).alias("embedding"),
    )
    pairs = embedding_neardup(
        base.unionByName(pert), "vec_id", "embedding",
        threshold=0.95, n_planes=16, seed=7, dim=64,
    )
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("cosine", 6).alias("cosine"),
    )


def _embedding_neardup_sql() -> str:
    import numpy as _np

    planes = _np.random.RandomState(7).randn(16, 64)
    plane_rows = ",".join(
        f"({j}, {i + 1}, {planes[j, i]!r})" for j in range(16) for i in range(64)
    )
    return f"""
WITH base AS (
  SELECT CAST(vec_id AS BIGINT) AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
pert AS (
  SELECT CAST(vec_id + 10000 AS BIGINT) AS id,
         list_transform(generate_series(1, 64),
                        i -> CAST(embedding[i] AS DOUBLE)
                             + 0.05 * CAST(embedding[(i % 64) + 1] AS DOUBLE)) AS e
  FROM embeddings
),
allv AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
ex AS (
  SELECT id, i, e[i] AS x
  FROM allv CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
),
planes(j, i, w) AS (VALUES {plane_rows}),
proj AS (
  SELECT id, j, sum(x * w) AS d
  FROM ex JOIN planes USING (i) GROUP BY id, j
),
bucket AS (
  SELECT id,
         sum(CASE WHEN d >= 0
                  THEN CAST(1 AS BIGINT) << CAST(15 - j AS INT)
                  ELSE 0 END) AS bucket
  FROM proj GROUP BY id
),
withb AS (SELECT a.id, a.e, b.bucket FROM allv a JOIN bucket b ON a.id = b.id),
pairs AS (
  SELECT x.id AS id_a, y.id AS id_b, x.e AS ea, y.e AS eb
  FROM withb x JOIN withb y ON x.bucket = y.bucket AND x.id < y.id
),
cos AS (
  SELECT id_a, id_b,
         list_dot_product(ea, eb)
         / (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb)))
             AS cosine
  FROM pairs
)
SELECT id_a, id_b, round(cosine, 6) AS cosine
FROM cos WHERE cosine >= 0.95
"""


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID over documents (pure Catalyst argmax over
    stopword-marker hits; operators/textstats.py)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.textstats import language_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return language_id(docs, "text").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang_pred",
        F.col("lang_pred_hits").cast("long").alias("lang_pred_hits"),
    )


def _langid_hits_sql(markers: list[str]) -> str:
    arr = ", ".join(f"'{m}'" for m in markers)
    return (
        "len(list_intersect(list_distinct("
        "regexp_split_to_array(lower(trim(text)), '\\s+')), [" + arr + "]))"
    )


def _langid_sql() -> str:
    """DuckDB mirror of language_id: argmax by (hits, lang) — ties resolve
    to the lexicographically greatest language, matching Spark's
    array_max over (hits, lang) structs."""
    from rustiflow_spark.operators.textstats import _LANG_MARKERS

    hit_cols = ",\n           ".join(
        f"{_langid_hits_sql(m)} AS hits_{lang}" for lang, m in sorted(_LANG_MARKERS.items())
    )
    langs_desc = sorted(_LANG_MARKERS, reverse=True)
    best = "greatest(" + ", ".join(f"hits_{la}" for la in sorted(_LANG_MARKERS)) + ")"
    pick = " ".join(
        f"WHEN hits_{la} = {best} THEN '{la}'" for la in langs_desc[:-1]
    )
    return f"""
WITH h AS (
    SELECT doc_id,
           {hit_cols}
    FROM documents
)
SELECT doc_id,
       CASE WHEN {best} = 0 THEN 'unknown' {pick} ELSE '{langs_desc[-1]}' END
           AS lang_pred,
       CAST({best} AS BIGINT) AS lang_pred_hits
FROM h
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors. Oracled: the multi-table
    random-hyperplane buckets are deterministic seed-11 projections, so the
    DuckDB oracle replays every table's sign-bucket fold, the bucket
    equi-join, the exact cosine on candidates, and the ranked top-k."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.similarity import ann_topk_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    return ann_topk_lsh(emb, queries, k=5, n_planes=6, n_tables=6).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("cosine", 4).alias("cos"),
    )


def _ann_topk_sql() -> str:
    import numpy as _np

    rng = _np.random.RandomState(11)
    rows = []
    for t in range(6):
        planes = rng.randn(6, 64)
        rows += [
            f"({t}, {j}, {i + 1}, {planes[j, i]!r})"
            for j in range(6)
            for i in range(64)
        ]
    plane_rows = ",".join(rows)
    return f"""
WITH allv AS (
  SELECT CAST(vec_id AS BIGINT) AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
ex AS (
  SELECT id, i, e[i] AS x
  FROM allv CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
),
planes(t, j, i, w) AS (VALUES {plane_rows}),
proj AS (
  SELECT id, t, j, sum(x * w) AS d
  FROM ex JOIN planes USING (i) GROUP BY id, t, j
),
bucket AS (
  SELECT id, t,
         sum(CASE WHEN d >= 0
                  THEN CAST(1 AS BIGINT) << CAST(5 - j AS INT)
                  ELSE 0 END) AS bucket
  FROM proj GROUP BY id, t
),
cand AS (
  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
  FROM bucket q JOIN bucket c ON q.t = c.t AND q.bucket = c.bucket
  WHERE q.id < 8 AND q.id != c.id
),
cos AS (
  SELECT query_id, neighbor_id,
         list_dot_product(a.e, b.e)
         / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
             AS cosine
  FROM cand
  JOIN allv a ON a.id = query_id
  JOIN allv b ON b.id = neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cos
)
SELECT query_id, rank, neighbor_id, round(cosine, 4) AS cos
FROM ranked WHERE rank <= 5
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (operators/similarity.py ann_topk_ivf): an integer-
    quantized k-means codebook (2 Lloyd iterations, stride-spread seeds),
    corpus partitioned into 8 inverted lists, each query probing its 2
    nearest lists. The quantized fit is order-independent integer
    arithmetic, so the DuckDB oracle replays the seeding, both Lloyd
    iterations, the final list assignment, the probe selection, and the
    exact-cosine top-k bit-for-bit. Reference analog: none (north-rule
    similarity-search component; ann_topk is the LSH sibling)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.similarity import ann_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_lists = 8
    # seeds by POSITION in the sorted id sequence, not by id arithmetic —
    # scaled-up tables have gapped vec_ids, where id-stride seeding would
    # find one seed and fail. The ids-only projection keeps the one-task
    # sort tiny (longs only); equals id-stride seeding on contiguous ids.
    seed_ids = _stride_seed_ids(emb, n_lists)
    queries = emb.filter(F.col("vec_id") < 8)
    return ann_topk_ivf(
        emb, queries, k=5, n_lists=n_lists, nprobe=2, iters=2, seed_ids=seed_ids
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("cosine", 4).alias("cos"),
    )


def _ivf_lists_sql(n_lists: int = 8, iters: int = 2) -> str:
    """Shared DuckDB replay of ivf_fit + final list assignment (the WITH
    prefix through the `lists` CTE): the Lloyd iterations are unrolled as
    CTE pairs (distN/assignN -> centsN+1); centroid dims are
    floor(sum/count) with |sum| < 2^53 so the double divide is exact on
    both engines; empty clusters keep the previous centroid (LEFT JOIN +
    coalesce). Ties everywhere resolve to the lowest cluster index, the
    same order array_position picks on the Spark side. Used by both
    _ann_ivf_sql (probe + top-k tail) and _semantic_dedup_sql
    (within-cluster pairwise tail)."""
    quant = (
        "list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),"
        " x -> CAST(round(x * 1024) AS BIGINT))"
    )
    pre = f"""
WITH params AS (
  SELECT greatest(1, CAST(count(*) // {n_lists} AS BIGINT)) AS stride FROM embeddings
),
v AS (
  SELECT CAST(vec_id AS BIGINT) AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         {quant} AS qe
  FROM embeddings
),
vx AS (
  SELECT id, i AS pos, qe[i + 1] AS x
  FROM v CROSS JOIN (SELECT unnest(generate_series(0, len((SELECT qe FROM v LIMIT 1)) - 1)) AS i) ii
),
idrank AS (
  SELECT id, row_number() OVER (ORDER BY id) - 1 AS rn FROM v
),
cents0 AS (
  -- positional seeding (every stride-th id in sorted order): robust to
  -- gapped id spaces; equals id-stride seeding when ids are contiguous
  SELECT CAST(r.rn // params.stride AS INT) AS cl, pos, CAST(qe[pos + 1] AS BIGINT) AS val
  FROM idrank r
  JOIN v ON v.id = r.id, params,
       (SELECT unnest(generate_series(0, len((SELECT qe FROM v LIMIT 1)) - 1)) AS pos) pp
  WHERE r.rn % params.stride = 0 AND r.rn < {n_lists} * params.stride
)"""
    its = ""
    cur = "cents0"
    for it in range(iters):
        its += f""",
dist{it} AS (
  SELECT vx.id, c.cl, sum((vx.x - c.val) * (vx.x - c.val)) AS d
  FROM vx JOIN {cur} c USING (pos) GROUP BY vx.id, c.cl
),
assign{it} AS (
  SELECT id, cl FROM (
    SELECT id, cl, row_number() OVER (PARTITION BY id ORDER BY d, cl) AS rn
    FROM dist{it}
  ) WHERE rn = 1
),
sums{it} AS (
  SELECT a.cl, vx.pos, CAST(floor(CAST(sum(vx.x) AS DOUBLE) / count(DISTINCT vx.id)) AS BIGINT) AS val
  FROM assign{it} a JOIN vx ON vx.id = a.id
  GROUP BY a.cl, vx.pos
),
cents{it + 1} AS (
  SELECT p.cl, p.pos, coalesce(s.val, p.val) AS val
  FROM {cur} p LEFT JOIN sums{it} s ON s.cl = p.cl AND s.pos = p.pos
)"""
        cur = f"cents{it + 1}"
    return pre + its + f""",
fdist AS (
  SELECT vx.id, c.cl, sum((vx.x - c.val) * (vx.x - c.val)) AS d
  FROM vx JOIN {cur} c USING (pos) GROUP BY vx.id, c.cl
),
lists AS (
  SELECT id, cl AS list_id FROM (
    SELECT id, cl, row_number() OVER (PARTITION BY id ORDER BY d, cl) AS rn
    FROM fdist
  ) WHERE rn = 1
)"""


def _ann_ivf_sql(n_lists: int = 8, nprobe: int = 2, iters: int = 2, k: int = 5) -> str:
    """Probe-selection + exact-cosine top-k tail over _ivf_lists_sql's
    fit replay (see that docstring for the Lloyd/tie-break details)."""
    post = f""",
probes AS (
  SELECT id AS query_id, cl AS list_id FROM (
    SELECT id, cl, row_number() OVER (PARTITION BY id ORDER BY d, cl) AS rn
    FROM fdist WHERE id < 8
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.query_id, l.id AS neighbor_id
  FROM probes p JOIN lists l USING (list_id)
  WHERE p.query_id != l.id
),
cosd AS (
  SELECT query_id, neighbor_id,
         list_dot_product(a.e, b.e)
         / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cosine
  FROM cand
  JOIN v a ON a.id = query_id
  JOIN v b ON b.id = neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cosd
)
SELECT query_id, rank, neighbor_id, round(cosine, 4) AS cos
FROM ranked WHERE rank <= {k}"""
    return _ivf_lists_sql(n_lists, iters) + post


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.py semantic_dedup): k-means-cluster the
    embeddings with the SAME integer-quantized ivf_fit codebook ann_ivf
    uses (8 lists, 2 Lloyd iterations, positional stride seeding), then
    mark a vector duplicated when some lower-id member of ITS OWN cluster
    reaches cosine >= 4/5 — the within-cluster-only pairing that keeps
    SemDeDup sub-quadratic at corpus scale. The threshold test is exact
    integer arithmetic (dot^2 * den^2 >= num^2 * |a|^2 * |b|^2 in
    DECIMAL(38,0)), so the oracle replays fit, assignment, pairing, and
    the keep/dup verdict bit-for-bit. Reference analog: none (north-rule
    embedding-dedup component; embedding_neardup is the LSH sibling)."""
    _ensure_package_shipped(spark)
    from pyspark.sql import Window

    from rustiflow_spark.operators.dedup import semantic_dedup
    from rustiflow_spark.operators.similarity import ivf_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_lists = 8
    seed_ids = _stride_seed_ids(emb, n_lists)
    cents = ivf_fit(emb, n_lists=n_lists, iters=2, seed_ids=seed_ids)
    out = semantic_dedup(
        emb, "vec_id", "embedding", cents, tau_num=4, tau_den=5
    )
    # dup_of is NULL for kept rows: coalesce to -1 on both sides (the
    # gate serializes NULL as pandas None vs DuckDB NaN — a false diff)
    return out.select(
        "vec_id",
        "cluster",
        F.col("is_dup").cast("int").alias("is_dup"),
        F.coalesce("dup_of", F.lit(-1)).cast("long").alias("dup_of"),
    )


def _semantic_dedup_sql(
    n_lists: int = 8, iters: int = 2, tau_num: int = 4, tau_den: int = 5
) -> str:
    """Within-cluster pairwise tail over _ivf_lists_sql's fit replay:
    positional dot products via a (cluster, pos) self-join of the
    unnested quantized vectors, the integer threshold in HUGEINT, MIN
    lower id as the representative."""
    post = f""",
n2 AS (
  SELECT id, CAST(sum(x * x) AS BIGINT) AS n2 FROM vx GROUP BY id
),
dots AS (
  SELECT xa.id AS ida, xb.id AS idb, CAST(sum(xa.x * xb.x) AS BIGINT) AS dot
  FROM lists la
  JOIN vx xa ON xa.id = la.id
  JOIN lists lb ON lb.list_id = la.list_id AND lb.id < la.id
  JOIN vx xb ON xb.id = lb.id AND xb.pos = xa.pos
  GROUP BY xa.id, xb.id
),
dups AS (
  SELECT d.ida AS id, min(d.idb) AS dup_of
  FROM dots d JOIN n2 na ON na.id = d.ida JOIN n2 nb ON nb.id = d.idb
  WHERE d.dot > 0
    AND CAST(d.dot AS HUGEINT) * d.dot * {tau_den * tau_den}
        >= CAST({tau_num * tau_num} AS HUGEINT) * na.n2 * nb.n2
  GROUP BY d.ida
)
SELECT l.id AS vec_id,
       CAST(l.list_id AS INT) AS cluster,
       CAST(CASE WHEN dup_of IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup,
       CAST(coalesce(dup_of, -1) AS BIGINT) AS dup_of
FROM lists l LEFT JOIN dups d ON d.id = l.id"""
    return _ivf_lists_sql(n_lists, iters) + post


def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/similarity.py pq_fit /
    pq_encode / pq_adc_topk): 2 subspaces x 4 codes, one Lloyd iteration
    per subspace (the same integer-quantized fit as ann_ivf, positional
    stride seeding), corpus encoded to 2-byte codes, queries scored by
    exact integer distance-table lookups. The oracle replays both
    subspace fits, every code, every query distance table, and the ADC
    ranking bit-for-bit. Reference analog: none (north-rule
    similarity-search component; the memory-bound ANN code path)."""
    _ensure_package_shipped(spark)
    from pyspark.sql import Window

    from rustiflow_spark.operators.similarity import pq_adc_topk, pq_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k_codes = 4
    seed_ids = _stride_seed_ids(emb, k_codes)
    # catalyst modes pinned: at this codebook size (m=2, k_codes=4) the
    # zero-Python expressions beat the Arrow matmul's worker round trip
    # (A/B at sf1.0: 4.0 s vs 4.7 s best-of-3); modes are bit-identical,
    # and 'arrow' stays the default for real (large-K) codebooks
    books = pq_fit(
        emb, m=2, k_codes=k_codes, iters=1, seed_ids=seed_ids,
        assign_mode="catalyst",
    )
    queries = emb.filter(F.col("vec_id") < 4)
    return pq_adc_topk(emb, queries, books, k=5, encode_mode="catalyst").select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("adc_dist").cast("long").alias("adc_dist"),
    )


def _pq_sql(
    m: int = 2, k_codes: int = 4, iters: int = 1, k: int = 5, d: int = 64
) -> str:
    """DuckDB replay of q_pq_adc: per-subspace Lloyd fits (the
    _ivf_lists_sql recipe over slice offsets), code assignment, and the
    ADC join (query's per-subspace centroid distances looked up at each
    neighbor's codes). d is the fixture embedding dim (asserted by the
    Spark side reading the same table)."""
    dsub = d // m
    quant = (
        "list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),"
        " x -> CAST(round(x * 1024) AS BIGINT))"
    )
    sql = f"""
WITH params AS (
  SELECT greatest(1, CAST(count(*) // {k_codes} AS BIGINT)) AS stride FROM embeddings
),
v AS (
  SELECT CAST(vec_id AS BIGINT) AS id, {quant} AS qe FROM embeddings
),
vx AS (
  SELECT id, i AS pos, qe[i + 1] AS x
  FROM v CROSS JOIN (SELECT unnest(generate_series(0, {d - 1})) AS i) ii
),
idrank AS (
  SELECT id, row_number() OVER (ORDER BY id) - 1 AS rn FROM v
)"""
    for j in range(m):
        lo, hi = j * dsub, (j + 1) * dsub - 1
        sub = f"SELECT id, pos - {lo} AS pos, x FROM vx WHERE pos BETWEEN {lo} AND {hi}"
        sql += f""",
sx{j} AS ({sub}),
cents0_{j} AS (
  SELECT CAST(r.rn // params.stride AS INT) AS cl, s.pos, s.x AS val
  FROM idrank r JOIN sx{j} s ON s.id = r.id, params
  WHERE r.rn % params.stride = 0 AND r.rn < {k_codes} * params.stride
)"""
        cur = f"cents0_{j}"
        for it in range(iters):
            sql += f""",
dist{it}_{j} AS (
  SELECT s.id, c.cl, sum((s.x - c.val) * (s.x - c.val)) AS d
  FROM sx{j} s JOIN {cur} c USING (pos) GROUP BY s.id, c.cl
),
assign{it}_{j} AS (
  SELECT id, cl FROM (
    SELECT id, cl, row_number() OVER (PARTITION BY id ORDER BY d, cl) AS rn
    FROM dist{it}_{j}
  ) WHERE rn = 1
),
sums{it}_{j} AS (
  SELECT a.cl, s.pos,
         CAST(floor(CAST(sum(s.x) AS DOUBLE) / count(DISTINCT s.id)) AS BIGINT) AS val
  FROM assign{it}_{j} a JOIN sx{j} s ON s.id = a.id
  GROUP BY a.cl, s.pos
),
cents{it + 1}_{j} AS (
  SELECT p.cl, p.pos, coalesce(t.val, p.val) AS val
  FROM {cur} p LEFT JOIN sums{it}_{j} t ON t.cl = p.cl AND t.pos = p.pos
)"""
            cur = f"cents{it + 1}_{j}"
        sql += f""",
fd{j} AS (
  SELECT s.id, c.cl, sum((s.x - c.val) * (s.x - c.val)) AS d
  FROM sx{j} s JOIN {cur} c USING (pos) GROUP BY s.id, c.cl
),
codes{j} AS (
  SELECT id, cl FROM (
    SELECT id, cl, row_number() OVER (PARTITION BY id ORDER BY d, cl) AS rn
    FROM fd{j}
  ) WHERE rn = 1
)"""
    code_joins = "\n".join(
        f"  JOIN codes{j} c{j} ON c{j}.id = n.id\n"
        f"  JOIN fd{j} f{j} ON f{j}.id = q.id AND f{j}.cl = c{j}.cl"
        for j in range(m)
    )
    adc_sum = " + ".join(f"f{j}.d" for j in range(m))
    sql += f""",
adc AS (
  SELECT q.id AS query_id, n.id AS neighbor_id, {adc_sum} AS adc_dist
  FROM (SELECT id FROM v WHERE id < 4) q
  JOIN v n ON n.id != q.id
{code_joins}
),
ranked AS (
  SELECT query_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS rank
  FROM adc
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
       CAST(adc_dist AS BIGINT) AS adc_dist
FROM ranked WHERE rank <= {k}"""
    return sql


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (operators/textstats.py
    document_fingerprint): K=8 rolling polynomial hash (base 257, u64
    wrap), min over each 16-wide window, distinct minima mixed by the
    64-bit golden ratio and XOR-folded. Plain wrapping-uint64 arithmetic,
    replayed in DuckDB with HUGEINT intermediates like the minhash oracle.
    Reference analog: none (north-rule text-fingerprinting component)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.textstats import document_fingerprint

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return document_fingerprint(docs, "doc_id", "text").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "fingerprint",
        F.col("n_selected").cast("long").alias("n_selected"),
    )


def _doc_fingerprint_sql(k: int = 8, window: int = 16) -> str:
    powers = [pow(257, j, _U64) for j in range(k)]
    terms = " + ".join(
        f"CAST(ascii(substr(t, p + {j}, 1)) AS HUGEINT) * {powers[j]}"
        for j in range(k)
    )
    # (m * MIX) % 2^64 via the 32-bit-halves split (both operands ~2^64)
    mixmul = f"((m * {_MIX_LO} + ((m * {_MIX_HI}) % 4294967296) * 4294967296) % {_U64})"
    return f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CASE WHEN length(text) < {k} THEN rpad(text, {k}, ' ') ELSE text END AS t
  FROM documents
),
pos AS (
  SELECT doc_id, t, unnest(generate_series(1, length(t) - {k - 1})) AS p FROM d
),
h AS (
  SELECT doc_id, p, ({terms}) % {_U64} AS hv,
         count(*) OVER (PARTITION BY doc_id) AS nh
  FROM pos
),
-- winnowing: min over each {window}-wide window; with fewer than {window}
-- hashes the kernel selects every distinct hash
wmin AS (
  SELECT doc_id,
         CASE WHEN nh >= {window}
              THEN min(hv) OVER (PARTITION BY doc_id ORDER BY p
                                 ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING)
              ELSE hv END AS m,
         nh,
         row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rn
  FROM h
),
sel AS (
  SELECT DISTINCT doc_id, m
  FROM wmin
  WHERE nh < {window} OR rn <= nh - {window - 1}
),
mixed AS (
  SELECT doc_id,
         CAST(CASE WHEN {mixmul} >= {1 << 63} THEN {mixmul} - {_U64}
                   ELSE {mixmul} END AS BIGINT) AS mx
  FROM sel
)
SELECT doc_id, bit_xor(mx) AS fingerprint, count(*) AS n_selected
FROM mixed GROUP BY doc_id
"""


_RJ_EPOCH0 = 1704067200  # 2024-01-01 00:00:00 UTC


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized interval join (operators/intervals.py range_join): events
    matched to deterministic maintenance-window intervals synthesized from
    orders, then aggregated per interval. The operator turns `ts BETWEEN
    lo AND hi` into an equi-join on a time bucket (intervals explode into
    covered buckets; each pair meets in exactly one bucket) — the plan
    Spark cannot produce on its own for a theta join. Oracle: the naive
    BETWEEN join. Reference analog: none (north-rule range-join
    component)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.intervals import range_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    iv = orders.filter(F.col("o_orderkey") < 300).select(
        F.col("o_orderkey").alias("interval_id"),
        ((F.lit(_RJ_EPOCH0) + (F.col("o_orderkey") % 480) * 900) * 1_000_000).alias(
            "lo_us"
        ),
        (
            (
                F.lit(_RJ_EPOCH0)
                + (F.col("o_orderkey") % 480) * 900
                + ((F.col("o_orderkey") % 3) + 1) * 1200
            )
            * 1_000_000
        ).alias("hi_us"),
    )
    return (
        range_join(events, iv, "ts", "lo_us", "hi_us", bucket_width_us=1_200_000_000)
        .groupBy(F.col("interval_id").cast("long").alias("interval_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_value"),
        )
    )


_RANGE_JOIN_SQL = f"""
WITH iv AS (
  SELECT CAST(o_orderkey AS BIGINT) AS interval_id,
         ({_RJ_EPOCH0} + (o_orderkey % 480) * 900) * 1000000 AS lo_us,
         ({_RJ_EPOCH0} + (o_orderkey % 480) * 900 + ((o_orderkey % 3) + 1) * 1200) * 1000000 AS hi_us
  FROM orders WHERE o_orderkey < 300
)
SELECT interval_id, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM iv JOIN events e
  ON CAST(epoch_us(e.ts) AS BIGINT) BETWEEN lo_us AND hi_us
GROUP BY interval_id
"""


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup cascade (operators/intervals.py): events ->
    1-minute tumbling buckets per event_type -> 1-hour rollup computed
    FROM the minute buckets (sum-of-sums / min-of-mins / count-of-counts),
    never re-scanning the raw table. Decimal sums make the cascade exact
    and order-independent; the oracle aggregates the raw table directly,
    proving the cascade lossless. Reference analog: none (north-rule
    rollup component)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.intervals import rollup_coarser, time_bucket_rollup

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    fine = time_bucket_rollup(events, "ts", 60, ["event_type"], "value")
    return rollup_coarser(fine, 3600, ["event_type"], fine_width_s=60).select(
        "event_type",
        "bucket_s",
        "n_rows",
        F.round(F.col("sum_value").cast("double"), 2).alias("sum_value"),
        F.round(F.col("min_value").cast("double"), 2).alias("min_value"),
        F.round(F.col("max_value").cast("double"), 2).alias("max_value"),
    )


_TIME_ROLLUP_SQL = """
SELECT event_type,
       CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_s,
       count(*) AS n_rows,
       round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_value,
       round(CAST(min(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 2) AS min_value,
       round(CAST(max(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 2) AS max_value
FROM events GROUP BY event_type, bucket_s
"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-user estimate per event_type
    (operators/sketches.py): md5-derived 60-bit hash, 4096 registers,
    harmonic sum carried as an exact integer numerator over 2^49 so the
    estimate is independent of aggregation order — the DuckDB oracle
    replays hash, registers, and estimate bit-for-bit. The register table
    is the mergeable sketch (groupBy-max across shards). Reference
    analog: none (north-rule sketch component)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.sketches import hll_count_distinct

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    # hash_fn='md5' is the cross-engine-replayable mode; production uses
    # the default xxhash64 (same sketch shape, ~10x cheaper hashing)
    return hll_count_distinct(
        events, "user_id", ["event_type"], p=12, hash_fn="md5"
    ).select("event_type", F.round("hll_estimate", 4).alias("est_users"))


def _hll_sql(p: int = 12) -> str:
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    w_bits = 60 - p
    # exact-integer harmonic-sum base: max rho is w_bits + 1 = 61 - p, so
    # weight 2^(b - mj) with b = 61 - p keeps every term a non-negative
    # integer power of two (b == 49 only at the default p=12)
    b = 61 - p
    hexpr = (
        "("
        + " + ".join(
            f"CAST((strpos('0123456789abcdef', substr(hx, {j + 1}, 1)) - 1) AS BIGINT) * {16 ** (14 - j)}"
            for j in range(15)
        )
        + ")"
    )
    return f"""
WITH h AS (
  SELECT event_type, {hexpr} AS hv
  FROM (SELECT event_type, substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS hx FROM events)
),
regs AS (
  SELECT event_type, CAST(hv % {m} AS INT) AS reg,
         max(CASE WHEN hv // {m} = 0 THEN {w_bits + 1}
                  ELSE {w_bits} - length(bin(hv // {m})) + 1 END) AS mj
  FROM h GROUP BY event_type, reg
),
agg AS (
  SELECT event_type,
         sum(CAST(1 AS BIGINT) << CAST({b} - mj AS INT)) AS s_nz,
         count(*) AS nz
  FROM regs GROUP BY event_type
),
est AS (
  SELECT event_type,
         CAST({alpha!r} AS DOUBLE) * {m} * {m} * CAST({1 << b} AS DOUBLE)
           / CAST(s_nz + ({m} - nz) * {1 << b} AS DOUBLE) AS raw,
         nz
  FROM agg
)
SELECT event_type,
       round(CASE WHEN raw <= 2.5 * {m} AND nz < {m}
                  THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / CAST({m} - nz AS DOUBLE))
                  ELSE raw END, 4) AS est_users
FROM est
"""


def q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-histogram quantile sketch (operators/sketches.py): per-event_type
    p50/p90/p99 of value via integer log-bucketing (bit-length + top-6
    mantissa bits, bounded 2^-6 relative error). Bucketing, counts, and
    the rank-exact quantile pick are all integer arithmetic, so the DuckDB
    oracle replays the sketch bit-for-bit; histograms merge across shards
    with groupBy-sum. Reference analog: none (north-rule sketch
    component)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.sketches import hdr_histogram, hdr_quantiles

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    hist = hdr_histogram(events, "value", ["event_type"], sub_bits=6)
    return hdr_quantiles(hist, ["event_type"], [0.5, 0.9, 0.99], sub_bits=6).select(
        "event_type",
        F.round("p", 2).alias("p"),
        F.round("quantile", 6).alias("quantile"),
    )


def _hdr_sql(m: int = 6, scale: int = 1_000_000) -> str:
    probs = [0.5, 0.9, 0.99]
    return f"""
WITH q AS (
  SELECT event_type, CAST(floor(CAST(value AS DOUBLE) * {scale}) AS BIGINT) AS qv
  FROM events
),
b AS (
  SELECT event_type,
         CASE WHEN qv < {1 << m} THEN qv
              ELSE CAST((length(bin(qv)) - 1 - {m} + 1) * {1 << m}
                   + ((qv >> (length(bin(qv)) - 1 - {m})) - {1 << m}) AS BIGINT) END AS bucket
  FROM q
),
hist AS (SELECT event_type, bucket, count(*) AS cnt FROM b GROUP BY event_type, bucket),
cum AS (
  SELECT event_type, bucket,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS c,
         sum(cnt) OVER (PARTITION BY event_type) AS tot
  FROM hist
),
probs(p) AS (VALUES {", ".join(f"({p})" for p in probs)}),
hit AS (
  SELECT event_type, p, bucket,
         row_number() OVER (PARTITION BY event_type, p ORDER BY bucket) AS rn
  FROM cum CROSS JOIN probs
  WHERE c >= ceil(p * tot)
)
SELECT event_type, round(p, 2) AS p,
       round(CAST(CASE WHEN (bucket >> {m}) = 0 THEN bucket
                  ELSE ((bucket % {1 << m}) + {1 << m}) << ((bucket >> {m}) - 1)
             END AS DOUBLE) / {scale}, 6) AS quantile
FROM hit WHERE rn = 1
"""


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch (operators/sketches.py): per-event_type
    counters (4 hash rows x 4096 buckets) built in one pass, then point
    estimates for user_ids < 20 probed against the sketch (min over rows,
    empty cell => 0). The md5 hashing mode lets the DuckDB oracle rebuild
    the identical sketch and estimates; counters merge across shards with
    groupBy-sum. Reference analog: none (north-rule sketch component)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.sketches import cms_estimate, cms_sketch

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    sk = cms_sketch(events, "user_id", ["event_type"], depth=4, width_bits=12, hash_fn="md5")
    keys = events.select("user_id").where("user_id < 20").distinct()
    return cms_estimate(
        sk, keys, "user_id", ["event_type"], depth=4, width_bits=12, hash_fn="md5"
    ).select(
        "event_type",
        F.col("user_id").cast("long").alias("user_id"),
        F.col("cms_estimate").cast("long").alias("est_count"),
    )


def _cms_sql(d: int = 4, w: int = 12) -> str:
    def hex15(expr: str) -> str:
        return (
            "("
            + " + ".join(
                f"CAST((strpos('0123456789abcdef', substr({expr}, {j + 1}, 1)) - 1) AS BIGINT) * {16 ** (14 - j)}"
                for j in range(15)
            )
            + ")"
        )

    def row_sql(r: int) -> str:
        md5e = f"substr(md5(CAST(user_id AS VARCHAR) || '#{r}'), 1, 15)"
        return (
            f"SELECT event_type, user_id, {r} AS row, "
            f"{hex15(md5e)} % {1 << w} AS bucket FROM events"
        )

    cells = " UNION ALL ".join(row_sql(r) for r in range(d))
    return f"""
WITH cells AS ({cells}),
sk AS (SELECT event_type, row, bucket, count(*) AS cnt FROM cells GROUP BY event_type, row, bucket),
probes AS (
  SELECT DISTINCT user_id, row, bucket FROM cells WHERE user_id < 20
),
pg AS (
  SELECT g.event_type, p.user_id, p.row, p.bucket
  FROM (SELECT DISTINCT event_type FROM sk) g CROSS JOIN probes p
)
SELECT pg.event_type, CAST(pg.user_id AS BIGINT) AS user_id,
       CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est_count
FROM pg LEFT JOIN sk
  ON sk.event_type = pg.event_type AND sk.row = pg.row AND sk.bucket = pg.bucket
GROUP BY pg.event_type, pg.user_id
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation via GROUPING SETS ((event_type), (user
    bucket), ()) — a standard-operator breadth check (SURVEY 2.6: the
    reference has no grouping sets; Spark provides them natively and
    Catalyst expands them in a single pass over the scan). Group-key NULLs
    are coalesced to sentinels so the cross-engine hash is
    representation-stable."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    events.createOrReplaceTempView("__ev_gs")
    return spark.sql(
        """
        SELECT coalesce(event_type, '(all)') AS event_type,
               coalesce(user_id % 10, -1) AS ub,
               count(*) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        FROM __ev_gs
        GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
        """
    )


_GROUPING_SETS_SQL = """
SELECT coalesce(event_type, '(all)') AS event_type,
       coalesce(user_id % 10, -1) AS ub,
       count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM events
GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction over the events.props column
    (get_json_object -> typed cast -> aggregate): the string/JSON scalar
    library the reference lacks (SURVEY 2.6), expressed with native
    Catalyst JSON path expressions so extraction stays inside codegen."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.select((k % 10).alias("kb"), F.col("value").cast("decimal(18,2)").alias("v"))
        .groupBy("kb")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("v").cast("double"), 2).alias("sum_value"),
        )
    )


_JSON_EXTRACT_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS kb,
       count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM events GROUP BY kb
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (SURVEY 2.6 breadth): users who clicked AND
    purchased (INTERSECT) minus heavy error-ers (EXCEPT, >= 15 error
    events), with the surviving set joined back for a stable aggregate.
    Spark plans these as hash-aggregate semi/anti joins — no driver-side
    sets."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")

    def users(t: str):
        return events.where(F.col("event_type") == t).select("user_id")

    heavy_err = (
        events.where(F.col("event_type") == "error")
        .groupBy("user_id")
        .count()
        .where(F.col("count") >= 15)
        .select("user_id")
    )
    keep = users("click").intersect(users("purchase")).exceptAll(heavy_err)
    return (
        events.join(keep, "user_id")
        .groupBy(F.col("user_id").cast("long").alias("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_value"),
        )
    )


_SET_OPS_SQL = """
WITH keep AS (
  SELECT user_id FROM events WHERE event_type = 'click'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'purchase'
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'error'
  GROUP BY user_id HAVING count(*) >= 15
)
SELECT CAST(e.user_id AS BIGINT) AS user_id, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM events e JOIN keep USING (user_id)
GROUP BY e.user_id
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (SURVEY 2.6 breadth): the 3 heaviest users by total
    value within each event_type — partial aggregation then a rank window
    over the small aggregate, never a global sort of the raw table.
    Decimal totals keep the ranking deterministic; ties break by
    user_id."""
    from pyspark.sql import Window

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    totals = events.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("__tot")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("__tot"), F.asc("user_id")
    )
    return (
        totals.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "event_type",
            F.col("rnk").cast("long").alias("rnk"),
            F.col("user_id").cast("long").alias("user_id"),
            F.round(F.col("__tot").cast("double"), 2).alias("total_value"),
        )
    )


_TOPK_SQL = """
WITH totals AS (
  SELECT event_type, user_id, sum(CAST(value AS DECIMAL(18,2))) AS tot
  FROM events GROUP BY event_type, user_id
),
ranked AS (
  SELECT event_type, user_id, tot,
         row_number() OVER (PARTITION BY event_type ORDER BY tot DESC, user_id) AS rnk
  FROM totals
)
SELECT event_type, CAST(rnk AS BIGINT) AS rnk, CAST(user_id AS BIGINT) AS user_id,
       round(CAST(tot AS DOUBLE), 2) AS total_value
FROM ranked WHERE rnk <= 3
"""


_Z_BITS = 16
_Z_RANGES = [(0, 199), (0, 604799)]  # user_id; seconds into the week


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order layout key (operators/layout.py): user_id and
    time-offset interleaved bit-by-bit — the sort key that gives parquet
    min/max pruning on BOTH dimensions at once. Pure integer Catalyst
    arithmetic against declared ranges, replayed bit-for-bit by the
    DuckDB oracle. Reference analog: none (north-rule storage-layout
    component)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.layout import zorder_key

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = events.select(
        "event_id",
        "user_id",
        (
            F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)")
        ).alias("t_off"),
    )
    return zorder_key(ev, ["user_id", "t_off"], _Z_RANGES, bits=_Z_BITS).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("zkey").cast("long").alias("zkey"),
    )


def _zorder_sql(bits: int = _Z_BITS) -> str:
    n = len(_Z_RANGES)
    qs = []
    for lo, hi in _Z_RANGES:
        span = hi - lo
        qs.append(
            f"((least(greatest(CAST({{col}} AS BIGINT), {lo}), {hi}) - {lo})"
            f" * {1 << bits}) // {span + 1}"
        )
    q0 = qs[0].format(col="user_id")
    q1 = qs[1].format(col="t_off")
    # NB: '+' binds tighter than '<<' in SQL — every term must be fully
    # parenthesized or the sum reassociates into the shift amounts
    terms = []
    for i, q in enumerate((q0, q1)):
        for b in range(bits):
            terms.append(f"(((({q}) >> {b}) & 1) << {b * n + i})")
    return f"""
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST({" + ".join(terms)} AS BIGINT) AS zkey
FROM (
  -- epoch() is fractional and CAST rounds; integer epoch_us // 1e6
  -- truncates like Spark's timestampdiff(SECOND, ...)
  SELECT event_id, user_id,
         CAST(epoch_us(ts) // 1000000 - 1704067200 AS BIGINT) AS t_off
  FROM events
)
"""


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 whitespace unigrams AND top-50 bigrams
    over documents (operators/textstats.py vocab_topk) — the
    vocabulary-building staple of a training-data pipeline. The plan is
    explode -> partial-agg count -> TakeOrderedAndProject (distributed
    top-k, never a global sort of the vocab). Ties rank
    lexicographically, so the oracle replay is exact."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.textstats import vocab_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    uni = vocab_topk(docs, "text", k=50, ngram=1).select(
        F.lit(1).alias("n"), F.col("rnk").cast("long").alias("rnk"), "term",
        F.col("cnt").cast("long").alias("cnt"),
    )
    bi = vocab_topk(docs, "text", k=50, ngram=2).select(
        F.lit(2).alias("n"), F.col("rnk").cast("long").alias("rnk"), "term",
        F.col("cnt").cast("long").alias("cnt"),
    )
    return uni.unionByName(bi)


_VOCAB_SQL = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
uni AS (
  SELECT term, count(*) AS cnt FROM toks WHERE term != '' GROUP BY term
),
uni_r AS (
  SELECT 1 AS n, row_number() OVER (ORDER BY cnt DESC, term) AS rnk, term, cnt
  FROM uni
),
grams AS (
  SELECT unnest(list_transform(
           generate_series(1, len(string_split(text, ' ')) - 1),
           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' ')
         )) AS term
  FROM documents
),
bi AS (
  SELECT term, count(*) AS cnt FROM grams WHERE term != '' GROUP BY term
),
bi_r AS (
  SELECT 2 AS n, row_number() OVER (ORDER BY cnt DESC, term) AS rnk, term, cnt
  FROM bi
)
SELECT n, rnk, term, cnt FROM uni_r WHERE rnk <= 50
UNION ALL
SELECT n, rnk, term, cnt FROM bi_r WHERE rnk <= 50
"""


_RETRIEVAL_TERMS = ["vector", "join", "stream", "window", "customer", "hash"]
_RETRIEVAL_SCALE = 10**6


def q_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus retrieval: top-25 documents by exact fixed-point tf-idf
    over a 6-term query (operators/retrieval.py tfidf_topk,
    exact_scale mode). Plan shape: one corpus scan explodes tokens and
    filters to the query terms BEFORE the shuffle, document frequency is
    a window over the tiny posting table, corpus totals are a broadcast
    single row, and the ranking is TakeOrderedAndProject. The linear
    idf surrogate (scale*N) div df keeps every score an integer the
    DuckDB oracle replays in HUGEINT."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.retrieval import tfidf_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_topk(
        docs, "doc_id", "text", _RETRIEVAL_TERMS, k=25,
        exact_scale=_RETRIEVAL_SCALE, arithmetic="int64",
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus retrieval: top-25 documents by exact fixed-point BM25
    (k1=1.2, b=0.75) over the same 6-term query (operators/retrieval.py
    bm25_topk). The length normalization is cleared to one integral
    division per (doc, term) via exact fractions — DECIMAL(38,0)
    products + Spark's `div`, replayed `//`-for-`//` in DuckDB HUGEINT.
    Document length rides the explode projection (no length join)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(
        docs, "doc_id", "text", _RETRIEVAL_TERMS, k=25,
        exact_scale=_RETRIEVAL_SCALE, arithmetic="int64",
    )


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators/retrieval.py rrf_fuse): reciprocal
    rank fusion of the exact fixed-point BM25 top-25 (the 6-term text
    query) with the LSH-ANN top-5 for the query embedding (vec_id 0;
    doc_id == vec_id is the fixtures' linkage). Every contribution is
    one integral division (10^6 div (60 + rank)), so the fused ranking
    replays bit-for-bit — the oracle nests both family oracles as
    subqueries and re-derives the fusion. Reference analog: none
    (north-rule retrieval component)."""
    _ensure_package_shipped(spark)
    from pyspark.sql import Window

    from rustiflow_spark.operators.retrieval import bm25_topk, rrf_fuse
    from rustiflow_spark.operators.similarity import ann_topk_lsh

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bm = bm25_topk(
        docs, "doc_id", "text", _RETRIEVAL_TERMS, k=25,
        exact_scale=_RETRIEVAL_SCALE, arithmetic="int64",
    ).select(
        F.col("doc_id").alias("item_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("score_scaled"), F.asc("doc_id")))
        .alias("r"),
    )
    an = ann_topk_lsh(
        emb, emb.filter(F.col("vec_id") == 0), k=5, n_planes=6, n_tables=6
    ).select(F.col("neighbor_id").alias("item_id"), F.col("rank").alias("r"))
    return rrf_fuse([bm, an], "item_id", "r", topk=10).select(
        F.col("item_id").cast("long").alias("item_id"),
        "n_sources",
        "rrf_scaled",
        "rank",
    )


def _hybrid_sql() -> str:
    return f"""
WITH bm AS (
  SELECT CAST(doc_id AS BIGINT) AS item_id,
         row_number() OVER (ORDER BY score_scaled DESC, doc_id) AS r
  FROM ({_retrieval_sql("bm25_scaled")})
),
an AS (
  SELECT CAST(neighbor_id AS BIGINT) AS item_id, rank AS r
  FROM ({_ann_topk_sql()}) WHERE query_id = 0
),
u AS (SELECT * FROM bm UNION ALL SELECT * FROM an),
fused AS (
  SELECT item_id, CAST(count(*) AS BIGINT) AS n_sources,
         CAST(sum(1000000 // (60 + r)) AS BIGINT) AS rrf_scaled
  FROM u GROUP BY item_id
)
SELECT item_id, n_sources, rrf_scaled, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (ORDER BY rrf_scaled DESC, item_id) AS rank
  FROM fused
) WHERE rank <= 10"""


def _retrieval_sql(order_col: str) -> str:
    terms = ",".join(f"'{t}'" for t in _RETRIEVAL_TERMS)
    s = _RETRIEVAL_SCALE
    # k1=6/5, b=3/4: term = idf_w*tf*(a+b_)*d*T // (b_*d*tf*T + a*(d-c)*T
    # + a*c*dl*N) = idf_w*tf*44*T // (20*tf*T + 6*T + 18*dl*N)
    return f"""
WITH toks AS (
  SELECT doc_id,
         len(list_filter(string_split(text,' '), x -> x <> ''))::HUGEINT AS dl,
         unnest(string_split(text,' ')) AS term
  FROM documents
),
post AS (
  SELECT doc_id, term, count(*)::HUGEINT AS tf, min(dl) AS dl
  FROM toks WHERE term IN ({terms}) GROUP BY doc_id, term
),
pd2 AS (SELECT *, count(*) OVER (PARTITION BY term)::HUGEINT AS dft FROM post),
tot AS (
  SELECT count(*)::HUGEINT AS n,
         coalesce(sum(len(list_filter(string_split(text,' '), x -> x <> ''))),0)::HUGEINT AS t
  FROM documents
),
sc AS (
  SELECT p.doc_id, count(*) AS n_matched,
    CAST(sum((({s}::HUGEINT * tot.n) // p.dft) * p.tf) AS BIGINT) AS tfidf_scaled,
    CAST(sum(((({s}::HUGEINT * tot.n) // p.dft) * p.tf * 44 * tot.t)
        // (20::HUGEINT*p.tf*tot.t + 6::HUGEINT*tot.t + 18::HUGEINT*p.dl*tot.n))
        AS BIGINT) AS bm25_scaled
  FROM pd2 p CROSS JOIN tot GROUP BY p.doc_id
)
SELECT doc_id, n_matched, {order_col} AS score_scaled FROM sc
ORDER BY {order_col} DESC, doc_id LIMIT 25
"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profiling of the documents table (operators/profile.py
    profile_table, exact mode): one scan -> (col_name, n, n_null,
    n_distinct, min_s, max_s) per column. Exact count(DISTINCT) per
    column costs Catalyst's Expand (documented); the 100-TB mode is
    exact_distinct=False (HLL++ in the same single partial aggregate,
    no Expand — plan-asserted in tests). min/max aggregate in native
    type; only the result is rendered to string."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.profile import profile_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return profile_table(docs)


_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, count(*)::BIGINT AS n,
       (count(*) - count({c}))::BIGINT AS n_null,
       count(DISTINCT {c})::BIGINT AS n_distinct,
       min({c})::VARCHAR AS min_s, max({c})::VARCHAR AS max_s
FROM documents"""
    for c in ["doc_id", "text", "lang", "source", "n_chars"]
)


def q_hash_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-cross hashing (operators/encoding.py hash_cross): bucket
    the (lang x source) cross of documents into 64 ids with the md5
    replay hash, then count rows per bucket. The bucket assignment is a
    zero-shuffle per-row projection (plan-asserted); the count is one
    partial-aggregated groupBy. The oracle replays md5 -> 15-hex-char
    positional parse -> mod 64 exactly (sketches.py convention)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.encoding import hash_cross

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        hash_cross(docs, ["lang", "source"], 64, hash_fn="md5")
        .groupBy("cross_bucket")
        .agg(F.count("*").alias("cnt"))
    )


_HASH_CROSS_HEX = (
    "("
    + " + ".join(
        f"CAST((strpos('0123456789abcdef', substr(hx, {j + 1}, 1)) - 1) AS BIGINT)"
        f" * {16 ** (14 - j)}"
        for j in range(15)
    )
    + ")"
)

_HASH_CROSS_SQL = f"""
WITH h AS (
  SELECT substr(md5(coalesce(lang, chr(0) || 'NULL') || chr(31) ||
                    coalesce(source, chr(0) || 'NULL')), 1, 15) AS hx
  FROM documents
)
SELECT CAST({_HASH_CROSS_HEX} % 64 AS INTEGER) AS cross_bucket,
       count(*)::BIGINT AS cnt
FROM h GROUP BY cross_bucket
"""


def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-stratum quota sampling (operators/sampling.py
    quota_sample): keep at most 200 events per event_type, membership a
    pure function of (event_id, seed) via the Lehmer mix — partition-
    and engine-invariant, unlike df.sample. Plan: one Exchange on the
    stratum + rank window. Oracle replays mix -> row_number -> cap."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.sampling import quota_sample

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return quota_sample(ev, "event_type", "event_id", 200, rank_col="r").select(
        "event_id", "event_type", F.col("r").cast("long").alias("r")
    )


def _quota_sql() -> str:
    from rustiflow_spark.operators.sampling import mix_sql

    mix = mix_sql("event_id", 31).replace("`", "")
    return f"""
WITH r AS (
  SELECT event_id, event_type,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY {mix}, event_id) AS r
  FROM events
)
SELECT event_id, event_type, CAST(r AS BIGINT) AS r FROM r WHERE r <= 200
"""


def q_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal split with an embargo gap
    (operators/sampling.py temporal_split): train <= Jan 18, embargo
    (Jan 18, Jan 25], test after — the purge window that keeps trailing-
    window features (lags, as-of joins) from straddling the boundary.
    Verified as per-split row counts + exact event_id sums (the split
    itself is a zero-shuffle projection, plan-asserted in tests)."""
    _ensure_package_shipped(spark)
    import datetime as _dt

    from rustiflow_spark.operators.sampling import temporal_split

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = temporal_split(
        ev,
        "ts",
        cutoff=_dt.datetime(2024, 1, 25),
        embargo=_dt.datetime(2024, 1, 18),
    )
    return out.groupBy("split").agg(
        F.count("*").alias("n"), F.sum("event_id").alias("id_sum")
    )


_TIME_SPLIT_SQL = """
SELECT CASE WHEN ts <= TIMESTAMP '2024-01-18 00:00:00' THEN 'train'
            WHEN ts <= TIMESTAMP '2024-01-25 00:00:00' THEN 'embargo'
            ELSE 'test' END AS split,
       count(*)::BIGINT AS n, sum(event_id)::BIGINT AS id_sum
FROM events GROUP BY split
"""


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse random projection 64 -> 8 dims over embeddings
    (operators/similarity.py random_project): Achlioptas {-1,0,+1}
    matrix regenerated from the Lehmer mix by both engines, applied to
    the 1024-quantized vectors as pure integer Catalyst expressions —
    zero shuffle, zero Python (plan-asserted in tests). The JL front
    end for the ANN family: project, then bucket the short vectors."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.similarity import random_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = random_project(emb, "embedding", 64, 8, seed=7)
    return out.select(
        "vec_id",
        *[F.element_at("proj", i + 1).alias(f"p{i}") for i in range(8)],
    )


def _random_projection_sql() -> str:
    from rustiflow_spark.operators.similarity import projection_matrix

    mat = projection_matrix(64, 8, seed=7)
    comps = []
    for i, row in enumerate(mat):
        terms = [
            f"{'+' if e > 0 else '-'} qv[{j + 1}]"
            for j, e in enumerate(row)
            if e != 0
        ]
        body = " ".join(terms).lstrip("+ ") if terms else "0"
        comps.append(f"CAST({body} AS BIGINT) AS p{i}")
    cols = ",\n       ".join(comps)
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * 1024) AS BIGINT)) AS qv
  FROM embeddings
)
SELECT vec_id,
       {cols}
FROM q
"""


def q_token_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash on PRE-TOKENIZED sequences (operators/dedup.py
    token_minhash_signatures): tokens synthesized from documents with
    the standard FIXTURES.md transform, 3-gram canonical strings, md5
    replay hash, 8 Lehmer permutations — all per-row Catalyst array
    algebra (no explode/shuffle/Python; plan-asserted in tests). The
    signatures feed the SAME banded-LSH candidates/clustering as the
    text path. Oracle replays gram strings -> md5 parse -> mod-permutation
    mins per document."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.dedup import token_minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.expr(
            "transform(split(text, ' '), w -> CAST(length(w) * 31 + ascii(w) AS INT))"
        ).alias("tokens"),
    )
    sig = token_minhash_signatures(toks, "tokens", num_perm=8, n=3, hash_fn="md5")
    return sig.select(
        "doc_id",
        *[F.element_at("minhash", i + 1).alias(f"sig_{i}") for i in range(8)],
    )


def _token_minhash_sql() -> str:
    from rustiflow_spark.operators.dedup import token_minhash_params

    hexparse = (
        "("
        + " + ".join(
            f"CAST((strpos('0123456789abcdef', substr(hx, {j + 1}, 1)) - 1) AS BIGINT)"
            f" * {16 ** (14 - j)}"
            for j in range(15)
        )
        + ")"
    )
    m = (1 << 31) - 1
    mins = ",\n         ".join(
        f"min(({a} * g31 + {b}) % {m}) AS sig_{p}"
        for p, (a, b) in enumerate(token_minhash_params(8))
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        w -> CAST(length(w) * 31 + ascii(w) AS INTEGER)) AS tk
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 3 THEN
           list_transform(generate_series(1, len(tk) - 2),
                          i -> array_to_string(list_slice(tk, i, i + 2), ','))
         ELSE [array_to_string(tk, ',')] END AS gs
  FROM toks
),
g AS (SELECT doc_id, unnest(gs) AS s FROM grams),
h AS (
  SELECT doc_id, g31 FROM (
    SELECT doc_id, {hexparse} % {m} AS g31
    FROM (SELECT doc_id, substr(md5(s), 1, 15) AS hx FROM g)
  )
)
SELECT doc_id,
         {mins}
FROM h GROUP BY doc_id
"""


def q_dup_token_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicate token-window detection (operators/
    dedup.py duplicate_token_spans; Lee et al. 2021 re-expressed as
    fixed-width window n-grams): tokens synthesized with the standard
    FIXTURES.md transform, every 5-token window occurring >= 2 times
    corpus-wide marks its span duplicated; per document the query reports
    duplicated window starts and the token count covered by the UNION of
    duplicated spans (interval-union fold over an ordered window — no
    driver state). Oracle mode keys grams by the token-slice array
    (use_hash=False; the DuckDB oracle's comma-joined string gives the
    same classes on these NULL-free tokens); production keys xxhash64.
    Reference analog: none
    (north-rule tokens-payload dedup component)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.dedup import duplicate_token_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.expr(
            "transform(split(text, ' '), w -> CAST(length(w) * 31 + ascii(w) AS INT))"
        ).alias("tokens"),
    )
    return duplicate_token_spans(
        toks, "doc_id", "tokens", window=5, min_count=2, use_hash=False
    )


def _dup_token_spans_sql(window: int = 5, min_count: int = 2) -> str:
    w = window
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        t -> CAST(length(t) * 31 + ascii(t) AS INTEGER)) AS tk
  FROM documents
),
docs AS (
  SELECT doc_id, len(tk) AS n_tok,
         greatest(0, len(tk) - {w - 1}) AS n_windows
  FROM toks
),
spans AS (
  SELECT doc_id, i AS start,
         array_to_string(list_slice(tk, i, i + {w - 1}), ',') AS gk
  FROM toks, unnest(generate_series(1, len(tk) - {w - 1})) AS t(i)
  WHERE len(tk) >= {w}
),
dup AS (
  SELECT gk FROM spans GROUP BY gk HAVING count(*) >= {min_count}
),
cover AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS dup_windows,
         CAST(sum(cov) AS BIGINT) AS covered_tokens
  FROM (
    SELECT doc_id,
           CASE WHEN prev IS NULL THEN {w}
                ELSE least({w}, start - prev) END AS cov
    FROM (
      SELECT s.doc_id, s.start,
             lag(s.start) OVER (PARTITION BY s.doc_id ORDER BY s.start) AS prev
      FROM spans s JOIN dup USING (gk)
    )
  ) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(d.n_tok AS BIGINT) AS n_tok,
       CAST(d.n_windows AS BIGINT) AS n_windows,
       CAST(coalesce(c.dup_windows, 0) AS BIGINT) AS dup_windows,
       CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       CASE WHEN d.n_tok > 0
            THEN CAST(coalesce(c.covered_tokens, 0) AS DOUBLE) / d.n_tok
            ELSE 0.0 END AS dup_token_frac
FROM docs d LEFT JOIN cover c USING (doc_id)"""


def q_dedup_spans_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REWRITE side of ExactSubstr dedup (operators/dedup.py
    remove_duplicate_token_spans): tokens covered by a non-canonical
    duplicate 5-window are dropped; the earliest (id, start) occurrence
    of each gram survives. The rewritten corpus itself is verified via
    the position-weighted integer checksum (arrays-in-contracts
    convention, same as bpe_encode) plus kept/removed counts — any
    divergence at any position of any document flips the hash."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.dedup import remove_duplicate_token_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.expr(
            "transform(split(text, ' '), w -> CAST(length(w) * 31 + ascii(w) AS INT))"
        ).alias("tokens"),
    )
    out = remove_duplicate_token_spans(
        toks, "doc_id", "tokens", window=5, min_count=2, use_hash=False
    )
    return out.select(
        "doc_id",
        "n_tok",
        "n_removed",
        F.expr(
            "CASE WHEN size(tokens) = 0 THEN 0 ELSE"
            " aggregate(transform(sequence(1, size(tokens)),"
            " i -> CAST(i AS BIGINT) * element_at(tokens, i)),"
            " 0L, (s, x) -> s + x) % 1000000007 END"
        ).alias("checksum"),
    )


def _dedup_spans_rewrite_sql(window: int = 5, min_count: int = 2) -> str:
    w = window
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        t -> CAST(length(t) * 31 + ascii(t) AS INTEGER)) AS tk
  FROM documents
),
spans AS (
  SELECT doc_id, i AS start,
         array_to_string(list_slice(tk, i, i + {w - 1}), ',') AS gk
  FROM toks, unnest(generate_series(1, len(tk) - {w - 1})) AS t(i)
  WHERE len(tk) >= {w}
),
dup AS (SELECT gk FROM spans GROUP BY gk HAVING count(*) >= {min_count}),
ds AS (SELECT s.doc_id, s.start, s.gk FROM spans s JOIN dup USING (gk)),
fo AS (
  SELECT gk, doc_id AS fd, start AS fs FROM (
    SELECT gk, doc_id, start,
           row_number() OVER (PARTITION BY gk ORDER BY doc_id, start) AS rn
    FROM ds
  ) WHERE rn = 1
),
covered AS (
  SELECT DISTINCT ds.doc_id, ds.start + j AS pos
  FROM ds JOIN fo USING (gk), unnest(generate_series(0, {w - 1})) AS t(j)
  WHERE NOT (ds.doc_id = fo.fd AND ds.start = fo.fs)
),
pos AS (
  SELECT doc_id, i AS pos, tk[i] AS tok
  FROM toks, unnest(generate_series(1, len(tk))) AS t(i)
),
kept AS (
  SELECT p.doc_id, p.pos, p.tok,
         row_number() OVER (PARTITION BY p.doc_id ORDER BY p.pos) AS ni
  FROM pos p ANTI JOIN covered c ON c.doc_id = p.doc_id AND c.pos = p.pos
),
chk AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_clean,
         CAST(sum(CAST(ni AS BIGINT) * tok) % 1000000007 AS BIGINT) AS checksum
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.tk) AS BIGINT) AS n_tok,
       CAST(len(t.tk) - coalesce(c.n_clean, 0) AS BIGINT) AS n_removed,
       CAST(coalesce(c.checksum, 0) AS BIGINT) AS checksum
FROM toks t LEFT JOIN chk c USING (doc_id)"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition quality filters (operators/textstats.py
    repetition_stats; Rae et al. 2021 appendix A1.1, word-gram subset):
    per document the distinct-word / top-word / top-bigram fractions and
    the fraction of 3-gram positions whose gram repeats within the doc.
    Three word-count-shaped explode->groupBy pyramids, all map-side
    combinable. Oracle replays the word split (trim + ' +' regex, empties
    dropped) and every gram pyramid. Reference analog: none (north-rule
    text-quality component; text_stats holds the non-repetition
    signals)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.textstats import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_stats(docs, "doc_id", "text")


_REPETITION_SQL = """
WITH ws AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), ' +'),
                     t -> t <> '') AS ws
  FROM documents
),
u AS (
  SELECT doc_id, t AS g, count(*) AS c
  FROM (SELECT doc_id, unnest(ws) AS t FROM ws)
  GROUP BY doc_id, g
),
uni AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS top_word
  FROM u GROUP BY doc_id
),
b AS (
  SELECT doc_id, g, count(*) AS c
  FROM (
    SELECT doc_id, array_to_string(list_slice(ws, i, i + 1), ' ') AS g
    FROM ws, unnest(generate_series(1, len(ws) - 1)) AS t(i)
    WHERE len(ws) >= 2
  ) GROUP BY doc_id, g
),
bi AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bi,
         CAST(max(c) AS BIGINT) AS top_bi
  FROM b GROUP BY doc_id
),
t3 AS (
  SELECT doc_id, g, count(*) AS c
  FROM (
    SELECT doc_id, array_to_string(list_slice(ws, i, i + 2), ' ') AS g
    FROM ws, unnest(generate_series(1, len(ws) - 2)) AS t(i)
    WHERE len(ws) >= 3
  ) GROUP BY doc_id, g
),
tri AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tri,
         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_tri
  FROM t3 GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(coalesce(uni.n_words, 0) AS BIGINT) AS n_words,
       CASE WHEN coalesce(uni.n_words, 0) > 0
            THEN CAST(coalesce(uni.n_distinct, 0) AS DOUBLE) / uni.n_words
            ELSE 0.0 END AS distinct_word_frac,
       CASE WHEN coalesce(uni.n_words, 0) > 0
            THEN CAST(coalesce(uni.top_word, 0) AS DOUBLE) / uni.n_words
            ELSE 0.0 END AS top_word_frac,
       CASE WHEN coalesce(bi.n_bi, 0) > 0
            THEN CAST(coalesce(bi.top_bi, 0) AS DOUBLE) / bi.n_bi
            ELSE 0.0 END AS top_bigram_frac,
       CASE WHEN coalesce(tri.n_tri, 0) > 0
            THEN CAST(coalesce(tri.dup_tri, 0) AS DOUBLE) / tri.n_tri
            ELSE 0.0 END AS dup_trigram_frac
FROM ws w
LEFT JOIN uni USING (doc_id)
LEFT JOIN bi USING (doc_id)
LEFT JOIN tri USING (doc_id)
"""


def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (operators/dsir.py; Xie et al. 2023):
    raw corpus = all documents, target = the lang='en' subset; hashed
    unigram+bigram bag models with add-one smoothing over 256 buckets;
    per-document importance score in the exact fixed-point linear-ratio
    mode (one integral DECIMAL(38,0) division per bucket, md5 replay
    hashing) so the oracle reproduces both corpus models, the 256-row
    ratio table, and every document sum bit-for-bit. Production mode is
    xxhash64 + the paper's log-ratio double sum (same plan shape).
    Reference analog: none (north-rule data-selection component)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.dsir import dsir_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dsir_weights(
        docs,
        docs.where(F.col("lang") == "en"),
        "doc_id",
        "text",
        n_buckets=256,
        scale=1_000_000,
        hash_fn="md5",
        arithmetic="fixed",
    )


def _dsir_sql(n_buckets: int = 256, scale: int = 1_000_000) -> str:
    hexparse = (
        "("
        + " + ".join(
            f"CAST((strpos('0123456789abcdef', substr(hx, {j + 1}, 1)) - 1) AS BIGINT)"
            f" * {16 ** (14 - j)}"
            for j in range(15)
        )
        + ")"
    )
    b = n_buckets
    return f"""
WITH ws AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(text), ' +'),
                     t -> t <> '') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, lang, unnest(list_concat(
           ws,
           CASE WHEN len(ws) >= 2 THEN
             list_transform(generate_series(1, len(ws) - 1),
                            i -> array_to_string(list_slice(ws, i, i + 1), ' '))
           ELSE [] END)) AS g
  FROM ws
),
gb AS (
  SELECT doc_id, lang, {hexparse} % {b} AS bk
  FROM (SELECT doc_id, lang, substr(md5(g), 1, 15) AS hx FROM grams)
),
rc AS (SELECT bk, count(*) AS cr FROM gb GROUP BY bk),
tc AS (SELECT bk, count(*) AS ct FROM gb WHERE lang = 'en' GROUP BY bk),
buckets AS (SELECT unnest(generate_series(0, {b - 1})) AS bk),
cnt AS (
  SELECT buckets.bk, coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
  FROM buckets LEFT JOIN rc USING (bk) LEFT JOIN tc USING (bk)
),
tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM cnt),
ratios AS (
  SELECT bk,
         CAST((CAST(ct + 1 AS HUGEINT) * (nr + {b}) * {scale})
              // (CAST(cr + 1 AS HUGEINT) * (nt + {b})) AS BIGINT) AS r
  FROM cnt, tot
),
scored AS (
  SELECT gb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(r) AS BIGINT) AS dsir_score
  FROM gb JOIN ratios ON ratios.bk = gb.bk
  GROUP BY gb.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
       CAST(coalesce(s.dsir_score, 0) AS BIGINT) AS dsir_score
FROM documents d LEFT JOIN scored s USING (doc_id)"""


def q_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample distribution drift (operators/profile.py
    histogram_drift): events deterministically split into a reference
    (even event_id) and current (odd) sample, per-event_type chi-square
    over 16 equal-width value bins on the declared [0, 100] range —
    the training/serving-skew monitor. The statistic is the exact
    fixed-point rational surrogate (one DECIMAL(38,0) integral division
    per bin), so the oracle replays binning, both histograms, and every
    contribution bit-for-bit. Reference analog: none (north-rule
    data-quality component)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.profile import histogram_drift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    return histogram_drift(
        ev.where(F.col("event_id") % 2 == 0),
        ev.where(F.col("event_id") % 2 == 1),
        "value",
        by="event_type",
        lo=0,
        hi=100,
        n_bins=16,
    ).orderBy("event_type")


_DRIFT_SQL = """
WITH src AS (
  SELECT event_type, event_id % 2 AS side,
         least(15, greatest(0,
           CAST(floor((CAST(value AS DOUBLE) - 0) * 16 / 100) AS INT))) AS bin
  FROM events
),
h AS (
  SELECT event_type, bin,
         sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS b
  FROM src GROUP BY event_type, bin
),
tot AS (
  SELECT event_type, sum(a) AS nr, sum(b) AS nc FROM h GROUP BY event_type
)
SELECT h.event_type,
       CAST(max(nr) AS BIGINT) AS n_ref,
       CAST(max(nc) AS BIGINT) AS n_cur,
       CAST(sum(
         CASE WHEN nr = 0 OR nc = 0 THEN CAST(1000000 AS HUGEINT) * (a + b)
         ELSE
         (CAST(1000000 AS HUGEINT) * (a * nc - b * nr) * (a * nc - b * nr))
         // (CAST(a + b AS HUGEINT) * nr * nc)
         END
       ) AS BIGINT) AS chi2_scaled
FROM h JOIN tot USING (event_type)
WHERE a + b > 0
GROUP BY h.event_type
ORDER BY h.event_type
"""


def q_drift_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor (streaming/rollup_stream.py
    drift_hist_stream + operators/profile.py histogram_chi2): per-hour
    per-event_type value histograms emitted exactly once under the
    3-file availableNow replay, then each finalized window scored
    against the full-corpus reference histogram with the exact
    fixed-point chi-square tail. Oracle: batch per-hour histograms
    restricted to buckets the final watermark passed (the sketch-stream
    closed form), reference + chi-square replayed in HUGEINT."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.profile import histogram_chi2
    from rustiflow_spark.streaming.rollup_stream import drift_hist_stream

    ev = _events(spark, sf_dir).select("ts_us", "event_type", "value")
    src, out, ckpt = _replay_three_files(ev, "driftstream", sf_dir)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    hists = drift_hist_stream(
        stream, "ts_us", 3600, "value", ["event_type"],
        lo=0, hi=100, n_bins=16, watermark_delay="10 seconds",
    )
    _run_available_now(hists, out, ckpt)
    emitted = spark.read.parquet(out)
    # reference: the full corpus, same declared bins
    bexpr = F.least(
        F.lit(15),
        F.greatest(
            F.lit(0),
            F.floor((F.col("value").cast("double") - 0) * 16 / 100).cast("int"),
        ),
    )
    ref = (
        ev.select("event_type", bexpr.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("n"))
    )
    # the reference replicates across every emitted window of its group
    ref_w = ref.join(
        emitted.select("event_type", "bucket_s").distinct(), "event_type"
    )
    return histogram_chi2(
        ref_w, emitted, ["event_type", "bucket_s"]
    ).select(
        "event_type",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        "n_ref",
        "n_cur",
        "chi2_scaled",
    )


_DRIFT_STREAM_SQL = """
WITH wm AS (
  SELECT (CAST(floor(max(epoch_us(ts)) / 1000) AS BIGINT) - 10000) * 1000 AS wm_us
  FROM events
),
src AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_s,
         least(15, greatest(0,
           CAST(floor((CAST(value AS DOUBLE) - 0) * 16 / 100) AS INT))) AS bin
  FROM events
),
cur AS (
  SELECT event_type, bucket_s, bin, count(*) AS b
  FROM src, wm
  WHERE (bucket_s + 3600) * 1000000 <= wm_us
  GROUP BY event_type, bucket_s, bin
),
ref AS (
  SELECT event_type, bin, count(*) AS a FROM src GROUP BY event_type, bin
),
refw AS (
  SELECT r.event_type, w.bucket_s, r.bin, r.a
  FROM ref r JOIN (SELECT DISTINCT event_type, bucket_s FROM cur) w
       USING (event_type)
),
j AS (
  SELECT coalesce(r.event_type, c.event_type) AS event_type,
         coalesce(r.bucket_s, c.bucket_s) AS bucket_s,
         coalesce(r.bin, c.bin) AS bin,
         coalesce(r.a, 0) AS a, coalesce(c.b, 0) AS b
  FROM refw r FULL OUTER JOIN cur c
    ON r.event_type = c.event_type AND r.bucket_s = c.bucket_s
   AND r.bin = c.bin
),
tot AS (
  SELECT event_type, bucket_s, sum(a) AS nr, sum(b) AS nc
  FROM j GROUP BY event_type, bucket_s
)
SELECT j.event_type, CAST(j.bucket_s AS BIGINT) AS bucket_s,
       CAST(max(nr) AS BIGINT) AS n_ref,
       CAST(max(nc) AS BIGINT) AS n_cur,
       CAST(sum(
         CASE WHEN nr = 0 OR nc = 0 THEN CAST(1000000 AS HUGEINT) * (a + b)
         ELSE
         (CAST(1000000 AS HUGEINT) * (a * nc - b * nr) * (a * nc - b * nr))
         // (CAST(a + b AS HUGEINT) * nr * nc)
         END
       ) AS BIGINT) AS chi2_scaled
FROM j JOIN tot USING (event_type, bucket_s)
WHERE a + b > 0
GROUP BY j.event_type, j.bucket_s
"""


_EXPECT_RULES = [
    {"kind": "not_null", "col": "text"},
    {"kind": "between", "col": "n_chars", "lo": 1, "hi": 100000},
    {"kind": "in_set", "col": "lang", "values": ["en", "fr", "de", "es", "zh"]},
    {"kind": "regex", "col": "source", "pattern": "^src[0-9]+$"},
    {"kind": "unique", "col": "doc_id"},
    {"kind": "expr", "name": "chars_match", "sql": "length(text) = n_chars"},
]


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/profile.py
    validate_expectations): six expectation rules over documents —
    not_null / range / value-set / regex shape / key uniqueness / a
    cross-column consistency expression — ALL evaluated in ONE aggregate
    over ONE scan (violations are conditional sums; uniqueness adds an
    exact distinct to the same agg). The oracle recomputes every rule's
    violation count in SQL. Reference analog: none (north-rule
    data-quality component)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.profile import validate_expectations

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return validate_expectations(docs, _EXPECT_RULES).orderBy("rule")


_EXPECT_SQL = """
WITH agg AS (
  SELECT count(*) AS n,
         sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS v_nn,
         sum(CASE WHEN n_chars IS NULL OR n_chars < 1 OR n_chars > 100000
                  THEN 1 ELSE 0 END) AS v_bt,
         sum(CASE WHEN lang IS NULL
                       OR lang NOT IN ('en','fr','de','es','zh')
                  THEN 1 ELSE 0 END) AS v_in,
         sum(CASE WHEN source IS NULL
                       OR NOT regexp_matches(CAST(source AS VARCHAR),
                                             '^(?:^src[0-9]+$)\\z')
                  THEN 1 ELSE 0 END) AS v_re,
         count(doc_id) - count(DISTINCT doc_id) AS v_uq,
         sum(CASE WHEN NOT (length(text) = n_chars) THEN 1 ELSE 0 END) AS v_ex
  FROM documents
)
SELECT * FROM (
  SELECT 'not_null_text' AS rule, 'text' AS col, 'not_null' AS kind,
         CAST(n AS BIGINT) AS n_rows, CAST(v_nn AS BIGINT) AS n_violations,
         v_nn = 0 AS passed FROM agg
  UNION ALL
  SELECT 'between_n_chars', 'n_chars', 'between',
         CAST(n AS BIGINT), CAST(v_bt AS BIGINT), v_bt = 0 FROM agg
  UNION ALL
  SELECT 'in_set_lang', 'lang', 'in_set',
         CAST(n AS BIGINT), CAST(v_in AS BIGINT), v_in = 0 FROM agg
  UNION ALL
  SELECT 'regex_source', 'source', 'regex',
         CAST(n AS BIGINT), CAST(v_re AS BIGINT), v_re = 0 FROM agg
  UNION ALL
  SELECT 'unique_doc_id', 'doc_id', 'unique',
         CAST(n AS BIGINT), CAST(v_uq AS BIGINT), v_uq = 0 FROM agg
  UNION ALL
  SELECT 'chars_match', '', 'expr',
         CAST(n AS BIGINT), CAST(v_ex AS BIGINT), v_ex = 0 FROM agg
) ORDER BY rule
"""


def q_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer losslessness as a contract (operators/bpe.py
    bpe_decode): learn 4 merges, greedily rewrite the corpus, then
    EXPAND every merge back in reverse order — the per-document
    position-weighted checksum of decode(encode(corpus)) must equal the
    checksum of the ORIGINAL tokens, so the oracle is just the direct
    checksum of the synthesized token arrays (any loss at any position
    of any document flips the hash). Also returns the encoded length so
    the row proves the merges actually fired before being inverted."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.bpe import bpe_decode, bpe_learn

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.expr(
            "transform(split(text, ' '), w -> CAST(length(w) * 31 + ascii(w) AS INT))"
        ).alias("tokens"),
    )
    merges, encoded = bpe_learn(toks, "tokens", n_merges=4, new_id_base=1_000_000)
    decoded = bpe_decode(
        encoded.select("doc_id", "tokens", F.size("tokens").alias("n_enc")),
        "tokens",
        merges,
    )
    return decoded.select(
        "doc_id",
        F.col("n_enc").cast("long").alias("n_enc"),
        F.size("tokens").cast("long").alias("n_dec"),
        F.expr(
            "CASE WHEN size(tokens) = 0 THEN 0 ELSE"
            " aggregate(transform(sequence(1, size(tokens)),"
            " i -> CAST(i AS BIGINT) * element_at(tokens, i)),"
            " 0L, (s, x) -> s + x) % 1000000007 END"
        ).alias("checksum"),
    )


def _bpe_roundtrip_sql(n_merges: int = 4, base: int = 1_000_000) -> str:
    """The decoded corpus must equal the ORIGINAL: original-token
    checksums, plus the encoded length replayed from the merge CTEs
    (_bpe_ctes — same fit replay bpe_encode's oracle uses)."""
    body = _bpe_ctes(n_merges, base)
    return f"""{body}
, fin AS (
  SELECT doc_id, list_filter(string_split(s, ';'), x -> x <> '') AS l
  FROM s{n_merges}
),
orig AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        t -> CAST(length(t) * 31 + ascii(t) AS INTEGER)) AS tk
  FROM documents
)
SELECT o.doc_id,
       CAST(len(f.l) AS BIGINT) AS n_enc,
       CAST(len(o.tk) AS BIGINT) AS n_dec,
       CAST(coalesce((SELECT sum(CAST(i AS BIGINT) * o.tk[i])
                      FROM unnest(generate_series(1, len(o.tk))) AS t(i)), 0)
            % 1000000007 AS BIGINT) AS checksum
FROM orig o JOIN fin f USING (doc_id)"""


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling (operators/sampling.py
    negative_samples): 5 negatives per (query, positive) pair over the
    document id space — hash(query, slot, seed) draws, positives and
    duplicate draws dropped, first-k by slot order. md5 replay mode; the
    oracle reproduces the slot explosion, the rank mapping, and both
    dedup windows. Partition-invariant by construction (no RNG state —
    the .sample() lesson). Reference analog: none (north-rule
    training-export component)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.sampling import negative_samples

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = docs.where(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("query_id"), F.col("doc_id").alias("pos_id")
    )
    return negative_samples(
        pairs, docs, "query_id", "pos_id", "doc_id",
        k=5, seed=7, buffer=8, hash_fn="md5",
    )


def _negative_samples_sql(
    k: int = 5, seed: int = 7, buffer: int = 8
) -> str:
    hexparse = (
        "("
        + " + ".join(
            f"CAST((strpos('0123456789abcdef', substr(hx, {j + 1}, 1)) - 1) AS BIGINT)"
            f" * {16 ** (14 - j)}"
            for j in range(15)
        )
        + ")"
    )
    return f"""
WITH it AS (SELECT DISTINCT doc_id AS item FROM documents),
n AS (SELECT count(*) AS n FROM it),
ranked AS (
  SELECT item, row_number() OVER (ORDER BY item) - 1 AS r FROM it
),
slots AS (
  SELECT doc_id AS q, doc_id AS pos, unnest(generate_series(0, {k + buffer - 1})) AS slot
  FROM documents WHERE doc_id < 50
),
h AS (
  SELECT q, pos, slot, {hexparse} % n.n AS r
  FROM (
    SELECT q, pos, slot,
           substr(md5(q || chr(31) || slot || chr(31) || {seed}), 1, 15) AS hx
    FROM slots
  ), n
),
cand AS (
  SELECT h.q, h.slot, ranked.item
  FROM h JOIN ranked USING (r)
  WHERE ranked.item != h.pos
),
dedup AS (
  SELECT q, slot, item FROM (
    SELECT q, slot, item,
           row_number() OVER (PARTITION BY q, item ORDER BY slot) AS dup
    FROM cand
  ) WHERE dup = 1
)
SELECT q AS query_id, CAST(neg_rank AS BIGINT) AS neg_rank, item AS doc_id
FROM (
  SELECT q, item,
         row_number() OVER (PARTITION BY q ORDER BY slot) AS neg_rank
  FROM dedup
) WHERE neg_rank <= {k}"""


def q_dsir_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DSIR gate (operators/dsir.py dsir_score_stream): the
    B-row ratio table is fitted offline (dsir_ratio_table, same fixed-
    point arithmetic as dsir_weights), then the document stream is
    scored STATELESSLY under the 3-file availableNow replay — grams
    never leave their row, the 256 ratios ride the plan as a literal,
    no streaming state at all. Every streamed document emits exactly
    one row identical to the batch scorer's, so the oracle IS the batch
    dsir SQL. Reference analog: none (north-rule data-selection
    component; the streaming twin of dsir_weights)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.dsir import (
        dsir_ratio_table,
        dsir_score_stream,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ratios = (
        dsir_ratio_table(
            docs, docs.where(F.col("lang") == "en"), "doc_id", "text",
            n_buckets=256, scale=1_000_000, hash_fn="md5",
            arithmetic="fixed",
        )
        .orderBy("__b")
        .collect()
    )
    ratio_values = [int(r["__r"]) for r in ratios]
    ev = docs.select(
        (F.lit(1_704_067_200_000_000) + F.col("doc_id") * 1_000_000).alias(
            "ts_us"
        ),
        "doc_id",
        "text",
    )
    src, out, ckpt = _replay_three_files(ev, "dsirstream", sf_dir)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    scored = dsir_score_stream(
        stream, ratio_values, "doc_id", "text",
        hash_fn="md5", arithmetic="fixed",
    )
    _run_available_now(scored, out, ckpt)
    return spark.read.parquet(out).select("doc_id", "n_feats", "dsir_score")


def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group robust scaling (operators/encoding.py robust_scale):
    (x - median) / MAD over events.value by event_type, with the LOWER
    median (exact rank-pick, never interpolation) so both engines select
    the identical data element; the only floating op is one IEEE
    division. Two rank windows + two broadcast stats joins."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.encoding import robust_scale

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    out = robust_scale(ev, "value", "event_type", "event_id")
    return out.select("event_id", "event_type", "value_robust")


_ROBUST_SCALE_SQL = """
WITH r AS (
  SELECT event_id, event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM events
),
med AS (SELECT event_type, value AS med FROM r
        WHERE rn = CAST(ceil(cnt / 2.0) AS INT)),
d AS (SELECT e.event_id, e.event_type, e.value, m.med,
             abs(e.value - m.med) AS dev
      FROM events e JOIN med m USING (event_type)),
r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                    ORDER BY dev, event_id) AS rn,
              count(*) OVER (PARTITION BY event_type) AS cnt FROM d),
mad AS (SELECT event_type, dev AS mad FROM r2
        WHERE rn = CAST(ceil(cnt / 2.0) AS INT))
SELECT d.event_id, d.event_type,
       CASE WHEN mad.mad <> 0 THEN (d.value - d.med) / mad.mad END AS value_robust
FROM d JOIN mad USING (event_type)
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (operators/bpe.py bpe_learn): 4
    merges over the FIXTURES-transform token table — per iteration one
    map-side-combined pair count, a TakeOrdered(1) argmax (count desc,
    a asc, b asc), and a pure-Catalyst greedy rewrite; the driver sees
    ONE row per iteration. Oracle: greedy left-to-right non-overlapping
    merge == string replace() on an 11-digit fixed-width rendering
    (every match is forced onto a 12-char boundary), so DuckDB replays
    whole iterations — an ITERATIVE operator, still hash-verified."""
    _ensure_package_shipped(spark)
    from pyspark.sql import types as T

    from rustiflow_spark.operators.bpe import bpe_learn

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.expr(
            "transform(split(text, ' '), w -> CAST(length(w) * 31 + ascii(w) AS INT))"
        ).alias("tokens"),
    )
    merges, _ = bpe_learn(toks, "tokens", n_merges=4, new_id_base=1_000_000)
    sch = T.StructType(
        [T.StructField(c, T.LongType()) for c in ["it", "a", "b", "new_id", "cnt"]]
    )
    return spark.createDataFrame(
        [(m["it"], m["a"], m["b"], m["new_id"], m["cnt"]) for m in merges],
        schema=sch,
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REWRITE side of BPE (operators/bpe.py): after the 4 learned
    merges, every document's final token sequence — verified corpus-wide
    via an exact position-weighted integer checksum (arrays-in-contracts
    convention) plus the final length. Catches any divergence between
    the Catalyst greedy rewrite and the oracle's string-replace replay
    at EVERY position of EVERY document, not just the merge table."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.bpe import bpe_learn

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.expr(
            "transform(split(text, ' '), w -> CAST(length(w) * 31 + ascii(w) AS INT))"
        ).alias("tokens"),
    )
    _, rewritten = bpe_learn(toks, "tokens", n_merges=4, new_id_base=1_000_000)
    return rewritten.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tok"),
        F.expr(
            "aggregate(transform(sequence(1, size(tokens)),"
            " i -> CAST(i AS BIGINT) * element_at(tokens, i)),"
            " 0L, (s, x) -> s + x) % 1000000007"
        ).alias("checksum"),
    )


def _bpe_encode_sql(n_merges: int = 4, base: int = 1_000_000) -> str:
    body = _bpe_ctes(n_merges, base)
    return f"""{body}
, fin AS (
  SELECT doc_id, list_filter(string_split(s, ';'), x -> x <> '') AS l
  FROM s{n_merges}
)
SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tok,
       CAST(coalesce(sum(CAST(i AS BIGINT) * CAST(l[i] AS BIGINT)), 0) % 1000000007 AS BIGINT) AS checksum
FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM fin)
GROUP BY doc_id, len(l)
"""


def _bpe_sql(n_merges: int = 4, base: int = 1_000_000) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT it, a, b, new_id, cnt FROM best{it}" for it in range(n_merges)
    )
    return _bpe_ctes(n_merges, base) + "\n" + union


def _bpe_ctes(n_merges: int, base: int) -> str:
    enc = "lpad(CAST({x} AS VARCHAR), 11, '0') || ';'"
    parts = [
        """
WITH tok0 AS (
  SELECT doc_id, list_transform(string_split(text, ' '),
                 w -> CAST(length(w) * 31 + ascii(w) AS BIGINT)) AS tk
  FROM documents
),
s0 AS (
  SELECT doc_id,
         array_to_string(list_transform(tk,
           t -> lpad(CAST(t AS VARCHAR), 11, '0') || ';'), '') AS s
  FROM tok0
)"""
    ]
    for it in range(n_merges):
        new_id = base + it
        parts.append(
            f""",
l{it} AS (
  SELECT doc_id, list_filter(string_split(s, ';'), x -> x <> '') AS l FROM s{it}
),
p{it} AS (
  SELECT CAST(l[i] AS BIGINT) AS a, CAST(l[i + 1] AS BIGINT) AS b
  FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
        FROM l{it} WHERE len(l) >= 2)
),
best{it} AS (
  SELECT CAST({it} AS BIGINT) AS it, a, b, CAST({new_id} AS BIGINT) AS new_id,
         CAST(count(*) AS BIGINT) AS cnt
  FROM p{it} GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1
),
s{it + 1} AS (
  SELECT s{it}.doc_id,
         replace(s{it}.s,
                 {enc.format(x=f"best{it}.a")} || {enc.format(x=f"best{it}.b")},
                 {enc.format(x=f"best{it}.new_id")}) AS s
  FROM s{it}, best{it}
)"""
        )
    return "".join(parts)


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline composition: corpus cleaning chaining three operators —
    quality filter (distinct-word ratio from quality_features), an HDR
    p95 word-count ceiling (the sketch sets the cutoff, no exact global
    percentile pass), and exact dedup (keep the lowest doc_id per text).
    Demonstrates the operators composing; each stage is individually
    oracled elsewhere, the composition is oracled here end-to-end."""
    _ensure_package_shipped(spark)
    from pyspark.sql import Window

    from rustiflow_spark.operators.sketches import hdr_histogram, hdr_quantiles
    from rustiflow_spark.operators.textstats import quality_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = quality_features(docs, "text").withColumn("__g", F.lit(1))
    # materialize the scalar cutoff eagerly: a crossJoin would embed the
    # whole quality subtree twice in one plan (once aggregated for the
    # cutoff, once row-wise), re-evaluating the regex work per branch
    cut = float(
        hdr_quantiles(
            hdr_histogram(q, "q_words", ["__g"], sub_bits=6, scale=1),
            ["__g"],
            [0.95],
            sub_bits=6,
            scale=1,
        ).collect()[0]["quantile"]
    )
    w = Window.partitionBy("text").orderBy("doc_id")
    return (
        q.where(
            (F.col("q_distinct_word_ratio") >= 0.5)
            & (F.col("q_words").cast("double") <= F.lit(cut))
        )
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("q_words").cast("long").alias("n_words"),
            F.round("q_distinct_word_ratio", 6).alias("distinct_ratio"),
        )
    )


def _corpus_clean_sql(m: int = 6) -> str:
    # the HDR p95 replay over q_words (scale=1), then the same filters
    return f"""
WITH q AS (
  SELECT doc_id, text,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
           * 1.0 / len(regexp_split_to_array(trim(text), '\\s+')) AS distinct_ratio
  FROM documents
),
b AS (
  SELECT CASE WHEN n_words < {1 << m} THEN CAST(n_words AS BIGINT)
              ELSE CAST((length(bin(CAST(n_words AS BIGINT))) - 1 - {m} + 1) * {1 << m}
                   + ((CAST(n_words AS BIGINT) >> (length(bin(CAST(n_words AS BIGINT))) - 1 - {m})) - {1 << m}) AS BIGINT) END AS bucket
  FROM q
),
hist AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket),
cum AS (
  SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS c, sum(cnt) OVER () AS tot FROM hist
),
hit AS (
  SELECT bucket, row_number() OVER (ORDER BY bucket) AS rn
  FROM cum WHERE c >= ceil(0.95 * tot)
),
cut AS (
  SELECT CAST(CASE WHEN (bucket >> {m}) = 0 THEN bucket
              ELSE ((bucket % {1 << m}) + {1 << m}) << ((bucket >> {m}) - 1)
         END AS DOUBLE) AS cutv
  FROM hit WHERE rn = 1
),
kept AS (
  SELECT q.doc_id, q.n_words, q.distinct_ratio,
         row_number() OVER (PARTITION BY q.text ORDER BY q.doc_id) AS rn
  FROM q, cut
  WHERE q.distinct_ratio >= 0.5 AND CAST(q.n_words AS DOUBLE) <= cut.cutv
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_words AS BIGINT) AS n_words,
       round(distinct_ratio, 6) AS distinct_ratio
FROM kept WHERE rn = 1
"""


def q_token_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule flagship shape: a token-sequence table (tokens synthesized
    deterministically from the documents text per FIXTURES.md §4) through
    the full pipeline — sessionize by source (terminator cuts + a FINITE
    active timeout, T2) + lag features over session history.

    Event times are pure doc_id arithmetic (doc_id div 20 == the per-source
    rank, since source = 'src' || doc_id % 20): no global window over a
    source's documents, so the synthesis itself scales."""
    return _token_pipeline_impl(spark, sf_dir, strategy="kernel")


def _token_pipeline_impl(
    spark: SparkSession, sf_dir: str, strategy: str
) -> DataFrame:
    _ensure_package_shipped(spark)
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.pipeline import token_feature_pipeline

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tokens = docs.select(
        F.col("doc_id").alias("orig_doc_id"),
        F.lit("all").alias("doc_id"),
        F.expr(
            "transform(split(text, ' '), w -> CAST(length(w) * 31 + ascii(w) AS INT))"
        ).alias("tokens"),
        F.size(F.split(F.col("text"), " ")).cast("int").alias("n_tok"),
        "source",
        # events exactly 60 s apart within each source -> sessions cut by
        # terminator events (doc_id % 11) and the 240 s active timeout
        (
            F.lit(1_700_000_000_000_000)
            + F.expr("doc_id div 20") * F.lit(60_000_000)
        ).alias("ts_us"),
        (F.col("doc_id") % 2).cast("int").alias("direction"),
        F.when(F.col("doc_id") % 11 == 0, 1).otherwise(0).cast("int").alias("terminator"),
        F.col("doc_id").alias("event_seq"),
    )
    cfg = EngineConfig(active_timeout=240, idle_timeout=600, scan_mode="none")
    from rustiflow_spark.sources.tables import parquet_column_max

    max_doc = parquet_column_max(f"{sf_dir}/documents.parquet", "doc_id")
    flush = (
        None if max_doc is None
        else 1_700_000_000_000_000 + (int(max_doc) // 20) * 60_000_000
    )
    out = token_feature_pipeline(
        tokens, cfg, lags=[1], flush_ts=flush, strategy=strategy
    )
    return out.select(
        "source",
        F.col("session_index").cast("long").alias("session_index"),
        "first_ts_us",
        "cause",
        F.col("event_count").cast("long").alias("event_count"),
        F.round("n_tok_total", 6).alias("n_tok_total"),
        F.round("n_tok_mean", 6).alias("n_tok_mean"),
        F.round("n_tok_total_lag1", 6).alias("n_tok_total_lag1"),
    )


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (operators/packing.py): concatenate each
    source's documents in doc_id order and cut the token stream every 2048
    tokens; one row per (document x chunk) segment with exact offsets. One
    window cumsum + one explode — pure Catalyst, integer-exact, so the
    DuckDB oracle replays the closed-form assignment bit-for-bit."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.packing import pack_chunks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    out = pack_chunks(toks, ["source"], ["doc_id"], max_len=2048)
    return out.select(
        "source",
        "doc_id",
        "n_tok",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.col("tok_start").cast("long").alias("tok_start"),
        F.col("chunk_offset").cast("long").alias("chunk_offset"),
        F.col("seg_len").cast("long").alias("seg_len"),
    )


_Q_PACK_SQL = """
WITH d AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents
), c AS (
    SELECT *, CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
                   AS BIGINT) AS cum
    FROM d
), spans AS (
    SELECT *, cum - n_tok AS tok0 FROM c WHERE n_tok > 0
), ex AS (
    SELECT source, doc_id, n_tok, cum, tok0,
           CAST((cum - 1) // 2048 - tok0 // 2048 + 1 AS BIGINT) AS n_chunks,
           unnest(generate_series(tok0 // 2048, (cum - 1) // 2048)) AS chunk_id
    FROM spans
)
SELECT source, doc_id, n_tok,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       n_chunks,
       greatest(tok0, chunk_id * 2048) - tok0 AS tok_start,
       greatest(tok0, chunk_id * 2048) - chunk_id * 2048 AS chunk_offset,
       least(cum, (chunk_id + 1) * 2048) - greatest(tok0, chunk_id * 2048)
           AS seg_len
FROM ex
"""


def q_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window token chunking with overlap (operators/packing.py):
    each document's synthesized token array split into 32-token windows at
    stride 24; per-chunk integer checksum so content — not just shape — is
    hash-verified. explode(sequence) + slice, zero Python."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.packing import chunk_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.expr(
            "transform(split(text, ' '), w -> CAST(length(w) * 31 + ascii(w) AS INT))"
        ).alias("tokens"),
    )
    out = chunk_tokens(toks, "tokens", chunk_len=32, overlap=8)
    return out.select(
        "doc_id",
        F.col("chunk_index").cast("long").alias("chunk_index"),
        F.col("chunk_n_tok").cast("long").alias("chunk_n_tok"),
        F.element_at("chunk", 1).cast("long").alias("first_tok"),
        F.element_at("chunk", -1).cast("long").alias("last_tok"),
        F.aggregate(
            "chunk", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("tok_sum"),
    )


_Q_CHUNK_SQL = """
WITH t AS (
    SELECT doc_id,
           list_transform(string_split(text, ' '),
                          w -> CAST(length(w) * 31 + ascii(w) AS INT)) AS tokens
    FROM documents
), nz AS (
    SELECT doc_id, tokens, len(tokens) AS n FROM t WHERE len(tokens) > 0
), ex AS (
    SELECT doc_id, tokens, n,
           unnest(generate_series(0, n - 1, 24)) AS s
    FROM nz
)
SELECT doc_id,
       CAST(s // 24 AS BIGINT) AS chunk_index,
       CAST(least(s + 32, n) - s AS BIGINT) AS chunk_n_tok,
       CAST(tokens[s + 1] AS BIGINT) AS first_tok,
       CAST(tokens[least(s + 32, n)] AS BIGINT) AS last_tok,
       CAST(list_sum(list_slice(tokens, s + 1, least(s + 32, n))) AS BIGINT)
           AS tok_sum
FROM ex
"""


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): per-document word
    n-gram overlap against a broadcast benchmark set (docs with
    doc_id % 37 == 0 stand in for the eval set). Raw-string gram join
    (use_hash=False) so the oracle replays it collision-free; the
    production xxhash64-keyed path is pytest-asserted identical."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.decontam import ngram_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where("doc_id % 37 = 0")
    out = ngram_overlap(
        docs, bench, n=3, threshold=0.25, use_hash=False
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_grams",
        "matched_grams",
        F.round("overlap_frac", 6).alias("overlap_frac"),
        "contaminated",
    )


_Q_DECONTAM_SQL = """
WITH corpus AS (
    SELECT doc_id, string_split(text, ' ') AS words FROM documents
), bench AS (
    SELECT DISTINCT array_to_string(b.words[i.i : i.i + 2], ' ') AS g
    FROM (SELECT words FROM corpus WHERE doc_id % 37 = 0) b,
         LATERAL (SELECT unnest(range(1, len(b.words) - 1)) AS i) i
), grams AS (
    SELECT c.doc_id, array_to_string(c.words[i.i : i.i + 2], ' ') AS g
    FROM corpus c,
         LATERAL (SELECT unnest(range(1, len(c.words) - 1)) AS i) i
), matched AS (
    SELECT g.doc_id, count(*) AS m
    FROM grams g JOIN bench b ON g.g = b.g
    GROUP BY g.doc_id
), tot AS (
    SELECT doc_id, greatest(len(words) - 2, 0) AS n_grams FROM corpus
)
SELECT t.doc_id,
       CAST(t.n_grams AS BIGINT) AS n_grams,
       CAST(coalesce(m.m, 0) AS BIGINT) AS matched_grams,
       CASE WHEN t.n_grams > 0
            THEN round(CAST(coalesce(m.m, 0) AS DOUBLE) / t.n_grams, 6)
            ELSE CAST(0.0 AS DOUBLE) END AS overlap_frac,
       CASE WHEN t.n_grams > 0
            THEN CAST(coalesce(m.m, 0) AS DOUBLE) / t.n_grams
                 >= CAST(0.25 AS DOUBLE)
            ELSE FALSE END AS contaminated
FROM tot t LEFT JOIN matched m USING (doc_id)
"""


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus mixing + split assignment (operators/sampling.py):
    per-source keep rates decided by a pure per-row id mix (scan-pushable
    filter, no shuffle, reproducible across engines/partitionings), then
    disjoint train/val/test assignment from the same mix family. Output =
    per (source, split) doc and token counts; the oracle replays the
    Lehmer mix arithmetic exactly."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.sampling import stratified_mix, with_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mixed = stratified_mix(
        docs, "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1},
        "doc_id", seed=17, default_rate=0.75,
    )
    split = with_split(
        mixed, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}, seed=29
    )
    return split.groupBy("source", "split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("n_tokens"),
    )


def _corpus_mix_sql() -> str:
    from rustiflow_spark.operators.sampling import _M31, mix_sql

    mix17 = mix_sql("doc_id", 17).replace("`", "")
    mix29 = mix_sql("doc_id", 29).replace("`", "")
    cuts = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
    branches = " ".join(
        f"WHEN '{k}' THEN {int(v * _M31)}" for k, v in sorted(cuts.items())
    )
    # split thresholds: sorted(weights) = [test .05, train .9, val .05];
    # cumulative cuts follow with_split's sorted-name order
    t1 = int(0.05 * _M31)            # test
    t2 = int((0.05 + 0.9) * _M31)    # train
    return f"""
WITH kept AS (
    SELECT source, doc_id, text
    FROM documents
    WHERE ({mix17}) < (CASE source {branches} ELSE {int(0.75 * _M31)} END)
), labeled AS (
    SELECT source, text,
           CASE WHEN ({mix29}) < {t1} THEN 'test'
                WHEN ({mix29}) < {t2} THEN 'train'
                ELSE 'val' END AS split
    FROM kept
)
SELECT source, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
FROM labeled GROUP BY source, split
"""


def q_token_pipeline_catalyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token_pipeline shape (FINITE 240 s active timeout + terminator
    cuts) on the zero-Python Catalyst plan (strategy='catalyst'): the
    bounded-pass active-cut refinement must reproduce the kernel's
    recursive splits, 'Active Timeout' causes and per-session ordinals
    hash-exactly — same oracle as token_pipeline (round-3 verdict item 3)."""
    return _token_pipeline_impl(spark, sf_dir, strategy="catalyst")


# DuckDB mirror of the token pipeline. Within a source, events are exactly
# 60 s apart, so the active-timeout recursion (split at the first event with
# ts >= seg_start + 241 s) lands deterministically on every 5th event of a
# terminator-run — expressible as pos-in-run div 5 without recursion.
_Q_TOKEN_SQL = """
WITH ev AS (
    SELECT source,
           doc_id AS event_seq,
           1700000000000000 + (doc_id // 20) * 60000000 AS ts_us,
           CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS terminator,
           len(string_split(text, ' ')) AS n_tok
    FROM documents
), runs AS (
    SELECT *,
           CASE WHEN lag(terminator) OVER w IS NULL THEN 1
                WHEN lag(terminator) OVER w = 1 THEN 1
                ELSE 0 END AS new_run
    FROM ev WINDOW w AS (PARTITION BY source ORDER BY ts_us, event_seq)
), rid AS (
    SELECT *,
           sum(new_run) OVER (PARTITION BY source ORDER BY ts_us, event_seq
                              ROWS UNBOUNDED PRECEDING) AS run_id
    FROM runs
), segd AS (
    SELECT *,
           (row_number() OVER (PARTITION BY source, run_id
                               ORDER BY ts_us, event_seq) - 1) // 5 AS seg_no
    FROM rid
), agg AS (
    SELECT source, run_id, seg_no,
           min(ts_us) AS first_ts_us,
           CAST(count(*) AS BIGINT) AS event_count,
           CAST(sum(n_tok) AS DOUBLE) AS n_tok_total,
           CAST(sum(n_tok) AS DOUBLE) / count(*) AS n_tok_mean,
           max(CASE WHEN rn_last = 1 THEN terminator ELSE 0 END) AS ends_term
    FROM (SELECT *, row_number() OVER (PARTITION BY source, run_id, seg_no
                                       ORDER BY ts_us DESC, event_seq DESC)
                        AS rn_last
          FROM segd)
    GROUP BY source, run_id, seg_no
), meta AS (
    SELECT *,
           row_number() OVER (PARTITION BY source ORDER BY first_ts_us) - 1
               AS session_index,
           lead(first_ts_us) OVER (PARTITION BY source ORDER BY first_ts_us)
               AS next_first
    FROM agg
)
SELECT source,
       CAST(session_index AS BIGINT) AS session_index,
       first_ts_us,
       CASE WHEN ends_term = 1 THEN 'TCP Normal Termination'
            WHEN next_first IS NULL THEN 'Exporter Shutdown'
            WHEN next_first >= first_ts_us + 241000000 THEN 'Active Timeout'
            ELSE 'Idle Timeout' END AS cause,
       event_count,
       round(n_tok_total, 6) AS n_tok_total,
       round(n_tok_mean, 6) AS n_tok_mean,
       round(lag(n_tok_total) OVER (PARTITION BY source ORDER BY session_index), 6)
           AS n_tok_total_lag1
FROM meta
"""


# --------------------------------------------------------------------------
# Packet-path contract queries (SURVEY.md §2 packet operators against the
# DuckDB oracle). A deterministic packet table is synthesized from `events`
# with identical arithmetic in Spark SQL and DuckDB SQL. Timestamps are
# coarsened to millisecond granularity ((raw_us div 40000) * 1000) so every
# ms-domain float statistic (iat/active/idle/duration) is an exact
# integer-valued double — sums become order-invariant and the value hash is
# partition-count-independent on both engines.
# --------------------------------------------------------------------------

# per-user client endpoint (deterministic, valid RFC1918 address)
_CLIENT_IP_SPARK = (
    "concat('10.', CAST(user_id % 200 AS STRING), '.', "
    "CAST((user_id div 200) % 200 AS STRING), '.5')"
)
_CLIENT_IP_DUCK = (
    "'10.' || CAST(user_id % 200 AS VARCHAR) || '.' || "
    "CAST((user_id // 200) % 200 AS VARCHAR) || '.5'"
)
_SERVER_IP = "172.16.0.9"
_IDLE_CUT_US = (IDLE_S + 1) * 1_000_000  # strict > in whole seconds, int µs


def _sessionize_pruned(spark, df, cfg, build):
    """sessionize_packets with kernel column pruning derived from ``build``'s
    attribute references: the Arrow batch out of the Python kernel carries
    only the superset columns the downstream projection reads, and unneeded
    feature blocks are skipped entirely (the reference's "serialization
    dominates" lesson, engineering-notes.md:671-699)."""
    from rustiflow_spark.operators.sessionize import sessionize_packets
    from rustiflow_spark.schema import projection_superset_columns

    cols = projection_superset_columns(spark, build)
    return build(sessionize_packets(df, cfg, columns=cols))


# ICMP type from event_id % 5: echo request, echo reply, dest-unreachable,
# time-exceeded (error class), timestamp (neither) — icmp_stats.rs taxonomy
_ICMP_TYPE = "CASE event_id % 5 WHEN 0 THEN 8 WHEN 1 THEN 0 WHEN 2 THEN 3 WHEN 3 THEN 11 ELSE 13 END"
_ICMP_CODE = "CAST(event_id % 3 AS INT)"


def _packet_table(
    spark: SparkSession, sf_dir: str, tcp: bool, icmp: bool = False
) -> DataFrame:
    """Deterministic packet-event table derived from the events table.

    Each event becomes one packet of the per-user client<->server biflow;
    direction alternates by event_id parity, payload size comes from value,
    and (for the TCP variant) every 23rd event carries RST. The same
    synthesis is expressed in DuckDB SQL inside the oracle queries.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    base = ev.select(raw.alias("raw_us"), "user_id", "event_id", "value")
    proto = 6 if tcp else (1 if icmp else 17)
    rst = "CASE WHEN event_id % 23 = 0 THEN 1 ELSE 0 END" if tcp else "0"
    psh = "CASE WHEN floor(value) > 0 THEN 1 ELSE 0 END" if tcp else "0"
    hdr = 20 if tcp else 8
    overhead = 40 if tcp else 28
    win = "1000 + (event_id % 97) * 7" if tcp else "0"
    icmp_type = _ICMP_TYPE if icmp else "CAST(NULL AS INT)"
    icmp_code = _ICMP_CODE if icmp else "CAST(NULL AS INT)"
    ports = (
        ("CAST(0 AS INT) AS src_port", "CAST(0 AS INT) AS dst_port")
        if icmp
        else (
            "CAST(CASE WHEN event_id % 2 = 0 THEN 1024 + user_id % 60000 ELSE 443 END AS INT) AS src_port",
            "CAST(CASE WHEN event_id % 2 = 0 THEN 443 ELSE 1024 + user_id % 60000 END AS INT) AS dst_port",
        )
    )
    return base.selectExpr(
        f"CASE WHEN event_id % 2 = 0 THEN {_CLIENT_IP_SPARK} ELSE '{_SERVER_IP}' END AS src_ip",
        f"CASE WHEN event_id % 2 = 0 THEN '{_SERVER_IP}' ELSE {_CLIENT_IP_SPARK} END AS dst_ip",
        ports[0],
        ports[1],
        f"CAST({proto} AS INT) AS protocol",
        "(raw_us div 40000) * 1000 AS ts_us",
        "CAST(0 AS INT) AS fin_flag",
        "CAST(0 AS INT) AS syn_flag",
        f"CAST({rst} AS INT) AS rst_flag",
        f"CAST({psh} AS INT) AS psh_flag",
        "CAST(0 AS INT) AS ack_flag",
        "CAST(0 AS INT) AS urg_flag",
        "CAST(0 AS INT) AS cwr_flag",
        "CAST(0 AS INT) AS ece_flag",
        f"CAST(({psh}) * 8 + ({rst}) * 4 AS INT) AS flags",
        "CAST(floor(value) AS INT) AS data_length",
        f"CAST({hdr} AS INT) AS header_length",
        f"CAST(floor(value) + {overhead} AS INT) AS length",
        f"CAST({win} AS INT) AS window_size",
        "CAST((event_id % 1000000) * 3000 AS BIGINT) AS sequence_number",
        "CAST(0 AS BIGINT) AS sequence_number_ack",
        f"CAST({icmp_type} AS INT) AS icmp_type",
        f"{icmp_code} AS icmp_code",
        "event_id AS event_seq",
    )


def _pk_sql(tcp: bool) -> str:
    """DuckDB mirror of _packet_table (only columns the oracles need)."""
    rst = "CASE WHEN event_id % 23 = 0 THEN 1 ELSE 0 END" if tcp else "0"
    psh = "CASE WHEN floor(value) > 0 THEN 1 ELSE 0 END" if tcp else "0"
    overhead = 40 if tcp else 28
    return f"""
    SELECT (epoch_us(ts) // 40000) * 1000 AS ts_us,
           event_id AS event_seq,
           user_id,
           (event_id % 2 = 0) AS is_c2s,
           CAST(floor(value) AS BIGINT) AS data_length,
           CAST(floor(value) AS BIGINT) + {overhead} AS length,
           {rst} AS rst,
           {psh} AS psh,
           1000 + (event_id % 97) * 7 AS window_size,
           {_CLIENT_IP_DUCK} AS cip
    FROM events
"""


def _flow_key_sql(proto: int) -> str:
    """flow_key string from the session's first-packet orientation."""
    port = "CAST(1024 + user_id % 60000 AS VARCHAR)"
    return f"""
       CASE WHEN fc2s = 1
            THEN cip || ':' || {port} || '-{_SERVER_IP}:443-{proto}'
            ELSE '{_SERVER_IP}:443-' || cip || ':' || {port} || '-{proto}'
       END"""


# --- pcap round-trip (S2-S5 decode chain, driver-visible) -------------------
# Deterministic packets from `events` -> real classic-pcap capture files
# (both byte orders, us+ns magic, Ethernet+SLL link types, VLAN tags,
# IPv4+IPv6 w/ hop-by-hop extension, TCP options, injected undecodable
# frames) -> read_pcap decode on executors -> compare with the synthesis
# arithmetic replayed in DuckDB. pcap.rs:66-210, packet_features.rs:164-373.

_RT_V6 = "user_id % 11 = 3"
_RT_ICMP = "user_id % 13 = 7"
_RT_TCP = f"(NOT ({_RT_ICMP}) AND event_id % 3 = 0)"
_RT_C2S = "event_id % 2 = 0"
_RT_SYN = f"({_RT_TCP} AND event_id % 29 = 0)"
_RT_RST = f"({_RT_TCP} AND event_id % 23 = 0)"
_RT_ACK = f"({_RT_TCP} AND event_id % 2 = 1)"
_RT_OPT = f"CASE WHEN {_RT_TCP} THEN (event_id % 2) * 8 ELSE 0 END"


def _rt_exprs(duck: bool) -> dict[str, str]:
    """Synthesis fragments shared by the Spark query and the DuckDB oracle
    (identical arithmetic; only function spellings differ)."""
    cip6 = (
        "'2001:db8::' || lower(to_hex(1000 + user_id % 40000))"
        if duck
        else "concat('2001:db8::', lower(hex(1000 + user_id % 40000)))"
    )
    cip4 = _CLIENT_IP_DUCK if duck else _CLIENT_IP_SPARK
    cip = f"CASE WHEN {_RT_V6} THEN {cip6} ELSE {cip4} END"
    sip = f"CASE WHEN {_RT_V6} THEN '2001:db8::1' ELSE '{_SERVER_IP}' END"
    dlen = "CAST(floor(value) AS INT)"
    psh = f"({_RT_TCP} AND floor(value) > 0)"
    proto = (
        f"CASE WHEN {_RT_ICMP} THEN (CASE WHEN {_RT_V6} THEN 58 ELSE 1 END) "
        f"WHEN {_RT_TCP} THEN 6 ELSE 17 END"
    )
    transport = (
        f"CASE WHEN {_RT_ICMP} THEN 4 + {dlen} "
        f"WHEN {_RT_TCP} THEN 20 + ({_RT_OPT}) + {dlen} "
        f"ELSE 8 + {dlen} END"
    )
    ext = f"({_RT_V6} AND event_id % 2 = 0)"
    length = (
        f"CASE WHEN {_RT_V6} THEN 40 + (CASE WHEN {ext} THEN 8 ELSE 0 END)"
        f" + ({transport}) ELSE 20 + ({transport}) END"
    )
    return {
        "cip": cip, "sip": sip, "dlen": dlen, "psh": psh, "proto": proto,
        "transport": transport, "ext": ext, "length": length,
        "cport": "1024 + user_id % 60000",
    }


def q_pcap_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pcap round-trip: synthesize packets, encode real capture files
    (4 files: LE/us, LE/ns, BE/us, SLL), decode with the distributed
    read_pcap source, project the packet-event columns."""
    import pandas as pd

    _ensure_package_shipped(spark)
    from rustiflow_spark.sources.pcap import read_pcap
    from rustiflow_spark.sources.pcap_write import encode_pcap_bytes

    x = _rt_exprs(duck=False)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    synth = ev.select(raw.alias("raw_us"), "user_id", "event_id", "value").selectExpr(
        "(raw_us div 40000) * 1000 AS ts_us",
        f"CAST({x['proto']} AS INT) AS proto",
        f"{_RT_V6} AS v6",
        "event_id % 5 = 0 AS vlan",
        f"{x['ext']} AS ext",
        f"CASE WHEN {_RT_C2S} THEN {x['cip']} ELSE {x['sip']} END AS src_ip",
        f"CASE WHEN {_RT_C2S} THEN {x['sip']} ELSE {x['cip']} END AS dst_ip",
        f"CAST(CASE WHEN {_RT_ICMP} THEN 0 WHEN {_RT_C2S} THEN {x['cport']} ELSE 443 END AS INT) AS src_port",
        f"CAST(CASE WHEN {_RT_ICMP} THEN 0 WHEN {_RT_C2S} THEN 443 ELSE {x['cport']} END AS INT) AS dst_port",
        f"{x['dlen']} AS dlen",
        "CAST(0 AS INT) AS fin",
        f"CAST(CASE WHEN {_RT_SYN} THEN 1 ELSE 0 END AS INT) AS syn",
        f"CAST(CASE WHEN {_RT_RST} THEN 1 ELSE 0 END AS INT) AS rst",
        f"CAST(CASE WHEN {x['psh']} THEN 1 ELSE 0 END AS INT) AS psh",
        f"CAST(CASE WHEN {_RT_ACK} THEN 1 ELSE 0 END AS INT) AS ack",
        f"CAST({_RT_OPT} AS INT) AS hdr_opt",
        f"CAST(CASE WHEN {_RT_TCP} THEN (event_id % 1000000) * 3000 ELSE 0 END AS BIGINT) AS seq",
        f"CAST(CASE WHEN {_RT_TCP} THEN (event_id % 7) * 1000 ELSE 0 END AS BIGINT) AS ack_seq",
        f"CAST(CASE WHEN {_RT_TCP} THEN 1000 + (event_id % 97) * 7 ELSE 0 END AS INT) AS window",
        f"CAST(CASE WHEN {_RT_ICMP} THEN {_ICMP_TYPE} ELSE 0 END AS INT) AS icmp_type",
        f"CAST(CASE WHEN {_RT_ICMP} THEN event_id % 3 ELSE 0 END AS INT) AS icmp_code",
        "event_id % 101 = 0 AS inject_frag",
        "event_id % 211 = 0 AS inject_arp",
        "CAST(user_id % 4 AS INT) AS file_id",
    )

    out_dir = _tmp_workdir("pcap_rt", sf_dir)
    os.makedirs(out_dir, exist_ok=True)

    def write_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        fid = int(key[0])
        data = encode_pcap_bytes(
            pdf.sort_values(["ts_us", "seq", "src_ip"], kind="mergesort"),
            endian=">" if fid == 2 else "<",
            ns=fid == 1,
            sll=fid == 3,
        )
        with open(f"{out_dir}/cap_{fid}.pcap", "wb") as f:
            f.write(data)
        return pd.DataFrame({"file_id": [fid], "n": [len(pdf)]})

    synth.groupBy("file_id").applyInPandas(
        write_group, "file_id int, n long"
    ).collect()

    decoded = read_pcap(spark, out_dir)
    return decoded.select(
        "src_ip", "src_port", "dst_ip", "dst_port", "protocol", "ts_us",
        "fin_flag", "syn_flag", "rst_flag", "psh_flag", "ack_flag",
        "urg_flag", "cwr_flag", "ece_flag", "flags", "data_length",
        "header_length", "length", "window_size", "sequence_number",
        "sequence_number_ack", "icmp_type", "icmp_code",
    )


def _pcap_roundtrip_sql() -> str:
    x = _rt_exprs(duck=True)
    b = lambda cond: f"CASE WHEN {cond} THEN 1 ELSE 0 END"  # noqa: E731
    return f"""
SELECT
  CASE WHEN {_RT_C2S} THEN {x['cip']} ELSE {x['sip']} END AS src_ip,
  CAST(CASE WHEN {_RT_ICMP} THEN 0 WHEN {_RT_C2S} THEN {x['cport']} ELSE 443 END AS INT) AS src_port,
  CASE WHEN {_RT_C2S} THEN {x['sip']} ELSE {x['cip']} END AS dst_ip,
  CAST(CASE WHEN {_RT_ICMP} THEN 0 WHEN {_RT_C2S} THEN 443 ELSE {x['cport']} END AS INT) AS dst_port,
  CAST({x['proto']} AS INT) AS protocol,
  (epoch_us(ts) // 40000) * 1000 AS ts_us,
  CAST(0 AS INT) AS fin_flag,
  CAST({b(_RT_SYN)} AS INT) AS syn_flag,
  CAST({b(_RT_RST)} AS INT) AS rst_flag,
  CAST({b(x['psh'])} AS INT) AS psh_flag,
  CAST({b(_RT_ACK)} AS INT) AS ack_flag,
  CAST(0 AS INT) AS urg_flag,
  CAST(0 AS INT) AS cwr_flag,
  CAST(0 AS INT) AS ece_flag,
  CAST({b(_RT_SYN)} * 2 + {b(_RT_RST)} * 4 + {b(x['psh'])} * 8 + {b(_RT_ACK)} * 16 AS INT) AS flags,
  {x['dlen']} AS data_length,
  CAST(CASE WHEN {_RT_ICMP} THEN 8 WHEN {_RT_TCP} THEN 20 + ({_RT_OPT}) ELSE 8 END AS INT) AS header_length,
  CAST({x['length']} AS INT) AS length,
  CAST(CASE WHEN {_RT_TCP} THEN 1000 + (event_id % 97) * 7 ELSE 0 END AS INT) AS window_size,
  CAST(CASE WHEN {_RT_TCP} THEN (event_id % 1000000) * 3000 ELSE 0 END AS BIGINT) AS sequence_number,
  CAST(CASE WHEN {_RT_TCP} THEN (event_id % 7) * 1000 ELSE 0 END AS BIGINT) AS sequence_number_ack,
  CAST(CASE WHEN {_RT_ICMP} THEN {_ICMP_TYPE} ELSE NULL END AS INT) AS icmp_type,
  CAST(CASE WHEN {_RT_ICMP} THEN event_id % 3 ELSE NULL END AS INT) AS icmp_code
FROM events
"""


def q_flow_cic_udp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packet path, UDP: idle-timeout sessionization + the CIC feature
    blocks with exactly-representable outputs (A1-A3, A5-A7, A13, A15,
    K1/K2/K4, T1/T5/T8; cic_flow.rs:109-377 semantics)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.operators.sessionize import sessionize_packets

    cfg = EngineConfig(
        active_timeout=BIG_ACTIVE_S, idle_timeout=IDLE_S, scan_mode="none"
    )
    def build(flows):
        return flows.select(
        "flow_key",
        F.col("src_port").cast("long").alias("src_port"),
        F.col("dst_port").cast("long").alias("dst_port"),
        F.col("protocol").cast("long").alias("protocol"),
        "src_ip_scope",
        "dst_ip_scope",
        "path_locality",
        "first_ts_us",
        "last_ts_us",
        "duration_us",
        "cause",
        F.col("fwd_packet_len_count").cast("long").alias("fwd_packet_count"),
        F.col("bwd_packet_len_count").cast("long").alias("bwd_packet_count"),
        "fwd_packet_len_total",
        "fwd_packet_len_mean",
        "fwd_packet_len_max",
        "fwd_packet_len_min",
        "bwd_packet_len_total",
        "bwd_packet_len_mean",
        "bwd_packet_len_max",
        "bwd_packet_len_min",
        "payload_len_total",
        F.col("fwd_non_zero_payload_packets").cast("long").alias(
            "fwd_non_zero_payload_packets"
        ),
        F.col("bwd_non_zero_payload_packets").cast("long").alias(
            "bwd_non_zero_payload_packets"
        ),
        "header_len_total",
        "iat_total",
        "iat_mean",
        "iat_max",
        "iat_min",
        F.col("iat_count").cast("long").alias("iat_count"),
        "fwd_iat_total",
        "bwd_iat_total",
        F.col("subflow_count").cast("long").alias("subflow_count"),
        F.col("idle_count").cast("long").alias("idle_count"),
        "idle_total",
        "idle_max",
        F.col("active_count").cast("long").alias("active_count"),
        "active_total",
        "active_max",
        "fwd_duration_ms",
        "bwd_duration_ms",
    )

    return _sessionize_pruned(
        spark,
        _packet_table(spark, sf_dir, tcp=False),
        cfg,
        build,
    )


_Q_CIC_UDP_SQL = f"""
WITH pk AS ({_pk_sql(tcp=False)}),
flagged AS (
    SELECT *,
           CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                WHEN ts_us - lag(ts_us) OVER w >= {_IDLE_CUT_US} THEN 1
                ELSE 0 END AS new_session,
           ts_us - lag(ts_us) OVER w AS gap_us
    FROM pk WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
), sess AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_seq
                                  ROWS UNBOUNDED PRECEDING) AS sid,
           CASE WHEN new_session = 1 THEN NULL ELSE gap_us END AS ig
    FROM flagged
), rows2 AS (
    SELECT *,
           first_value(is_c2s) OVER (PARTITION BY user_id, sid
                                     ORDER BY ts_us, event_seq
                                     ROWS UNBOUNDED PRECEDING) AS first_c2s,
           sum(CASE WHEN ig IS NULL OR ig > 5000000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, sid ORDER BY ts_us, event_seq
                     ROWS UNBOUNDED PRECEDING) AS span_id
    FROM sess
), rows3 AS (
    SELECT *, (is_c2s = first_c2s) AS is_fwd,
           ts_us - lag(ts_us) OVER (PARTITION BY user_id, sid, is_c2s = first_c2s
                                    ORDER BY ts_us, event_seq) AS dir_gap
    FROM rows2
), spans AS (
    SELECT user_id, sid, span_id, max(ts_us) - min(ts_us) AS dur
    FROM rows3 GROUP BY user_id, sid, span_id
), span_agg AS (
    SELECT user_id, sid,
           CAST(count(*) FILTER (WHERE dur > 0) AS BIGINT) AS active_count,
           coalesce(CAST(sum(dur) FILTER (WHERE dur > 0) AS DOUBLE) / 1000.0, 0.0)
               AS active_total,
           coalesce(CAST(max(dur) FILTER (WHERE dur > 0) AS DOUBLE) / 1000.0, 0.0)
               AS active_max
    FROM spans GROUP BY user_id, sid
), agg AS (
    SELECT user_id, sid,
           max(cip) AS cip,
           max(CASE WHEN first_c2s THEN 1 ELSE 0 END) AS fc2s,
           min(ts_us) AS first_ts_us,
           max(ts_us) AS last_ts_us,
           max(ts_us) - min(ts_us) AS duration_us,
           CAST(count(*) FILTER (WHERE is_fwd) AS BIGINT) AS fwd_packet_count,
           CAST(count(*) FILTER (WHERE NOT is_fwd) AS BIGINT) AS bwd_packet_count,
           coalesce(CAST(sum(length) FILTER (WHERE is_fwd) AS DOUBLE), 0.0)
               AS fwd_packet_len_total,
           CASE WHEN count(*) FILTER (WHERE is_fwd) > 0
                THEN CAST(sum(length) FILTER (WHERE is_fwd) AS DOUBLE)
                     / count(*) FILTER (WHERE is_fwd)
                ELSE 0.0 END AS fwd_packet_len_mean,
           coalesce(CAST(max(length) FILTER (WHERE is_fwd) AS DOUBLE), 0.0)
               AS fwd_packet_len_max,
           coalesce(CAST(min(length) FILTER (WHERE is_fwd) AS DOUBLE), 0.0)
               AS fwd_packet_len_min,
           coalesce(CAST(sum(length) FILTER (WHERE NOT is_fwd) AS DOUBLE), 0.0)
               AS bwd_packet_len_total,
           CASE WHEN count(*) FILTER (WHERE NOT is_fwd) > 0
                THEN CAST(sum(length) FILTER (WHERE NOT is_fwd) AS DOUBLE)
                     / count(*) FILTER (WHERE NOT is_fwd)
                ELSE 0.0 END AS bwd_packet_len_mean,
           coalesce(CAST(max(length) FILTER (WHERE NOT is_fwd) AS DOUBLE), 0.0)
               AS bwd_packet_len_max,
           coalesce(CAST(min(length) FILTER (WHERE NOT is_fwd) AS DOUBLE), 0.0)
               AS bwd_packet_len_min,
           CAST(sum(data_length) AS DOUBLE) AS payload_len_total,
           CAST(count(*) FILTER (WHERE is_fwd AND data_length > 0) AS BIGINT)
               AS fwd_non_zero_payload_packets,
           CAST(count(*) FILTER (WHERE NOT is_fwd AND data_length > 0) AS BIGINT)
               AS bwd_non_zero_payload_packets,
           CAST(count(*) * 8 AS DOUBLE) AS header_len_total,
           coalesce(CAST(sum(ig) AS DOUBLE) / 1000.0, 0.0) AS iat_total,
           CASE WHEN count(ig) > 0
                THEN (CAST(sum(ig) AS DOUBLE) / 1000.0) / count(ig)
                ELSE 0.0 END AS iat_mean,
           coalesce(CAST(max(ig) AS DOUBLE) / 1000.0, 0.0) AS iat_max,
           coalesce(CAST(min(ig) AS DOUBLE) / 1000.0, 0.0) AS iat_min,
           CAST(count(ig) AS BIGINT) AS iat_count,
           coalesce(CAST(sum(dir_gap) FILTER (WHERE is_fwd) AS DOUBLE) / 1000.0, 0.0)
               AS fwd_iat_total,
           coalesce(CAST(sum(dir_gap) FILTER (WHERE NOT is_fwd) AS DOUBLE) / 1000.0, 0.0)
               AS bwd_iat_total,
           CAST(1 + count(*) FILTER (WHERE ig > 1000000) AS BIGINT) AS subflow_count,
           CAST(count(*) FILTER (WHERE ig > 5000000) AS BIGINT) AS big_cnt,
           coalesce(sum(ig) FILTER (WHERE ig > 5000000), 0) AS big_sum,
           coalesce(max(ig) FILTER (WHERE ig > 5000000), 0) AS big_max,
           CASE WHEN count(*) FILTER (WHERE is_fwd) > 0
                THEN CAST(max(ts_us) FILTER (WHERE is_fwd)
                          - min(ts_us) FILTER (WHERE is_fwd) AS DOUBLE) / 1000.0
                ELSE 0.0 END AS fwd_duration_ms,
           CASE WHEN count(*) FILTER (WHERE NOT is_fwd) > 0
                THEN CAST(max(ts_us) FILTER (WHERE NOT is_fwd)
                          - min(ts_us) FILTER (WHERE NOT is_fwd) AS DOUBLE) / 1000.0
                ELSE 0.0 END AS bwd_duration_ms
    FROM rows3 GROUP BY user_id, sid
), meta AS (
    SELECT a.*, s.active_count, s.active_total, s.active_max,
           lead(a.first_ts_us) OVER (PARTITION BY a.user_id ORDER BY a.sid)
               AS next_first
    FROM agg a JOIN span_agg s USING (user_id, sid)
)
SELECT
    {_flow_key_sql(17)} AS flow_key,
    CAST(CASE WHEN fc2s = 1 THEN 1024 + user_id % 60000 ELSE 443 END AS BIGINT)
        AS src_port,
    CAST(CASE WHEN fc2s = 1 THEN 443 ELSE 1024 + user_id % 60000 END AS BIGINT)
        AS dst_port,
    CAST(17 AS BIGINT) AS protocol,
    'private' AS src_ip_scope,
    'private' AS dst_ip_scope,
    'private' AS path_locality,
    first_ts_us, last_ts_us, duration_us,
    CASE WHEN next_first IS NULL THEN 'Exporter Shutdown'
         ELSE 'Idle Timeout' END AS cause,
    fwd_packet_count, bwd_packet_count,
    fwd_packet_len_total, fwd_packet_len_mean, fwd_packet_len_max, fwd_packet_len_min,
    bwd_packet_len_total, bwd_packet_len_mean, bwd_packet_len_max, bwd_packet_len_min,
    payload_len_total, fwd_non_zero_payload_packets, bwd_non_zero_payload_packets,
    header_len_total,
    iat_total, iat_mean, iat_max, iat_min, iat_count,
    fwd_iat_total, bwd_iat_total,
    subflow_count,
    CAST(big_cnt + CASE WHEN next_first IS NULL THEN 0 ELSE 1 END AS BIGINT)
        AS idle_count,
    CAST(big_sum + coalesce(next_first - last_ts_us, 0) AS DOUBLE) / 1000.0
        AS idle_total,
    CAST(greatest(big_max, coalesce(next_first - last_ts_us, 0)) AS DOUBLE) / 1000.0
        AS idle_max,
    active_count, active_total, active_max,
    fwd_duration_ms, bwd_duration_ms
FROM meta
"""


def q_flow_rustiflow203(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full RustiFlow-203 materialization (rusti_flow.rs:139-303): every
    column of the reference's widest schema, produced by the production
    flows/schemas.py projection over the UDP flow table, round(6) on float
    stats so the DuckDB oracle hash-matches column order, headers and
    values."""
    _ensure_package_shipped(spark)
    from pyspark.sql import types as T
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.flows.schemas import rustiflow_schema
    from rustiflow_spark.operators.sessionize import sessionize_packets

    cfg = EngineConfig(
        active_timeout=BIG_ACTIVE_S, idle_timeout=IDLE_S, scan_mode="none"
    )
    flows = sessionize_packets(
        _packet_table(spark, sf_dir, tcp=False), cfg
    )
    full = rustiflow_schema(flows)
    return full.select(
        *[
            F.round(F.col(f.name), 6).alias(f.name)
            if isinstance(f.dataType, T.DoubleType)
            else F.col(f.name)
            for f in full.schema.fields
        ]
    )


def _st5_sql(vexpr: str, pred: str, out: str) -> str:
    """total/mean/std/max/min aggregate fragments (FILTER'd, empty->0)."""
    f = f"FILTER (WHERE {pred})"
    return f"""
           coalesce(CAST(sum({vexpr}) {f} AS DOUBLE), 0.0) AS {out}_total,
           coalesce(CAST(avg({vexpr}) {f} AS DOUBLE), 0.0) AS {out}_mean,
           coalesce(CAST(stddev_pop({vexpr}) {f} AS DOUBLE), 0.0) AS {out}_std,
           coalesce(CAST(max({vexpr}) {f} AS DOUBLE), 0.0) AS {out}_max,
           coalesce(CAST(min({vexpr}) {f} AS DOUBLE), 0.0) AS {out}_min"""


def _udp_final_with() -> str:
    """Shared DuckDB session framework over the synthesized UDP packet
    table: the WITH-chain of _Q_CIC_UDP_SQL extended with population stds,
    pooled packet stats, bulk-run aggregation, and the idle-set union —
    ending in a `final` CTE with one row per exported flow carrying every
    aggregate the Basic-10 / NF-71 / RustiFlow-203 layouts project from.
    Split out of _rustiflow203_sql so all three layout oracles replay the
    identical framework."""
    st5 = _st5_sql
    bulk_aggs = []
    for dval, d in ((1, "fwd"), (0, "bwd")):
        pred = f"rdir = {dval} AND rcnt >= 4"
        bulk_aggs.append(
            f"CAST(count(*) FILTER (WHERE {pred}) AS BIGINT) AS {d}_bulk_count"
        )
        for vexpr, m in (("rcnt", "packets"), ("rbytes", "bytes"), ("rdur", "duration")):
            bulk_aggs.append(st5(vexpr, pred, f"{d}_bulk_{m}"))
    bulk_sql = ",\n".join(bulk_aggs)

    sess_aggs = [
        "max(cip) AS cip",
        "max(CASE WHEN first_c2s THEN 1 ELSE 0 END) AS fc2s",
        "min(ts_us) AS first_ts_us",
        "max(ts_us) AS last_ts_us",
        "max(ts_us) - min(ts_us) AS duration_us",
        "CAST(count(*) AS BIGINT) AS n",
        "CAST(count(*) FILTER (WHERE is_fwd) AS BIGINT) AS fn",
        "CAST(count(*) FILTER (WHERE NOT is_fwd) AS BIGINT) AS bn",
        "CAST(count(*) FILTER (WHERE is_fwd AND data_length > 0) AS BIGINT) AS fnz",
        "CAST(count(*) FILTER (WHERE NOT is_fwd AND data_length > 0) AS BIGINT) AS bnz",
        "CAST(1 + count(*) FILTER (WHERE ig > 1000000) AS BIGINT) AS subflow_count",
        st5("CAST(ig AS DOUBLE) / 1000.0", "ig IS NOT NULL", "iat"),
        st5("CAST(dir_gap AS DOUBLE) / 1000.0", "is_fwd AND dir_gap IS NOT NULL", "fwd_iat"),
        st5("CAST(dir_gap AS DOUBLE) / 1000.0", "NOT is_fwd AND dir_gap IS NOT NULL", "bwd_iat"),
        st5("length", "TRUE", "packet_len"),
        st5("length", "is_fwd", "fwd_packet_len"),
        st5("length", "NOT is_fwd", "bwd_packet_len"),
        st5("header_length", "TRUE", "header_len"),
        st5("header_length", "is_fwd", "fwd_header_len"),
        st5("header_length", "NOT is_fwd", "bwd_header_len"),
        st5("data_length", "TRUE", "payload_len"),
        "coalesce(CAST(var_pop(data_length) AS DOUBLE), 0.0) AS payload_len_variance",
        st5("data_length", "is_fwd", "fwd_payload_len"),
        st5("data_length", "NOT is_fwd", "bwd_payload_len"),
        """CASE WHEN count(*) FILTER (WHERE is_fwd) > 0
                THEN CAST(min(ts_us) FILTER (WHERE is_fwd) AS DOUBLE) / 1000.0
                ELSE 0.0 END AS first_timestamp_fwd""",
        """CASE WHEN count(*) FILTER (WHERE NOT is_fwd) > 0
                THEN CAST(min(ts_us) FILTER (WHERE NOT is_fwd) AS DOUBLE) / 1000.0
                ELSE 0.0 END AS first_timestamp_bwd""",
        """CASE WHEN count(*) FILTER (WHERE is_fwd) > 0
                THEN CAST(max(ts_us) FILTER (WHERE is_fwd) AS DOUBLE) / 1000.0
                ELSE 0.0 END AS last_timestamp_fwd""",
        """CASE WHEN count(*) FILTER (WHERE NOT is_fwd) > 0
                THEN CAST(max(ts_us) FILTER (WHERE NOT is_fwd) AS DOUBLE) / 1000.0
                ELSE 0.0 END AS last_timestamp_bwd""",
        """CASE WHEN count(*) FILTER (WHERE is_fwd) > 0
                THEN CAST(max(ts_us) FILTER (WHERE is_fwd)
                          - min(ts_us) FILTER (WHERE is_fwd) AS DOUBLE) / 1000.0
                ELSE 0.0 END AS fwd_duration_ms""",
        """CASE WHEN count(*) FILTER (WHERE NOT is_fwd) > 0
                THEN CAST(max(ts_us) FILTER (WHERE NOT is_fwd)
                          - min(ts_us) FILTER (WHERE NOT is_fwd) AS DOUBLE) / 1000.0
                ELSE 0.0 END AS bwd_duration_ms""",
    ]
    agg_sql = ",\n".join(sess_aggs)

    return f"""
WITH pk AS ({_pk_sql(tcp=False)}),
flagged AS (
    SELECT *,
           CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                WHEN ts_us - lag(ts_us) OVER w >= {_IDLE_CUT_US} THEN 1
                ELSE 0 END AS new_session,
           ts_us - lag(ts_us) OVER w AS gap_us
    FROM pk WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
), sess AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_seq
                                  ROWS UNBOUNDED PRECEDING) AS sid,
           CASE WHEN new_session = 1 THEN NULL ELSE gap_us END AS ig
    FROM flagged
), rows2 AS (
    SELECT *,
           first_value(is_c2s) OVER (PARTITION BY user_id, sid
                                     ORDER BY ts_us, event_seq
                                     ROWS UNBOUNDED PRECEDING) AS first_c2s,
           sum(CASE WHEN ig IS NULL OR ig > 5000000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, sid ORDER BY ts_us, event_seq
                     ROWS UNBOUNDED PRECEDING) AS span_id
    FROM sess
), rows3 AS (
    SELECT *, (is_c2s = first_c2s) AS is_fwd,
           ts_us - lag(ts_us) OVER (PARTITION BY user_id, sid, is_c2s = first_c2s
                                    ORDER BY ts_us, event_seq) AS dir_gap,
           28 + data_length AS length,
           8 AS header_length
    FROM rows2
), spans AS (
    SELECT user_id, sid, span_id, max(ts_us) - min(ts_us) AS dur
    FROM rows3 GROUP BY user_id, sid, span_id
), span_agg AS (
    SELECT user_id, sid,
           {st5("CAST(dur AS DOUBLE) / 1000.0", "dur > 0", "active")}
    FROM spans GROUP BY user_id, sid
), runsrc AS (
    SELECT user_id, sid, is_fwd, ts_us, event_seq, length,
           CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                WHEN is_fwd != lag(is_fwd) OVER w THEN 1
                WHEN ts_us - lag(ts_us) OVER w > 1000000 THEN 1
                ELSE 0 END AS newrun
    FROM rows3 WINDOW w AS (PARTITION BY user_id, sid ORDER BY ts_us, event_seq)
), runm AS (
    SELECT *, sum(newrun) OVER (PARTITION BY user_id, sid
                                ORDER BY ts_us, event_seq
                                ROWS UNBOUNDED PRECEDING) AS rid
    FROM runsrc
), run_agg AS (
    SELECT user_id, sid, rid,
           max(CASE WHEN is_fwd THEN 1 ELSE 0 END) AS rdir,
           count(*) AS rcnt,
           CAST(sum(length) AS DOUBLE) AS rbytes,
           CAST((max(ts_us) - min(ts_us)) // 1000 AS DOUBLE) AS rdur
    FROM runm GROUP BY user_id, sid, rid
), bulk_agg AS (
    SELECT user_id, sid,
{bulk_sql}
    FROM run_agg GROUP BY user_id, sid
), agg AS (
    SELECT user_id, sid,
{agg_sql}
    FROM rows3 GROUP BY user_id, sid
), meta AS (
    SELECT a.*, s.* EXCLUDE (user_id, sid), b.* EXCLUDE (user_id, sid),
           lead(a.first_ts_us) OVER (PARTITION BY a.user_id ORDER BY a.sid)
               AS next_first
    FROM agg a
    JOIN span_agg s USING (user_id, sid)
    JOIN bulk_agg b USING (user_id, sid)
), idle_vals AS (
    SELECT user_id, sid, CAST(ig AS DOUBLE) / 1000.0 AS v
    FROM sess WHERE ig > 5000000
    UNION ALL
    SELECT user_id, sid, CAST(next_first - last_ts_us AS DOUBLE) / 1000.0
    FROM meta WHERE next_first IS NOT NULL
), idle_agg AS (
    SELECT user_id, sid,
           {st5("v", "TRUE", "idle")}
    FROM idle_vals GROUP BY user_id, sid
), final AS (
    SELECT m.*, i.* EXCLUDE (user_id, sid)
    FROM meta m LEFT JOIN idle_agg i USING (user_id, sid)
)"""


def _rustiflow203_sql() -> str:
    """DuckDB oracle for the 203-column materialization: every column of
    the reference's widest schema generated in rusti_flow.rs order over the
    shared _udp_final_with framework."""
    from rustiflow_spark.flows.schemas import RUSTIFLOW_COLUMNS

    # outer-select expression per output column
    dur_s = "(CAST(duration_us AS DOUBLE) / 1000000.0)"

    def safe_div(num: str, den: str) -> str:
        return f"CASE WHEN {den} != 0 THEN CAST({num} AS DOUBLE) / ({den}) ELSE 0.0 END"

    def rate(num: str) -> str:
        return safe_div(num, dur_s)

    expr: dict[str, str] = {
        "flow_id": _flow_key_sql(17),
        "source_ip": f"CASE WHEN fc2s = 1 THEN cip ELSE '{_SERVER_IP}' END",
        "source_port": "CAST(CASE WHEN fc2s = 1 THEN 1024 + user_id % 60000 ELSE 443 END AS INT)",
        "destination_ip": f"CASE WHEN fc2s = 1 THEN '{_SERVER_IP}' ELSE cip END",
        "destination_port": "CAST(CASE WHEN fc2s = 1 THEN 443 ELSE 1024 + user_id % 60000 END AS INT)",
        "protocol": "CAST(17 AS INT)",
        "ip_version": "CAST(4 AS INT)",
        "source_ip_scope": "'private'",
        "destination_ip_scope": "'private'",
        "path_locality": "'private'",
        "timestamp_first": "first_ts_us",
        "timestamp_last": "last_ts_us",
        "flow_duration_us": "duration_us",
        "flow_expire_cause": (
            "CASE WHEN next_first IS NULL THEN 'Exporter Shutdown'"
            " ELSE 'Idle Timeout' END"
        ),
        "tcp_handshake_completed": "CAST(0 AS INT)",
        "tcp_reset_before_handshake": "CAST(0 AS INT)",
        "tcp_reset_after_handshake": "CAST(0 AS INT)",
        "tcp_close_style": "'not_applicable'",
        "packet_count": "n",
        "fwd_packet_count": "fn",
        "bwd_packet_count": "bn",
        "fwd_non_zero_payload_packets": "fnz",
        "bwd_non_zero_payload_packets": "bnz",
        "subflow_count": "subflow_count",
        "icmp_type": "CAST(-1 AS INT)",
        "icmp_code": "CAST(-1 AS INT)",
        "flags": "'......'",
        "fwd_init_window_size": "CAST(0 AS BIGINT)",
        "bwd_init_window_size": "CAST(0 AS BIGINT)",
        "flow_bytes_s": rate("payload_len_total"),
        "flow_packets_s": rate("n"),
        "fwd_bytes_s": rate("fwd_payload_len_total"),
        "fwd_packets_s": rate("fn"),
        "bwd_bytes_s": rate("bwd_payload_len_total"),
        "bwd_packets_s": rate("bn"),
        "fwd_subflow_packets_mean": safe_div("fn", "subflow_count"),
        "fwd_subflow_bytes_mean": safe_div("fwd_payload_len_total", "subflow_count"),
        "bwd_subflow_packets_mean": safe_div("bn", "subflow_count"),
        "bwd_subflow_bytes_mean": safe_div("bwd_payload_len_total", "subflow_count"),
        "up_down_ratio": safe_div("bn", "fn"),
        "fwd_bulk_rate_s": (
            "CASE WHEN fwd_bulk_count > 0 AND fwd_bulk_duration_total > 0"
            " THEN fwd_bulk_bytes_total / (fwd_bulk_duration_total / 1000000.0)"
            " WHEN fwd_bulk_count > 0 THEN CAST('infinity' AS DOUBLE)"
            " ELSE 0.0 END"
        ),
        "bwd_bulk_rate_s": (
            "CASE WHEN bwd_bulk_count > 0 AND bwd_bulk_duration_total > 0"
            " THEN bwd_bulk_bytes_total / (bwd_bulk_duration_total / 1000000.0)"
            " WHEN bwd_bulk_count > 0 THEN CAST('infinity' AS DOUBLE)"
            " ELSE 0.0 END"
        ),
    }
    # zero-valued TCP/window/ICMP counters (UDP table)
    for name in (
        "icmp_echo_request_count", "icmp_echo_reply_count", "icmp_error_count",
        "icmp_destination_unreachable_count", "flow_retransmission_count",
        "fwd_retransmission_count", "bwd_retransmission_count",
        "flow_duplicate_ack_count", "fwd_duplicate_ack_count",
        "bwd_duplicate_ack_count", "flow_zero_window_count",
        "fwd_zero_window_count", "bwd_zero_window_count",
    ):
        expr[name] = "CAST(0 AS BIGINT)"
    for d in ("fwd", "bwd"):
        for fl in ("fin", "syn", "rst", "psh", "ack", "urg", "cwr", "ece"):
            expr[f"{d}_{fl}_flag_count"] = "CAST(0 AS INT)"
    for fl in ("fin", "syn", "rst", "psh", "ack", "urg", "cwr", "ece"):
        expr[f"total_{fl}_flag_count"] = "CAST(0 AS INT)"
    for block in ("window_size", "fwd_window_size", "bwd_window_size"):
        for s in ("total", "mean", "std", "max", "min"):
            expr[f"{block}_{s}"] = "0.0"
    # passthrough aggregates (already named correctly in the joined CTEs)
    for block in (
        "iat", "fwd_iat", "bwd_iat", "packet_len", "fwd_packet_len",
        "bwd_packet_len", "header_len", "fwd_header_len", "bwd_header_len",
        "payload_len", "fwd_payload_len", "bwd_payload_len",
        "fwd_bulk_packets", "bwd_bulk_packets", "fwd_bulk_bytes",
        "bwd_bulk_bytes", "fwd_bulk_duration", "bwd_bulk_duration",
    ):
        for s in ("total", "mean", "std", "max", "min"):
            expr[f"{block}_{s}"] = f"{block}_{s}"
    expr["payload_len_variance"] = "payload_len_variance"
    expr["fwd_bulk_count"] = "fwd_bulk_count"
    expr["bwd_bulk_count"] = "bwd_bulk_count"
    for block in ("active", "idle"):
        for s in ("total", "mean", "std", "max", "min"):
            expr[f"{block}_{s}"] = f"coalesce({block}_{s}, 0.0)"
    for name in (
        "first_timestamp_fwd", "first_timestamp_bwd", "last_timestamp_fwd",
        "last_timestamp_bwd", "fwd_duration_ms", "bwd_duration_ms",
    ):
        expr[name] = name

    # round(6) on float columns, mirroring the Spark projection
    int_like = {
        "source_port", "destination_port", "protocol", "ip_version",
        "timestamp_first", "timestamp_last", "flow_duration_us",
        "tcp_handshake_completed", "tcp_reset_before_handshake",
        "tcp_reset_after_handshake", "packet_count", "fwd_packet_count",
        "bwd_packet_count", "fwd_non_zero_payload_packets",
        "bwd_non_zero_payload_packets", "subflow_count", "icmp_type",
        "icmp_code", "fwd_init_window_size", "bwd_init_window_size",
        "fwd_bulk_count", "bwd_bulk_count",
    } | {
        n for n in RUSTIFLOW_COLUMNS
        if n.endswith("_flag_count") or n.endswith("ack_count")
        or n.endswith("window_count") or n.endswith("retransmission_count")
        or n.startswith("icmp_") and n.endswith("_count")
    }
    str_like = {
        "flow_id", "source_ip", "destination_ip", "source_ip_scope",
        "destination_ip_scope", "path_locality", "flow_expire_cause",
        "tcp_close_style", "flags",
    }
    outs = []
    for name in RUSTIFLOW_COLUMNS:
        e = expr[name]
        if name not in int_like and name not in str_like:
            e = f"round(CAST({e} AS DOUBLE), 6)"
        outs.append(f"  {e} AS {name}")
    select_sql = ",\n".join(outs)

    return _udp_final_with() + "\nSELECT\n" + select_sql + "\nFROM final\n"


def q_flow_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BasicFlow 10-column layout (basic_flow.rs:316-333) materialized by
    the production flows/schemas.basic_schema projection over the UDP flow
    table: flow identity, orientation-stable endpoints, integer-us
    timestamps, and the expire cause — every exported VALUE hash-verified
    against the DuckDB session framework (round-4 verdict item 1)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.flows.schemas import basic_schema
    from rustiflow_spark.operators.sessionize import sessionize_packets
    from rustiflow_spark.schema import projection_superset_columns

    cfg = EngineConfig(
        active_timeout=BIG_ACTIVE_S, idle_timeout=IDLE_S, scan_mode="none"
    )
    # narrow schema → the kernel computes + transfers only the referenced
    # superset columns (engineering-notes.md:671-699: serialization dominates)
    flows = sessionize_packets(
        _packet_table(spark, sf_dir, tcp=False),
        cfg,
        columns=projection_superset_columns(spark, basic_schema),
    )
    return basic_schema(flows)


def _basic_sql() -> str:
    return _udp_final_with() + f"""
SELECT
    {_flow_key_sql(17)} AS flow_id,
    CASE WHEN fc2s = 1 THEN cip ELSE '{_SERVER_IP}' END AS source_ip,
    CAST(CASE WHEN fc2s = 1 THEN 1024 + user_id % 60000 ELSE 443 END AS INT)
        AS source_port,
    CASE WHEN fc2s = 1 THEN '{_SERVER_IP}' ELSE cip END AS destination_ip,
    CAST(CASE WHEN fc2s = 1 THEN 443 ELSE 1024 + user_id % 60000 END AS INT)
        AS destination_port,
    CAST(17 AS INT) AS protocol,
    first_ts_us AS first_timestamp,
    last_ts_us AS last_timestamp,
    duration_us AS duration,
    CASE WHEN next_first IS NULL THEN 'Exporter Shutdown'
         ELSE 'Idle Timeout' END AS flow_expire_cause
FROM final
"""


def q_flow_nf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NfFlow 71-column layout (nf_flow.rs:129-290) via the production
    flows/schemas.nf_schema projection over the UDP flow table: ms-unit
    timestamp exports, expiration_id, per-direction seen/duration ms, the
    pooled ps merge (min/mean/stddev/max), piat ms stats, and the 24 flag
    counters — round(6) on float stats so the DuckDB oracle hash-matches
    (round-4 verdict item 1: the ms exports and expiration_id were the
    least-verified path)."""
    _ensure_package_shipped(spark)
    from pyspark.sql import types as T
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.flows.schemas import nf_schema
    from rustiflow_spark.operators.sessionize import sessionize_packets
    from rustiflow_spark.schema import projection_superset_columns

    cfg = EngineConfig(
        active_timeout=BIG_ACTIVE_S, idle_timeout=IDLE_S, scan_mode="none"
    )
    flows = sessionize_packets(
        _packet_table(spark, sf_dir, tcp=False),
        cfg,
        columns=projection_superset_columns(spark, nf_schema),
    )
    full = nf_schema(flows)
    return full.select(
        *[
            F.round(F.col(f.name), 6).alias(f.name)
            if isinstance(f.dataType, T.DoubleType)
            else F.col(f.name)
            for f in full.schema.fields
        ]
    )


def _nf_sql() -> str:
    """NF-71 oracle over the shared UDP framework. The pooled flow-level
    ps stats replay flows/schemas._flow_pkt_{min,mean,variance,max}
    bit-for-bit (same operand order) from the per-direction aggregates, as
    _Q_CIC_DERIVED_SQL already does for the CIC derived scalars."""
    from rustiflow_spark.flows.schemas import NF_COLUMNS

    def sd(num: str, den: str) -> str:
        return f"CASE WHEN {den} != 0 THEN CAST({num} AS DOUBLE) / ({den}) ELSE 0.0 END"

    mean_ps = sd("fwd_packet_len_total + bwd_packet_len_total", "fn + bn")
    min_ps = (
        "CASE WHEN fn > 0 AND bn > 0"
        " THEN least(fwd_packet_len_min, bwd_packet_len_min)"
        " WHEN fn > 0 THEN fwd_packet_len_min"
        " WHEN bn > 0 THEN bwd_packet_len_min ELSE 0.0 END"
    )
    max_ps = (
        "CASE WHEN fn > 0 AND bn > 0"
        " THEN greatest(fwd_packet_len_max, bwd_packet_len_max)"
        " WHEN fn > 0 THEN fwd_packet_len_max"
        " WHEN bn > 0 THEN bwd_packet_len_max ELSE 0.0 END"
    )
    # exact two-sample pooled population variance merge, operand order
    # matching flows/schemas._flow_pkt_variance
    pooled = (
        "(CAST(fn AS DOUBLE) * (fwd_packet_len_std * fwd_packet_len_std)"
        " + CAST(bn AS DOUBLE) * (bwd_packet_len_std * bwd_packet_len_std)"
        f" + CAST(fn AS DOUBLE) * (fwd_packet_len_mean - ({mean_ps}))"
        f" * (fwd_packet_len_mean - ({mean_ps}))"
        f" + CAST(bn AS DOUBLE) * (bwd_packet_len_mean - ({mean_ps}))"
        f" * (bwd_packet_len_mean - ({mean_ps})))"
        " / (CAST(fn AS DOUBLE) + CAST(bn AS DOUBLE))"
    )
    std_ps = (
        "sqrt(CASE WHEN CAST(fn AS DOUBLE) + CAST(bn AS DOUBLE) <= 1"
        f" THEN 0.0 ELSE {pooled} END)"
    )
    expr: dict[str, str] = {
        "id": _flow_key_sql(17),
        "expiration_id": "CAST(CASE WHEN next_first IS NULL THEN -1 ELSE 0 END AS INT)",
        "src_ip": f"CASE WHEN fc2s = 1 THEN cip ELSE '{_SERVER_IP}' END",
        "src_port": "CAST(CASE WHEN fc2s = 1 THEN 1024 + user_id % 60000 ELSE 443 END AS INT)",
        "dst_ip": f"CASE WHEN fc2s = 1 THEN '{_SERVER_IP}' ELSE cip END",
        "dst_port": "CAST(CASE WHEN fc2s = 1 THEN 443 ELSE 1024 + user_id % 60000 END AS INT)",
        "protocol": "CAST(17 AS INT)",
        "ip_version": "CAST(4 AS INT)",
        "bidirectional_first_seen_ms": "CAST(first_ts_us // 1000 AS BIGINT)",
        "bidirectional_last_seen_ms": "CAST(last_ts_us // 1000 AS BIGINT)",
        "bidirectional_duration_ms": "CAST(duration_us // 1000 AS BIGINT)",
        "bidirectional_packets": "fn + bn",
        "bidirectional_bytes": "fwd_packet_len_total + bwd_packet_len_total",
        "src2dst_first_seen_ms": "first_timestamp_fwd",
        "src2dst_last_seen_ms": "last_timestamp_fwd",
        "src2dst_duration_ms": "fwd_duration_ms",
        "src2dst_packets": "fn",
        "src2dst_bytes": "fwd_packet_len_total",
        "dst2src_first_seen_ms": "first_timestamp_bwd",
        "dst2src_last_seen_ms": "last_timestamp_bwd",
        "dst2src_duration_ms": "bwd_duration_ms",
        "dst2src_packets": "bn",
        "dst2src_bytes": "bwd_packet_len_total",
        "bidirectional_min_ps": min_ps,
        "bidirectional_mean_ps": mean_ps,
        "bidirectional_stddev_ps": std_ps,
        "bidirectional_max_ps": max_ps,
    }
    for d, pre in (("src2dst", "fwd"), ("dst2src", "bwd")):
        for s, k in (("min", "min"), ("mean", "mean"), ("stddev", "std"), ("max", "max")):
            expr[f"{d}_{s}_ps"] = f"{pre}_packet_len_{k}"
    for d, pre in (("bidirectional", ""), ("src2dst", "fwd_"), ("dst2src", "bwd_")):
        for s, k in (("min", "min"), ("mean", "mean"), ("stddev", "std"), ("max", "max")):
            expr[f"{d}_{s}_piat_ms"] = f"{pre}iat_{k}"
    for d in ("bidirectional", "src2dst", "dst2src"):
        for fl in ("syn", "cwr", "ece", "urg", "ack", "psh", "rst", "fin"):
            expr[f"{d}_{fl}_packets"] = "CAST(0 AS INT)"

    int_like = {
        "expiration_id", "src_port", "dst_port", "protocol", "ip_version",
        "bidirectional_first_seen_ms", "bidirectional_last_seen_ms",
        "bidirectional_duration_ms", "bidirectional_packets",
        "src2dst_packets", "dst2src_packets",
    } | {n for n in NF_COLUMNS if n.endswith("_packets")}
    str_like = {"id", "src_ip", "dst_ip"}
    outs = []
    for name in NF_COLUMNS:
        e = expr[name]
        if name not in int_like and name not in str_like:
            e = f"round(CAST({e} AS DOUBLE), 6)"
        outs.append(f"  {e} AS {name}")
    return _udp_final_with() + "\nSELECT\n" + ",\n".join(outs) + "\nFROM final\n"


def q_flow_cidds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CiddsFlow 10-column layout (cidds_flow.rs:79-109) via the production
    flows/schemas.cidds_schema projection over the TCP flow table, so the
    Proto string and the UAPRSF Flags column carry real values — Bytes /
    Packets / Duration(ms) / Date-first-seen hash-verified against the
    TCP session framework (round-4 verdict item 1)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.flows.schemas import cidds_schema
    from rustiflow_spark.operators.sessionize import sessionize_packets
    from rustiflow_spark.schema import projection_superset_columns

    cfg = EngineConfig(
        active_timeout=BIG_ACTIVE_S, idle_timeout=IDLE_S, scan_mode="none"
    )
    flows = sessionize_packets(
        _packet_table(spark, sf_dir, tcp=True),
        cfg,
        columns=projection_superset_columns(spark, cidds_schema),
    )
    return cidds_schema(flows)


_Q_CIDDS_SQL = f"""
WITH pk AS ({_pk_sql(tcp=True)}),
flagged AS (
    SELECT *,
           CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                WHEN ts_us - lag(ts_us) OVER w >= {_IDLE_CUT_US} THEN 1
                WHEN lag(rst) OVER w = 1 THEN 1
                ELSE 0 END AS new_session
    FROM pk WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
), sess AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_seq
                                  ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
), rows2 AS (
    SELECT *,
           first_value(is_c2s) OVER (PARTITION BY user_id, sid
                                     ORDER BY ts_us, event_seq
                                     ROWS UNBOUNDED PRECEDING) AS first_c2s
    FROM sess
), agg AS (
    SELECT user_id, sid,
           max(cip) AS cip,
           max(CASE WHEN first_c2s THEN 1 ELSE 0 END) AS fc2s,
           min(ts_us) AS first_ts_us,
           max(ts_us) - min(ts_us) AS duration_us,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(length) AS DOUBLE) AS bytes,
           sum(psh) AS sp,
           sum(rst) AS sr
    FROM rows2 GROUP BY user_id, sid
)
SELECT
    CASE WHEN fc2s = 1 THEN cip ELSE '{_SERVER_IP}' END AS "Src IP",
    CAST(CASE WHEN fc2s = 1 THEN 1024 + user_id % 60000 ELSE 443 END AS INT)
        AS "Src Port",
    CASE WHEN fc2s = 1 THEN '{_SERVER_IP}' ELSE cip END AS "Dst IP",
    CAST(CASE WHEN fc2s = 1 THEN 443 ELSE 1024 + user_id % 60000 END AS INT)
        AS "Dst Port",
    'TCP' AS "Proto",
    first_ts_us AS "Date first seen",
    CAST(duration_us // 1000 AS BIGINT) AS "Duration",
    bytes AS "Bytes",
    n AS "Packets",
    concat('..',
           CASE WHEN sp > 0 THEN 'P' ELSE '.' END,
           CASE WHEN sr > 0 THEN 'R' ELSE '.' END,
           '..') AS "Flags"
FROM agg
"""


def q_flow_cic_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived scalar features (SURVEY §2.5 D1-D7) computed by the SAME
    SQL expressions the production schemas use (flows/schemas.py:
    safe_div, per-second rates, pooled flow packet stats, down/up ratio,
    ms->µs unit conversion, subflow means, expiration_id, IANA classes)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.flows.schemas import (
        _double,
        _flow_pkt_count,
        _flow_pkt_max,
        _flow_pkt_mean,
        _flow_pkt_min,
        _flow_pkt_total,
        _iana,
        _ms_to_us,
        _rate_per_s,
        _safe_div,
    )
    from rustiflow_spark.operators.sessionize import sessionize_packets

    cfg = EngineConfig(
        active_timeout=BIG_ACTIVE_S, idle_timeout=IDLE_S, scan_mode="none"
    )
    flows = sessionize_packets(
        _packet_table(spark, sf_dir, tcp=False), cfg
    )
    dur, subflows = _double("duration_us"), _double("subflow_count")
    fwd_n, bwd_n = _double("fwd_packet_len_count"), _double("bwd_packet_len_count")
    expiration_id = (
        "CASE WHEN cause = 'Active Timeout' THEN 1 "
        "WHEN cause IN ('Idle Timeout', 'TCP Normal Termination') THEN 0 ELSE -1 END"
    )
    return flows.selectExpr(
        "flow_key",
        "first_ts_us",
        f"CAST({expiration_id} AS BIGINT) AS expiration_id",
        f"{_iana('src_port')} AS src_port_iana",
        f"{_iana('dst_port')} AS dst_port_iana",
        f"CAST({_flow_pkt_count()} AS BIGINT) AS flow_pkt_count",
        f"{_flow_pkt_total()} AS flow_pkt_total",
        f"{_flow_pkt_mean()} AS flow_pkt_mean",
        f"{_flow_pkt_min()} AS flow_pkt_min",
        f"{_flow_pkt_max()} AS flow_pkt_max",
        f"{_rate_per_s('payload_len_total', dur)} AS payload_bytes_per_s",
        f"{_rate_per_s(_double(_flow_pkt_count()), dur)} AS packets_per_s",
        f"{_safe_div(bwd_n, fwd_n)} AS down_up_ratio",
        f"{_ms_to_us('iat_mean')} AS iat_mean_us",
        f"{_safe_div('fwd_packet_len_total', subflows)} AS fwd_subflow_bytes_mean",
        f"{_safe_div('bwd_packet_len_total', subflows)} AS bwd_subflow_bytes_mean",
    )


_Q_CIC_DERIVED_SQL = f"""
WITH base AS ({_Q_CIC_UDP_SQL})
SELECT flow_key,
       first_ts_us,
       CAST(CASE WHEN cause = 'Active Timeout' THEN 1
                 WHEN cause IN ('Idle Timeout', 'TCP Normal Termination') THEN 0
                 ELSE -1 END AS BIGINT) AS expiration_id,
       CASE WHEN src_port <= 1023 THEN 'well-known'
            WHEN src_port <= 49151 THEN 'registered'
            ELSE 'dynamic' END AS src_port_iana,
       CASE WHEN dst_port <= 1023 THEN 'well-known'
            WHEN dst_port <= 49151 THEN 'registered'
            ELSE 'dynamic' END AS dst_port_iana,
       CAST(fwd_packet_count + bwd_packet_count AS BIGINT) AS flow_pkt_count,
       fwd_packet_len_total + bwd_packet_len_total AS flow_pkt_total,
       CASE WHEN fwd_packet_count + bwd_packet_count <> 0
            THEN (fwd_packet_len_total + bwd_packet_len_total)
                 / CAST(fwd_packet_count + bwd_packet_count AS DOUBLE)
            ELSE 0.0 END AS flow_pkt_mean,
       CASE WHEN fwd_packet_count > 0 AND bwd_packet_count > 0
                THEN least(fwd_packet_len_min, bwd_packet_len_min)
            WHEN fwd_packet_count > 0 THEN fwd_packet_len_min
            WHEN bwd_packet_count > 0 THEN bwd_packet_len_min
            ELSE 0.0 END AS flow_pkt_min,
       CASE WHEN fwd_packet_count > 0 AND bwd_packet_count > 0
                THEN greatest(fwd_packet_len_max, bwd_packet_len_max)
            WHEN fwd_packet_count > 0 THEN fwd_packet_len_max
            WHEN bwd_packet_count > 0 THEN bwd_packet_len_max
            ELSE 0.0 END AS flow_pkt_max,
       CASE WHEN duration_us / 1000000.0 <> 0
            THEN payload_len_total / (duration_us / 1000000.0)
            ELSE 0.0 END AS payload_bytes_per_s,
       CASE WHEN duration_us / 1000000.0 <> 0
            THEN CAST(fwd_packet_count + bwd_packet_count AS DOUBLE)
                 / (duration_us / 1000000.0)
            ELSE 0.0 END AS packets_per_s,
       CASE WHEN CAST(fwd_packet_count AS DOUBLE) <> 0
            THEN CAST(bwd_packet_count AS DOUBLE) / CAST(fwd_packet_count AS DOUBLE)
            ELSE 0.0 END AS down_up_ratio,
       iat_mean * 1000.0 AS iat_mean_us,
       CASE WHEN CAST(subflow_count AS DOUBLE) <> 0
            THEN fwd_packet_len_total / CAST(subflow_count AS DOUBLE)
            ELSE 0.0 END AS fwd_subflow_bytes_mean,
       CASE WHEN CAST(subflow_count AS DOUBLE) <> 0
            THEN bwd_packet_len_total / CAST(subflow_count AS DOUBLE)
            ELSE 0.0 END AS bwd_subflow_bytes_mean
FROM base
"""


def q_flow_icmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packet path, ICMP: per-session first type/code + the taxonomy
    counters (A10, icmp_stats.rs v4 code map)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.operators.sessionize import sessionize_packets

    cfg = EngineConfig(
        active_timeout=BIG_ACTIVE_S, idle_timeout=IDLE_S, scan_mode="none"
    )
    def build(flows):
        return flows.select(
        "flow_key",
        "first_ts_us",
        "last_ts_us",
        "cause",
        "close_style",
        F.col("protocol").cast("long").alias("protocol"),
        F.col("icmp_type").cast("long").alias("icmp_type"),
        F.col("icmp_code").cast("long").alias("icmp_code"),
        F.col("icmp_echo_request_count").cast("long").alias("icmp_echo_request_count"),
        F.col("icmp_echo_reply_count").cast("long").alias("icmp_echo_reply_count"),
        F.col("icmp_error_count").cast("long").alias("icmp_error_count"),
        F.col("icmp_destination_unreachable_count")
        .cast("long")
        .alias("icmp_destination_unreachable_count"),
        (F.col("fwd_packet_len_count") + F.col("bwd_packet_len_count"))
        .cast("long")
        .alias("packet_count"),
    )

    return _sessionize_pruned(
        spark,
        _packet_table(spark, sf_dir, tcp=False, icmp=True),
        cfg,
        build,
    )


_Q_ICMP_SQL = f"""
WITH pk AS (
    SELECT (epoch_us(ts) // 40000) * 1000 AS ts_us,
           event_id AS event_seq,
           user_id,
           (event_id % 2 = 0) AS is_c2s,
           {_ICMP_TYPE} AS itype,
           event_id % 3 AS icode,
           {_CLIENT_IP_DUCK} AS cip
    FROM events
), flagged AS (
    SELECT *,
           CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                WHEN ts_us - lag(ts_us) OVER w >= {_IDLE_CUT_US} THEN 1
                ELSE 0 END AS new_session
    FROM pk WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
), sess AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_seq
                                  ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
), rows2 AS (
    SELECT *,
           first_value(is_c2s) OVER (PARTITION BY user_id, sid
                                     ORDER BY ts_us, event_seq
                                     ROWS UNBOUNDED PRECEDING) AS first_c2s,
           first_value(itype) OVER (PARTITION BY user_id, sid
                                    ORDER BY ts_us, event_seq
                                    ROWS UNBOUNDED PRECEDING) AS first_itype,
           first_value(icode) OVER (PARTITION BY user_id, sid
                                    ORDER BY ts_us, event_seq
                                    ROWS UNBOUNDED PRECEDING) AS first_icode
    FROM sess
), agg AS (
    SELECT user_id, sid,
           max(cip) AS cip,
           max(CASE WHEN first_c2s THEN 1 ELSE 0 END) AS fc2s,
           min(ts_us) AS first_ts_us,
           max(ts_us) AS last_ts_us,
           max(first_itype) AS icmp_type,
           max(first_icode) AS icmp_code,
           CAST(count(*) FILTER (WHERE itype = 8) AS BIGINT)
               AS icmp_echo_request_count,
           CAST(count(*) FILTER (WHERE itype = 0) AS BIGINT)
               AS icmp_echo_reply_count,
           CAST(count(*) FILTER (WHERE itype IN (3, 4, 5, 11, 12)) AS BIGINT)
               AS icmp_error_count,
           CAST(count(*) FILTER (WHERE itype = 3) AS BIGINT)
               AS icmp_destination_unreachable_count,
           CAST(count(*) AS BIGINT) AS packet_count
    FROM rows2 GROUP BY user_id, sid
), meta AS (
    SELECT *,
           lead(first_ts_us) OVER (PARTITION BY user_id ORDER BY sid) AS next_first
    FROM agg
)
SELECT
    CASE WHEN fc2s = 1
         THEN cip || ':0-{_SERVER_IP}:0-1'
         ELSE '{_SERVER_IP}:0-' || cip || ':0-1' END AS flow_key,
    first_ts_us, last_ts_us,
    CASE WHEN next_first IS NULL THEN 'Exporter Shutdown'
         ELSE 'Idle Timeout' END AS cause,
    'not_applicable' AS close_style,
    CAST(1 AS BIGINT) AS protocol,
    CAST(icmp_type AS BIGINT) AS icmp_type,
    CAST(icmp_code AS BIGINT) AS icmp_code,
    icmp_echo_request_count, icmp_echo_reply_count,
    icmp_error_count, icmp_destination_unreachable_count,
    packet_count
FROM meta
"""


def _tcp_fin_packets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TCP packet table with planted 4-way FIN closes (T3/A14): every 7th
    event explodes into fin(A) / ack(B) / fin(B) / ack(A) sub-packets 1 µs
    apart with exact expected-ACK arithmetic; other events emit one data
    packet. The state machine must terminate exactly at the 4th sub-packet
    (basic_flow.rs FIN tracking), which the SQL oracle mirrors as a
    terminator cut."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    base = ev.select(raw.alias("raw_us"), "user_id", "event_id", "value")
    j = "explode(CASE WHEN event_id % 7 = 0 THEN array(0, 1, 2, 3) ELSE array(0) END)"
    sub = base.selectExpr("*", f"{j} AS j").selectExpr(
        "user_id",
        "event_id",
        "value",
        "j",
        "event_id % 7 = 0 AS is_term",
        "(raw_us div 40000) * 1000 + j AS ts_us",
        "event_id * 4 + j AS event_seq",
        # A side = the event's own orientation; j1/j2 come from the peer
        "CASE WHEN j IN (0, 3) THEN event_id % 2 = 0 ELSE event_id % 2 = 1 END AS c2s",
        "(event_id % 1000000) * 3000 AS b",
    )
    return sub.selectExpr(
        f"CASE WHEN c2s THEN {_CLIENT_IP_SPARK} ELSE '{_SERVER_IP}' END AS src_ip",
        f"CASE WHEN c2s THEN '{_SERVER_IP}' ELSE {_CLIENT_IP_SPARK} END AS dst_ip",
        "CAST(CASE WHEN c2s THEN 1024 + user_id % 60000 ELSE 443 END AS INT) AS src_port",
        "CAST(CASE WHEN c2s THEN 443 ELSE 1024 + user_id % 60000 END AS INT) AS dst_port",
        "CAST(6 AS INT) AS protocol",
        "ts_us",
        "CAST(CASE WHEN is_term AND j IN (0, 2) THEN 1 ELSE 0 END AS INT) AS fin_flag",
        "CAST(0 AS INT) AS syn_flag",
        "CAST(0 AS INT) AS rst_flag",
        "CAST(CASE WHEN NOT is_term AND floor(value) > 0 THEN 1 ELSE 0 END AS INT) AS psh_flag",
        "CAST(CASE WHEN is_term AND j IN (1, 3) THEN 1 ELSE 0 END AS INT) AS ack_flag",
        "CAST(0 AS INT) AS urg_flag",
        "CAST(0 AS INT) AS cwr_flag",
        "CAST(0 AS INT) AS ece_flag",
        "CAST(CASE WHEN is_term AND j IN (0, 2) THEN 1"
        "          WHEN is_term AND j IN (1, 3) THEN 16"
        "          WHEN floor(value) > 0 THEN 8 ELSE 0 END AS INT) AS flags",
        "CAST(CASE WHEN is_term THEN 0 ELSE floor(value) END AS INT) AS data_length",
        "CAST(20 AS INT) AS header_length",
        "CAST(CASE WHEN is_term THEN 40 ELSE floor(value) + 40 END AS INT) AS length",
        "CAST(1000 + (event_id % 97) * 7 AS INT) AS window_size",
        "CAST(CASE WHEN is_term AND j = 2 THEN b + 1000"
        "          WHEN is_term AND j IN (1, 3) THEN b + 2000"
        "          ELSE b END AS BIGINT) AS sequence_number",
        "CAST(CASE WHEN is_term AND j = 1 THEN b + 1"
        "          WHEN is_term AND j = 3 THEN b + 1001"
        "          ELSE 0 END AS BIGINT) AS sequence_number_ack",
        "CAST(NULL AS INT) AS icmp_type",
        "CAST(NULL AS INT) AS icmp_code",
        "event_seq",
    )


def q_flow_tcp_fin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packet path, TCP with exact 4-way FIN termination (T3, A14
    close-style machine, A8 fin/ack counters)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.operators.sessionize import sessionize_packets

    cfg = EngineConfig(
        active_timeout=BIG_ACTIVE_S, idle_timeout=IDLE_S, scan_mode="none"
    )
    def build(flows):
        return flows.select(
        "flow_key",
        "first_ts_us",
        "last_ts_us",
        "duration_us",
        "cause",
        "close_style",
        F.col("handshake_completed").cast("long").alias("handshake_completed"),
        "flags",
        F.col("fwd_fin_flag_count").cast("long").alias("fwd_fin_flag_count"),
        F.col("bwd_fin_flag_count").cast("long").alias("bwd_fin_flag_count"),
        F.col("fwd_ack_flag_count").cast("long").alias("fwd_ack_flag_count"),
        F.col("bwd_ack_flag_count").cast("long").alias("bwd_ack_flag_count"),
        (F.col("fwd_packet_len_count") + F.col("bwd_packet_len_count"))
        .cast("long")
        .alias("packet_count"),
    )

    return _sessionize_pruned(
        spark, _tcp_fin_packets(spark, sf_dir), cfg, build
    )


_Q_TCP_FIN_SQL = f"""
WITH pk AS (
    SELECT user_id,
           (epoch_us(ts) // 40000) * 1000 + j.j AS ts_us,
           event_id * 4 + j.j AS event_seq,
           CASE WHEN j.j IN (0, 3) THEN event_id % 2 = 0
                ELSE event_id % 2 = 1 END AS is_c2s,
           event_id % 7 = 0 AS is_term,
           j.j AS j,
           CASE WHEN event_id % 7 = 0 AND j.j IN (0, 2) THEN 1 ELSE 0 END AS fin,
           CASE WHEN event_id % 7 = 0 AND j.j IN (1, 3) THEN 1 ELSE 0 END AS ackf,
           CASE WHEN event_id % 7 <> 0 AND floor(value) > 0 THEN 1 ELSE 0 END AS psh,
           CASE WHEN event_id % 7 = 0 AND j.j = 3 THEN 1 ELSE 0 END AS term_last,
           {_CLIENT_IP_DUCK} AS cip
    FROM events, (SELECT unnest([0, 1, 2, 3]) AS j) j
    WHERE event_id % 7 = 0 OR j.j = 0
), flagged AS (
    SELECT *,
           CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                WHEN ts_us - lag(ts_us) OVER w >= {_IDLE_CUT_US} THEN 1
                WHEN lag(term_last) OVER w = 1 THEN 1
                ELSE 0 END AS new_session
    FROM pk WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
), sess AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_seq
                                  ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
), rows2 AS (
    SELECT *,
           first_value(is_c2s) OVER (PARTITION BY user_id, sid
                                     ORDER BY ts_us, event_seq
                                     ROWS UNBOUNDED PRECEDING) AS first_c2s,
           row_number() OVER (PARTITION BY user_id, sid
                              ORDER BY ts_us DESC, event_seq DESC) AS rn_last
    FROM sess
), agg AS (
    SELECT user_id, sid,
           max(cip) AS cip,
           max(CASE WHEN first_c2s THEN 1 ELSE 0 END) AS fc2s,
           min(ts_us) AS first_ts_us,
           max(ts_us) AS last_ts_us,
           max(ts_us) - min(ts_us) AS duration_us,
           max(CASE WHEN rn_last = 1 THEN term_last ELSE 0 END) AS ends_term,
           CAST(coalesce(sum(fin) FILTER (WHERE is_c2s = first_c2s), 0) AS BIGINT)
               AS fwd_fin_flag_count,
           CAST(coalesce(sum(fin) FILTER (WHERE is_c2s <> first_c2s), 0) AS BIGINT)
               AS bwd_fin_flag_count,
           CAST(coalesce(sum(ackf) FILTER (WHERE is_c2s = first_c2s), 0) AS BIGINT)
               AS fwd_ack_flag_count,
           CAST(coalesce(sum(ackf) FILTER (WHERE is_c2s <> first_c2s), 0) AS BIGINT)
               AS bwd_ack_flag_count,
           max(psh) AS has_psh,
           max(ackf) AS has_ack,
           max(fin) AS has_fin,
           CAST(count(*) AS BIGINT) AS packet_count
    FROM rows2 GROUP BY user_id, sid
), meta AS (
    SELECT *,
           lead(first_ts_us) OVER (PARTITION BY user_id ORDER BY sid) AS next_first
    FROM agg
)
SELECT
    {_flow_key_sql(6)} AS flow_key,
    first_ts_us, last_ts_us, duration_us,
    CASE WHEN ends_term = 1 THEN 'TCP Normal Termination'
         WHEN next_first IS NULL THEN 'Exporter Shutdown'
         ELSE 'Idle Timeout' END AS cause,
    CASE WHEN ends_term = 1 THEN 'four_way_fin' ELSE 'none' END AS close_style,
    CAST(0 AS BIGINT) AS handshake_completed,
    concat('.',
           CASE WHEN has_ack = 1 THEN 'A' ELSE '.' END,
           CASE WHEN has_psh = 1 THEN 'P' ELSE '.' END,
           '.', '.',
           CASE WHEN has_fin = 1 THEN 'F' ELSE '.' END) AS flags,
    fwd_fin_flag_count, bwd_fin_flag_count,
    fwd_ack_flag_count, bwd_ack_flag_count,
    packet_count
FROM meta
"""


def _od_packets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TCP packet table (no control flags -> pure timeout segmentation)
    exercising the order-dependent feature modules: every 13th event is a
    5-packet same-direction burst in one millisecond (a bulk transfer,
    bulk_stats.rs), every 17th a duplicated data segment with an overlapping
    sequence range (a retransmission, retransmission_stats.rs), every 19th a
    doubled pure-ACK with equal ack number and window (a duplicate ACK,
    tcp_quality semantics); every 23rd event advertises a zero window."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    base = ev.select(raw.alias("raw_us"), "user_id", "event_id", "value")
    cls = (
        "CASE WHEN event_id % 13 = 0 THEN 'bulk' "
        "WHEN event_id % 17 = 0 THEN 'retr' "
        "WHEN event_id % 19 = 0 THEN 'dupa' ELSE 'data' END"
    )
    sub = base.selectExpr(
        "*",
        f"{cls} AS cls",
        f"explode(CASE WHEN {cls} = 'bulk' THEN array(0, 1, 2, 3, 4) "
        f"WHEN {cls} IN ('retr', 'dupa') THEN array(0, 1) "
        "ELSE array(0) END) AS j",
    ).selectExpr(
        "user_id",
        "value",
        "cls",
        "(raw_us div 40000) * 1000 + j AS ts_us",
        "event_id * 8 + j AS event_seq",
        "event_id % 2 = 0 AS c2s",
        # 9000-wide per-event sequence window (< u32): bulk sub-packets get
        # disjoint 1500-spaced ranges inside it; a 'retr' event reuses one
        # range for both packets — the ONLY overlap, by construction
        "(event_id % 470000) * 9000 + CASE WHEN cls IN ('retr', 'dupa') THEN 0 ELSE j * 1500 END AS b",
        "CASE WHEN event_id % 23 = 0 THEN 0 ELSE 1000 + (event_id % 97) * 7 END AS win",
    )
    dl = (
        "CASE WHEN cls = 'dupa' THEN 0 "
        "WHEN cls = 'retr' THEN CAST(floor(value) AS BIGINT) + 1 "
        "ELSE CAST(floor(value) AS BIGINT) END"
    )
    return sub.selectExpr(
        f"CASE WHEN c2s THEN {_CLIENT_IP_SPARK} ELSE '{_SERVER_IP}' END AS src_ip",
        f"CASE WHEN c2s THEN '{_SERVER_IP}' ELSE {_CLIENT_IP_SPARK} END AS dst_ip",
        "CAST(CASE WHEN c2s THEN 1024 + user_id % 60000 ELSE 443 END AS INT) AS src_port",
        "CAST(CASE WHEN c2s THEN 443 ELSE 1024 + user_id % 60000 END AS INT) AS dst_port",
        "CAST(6 AS INT) AS protocol",
        "ts_us",
        "CAST(0 AS INT) AS fin_flag",
        "CAST(0 AS INT) AS syn_flag",
        "CAST(0 AS INT) AS rst_flag",
        f"CAST(CASE WHEN cls <> 'dupa' AND {dl} > 0 THEN 1 ELSE 0 END AS INT) AS psh_flag",
        "CAST(CASE WHEN cls = 'dupa' THEN 1 ELSE 0 END AS INT) AS ack_flag",
        "CAST(0 AS INT) AS urg_flag",
        "CAST(0 AS INT) AS cwr_flag",
        "CAST(0 AS INT) AS ece_flag",
        "CAST(CASE WHEN cls = 'dupa' THEN 16 "
        f"WHEN {dl} > 0 THEN 8 ELSE 0 END AS INT) AS flags",
        f"CAST({dl} AS INT) AS data_length",
        "CAST(20 AS INT) AS header_length",
        f"CAST({dl} + 40 AS INT) AS length",
        "CAST(win AS INT) AS window_size",
        "CAST(b AS BIGINT) AS sequence_number",
        "CAST(CASE WHEN cls = 'dupa' THEN b + 7 ELSE 0 END AS BIGINT) AS sequence_number_ack",
        "CAST(NULL AS INT) AS icmp_type",
        "CAST(NULL AS INT) AS icmp_code",
        "event_seq",
    )


def q_flow_od_modules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-dependent modules driver-visible: bulk transfers (A4),
    retransmissions (A11), duplicate ACKs + zero windows (A12)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.operators.sessionize import sessionize_packets

    cfg = EngineConfig(
        active_timeout=BIG_ACTIVE_S, idle_timeout=IDLE_S, scan_mode="none"
    )
    def build(flows):
        return flows.select(
        "flow_key",
        "first_ts_us",
        "cause",
        F.col("fwd_retransmission_count").cast("long").alias("fwd_retransmission_count"),
        F.col("bwd_retransmission_count").cast("long").alias("bwd_retransmission_count"),
        F.col("fwd_duplicate_ack_count").cast("long").alias("fwd_duplicate_ack_count"),
        F.col("bwd_duplicate_ack_count").cast("long").alias("bwd_duplicate_ack_count"),
        F.col("fwd_zero_window_count").cast("long").alias("fwd_zero_window_count"),
        F.col("bwd_zero_window_count").cast("long").alias("bwd_zero_window_count"),
        F.col("fwd_bulk_packets_count").cast("long").alias("fwd_bulk_count"),
        F.col("bwd_bulk_packets_count").cast("long").alias("bwd_bulk_count"),
        "fwd_bulk_packets_total",
        "bwd_bulk_packets_total",
        "fwd_bulk_bytes_total",
        "bwd_bulk_bytes_total",
        "fwd_bulk_rate",
        "bwd_bulk_rate",
        (F.col("fwd_packet_len_count") + F.col("bwd_packet_len_count"))
        .cast("long")
        .alias("packet_count"),
    )

    return _sessionize_pruned(
        spark, _od_packets(spark, sf_dir), cfg, build
    )


_Q_OD_SQL = f"""
WITH pk AS (
    SELECT user_id,
           (epoch_us(ts) // 40000) * 1000 + j.j AS ts_us,
           event_id * 8 + j.j AS event_seq,
           (event_id % 2 = 0) AS is_c2s,
           cls, j.j AS j,
           CASE WHEN cls = 'dupa' THEN 0
                WHEN cls = 'retr' THEN CAST(floor(value) AS BIGINT) + 1
                ELSE CAST(floor(value) AS BIGINT) END + 40 AS length,
           CASE WHEN event_id % 23 = 0 THEN 1 ELSE 0 END AS zero_win,
           {_CLIENT_IP_DUCK} AS cip
    FROM (SELECT *,
                 CASE WHEN event_id % 13 = 0 THEN 'bulk'
                      WHEN event_id % 17 = 0 THEN 'retr'
                      WHEN event_id % 19 = 0 THEN 'dupa'
                      ELSE 'data' END AS cls
          FROM events) e, (SELECT unnest([0, 1, 2, 3, 4]) AS j) j
    WHERE (e.cls = 'bulk')
       OR (e.cls IN ('retr', 'dupa') AND j.j < 2)
       OR (j.j = 0)
), flagged AS (
    SELECT *,
           CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                WHEN ts_us - lag(ts_us) OVER w >= {_IDLE_CUT_US} THEN 1
                ELSE 0 END AS new_session
    FROM pk WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
), sess AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_seq
                                  ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
), rows2 AS (
    SELECT *,
           first_value(is_c2s) OVER (PARTITION BY user_id, sid
                                     ORDER BY ts_us, event_seq
                                     ROWS UNBOUNDED PRECEDING) AS first_c2s,
           CASE WHEN new_session = 1 THEN 1
                WHEN is_c2s <> lag(is_c2s) OVER w2 THEN 1
                WHEN ts_us // 1000 - lag(ts_us // 1000) OVER w2 > 1000 THEN 1
                ELSE 0 END AS new_run
    FROM sess
    WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY ts_us, event_seq)
), rows3 AS (
    SELECT *,
           sum(new_run) OVER (PARTITION BY user_id, sid ORDER BY ts_us, event_seq
                              ROWS UNBOUNDED PRECEDING) AS run_id
    FROM rows2
), runs AS (
    SELECT user_id, sid, run_id,
           max(CASE WHEN is_c2s = first_c2s THEN 1 ELSE 0 END) AS run_fwd,
           count(*) AS cnt,
           sum(length) AS bytes,
           max(ts_us // 1000) - min(ts_us // 1000) AS dur_ms
    FROM rows3 GROUP BY user_id, sid, run_id
), bulk AS (
    SELECT user_id, sid,
           CAST(count(*) FILTER (WHERE run_fwd = 1 AND cnt >= 4) AS BIGINT)
               AS fwd_bulk_count,
           CAST(count(*) FILTER (WHERE run_fwd = 0 AND cnt >= 4) AS BIGINT)
               AS bwd_bulk_count,
           coalesce(CAST(sum(cnt) FILTER (WHERE run_fwd = 1 AND cnt >= 4)
                         AS DOUBLE), 0.0) AS fwd_bulk_packets_total,
           coalesce(CAST(sum(cnt) FILTER (WHERE run_fwd = 0 AND cnt >= 4)
                         AS DOUBLE), 0.0) AS bwd_bulk_packets_total,
           coalesce(CAST(sum(bytes) FILTER (WHERE run_fwd = 1 AND cnt >= 4)
                         AS DOUBLE), 0.0) AS fwd_bulk_bytes_total,
           coalesce(CAST(sum(bytes) FILTER (WHERE run_fwd = 0 AND cnt >= 4)
                         AS DOUBLE), 0.0) AS bwd_bulk_bytes_total,
           coalesce(sum(dur_ms) FILTER (WHERE run_fwd = 1 AND cnt >= 4), 0)
               AS fwd_bulk_dur_ms,
           coalesce(sum(dur_ms) FILTER (WHERE run_fwd = 0 AND cnt >= 4), 0)
               AS bwd_bulk_dur_ms
    FROM runs GROUP BY user_id, sid
), agg AS (
    SELECT r.user_id, r.sid,
           max(cip) AS cip,
           max(CASE WHEN first_c2s THEN 1 ELSE 0 END) AS fc2s,
           min(ts_us) AS first_ts_us,
           CAST(count(*) FILTER (WHERE cls = 'retr' AND j = 1
                                 AND is_c2s = first_c2s) AS BIGINT)
               AS fwd_retransmission_count,
           CAST(count(*) FILTER (WHERE cls = 'retr' AND j = 1
                                 AND is_c2s <> first_c2s) AS BIGINT)
               AS bwd_retransmission_count,
           CAST(count(*) FILTER (WHERE cls = 'dupa' AND j = 1
                                 AND is_c2s = first_c2s) AS BIGINT)
               AS fwd_duplicate_ack_count,
           CAST(count(*) FILTER (WHERE cls = 'dupa' AND j = 1
                                 AND is_c2s <> first_c2s) AS BIGINT)
               AS bwd_duplicate_ack_count,
           CAST(count(*) FILTER (WHERE zero_win = 1 AND is_c2s = first_c2s)
                AS BIGINT) AS fwd_zero_window_count,
           CAST(count(*) FILTER (WHERE zero_win = 1 AND is_c2s <> first_c2s)
                AS BIGINT) AS bwd_zero_window_count,
           CAST(count(*) AS BIGINT) AS packet_count
    FROM rows3 r GROUP BY r.user_id, r.sid
), meta AS (
    SELECT a.*, b.* EXCLUDE (user_id, sid),
           lead(a.first_ts_us) OVER (PARTITION BY a.user_id ORDER BY a.sid)
               AS next_first
    FROM agg a JOIN bulk b USING (user_id, sid)
)
SELECT
    {_flow_key_sql(6)} AS flow_key,
    first_ts_us,
    CASE WHEN next_first IS NULL THEN 'Exporter Shutdown'
         ELSE 'Idle Timeout' END AS cause,
    fwd_retransmission_count, bwd_retransmission_count,
    fwd_duplicate_ack_count, bwd_duplicate_ack_count,
    fwd_zero_window_count, bwd_zero_window_count,
    fwd_bulk_count, bwd_bulk_count,
    fwd_bulk_packets_total, bwd_bulk_packets_total,
    fwd_bulk_bytes_total, bwd_bulk_bytes_total,
    CASE WHEN fwd_bulk_count > 0
         THEN CASE WHEN fwd_bulk_dur_ms > 0
                   THEN fwd_bulk_bytes_total / (fwd_bulk_dur_ms / 1000000.0)
                   ELSE CAST('infinity' AS DOUBLE) END
         ELSE 0.0 END AS fwd_bulk_rate,
    CASE WHEN bwd_bulk_count > 0
         THEN CASE WHEN bwd_bulk_dur_ms > 0
                   THEN bwd_bulk_bytes_total / (bwd_bulk_dur_ms / 1000000.0)
                   ELSE CAST('infinity' AS DOUBLE) END
         ELSE 0.0 END AS bwd_bulk_rate,
    packet_count
FROM meta
"""


_EARLY_S = 900  # early-export threshold (compressed seconds)


def q_flow_early_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packet path with early export (T7, flow_table.rs:155-177): every
    packet past the threshold emits a snapshot of the running flow (cause
    'None', span = session prefix) alongside the final session exports. The
    oracle expresses snapshots as running cumulative windows."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.operators.sessionize import sessionize_packets

    cfg = EngineConfig(
        active_timeout=BIG_ACTIVE_S,
        idle_timeout=IDLE_S,
        scan_mode="none",
        early_export=_EARLY_S,
    )
    def build(flows):
        return flows.select(
        "flow_key",
        "first_ts_us",
        "last_ts_us",
        "duration_us",
        "cause",
        "close_style",
        (F.col("fwd_packet_len_count") + F.col("bwd_packet_len_count"))
        .cast("long")
        .alias("packet_count"),
        "payload_len_total",
        F.col("subflow_count").cast("long").alias("subflow_count"),
    )

    # early_export forces full kernel compute, but output pruning still
    # shrinks the Arrow batch to the 10 referenced columns
    return _sessionize_pruned(
        spark,
        _packet_table(spark, sf_dir, tcp=False),
        cfg,
        build,
    )


_Q_EARLY_SQL = f"""
WITH pk AS ({_pk_sql(tcp=False)}),
flagged AS (
    SELECT *,
           CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                WHEN ts_us - lag(ts_us) OVER w >= {_IDLE_CUT_US} THEN 1
                ELSE 0 END AS new_session,
           ts_us - lag(ts_us) OVER w AS gap_us
    FROM pk WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
), sess AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_seq
                                  ROWS UNBOUNDED PRECEDING) AS sid,
           CASE WHEN new_session = 1 THEN NULL ELSE gap_us END AS ig
    FROM flagged
), rows2 AS (
    SELECT *,
           first_value(is_c2s) OVER w2 AS first_c2s,
           first_value(ts_us) OVER w2 AS sess_first_ts,
           count(*) OVER w2 AS cum_cnt,
           sum(data_length) OVER w2 AS cum_payload,
           CAST(1 + count(CASE WHEN ig > 1000000 THEN 1 END) OVER w2 AS BIGINT)
               AS cum_subflow
    FROM sess
    WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY ts_us, event_seq
                  ROWS UNBOUNDED PRECEDING)
), agg AS (
    SELECT user_id, sid,
           max(cip) AS cip,
           max(CASE WHEN first_c2s THEN 1 ELSE 0 END) AS fc2s,
           min(ts_us) AS first_ts_us,
           max(ts_us) AS last_ts_us,
           CAST(count(*) AS BIGINT) AS packet_count,
           CAST(sum(data_length) AS DOUBLE) AS payload_len_total,
           CAST(1 + count(CASE WHEN ig > 1000000 THEN 1 END) AS BIGINT)
               AS subflow_count
    FROM rows2 GROUP BY user_id, sid
), meta AS (
    SELECT *,
           lead(first_ts_us) OVER (PARTITION BY user_id ORDER BY sid) AS next_first
    FROM agg
), sessions_out AS (
    SELECT
        {_flow_key_sql(17)} AS flow_key,
        first_ts_us, last_ts_us, last_ts_us - first_ts_us AS duration_us,
        CASE WHEN next_first IS NULL THEN 'Exporter Shutdown'
             ELSE 'Idle Timeout' END AS cause,
        'not_applicable' AS close_style,
        packet_count, payload_len_total, subflow_count
    FROM meta
), snapshots_out AS (
    SELECT
        CASE WHEN (CASE WHEN first_c2s THEN 1 ELSE 0 END) = 1
             THEN cip || ':' || CAST(1024 + user_id % 60000 AS VARCHAR)
                  || '-{_SERVER_IP}:443-17'
             ELSE '{_SERVER_IP}:443-' || cip || ':'
                  || CAST(1024 + user_id % 60000 AS VARCHAR) || '-17'
        END AS flow_key,
        sess_first_ts AS first_ts_us,
        ts_us AS last_ts_us,
        ts_us - sess_first_ts AS duration_us,
        'None' AS cause,
        'not_applicable' AS close_style,
        CAST(cum_cnt AS BIGINT) AS packet_count,
        CAST(cum_payload AS DOUBLE) AS payload_len_total,
        cum_subflow AS subflow_count
    FROM rows2
    WHERE ts_us >= sess_first_ts + {(_EARLY_S + 1) * 1_000_000}
)
SELECT * FROM sessions_out
UNION ALL
SELECT * FROM snapshots_out
"""


def q_flow_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming flow extraction (S6, realtime.rs analog):
    the UDP packet table replayed through readStream ->
    sessionize_packets_stream (applyInPandasWithState, event-time timeouts)
    under an availableNow trigger. A single micro-batch emits exactly the
    successor-closed sessions (the trailing open flow per key stays in
    state), so the oracle is the batch session SQL minus each key's last
    session."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.streaming.sessionize_stream import sessionize_packets_stream

    base = _tmp_workdir("stream", sf_dir)
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"

    pk = _packet_table(spark, sf_dir, tcp=False)
    pk.coalesce(1).write.mode("overwrite").parquet(src)

    cfg = EngineConfig(
        active_timeout=BIG_ACTIVE_S, idle_timeout=IDLE_S, scan_mode="none"
    )
    stream = spark.readStream.schema(pk.schema).parquet(src)
    _run_available_now(sessionize_packets_stream(stream, cfg), out, ckpt)
    return spark.read.parquet(out).select(
        "flow_key",
        "first_ts_us",
        "last_ts_us",
        "duration_us",
        "cause",
        (F.col("fwd_packet_len_count") + F.col("bwd_packet_len_count"))
        .cast("long")
        .alias("packet_count"),
        "payload_len_total",
        F.col("subflow_count").cast("long").alias("subflow_count"),
    )


_Q_STREAM_SQL = f"""
WITH pk AS ({_pk_sql(tcp=False)}),
flagged AS (
    SELECT *,
           CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                WHEN ts_us - lag(ts_us) OVER w >= {_IDLE_CUT_US} THEN 1
                ELSE 0 END AS new_session,
           ts_us - lag(ts_us) OVER w AS gap_us
    FROM pk WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
), sess AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_seq
                                  ROWS UNBOUNDED PRECEDING) AS sid,
           CASE WHEN new_session = 1 THEN NULL ELSE gap_us END AS ig
    FROM flagged
), rows2 AS (
    SELECT *, first_value(is_c2s) OVER w2 AS first_c2s
    FROM sess
    WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY ts_us, event_seq
                  ROWS UNBOUNDED PRECEDING)
), agg AS (
    SELECT user_id, sid,
           max(cip) AS cip,
           max(CASE WHEN first_c2s THEN 1 ELSE 0 END) AS fc2s,
           min(ts_us) AS first_ts_us,
           max(ts_us) AS last_ts_us,
           CAST(count(*) AS BIGINT) AS packet_count,
           CAST(sum(data_length) AS DOUBLE) AS payload_len_total,
           CAST(1 + count(CASE WHEN ig > 1000000 THEN 1 END) AS BIGINT)
               AS subflow_count
    FROM rows2 GROUP BY user_id, sid
), meta AS (
    SELECT *,
           lead(first_ts_us) OVER (PARTITION BY user_id ORDER BY sid) AS next_first
    FROM agg
)
SELECT
    {_flow_key_sql(17)} AS flow_key,
    first_ts_us, last_ts_us, last_ts_us - first_ts_us AS duration_us,
    'Idle Timeout' AS cause,
    packet_count, payload_len_total, subflow_count
FROM meta
-- emitted = successor-closed sessions, plus trailing sessions whose
-- event-time timeout fires before the stream's final watermark
-- (timeout_ms < max_event_ms - delay_ms, both floor-divided like Spark's
-- ms-precision watermark; active timeout is effectively infinite here so
-- the flush cause is Idle Timeout too)
WHERE next_first IS NOT NULL
   OR (last_ts_us + {(IDLE_S + 1) * 1_000_000}) // 1000
      < (SELECT max(ts_us) FROM pk) // 1000 - 10000
"""


def _tmp_workdir(name: str, sf_dir: str) -> str:
    """Per-(name, fixture, PID) scratch dir under /tmp.

    PID in the path: concurrent gate/bench runs over the same fixture
    must not rmtree each other's live stream source/checkpoint. atexit
    removes THIS process's dirs (the PID suffix otherwise accumulates
    one dir per run — review finding); stale dirs from crashed runs are
    also swept here, but only when their PID is no longer alive, so a
    concurrent live run is never touched."""
    import atexit
    import glob as globmod
    import os
    import re
    import shutil
    import zlib

    base = (
        f"/tmp/rustiflow_{name}_"
        f"{zlib.crc32(sf_dir.encode()) & 0xFFFFFFFF:x}_{os.getpid()}"
    )
    shutil.rmtree(base, ignore_errors=True)
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    prefix = base.rsplit("_", 1)[0]
    import time as timemod

    for stale in globmod.glob(f"{prefix}_*"):
        m = re.match(r".*_(\d+)$", stale)
        if not m or stale == base:
            continue
        try:
            os.kill(int(m.group(1)), 0)  # raises if the owner is gone
        except ProcessLookupError:
            shutil.rmtree(stale, ignore_errors=True)
            continue
        except PermissionError:
            pass  # alive under another uid: leave it (unless ancient)
        # age gate (round-5 ADVICE): a recycled PID owned by any live
        # process would keep a stale dir forever on busy hosts — a dir
        # untouched for a day is from a finished run regardless of what
        # now owns its PID (live runs touch their dirs continuously)
        try:
            if timemod.time() - _newest_mtime(stale) > 86_400:
                shutil.rmtree(stale, ignore_errors=True)
        except OSError:
            pass
    return base


def _newest_mtime(top: str) -> float:
    """Newest mtime of `top` and everything below it: a live run writes in
    subdirectories (stream src/out/ckpt), which leaves the top mtime old."""
    newest = os.path.getmtime(top)
    for root, dirs, files in os.walk(top):
        for name in dirs + files:
            try:
                newest = max(newest, os.lstat(os.path.join(root, name)).st_mtime)
            except OSError:
                pass  # removed while walking
    return newest


def _replay_three_files(ev: DataFrame, name: str, sf_dir: str) -> tuple[str, str, str]:
    """Write ev as three time-ranged parquet files with pinned mtimes so a
    FileStreamSource with maxFilesPerTrigger=1 replays them as three
    micro-batches in event-time order. Returns (src, out, ckpt) dirs."""
    import glob as globmod
    import os

    base = _tmp_workdir(name, sf_dir)
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    lo, hi = ev.selectExpr("min(ts_us)", "max(ts_us)").first()
    t1, t2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    seen: set[str] = set()
    for i, (a, b) in enumerate([(None, t1), (t1, t2), (t2, None)]):
        part = ev
        if a is not None:
            part = part.where(F.col("ts_us") >= a)
        if b is not None:
            part = part.where(F.col("ts_us") < b)
        part.coalesce(1).write.mode("append").parquet(src)
        cur = set(globmod.glob(f"{src}/part-*.parquet"))
        for f in cur - seen:
            os.utime(f, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))
        seen = cur
    return src, out, ckpt


def _run_available_now(stream_df: DataFrame, out: str, ckpt: str) -> None:
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)


def q_rollup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous aggregate (streaming/rollup_stream.py): the
    events table replayed as THREE time-ranged parquet files under
    availableNow with maxFilesPerTrigger=1, through the native windowed
    aggregation + watermark in append mode. Buckets span micro-batches
    (state continuity) and only finalize when the watermark passes their
    end, so the emitted set is exactly the buckets with
    (bucket_s + width) <= ms-truncated(max_ts - delay) — the closed-form
    restriction the DuckDB oracle replays. Decimal sums make finalized
    buckets bit-identical to the batch rollup."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.streaming.rollup_stream import rollup_stream

    ev = _events(spark, sf_dir).select("ts_us", "value", "event_type")
    src, out, ckpt = _replay_three_files(ev, "rollstream", sf_dir)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    roll = rollup_stream(stream, "ts_us", 3600, ["event_type"], "value", "10 seconds")
    _run_available_now(roll, out, ckpt)
    return spark.read.parquet(out).select(
        "event_type",
        "bucket_s",
        "n_rows",
        F.round(F.col("sum_value").cast("double"), 2).alias("sum_value"),
        F.round(F.col("min_value").cast("double"), 2).alias("min_value"),
        F.round(F.col("max_value").cast("double"), 2).alias("max_value"),
    )


_ROLLUP_STREAM_SQL = """
WITH wm AS (
  SELECT (CAST(floor(max(epoch_us(ts)) / 1000) AS BIGINT) - 10000) * 1000 AS wm_us
  FROM events
)
SELECT event_type,
       CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_s,
       count(*) AS n_rows,
       round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_value,
       round(CAST(min(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 2) AS min_value,
       round(CAST(max(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 2) AS max_value
FROM events, wm
GROUP BY event_type, bucket_s, wm_us
HAVING (bucket_s + 3600) * 1000000 <= wm_us
"""


def q_profile_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data-quality monitor (streaming/rollup_stream.py
    profile_stream): per-hour per-column row/null counts + native-order
    min/max over the 3-file availableNow replay — the continuous twin of
    table_profile, state O(open buckets x columns), append mode with
    exactly-once bucket emission. A synthetic every-7th-row null makes
    the null-rate channel non-trivial. Oracle replays the watermark
    closed form per column."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.streaming.rollup_stream import profile_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) as ts_us",
        "user_id",
        "case when event_id % 7 = 0 then cast(null as string)"
        " else event_type end as et_gappy",
    )
    src, out, ckpt = _replay_three_files(ev, "profstream", sf_dir)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    prof = profile_stream(
        stream, "ts_us", 3600, ["et_gappy", "user_id"], "10 seconds"
    )
    _run_available_now(prof, out, ckpt)
    return spark.read.parquet(out)


_PROFILE_STREAM_SQL = """
WITH wm AS (
  SELECT (CAST(floor(max(epoch_us(ts)) / 1000) AS BIGINT) - 10000) * 1000 AS wm_us
  FROM events
),
e AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_s,
         user_id,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS et_gappy
  FROM events
)
SELECT bucket_s, 'et_gappy' AS col_name, count(*)::BIGINT AS n,
       (count(*) - count(et_gappy))::BIGINT AS n_null,
       min(et_gappy)::VARCHAR AS min_s, max(et_gappy)::VARCHAR AS max_s
FROM e, wm GROUP BY bucket_s, wm_us HAVING (bucket_s + 3600) * 1000000 <= wm_us
UNION ALL
SELECT bucket_s, 'user_id', count(*)::BIGINT,
       (count(*) - count(user_id))::BIGINT,
       min(user_id)::VARCHAR, max(user_id)::VARCHAR
FROM e, wm GROUP BY bucket_s, wm_us HAVING (bucket_s + 3600) * 1000000 <= wm_us
"""


def q_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed HLL (streaming/rollup_stream.py hll_stream):
    per-hour distinct-user register tables from the 3-file availableNow
    replay (append mode, exactly-once per finalized bucket), then the
    batch estimator over the emitted registers — the store-the-sketch
    pattern for unbounded streams. Oracle: batch HLL per (event_type,
    hour) restricted to buckets the final watermark passed, every integer
    step replayed in SQL."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.sketches import hll_estimate
    from rustiflow_spark.streaming.rollup_stream import hll_stream

    ev = _events(spark, sf_dir).select("ts_us", "user_id", "event_type")
    src, out, ckpt = _replay_three_files(ev, "hllstream", sf_dir)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    regs = hll_stream(
        stream, "ts_us", 3600, "user_id", ["event_type"], p=12,
        watermark_delay="10 seconds", hash_fn="md5",
    )
    _run_available_now(regs, out, ckpt)
    emitted = spark.read.parquet(out)
    return hll_estimate(emitted, ["event_type", "bucket_s"], p=12).select(
        "event_type",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.round("hll_estimate", 4).alias("est_users"),
    )


def _hll_stream_sql(p: int = 12) -> str:
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    w_bits = 60 - p
    b = 61 - p  # harmonic-sum base exponent; see _hll_sql

    hexpr = (
        "("
        + " + ".join(
            f"CAST((strpos('0123456789abcdef', substr(hx, {j + 1}, 1)) - 1) AS BIGINT) * {16 ** (14 - j)}"
            for j in range(15)
        )
        + ")"
    )
    return f"""
WITH wm AS (
  SELECT (CAST(floor(max(epoch_us(ts)) / 1000) AS BIGINT) - 10000) * 1000 AS wm_us
  FROM events
),
h AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_s,
         {hexpr} AS hv
  FROM (SELECT event_type, ts, substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS hx FROM events)
),
regs AS (
  SELECT event_type, bucket_s, CAST(hv % {m} AS INT) AS reg,
         max(CASE WHEN hv // {m} = 0 THEN {w_bits + 1}
                  ELSE {w_bits} - length(bin(hv // {m})) + 1 END) AS mj
  FROM h GROUP BY event_type, bucket_s, reg
),
agg AS (
  SELECT event_type, bucket_s,
         sum(CAST(1 AS BIGINT) << CAST({b} - mj AS INT)) AS s_nz,
         count(*) AS nz
  FROM regs, wm
  WHERE (bucket_s + 3600) * 1000000 <= wm_us
  GROUP BY event_type, bucket_s
),
est AS (
  SELECT event_type, bucket_s,
         CAST({alpha!r} AS DOUBLE) * {m} * {m} * CAST({1 << b} AS DOUBLE)
           / CAST(s_nz + ({m} - nz) * {1 << b} AS DOUBLE) AS raw,
         nz
  FROM agg
)
SELECT event_type, bucket_s,
       round(CASE WHEN raw <= 2.5 * {m} AND nz < {m}
                  THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / CAST({m} - nz AS DOUBLE))
                  ELSE raw END, 4) AS est_users
FROM est
"""


def q_quality_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed streaming corpus-quality query (streaming/rollup_stream.py
    corpus_quality_stream): quality filter → fine 600 s (rollup + HLL
    register) aggregation → chained coarse 3600 s merge — ONE streaming
    plan with TWO stateful operators (append-mode window_time chaining),
    under the 3-file availableNow replay. The emitted register table
    carries the rollup partials, so one batch read yields both the
    per-hour row/value rollup and the distinct-user estimate. Oracle:
    direct per-hour aggregation with the same filter, register math
    replayed in SQL, restricted to coarse buckets the final watermark
    passed (closed form validated against the chained-operator emission)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.sketches import hll_estimate
    from rustiflow_spark.streaming.rollup_stream import corpus_quality_stream

    ev = _events(spark, sf_dir).select("ts_us", "user_id", "event_type", "value")
    src, out, ckpt = _replay_three_files(ev, "qualstream", sf_dir)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = corpus_quality_stream(
        stream, "ts_us", 600, 3600, "user_id", ["event_type"], "value",
        min_value=1.0, p=12, watermark_delay="10 seconds", hash_fn="md5",
    )
    _run_available_now(q, out, ckpt)
    emitted = spark.read.parquet(out)
    est = hll_estimate(emitted, ["event_type", "bucket_s"], p=12)
    roll = emitted.groupBy("event_type", "bucket_s").agg(
        F.sum("n_rows").alias("n_rows"), F.sum("sum_value").alias("sum_value")
    )
    return roll.join(est, ["event_type", "bucket_s"]).select(
        "event_type",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(F.col("sum_value").cast("double"), 2).alias("sum_value"),
        F.round("hll_estimate", 4).alias("est_users"),
    )


def q_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (streaming/dedup_stream.py): first-arrival
    emission of distinct (user_id, event_type) contents across the 3-file
    availableNow replay — cross-micro-batch state dedup with the same md5
    content hash batch exact_dedup groups on. Output restricted to the
    deterministic columns (first-arrival payloads depend on arrival
    order). Oracle: SELECT DISTINCT."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.streaming.dedup_stream import dedup_stream

    ev = _events(spark, sf_dir).select("ts_us", "user_id", "event_type")
    src, out, ckpt = _replay_three_files(ev, "dedupstream", sf_dir)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    d = dedup_stream(stream, ["user_id", "event_type"]).select(
        "user_id", "event_type", "content_hash"
    )
    _run_available_now(d, out, ckpt)
    return spark.read.parquet(out).select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        "content_hash",
    )


_DEDUP_STREAM_SQL = """
SELECT DISTINCT user_id,
       event_type,
       md5(concat_ws(chr(31), CAST(user_id AS VARCHAR), event_type))
           AS content_hash
FROM events
"""


def _quality_stream_sql(p: int = 12) -> str:
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    w_bits = 60 - p
    b = 61 - p  # harmonic-sum base exponent; see _hll_sql

    hexpr = (
        "("
        + " + ".join(
            f"CAST((strpos('0123456789abcdef', substr(hx, {j + 1}, 1)) - 1) AS BIGINT) * {16 ** (14 - j)}"
            for j in range(15)
        )
        + ")"
    )
    return f"""
WITH wm AS (
  SELECT (CAST(floor(max(epoch_us(ts)) / 1000) AS BIGINT) - 10000) * 1000 AS wm_us
  FROM events
),
f AS (
  SELECT event_type, ts, user_id, CAST(value AS DECIMAL(28,6)) AS dv
  FROM events WHERE value >= CAST(1.0 AS DOUBLE)
),
h AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_s,
         {hexpr} AS hv, dv
  FROM (SELECT event_type, ts, dv,
               substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS hx FROM f)
),
regs AS (
  SELECT event_type, bucket_s, CAST(hv % {m} AS INT) AS reg,
         max(CASE WHEN hv // {m} = 0 THEN {w_bits + 1}
                  ELSE {w_bits} - length(bin(hv // {m})) + 1 END) AS mj,
         count(*) AS n_rows,
         sum(dv) AS sum_value
  FROM h GROUP BY event_type, bucket_s, reg
),
agg AS (
  SELECT event_type, bucket_s,
         sum(CAST(1 AS BIGINT) << CAST({b} - mj AS INT)) AS s_nz,
         count(*) AS nz,
         CAST(sum(n_rows) AS BIGINT) AS n_rows,
         sum(sum_value) AS sum_value
  FROM regs, wm
  WHERE (bucket_s + 3600) * 1000000 <= wm_us
  GROUP BY event_type, bucket_s
),
est AS (
  SELECT event_type, bucket_s, n_rows, sum_value,
         CAST({alpha!r} AS DOUBLE) * {m} * {m} * CAST({1 << b} AS DOUBLE)
           / CAST(s_nz + ({m} - nz) * {1 << b} AS DOUBLE) AS raw,
         nz
  FROM agg
)
SELECT event_type, bucket_s, n_rows,
       round(CAST(sum_value AS DOUBLE), 2) AS sum_value,
       round(CASE WHEN raw <= 2.5 * {m} AND nz < {m}
                  THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / CAST({m} - nz AS DOUBLE))
                  ELSE raw END, 4) AS est_users
FROM est
"""


def q_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed Count-Min (streaming/rollup_stream.py
    cms_stream): per-hour frequency counters from the 3-file availableNow
    replay, then batch point estimates for user_ids < 20 against the
    emitted counters — every finalized (event_type, hour) bucket answers
    frequency probes without rescanning the stream. Oracle: the batch CMS
    replay per bucket restricted by the closed-form watermark rule."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.sketches import cms_estimate
    from rustiflow_spark.streaming.rollup_stream import cms_stream

    ev = _events(spark, sf_dir).select("ts_us", "user_id", "event_type")
    src, out, ckpt = _replay_three_files(ev, "cmsstream", sf_dir)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    counters = cms_stream(
        stream, "ts_us", 3600, "user_id", ["event_type"], depth=4,
        width_bits=12, watermark_delay="10 seconds", hash_fn="md5",
    )
    _run_available_now(counters, out, ckpt)
    emitted = spark.read.parquet(out)
    keys = ev.select("user_id").where("user_id < 20").distinct()
    return cms_estimate(
        emitted, keys, "user_id", ["event_type", "bucket_s"], depth=4,
        width_bits=12, hash_fn="md5",
    ).select(
        "event_type",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("cms_estimate").cast("long").alias("est_count"),
    )


def _cms_stream_sql(d: int = 4, w: int = 12) -> str:
    def hex15(expr: str) -> str:
        return (
            "("
            + " + ".join(
                f"CAST((strpos('0123456789abcdef', substr({expr}, {j + 1}, 1)) - 1) AS BIGINT) * {16 ** (14 - j)}"
                for j in range(15)
            )
            + ")"
        )

    def row_sql(r: int) -> str:
        md5e = f"substr(md5(CAST(user_id AS VARCHAR) || '#{r}'), 1, 15)"
        return (
            f"SELECT event_type, CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) * 3600 AS bucket_s,"
            f" user_id, {r} AS row, {hex15(md5e)} % {1 << w} AS bucket FROM events"
        )

    cells = " UNION ALL ".join(row_sql(r) for r in range(d))
    return f"""
WITH wm AS (
  SELECT (CAST(floor(max(epoch_us(ts)) / 1000) AS BIGINT) - 10000) * 1000 AS wm_us
  FROM events
),
cells AS ({cells}),
sk AS (
  SELECT event_type, bucket_s, row, bucket, count(*) AS cnt
  FROM cells, wm
  WHERE (bucket_s + 3600) * 1000000 <= wm_us
  GROUP BY event_type, bucket_s, row, bucket
),
probes AS (
  SELECT DISTINCT user_id, row, bucket FROM cells WHERE user_id < 20
),
pg AS (
  SELECT g.event_type, g.bucket_s, p.user_id, p.row, p.bucket
  FROM (SELECT DISTINCT event_type, bucket_s FROM sk) g CROSS JOIN probes p
)
SELECT pg.event_type, pg.bucket_s, CAST(pg.user_id AS BIGINT) AS user_id,
       CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est_count
FROM pg LEFT JOIN sk
  ON sk.event_type = pg.event_type AND sk.bucket_s = pg.bucket_s
 AND sk.row = pg.row AND sk.bucket = pg.bucket
GROUP BY pg.event_type, pg.bucket_s, pg.user_id
"""


def q_hdr_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed quantiles (streaming/rollup_stream.py
    hdr_stream): per-hour HDR value histograms from the 3-file
    availableNow replay, then the batch rank-exact quantile pick over the
    emitted histograms — streaming p50/p99 per (event_type, hour) without
    retaining raw values. Oracle: the batch HDR replay per bucket under
    the closed-form watermark restriction."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.sketches import hdr_quantiles
    from rustiflow_spark.streaming.rollup_stream import hdr_stream

    ev = _events(spark, sf_dir).select("ts_us", "value", "event_type")
    src, out, ckpt = _replay_three_files(ev, "hdrstream", sf_dir)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    hists = hdr_stream(
        stream, "ts_us", 3600, "value", ["event_type"], sub_bits=6,
        watermark_delay="10 seconds",
    )
    _run_available_now(hists, out, ckpt)
    emitted = spark.read.parquet(out)
    return hdr_quantiles(
        emitted, ["event_type", "bucket_s"], [0.5, 0.99], sub_bits=6
    ).select(
        "event_type",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.round("p", 2).alias("p"),
        F.round("quantile", 6).alias("quantile"),
    )


def _hdr_stream_sql(m: int = 6, scale: int = 1_000_000) -> str:
    probs = [0.5, 0.99]
    return f"""
WITH wm AS (
  SELECT (CAST(floor(max(epoch_us(ts)) / 1000) AS BIGINT) - 10000) * 1000 AS wm_us
  FROM events
),
q AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) * 3600 AS bucket_s,
         CAST(floor(CAST(value AS DOUBLE) * {scale}) AS BIGINT) AS qv
  FROM events, wm
  WHERE (CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) * 3600 + 3600) * 1000000 <= wm_us
),
b AS (
  SELECT event_type, bucket_s,
         CASE WHEN qv < {1 << m} THEN qv
              ELSE CAST((length(bin(qv)) - 1 - {m} + 1) * {1 << m}
                   + ((qv >> (length(bin(qv)) - 1 - {m})) - {1 << m}) AS BIGINT) END AS bucket
  FROM q
),
hist AS (SELECT event_type, bucket_s, bucket, count(*) AS cnt FROM b GROUP BY event_type, bucket_s, bucket),
cum AS (
  SELECT event_type, bucket_s, bucket,
         sum(cnt) OVER (PARTITION BY event_type, bucket_s ORDER BY bucket) AS c,
         sum(cnt) OVER (PARTITION BY event_type, bucket_s) AS tot
  FROM hist
),
probs(p) AS (VALUES {", ".join(f"({p})" for p in probs)}),
hit AS (
  SELECT event_type, bucket_s, p, bucket,
         row_number() OVER (PARTITION BY event_type, bucket_s, p ORDER BY bucket) AS rn
  FROM cum CROSS JOIN probs
  WHERE c >= ceil(p * tot)
)
SELECT event_type, bucket_s, round(p, 2) AS p,
       round(CAST(CASE WHEN (bucket >> {m}) = 0 THEN bucket
                  ELSE ((bucket % {1 << m}) + {1 << m}) << ((bucket >> {m}) - 1)
             END AS DOUBLE) / {scale}, 6) AS quantile
FROM hit WHERE rn = 1
"""


def q_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming EVENT-path sessionization (S6 event analog,
    streaming/sessionize_stream.py:sessionize_stream): the events table
    replayed as THREE time-ranged parquet files under availableNow with
    maxFilesPerTrigger=1, so sessions span micro-batches (state buffering +
    per-key ordinal continuity) and the final no-data batch fires
    event-time timeouts (watermark flush). Emitted rows = terminator- or
    successor-closed sessions plus trailing sessions whose idle expiry
    predates the final watermark; the oracle is the batch session SQL
    restricted to exactly that set (round-3 verdict item 5)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.streaming.sessionize_stream import sessionize_stream

    ev = _events(spark, sf_dir).select(
        "user_id", "ts_us", "value", "direction", "terminator", "event_seq"
    )
    src, out, ckpt = _replay_three_files(ev, "evstream", sf_dir)
    cfg = _engine_cfg()
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sessions = sessionize_stream(
        stream, ["user_id"], cfg, value_col="value",
        watermark_delay="10 seconds", ordinal_ttl_s=10_000_000,
    )
    _run_available_now(sessions, out, ckpt)
    return spark.read.parquet(out).select(
        "user_id",
        F.col("session_index").cast("long").alias("session_index"),
        "first_ts_us",
        "last_ts_us",
        "duration_us",
        "cause",
        F.col("event_count").cast("long").alias("event_count"),
        F.col("fwd_event_count").cast("long").alias("fwd_event_count"),
        F.col("bwd_event_count").cast("long").alias("bwd_event_count"),
        F.round("n_tok_total", 6).alias("value_total"),
        F.round("n_tok_mean", 6).alias("value_mean"),
        F.round("iat_total", 4).alias("iat_total_ms"),
        F.col("subflow_count").cast("long").alias("subflow_count"),
    )


_Q_SESSION_STREAM_SQL = f"""
WITH ev AS (
    SELECT user_id,
           epoch_us(ts) AS ts_us,
           value,
           event_id % 2 AS direction,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS terminator,
           event_id AS event_seq
    FROM events
), flagged AS (
    SELECT *,
           CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                WHEN ts_us - lag(ts_us) OVER w >= ({IDLE_S} + 1) * 1000000 THEN 1
                WHEN lag(terminator) OVER w = 1 THEN 1
                ELSE 0 END AS new_session,
           ts_us - lag(ts_us) OVER w AS gap_us
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
), sess AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_seq
                                  ROWS UNBOUNDED PRECEDING) AS session_id,
           CASE WHEN new_session = 1 THEN NULL ELSE gap_us END AS intra_gap_us
    FROM flagged
), agg AS (
    SELECT user_id, session_id,
           min(ts_us) AS first_ts_us,
           max(ts_us) AS last_ts_us,
           max(ts_us) - min(ts_us) AS duration_us,
           count(*) AS event_count,
           CAST(sum(CASE WHEN direction = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fwd_event_count,
           CAST(sum(CASE WHEN direction = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bwd_event_count,
           round(sum(value), 6) AS value_total,
           round(avg(value), 6) AS value_mean,
           round(coalesce(sum(intra_gap_us / 1000.0), 0.0), 4) AS iat_total_ms,
           CAST(1 + sum(CASE WHEN intra_gap_us > 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS subflow_count,
           max(CASE WHEN terminator = 1 THEN 1 ELSE 0 END) AS has_term
    FROM sess
    GROUP BY user_id, session_id
), meta AS (
    SELECT *,
           lead(first_ts_us) OVER (PARTITION BY user_id ORDER BY session_id)
               AS next_first,
           row_number() OVER (PARTITION BY user_id ORDER BY session_id) - 1
               AS session_index
    FROM agg
)
SELECT user_id,
       CAST(session_index AS BIGINT) AS session_index,
       first_ts_us, last_ts_us, duration_us,
       CASE WHEN has_term = 1 THEN 'TCP Normal Termination'
            ELSE 'Idle Timeout' END AS cause,
       event_count, fwd_event_count, bwd_event_count,
       value_total, value_mean, iat_total_ms, subflow_count
FROM meta
-- emitted = terminator- or successor-closed sessions, plus trailing
-- sessions whose event-time idle expiry predates the final watermark
-- (ms-floored like Spark's watermark; the active timeout is effectively
-- infinite so the flush cause is Idle Timeout)
WHERE has_term = 1
   OR next_first IS NOT NULL
   OR (last_ts_us + ({IDLE_S} + 1) * 1000000) // 1000
      < (SELECT max(ts_us) FROM ev) // 1000 - 10000
"""


def q_flow_custom_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined flow schema (the CustomFlow template analog,
    flows/custom.py): runtime-composed column selection + derived Catalyst
    expressions over the superset, applied to the ICMP flow table."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.flows.custom import example_custom_schema
    from rustiflow_spark.operators.sessionize import sessionize_packets

    cfg = EngineConfig(
        active_timeout=BIG_ACTIVE_S, idle_timeout=IDLE_S, scan_mode="none"
    )
    flows = sessionize_packets(
        _packet_table(spark, sf_dir, tcp=False, icmp=True),
        cfg,
    )
    return example_custom_schema().apply(flows)


_Q_CUSTOM_SQL = f"""
WITH base AS ({_Q_ICMP_SQL})
SELECT flow_key AS flow_id,
       CAST(1 AS BIGINT) AS protocol,
       last_ts_us - first_ts_us AS duration_us,
       cause AS flow_expire_cause,
       icmp_type, icmp_code,
       CASE WHEN icmp_echo_request_count > 0
            THEN CAST(icmp_echo_reply_count AS DOUBLE)
                 / CAST(icmp_echo_request_count AS DOUBLE)
            ELSE 0.0 END AS echo_ratio
FROM base
"""


def q_flow_tcp_rst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packet path, TCP with RST terminations: lifecycle state machine (T4,
    A8 flag stats + UAPRSF string, A9 init window, A14 close styles;
    basic_flow.rs RST handling + tcp_flag_stats.rs:49-106)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.operators.sessionize import sessionize_packets

    cfg = EngineConfig(
        active_timeout=BIG_ACTIVE_S, idle_timeout=IDLE_S, scan_mode="none"
    )
    def build(flows):
        return flows.select(
        "flow_key",
        F.col("protocol").cast("long").alias("protocol"),
        "first_ts_us",
        "last_ts_us",
        "duration_us",
        "cause",
        "close_style",
        F.col("handshake_completed").cast("long").alias("handshake_completed"),
        F.col("reset_before_handshake").cast("long").alias("reset_before_handshake"),
        F.col("reset_after_handshake").cast("long").alias("reset_after_handshake"),
        "flags",
        F.col("fwd_rst_flag_count").cast("long").alias("fwd_rst_flag_count"),
        F.col("bwd_rst_flag_count").cast("long").alias("bwd_rst_flag_count"),
        F.col("fwd_psh_flag_count").cast("long").alias("fwd_psh_flag_count"),
        F.col("bwd_psh_flag_count").cast("long").alias("bwd_psh_flag_count"),
        F.col("fwd_packet_len_count").cast("long").alias("fwd_packet_count"),
        F.col("bwd_packet_len_count").cast("long").alias("bwd_packet_count"),
        F.col("fwd_init_window_size").cast("long").alias("fwd_init_window_size"),
        F.col("bwd_init_window_size").cast("long").alias("bwd_init_window_size"),
        F.col("subflow_count").cast("long").alias("subflow_count"),
    )

    return _sessionize_pruned(
        spark,
        _packet_table(spark, sf_dir, tcp=True),
        cfg,
        build,
    )


_Q_TCP_RST_SQL = f"""
WITH pk AS ({_pk_sql(tcp=True)}),
flagged AS (
    SELECT *,
           CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                WHEN ts_us - lag(ts_us) OVER w >= {_IDLE_CUT_US} THEN 1
                WHEN lag(rst) OVER w = 1 THEN 1
                ELSE 0 END AS new_session,
           ts_us - lag(ts_us) OVER w AS gap_us
    FROM pk WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
), sess AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_seq
                                  ROWS UNBOUNDED PRECEDING) AS sid,
           CASE WHEN new_session = 1 THEN NULL ELSE gap_us END AS ig
    FROM flagged
), rows2 AS (
    SELECT *,
           first_value(is_c2s) OVER (PARTITION BY user_id, sid
                                     ORDER BY ts_us, event_seq
                                     ROWS UNBOUNDED PRECEDING) AS first_c2s,
           row_number() OVER (PARTITION BY user_id, sid
                              ORDER BY ts_us DESC, event_seq DESC) AS rn_last
    FROM sess
), rows3 AS (
    SELECT *, (is_c2s = first_c2s) AS is_fwd,
           row_number() OVER (PARTITION BY user_id, sid, is_c2s = first_c2s
                              ORDER BY ts_us, event_seq) AS dir_rn
    FROM rows2
), agg AS (
    SELECT user_id, sid,
           max(cip) AS cip,
           max(CASE WHEN first_c2s THEN 1 ELSE 0 END) AS fc2s,
           min(ts_us) AS first_ts_us,
           max(ts_us) AS last_ts_us,
           max(ts_us) - min(ts_us) AS duration_us,
           max(CASE WHEN rn_last = 1 THEN rst ELSE 0 END) AS ends_rst,
           CAST(coalesce(sum(rst) FILTER (WHERE is_fwd), 0) AS BIGINT)
               AS fwd_rst_flag_count,
           CAST(coalesce(sum(rst) FILTER (WHERE NOT is_fwd), 0) AS BIGINT)
               AS bwd_rst_flag_count,
           CAST(coalesce(sum(psh) FILTER (WHERE is_fwd), 0) AS BIGINT)
               AS fwd_psh_flag_count,
           CAST(coalesce(sum(psh) FILTER (WHERE NOT is_fwd), 0) AS BIGINT)
               AS bwd_psh_flag_count,
           CAST(count(*) FILTER (WHERE is_fwd) AS BIGINT) AS fwd_packet_count,
           CAST(count(*) FILTER (WHERE NOT is_fwd) AS BIGINT) AS bwd_packet_count,
           CAST(coalesce(max(CASE WHEN dir_rn = 1 AND is_fwd
                                  THEN window_size END), 0) AS BIGINT)
               AS fwd_init_window_size,
           CAST(coalesce(max(CASE WHEN dir_rn = 1 AND NOT is_fwd
                                  THEN window_size END), 0) AS BIGINT)
               AS bwd_init_window_size,
           CAST(1 + count(*) FILTER (WHERE ig > 1000000) AS BIGINT) AS subflow_count
    FROM rows3 GROUP BY user_id, sid
), meta AS (
    SELECT *,
           lead(first_ts_us) OVER (PARTITION BY user_id ORDER BY sid) AS next_first
    FROM agg
)
SELECT
    {_flow_key_sql(6)} AS flow_key,
    CAST(6 AS BIGINT) AS protocol,
    first_ts_us, last_ts_us, duration_us,
    CASE WHEN ends_rst = 1 THEN 'TCP Reset'
         WHEN next_first IS NULL THEN 'Exporter Shutdown'
         ELSE 'Idle Timeout' END AS cause,
    CASE WHEN ends_rst = 1 THEN 'reset' ELSE 'none' END AS close_style,
    CAST(0 AS BIGINT) AS handshake_completed,
    CAST(ends_rst AS BIGINT) AS reset_before_handshake,
    CAST(0 AS BIGINT) AS reset_after_handshake,
    concat('..',
           CASE WHEN fwd_psh_flag_count + bwd_psh_flag_count > 0
                THEN 'P' ELSE '.' END,
           CASE WHEN fwd_rst_flag_count + bwd_rst_flag_count > 0
                THEN 'R' ELSE '.' END,
           '..') AS flags,
    fwd_rst_flag_count, bwd_rst_flag_count,
    fwd_psh_flag_count, bwd_psh_flag_count,
    fwd_packet_count, bwd_packet_count,
    fwd_init_window_size, bwd_init_window_size,
    subflow_count
FROM meta
"""


def q_flow_active_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packet path with a FINITE active timeout (T2): the recursive
    active-window split (flow_table.rs:132-153 expiry-before-apply), oracled
    with a DuckDB recursive CTE that replays the per-row segment-start
    chain exactly."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.operators.sessionize import sessionize_packets

    cfg = EngineConfig(active_timeout=3600, idle_timeout=IDLE_S, scan_mode="none")
    flows = sessionize_packets(
        _packet_table(spark, sf_dir, tcp=False), cfg
    )
    return flows.select(
        "flow_key",
        "first_ts_us",
        "last_ts_us",
        "duration_us",
        "cause",
        (F.col("fwd_packet_len_count") + F.col("bwd_packet_len_count"))
        .cast("long")
        .alias("packet_count"),
    )


_ACTIVE_CUT_US = (3600 + 1) * 1_000_000

_Q_ACTIVE_SQL = f"""
WITH RECURSIVE pk AS ({_pk_sql(tcp=False)}),
numbered AS (
    SELECT user_id, ts_us, event_seq, is_c2s, cip,
           row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_seq) AS rn
    FROM pk
), chain AS (
    SELECT user_id, rn, ts_us, is_c2s, cip, ts_us AS seg_start
    FROM numbered WHERE rn = 1
    UNION ALL
    SELECT n.user_id, n.rn, n.ts_us, n.is_c2s, n.cip,
           CASE WHEN n.ts_us - c.ts_us >= {_IDLE_CUT_US}
                  OR n.ts_us >= c.seg_start + {_ACTIVE_CUT_US}
                THEN n.ts_us ELSE c.seg_start END
    FROM numbered n JOIN chain c ON n.user_id = c.user_id AND n.rn = c.rn + 1
), agg AS (
    SELECT user_id, seg_start,
           max(cip) AS cip,
           max(CASE WHEN rn = mn THEN CASE WHEN is_c2s THEN 1 ELSE 0 END END)
               AS fc2s,
           min(ts_us) AS first_ts_us,
           max(ts_us) AS last_ts_us,
           max(ts_us) - min(ts_us) AS duration_us,
           CAST(count(*) AS BIGINT) AS packet_count
    FROM (SELECT *, min(rn) OVER (PARTITION BY user_id, seg_start) AS mn FROM chain)
    GROUP BY user_id, seg_start
), meta AS (
    SELECT *,
           lead(first_ts_us) OVER (PARTITION BY user_id ORDER BY first_ts_us)
               AS next_first
    FROM agg
)
SELECT
    {_flow_key_sql(17)} AS flow_key,
    first_ts_us, last_ts_us, duration_us,
    CASE WHEN next_first IS NULL THEN 'Exporter Shutdown'
         WHEN next_first >= first_ts_us + {_ACTIVE_CUT_US} THEN 'Active Timeout'
         ELSE 'Idle Timeout' END AS cause,
    packet_count
FROM meta
"""


def q_flow_scan_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packet path with the virtual-time expiry scan enabled (T6,
    scan_mode='exact'): close timestamps come from the reproduced scan
    timeline (flow_table.rs:207-245), visible through the trailing-idle
    statistic and last-session causes."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.operators.sessionize import sessionize_packets

    cfg = EngineConfig(
        active_timeout=BIG_ACTIVE_S,
        idle_timeout=IDLE_S,
        scan_mode="exact",
        expiration_check_interval=7200,
    )
    flows = sessionize_packets(
        _packet_table(spark, sf_dir, tcp=False), cfg
    )
    return flows.select(
        "flow_key",
        "first_ts_us",
        "last_ts_us",
        "duration_us",
        "cause",
        (F.col("fwd_packet_len_count") + F.col("bwd_packet_len_count"))
        .cast("long")
        .alias("packet_count"),
        F.col("idle_count").cast("long").alias("idle_count"),
        "idle_total",
        "idle_max",
    )


_SCAN_INTERVAL_US = 7200 * 1_000_000

_Q_SCAN_SQL = f"""
WITH RECURSIVE pk AS ({_pk_sql(tcp=False)}),
scans AS (
    SELECT (SELECT min(ts_us) FROM pk) AS st
    UNION ALL
    SELECT (SELECT min(ts_us) FROM pk WHERE ts_us >= s.st + {_SCAN_INTERVAL_US})
    FROM scans s
    WHERE (SELECT min(ts_us) FROM pk
           WHERE ts_us >= s.st + {_SCAN_INTERVAL_US}) IS NOT NULL
), flagged AS (
    SELECT *,
           CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                WHEN ts_us - lag(ts_us) OVER w >= {_IDLE_CUT_US} THEN 1
                ELSE 0 END AS new_session,
           ts_us - lag(ts_us) OVER w AS gap_us
    FROM pk WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
), sess AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_seq
                                  ROWS UNBOUNDED PRECEDING) AS sid,
           CASE WHEN new_session = 1 THEN NULL ELSE gap_us END AS ig
    FROM flagged
), rows2 AS (
    SELECT *,
           first_value(is_c2s) OVER (PARTITION BY user_id, sid
                                     ORDER BY ts_us, event_seq
                                     ROWS UNBOUNDED PRECEDING) AS first_c2s
    FROM sess
), agg AS (
    SELECT user_id, sid,
           max(cip) AS cip,
           max(CASE WHEN first_c2s THEN 1 ELSE 0 END) AS fc2s,
           min(ts_us) AS first_ts_us,
           max(ts_us) AS last_ts_us,
           max(ts_us) - min(ts_us) AS duration_us,
           CAST(count(*) AS BIGINT) AS packet_count,
           CAST(count(*) FILTER (WHERE ig > 5000000) AS BIGINT) AS big_cnt,
           coalesce(sum(ig) FILTER (WHERE ig > 5000000), 0) AS big_sum,
           coalesce(max(ig) FILTER (WHERE ig > 5000000), 0) AS big_max
    FROM rows2 GROUP BY user_id, sid
), meta AS (
    SELECT a.*,
           lead(a.first_ts_us) OVER (PARTITION BY a.user_id ORDER BY a.sid)
               AS next_first,
           (SELECT min(st) FROM scans
            WHERE st >= a.last_ts_us + {_IDLE_CUT_US}) AS scan_close
    FROM agg a
), closed AS (
    SELECT *,
           CASE WHEN scan_close IS NOT NULL AND next_first IS NOT NULL
                THEN least(scan_close, next_first)
                ELSE coalesce(scan_close, next_first) END AS close_ts
    FROM meta
)
SELECT
    {_flow_key_sql(17)} AS flow_key,
    first_ts_us, last_ts_us, duration_us,
    CASE WHEN close_ts IS NULL THEN 'Exporter Shutdown'
         ELSE 'Idle Timeout' END AS cause,
    packet_count,
    CAST(big_cnt + CASE WHEN close_ts IS NULL THEN 0 ELSE 1 END AS BIGINT)
        AS idle_count,
    CAST(big_sum + coalesce(close_ts - last_ts_us, 0) AS DOUBLE) / 1000.0
        AS idle_total,
    CAST(greatest(big_max, coalesce(close_ts - last_ts_us, 0)) AS DOUBLE) / 1000.0
        AS idle_max
FROM closed
"""


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from documents: payload = the text
    bytes (opaque to the engine), kind and metadata from doc_id arithmetic
    — identical construction in the DuckDB oracle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.selectExpr(
        "doc_id AS media_id",
        "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind",
        "CAST(text AS BINARY) AS payload",
        "named_struct("
        "  'width', CAST(CASE WHEN doc_id % 3 <> 1 THEN 8 + doc_id % 56 END AS INT),"
        "  'height', CAST(CASE WHEN doc_id % 3 <> 1 THEN 8 + doc_id % 40 END AS INT),"
        "  'channels', CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 3 END AS INT),"
        "  'sample_rate', CAST(CASE WHEN doc_id % 3 = 1 THEN 16000 END AS INT),"
        "  'n_frames', CAST(CASE WHEN doc_id % 3 = 2 THEN 4 + doc_id % 28 END AS INT),"
        "  'format', 'raw') AS meta",
    )


def q_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (5-shingle) Jaccard verification on deterministic
    candidate pairs (adjacent doc_ids) — the verify stage of the near-dup
    pipeline, pure Catalyst higher-order functions."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.dedup import ngram_jaccard_verify

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = docs.selectExpr("doc_id AS id_a", "doc_id + 1 AS id_b").join(
        docs.selectExpr("doc_id AS id_b"), "id_b"
    )
    out = ngram_jaccard_verify(docs, pairs, "doc_id", "text", threshold=0.0)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


_Q_JACCARD_SQL = """
WITH sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(length(text) - 4, 1) + 1),
               i -> substring(text, CAST(i AS INT), 5))) AS s
    FROM documents
)
SELECT a.doc_id AS id_a,
       b.doc_id AS id_b,
       len(list_intersect(a.s, b.s))
           / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
"""


def q_salted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew path (K3): salted two-phase partial/final aggregation
    (operators/skew.py Chan merge) over an exact-integer domain (value in
    cents), so the salted result is bitwise equal to the single-phase
    aggregate regardless of salt fan-out."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.skew import salted_welford_agg

    ev = _events(spark, sf_dir).withColumn(
        "cents", F.round(F.col("value") * 100).cast("double")
    )
    out = salted_welford_agg(ev, ["user_id"], "cents", salt_buckets=8)
    return out.select(
        "user_id",
        F.col("count").cast("long").alias("n_events"),
        (F.col("total") / 100.0).alias("value_total"),
        (F.col("mean") / 100.0).alias("value_mean"),
        (F.col("min") / 100.0).alias("value_min"),
        (F.col("max") / 100.0).alias("value_max"),
    )


_Q_SALTED_SQL = """
SELECT user_id,
       count(value) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
           AS value_total,
       (CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / count(value))
           / 100.0 AS value_mean,
       min(round(value * 100)) / 100.0 AS value_min,
       max(round(value * 100)) / 100.0 AS value_max
FROM events
GROUP BY user_id
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plumbing (pure Catalyst sequence+explode:
    the sharding pattern for distributed video decode)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.multimodal import sample_video_frames

    frames = sample_video_frames(_media_table(spark, sf_dir), every_n=2)
    return frames.select(
        F.col("media_id").cast("long").alias("media_id"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("meta.n_frames").cast("long").alias("n_frames"),
    )


_Q_MM_FRAMES_SQL = """
WITH media AS (
    SELECT doc_id AS media_id,
           4 + doc_id % 28 AS n_frames
    FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id,
       unnest(range(0, greatest(n_frames - 1, 0) + 1, 2)) AS frame_idx,
       n_frames
FROM media
"""


def _mm_features_sql() -> str:
    """DuckDB replay of deterministic_fake_decoder + the f0 pooling slice:
    seed = (poly-131 hash of the first 8 payload bytes + strlen * Knuth)
    mod 2^31-1; element i (1-based) = ((seed*i + 12345) % (2^31-1)) % 1024
    / 1024; f0 = avg over the stride-16 slice, cast to FLOAT exactly as
    the float32 feature array does."""
    from rustiflow_spark.operators.multimodal import (
        _FAKE_B, _FAKE_C, _FAKE_L, _FAKE_M, _FAKE_Q,
    )

    powers = [(_FAKE_B ** (7 - j)) for j in range(8)]
    byte_terms = " + ".join(
        f"COALESCE(ascii(substr(text, {j + 1}, 1)), 0) * CAST({powers[j]} AS BIGINT)"
        for j in range(8)
    )
    return f"""
WITH media AS (
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CASE doc_id % 3
                WHEN 0 THEN least(8 + doc_id % 40, 32)
                            * least(8 + doc_id % 56, 32) * 3
                WHEN 1 THEN 1024
                ELSE 768 END AS tsize,
           (({byte_terms}) + strlen(text) * {_FAKE_L}) % {_FAKE_M} AS seed
    FROM documents
), expanded AS (
    SELECT media_id, kind, seed,
           unnest(generate_series(0, tsize // 16 - 1)) AS t
    FROM media
), pooled AS (
    SELECT media_id, kind,
           avg(CAST((seed * (16 * t + 1) + {_FAKE_C}) % {_FAKE_M} % {_FAKE_Q}
                    AS DOUBLE) / {_FAKE_Q}.0) AS m
    FROM expanded GROUP BY media_id, kind
)
SELECT CAST(media_id AS BIGINT) AS media_id,
       kind,
       TRUE AS decode_ok,
       CAST(16 AS BIGINT) AS feature_dim,
       round(CAST(CAST(m AS FLOAT) AS DOUBLE), 6) AS f0
FROM pooled
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode->feature plumbing over the deterministic fake
    decoder (media libs absent in this container; the Spark-side
    schema/batching/UDF surface is the real production path). The fake
    decoder is an LCG over a payload byte-hash with 1/1024-quantized
    values (multimodal.py:deterministic_fake_decoder), so the full
    decode->pool chain is replayed exactly by the DuckDB oracle — the
    stub stays honest AND verifiable (round-3 verdict item 4)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.multimodal import extract_media_features

    feats = extract_media_features(_media_table(spark, sf_dir))
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        "kind",
        "decode_ok",
        F.size("feature").cast("long").alias("feature_dim"),
        F.round(F.element_at("feature", 1), 6).alias("f0"),
    )


# --------------------------------------------------------------------------
# Contract surface
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sessionized feature extraction on sf0.001."""
    return q_session_features(spark, "/root/testdata/sf0.001")


def q_ffill_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming forward-fill (streaming/enrich_stream.py ffill_stream):
    O(1) state per key — only the last non-null value crosses micro-batch
    boundaries, never raw rows. Same deterministic null pattern as the
    batch backfill query, run under the 3-file event-time-ordered
    availableNow replay; SHARES the batch oracle, so the hash match
    proves batch/stream parity exactly."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.streaming.enrich_stream import ffill_stream

    ev = _events(spark, sf_dir).selectExpr(
        "user_id",
        "ts_us",
        "event_seq",
        "case when event_seq % 5 = 0 then cast(null as double) else value end as v",
    )
    src, out, ckpt = _replay_three_files(ev, "ffillstream", sf_dir)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    filled = ffill_stream(
        stream, ["user_id"], "ts_us", "v", order_col="event_seq"
    )
    _run_available_now(filled, out, ckpt)
    got = spark.read.parquet(out)
    return got.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_seq").cast("long").alias("event_seq"),
        F.col("ts_us").cast("long").alias("ts_us"),
        F.round("v", 6).alias("v"),
        F.round("v_ffill", 6).alias("v_ffill"),
    )


def q_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids (operators/similarity.py
    centroid_table): per-(label, position) INTEGER sums of the quantized
    vectors — the mergeable profile-embedding/class-prototype table
    (shards merge by groupBy-sum, order-independent, bit-replayable).
    Contract output reduces the table to per-label integer invariants
    (dim, position-weighted checksum, quadratic norm)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.similarity import centroid_table

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    t = centroid_table(emb, "label", "embedding", scale=1024)
    return t.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.count("*").cast("long").alias("dim"),
        F.sum(F.expr("pos * s")).cast("long").alias("checksum"),
        F.sum(F.expr("s * s")).cast("long").alias("norm2q"),
    )


_Q_CENTROIDS_SQL = """
WITH e AS (
    SELECT label,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q
    FROM embeddings
), x AS (
    SELECT label, unnest(q) AS v,
           unnest(generate_series(1, len(q))) AS pos
    FROM e
), s AS (
    SELECT label, pos, sum(v) AS s, count(*) AS n
    FROM x GROUP BY label, pos
)
SELECT label,
       CAST(max(n) AS BIGINT) AS n_vecs,
       CAST(count(*) AS BIGINT) AS dim,
       CAST(sum(pos * s) AS BIGINT) AS checksum,
       CAST(sum(s * s) AS BIGINT) AS norm2q
FROM s GROUP BY label
"""


def q_shuffle_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training export (operators/
    sampling.py shuffle_export): every doc gets a (shard, pos) address
    that is a pure function of (doc_id, seed) — the reproducible
    orderBy(rand()) replacement. One Exchange on shard + per-shard
    sort."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.sampling import shuffle_export

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    out = shuffle_export(docs, "doc_id", n_shards=16, seed=43)
    return out.select("doc_id", "source", "shard", "pos")


def _shuffle_export_sql() -> str:
    from rustiflow_spark.operators.sampling import mix_sql

    m1 = mix_sql("doc_id", 43).replace("`", "")
    m2 = mix_sql("doc_id", 44).replace("`", "")
    return f"""
WITH t AS (
    SELECT doc_id, source,
           ({m1}) % 16 AS shard,
           ({m2}) AS ord
    FROM documents
)
SELECT doc_id, source, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
            AS INT) AS pos
FROM t
"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) corpus rebalancing (operators/sampling.py
    temperature_mix): strata with natural proportions 60/30/10% are kept
    at rates ∝ sqrt(count)/count scaled to a 50% target — small sources
    upweighted, the standard low-resource rebalancing rule. Rate math is
    sqrt-only (IEEE-exact cross-engine); membership is the scan-pushable
    Lehmer-mix predicate."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.sampling import temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id",
        "case when doc_id % 10 < 6 then 'web'"
        " when doc_id % 10 < 9 then 'books' else 'code' end as stratum",
    )
    kept = temperature_mix(
        docs, "stratum", "doc_id", alpha=0.5, target_fraction=0.5, seed=59
    )
    return kept.groupBy("stratum").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


def _temperature_mix_sql() -> str:
    from rustiflow_spark.operators.sampling import mix_sql

    m = mix_sql("doc_id", 59).replace("`", "")
    return f"""
WITH docs AS (
    SELECT doc_id,
           CASE WHEN doc_id % 10 < 6 THEN 'web'
                WHEN doc_id % 10 < 9 THEN 'books' ELSE 'code' END AS stratum
    FROM documents
), counts AS (
    SELECT stratum, count(*) AS n, sqrt(CAST(count(*) AS DOUBLE)) AS p
    FROM docs GROUP BY stratum
), tot AS (
    SELECT sum(p) AS sum_p, sum(n) AS total FROM counts
), rates AS (
    SELECT stratum,
           least(CAST(1.0 AS DOUBLE),
                 p / sum_p * CAST(0.5 AS DOUBLE)
                 * CAST(total AS DOUBLE) / CAST(n AS DOUBLE)) AS rate
    FROM counts, tot
)
SELECT d.stratum,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(d.doc_id) AS BIGINT) AS id_sum
FROM docs d JOIN rates r ON d.stratum = r.stratum
WHERE ({m}) < CAST(floor(r.rate * 2147483647.0) AS BIGINT)
GROUP BY d.stratum
"""


def q_tpch_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-analog pricing summary over lineitem: the canonical wide
    aggregation (map-side partial agg, one Exchange on the 4-value group
    key). Money columns quantized to integer cents so every sum is exact
    cross-engine; derived disc_price/charge carried as integer products
    and divided back at the end."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= F.lit("1999-09-02").cast("timestamp")).select(
        "l_returnflag",
        "l_linestatus",
        F.expr("cast(round(l_quantity * 100) as long)").alias("qty_c"),
        F.expr("cast(round(l_extendedprice * 100) as long)").alias("price_c"),
        F.expr("cast(round(l_discount * 100) as long)").alias("disc_pct"),
        F.expr("cast(round(l_tax * 100) as long)").alias("tax_pct"),
    )
    agg = q.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty_c").alias("sq"),
        F.sum("price_c").alias("sp"),
        F.sum(F.expr("price_c * (100 - disc_pct)")).alias("sdp"),
        F.sum(F.expr("price_c * (100 - disc_pct) * (100 + tax_pct)")).alias("sch"),
        F.sum("disc_pct").alias("sd"),
        F.count("*").alias("count_order"),
    )
    return agg.selectExpr(
        "l_returnflag",
        "l_linestatus",
        "cast(sq as double) / 100 as sum_qty",
        "cast(sp as double) / 100 as sum_base_price",
        "cast(sdp as double) / 10000 as sum_disc_price",
        "cast(sch as double) / 1000000 as sum_charge",
        "round(cast(sq as double) / 100 / count_order, 6) as avg_qty",
        "round(cast(sp as double) / 100 / count_order, 6) as avg_price",
        "round(cast(sd as double) / 100 / count_order, 6) as avg_disc",
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


_Q_TPCH_PRICING_SQL = """
WITH q AS (
    SELECT l_returnflag, l_linestatus,
           CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
           CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
           CAST(round(l_tax * 100) AS BIGINT) AS tax_pct
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-09-02'
), agg AS (
    SELECT l_returnflag, l_linestatus,
           sum(qty_c) AS sq, sum(price_c) AS sp,
           sum(price_c * (100 - disc_pct)) AS sdp,
           sum(price_c * (100 - disc_pct) * (100 + tax_pct)) AS sch,
           sum(disc_pct) AS sd,
           count(*) AS count_order
    FROM q GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       CAST(sq AS DOUBLE) / 100 AS sum_qty,
       CAST(sp AS DOUBLE) / 100 AS sum_base_price,
       CAST(sdp AS DOUBLE) / 10000 AS sum_disc_price,
       CAST(sch AS DOUBLE) / 1000000 AS sum_charge,
       round(CAST(sq AS DOUBLE) / 100 / count_order, 6) AS avg_qty,
       round(CAST(sp AS DOUBLE) / 100 / count_order, 6) AS avg_price,
       round(CAST(sd AS DOUBLE) / 100 / count_order, 6) AS avg_disc,
       count_order
FROM agg
"""


def q_tpch_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-analog shipping priority: 3-table join with the small
    filtered customer dim broadcast, revenue aggregated as exact integer
    products, deterministic top-10 via TakeOrderedAndProject (revenue
    DESC, orderkey ASC tiebreak)."""
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .where("c_mktsegment = 'BUILDING'")
        .select("c_custkey")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    j = li.join(
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]),
        li["l_orderkey"] == orders["o_orderkey"],
    )
    agg = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(
            F.expr(
                "cast(round(l_extendedprice * 100) as long)"
                " * (100 - cast(round(l_discount * 100) as long))"
            )
        ).alias("rev_i")
    )
    return (
        agg.selectExpr(
            "l_orderkey",
            "cast(rev_i as double) / 10000 as revenue",
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            " o_orderdate) as o_orderdate_us",
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q_TPCH_SHIPPING_SQL = """
SELECT l.l_orderkey,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
            AS DOUBLE) / 10000 AS revenue,
       epoch_us(o.o_orderdate) AS o_orderdate_us,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
"""


def q_pit_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time enrichment (streaming/enrich_stream.py):
    batch-built SCD2 dimension (user_id regime of event_type) stream-
    static range-joined onto the event stream — each event gets the
    dimension version valid AT its timestamp, leakage-free, stateless
    (versions tile the timeline, so output is micro-batch-invariant
    under the 3-file availableNow replay). Oracle: the same SCD2 build +
    range join in SQL."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.cdc import scd2_history
    from rustiflow_spark.streaming.enrich_stream import pit_enrich_stream

    ev = _events(spark, sf_dir).select("user_id", "ts_us", "event_seq", "event_type")
    flush = _events_flush_us(sf_dir)
    if flush is None:
        flush = ev.agg(F.max("ts_us")).collect()[0][0]
    dim = scd2_history(
        ev, ["user_id"], "ts_us", ["event_type"], order_col="event_seq",
        end_of_time=flush + 1,
    ).select("user_id", "valid_from", "valid_to", F.col("event_type").alias("regime"))

    src, out, ckpt = _replay_three_files(
        ev.select("ts_us", "user_id", "event_seq"), "pitstream", sf_dir
    )
    stream = (
        spark.readStream.schema(
            ev.select("ts_us", "user_id", "event_seq").schema
        ).option("maxFilesPerTrigger", 1).parquet(src)
    )
    enriched = pit_enrich_stream(stream, dim, ["user_id"], "ts_us").select(
        "user_id", "event_seq", "ts_us",
        F.col("regime_dim").alias("regime"),
        F.col("valid_from_dim").alias("regime_since"),
    )
    _run_available_now(enriched, out, ckpt)
    got = spark.read.parquet(out)
    return got.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_seq").cast("long").alias("event_seq"),
        F.col("ts_us").cast("long").alias("ts_us"),
        "regime",
        F.col("regime_since").cast("long").alias("regime_since"),
    )


def _pit_stream_sql() -> str:
    return """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id AS event_seq, event_type
    FROM events
), marked AS (
    SELECT *,
           lag(ts_us) OVER w IS NULL
               OR event_type IS DISTINCT FROM lag(event_type) OVER w AS keep
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
), kept AS (
    SELECT user_id, ts_us, event_seq, event_type FROM marked WHERE keep
), scd AS (
    SELECT user_id,
           ts_us AS valid_from,
           coalesce(lead(ts_us) OVER w2,
                    (SELECT max(ts_us) FROM ev) + 1) AS valid_to,
           event_type AS regime
    FROM kept
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
)
SELECT e.user_id, e.event_seq, e.ts_us, d.regime,
       d.valid_from AS regime_since
FROM ev e JOIN scd d
  ON e.user_id = d.user_id
 AND e.ts_us >= d.valid_from AND e.ts_us < d.valid_to
"""


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE INTO analog (operators/cdc.py): apply a keyed
    changeset (two competing updates per touched key, tombstones,
    inserts) to the events snapshot — last-writer-wins by seq, deletes
    drop, inserts append. Snapshot side pays only a hash anti-join (no
    sort); only the delta is windowed."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.cdc import merge_upsert

    snap = _events(spark, sf_dir).selectExpr(
        "event_seq as event_id", "user_id", "ts_us", "value"
    )
    chg = snap.where("event_id % 3 = 0").selectExpr(
        "event_id",
        "user_id",
        "ts_us",
        "value + 1000 as value",
        "1 as seq",
        "event_id % 9 = 0 as is_delete",
    )
    chg2 = snap.where("event_id % 6 = 0").selectExpr(
        "event_id",
        "user_id",
        "ts_us",
        "value + 2000 as value",
        "2 as seq",
        "event_id % 9 = 0 as is_delete",
    )
    ins = snap.where("event_id % 7 = 0").selectExpr(
        "event_id + 10000000 as event_id",
        "user_id",
        "ts_us",
        "value",
        "1 as seq",
        "false as is_delete",
    )
    changes = chg.unionByName(chg2).unionByName(ins)
    out = merge_upsert(snap, changes, ["event_id"], "seq", delete_col="is_delete")
    return out.selectExpr("event_id", "user_id", "ts_us", "round(value, 6) as value")


_Q_MERGE_UPSERT_SQL = """
WITH snap AS (
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
), chg AS (
    SELECT event_id, user_id, ts_us, value + 1000 AS value, 1 AS seq,
           (event_id % 9 = 0) AS is_delete
    FROM snap WHERE event_id % 3 = 0
    UNION ALL
    SELECT event_id, user_id, ts_us, value + 2000, 2, (event_id % 9 = 0)
    FROM snap WHERE event_id % 6 = 0
    UNION ALL
    SELECT event_id + 10000000, user_id, ts_us, value, 1, FALSE
    FROM snap WHERE event_id % 7 = 0
), latest AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY seq DESC)
            AS rn
        FROM chg
    ) WHERE rn = 1
)
SELECT s.event_id, s.user_id, s.ts_us, round(s.value, 6) AS value
FROM snap s ANTI JOIN latest l ON s.event_id = l.event_id
UNION ALL
SELECT event_id, user_id, ts_us, round(value, 6) AS value
FROM latest WHERE NOT is_delete
"""


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history (operators/cdc.py): collapse each user's
    event_type change stream into effective-dated version rows
    (valid_from, valid_to, is_current) — the dimension side a backward
    as-of join consumes for point-in-time correctness. Consecutive
    no-op changes are collapsed."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.cdc import scd2_history

    ev = _events(spark, sf_dir).select("user_id", "ts_us", "event_seq", "event_type")
    out = scd2_history(
        ev, ["user_id"], "ts_us", ["event_type"], order_col="event_seq"
    )
    return out.selectExpr(
        "user_id",
        "valid_from",
        "valid_to",
        "cast(is_current as int) as is_current",
        "event_type",
    )


_Q_SCD2_SQL = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id AS event_seq, event_type
    FROM events
), marked AS (
    SELECT *,
           lag(ts_us) OVER w IS NULL
               OR event_type IS DISTINCT FROM lag(event_type) OVER w AS keep
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
), kept AS (
    SELECT user_id, ts_us, event_seq, event_type FROM marked WHERE keep
)
SELECT user_id,
       ts_us AS valid_from,
       lead(ts_us) OVER w2 AS valid_to,
       CAST(lead(ts_us) OVER w2 IS NULL AS INT) AS is_current,
       event_type
FROM kept
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_seq)
"""


def q_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase sketch mergeability proof (the 100-TB incremental story:
    per-shard sketch tables merge WITHOUT rescanning raw data). Builds
    HLL registers and HDR histograms on two disjoint halves of the events
    table, merges each (groupBy-max / groupBy-sum), estimates — and the
    oracle computes the same sketches directly on the whole table, so the
    hash match proves merge == direct bit-for-bit."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.sketches import (
        hdr_histogram,
        hdr_merge,
        hdr_quantiles,
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    h0 = events.where("event_id % 2 = 0")
    h1 = events.where("event_id % 2 = 1")

    regs = hll_merge(
        hll_registers(h0, "user_id", ["event_type"], p=12, hash_fn="md5").unionByName(
            hll_registers(h1, "user_id", ["event_type"], p=12, hash_fn="md5")
        ),
        ["event_type"],
    )
    hll = hll_estimate(regs, ["event_type"], p=12).select(
        "event_type", F.round("hll_estimate", 4).alias("est_users")
    )

    hist = hdr_merge(
        hdr_histogram(h0, "value", ["event_type"], sub_bits=6).unionByName(
            hdr_histogram(h1, "value", ["event_type"], sub_bits=6)
        ),
        ["event_type"],
    )
    p90 = (
        hdr_quantiles(hist, ["event_type"], [0.9], sub_bits=6)
        .select("event_type", F.round("quantile", 6).alias("p90"))
    )
    return hll.join(p90, on="event_type")


def _sketch_merge_sql() -> str:
    # merge-of-halves == whole: the oracle is simply the direct whole-table
    # sketches (the same generated SQL the hll_distinct / hdr_quantiles
    # contracts replay), joined per event_type
    return f"""
WITH hll AS ({_hll_sql()}),
     hdr AS ({_hdr_sql()})
SELECT hll.event_type, hll.est_users, round(hdr.quantile, 6) AS p90
FROM hll JOIN hdr ON hll.event_type = hdr.event_type
WHERE hdr.p BETWEEN 0.85 AND 0.95
"""


# --------------------------------------------------------------------------
# Round-5 additions: leakage-free encoders + multi-table point-in-time join
# --------------------------------------------------------------------------


def q_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill features (north-rule operator; operators/windows.py
    forward_fill): gaps carry the most recent PAST non-null value per
    entity — leakage-free by construction (ROWS UNBOUNDED PRECEDING).
    Nulls are introduced deterministically (every 5th event) so the fill
    path is actually exercised."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.windows import forward_fill

    ev = _events(spark, sf_dir).selectExpr(
        "user_id",
        "ts_us",
        "event_seq",
        "case when event_seq % 5 = 0 then cast(null as double) else value end as v",
    )
    out = forward_fill(ev, ["user_id"], "ts_us", ["v"], order_col="event_seq")
    return out.selectExpr(
        "user_id",
        "event_seq",
        "ts_us",
        "round(v, 6) as v",
        "round(v_ffill, 6) as v_ffill",
    )


_Q_BACKFILL_SQL = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id AS event_seq,
           CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
    FROM events
)
SELECT user_id, event_seq, ts_us,
       round(v, 6) AS v,
       round(last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_seq
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_ffill
FROM ev
"""


def q_backfill_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-entity-safe backfill (operators/windows.py forward_fill_split):
    the distributed prefix scan applied to last-ignorenulls — in-chunk
    fill parallel across time chunks, carry-in from a prefix last over
    the tiny chunk-tail table. Bit-identical to the plain fill (shares
    the backfill oracle)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.windows import forward_fill_split

    ev = _events(spark, sf_dir).selectExpr(
        "user_id",
        "ts_us",
        "event_seq",
        "case when event_seq % 5 = 0 then cast(null as double) else value end as v",
    )
    out = forward_fill_split(
        ev, ["user_id"], "ts_us", ["v"], chunk_us=86_400_000_000,
        order_col="event_seq",
    )
    return out.selectExpr(
        "user_id",
        "event_seq",
        "ts_us",
        "round(v, 6) as v",
        "round(v_ffill, 6) as v_ffill",
    )


def q_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table point-in-time enrichment (operators/asof.py
    point_in_time_join): each event spine row gets its entity's most
    recent signup AND most recent purchase at or before it — the
    feature-store PIT join over K feature tables, leakage-free, one
    window pass per table."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.asof import point_in_time_join

    ev = _events(spark, sf_dir)
    spine = ev.selectExpr("user_id", "ts_us", "event_seq")
    sig = (
        ev.where("event_type = 'signup'")
        .groupBy("user_id", "ts_us")
        .agg(F.expr("round(max(value), 6) as sig_value"))
    )
    buy = (
        ev.where("event_type = 'purchase'")
        .groupBy("user_id", "ts_us")
        .agg(F.expr("round(max(value), 6) as buy_value"))
    )
    out = point_in_time_join(spine, [(sig, "_s"), (buy, "_b")], by="user_id")
    return out.selectExpr(
        "user_id",
        "event_seq",
        "ts_us",
        "ts_us_s as sig_ts_us",
        "round(sig_value_s, 6) as sig_value",
        "ts_us_b as buy_ts_us",
        "round(buy_value_b, 6) as buy_value",
        "cast(ts_us - ts_us_s as double) as us_since_signup",
        "cast(ts_us - ts_us_b as double) as us_since_purchase",
    )


_Q_PIT_SQL = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id AS event_seq, value,
           event_type
    FROM events
), sig AS (
    SELECT user_id, ts_us, round(max(value), 6) AS sig_value
    FROM ev WHERE event_type = 'signup' GROUP BY user_id, ts_us
), buy AS (
    SELECT user_id, ts_us, round(max(value), 6) AS buy_value
    FROM ev WHERE event_type = 'purchase' GROUP BY user_id, ts_us
), j1 AS (
    SELECT ev.user_id, ev.event_seq, ev.ts_us,
           sig.ts_us AS sig_ts_us, sig.sig_value
    FROM ev ASOF LEFT JOIN sig
      ON ev.user_id = sig.user_id AND ev.ts_us >= sig.ts_us
)
SELECT j1.user_id, j1.event_seq, j1.ts_us,
       j1.sig_ts_us,
       round(j1.sig_value, 6) AS sig_value,
       buy.ts_us AS buy_ts_us,
       round(buy.buy_value, 6) AS buy_value,
       CAST(j1.ts_us - j1.sig_ts_us AS DOUBLE) AS us_since_signup,
       CAST(j1.ts_us - buy.ts_us AS DOUBLE) AS us_since_purchase
FROM j1 ASOF LEFT JOIN buy
  ON j1.user_id = buy.user_id AND j1.ts_us >= buy.ts_us
"""


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Past-only expanding target encoding (operators/encoding.py): each
    event's category is encoded by the running mean of `value` over
    STRICTLY earlier events of that category — zero temporal leakage
    (ROWS UNBOUNDED PRECEDING .. 1 PRECEDING)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.encoding import target_encode_expanding

    # exact cross-engine accumulation: quantize the double target to
    # integer micro-units so the expanding sum is order-independent
    # (running accumulation vs DuckDB's segment tree differ in the 6th
    # decimal on raw doubles — CLAUDE.md oracle conventions)
    ev = _events(spark, sf_dir).selectExpr(
        "ts_us",
        "event_seq",
        "event_type",
        "cast(round(value * 1000000) as long) as v_int",
    )
    out = target_encode_expanding(
        ev, "event_type", "v_int", "ts_us", order_col="event_seq"
    )
    return out.selectExpr(
        "event_seq",
        "event_type",
        "ts_us",
        "event_type_te_n as te_n",
        "round(event_type_te / 1000000.0, 6) as te",
    )


_Q_TARGET_ENCODE_SQL = """
WITH ev AS (
    SELECT event_id AS event_seq, event_type, epoch_us(ts) AS ts_us,
           CAST(round(value * 1000000) AS BIGINT) AS v_int
    FROM events
)
SELECT event_seq, event_type, ts_us,
       CAST(count(v_int) OVER w AS BIGINT) AS te_n,
       round((sum(v_int) OVER w / count(v_int) OVER w) / 1000000.0, 6) AS te
FROM ev
WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_seq
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


def q_target_encode_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe expanding target encoder (operators/encoding.py
    target_encode_expanding_split): distributed prefix scan — in-chunk
    expanding window keyed (cat, time-chunk) + prefix of per-chunk totals
    over the tiny chunk table, broadcast back. Bit-identical to the plain
    encoder on the integer-quantized target, proven by sharing its exact
    DuckDB oracle (single-window semantics)."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.encoding import target_encode_expanding_split

    ev = _events(spark, sf_dir).selectExpr(
        "ts_us",
        "event_seq",
        "event_type",
        "cast(round(value * 1000000) as long) as v_int",
    )
    out = target_encode_expanding_split(
        ev, "event_type", "v_int", "ts_us", chunk_us=86_400_000_000,
        order_col="event_seq",
    )
    return out.selectExpr(
        "event_seq",
        "event_type",
        "ts_us",
        "event_type_te_n as te_n",
        "round(event_type_te / 1000000.0, 6) as te",
    )


def q_quantile_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth discretization via ntile per group (operators/
    encoding.py) — exact rank-based binning, reproducible across engines
    (unlike approx-quantile cutoffs); the training-serving-parity choice."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.encoding import quantile_bin

    ev = _events(spark, sf_dir).select("event_seq", "event_type", "value")
    out = quantile_bin(ev, "value", 8, by="event_type", order_col="event_seq")
    return out.selectExpr(
        "event_seq", "event_type", "round(value, 6) as value", "value_bin"
    )


_Q_QUANTILE_BIN_SQL = """
SELECT event_id AS event_seq, event_type, round(value, 6) AS value,
       ntile(8) OVER (PARTITION BY event_type ORDER BY value, event_id)
           AS value_bin
FROM events
"""


def q_quantile_bin_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact ntile (operators/encoding.py quantile_bin_split):
    value-range chunking + prefix scan lifts the #groups parallelism
    ceiling of plain ntile (5 categories = 5 tasks at any data size; the
    sf10 sweep measured 20 s where 4 s was available). Output identical
    to ntile — shares the plain quantile_bin oracle."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.encoding import quantile_bin_split

    ev = _events(spark, sf_dir).select("event_seq", "event_type", "value")
    out = quantile_bin_split(
        ev, "value", 8, by="event_type", order_col="event_seq", n_chunks=64
    )
    return out.selectExpr(
        "event_seq", "event_type", "round(value, 6) as value", "value_bin"
    )


def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization (operators/encoding.py): two-phase
    partial/final aggregate for the O(groups) stats table, broadcast back
    onto the fact rows — no second shuffle of the wide side."""
    _ensure_package_shipped(spark)
    from rustiflow_spark.operators.encoding import zscore_normalize

    ev = _events(spark, sf_dir).select("event_seq", "event_type", "value")
    out = zscore_normalize(ev, ["value"], by="event_type")
    return out.selectExpr(
        "event_seq",
        "event_type",
        "round(value, 6) as value",
        "round(value_z, 4) as value_z",
    )


_Q_ZSCORE_SQL = """
WITH stats AS (
    SELECT event_type, avg(value) AS m, stddev_pop(value) AS s
    FROM events GROUP BY event_type
)
SELECT e.event_id AS event_seq, e.event_type,
       round(e.value, 6) AS value,
       round((e.value - st.m) / CASE WHEN st.s <> 0 THEN st.s END, 4)
           AS value_z
FROM events e LEFT JOIN stats st USING (event_type)
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver records correctness rows for the first 50
    # entries only. 61 queries have never had a driver row; the window
    # holds the 50 of them with UNIQUE oracles (the 8 round-4 leftovers,
    # the SemDeDup/token-span/rewrite/repetition/DSIR/PQ/hybrid/drift/
    # expectations family, the Basic/CIDDS/NF schema queries, and the
    # retrieval/encoder/PIT/CDC/stream/export families). The 11 that ride
    # tools/strict_contract.py only: 6 shared-oracle twins whose expected
    # hash IS driver-verified via an in-window sibling (ffill_stream +
    # the *_split prefix-scan family + dsir_stream, which shares
    # dsir_weights' oracle AND hash — the stateless stream equals the
    # batch scorer bit-for-bit), plus dedup_stream / redact_pii /
    # tokenize / bpe_roundtrip / negative_samples. Everything from flow_rustiflow203 onward is r02-r04
    # driver-green, pytest-covered, and re-verified in full every session
    # by strict_contract (every query DuckDB-oracled, zero rows-only).
    return {
        # -- never driver-run before round 5 --
        "session_features_catalyst": q_session_features_catalyst,
        "corpus_clean": q_corpus_clean,
        "token_pipeline": q_token_pipeline,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_features": q_multimodal_features,
        "neardup_jaccard": q_neardup_jaccard,
        "salted_stats": q_salted_stats,
        # -- new: SemDeDup + token-span dedup + Gopher repetition + DSIR --
        "semantic_dedup": q_semantic_dedup,
        "dup_token_spans": q_dup_token_spans,
        "dedup_spans_rewrite": q_dedup_spans_rewrite,
        "repetition_stats": q_repetition_stats,
        "dsir_weights": q_dsir,
        "pq_adc": q_pq_adc,
        "hybrid_search": q_hybrid_search,
        "histogram_drift": q_histogram_drift,
        "drift_stream": q_drift_stream,
        "expectations": q_expectations,
        # -- new this round: the three previously value-unverified layouts --
        "flow_basic": q_flow_basic,
        "flow_cidds": q_flow_cidds,
        "flow_nf": q_flow_nf,
        "tfidf_search": q_tfidf_search,
        "bm25_search": q_bm25_search,
        "table_profile": q_table_profile,
        "hash_cross_features": q_hash_cross,
        "quota_sample": q_quota_sample,
        "time_split": q_time_split,
        "random_projection": q_random_projection,
        "token_minhash": q_token_minhash,
        "profile_stream": q_profile_stream,
        "robust_scale": q_robust_scale,
        "bpe_merges": q_bpe_merges,
        "bpe_encode": q_bpe_encode,
        "pack_chunks": q_pack_chunks,
        "chunk_tokens": q_chunk_tokens,
        "decontam": q_decontam,
        # -- new: leakage-free encoders + PIT enrichment --
        "backfill": q_backfill,
        "point_in_time": q_point_in_time,
        "target_encode": q_target_encode,
        "quantile_bin": q_quantile_bin,
        "zscore": q_zscore,
        "sketch_merge": q_sketch_merge,
        "merge_upsert": q_merge_upsert,
        "scd2": q_scd2,
        "pit_stream": q_pit_stream,
        "tpch_pricing": q_tpch_pricing,
        "tpch_shipping": q_tpch_shipping,
        "shuffle_export": q_shuffle_export,
        "temperature_mix": q_temperature_mix,
        "centroids": q_centroids,
        "quality_stream": q_quality_stream,
        "dedup_stream": q_dedup_stream,
        "redact_pii": q_redact_pii,
        "tokenize": q_tokenize,
        # -- pushed past the ~50-entry driver window this round (all
        #    driver-green in r02-r04 and strict-verified every session;
        #    session_features' oracle hash is still in-window via its
        #    catalyst/split twins, which share the same expected output) --
        "flow_rustiflow203": q_flow_rustiflow203,
        "flow_cic_udp": q_flow_cic_udp,
        "flow_tcp_rst": q_flow_tcp_rst,
        "flow_tcp_fin": q_flow_tcp_fin,
        "flow_od_modules": q_flow_od_modules,
        "flow_scan_close": q_flow_scan_close,
        "session_features": q_session_features,
        "similarity_topk": q_similarity_topk,
        "asof_join": q_asof_join,
        "dsir_stream": q_dsir_stream,
        "negative_samples": q_negative_samples,
        "bpe_roundtrip": q_bpe_roundtrip,
        "ffill_stream": q_ffill_stream,
        "backfill_split": q_backfill_split,
        "target_encode_split": q_target_encode_split,
        "quantile_bin_split": q_quantile_bin_split,
        "session_annotation": q_session_annotation,
        "lag_features": q_lag_features,
        "flow_cic_derived": q_flow_cic_derived,
        "flow_icmp": q_flow_icmp,
        "flow_custom_schema": q_flow_custom_schema,
        "flow_early_export": q_flow_early_export,
        "flow_active_timeout": q_flow_active_timeout,
        "token_pipeline_catalyst": q_token_pipeline_catalyst,
        "corpus_mix": q_corpus_mix,
        "minhash_dedup": q_minhash_dedup,
        "simhash": q_simhash,
        "pcap_roundtrip": q_pcap_roundtrip,
        "flow_stream": q_flow_stream,
        "session_stream": q_session_stream,
        "rollup_stream": q_rollup_stream,
        "hll_stream": q_hll_stream,
        "cms_stream": q_cms_stream,
        "hdr_stream": q_hdr_stream,
        "embedding_neardup": q_embedding_neardup,
        "ann_topk": q_ann_topk,
        "ann_ivf": q_ann_ivf,
        "doc_fingerprint": q_doc_fingerprint,
        "range_join": q_range_join,
        "time_rollup": q_time_rollup,
        "hll_distinct": q_hll_distinct,
        "hdr_quantiles": q_hdr_quantiles,
        "cms_counts": q_cms_counts,
        "zorder_key": q_zorder_key,
        # -- deep tail: driver-green in rounds 2-4, pytest-covered;
        #    re-verified every round by tools/strict_contract.py --
        "welford_stats": q_welford_stats,
        "iat_window": q_iat_window,
        "flag_counts": q_flag_counts,
        "dedup_exact": q_dedup_exact,
        "text_stats": q_text_stats,
        "langid": q_langid,
        "grouping_sets": q_grouping_sets,
        "json_extract": q_json_extract,
        "set_ops": q_set_ops,
        "topk_per_group": q_topk_per_group,
        "vocab_topk": q_vocab_topk,
        "session_annotation_catalyst": q_session_annotation_catalyst,
        "rolling_features": q_rolling_features,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "session_features": _Q_SESSION_SQL,
        "welford_stats": _Q_WELFORD_SQL,
        "iat_window": _Q_IAT_SQL,
        "flag_counts": _Q_FLAGS_SQL,
        "session_annotation": _Q_ANNOTATION_SQL,
        # identical expected output: the zero-Python annotation plan must
        # match the kernel bit-for-bit
        "session_annotation_catalyst": _Q_ANNOTATION_SQL,
        "dedup_exact": _Q_DEDUP_SQL,
        "text_stats": _Q_TEXT_SQL,
        "redact_pii": _redact_sql(),
        "tokenize": _TOKENIZE_SQL,
        "similarity_topk": _Q_SIM_SQL,
        "asof_join": _Q_ASOF_SQL,
        "backfill": _Q_BACKFILL_SQL,
        "backfill_split": _Q_BACKFILL_SQL,
        "point_in_time": _Q_PIT_SQL,
        "target_encode": _Q_TARGET_ENCODE_SQL,
        "target_encode_split": _Q_TARGET_ENCODE_SQL,
        "quantile_bin": _Q_QUANTILE_BIN_SQL,
        "quantile_bin_split": _Q_QUANTILE_BIN_SQL,
        "zscore": _Q_ZSCORE_SQL,
        "sketch_merge": _sketch_merge_sql(),
        "merge_upsert": _Q_MERGE_UPSERT_SQL,
        "scd2": _Q_SCD2_SQL,
        "pit_stream": _pit_stream_sql(),
        "tpch_pricing": _Q_TPCH_PRICING_SQL,
        "tpch_shipping": _Q_TPCH_SHIPPING_SQL,
        "shuffle_export": _shuffle_export_sql(),
        "temperature_mix": _temperature_mix_sql(),
        "centroids": _Q_CENTROIDS_SQL,
        "ffill_stream": _Q_BACKFILL_SQL,
        "lag_features": _Q_LAG_SQL,
        "rolling_features": _Q_ROLLING_SQL,
        "flow_cic_udp": _Q_CIC_UDP_SQL,
        "flow_cic_derived": _Q_CIC_DERIVED_SQL,
        "flow_icmp": _Q_ICMP_SQL,
        "flow_custom_schema": _Q_CUSTOM_SQL,
        "flow_tcp_rst": _Q_TCP_RST_SQL,
        "flow_tcp_fin": _Q_TCP_FIN_SQL,
        "flow_od_modules": _Q_OD_SQL,
        "flow_early_export": _Q_EARLY_SQL,
        "multimodal_frames": _Q_MM_FRAMES_SQL,
        "multimodal_features": _mm_features_sql(),
        "neardup_jaccard": _Q_JACCARD_SQL,
        "salted_stats": _Q_SALTED_SQL,
        # identical expected output to session_features: the pure-Catalyst
        # (zero-Python) fast path must match the kernel bit-for-bit
        "session_features_catalyst": _Q_SESSION_SQL,
        "flow_active_timeout": _Q_ACTIVE_SQL,
        "flow_scan_close": _Q_SCAN_SQL,
        "token_pipeline": _Q_TOKEN_SQL,
        # identical expected output: the finite-active Catalyst plan must
        # match the kernel's recursion bit-for-bit
        "token_pipeline_catalyst": _Q_TOKEN_SQL,
        "corpus_mix": _corpus_mix_sql(),
        "langid": _langid_sql(),
        "minhash_dedup": _minhash_sql(),
        "simhash": _simhash_sql(),
        "pcap_roundtrip": _pcap_roundtrip_sql(),
        "flow_stream": _Q_STREAM_SQL,
        "session_stream": _Q_SESSION_STREAM_SQL,
        "rollup_stream": _ROLLUP_STREAM_SQL,
        "hll_stream": _hll_stream_sql(),
        "cms_stream": _cms_stream_sql(),
        "hdr_stream": _hdr_stream_sql(),
        "quality_stream": _quality_stream_sql(),
        "dedup_stream": _DEDUP_STREAM_SQL,
        "flow_rustiflow203": _rustiflow203_sql(),
        "embedding_neardup": _embedding_neardup_sql(),
        "ann_topk": _ann_topk_sql(),
        "ann_ivf": _ann_ivf_sql(),
        "doc_fingerprint": _doc_fingerprint_sql(),
        "range_join": _RANGE_JOIN_SQL,
        "time_rollup": _TIME_ROLLUP_SQL,
        "hll_distinct": _hll_sql(),
        "hdr_quantiles": _hdr_sql(),
        "cms_counts": _cms_sql(),
        "grouping_sets": _GROUPING_SETS_SQL,
        "json_extract": _JSON_EXTRACT_SQL,
        "set_ops": _SET_OPS_SQL,
        "topk_per_group": _TOPK_SQL,
        "zorder_key": _zorder_sql(),
        "vocab_topk": _VOCAB_SQL,
        "corpus_clean": _corpus_clean_sql(),
        "flow_basic": _basic_sql(),
        "flow_cidds": _Q_CIDDS_SQL,
        "flow_nf": _nf_sql(),
        "tfidf_search": _retrieval_sql("tfidf_scaled"),
        "bm25_search": _retrieval_sql("bm25_scaled"),
        "table_profile": _PROFILE_SQL,
        "hash_cross_features": _HASH_CROSS_SQL,
        "quota_sample": _quota_sql(),
        "time_split": _TIME_SPLIT_SQL,
        "random_projection": _random_projection_sql(),
        "token_minhash": _token_minhash_sql(),
        "profile_stream": _PROFILE_STREAM_SQL,
        "robust_scale": _ROBUST_SCALE_SQL,
        "bpe_merges": _bpe_sql(),
        "bpe_encode": _bpe_encode_sql(),
        "dsir_stream": _dsir_sql(),
        "negative_samples": _negative_samples_sql(),
        "pack_chunks": _Q_PACK_SQL,
        "chunk_tokens": _Q_CHUNK_SQL,
        "decontam": _Q_DECONTAM_SQL,
        "semantic_dedup": _semantic_dedup_sql(),
        "dup_token_spans": _dup_token_spans_sql(),
        "dedup_spans_rewrite": _dedup_spans_rewrite_sql(),
        "repetition_stats": _REPETITION_SQL,
        "dsir_weights": _dsir_sql(),
        "pq_adc": _pq_sql(),
        "hybrid_search": _hybrid_sql(),
        "histogram_drift": _DRIFT_SQL,
        "drift_stream": _DRIFT_STREAM_SQL,
        "expectations": _EXPECT_SQL,
        "bpe_roundtrip": _bpe_roundtrip_sql(),
    }
