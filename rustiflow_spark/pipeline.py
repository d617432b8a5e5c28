"""The end-to-end north-rule pipeline: token-sequence table -> sessionized
feature vectors -> leakage-free temporal enrichment -> checkpointed sink.

This is the composition a production training-data job runs
(BASELINE.json north_star):

    tokens (doc_id, tokens, n_tok, source, ts_us, direction, terminator)
      -> sessionize by (source, doc_id)             [one shuffle + kernel]
      -> per-session feature vector
      -> lag features over session history          [window exprs]
      -> as-of enrich vs a reference table          [union-window join]
      -> bucketed checkpointed write with lineage manifests
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rustiflow_spark.config import EngineConfig
from rustiflow_spark.operators.asof import asof_join
from rustiflow_spark.operators.event_features import sessionize_events
from rustiflow_spark.operators.windows import add_lag_lead_features


def token_feature_pipeline(
    tokens: DataFrame,
    cfg: EngineConfig | None = None,
    reference: DataFrame | None = None,
    features: list[str] | None = None,
    lags: list[int] = (1, 2),
    flush_ts: int | None = None,
    strategy: str = "kernel",
) -> DataFrame:
    """Session feature vectors with lag + optional as-of enrichment.

    reference: optional (source, doc_id, ts_us, <payload...>) table to
    as-of join against each session's first timestamp (backward,
    leakage-free).

    flush_ts: as in sessionize_events — optional, no output depends on it.
    """
    cfg = cfg or EngineConfig()
    key = ["source", "doc_id"]
    sessions = sessionize_events(
        tokens, key, cfg, features=features, flush_ts=flush_ts,
        strategy=strategy,
    )
    enriched = add_lag_lead_features(
        sessions,
        key,
        "first_ts_us",
        ["n_tok_total", "event_count", "duration_us"],
        lags=list(lags),
        order_col="session_index",
    )
    if reference is not None:
        enriched = asof_join(
            enriched, reference, by=key, left_ts="first_ts_us", right_ts="ts_us",
            suffix="_ref",
        )
    return enriched


def run_checkpointed(
    tokens: DataFrame,
    out_path: str,
    cfg: EngineConfig | None = None,
    n_buckets: int = 16,
    input_fingerprint: str | None = None,
    **kwargs,
) -> dict:
    """Resumable pipeline run: hash-bucketed over (source, doc_id) with
    per-bucket lineage manifests (checkpoint.py)."""
    from rustiflow_spark.checkpoint import run_with_checkpoints

    return run_with_checkpoints(
        tokens,
        ["source", "doc_id"],
        out_path,
        lambda part: token_feature_pipeline(part, cfg, **kwargs),
        n_buckets=n_buckets,
        input_fingerprint=input_fingerprint,
    )
