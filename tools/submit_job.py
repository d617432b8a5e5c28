#!/usr/bin/env python3
"""spark-submit entry point for the north-rule pipeline:

    python tools/build_pyfiles.py
    spark-submit --master <cluster> --py-files dist/rustiflow_spark.zip \
        tools/submit_job.py --input tokens.parquet --output features/ \
        [--checkpointed] [--idle-timeout-s N] [--active-timeout-s N]

The script imports rustiflow_spark from the shipped zip (it carries no
repo-relative paths), runs the token-sequence feature pipeline
(sessionize -> per-session feature vectors -> lag features), and writes
parquet — optionally through the per-bucket checkpoint/lineage manifests
(resumable: re-running with the same --fingerprint skips completed
buckets).
"""

from __future__ import annotations

import argparse

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def build_session() -> SparkSession:
    """The job's session. No master: spark-submit --master decides.

    The Arrow batch settings of get_spark (session.ARROW_BATCH_CONF) apply
    on every master, each unless spark-submit's --conf already sets it. The
    worker set-up (session.with_python_workers) is applied only to a local
    master: its worker daemon is imported from the driver's path to the
    package before --py-files reach the worker, and a cluster executor need
    not be able to read that path.
    """
    from rustiflow_spark.session import ARROW_BATCH_CONF, with_python_workers

    SparkContext._ensure_initialized()  # the JVM spark-submit started
    conf = SparkConf()
    master = conf.get("spark.master", "")
    builder = SparkSession.builder.appName("rustiflow-submit")
    for key, value in ARROW_BATCH_CONF.items():
        if not conf.contains(key):
            builder = builder.config(key, value)
    if master == "local" or master.startswith("local["):
        builder = with_python_workers(builder)
    return builder.getOrCreate()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--idle-timeout-s", type=float, default=60.0)
    ap.add_argument("--active-timeout-s", type=float, default=3600.0)
    ap.add_argument("--checkpointed", action="store_true")
    ap.add_argument("--n-buckets", type=int, default=4)
    ap.add_argument("--fingerprint", default=None)
    args = ap.parse_args()

    # imported AFTER spark-submit has added --py-files to the path
    from rustiflow_spark.config import EngineConfig
    from rustiflow_spark.pipeline import run_checkpointed, token_feature_pipeline
    from rustiflow_spark.session import ARROW_BATCH_CONF

    spark = build_session()
    print("arrow batch conf:", {k: spark.conf.get(k) for k in ARROW_BATCH_CONF})
    cfg = EngineConfig(
        idle_timeout=args.idle_timeout_s, active_timeout=args.active_timeout_s
    )
    tokens = spark.read.parquet(args.input)
    if args.checkpointed:
        summary = run_checkpointed(
            tokens,
            args.output,
            cfg,
            n_buckets=args.n_buckets,
            input_fingerprint=args.fingerprint,
        )
        print(f"checkpointed run: {summary}")
    else:
        token_feature_pipeline(tokens, cfg).write.mode("overwrite").parquet(
            args.output
        )
    spark.stop()


if __name__ == "__main__":
    main()
