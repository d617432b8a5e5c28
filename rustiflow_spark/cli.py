"""spark-submit entry point — the analog of the reference CLI
(rustiflow/src/args.rs:6-210, main.rs:47-105).

    spark-submit --py-files rustiflow_spark.zip -m rustiflow_spark.cli ...
or locally:
    python -m rustiflow_spark.cli extract \
        --input /data/events.parquet --schema cic \
        --output /data/flows --active-timeout 3600 --idle-timeout 120

Subcommands:
  extract   packet events -> flow feature vectors (any of the 5 schemas)
  tokens    token-sequence events -> session feature vectors (north rule)
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="rustiflow_spark")
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp):
        sp.add_argument(
            "--config",
            default=None,
            metavar="FILE.toml",
            help="TOML config file (the reference's confy config.toml "
            "analog); explicit CLI flags override file values",
        )
        sp.add_argument("--input", required=True, help="input parquet path/glob")
        sp.add_argument(
            "--output",
            default=None,
            help="output parquet path (or [output].export_path in --config)",
        )
        sp.add_argument("--active-timeout", type=int, default=3600)
        sp.add_argument("--idle-timeout", type=int, default=120)
        sp.add_argument("--early-export", type=int, default=None)
        sp.add_argument("--expiration-check-interval", type=int, default=60)
        sp.add_argument("--scan-mode", default="exact", choices=["exact", "bucket", "none"])
        sp.add_argument(
            "--cores", type=int, default=None,
            help="task slots of the local[N] master (default: SPARK_GRAFT_CPUS, "
            "else the CPUs this process may run on)",
        )
        sp.add_argument("--shuffle-partitions", type=int, default=None)
        sp.add_argument("--checkpoint-dir", default=None,
                        help="enable bucketed checkpoint/resume manifests")
        sp.add_argument("--n-buckets", type=int, default=16)

    e = sub.add_parser("extract", help="packet events -> flow features")
    common(e)
    e.add_argument(
        "--schema",
        default="cic",
        choices=["superset", "basic", "cic", "cic-clean", "cidds", "nf", "rustiflow"],
    )
    e.add_argument(
        "--drop-contaminant-features",
        action="store_true",
        default=False,
        help="export the clean (contaminant-free) variant of the chosen "
        "schema (args.rs drop_contaminant_features analog)",
    )
    e.add_argument(
        "--input-format",
        default="parquet",
        choices=["parquet", "pcap"],
        help="pcap: decode .pcap capture files on the executors "
        "(the reference CLI's `rustiflow pcap` analog)",
    )
    e.add_argument(
        "--pcap-split-size",
        type=int,
        default=None,
        metavar="BYTES",
        help="decode captures in byte-range splits of this size with "
        "record-boundary resync (one multi-GB capture fans out across "
        "tasks; default: one file per task)",
    )

    t = sub.add_parser("tokens", help="token/event stream -> session features")
    common(t)
    t.add_argument("--key-cols", default="source,doc_id")
    t.add_argument("--ts-col", default="ts_us")
    t.add_argument("--value-col", default="n_tok")
    t.add_argument("--direction-col", default="direction")
    t.add_argument("--terminator-col", default="terminator")
    t.add_argument(
        "--strategy", default="kernel", choices=["kernel", "catalyst", "auto"],
        help="auto: zero-Python Catalyst plan when scan_mode is 'none' "
             "(finite active timeouts included), else the kernel; "
             "kernel: Arrow block kernel",
    )
    # subparsers parse into a fresh namespace (bpo-9351), so --config file
    # defaults must be applied to them directly, not to the root parser
    p._command_parsers = {"extract": e, "tokens": t}
    return p


def load_toml_config(path: str) -> dict:
    """Parse a reference-style TOML config file (rustiflow/src/args.rs:6-210
    via confy; config.toml in the reference repo root) into a dict of
    argparse defaults. Returned keys use argparse dest names, so
    `parser.set_defaults(**load_toml_config(p))` gives file values default
    precedence: built-in default < config file < explicit CLI flag."""
    import tomllib

    with open(path, "rb") as f:
        data = tomllib.load(f)
    c = data.get("config", {})
    o = data.get("output", {})
    out: dict = {}
    # FlowType names (args.rs features enum) -> --schema choices
    feat_map = {
        "basic": "basic",
        "cic": "cic",
        "cidds": "cidds",
        "nfstream": "nf",
        "rustiflow": "rustiflow",
        "custom": "superset",
    }
    if "features" in c:
        name = str(c["features"]).lower()
        if name not in feat_map:
            raise ValueError(f"unknown features type in {path}: {c['features']}")
        out["schema"] = feat_map[name]
    for key in ("active_timeout", "idle_timeout", "early_export",
                "expiration_check_interval"):
        if key in c:
            out[key] = int(c[key])
    if "threads" in c:
        out["cores"] = int(c["threads"])
    if "export_path" in o:
        out["output"] = str(o["export_path"])
    if "drop_contaminant_features" in o:
        out["drop_contaminant_features"] = bool(o["drop_contaminant_features"])
    return out


def _engine_config(args):
    from rustiflow_spark.config import EngineConfig

    return EngineConfig(
        active_timeout=args.active_timeout,
        idle_timeout=args.idle_timeout,
        early_export=args.early_export,
        expiration_check_interval=args.expiration_check_interval,
        scan_mode=args.scan_mode,
    )


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:]) if argv is None else list(argv)
    parser = build_parser()
    if "--config" in argv:
        # load BEFORE parsing so explicit CLI flags still win: file values
        # become parser defaults, and argparse only falls back to defaults
        # for flags not given on the command line
        file_defaults = load_toml_config(argv[argv.index("--config") + 1])
        for sub in parser._command_parsers.values():
            sub.set_defaults(**file_defaults)
    args = parser.parse_args(argv)
    if args.output is None:
        parser.error(
            "--output is required (flag or [output].export_path in --config)"
        )
    from pyspark.sql import SparkSession

    from rustiflow_spark.session import get_spark

    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark(
        f"rustiflow-{args.command}",
        cores=args.cores,
        shuffle_partitions=args.shuffle_partitions,
    )
    cfg = _engine_config(args)
    t0 = time.time()
    if args.command == "extract" and getattr(args, "input_format", "parquet") == "pcap":
        from rustiflow_spark.sources.pcap import read_pcap

        df = read_pcap(spark, args.input, split_size=args.pcap_split_size)
    else:
        df = spark.read.parquet(args.input)

    if args.command == "extract":
        from rustiflow_spark.flows.schemas import SCHEMAS, cic_schema
        from rustiflow_spark.operators.sessionize import sessionize_packets
        from rustiflow_spark.schema import projection_superset_columns

        if args.schema == "superset":
            project, columns = (lambda flows: flows), None
        elif args.schema == "cic-clean":
            project = lambda flows: cic_schema(flows, without_contamination=True)
            columns = projection_superset_columns(spark, project)
        else:
            project = lambda flows: SCHEMAS[args.schema](
                flows, without_contamination=args.drop_contaminant_features
            )
            columns = projection_superset_columns(spark, project)

        def process(part):
            # kernel computes + ships only the superset columns the selected
            # schema reads (serialization dominates at narrow layouts)
            return project(sessionize_packets(part, cfg, columns=columns))

        key_cols = ["src_ip", "dst_ip", "src_port", "dst_port", "protocol"]
    else:
        from rustiflow_spark.operators.event_features import sessionize_events

        key_cols = args.key_cols.split(",")

        def process(part):
            return sessionize_events(
                part,
                key_cols,
                cfg,
                ts_col=args.ts_col,
                value_col=args.value_col,
                direction_col=args.direction_col,
                terminator_col=args.terminator_col,
                strategy=args.strategy,
            )

    if args.checkpoint_dir:
        from rustiflow_spark.checkpoint import run_with_checkpoints

        summary = run_with_checkpoints(
            df, key_cols, args.output, process, n_buckets=args.n_buckets,
            input_fingerprint=args.input,
        )
    else:
        from pyspark.sql import Observation, functions as F

        obs = Observation("rows")
        result = process(df).observe(obs, F.count(F.lit(1)).alias("n"))
        result.write.mode("overwrite").parquet(args.output)
        summary = {"rows": int(obs.get["n"])}

    summary["seconds"] = round(time.time() - t0, 2)
    print(json.dumps(summary))
    if not pre_existing:
        # library/embedded callers own their session's lifecycle
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
