"""CLI drive: extract from pcap and from parquet, resume via checkpoints."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

DATA = "/root/reference/rustiflow/tests/data"

needs_data = pytest.mark.skipif(
    not os.path.exists(DATA), reason=f"reference pcap fixtures not found at {DATA}"
)


@needs_data
def test_cli_extract_pcap(spark, tmp_path, capsys):
    from rustiflow_spark.cli import main

    out = str(tmp_path / "flows")
    rc = main([
        "extract", "--input", DATA, "--input-format", "pcap",
        "--output", out, "--schema", "cic",
        "--scan-mode", "none", "--cores", "4",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows"] > 0
    from rustiflow_spark.session import get_spark

    sp = get_spark("cli-check", cores=4)
    flows = sp.read.parquet(out)
    assert len(flows.columns) == 100  # CIC schema width
    assert flows.count() == summary["rows"]


def test_cli_tokens_parquet(spark, tmp_path, capsys):
    from rustiflow_spark.cli import main
    from rustiflow_spark.sources.synth import generate_token_sequences

    pdf = generate_token_sequences(n_docs=30, seed=3)
    src = str(tmp_path / "tok.parquet")
    cols = ["doc_id", "n_tok", "source", "ts_us", "direction", "terminator", "event_seq"]
    spark.createDataFrame(pdf[cols]).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "sessions")
    rc = main([
        "tokens", "--input", src, "--output", out,
        "--active-timeout", "10000000", "--idle-timeout", "120",
        "--scan-mode", "none", "--cores", "4",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows"] > 0


@needs_data
def test_cli_toml_config(spark, tmp_path, capsys):
    """confy/TOML analog (args.rs:6-210, config.toml): file values apply
    as defaults; explicit CLI flags still win; export_path supplies
    --output; drop_contaminant_features picks the clean variant."""
    from rustiflow_spark.cli import load_toml_config, main

    out = str(tmp_path / "flows_toml")
    toml = tmp_path / "config.toml"
    toml.write_text(
        f"""
[config]
features = "Nfstream"
active_timeout = 3600
idle_timeout = 120
threads = 4

[output]
export_path = "{out}"
drop_contaminant_features = true
"""
    )
    cfg = load_toml_config(str(toml))
    assert cfg == {
        "schema": "nf",
        "active_timeout": 3600,
        "idle_timeout": 120,
        "cores": 4,
        "output": out,
        "drop_contaminant_features": True,
    }
    rc = main([
        "extract", "--config", str(toml),
        "--input", DATA, "--input-format", "pcap", "--scan-mode", "none",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows"] > 0
    from rustiflow_spark.flows.schemas import NF_CLEAN_COLUMNS
    from rustiflow_spark.session import get_spark

    sp = get_spark("cli-toml-check", cores=4)
    flows = sp.read.parquet(out)
    assert flows.columns == NF_CLEAN_COLUMNS  # 61-col clean NF layout

    # explicit flag beats the file: --schema basic (full, 10 cols) ...
    out2 = str(tmp_path / "flows_toml2")
    rc = main([
        "extract", "--config", str(toml),
        "--input", DATA, "--input-format", "pcap", "--scan-mode", "none",
        "--schema", "basic", "--output", out2,
    ])
    assert rc == 0
    capsys.readouterr()
    # ... but the file's drop_contaminant_features=true still applies
    assert len(sp.read.parquet(out2).columns) == 5


def test_cli_config_missing_output(tmp_path):
    import pytest

    from rustiflow_spark.cli import main

    toml = tmp_path / "bare.toml"
    toml.write_text('[config]\nfeatures = "CIC"\n')
    with pytest.raises(SystemExit):
        main(["extract", "--config", str(toml), "--input", "/nonexistent"])
