"""Real spark-submit --py-files launch (north-rule deployment shape).

Builds dist/rustiflow_spark.zip, then launches tools/submit_job.py via
the actual spark-submit binary FROM A SCRATCH CWD with a stripped
PYTHONPATH — the package must resolve from the shipped zip alone, exactly
as on a cluster where executors have no repo checkout.
"""

from __future__ import annotations

import ast
import os
import shutil
import subprocess
import sys

import pytest

from rustiflow_spark.session import ARROW_BATCH_CONF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
MAX_RECORDS = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _arrow_conf(stdout: str) -> dict:
    """The Arrow batch settings the job's session reported."""
    line = next(l for l in stdout.splitlines() if l.startswith("arrow batch conf: "))
    return ast.literal_eval(line.split(": ", 1)[1])


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from build_pyfiles import build

    zip_path = build(str(tmp_path / "dist"))
    assert zip_path.endswith(".zip") and os.path.exists(zip_path)

    # input: the north-rule token-sequence table
    from rustiflow_spark.sources.synth import generate_token_sequences

    pdf = generate_token_sequences(n_docs=40, seed=7)
    inp = str(tmp_path / "tokens.parquet")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(inp)
    out = str(tmp_path / "features")

    job = str(tmp_path / "submit_job.py")
    shutil.copy(os.path.join(REPO, "tools", "submit_job.py"), job)

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    env["PYSPARK_PYTHON"] = sys.executable
    res = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master",
            "local[2]",
            "--conf",
            "spark.sql.shuffle.partitions=4",
            "--py-files",
            zip_path,
            job,
            "--input",
            inp,
            "--output",
            out,
            "--idle-timeout-s",
            "60",
        ],
        cwd=str(tmp_path),  # NOT the repo: no accidental local import
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    # no --conf names them: the job's session has get_spark's values
    assert _arrow_conf(res.stdout) == ARROW_BATCH_CONF

    got = spark.read.parquet(out)
    assert got.count() > 0
    cols = set(got.columns)
    assert {"source", "doc_id", "session_index", "n_tok_total"} <= cols
    # lag features from the pipeline's window stage made it through
    assert any(c.endswith("_lag1") for c in cols)


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_checkpointed_resume(spark, tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from build_pyfiles import build

    zip_path = build(str(tmp_path / "dist"))
    from rustiflow_spark.sources.synth import generate_token_sequences

    pdf = generate_token_sequences(n_docs=30, seed=9)
    inp = str(tmp_path / "tokens.parquet")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(inp)
    out = str(tmp_path / "ckpt_features")
    job = str(tmp_path / "submit_job.py")
    shutil.copy(os.path.join(REPO, "tools", "submit_job.py"), job)

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    cmd = [
        SPARK_SUBMIT, "--master", "local[2]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", f"{MAX_RECORDS}=5000",
        "--py-files", zip_path, job,
        "--input", inp, "--output", out,
        "--checkpointed", "--n-buckets", "3", "--fingerprint", "fp1",
    ]
    r1 = subprocess.run(cmd, cwd=str(tmp_path), env=env,
                        capture_output=True, text=True, timeout=420)
    assert r1.returncode == 0, r1.stderr[-3000:]
    assert "'completed': 3" in r1.stdout and "'skipped': 0" in r1.stdout
    # the user's --conf wins; the setting it leaves out keeps the default
    assert _arrow_conf(r1.stdout) == {**ARROW_BATCH_CONF, MAX_RECORDS: "5000"}
    # resume with the same fingerprint: every bucket skips, output intact
    r2 = subprocess.run(cmd, cwd=str(tmp_path), env=env,
                        capture_output=True, text=True, timeout=420)
    assert r2.returncode == 0, r2.stderr[-3000:]
    assert "'completed': 0" in r2.stdout and "'skipped': 3" in r2.stdout
    got = spark.read.parquet(os.path.join(out, "bucket=*"))
    assert got.count() > 0
    # lineage manifest records per-bucket rows + timing + key columns
    import json

    with open(os.path.join(out, "_checkpoints", "manifest.jsonl")) as f:
        rows = [json.loads(l) for l in f]
    assert {r["bucket"] for r in rows} == {0, 1, 2}
    assert all(r["fingerprint"] == "fp1" and "rows" in r and "seconds" in r
               for r in rows)
