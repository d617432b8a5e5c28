"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01; compare row count,
schema (column names), and order-insensitive values."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


def run_oracle(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con.execute(sql).df()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        # rows-only contract query (non-SQL-expressible op): smoke-run it
        out = q(spark, SF_DIR)
        assert out.count() >= 0 and out.columns
        return
    got = normalize(q(spark, SF_DIR).toPandas())
    exp = normalize(run_oracle(sql))
    assert list(got.columns) == list(exp.columns), (
        f"{name}: columns differ: {list(got.columns)} vs {list(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: row count {len(got)} vs {len(exp)}"
    for c in got.columns:
        if pd.api.types.is_float_dtype(got[c]) or pd.api.types.is_float_dtype(exp[c]):
            assert np.allclose(
                got[c].astype(float).fillna(math.nan),
                exp[c].astype(float).fillna(math.nan),
                rtol=1e-7,
                atol=1e-7,
                equal_nan=True,
            ), f"{name}: float column {c} differs"
        else:
            mism = (got[c].astype(str) != exp[c].astype(str)).sum()
            assert mism == 0, (
                f"{name}: column {c} has {mism} mismatches; "
                f"sample got={got[c].head(3).tolist()} exp={exp[c].head(3).tolist()}"
            )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns
    assert len(rows) >= 0


def test_tmp_workdir_age_gate_reads_the_newest_mtime(tmp_path):
    """A dir whose owner PID is alive is swept only when nothing in it was
    written for a day: a live run writes in subdirectories, not at the top."""
    import os
    import shutil
    import subprocess
    import time
    import zlib

    prefix = f"/tmp/rustiflow_agegate_{zlib.crc32(str(tmp_path).encode()) & 0xFFFFFFFF:x}"
    sleeper = subprocess.Popen(["sleep", "60"])
    live, aged = f"{prefix}_{sleeper.pid}", f"{prefix}_{os.getppid()}"
    two_days_ago = time.time() - 2 * 86_400
    try:
        for d in (live, aged):
            os.makedirs(f"{d}/ckpt")
            with open(f"{d}/ckpt/offsets", "w") as f:
                f.write("0")
        for p in (f"{aged}/ckpt/offsets", f"{aged}/ckpt", aged, live):
            os.utime(p, (two_days_ago, two_days_ago))
        entrymod._tmp_workdir("agegate", str(tmp_path))
        assert os.path.isdir(live)
        assert not os.path.exists(aged)
    finally:
        sleeper.kill()
        sleeper.wait(timeout=10)
        for d in (live, aged):
            shutil.rmtree(d, ignore_errors=True)
