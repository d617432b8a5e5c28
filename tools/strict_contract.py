"""Strict local replica of the driver's correctness hash gate.

The driver compares Spark vs DuckDB results by sorting columns by name,
sorting rows, and hashing the *serialized* cell values — so an int64 `5`
vs a float64 `5.0` is a hash FAIL even though the values are equal
(CORRECTNESS_r01: DuckDB HUGEINT sums serialize as floats). This tool
reproduces that check locally: dtype-sensitive string serialization,
no numeric normalization.

Usage:
    python tools/strict_contract.py [query ...]      # default: all oracled
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("STRICT_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


def serialize(df: pd.DataFrame) -> list[str]:
    df = df[sorted(df.columns)]
    cells = df.astype(str)
    lines = sorted("\x1f".join(row) for row in cells.itertuples(index=False))
    return lines


def main() -> int:
    from rustiflow_spark.session import get_spark

    # the production session builder, so the gate runs the same worker set-up
    spark = get_spark(
        "strict-contract",
        cores=8,
        shuffle_partitions=32,
        # no console progress bar: its "[Stage N: ...]\r" lines would
        # prefix the result lines and hide them from line-anchored greps
        extra_conf={
            "spark.driver.memory": "8g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    names = sys.argv[1:] or [n for n in entrymod.queries() if n in entrymod.oracle_sql()]
    failures = 0
    for name in names:
        q = entrymod.queries()[name]
        sql = entrymod.oracle_sql().get(name)
        if sql is None:
            print(f"{name}: SKIP (no oracle)")
            continue
        got = q(spark, SF_DIR).toPandas()
        exp = con.execute(sql).df()
        ok_rows = len(got) == len(exp)
        ok_schema = sorted(got.columns) == sorted(exp.columns)
        gl, el = serialize(got), serialize(exp)
        gh = hashlib.sha256("\n".join(gl).encode()).hexdigest()[:12]
        eh = hashlib.sha256("\n".join(el).encode()).hexdigest()[:12]
        ok_hash = gh == eh
        status = "PASS" if (ok_rows and ok_schema and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name}: {status} rows={len(got)}/{len(exp)} schema={ok_schema} "
            f"hash={gh}/{eh}"
        )
        if not ok_hash and ok_rows and ok_schema:
            # show first few differing serialized rows, plus dtype table
            diff = [(a, b) for a, b in zip(gl, el) if a != b][:3]
            for a, b in diff:
                print(f"  spark : {a}")
                print(f"  oracle: {b}")
            gd = {c: str(got[c].dtype) for c in sorted(got.columns)}
            ed = {c: str(exp[c].dtype) for c in sorted(exp.columns)}
            dt = {c: (gd[c], ed[c]) for c in gd if gd[c] != ed.get(c)}
            if dt:
                print(f"  dtype mismatches: {dt}")
    print(f"\n{failures} failures / {len(names)} checked")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
