"""Table readers/writers: Iceberg when available, parquet otherwise.

The production deployment (north rule) targets Iceberg tables; this
container ships no Iceberg runtime jar, so the engine reads/writes through
a thin format abstraction and the Iceberg-specific knobs (snapshot reads,
partition transforms like `bucket(doc_id)`) are exercised only when the
catalog is configured. All engine semantics are format-agnostic —
operators take DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, path_or_table: str, fmt: str = "auto") -> DataFrame:
    """Read an input table. fmt: 'auto' | 'iceberg' | 'parquet'.

    'auto' uses Iceberg for catalog-style identifiers (db.table) when the
    runtime is present, else parquet paths.
    """
    if fmt == "iceberg" or (
        fmt == "auto" and "/" not in path_or_table and iceberg_available(spark)
    ):
        return spark.read.format("iceberg").load(path_or_table)
    return spark.read.parquet(path_or_table)


def parquet_column_max(path: str, column: str) -> int | None:
    """Max value of a column from parquet footer statistics only — zero data
    pages read. Gives the input's last event time (the reference's flush
    time) to callers that want to pass it as flush_ts; the Iceberg analog
    is the manifest-level upper_bounds map.

    Returns None when any row group lacks statistics for the column.
    """
    import os

    import pyarrow.parquet as pq

    paths: list[str] = []
    if os.path.isdir(path):
        for root, _, files in os.walk(path):
            paths.extend(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    else:
        paths = [path]
    if not paths:
        return None
    best: int | None = None
    for p in paths:
        md = pq.ParquetFile(p).metadata
        try:
            idx = md.schema.names.index(column)
        except ValueError:
            return None
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(idx).statistics
            if stats is None or not stats.has_min_max:
                return None
            v = stats.max
            best = v if best is None else max(best, v)
    return best


def write_table(
    df: DataFrame,
    path_or_table: str,
    fmt: str = "auto",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    spark = df.sparkSession
    if fmt == "iceberg" or (
        fmt == "auto" and "/" not in path_or_table and iceberg_available(spark)
    ):
        writer = df.writeTo(path_or_table)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path_or_table)
