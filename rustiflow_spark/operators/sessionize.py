"""Sessionization operator: packet events -> per-flow feature vectors.

Spark plan shape (one shuffle):

    scan (parquet/Iceberg/pcap, pruned columns)
      -> canonical biflow key columns               [Catalyst exprs, codegen]
      -> repartition(key) + sortWithinPartitions    [hash shuffle on key,
         (xxhash64(key), key, ts_us, event_seq)      radix-sortable prefix]
      -> mapInArrow(block kernel)                   [sorted Arrow batches cut
                                                     into whole key runs by
                                                     kernel/key_runs.key_blocks,
                                                     NumPy]
      -> feature superset DataFrame                 [downstream selects are
                                                     pure column pruning]

The block kernel is kernel/packet_segmented.featurize_packet_block. With
scan_mode 'exact' or 'bucket', building the query also runs one timeline
query over the ts_us column (timeline.compute_timeline); with 'none' it
submits no job.

The canonical key makes both directions of a biflow land in one group —
the analog of the reference's canonical-hash shard routing (pcap.rs:243-249,
flow_key.rs:45-52). Any deterministic orientation works for grouping;
direction semantics are defined by each session's first packet, exactly like
the reference's directed-key + reverse-lookup flow map (flow_table.rs:61-73).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from rustiflow_spark.config import EngineConfig
from rustiflow_spark.schema import FLOW_SUPERSET_COLUMNS, FLOW_SUPERSET_SCHEMA
from rustiflow_spark.timeline import compute_timeline

_KEY_COLS = ["key_ip_a", "key_port_a", "key_ip_b", "key_port_b", "protocol"]

_INT_COLS = [
    "ts_us",
    "fin_flag",
    "syn_flag",
    "rst_flag",
    "psh_flag",
    "ack_flag",
    "urg_flag",
    "cwr_flag",
    "ece_flag",
    "flags",
    "data_length",
    "header_length",
    "length",
    "window_size",
    "sequence_number",
    "sequence_number_ack",
    "protocol",
    "event_seq",
]


def with_canonical_key(df: DataFrame) -> DataFrame:
    """Add canonical (order-independent) biflow key columns + orientation.

    dir_a is True when the packet's directed key matches the canonical
    orientation (src endpoint sorts <= dst endpoint).

    Built from SQL strings: one py4j round trip per expression instead of
    ~50 Column-constructor calls (plan-construction latency, BENCH.md
    round 3)."""
    a_first = (
        "(src_ip < dst_ip or (src_ip = dst_ip and src_port <= dst_port))"
    )
    return df.selectExpr(
        "*",
        f"{a_first} as dir_a",
        f"case when {a_first} then src_ip else dst_ip end as key_ip_a",
        f"case when {a_first} then src_port else dst_port end as key_port_a",
        f"case when {a_first} then dst_ip else src_ip end as key_ip_b",
        f"case when {a_first} then dst_port else src_port end as key_port_b",
    )


def sessionize_packets(
    df: DataFrame,
    cfg: EngineConfig | None = None,
    num_partitions: int | None = None,
    flush_ts: int | None = None,
    columns=None,
) -> DataFrame:
    """Full sessionization: returns one row per exported flow with the
    feature superset columns (schema.FLOW_SUPERSET_SCHEMA).

    Rows are hash-partitioned on the canonical key, sorted within
    partitions, and featurized per sorted Arrow block by the
    segment-vectorized block kernel (mapInArrow), early-export snapshots
    included.

    flush_ts: time leftover sessions are flushed at ("Exporter Shutdown"
    close time). Optional: no output depends on it, and None flushes at
    end of input (timeline.END_OF_INPUT_US) without reading the input.

    columns: optional iterable of superset column names the caller's
    downstream projection reads (derive automatically with
    schema.projection_superset_columns). The kernel then skips unneeded
    feature blocks and the Arrow batch out of Python carries only those
    columns — the narrow-schema scale lever (serialization dominates,
    engineering-notes.md:671-699). None = full superset (unchanged).
    """
    cfg = cfg or EngineConfig()
    if columns is None:
        out_schema, out_cols, col_set = FLOW_SUPERSET_SCHEMA, FLOW_SUPERSET_COLUMNS, None
    else:
        from rustiflow_spark.schema import pruned_superset_schema

        out_schema = pruned_superset_schema(columns)
        out_cols = [f.name for f in out_schema.fields]
        col_set = set(out_cols)
        if len(col_set) == len(FLOW_SUPERSET_COLUMNS):
            col_set = None  # full set requested — skip gating overhead
    scan_times, flush_ts = compute_timeline(df, "ts_us", cfg, flush_ts=flush_ts)

    keyed = with_canonical_key(df)
    # mapInArrow is opaque to Catalyst's column pruning:
    # everything still on the frame is shuffled, sorted AND shipped
    # through Arrow. The kernel only reads the canonical key + the int
    # feature columns — the directed src/dst endpoints are dead after
    # canonicalization, so drop them here (guide §2.3 / §4.1: an
    # explicit select before an opaque function is the only pruning that
    # reaches it; 2 strings + 2 ints per packet off the exchange).
    _kernel_in = list(dict.fromkeys(
        _KEY_COLS + _INT_COLS + ["icmp_type", "icmp_code", "dir_a"]
    ))
    keyed = keyed.select(*_kernel_in)
    from rustiflow_spark.kernel.packet_segmented import featurize_packet_block

    sort_cols = _KEY_COLS + ["ts_us", "event_seq"]

    from pyspark.sql.pandas.types import to_arrow_schema

    from rustiflow_spark.kernel.key_runs import (
        _require_no_nulls,
        key_blocks,
        record_batch,
    )

    arrow_schema = to_arrow_schema(out_schema)

    def process_block(block, key_ids: np.ndarray):
        import pyarrow.compute as pc

        _require_no_nulls(block, ["ts_us"])
        # one dict holds the kernel inputs and the per-row key arrays;
        # NULL flags and ICMP fields are legitimate (non-TCP, non-ICMP)
        g: dict[str, np.ndarray] = {"key_id": key_ids}
        for name in block.schema.names:
            col = block.column(name)
            if name in ("key_ip_a", "key_ip_b"):
                g[name] = col.to_numpy(zero_copy_only=False)
            elif name == "dir_a":
                g[name] = col.to_numpy(zero_copy_only=False).astype(bool)
            else:
                fill = -1 if name in ("icmp_type", "icmp_code") else 0
                g[name] = (
                    pc.fill_null(col, fill)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
        res = featurize_packet_block(g, g, cfg, scan_times, flush_ts, columns=col_set)
        if "__empty" in res:
            return None
        if col_set is not None:
            missing = [c for c in out_cols if c not in res]
            if missing:  # a gating bug must fail loudly, never emit NaN
                raise RuntimeError(f"kernel pruning dropped {missing}")
        return record_batch(res, arrow_schema)

    def run_partition(batches):
        for block, key_ids in key_blocks(batches, _KEY_COLS):
            out = process_block(block, key_ids)
            if out is not None:
                yield out

    if num_partitions:
        keyed = keyed.repartition(num_partitions, *_KEY_COLS)
    else:
        keyed = keyed.repartition(*_KEY_COLS)
    # leading xxhash64(key) sort column: Tungsten's radix sort works on
    # the first column's 8-byte prefix, and the canonical-key strings
    # share long prefixes ("10.x...") that forced full-record
    # comparisons; a numeric lead resolves almost every cross-key
    # comparison in the prefix (measured 2.3 s -> 1.8 s shuffle+sort at
    # sf1.0). Grouping contiguity is preserved under ANY total order
    # that puts the real key columns right after the hash, and
    # within-key order (ts, seq) is untouched; the kernel's adjacency
    # run detection never sees __ks (dropped before mapInArrow).
    keyed = keyed.withColumn("__ks", F.xxhash64(*_KEY_COLS))
    keyed = keyed.sortWithinPartitions("__ks", *sort_cols).drop("__ks")
    return keyed.mapInArrow(run_partition, schema=out_schema)
