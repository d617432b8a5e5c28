"""Sessionization operator: packet events -> per-flow feature vectors.

Spark plan shape (one shuffle):

    scan (parquet/Iceberg/pcap, pruned columns)
      -> canonical biflow key columns               [Catalyst exprs, codegen]
      -> repartition(key) + sortWithinPartitions    [hash shuffle on key,
         (xxhash64(key), key, ts_us, event_seq)      radix-sortable prefix]
      -> mapInArrow(block kernel)                   [sorted Arrow batches,
                                                     NumPy, key-run carry]
      -> feature superset DataFrame                 [downstream selects are
                                                     pure column pruning]

engine='simple' replaces the shuffle, sort and kernel steps with
groupBy(key).applyInPandas over the per-group reference kernel
(differential testing only). With scan_mode 'exact' or 'bucket',
building the query also runs one timeline query over the ts_us column
(timeline.compute_timeline); with 'none' it submits no job.

The canonical key makes both directions of a biflow land in one group —
the analog of the reference's canonical-hash shard routing (pcap.rs:243-249,
flow_key.rs:45-52). Any deterministic orientation works for grouping;
direction semantics are defined by each session's first packet, exactly like
the reference's directed-key + reverse-lookup flow map (flow_table.rs:61-73).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from rustiflow_spark.config import EngineConfig
from rustiflow_spark.kernel.flow_kernel import process_group
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


def _group_arrays(pdf: pd.DataFrame) -> dict[str, np.ndarray]:
    pdf = pdf.sort_values(["ts_us", "event_seq"], kind="mergesort")
    g: dict[str, np.ndarray] = {}
    for col in _INT_COLS:
        g[col] = pdf[col].to_numpy(dtype=np.int64, na_value=0)
    for col in ("icmp_type", "icmp_code"):
        g[col] = pdf[col].to_numpy(dtype=np.float64, na_value=-1).astype(np.int64)
    g["dir_a"] = pdf["dir_a"].to_numpy(dtype=bool)
    return g


def sessionize_packets(
    df: DataFrame,
    cfg: EngineConfig | None = None,
    num_partitions: int | None = None,
    engine: str = "auto",
    flush_ts: int | None = None,
    columns=None,
) -> DataFrame:
    """Full sessionization: returns one row per exported flow with the
    feature superset columns (schema.FLOW_SUPERSET_SCHEMA).

    engine: 'vectorized' — segment-vectorized block kernel over sorted
    partitions (mapInArrow; the scale path, ~2 orders of magnitude faster),
    including early-export snapshots via gather-expansion; 'simple' —
    per-group applyInPandas kernel (reference implementation, kept for
    differential testing); 'auto' always picks vectorized. Both produce
    identical output (asserted by tests/test_packet_vectorized.py).

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
    if engine == "auto":
        engine = "vectorized"
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
    # mapInArrow/applyInPandas are opaque to Catalyst's column pruning:
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
    if engine == "simple":
        if num_partitions:
            keyed = keyed.repartition(num_partitions, *_KEY_COLS)

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            g = _group_arrays(pdf)
            meta = {
                "src_ip_a": pdf["key_ip_a"].iloc[0],
                "src_port_a": int(pdf["key_port_a"].iloc[0]),
                "dst_ip_a": pdf["key_ip_b"].iloc[0],
                "dst_port_a": int(pdf["key_port_b"].iloc[0]),
            }
            rows = process_group(g, meta, cfg, scan_times, flush_ts)
            out = pd.DataFrame(rows)
            return out.reindex(columns=out_cols)

        return keyed.groupBy(*_KEY_COLS).applyInPandas(run, schema=out_schema)

    from rustiflow_spark.kernel.packet_segmented import featurize_packet_block

    sort_cols = _KEY_COLS + ["ts_us", "event_seq"]

    # Arrow-native boundary (guide §4.1/§4.2): the kernel consumes and
    # produces numpy arrays, so the pandas DataFrame on each side of the
    # round-5 mapInPandas was pure conversion overhead (identity-pass
    # A/B at sf1.0: +0.79 s pandas vs +0.35 s Arrow over the same sorted
    # input). RecordBatch columns decode straight to numpy (fill_null
    # replays the old na_value semantics) and outputs build straight
    # into RecordBatches; from_pandas=True keeps NaN->NULL for doubles,
    # matching the pandas serializer bit-for-bit.
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(out_schema)

    def _batch_cols(b) -> dict[str, np.ndarray]:
        import pyarrow.compute as pc

        d: dict[str, np.ndarray] = {}
        for i, name in enumerate(b.schema.names):
            col = b.column(i)
            if name in ("icmp_type", "icmp_code"):
                d[name] = (
                    pc.fill_null(col, -1)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
            elif name == "dir_a":
                d[name] = col.to_numpy(zero_copy_only=False).astype(bool)
            elif name in ("key_ip_a", "key_ip_b"):
                d[name] = col.to_numpy(zero_copy_only=False)
            else:
                d[name] = (
                    pc.fill_null(col, 0)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
        return d

    def process_block(cols: dict[str, np.ndarray]):
        import pyarrow as pa

        n = cols["ts_us"].size
        g = {c: cols[c] for c in _INT_COLS}
        g["icmp_type"] = cols["icmp_type"]
        g["icmp_code"] = cols["icmp_code"]
        g["dir_a"] = cols["dir_a"]
        # rows arrive sorted by the key columns, so key_id is a run index
        # from adjacent-row comparison — ~10x cheaper than hash-factorizing
        # a MultiIndex over the five key columns
        newk = np.zeros(n, dtype=bool)
        newk[0] = True
        for c in _KEY_COLS:
            v = cols[c]
            newk[1:] |= v[1:] != v[:-1]
        g["key_id"] = np.cumsum(newk) - 1
        keys = {
            "key_ip_a": cols["key_ip_a"],
            "key_port_a": cols["key_port_a"],
            "key_ip_b": cols["key_ip_b"],
            "key_port_b": cols["key_port_b"],
        }
        res = featurize_packet_block(g, keys, cfg, scan_times, flush_ts, columns=col_set)
        if "__empty" in res:
            return None
        if col_set is not None:
            missing = [c for c in out_cols if c not in res]
            if missing:  # a gating bug must fail loudly, never emit NaN
                raise RuntimeError(f"kernel pruning dropped {missing}")
        return pa.RecordBatch.from_arrays(
            [
                pa.array(np.asarray(res[f.name]), type=f.type, from_pandas=True)
                for f in arrow_schema
            ],
            schema=arrow_schema,
        )

    def run_partition(batches):
        carry: dict[str, np.ndarray] | None = None
        for b in batches:
            cols = _batch_cols(b)
            if carry is not None and carry["ts_us"].size:
                cols = {
                    k: np.concatenate([carry[k], cols[k]]) for k in cols
                }
            n = cols["ts_us"].size
            if not n:
                continue
            # hold back the trailing key — it may continue in the next batch
            mask = np.ones(n, dtype=bool)
            for c in _KEY_COLS:
                v = cols[c]
                mask &= v == v[n - 1]
            boundary = int(np.flatnonzero(mask)[0])
            carry = {k: v[boundary:] for k, v in cols.items()}
            if boundary:
                out = process_block({k: v[:boundary] for k, v in cols.items()})
                if out is not None:
                    yield out
        if carry is not None and carry["ts_us"].size:
            out = process_block(carry)
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
