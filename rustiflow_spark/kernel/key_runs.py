"""Key runs of a sorted Arrow stream: the one mapInArrow boundary.

Every session kernel gets its partition as Arrow batches sorted by
(key, ts, seq), cut by Spark at arbitrary row counts, so one key's run of
rows can span many batches. ``key_blocks`` regroups the stream into blocks
that hold only whole key runs and numbers the runs; the kernels only ever
see whole keys (the analog of one FlowTable entry receiving all of its
flow's packets in arrival order).

Keys are compared with "is distinct from" semantics, and NaN equals NaN:
as in Spark's grouping, NULL-key and NaN-key rows each form one run like
any other value.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def _differs(a: pa.Array, b: pa.Array) -> pa.BooleanArray:
    """Row-wise ``a IS DISTINCT FROM b`` (never NULL); NaN equals NaN."""
    ne = pc.fill_null(pc.not_equal(a, b), False)
    if pa.types.is_floating(a.type):
        both_nan = pc.and_(pc.is_nan(a), pc.is_nan(b))
        ne = pc.and_not(ne, pc.fill_null(both_nan, False))
    if a.null_count or b.null_count:
        ne = pc.or_(ne, pc.xor(pc.is_null(a), pc.is_null(b)))
    return ne


def _key_starts(batch: pa.RecordBatch, key_cols: list[str], prev) -> np.ndarray:
    """True where a row starts a new key run. Row 0 is compared with
    ``prev``, the previous row's batch (a run start when None)."""
    n = batch.num_rows
    starts = np.zeros(n, dtype=bool)
    starts[0] = prev is None
    for c in key_cols:
        col = batch.column(c)
        if n > 1:
            starts[1:] |= _differs(col.slice(1), col.slice(0, n - 1)).to_numpy(
                zero_copy_only=False
            )
        if prev is not None and not starts[0]:
            last = prev.column(c).slice(prev.num_rows - 1, 1)
            starts[0] = _differs(col.slice(0, 1), last)[0].as_py()
    return starts


def key_blocks(batches, key_cols: list[str]):
    """Yield ``(block, key_ids)`` for the sorted ``batches`` of a partition.

    ``block`` is a RecordBatch holding whole key runs only, in input order;
    ``key_ids`` is the dense int64 run index of each of its rows. The
    trailing run of each batch waits in a pending list until a later batch
    starts a new key, so every row is compared once and copied at most once
    (linear in rows, however many batches one key spans). Empty batches are
    skipped; an empty partition yields nothing."""
    pending: list[tuple[pa.RecordBatch, np.ndarray]] = []

    def emit(parts):
        block = _concat_batches([b for b, _ in parts])
        starts = np.concatenate([s for _, s in parts])
        return block, np.cumsum(starts, dtype=np.int64) - 1

    for b in batches:
        if not b.num_rows:
            continue
        starts = _key_starts(b, key_cols, pending[-1][0] if pending else None)
        idx = np.flatnonzero(starts)
        if not idx.size:  # the whole batch continues the pending run
            pending.append((b, starts))
            continue
        cut = int(idx[-1])
        parts = pending + ([(b.slice(0, cut), starts[:cut])] if cut else [])
        if parts:
            yield emit(parts)
        pending = [(b.slice(cut), starts[cut:])]
    if pending:
        yield emit(pending)


def _concat_batches(batches):
    """One RecordBatch with every row of ``batches``, in order.

    pa.concat_arrays raises (offset overflow) instead of splitting a
    column that does not fit one array, so no row is ever dropped."""
    if len(batches) == 1:
        return batches[0]
    return pa.RecordBatch.from_arrays(
        [
            pa.concat_arrays([b.column(i) for b in batches])
            for i in range(batches[0].num_columns)
        ],
        schema=batches[0].schema,
    )


def _require_no_nulls(batch, names: list[str]) -> None:
    """Raise if a kernel input column holds NULL: to_numpy would turn it
    into NaN and astype(int64) into an arbitrary integer."""
    for name in names:
        nulls = batch.column(name).null_count
        if nulls:
            raise ValueError(
                f"column {name!r} has {nulls} NULL value(s); the session "
                "kernel needs every row's value (filter or fill them first)"
            )


def record_batch(res: dict, schema: pa.Schema) -> pa.RecordBatch:
    """RecordBatch of ``schema`` from a kernel's result columns (numpy
    arrays or Arrow arrays). from_pandas=True turns NaN into NULL for
    doubles, as the pandas serializer did."""

    def column(f):
        v = res[f.name]
        if isinstance(v, pa.Array):
            return v
        return pa.array(np.asarray(v), type=f.type, from_pandas=True)

    return pa.RecordBatch.from_arrays([column(f) for f in schema], schema=schema)
