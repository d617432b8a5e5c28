"""key_blocks, the sorted-Arrow key-run boundary of the session kernels:
pure pyarrow, no Spark."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from rustiflow_spark.kernel.key_runs import key_blocks, record_batch


def _sorted_table(seed: int) -> pa.Table:
    """Rows sorted by (s, k) with NULL keys in both columns (NULLs first,
    as Spark sorts them), one hot key spanning most rows, and a payload
    column that numbers the rows."""
    rng = np.random.default_rng(seed)
    keys = [(None, None), (None, 1), ("a", None), ("a", 1), ("a", 2), ("b", 7)]
    counts = rng.integers(1, 12, size=len(keys))
    counts[3] = 400  # the hot key
    s, k = [], []
    for (sv, kv), c in zip(keys, counts):
        s += [sv] * int(c)
        k += [kv] * int(c)
    n = len(s)
    run = np.repeat(np.arange(len(keys)), counts)
    return pa.table(
        {
            "s": pa.array(s, type=pa.string()),
            "k": pa.array(k, type=pa.int64()),
            "row": pa.array(np.arange(n)),
            "run": pa.array(run),
        }
    )


def _random_batches(tbl: pa.Table, rng) -> list[pa.RecordBatch]:
    """The table cut at random points, with empty batches mixed in."""
    whole = tbl.combine_chunks().to_batches()[0]
    n = whole.num_rows
    cuts = np.sort(rng.choice(np.arange(1, n), size=rng.integers(1, 60), replace=False))
    edges = [0, *cuts.tolist(), n]
    out = []
    for a, b in zip(edges[:-1], edges[1:]):
        if rng.random() < 0.2:
            out.append(whole.slice(a, 0))
        out.append(whole.slice(a, b - a))
    out.append(whole.slice(n, 0))
    return out


@pytest.mark.parametrize("seed", range(8))
def test_key_blocks_cut_whole_runs(seed):
    tbl = _sorted_table(seed)
    rng = np.random.default_rng(100 + seed)
    batches = _random_batches(tbl, rng)
    assert sum(b.num_rows for b in batches) == tbl.num_rows
    out = list(key_blocks(iter(batches), ["s", "k"]))

    blocks = [b for b, _ in out]
    assert all(b.num_rows for b in blocks)
    # the blocks reproduce the input, in order
    assert pa.Table.from_batches(blocks).equals(tbl)
    seen_runs: set[int] = set()
    for block, ids in out:
        run = block.column("run").to_numpy()
        # every key lies wholly inside one block
        assert not seen_runs & set(run.tolist())
        seen_runs |= set(run.tolist())
        # key_ids is the dense run index, NULL keys grouped
        assert ids.dtype == np.int64
        np.testing.assert_array_equal(ids, run - run[0])


def test_key_blocks_one_key_many_batches():
    tbl = pa.table({"k": pa.array([None] * 50, type=pa.int64()), "v": np.arange(50)})
    batches = tbl.to_batches(max_chunksize=3)
    ((block, ids),) = key_blocks(iter(batches), ["k"])
    assert block.column("v").to_pylist() == list(range(50))
    assert ids.tolist() == [0] * 50


def test_key_blocks_nan_and_null_float_keys():
    """NaN equals NaN and NULL equals NULL, as in Spark's grouping (Spark
    sorts NULLs first and NaN last)."""
    tbl = pa.table({"k": pa.array([None, None, 1.0, 1.0, np.nan, np.nan], type=pa.float64())})
    out = list(key_blocks(iter(tbl.to_batches(max_chunksize=1)), ["k"]))
    assert [b.num_rows for b, _ in out] == [2, 2, 2]
    assert all(ids.tolist() == [0, 0] for _, ids in out)


def test_key_blocks_empty_partition():
    schema = pa.schema([("k", pa.int64())])
    empty = pa.RecordBatch.from_pylist([], schema=schema)
    assert list(key_blocks(iter([]), ["k"])) == []
    assert list(key_blocks(iter([empty, empty]), ["k"])) == []


def test_record_batch_mixes_numpy_and_arrow():
    schema = pa.schema([("k", pa.string()), ("x", pa.float64()), ("n", pa.int32())])
    res = {
        "k": pa.array(["a", None]),
        "x": np.array([1.5, np.nan]),
        "n": np.array([1, 2]),
    }
    out = record_batch(res, schema)
    assert out.schema == schema
    assert out.to_pydict() == {"k": ["a", None], "x": [1.5, None], "n": [1, 2]}
