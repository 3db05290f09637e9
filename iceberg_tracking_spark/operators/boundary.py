"""The Python boundaries: per row and per group.

Every operator whose Python work is a function of one input row —
media decode and feature extraction, stub inference, the bounded
media-catalog scan — crosses into Python through `map_rows`, so the
Arrow batch → Python row → Arrow batch conversion lives in one place.

Every operator that keeps a subset of each group's rows — greedy NMS,
nested-box removal and greedy 1:1 matching (operators/nms.py) —
crosses through `filter_groups`: one shuffle, one sort, then numpy
views of Arrow batches with no pandas round trip; the kept rows leave
as `take`s of the input batches.

Operators whose Python side keeps per-partition state, and for which
that state is the operator (inference.generate_embeddings' frame LRU,
decomposition's Gram accumulator), call mapInPandas themselves.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import DataType


def map_rows(
    df: DataFrame,
    schema: str,
    per_row: Callable[[Any], Iterable[tuple]],
) -> DataFrame:
    """Apply `per_row` to every row of `df` in one Arrow-batched
    mapInPandas.

    `per_row` receives one row as a namedtuple of `df`'s columns and
    returns (or yields) zero or more tuples in the column order of
    `schema`, a DDL string such as "media_id long, px_sum long". The
    output column names are read from `schema`. Output rows follow
    input row order, and one row's tuples keep the order they were
    produced in. Anything `per_row` closes over is pickled to the
    executors once per task, so a model or codec built on the driver
    is loaded once per partition, not once per row."""
    names = DataType.fromDDL(schema).names

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [out for r in pdf.itertuples(index=False) for out in per_row(r)],
                columns=names,
            )

    return df.mapInPandas(_batches, schema=schema)


class Group:
    """One group's rows as numpy arrays: `g["conf"]` is the column's
    values for this group, nulls as NaN (an integer column with nulls
    becomes float64, as in pandas). A column is converted once per
    Arrow batch and sliced per group; `len(g)` is the row count."""

    __slots__ = ("_arrays", "_batch", "_lo", "_hi")

    def __init__(self, batch: pa.RecordBatch, arrays: dict, lo: int, hi: int):
        self._batch, self._arrays, self._lo, self._hi = batch, arrays, lo, hi

    def __len__(self) -> int:
        return self._hi - self._lo

    def __getitem__(self, name: str) -> np.ndarray:
        a = self._arrays.get(name)
        if a is None:
            a = self._batch.column(name).to_numpy(zero_copy_only=False)
            self._arrays[name] = a
        return a[self._lo : self._hi]


def _key_differs(a: pa.RecordBatch, b: pa.RecordBatch, keys: Sequence[str]) -> np.ndarray:
    """Row by row, whether `a` and `b` (same length) hold different
    group keys. Keys compare null-safely: null equals null, NaN equals
    NaN — the grouping `groupBy` applies."""
    differs = np.zeros(a.num_rows, dtype=bool)
    for name in keys:
        x, y = a.column(name), b.column(name)
        ne = pc.fill_null(pc.not_equal(x, y), False)
        if pa.types.is_floating(x.type):
            ne = pc.and_not(ne, pc.fill_null(pc.and_(pc.is_nan(x), pc.is_nan(y)), False))
        ne = pc.or_(ne, pc.xor(pc.is_valid(x), pc.is_valid(y)))
        differs |= ne.to_numpy(zero_copy_only=False)
    return differs


def filter_groups(
    df: DataFrame,
    group_cols: Sequence[str],
    keep: Callable[[Group], Sequence[int]],
) -> DataFrame:
    """Keep, per group of `group_cols`, the rows `keep` selects.

    One `repartition(*group_cols).sortWithinPartitions(*group_cols)
    .mapInArrow`: each partition arrives as Arrow batches sorted by
    the group key, so every group is one contiguous run of rows. Each
    batch is cut where the key changes; a group that runs on into the
    next batch is carried as a list of pieces and concatenated once,
    so memory stays within the largest group plus two batches (as with
    applyInPandas). `keep(group)` receives a `Group` (numpy views of
    the group's columns) and returns row positions within the group;
    those rows leave as one `take` of the input batch. Output rows are
    input rows, byte for byte, with `df`'s schema. Null keys form one
    group, as in `groupBy`. Key columns must be Arrow-comparable
    scalars (numbers, strings, dates, timestamps). `keep` is pickled to
    the executors once per task."""
    keys = list(group_cols)

    def _take(batch: pa.RecordBatch, idx: list[np.ndarray]) -> Iterator[pa.RecordBatch]:
        rows = np.concatenate(idx) if idx else ()
        if len(rows):
            yield batch.take(rows)

    def _kept(batch: pa.RecordBatch, arrays: dict, lo: int, hi: int) -> np.ndarray:
        return np.asarray(keep(Group(batch, arrays, lo, hi)), np.int64) + lo

    def _flush(pieces: list[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        if len(pieces) == 1:
            group = pieces[0]
        else:
            group = pa.Table.from_batches(pieces).combine_chunks().to_batches()[0]
        yield from _take(group, [_kept(group, {}, 0, group.num_rows)])

    def _batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pending: list[pa.RecordBatch] = []
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            if pending:
                tail = pending[-1].slice(pending[-1].num_rows - 1)
                if _key_differs(tail, batch.slice(0, 1), keys)[0]:
                    yield from _flush(pending)
                    pending = []
            breaks = np.flatnonzero(_key_differs(batch.slice(1), batch.slice(0, n - 1), keys))
            cuts = [0, *(breaks + 1).tolist(), n]
            arrays: dict = {}
            idx: list[np.ndarray] = []
            for k, (lo, hi) in enumerate(zip(cuts[:-1], cuts[1:])):
                last = k == len(cuts) - 2
                if k == 0 and pending:  # continues the carried group
                    pending.append(batch.slice(lo, hi - lo))
                    if not last:
                        yield from _flush(pending)
                        pending = []
                elif last:  # may run on into the next batch
                    pending = [batch.slice(lo, hi - lo)]
                else:
                    idx.append(_kept(batch, arrays, lo, hi))
            yield from _take(batch, idx)
        if pending:
            yield from _flush(pending)

    return (
        df.repartition(*keys)
        .sortWithinPartitions(*keys)
        .mapInArrow(_batches, schema=df.schema)
    )
