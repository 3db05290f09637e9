"""The per-row Python boundary.

Every operator whose Python work is a function of one input row —
media decode and feature extraction, stub inference, the bounded
media-catalog scan — crosses into Python through `map_rows`, so the
Arrow batch → Python row → Arrow batch conversion lives in one place.
Operators whose Python side keeps per-partition state, and for which
that state is the operator (inference.generate_embeddings' frame LRU,
decomposition's Gram accumulator), call mapInPandas themselves.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pandas as pd
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
