"""Row decoder over ``mapInPandas``: one input row in, any number of rows out.

The recurring shape of every payload decoder (a binary column holding a
cube, an archive, a codec stream or a written file) is "for each input
row, emit zero or more output tuples". :func:`map_rows` is that shape
once: the per-batch iteration and the output frame live here, and the
output column names come from the schema, so a call site states its
columns once.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def map_rows(
    df: DataFrame,
    schema: str | StructType,
    fn: Callable[[Any], Iterable[tuple]],
) -> DataFrame:
    """Run ``fn(row)`` for every row of ``df`` in one ``mapInPandas``.

    ``row`` is a namedtuple of the input columns (``row.payload``);
    ``fn`` returns the output tuples for it, in ``schema``'s column
    order — none, one or many. ``schema`` is a DDL string or a
    ``StructType``. Narrow: partitioning is preserved, nothing shuffles.
    """
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    names = struct.fieldNames()

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [out for row in pdf.itertuples(index=False) for out in fn(row)]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(_run, struct)
