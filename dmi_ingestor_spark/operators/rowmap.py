"""The shared Python entry points over ``mapInPandas``: ``map_rows``,
``fold_series`` and ``scan_topk``.

The recurring shape of every payload decoder (a binary column holding a
cube, an archive, a codec stream or a written file) is "for each input
row, emit zero or more output tuples". :func:`map_rows` is that shape
once: the per-batch iteration and the output frame live here, and the
output column names come from the schema, so a call site states its
columns once. :func:`fold_series` is the per-key recurrence on top of
it: each key's rows packed into one sorted series, then a plain Python
loop over that series. :func:`scan_topk` is the partitioned top-k of the
similarity queries: a per-batch top-k in one scan, merged by one window.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
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


def fold_series(
    df: DataFrame,
    keys: Sequence[str],
    order: str | Sequence[str],
    cols: Sequence[str],
    schema: str | StructType,
    fn: Callable[[tuple, list[tuple]], Iterable[tuple]],
) -> DataFrame:
    """Run ``fn(key, rows)`` once per key of ``df`` over its sorted series.

    Each key's rows are packed into one ``array_sort(collect_list(
    struct(*order, *cols)))`` (one hash aggregate on ``keys``; no keys
    is one global series, present even when ``df`` is empty), and
    :func:`map_rows` calls ``fn`` on it. ``key`` is the tuple of key
    values; ``rows`` is the list of ``(*order, *cols)`` tuples sorted by
    ``order``, every value a plain Python ``int``/``float``/``str``
    (numpy ``int64`` would wrap silently; a Python ``int`` is exact, and
    an output value out of its column's range raises). ``fn`` returns
    the output tuples in ``schema`` order: none, one or many per key.
    The loop is O(series length) per key; the per-key memory bound is
    the packed series, as for any collect_list.
    """
    order = [order] if isinstance(order, str) else list(order)
    fields = [*order, *cols]
    series = F.array_sort(F.collect_list(F.struct(*fields)))
    packed = df.groupBy(*keys).agg(series.alias("_series")).select(
        *keys, *[F.col("_series")[f].alias(f"_f{i}") for i, f in enumerate(fields)]
    )
    nk = len(keys)

    def run(row: tuple) -> Iterable[tuple]:
        return fn(tuple(row[:nk]), list(zip(*(a.tolist() for a in row[nk:]))))

    return map_rows(packed, schema, run)


def scan_topk(
    corpus: DataFrame,
    schema: str,
    score: Callable[[pd.DataFrame], pd.DataFrame | None],
    k: int,
    by: str | list[str],
    order: Sequence[str | Column],
) -> DataFrame:
    """The top ``k`` rows per ``by`` key, by ``order``, in one scan of ``corpus``.

    ``score(pdf)`` runs on each non-empty Arrow batch of ``corpus`` and
    returns that batch's candidates as a frame with ``schema``'s columns,
    at most ``k`` per ``by`` key (usually through ``gram.topk``), or
    ``None`` for none. A row of the global top-k is in the top-k of its
    own batch, so one ``row_number`` window over ``by``, ordered by
    ``order``, ranks a superset of the answer; the rows with
    ``rk <= k`` come out with ``rk`` appended to ``schema``'s columns.
    ``order`` must be a total order within a key (end it with an id),
    or ties make the kept rows depend on the batching.
    """

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) and (out := score(pdf)) is not None:
                yield out

    w = Window.partitionBy(by).orderBy(*order)
    return (
        corpus.mapInPandas(_run, schema)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )
