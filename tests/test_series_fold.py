"""operators.rowmap.fold_series: one Python loop over each key's sorted series.

The recurrence builders (Holt, Holt-Winters, Croston, adstock, DTW,
Viterbi, Kaplan-Meier) are ``fold_series`` calls; these tests pin the helper's
contract, the truncating division the integer recurrences use, and that
no in-plan ``F.aggregate`` fold grows its accumulator with ``F.concat``
(an array copy per step, quadratic in series length).
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from dmi_ingestor_spark.operators.rowmap import fold_series
from dmi_ingestor_spark.queries.aggregates import _tdiv

QUERIES = pathlib.Path(__file__).resolve().parents[1] / "dmi_ingestor_spark" / "queries"


def _echo():
    # a closure, so cloudpickle ships it by value (a test-module-level
    # function is not importable on workers)
    def fn(key, rows):
        kinds = ",".join(type(v).__name__ for r in [key, *rows] for v in r)
        return [(*key, i, *r, kinds) for i, r in enumerate(rows)]

    return fn


def test_fold_series_sorts_each_key_and_passes_python_scalars(spark):
    # unsorted input over 3 partitions; key ("c", 3) has one row, and
    # x = 2**62 would wrap in numpy int64 arithmetic
    src = spark.createDataFrame(
        [
            ("a", 1, 5, 2**62, 0.5),
            ("b", 2, 9, -3, 1.25),
            ("a", 1, 2, 7, -2.0),
            ("c", 3, 1, 1, 0.0),
            ("b", 2, -4, 11, 3.5),
            ("a", 1, 3, -1, 9.0),
        ],
        "k string, g long, t long, x long, y double",
    ).repartition(3)
    out = fold_series(
        src, ["k", "g"], "t", ["x", "y"],
        "k string, g long, i long, t long, x long, y double, kinds string",
        _echo(),
    )
    got = sorted(tuple(r) for r in out.collect())
    rows = [r[:6] for r in got]
    assert rows == [
        ("a", 1, 0, 2, 7, -2.0),
        ("a", 1, 1, 3, -1, 9.0),
        ("a", 1, 2, 5, 2**62, 0.5),
        ("b", 2, 0, -4, 11, 3.5),
        ("b", 2, 1, 9, -3, 1.25),
        ("c", 3, 0, 1, 1, 0.0),
    ]
    kinds = {r[0]: r[6] for r in got}
    assert kinds == {
        "a": "str,int" + ",int,int,float" * 3,
        "b": "str,int" + ",int,int,float" * 2,
        "c": "str,int,int,int,float",
    }


def test_fold_series_exact_python_ints_and_range_check(spark):
    src = spark.createDataFrame([(1, 2**62)], "t long, x long")

    def scaled(_key, rows):
        # 4 * 2**62 wraps to 0 in int64; a Python int stays exact
        return [((4 * x) // 8,) for _, x in rows]

    assert fold_series(src, [], "t", ["x"], "v long", scaled).first()[0] == 2**61

    def too_big(_key, rows):
        return [(4 * x,) for _, x in rows]

    with pytest.raises(PythonException, match="OverflowError"):
        fold_series(src, [], "t", ["x"], "v long", too_big).collect()


def test_fold_series_without_keys_folds_one_series_even_when_empty(spark):
    def count(key, rows):
        return [(len(key), len(rows))]

    empty = spark.createDataFrame([], "t long, x long")
    out = fold_series(empty, [], "t", ["x"], "nk long, n long", count)
    assert [tuple(r) for r in out.collect()] == [(0, 0)]


_TDIV_XS = [-(2**53), -(2**53) + 1, -9, -8, -7, -5, -4, -3, -1, 0, 1, 3, 4, 5, 7, 8, 9,
            2**53 - 1, 2**53]
_TDIV_DS = [4, 7]


@pytest.fixture(scope="module")
def spark_tdiv(spark):
    x, d = F.col("x"), F.col("d")
    df = spark.createDataFrame(
        [(x_, d_) for x_ in _TDIV_XS for d_ in _TDIV_DS], "x long, d long"
    ).select("x", "d", ((x - x % d) / d).cast("long").alias("q"))
    return {(r.x, r.d): r.q for r in df.collect()}


@pytest.mark.parametrize("d", _TDIV_DS)
@pytest.mark.parametrize("x", _TDIV_XS)
def test_tdiv_matches_spark_truncating_division(spark_tdiv, x, d):
    assert _tdiv(x, d) == spark_tdiv[(x, d)]


def _is_f(node: ast.AST, name: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def concat_folds(source: str, filename: str) -> list[str]:
    """``file:line`` of each ``F.aggregate`` whose merge function (a
    lambda, or a def of that name in the same top-level function) calls
    ``F.concat``."""
    hits = []
    for top in ast.parse(source).body:
        local = {n.name: n for n in ast.walk(top) if isinstance(n, ast.FunctionDef)}
        for call in ast.walk(top):
            if not _is_f(call, "aggregate") or len(call.args) < 3:
                continue
            merge = call.args[2]
            body = local.get(merge.id) if isinstance(merge, ast.Name) else merge
            if body is not None and any(_is_f(n, "concat") for n in ast.walk(body)):
                hits.append(f"{filename}:{call.lineno}")
    return hits


def test_concat_fold_detector_sees_both_merge_forms():
    src = (
        "def a():\n"
        "    def step(acc, x):\n"
        "        return F.concat(acc, F.array(x))\n"
        "    return F.aggregate(c, z, step)\n"
        "def b():\n"
        "    return F.aggregate(c, z, lambda acc, x: F.concat(acc, F.array(x)))\n"
        "def c():\n"
        "    def step(acc, x):\n"
        "        return acc + x\n"
        "    return F.concat(F.aggregate(c, z, step), F.array(z))\n"
    )
    assert concat_folds(src, "m.py") == ["m.py:4", "m.py:6"]


def test_no_in_plan_fold_appends_with_concat():
    hits = [
        hit
        for path in sorted(QUERIES.glob("*.py"))
        for hit in concat_folds(path.read_text(), path.name)
    ]
    assert hits == []
