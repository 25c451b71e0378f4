"""Vector math over ``array<float>`` embedding columns — pure Catalyst.

Everything here is built-in higher-order functions (``transform`` /
``zip_with`` / ``aggregate``), i.e. JVM-side whole-stage-codegen
expressions: no Python UDF in the hot path (SURVEY.md U6).

Oracle-parity note: float dot products are order-sensitive, so the
checked variants run over *quantized* integer vectors
(``round(x*1000)`` per element). All products and partial sums stay
< 2^53, so every summation order yields the exact same double — Spark
and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

QUANT_SCALE = 1000


def quantize(vec: Column) -> Column:
    """array<float> → array<double> of integer-valued elements.

    round(CAST(x AS DOUBLE) * 1000) — both halves exactly representable,
    so Spark HALF_UP and DuckDB round() agree even at .5 ties (both round
    away from zero on the exact double).
    """
    return F.transform(vec, lambda x: F.round(x.cast("double") * QUANT_SCALE, 0))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (JVM expression, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_sq(a: Column) -> Column:
    return dot(a, a)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0 for zero-norm inputs instead of NaN."""
    denom = F.sqrt(norm_sq(a)) * F.sqrt(norm_sq(b))
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


# ---- DuckDB twins ---------------------------------------------------------

SQL_QUANTIZE = "list_transform({v}, x -> round(CAST(x AS DOUBLE) * 1000))"
SQL_DOT = "list_dot_product({a}, {b})"


def sql_cosine(a: str, b: str) -> str:
    return (
        f"CASE WHEN sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b})) > 0 "
        f"THEN list_dot_product({a},{b}) / "
        f"(sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b}))) "
        f"ELSE 0.0 END"
    )
