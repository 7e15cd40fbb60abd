"""Vector column expressions for similarity search over
``array<float>`` embedding columns.

Dot products / norms / cosine are built from Spark's higher-order array
functions (``zip_with`` + ``aggregate``) — JVM-side, no UDF, so a
brute-force scan is a plain projection that scales linearly and
pipelines inside codegen. All math is done in DOUBLE on both engines so
the DuckDB oracle hashes match after rounding.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right dot product (same accumulation order as
    the SQL twin)."""
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def dot_sql(a: str, b: str) -> str:
    """DuckDB twin: list_dot_product over DOUBLE lists."""
    return f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"


def norm_sql(a: str) -> str:
    return f"sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"


def vector_literal(values: list[float]) -> Column:
    """A query vector as a literal array column (broadcast to every row
    for brute-force scoring)."""
    return F.array(*[F.lit(float(v)) for v in values])
