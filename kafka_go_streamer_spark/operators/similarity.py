"""Similarity search over embedding columns (``array<float>``).

Random-hyperplane LSH (SimHash for vectors): H fixed hyperplanes ->
H-bit signature -> bucket equi-join. Candidate generation never
materializes all pairs; at cluster scale the bucket join is an ordinary
shuffle join on a short key. Hyperplanes are derived deterministically
from md5 so Spark and the SQL oracle share them as literals.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.vectors import as_double, vector_literal


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-0.5, 0.5]^dim, seeded
    by md5(plane|dim) — reproducible anywhere, no RNG state."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}|{d}".encode()).hexdigest()[:8]
            row.append(int(h, 16) / 0xFFFFFFFF - 0.5)
        planes.append(row)
    return planes


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Signature = integer whose bit p is sign(plane_p . vec)."""
    v = as_double(vec)
    sig = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(v, vector_literal(plane), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(d > 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def _spark_double_lit(x: float) -> str:
    """Spark SQL double literal: plain decimals need the ``D`` suffix
    (they'd parse as DECIMAL and change the arithmetic); exponent forms
    are already DOUBLE. ``repr`` round-trips exactly in both parsers."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s) else s + "D"


def lsh_signature_spark_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """Spark-SQL string form of :func:`lsh_signature` — semantically
    identical (same zip_with/aggregate fold, same plane literals, same
    left-to-right IEEE summation), but parsed JVM-side in ONE call.

    The Column form builds ~planes x dim literal nodes through py4j;
    at 16 planes x 64 dims that is ~0.85 s of DRIVER time per plan
    build — more than the query's whole execution at bench scale, and
    per-invocation (the driver harness and bench rebuild plans each
    pass). The SQL string costs one parse."""
    sig_terms = []
    for p, plane in enumerate(planes):
        lits = ", ".join(_spark_double_lit(x) for x in plane)
        d = (
            f"aggregate(zip_with(CAST({vec_expr} AS ARRAY<DOUBLE>), "
            f"array({lits}), (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        )
        sig_terms.append(f"(CASE WHEN {d} > 0D THEN {2**p}L ELSE 0L END)")
    return "CAST(" + " + ".join(sig_terms) + " AS BIGINT)"


def lsh_signature_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """DuckDB twin: identical plane literals, identical sign rule."""
    terms = []
    for p, plane in enumerate(planes):
        lits = ", ".join(repr(float(x)) for x in plane)
        d = f"list_dot_product({vec_expr}::DOUBLE[], [{lits}]::DOUBLE[])"
        terms.append(f"(CASE WHEN {d} > 0 THEN {2**p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::BIGINT"
