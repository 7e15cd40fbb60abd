"""Deterministic integer hashes identical in Spark and DuckDB."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_60(col: Column | str) -> Column:
    """The 60-bit md5-slice hash of ``col`` as a BIGINT: the first 15
    hex digits of the md5 of its string form. The DuckDB twin is
    ``('0x' || substr(md5(x::VARCHAR), 1, 15))::BIGINT``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
