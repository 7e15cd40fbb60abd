"""The local replica harness must have the SAME discriminating power
as the driver's dtype-sensitive value hash: equal values with a
different dtype class (0 vs 0.0, date vs datetime) are a MISMATCH.

Round-7 lesson: three oracles emitted un-cast ``sum(CASE WHEN …)``
columns — DuckDB types those HUGEINT, pandas lands them as float64,
Spark returns int64 — and the then-lenient ``compare()`` passed them
locally (0 == 0.0) while the driver's hash failed all three. These
tests pin (a) the strict comparison itself and (b) that the PRE-FIX
un-cast oracle form now fails the replica."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest

from kafka_go_streamer_spark.plans import ORACLES, QUERIES
from tests.oracle_harness import compare, duck_connection


def test_equal_values_different_int_float_class_mismatch():
    a = pd.DataFrame({"n": pd.Series([0, 3], dtype="int64")})
    b = pd.DataFrame({"n": pd.Series([0.0, 3.0], dtype="float64")})
    problems = compare(a, b)
    assert problems and "dtype class" in problems[0]


def test_date_object_vs_datetime64_mismatch():
    a = pd.DataFrame({"d": [datetime.date(2024, 1, 1)]})
    b = pd.DataFrame({"d": pd.to_datetime(["2024-01-01"])})
    problems = compare(a, b)
    assert problems and "dtype class" in problems[0]


def test_bool_vs_int_mismatch():
    a = pd.DataFrame({"f": pd.Series([True, False])})
    b = pd.DataFrame({"f": pd.Series([1, 0], dtype="int64")})
    problems = compare(a, b)
    assert problems and "dtype class" in problems[0]


def test_int_width_does_not_mismatch():
    a = pd.DataFrame({"n": pd.Series([1, 2], dtype="int32")})
    b = pd.DataFrame({"n": pd.Series([1, 2], dtype="int64")})
    assert compare(a, b) == []


def test_prefix_uncast_oracle_fails_replica(spark, sf_dir):
    """The round-7 red row, reproduced: strip the ``::BIGINT`` casts
    from the welch oracle (the exact pre-fix form) and the replica must
    now report a dtype-class mismatch against the Spark result."""
    sql = ORACLES["stats_ab_welch_ttest"]
    assert "::BIGINT" in sql
    prefix_form = sql.replace(
        "sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT",
        "sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)",
    ).replace(
        "sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT",
        "sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)",
    )
    spdf = QUERIES["stats_ab_welch_ttest"](spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        fixed = con.execute(sql).df()
        broken = con.execute(prefix_form).df()
    finally:
        con.close()
    assert compare(spdf, fixed) == []
    problems = compare(spdf, broken)
    assert problems and "dtype class" in problems[0]


#: Spark simpleString type → coarse dtype class a pandas conversion of
#: that column will land in. Types absent here are skipped (arrays,
#: structs, decimals — the full parity sweep still value-checks them).
_SPARK_CLASS = {
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "bigint": "int",
    "float": "float",
    "double": "float",
    "boolean": "bool",
    "timestamp": "datetime",
    "timestamp_ntz": "datetime",
    "date": "date",
    "string": "str",
}


@pytest.mark.slow  # executes all 280+ DuckDB oracles (~2 min)
@pytest.mark.timeout(600)
def test_every_oracle_integer_columns_cast(spark, sf_dir, built_query, oracle_df):
    """Registry-wide dtype contract: execute EVERY oracle (DuckDB only
    — cheap) and require each output column's dtype class to match the
    class the Spark plan's SCHEMA promises — in particular no float64
    column that exists only because an integer sum was left un-cast
    (DuckDB HUGEINT → pandas float64). Schema-only on the Spark side,
    so this fails fast without re-executing the 170+ Spark plans (the
    parity sweep value-checks them); it would have caught all three
    round-7 red rows and the window_gap_islands date-vs-timestamp
    drift."""
    from tests.oracle_harness import _dtype_class

    # construction + oracle execution are session-memoized (conftest):
    # this test pays them once and the parity sweep reuses both
    bad: list[str] = []
    for name in sorted(ORACLES):
        fields = {
            f.name: f.dataType.simpleString()
            for f in built_query(name).schema
        }
        ddf = oracle_df(name)
        for c in ddf.columns:
            if c not in fields or fields[c] not in _SPARK_CLASS:
                continue  # column-name drift is the parity test's job
            if ddf[c].isna().all():
                continue  # class of an all-null column is unknowable
            ka, kb = _SPARK_CLASS[fields[c]], _dtype_class(ddf[c])
            if ka == "int" and kb == "float" and ddf[c].isna().any():
                # NULLs promote int64 → float64 in pandas on BOTH
                # sides (rollup super-aggregates, first-row lag), so
                # the engines still agree — not the HUGEINT signature
                continue
            if ka != kb:
                bad.append(f"{name}.{c}: spark={ka} duck={kb}")
    assert not bad, "; ".join(bad)
