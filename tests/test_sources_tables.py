"""``sources/tables.py``: table reads take their schema from the parquet
footer, so building a query starts no schema-inference job."""

from __future__ import annotations

import os

import pytest

from kafka_go_streamer_spark.sources.tables import TABLES, footer_schema, load_table


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_inferred_schema(spark, sf_dir, scale):
    scale_dir = os.path.join(os.path.dirname(sf_dir), scale)
    if not os.path.isdir(scale_dir):
        pytest.skip(f"no fixture at {scale_dir}")
    for t in TABLES:
        path = os.path.join(scale_dir, f"{t}.parquet")
        assert footer_schema(spark, path) == spark.read.parquet(path).schema, t


def test_footer_schema_follows_session_ntz_inference(spark, sf_dir):
    path = os.path.join(sf_dir, "orders.parquet")
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert footer_schema(spark, path) == spark.read.parquet(path).schema
        assert "o_orderdate:timestamp," in footer_schema(spark, path).simpleString()
    finally:
        spark.conf.set(key, before)
    assert "o_orderdate:timestamp_ntz" in footer_schema(spark, path).simpleString()


def test_load_table_starts_no_spark_job(spark, sf_dir):
    sc = spark.sparkContext
    group = "test_load_table_starts_no_spark_job"
    sc.setJobGroup(group, group)
    try:
        frames = [load_table(spark, sf_dir, t) for t in TABLES]
        assert all(f.columns for f in frames)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert dict(frames[TABLES.index("events")].dtypes)["ts"] == "timestamp"
