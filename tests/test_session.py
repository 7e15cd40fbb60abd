"""``session.get_spark``: a long session keeps its generated code."""

from __future__ import annotations

import time

from kafka_go_streamer_spark.session import CODEGEN_CACHE_ENTRIES

#: Each query compiles two classes (its codegen stage and the collect
#: projection), distinct per query because the literals are inlined into
#: the generated code: 120 classes, more than the default cache holds.
N_QUERIES = 60


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_round(spark) -> None:
    for i in range(N_QUERIES):
        spark.range(4).selectExpr(f"id * {i + 2} + {i} AS x").collect()


def test_codegen_cache_holds_warm_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    t0 = time.perf_counter()
    before = _compiles(spark)
    _run_round(spark)
    first = _compiles(spark) - before
    _run_round(spark)
    second = _compiles(spark) - before - first
    assert first > 100
    assert second == 0
    assert time.perf_counter() - t0 < 30
