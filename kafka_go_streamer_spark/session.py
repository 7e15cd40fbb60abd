"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in one JVM; the configs
below are the ones that transfer to a real cluster: AQE for runtime
re-planning (partition coalescing, skew-join splitting), shuffle
partitions sized to parallelism rather than the 200 default, UTC session
timezone so timestamps compare bit-for-bit against the DuckDB oracle,
and Arrow for any pandas-UDF path.

One static conf is about long sessions rather than the cluster: the
generated-code cache is sized to hold every class a full registry pass
compiles, so a warm query reuses its Janino-compiled classes instead of
recompiling them after an LRU eviction.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

#: ``spark.sql.codegen.cache.maxEntries`` (default 100). One 231-query
#: ``bench.py`` headline pass at sf0.001 compiles about 4,250 distinct
#: classes and the five ``analytics-mixed`` queries 168, so at the default
#: every warm pass recompiles nearly all of them (~9 ms each). 8192 holds
#: a whole headline pass with headroom; that pass grows the JVM's
#: Metaspace by ~75 MB (``bench.py`` records it as ``codegen_passes``).
CODEGEN_CACHE_ENTRIES = 8192


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def get_spark(
    app_name: str = "kafka_go_streamer_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    n = cpus or cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold (guide §3.1/§9): same shuffles, no sort
        # of either side — measured −20% across the join-heavy bench
        # subset at sf0.1. Scale-safe: the planner still requires the
        # build side to fit its per-partition bound (falls back to SMJ
        # otherwise), and AQE's OptimizeShuffledHashJoin handles the
        # runtime side. Not a local[32] artifact — this is the
        # standard batch-ETL setting on adequate-memory executors.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_python_workers(spark: SparkSession) -> None:
    """Force-start the Python UDF worker daemons. The first pandas-UDF
    task in a session pays ~30-40 s of worker spin-up (pandas/pyarrow
    imports per daemon) on this container; paying it once up front keeps
    that constant out of per-query timings."""

    def _identity(it):
        yield from it

    spark.range(spark.sparkContext.defaultParallelism).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_identity, "id long").count()
