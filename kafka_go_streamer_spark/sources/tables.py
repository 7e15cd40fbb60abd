"""Batch table sources over the driver-provided parquet test data.

Parquet is the batch-source analogue of the reference's only source (a
Kafka consumer, reference main.go:348-367): columnar scan with predicate
pushdown and column pruning — filters and projections written against
these DataFrames reach the scan (check ``PushedFilters`` / ``ReadSchema``
in ``df.explain("formatted")``).

Every read takes its schema from the parquet footer (pyarrow metadata,
no Spark job), mapped with the session's own NTZ inference rule, so
building a query starts no schema-inference job and the schema equals
the one ``spark.read.parquet`` would infer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at every scale factor
#: (region/nation are fixed-size; supplier/part/customer grow slowly).
BROADCAST_DIMS = ("region", "nation", "supplier")


def _fix_nanos(df: DataFrame) -> DataFrame:
    """Normalize the event-time column to TIMESTAMP (with local tz).

    The fixtures store ``ts`` as timestamp[us] without a timezone, which
    a Spark 4 session reads as TIMESTAMP_NTZ. Cast it to TIMESTAMP:
    value-identical under the UTC session timezone, and required by
    LTZ-only operations (watermarks, epoch casts)."""
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def footer_schema(spark: SparkSession, path: str) -> StructType:
    """The Spark schema of a parquet file, from its footer alone — no
    Spark job, no scan. Timezone-less timestamps map to TIMESTAMP_NTZ
    exactly when the session's parquet reader would infer them so."""
    import pyarrow.parquet as pq

    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    return from_arrow_schema(
        pq.read_schema(path), prefer_timestamp_ntz=ntz.lower() == "true"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(footer_schema(spark, path)).parquet(path)
    return _fix_nanos(df) if name == "events" else df


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition to cluster parallelism.

    The test parquet files ship as a single row group, so Spark scans
    each table in ONE task no matter what ``maxPartitionBytes`` says;
    any expression-heavy operator downstream (md5 minhashing, regex
    sweeps, pandas decode) would run single-threaded without this. On a
    real cluster with properly-sized files the scan parallelizes itself
    and this shuffle is skipped by passing the natural partitioning —
    use it only in front of CPU-dense pipelines where one extra shuffle
    of the raw input is cheaper than serial evaluation."""
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


#: Target rows per Arrow task for LIGHTWEIGHT pandas stages (µs-per-row
#: work like the structural header decode): below roughly this many rows
#: per task, the per-task Python-worker round-trip (~7 ms measured on
#: this container: 32-task vs 8-task fan of the same 5k-row decode)
#: costs more than the compute it parallelizes. CPU-dense stages
#: (shingle explodes, brute-force panel scoring) should keep the full
#: ``fan_out`` — their per-row cost is orders of magnitude higher.
ARROW_TASK_ROWS = 2000


def table_rows(sf_dir: str, table: str) -> int:
    """Row count from the parquet footer — metadata only, no Spark job,
    no scan. The stat a real catalog would serve."""
    import pyarrow.parquet as pq

    return pq.read_metadata(
        os.path.join(sf_dir, f"{table}.parquet")
    ).num_rows


#: Target rows per task for CPU-DENSE JVM text stages (per-byte regex
#: sweeps, trigram explodes, feature projections): their per-row cost
#: (~0.1-1 ms) amortizes the task overhead far sooner than the Arrow
#: stages above, but fanning a small fixture to full cluster width
#: multiplies every downstream stage of a pinned frame by the task
#: overhead — measured +0.5-2.5 s per query at sf0.1 when the r17
#: text fans used the full 32 (the pin's 32 blocks feed ~6 jobs of
#: 32 near-empty tasks each). 1000 rows/task keeps sf0.1 at ~5
#: partitions (overhead-free) and reaches full width by sf1.
CPU_TASK_ROWS = 1000


def cpu_fan(spark: SparkSession, df: DataFrame, sf_dir: str,
            table: str = "documents") -> DataFrame:
    """Row-aware :func:`fan_out` for CPU-dense text stages: width from
    the parquet footer row count at CPU_TASK_ROWS rows/task, capped at
    cluster parallelism. Fixes the r17 c8-vs-c32 sf1.0 finding that
    the per-byte text queries ran their whole projection in the ONE
    task the single-row-group fixture scan provides (12.3 s serial for
    text_char_entropy at sf1.0 on 32 idle cores), without paying full
    fan width on the sf0.1 bench fixture. A real cluster's pre-split
    scan makes this a no-op-sized shuffle."""
    return fan_out(
        df, fan_width(spark, table_rows(sf_dir, table), CPU_TASK_ROWS)
    )


def fan_width(
    spark: SparkSession, rows: int, per_task: int = ARROW_TASK_ROWS
) -> int:
    """Stat-based fan-out width for lightweight Arrow stages: enough
    tasks to amortize the Python-worker round-trip, capped at cluster
    parallelism — the local analogue of AQE's stat-based partition
    sizing, for the one-row-group fixture where the scan hands Spark no
    split stats. On a real cluster the input arrives pre-split and
    ``fan_out`` is skipped entirely (see its docstring)."""
    return max(
        1,
        min(spark.sparkContext.defaultParallelism, -(-rows // per_task)),
    )
