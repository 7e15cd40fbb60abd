"""Streaming wrap of the routing core.

The reference runs one consume/produce goroutine pair per spliter
(reference main.go:315-337); here each spliter becomes one
StreamingQuery on a shared SparkSession — concurrent queries,
partition-parallel within each, offsets checkpointed (at-least-once
into the sink, strictly stronger than the reference's
commit-before-flush at-most-once window, main.go:361-365).

The routing transform is the SAME pure ``route()`` used in batch — a
streaming DataFrame is just another DataFrame, so semantics tested in
batch hold verbatim under the micro-batch runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kafka_go_streamer_spark.config import Spliter, SpliterCollection
from kafka_go_streamer_spark.routing import route_and_filter
from kafka_go_streamer_spark.sources.files import stream_message_lines
from kafka_go_streamer_spark.sources.kafka import (
    DEFAULT_TRIGGER,
    kafka_reader,
    kafka_writer,
)


def route_microbatch(df: DataFrame, spliter: Spliter) -> DataFrame:
    """The per-micro-batch transform: project to {key, value}, route,
    drop non-produced rows. Works on batch or streaming frames."""
    cols = [c for c in ("key", "value") if c in df.columns]
    return route_and_filter(df.select(*cols), spliter)


def build_streaming_router(
    spark: SparkSession,
    conf: SpliterCollection,
    brokers: str,
    checkpoint_root: str,
    group_prefix: str = "spark",
    group_suffix: str = "router",
    trigger: str = DEFAULT_TRIGGER,
    available_now: bool = False,
    kafka_options: dict[str, str] | None = None,
) -> list:
    """One Kafka->route->Kafka StreamingQuery per spliter. Returns the
    started queries; callers own awaitTermination/stop. Requires the
    spark-sql-kafka package on the classpath and reachable brokers."""
    from kafka_go_streamer_spark.config import group_id

    queries = []
    for spliter in conf.spliters:
        src = kafka_reader(
            spark,
            brokers,
            spliter.input_topic,
            group_id=group_id(group_prefix, group_suffix, spliter.input_topic),
            extra_options=kafka_options,
        ).load()
        routed = route_microbatch(src, spliter)
        q = kafka_writer(
            routed,
            brokers,
            checkpoint_location=f"{checkpoint_root}/{spliter.input_topic}",
            trigger=trigger,
            available_now=available_now,
            extra_options=kafka_options,
        ).start()
        queries.append(q)
    return queries


def start_file_stream_router(
    spark: SparkSession,
    spliter: Spliter,
    input_dir: str,
    query_name: str = "routed",
):
    """Kafka-less streaming harness (the driver environment has no
    broker): text-file source -> the same routing core -> in-memory
    sink, mirroring the reference's compose-test topology
    (docker-compose-test.yml) without infrastructure. Drains what is
    in ``input_dir`` (availableNow) and stops."""
    routed = route_microbatch(stream_message_lines(spark, input_dir), spliter)
    return (
        routed.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_checkpointed_file_router(
    spark: SparkSession,
    spliter: Spliter,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    query_name: str = "routed_ckpt",
):
    """Restartable file->route->parquet pipeline: offsets AND sink
    manifest live under ``checkpoint_dir``, so a stopped/killed query
    restarted with the same paths resumes exactly where it left off.

    This is the semantic upgrade over the reference, whose kafka-go
    ``reader.ReadMessage`` auto-commits the consumer offset on READ
    (main.go:353; the explicit CommitMessages at main.go:361-365 is
    commented out) — long before the producer flush at :573, so a crash
    in that window drops messages (at-most-once).
    Spark's checkpoint commits offsets only after the sink's batch
    commit: at-least-once into any sink, and exactly-once into the
    file sink used here (its manifest makes batch commits idempotent).
    Verified by tests/test_checkpoint_recovery.py.
    """
    routed = route_microbatch(stream_message_lines(spark, input_dir), spliter)
    return (
        routed.writeStream.format("parquet")
        .queryName(query_name)
        .outputMode("append")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
