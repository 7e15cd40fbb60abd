"""Kafka source/sink builders — the streaming analogue of the
reference's consumer/producer machinery (reference main.go:42-68,
348-367, 421-445).

Everything the reference hand-rolls maps to Spark Kafka options:

* consumer group + earliest start offset (reference main.go:62,
  318-323) -> ``startingOffsets=earliest`` + checkpoint-managed offsets
  (strictly stronger than the reference's commit-before-flush window,
  which could lose buffered messages, main.go:361-365 vs 573);
* batch size/timer flush (reference main.go:484-488, 437-439) ->
  micro-batch trigger + producer ``kafka.linger.ms`` /
  ``kafka.batch.size``;
* TLS / SASL (reference main.go:223-287) -> ``kafka.security.protocol``
  / ``kafka.sasl.*`` / ``kafka.ssl.*`` pass-through options;
* compression codecs (reference main.go:23-27) -> consumer handles
  transparently; producer via ``kafka.compression.type``.

These builders are config-only (no broker needed to construct them);
the routing logic itself is the batch-pure ``route()`` so it is tested
without Kafka and attached here via ``foreachBatch`` or a direct
streaming plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: Default flush cadence, mirroring the reference's hardcoded 10 s batch
#: timer (reference main.go:439).
DEFAULT_TRIGGER = "10 seconds"


def _jaas_quote(value: str | None) -> str:
    escaped = str(value).replace("\\", "\\\\").replace('"', '\\"')
    return f'"{escaped}"'


def security_options(
    *,
    sasl_username: str | None = None,
    sasl_password: str | None = None,
    tls: bool = False,
    keystore_location: str | None = None,
    keystore_password: str | None = None,
    truststore_location: str | None = None,
    truststore_password: str | None = None,
    insecure_skip_verify: bool = False,
) -> dict[str, str]:
    """TLS / SASL-PLAIN auth as pass-through Kafka options
    (reference main.go:223-287 equivalents). The SASL credentials are
    quoted for Kafka's ``JaasConfig`` parser, a ``StreamTokenizer`` in
    whose quoted strings a backslash escapes the next character, so any
    password reaches the login module unchanged. A username without a
    password is rejected here, at config time, not at broker login."""
    opts: dict[str, str] = {}
    if sasl_username is not None:
        if sasl_password is None:
            raise ValueError("SASL username given without a password")
        proto = "SASL_SSL" if tls else "SASL_PLAINTEXT"
        opts["kafka.security.protocol"] = proto
        opts["kafka.sasl.mechanism"] = "PLAIN"
        opts["kafka.sasl.jaas.config"] = (
            "org.apache.kafka.common.security.plain.PlainLoginModule required "
            f"username={_jaas_quote(sasl_username)} "
            f"password={_jaas_quote(sasl_password)};"
        )
    elif tls:
        opts["kafka.security.protocol"] = "SSL"
    if keystore_location:
        opts["kafka.ssl.keystore.location"] = keystore_location
        opts["kafka.ssl.keystore.password"] = keystore_password or ""
    if truststore_location:
        opts["kafka.ssl.truststore.location"] = truststore_location
        opts["kafka.ssl.truststore.password"] = truststore_password or ""
    if insecure_skip_verify:
        opts["kafka.ssl.endpoint.identification.algorithm"] = ""
    return opts


def kafka_reader(
    spark: SparkSession,
    brokers: str,
    topic: str,
    group_id: str | None = None,
    starting_offsets: str = "earliest",
    extra_options: dict[str, str] | None = None,
):
    """Streaming Kafka source (reference consumer loop, main.go:348-367).
    Returns the reader builder; ``.load()`` yields the fixed Kafka schema
    (key/value BINARY, topic/partition/offset/timestamp metadata)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if group_id:
        reader = reader.option("kafka.group.id", group_id)
    for k, v in (extra_options or {}).items():
        reader = reader.option(k, v)
    return reader


def kafka_writer(
    df: DataFrame,
    brokers: str,
    checkpoint_location: str,
    trigger: str = DEFAULT_TRIGGER,
    batch_size: int = 100,
    linger_ms: int = 100,
    available_now: bool = False,
    extra_options: dict[str, str] | None = None,
):
    """Kafka sink with per-row ``topic``-column routing — replaces the
    reference's entire per-topic writer/batch/timer array
    (main.go:371-377, 544-593) with one sink. The producer batches via
    linger/batch.size; the micro-batch trigger is the flush timer
    (``available_now=True`` drains the backlog and stops — test mode)."""
    writer = (
        df.select("topic", "key", "value")
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("checkpointLocation", checkpoint_location)
        .option("kafka.linger.ms", str(linger_ms))
        .option("kafka.batch.size", str(batch_size * 1024))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger)
    for k, v in (extra_options or {}).items():
        writer = writer.option(k, v)
    return writer
