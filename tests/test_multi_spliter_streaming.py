"""Multiple spliters as concurrent StreamingQueries on one session —
the Spark analogue of the reference's per-spliter consume/produce
goroutine pairs (reference main.go:315-337), on file sources."""

from __future__ import annotations

import pytest

from kafka_go_streamer_spark.config import Extractor, Split, Spliter
from kafka_go_streamer_spark.streaming import start_file_stream_router

SPLITER_A = Spliter(
    input_topic="in-a",
    actions={"matched": "a-match", "unmatched": "a-dead"},
    splits=[Split(Extractor("alpha"))],
)
SPLITER_B = Spliter(
    input_topic="in-b",
    actions={"matched": "b-match"},
    splits=[Split(Extractor("beta"))],
)


pytestmark = pytest.mark.slow


def test_streamed_router_counts_equal_batch_times_replay(
    spark, sf_dir, tmp_path
):
    """The streamed router's per-topic counts must equal the BATCH
    router's (``route_documents_counts``) × replay on the same corpus —
    the correctness half of the router throughput record (perfbench's
    router-drain workload measures the rate; this pins the counts). The batch side's
    ``__dropped__`` bucket (matched rule, nil writer) must NOT appear
    in the streamed output: the router filters non-produced rows, it
    never emits them to a topic."""
    from pyspark.sql import functions as F

    from kafka_go_streamer_spark.plans.routing_queries import DOCS_SPLITER
    from kafka_go_streamer_spark.plans import QUERIES
    from kafka_go_streamer_spark.streaming.router import route_microbatch

    replay = 3
    batch = {
        r["topic"]: r["n"]
        for r in QUERIES["route_documents_counts"](spark, sf_dir).collect()
    }

    feed = str(tmp_path / "feed")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    msgs = docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(replay - 1))).alias("rep"),
        F.col("doc_id"),
        F.col("text").alias("value"),
    ).select(
        F.concat_ws("-", F.col("doc_id"), F.col("rep")).alias("key"),
        "value",
    )
    # several files so availableNow actually exercises multi-batch
    msgs.repartition(4).write.parquet(feed)

    counts: dict[str, int] = {}

    def fold(batch_df, batch_id: int) -> None:
        routed = route_microbatch(batch_df, DOCS_SPLITER)
        for r in routed.groupBy("topic").count().collect():
            counts[r["topic"]] = counts.get(r["topic"], 0) + r["count"]

    q = (
        spark.readStream.schema("key string, value string")
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    expected = {
        topic: n * replay
        for topic, n in batch.items()
        if topic != "__dropped__"
    }
    assert counts == expected
    # the dropped bucket exists batch-side (drop ≠ unmatched) but the
    # stream must deliver strictly fewer rows than it consumed by
    # exactly that bucket
    assert batch.get("__dropped__", 0) > 0
    n_msgs = sum(batch.values()) * replay
    assert sum(counts.values()) == n_msgs - batch["__dropped__"] * replay


def test_two_spliters_run_concurrently(spark, tmp_path):
    da, db = tmp_path / "a", tmp_path / "b"
    da.mkdir(), db.mkdir()
    (da / "1.txt").write_text("has alpha inside\nnothing here\n")
    (db / "1.txt").write_text("some beta value\nalso nothing\n")

    qa = start_file_stream_router(spark, SPLITER_A, str(da), query_name="out_a")
    qb = start_file_stream_router(spark, SPLITER_B, str(db), query_name="out_b")
    try:
        qa.awaitTermination(120)
        qb.awaitTermination(120)
        a = {
            (r["value"], r["topic"])
            for r in spark.sql("SELECT * FROM out_a").collect()
        }
        b = {
            (r["value"], r["topic"])
            for r in spark.sql("SELECT * FROM out_b").collect()
        }
        assert a == {
            ("has alpha inside", "a-match"),
            ("nothing here", "a-dead"),
        }
        # spliter B has no unmatched topic -> non-matching rows dropped
        assert b == {("some beta value", "b-match")}
    finally:
        for q in (qa, qb):
            if q.isActive:
                q.stop()
