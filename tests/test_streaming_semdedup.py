"""Streaming SemDeDup (streaming/semdedup.py): vectors arrive in
vec_id order across micro-batches, are assigned to the STATIC stored
quantizer, and claim (cell, bucket) slots first-come-first-kept. The
streamed survivor set must equal the batch manifest's kept set for any
batching — pinned for 1-batch and 2-batch arrivals."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.sources.tables import load_table
from kafka_go_streamer_spark.streaming.semdedup import (
    kept_in_batch,
    new_buckets,
    score_batch,
)

pytestmark = pytest.mark.slow


@pytest.mark.timeout(300)
@pytest.mark.parametrize("n_batches", [1, 2])
def test_streaming_semdedup_matches_batch(spark, sf_dir, tmp_path, n_batches):
    from kafka_go_streamer_spark.operators.ivf_store import (
        centroids_path,
        ensure_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    base = ensure_ivf_index(emb, sf_dir)
    cents = spark.read.parquet(centroids_path(base)).localCheckpoint()
    median = emb.approxQuantile("vec_id", [0.5], 0.0)[0]

    src = tmp_path / "vec_stream"
    src.mkdir()
    store_dir = str(tmp_path / "bucket_store")
    out_dir = str(tmp_path / "survivors")
    if n_batches == 1:
        emb.coalesce(1).write.parquet(str(src / "b1"))
    else:
        emb.filter(F.col("vec_id") <= median).coalesce(1).write.parquet(
            str(src / "b1")
        )
        emb.filter(F.col("vec_id") > median).coalesce(1).write.parquet(
            str(src / "b2")
        )

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )

    def gate(bdf, epoch_id):
        sess = bdf.sparkSession
        scored = score_batch(bdf, cents).localCheckpoint()
        try:
            store = sess.read.parquet(store_dir)
        except Exception:
            store = None  # first batch: nothing claimed yet
        kept_in_batch(scored, store).write.mode("append").parquet(out_dir)
        new_buckets(scored).write.mode("append").parquet(store_dir)

    q = (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240), "stream did not terminate within 240s"

    streamed = {
        r["vec_id"] for r in spark.read.parquet(out_dir).collect()
    }
    batch_kept = {
        r["vec_id"]
        for r in QUERIES["semdedup_prune_manifest"](spark, sf_dir).collect()
        if r["kept"] == 1
    }
    assert streamed == batch_kept
    # the prune provably fires (some vector dropped) on this fixture
    n_total = emb.count()
    assert len(streamed) < n_total
