"""Streaming SemDeDup: the semantic prune of
``semdedup_prune_manifest`` (plans/semdedup.py) applied per
micro-batch — new vectors are screened at ingest against the clusters
already claimed, instead of re-pruning the whole corpus offline.

Shape: the trained quantizer (the persisted IVF centroid table,
operators/ivf_store.py) is STATIC state, exactly like the benchmark
gram set in streaming/decontam.py — refreshed only on the offline
retrain cadence. The GROWING state is the set of claimed
(cell, quantized-cos) buckets: each arriving micro-batch

1. assigns its vectors to the nearest stored centroid (broadcast
   k×dims join — the same ``assign_nearest`` the index build ran, so
   a vector's streamed cell EQUALS its stored cell);
2. scores cosine-to-own-centroid with the batch manifest's own
   ``_cells`` / ``_scored`` frames (plans/semdedup.py) and quantizes
   to the SEMDEDUP_SCALE bucket;
3. drops vectors whose bucket is already claimed — by the committed
   store or by a smaller id in the SAME batch — and commits both the
   survivors and the batch's newly claimed buckets.

With arrivals ordered by vec_id (the ingest contract shared with
streaming/neardup.py), streamed survivors EQUAL the batch keep rule
for any batching: the batch rule keeps the minimum id per bucket, and
the minimum id is always the first arrival. Unscorable (zero-norm)
vectors are always kept and never claim a bucket, matching the batch
manifest.

Scale: per batch the work is |batch| × k assignment flops against
broadcast centroids plus an equi-join against the bucket store (on a
real deployment: a Delta/Iceberg table keyed by (cell, bucket), so
the probe prunes to touched buckets); state grows by at most one row
per kept vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.operators.kmeans import (
    assign_nearest,
    explode_vectors,
)
from kafka_go_streamer_spark.plans.semdedup import (
    SEMDEDUP_SCALE,
    _cells,
    _scored,
)


def score_batch(bdf: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell, bucket) for one micro-batch of (vec_id,
    embedding) rows: nearest-stored-centroid assignment, then the batch
    manifest's own cosine-to-own-centroid (``_scored``) quantized to
    the SEMDEDUP_SCALE bucket. ``bucket`` is NULL for unscorable
    (zero-norm) vectors."""
    cells = assign_nearest(explode_vectors(bdf), cents).select(
        "vec_id", F.col("cid").alias("cell")
    )
    vecs = bdf.select("vec_id", "embedding").join(cells, "vec_id")
    return (
        _cells(vecs)
        .join(_scored(vecs, cents).select("vec_id", "cos_c"), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            stable_round(F.col("cos_c"), SEMDEDUP_SCALE).alias("bucket"),
        )
    )


def kept_in_batch(
    scored: DataFrame, bucket_store: DataFrame | None
) -> DataFrame:
    """vec_ids of batch vectors KEPT under the streaming keep rule:
    bucket is NULL (always kept), or the bucket is unclaimed by the
    committed store AND this vector is the batch's smallest id in it."""
    if bucket_store is not None:
        claimed = bucket_store.select("cell", "bucket").distinct()
        # NULL buckets pass the anti-join untouched (NULL never equals
        # a stored key), which is exactly the always-kept semantics.
        scored = scored.join(claimed, ["cell", "bucket"], "left_anti")
    w = Window.partitionBy("cell", "bucket")
    return (
        scored.withColumn("mn", F.min("vec_id").over(w))
        .filter(
            F.col("bucket").isNull() | (F.col("vec_id") == F.col("mn"))
        )
        .select("vec_id")
    )


def new_buckets(scored: DataFrame) -> DataFrame:
    """The (cell, bucket) rows this batch claims (non-null buckets) —
    appended to the store after the batch commits."""
    return (
        scored.filter(F.col("bucket").isNotNull())
        .select("cell", "bucket")
        .distinct()
    )
