"""Streaming joins: stream-static enrichment and watermarked
stream-stream interval joins.

The reference routes each message in isolation — it has no joins at all
(SURVEY.md §2.2, reference main.go routes on per-message predicates
only). These are the Spark-native extension: enriching an in-flight
stream against a slowly-changing dimension, and correlating two event
streams within a bounded time window.

Scale notes:
- Stream-static: the static side is broadcast per micro-batch (it is
  re-resolved each batch, so an updated dimension table is picked up
  on the next trigger). No state store involved, no shuffle of the
  stream side when the dim broadcasts.
- Stream-stream: both sides buffer in the state store, bounded by
  their watermarks plus the join's time range — the watermark is what
  lets Spark evict state, so at 100 TB/day the range bound below is
  the difference between bounded memory and an unbounded state leak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_static_enrich(
    stream: DataFrame,
    static_dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Enrich a streaming DataFrame against a static (batch) dimension.

    The dimension is marked broadcast-able; Spark re-plans the join
    every micro-batch, so the stream side never shuffles and dimension
    updates become visible at the next trigger.
    """
    return stream.join(F.broadcast(static_dim), on=on, how=how)


def _event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (with local timezone); parquet files
    written without a timezone read back as TIMESTAMP_NTZ, which
    ``withWatermark`` rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
    Coerce NTZ event time to LTZ — value-identical under the UTC
    session timezone the engine pins (session.py)."""
    if df.schema[ts_col].dataType.simpleString() == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    watermark: str = "1 hour",
    max_delay: str = "INTERVAL 1 HOUR",
) -> DataFrame:
    """Inner-join two event streams on ``key`` where the right event
    happens within ``(left_ts, left_ts + max_delay]``.

    Both inputs must already carry distinct column names apart from
    ``key``. Watermarks on BOTH sides plus the two-sided time-range
    predicate are what bound the join state: rows older than
    (watermark + delay) are evicted from the state store each trigger.
    """
    lw = _event_time(left, left_ts).withWatermark(left_ts, watermark)
    rw = _event_time(right, right_ts).withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (F.col(right_ts) > F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(max_delay))
    )
    return lw.join(rw, cond, "inner").drop(rw[key])


def stream_stream_interval_join_outer(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    watermark: str = "1 hour",
    max_delay: str = "INTERVAL 1 HOUR",
) -> DataFrame:
    """LEFT OUTER watermarked interval join: like
    :func:`stream_stream_interval_join`, but a left event with NO right
    match inside its window still emits — with NULL right columns —
    once the watermark establishes no match can arrive. This is the
    shape attribution pipelines need for the unconverted majority
    ("every click, with its purchase if one followed within the hour").

    The NULL verdict is watermark-delayed by construction: Spark holds
    the unmatched left row in state until the right watermark passes
    ``left_ts + max_delay`` (only then is "no match" final), so outer
    results trail the inner ones by up to watermark + delay — the
    bounded-lateness cost of a correct negative.

    Both sides are explicitly aliased before the join: when left and
    right derive from the SAME source (two filters of one stream — the
    common case), ``lw[key] == rw[key]`` is ambiguous under Spark's
    self-join resolution and ``drop`` can keep the RIGHT key column —
    which is NULL on every unmatched row, silently corrupting the key
    of exactly the rows an outer join exists to keep."""
    lw = (
        _event_time(left, left_ts)
        .withWatermark(left_ts, watermark)
        .alias("_ssl")
    )
    rw = (
        _event_time(right, right_ts)
        .withWatermark(right_ts, watermark)
        .alias("_ssr")
    )
    lcol = lambda c: F.col(f"_ssl.{c}")  # noqa: E731
    rcol = lambda c: F.col(f"_ssr.{c}")  # noqa: E731
    cond = (
        (lcol(key) == rcol(key))
        & (rcol(right_ts) > lcol(left_ts))
        & (rcol(right_ts) <= lcol(left_ts) + F.expr(max_delay))
    )
    right_cols = [c for c in right.columns if c != key]
    return lw.join(rw, cond, "leftOuter").select(
        *[lcol(c).alias(c) for c in left.columns],
        *[rcol(c).alias(c) for c in right_cols],
    )


def stream_stream_asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    watermark: str = "1 hour",
    tolerance: str = "INTERVAL 1 HOUR",
    agg_window: str = "1 hour",
) -> DataFrame:
    """Streaming as-of join: for each left event, the LATEST right event
    with ``right_ts`` in ``[left_ts - tolerance, left_ts]`` per ``key``
    — the streaming twin of ``operators/asof.asof_join`` with a
    tolerance bound (every match is staleness-bounded, which is also
    what keeps the state finite).

    Construction (chained stateful operators, append mode):

    1. watermarked stream-stream INTERVAL join emits every candidate
       (left, right) pair inside the tolerance window — state on both
       sides is evicted past (watermark + tolerance);
    2. a windowed aggregation picks ``max(struct(right_ts, values))``
       per left event — last-within-tolerance with a deterministic
       lexicographic tiebreak on the value columns at equal
       timestamps. The group key is every left column except the event
       time plus a tumbling ``window(left_ts)`` (Spark admits at most
       ONE event-time column through an aggregation), so the left side
       must carry a unique event identifier; the aggregation satisfies
       append-mode's event-time requirement and its state is likewise
       watermark-evicted.

    Inner semantics: a left event with NO right event inside its
    tolerance window does not appear (the batch operator instead emits
    it with NULL match columns — streaming cannot, because "no match"
    is only decidable once the watermark passes, which is exactly what
    the aggregation's window already waits for; use the batch operator
    under foreachBatch if NULL rows are required).

    Results for a left window emit once the watermark passes its end —
    bounded lateness end-to-end, the same contract as every windowed
    aggregation in this package.
    """
    lw = _event_time(left, left_ts).withWatermark(left_ts, watermark)
    rw = _event_time(right, right_ts).withWatermark(right_ts, watermark)
    right_vals = [c for c in right.columns if c not in (key, right_ts)]
    cond = (
        (lw[key] == rw[key])
        & (F.col(right_ts) <= F.col(left_ts))
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(tolerance))
    )
    joined = lw.join(rw, cond, "inner").drop(rw[key])
    left_cols = list(left.columns)
    # the group key is every left column EXCEPT the event time (Spark
    # allows at most one event-time column through an aggregation, and
    # window(left_ts) is it) — so the left side MUST carry a unique
    # event identifier among its other columns; left_ts is constant per
    # left event and comes back via max()
    group_keys = [c for c in left_cols if c != left_ts]
    best = F.max(
        F.struct(
            F.col(right_ts).alias("_mt"),
            *[F.col(c).alias(c) for c in right_vals],
        )
    ).alias("_m")
    out = joined.groupBy(
        *group_keys, F.window(F.col(left_ts), agg_window).alias("_w")
    ).agg(F.max(F.col(left_ts)).alias(left_ts), best)
    return out.select(
        *left_cols,
        *[F.col("_m")[c].alias(f"{c}_asof") for c in right_vals],
        F.col("_m")["_mt"].alias("matched_time"),
    )


def serve_ann_stream(
    spark,
    index_base: str,
    query_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    nprobe: int = 2,
    topk: int = 5,
):
    """ONLINE ANN serving: a stream of (q_id, qv) query vectors probed
    per micro-batch against the persisted IVF index
    (operators/ivf_store.py) via the batched panel probe, results
    appended to a parquet sink — the model-serving loop over the same
    artifact the offline pipeline builds. foreachBatch (not a stream
    join) because the probe needs per-query top-k windows, which the
    streaming planner can't express over an unbounded stream but are
    trivially bounded inside one batch.

    At-least-once into the parquet sink via the checkpoint; per-batch
    cost is |batch| x (k centroids + nprobe cells) — the corpus is
    never scanned (cell partition pruning), so latency tracks batch
    size, not index size."""
    from kafka_go_streamer_spark.operators.ivf_store import probe_ivf

    def _probe(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.isEmpty():
            probe_ivf(
                spark, index_base, batch_df, nprobe=nprobe, topk=topk
            ).write.mode("append").parquet(out_dir)

    return (
        query_stream.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def ingest_ann_stream(
    spark,
    index_base: str,
    vector_stream: DataFrame,
    checkpoint_dir: str,
):
    """Streaming IVF index ingest: a stream of (vec_id, embedding[,
    label]) rows folded into the persisted index per micro-batch via
    append_to_ivf_index (operators/ivf_store.py) — the ingestion twin
    of serve_ann_stream. Together they close the online loop: new
    corpus vectors land in their cells as they arrive, probes see them
    on the next batch, and the trained quantizer only changes on the
    offline retrain cadence.

    foreachBatch because the append is a partitioned-parquet write
    keyed by a computed column (the cell assignment), which the
    streaming file sink can't express. At-least-once via the
    checkpoint: a replayed batch re-appends its rows. The one serving
    path (``probe_ivf``) ENFORCES the (vec_id) dedup — it keeps one
    row per query and vec_id before ranking — so a replay never
    surfaces duplicate ids in a served top-k; the store itself can
    additionally be compacted with operators/compaction.py on the
    retrain cadence."""
    from kafka_go_streamer_spark.operators.ivf_store import (
        append_to_ivf_index,
    )

    def _ingest(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.isEmpty():
            append_to_ivf_index(spark, index_base, batch_df)

    return (
        vector_stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
