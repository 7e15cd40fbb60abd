"""RouterMetricsListener: per-query rows/sec + batch stats off the
driver's progress events (observability parity with the reference's
pprof/zap hooks, main.go:124-161)."""

from __future__ import annotations

from types import SimpleNamespace

from tests.test_routing import GOLDEN_OPENSTACK, SPLITER_OPENSTACK

from kafka_go_streamer_spark.streaming import (
    RouterMetricsListener,
    start_file_stream_router,
)
from kafka_go_streamer_spark.streaming.metrics import RECENT_BATCHES

#: Phases every committed micro-batch of a file-source router reports.
BATCH_PHASES = {
    "latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets", "triggerExecution",
}


def test_listener_captures_throughput(spark, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.txt").write_text("\n".join(v for _, v, _ in GOLDEN_OPENSTACK) + "\n")

    listener = RouterMetricsListener()
    spark.streams.addListener(listener)
    try:
        q = start_file_stream_router(
            spark, SPLITER_OPENSTACK, str(d), query_name="metered"
        )
        q.awaitTermination(120)
        # progress events land on the listener bus after batch commit
        assert listener.wait_for_rows("metered", len(GOLDEN_OPENSTACK))
    finally:
        spark.streams.removeListener(listener)

    stats = listener.snapshot()["metered"]
    assert stats["batches"] >= 1
    assert stats["total_input_rows"] == len(GOLDEN_OPENSTACK)
    assert stats["peak_rows_per_sec"] > 0
    assert stats["avg_batch_ms"] > 0
    # every batch's phase map is kept, not only triggerExecution
    assert len(stats["recent_durations"]) == stats["batches"]
    for durations in stats["recent_durations"]:
        assert BATCH_PHASES <= set(durations)
    assert BATCH_PHASES <= set(stats["avg_phase_ms"])
    assert stats["avg_phase_ms"]["triggerExecution"] == stats["avg_batch_ms"]


def _progress(name: str, batch: int) -> SimpleNamespace:
    return SimpleNamespace(progress=SimpleNamespace(
        name=name, id=None, numInputRows=10, processedRowsPerSecond=5.0,
        durationMs={"triggerExecution": 100 + batch, "walCommit": 2},
    ))


def test_listener_keeps_recent_phase_maps_and_total_phases():
    """A long-running router keeps the last ``RECENT_BATCHES`` phase maps
    (bounded memory) and per-phase totals over every batch."""
    listener = RouterMetricsListener()
    n = RECENT_BATCHES + 50
    for batch in range(n):
        listener.onQueryProgress(_progress("long", batch))
    stats = listener.snapshot()["long"]
    assert stats["batches"] == n
    recent = stats["recent_durations"]
    assert len(recent) == RECENT_BATCHES
    assert recent[-1] == {"triggerExecution": 100 + n - 1, "walCommit": 2}
    assert recent[0]["triggerExecution"] == 100 + n - RECENT_BATCHES
    assert listener.stats["long"].phase_ms == {
        "triggerExecution": sum(100 + b for b in range(n)), "walCommit": 2 * n,
    }
    assert stats["avg_phase_ms"]["walCommit"] == 2.0


def test_observe_collect_metrics_on_batch_query(spark, sf_dir):
    """``df.observe`` + CollectMetrics: per-query row/violation
    accounting rides the SAME job as the query (no second scan), read
    back through the observation handle — the batch twin of the
    streaming RouterMetricsListener's rates."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from kafka_go_streamer_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("gate")
    gated = ev.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias(
            "neg_values"
        ),
    ).filter(F.col("event_type") == "purchase")
    n_purchases = gated.count()

    got = obs.get
    assert got["rows_seen"] == ev.count()
    assert got["neg_values"] == ev.filter(F.col("value") < 0).count()
    assert 0 < n_purchases < got["rows_seen"]
