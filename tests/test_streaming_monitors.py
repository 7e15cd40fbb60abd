"""Streaming data-quality monitors: each registered batch query that a
monitor keeps current is ``publish(counters(docs))``. Documents arrive
across micro-batches; each epoch's ``counters`` rows go to the partial
store through ``write_epoch_partials``, and ``publish`` over
``merge_partials`` of the store must give the registered query's rows
for any batching. Pinned for 1-batch and 2-batch arrivals, plus one
replayed-epoch check of the store itself."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans.audit_ops import (
    allocation_from_per_lang,
    calibration_counters,
    lang_token_counters,
    publish_calibration,
    publish_k_anonymity,
    qi_class_counters,
)
from kafka_go_streamer_spark.plans.pipeline_econ import (
    publish_shard_plan,
    shard_counters,
)
from kafka_go_streamer_spark.plans.semdedup import (
    pii_counters,
    publish_pii_density,
)
from kafka_go_streamer_spark.sources.tables import load_table
from kafka_go_streamer_spark.streaming.partials import (
    merge_partials,
    write_epoch_partials,
)

pytestmark = pytest.mark.slow


def _two_or_more(rows):
    assert len(rows) >= 2


def _privacy_ok(rows):
    # risk provably present on this fixture (small classes exist)
    assert any(r["n_docs_below"] > 0 for r in rows)


def _pii_ok(rows):
    # the seeded corpus provably carries PII in several sources
    assert sum(r["docs_with_pii"] for r in rows) > 0
    assert len(rows) >= 2


def _lang_budget_ok(rows):
    # multilingual: the allocation spends the full budget and the
    # dominant language has the smallest fill share
    assert len(rows) >= 2
    total_avail = sum(r["avail_tokens"] for r in rows)
    total_alloc = sum(r["alloc_tokens"] for r in rows)
    assert total_alloc == pytest.approx(0.5 * total_avail, rel=1e-6)
    shares = [r["fill_share"] for r in rows]
    biggest = max(rows, key=lambda r: r["avail_tokens"])
    assert biggest["fill_share"] == min(shares)
    assert max(shares) > min(shares)


#: registered query -> (counters, merge keys, publish, non-degeneracy)
MONITORS = {
    "quality_calibration_bins": (
        calibration_counters, ["bin"], publish_calibration, _two_or_more
    ),
    "privacy_k_anonymity": (
        qi_class_counters,
        ["lang", "source", "len_bin"],
        publish_k_anonymity,
        _privacy_ok,
    ),
    "storage_shard_plan": (
        shard_counters, ["source"], publish_shard_plan, _two_or_more
    ),
    "pii_density_by_source": (
        pii_counters, ["source"], publish_pii_density, _pii_ok
    ),
    "sample_language_budget": (
        lang_token_counters,
        ["lang"],
        allocation_from_per_lang,
        _lang_budget_ok,
    ),
}


def _halves(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    return (
        docs,
        docs.filter(F.col("doc_id") <= median),
        docs.filter(F.col("doc_id") > median),
    )


@pytest.fixture(scope="module")
def doc_streams(spark, sf_dir, tmp_path_factory):
    """n_batches -> (documents schema, glob of its one-file batches)."""
    docs, low, high = _halves(spark, sf_dir)
    out = {}
    for n, parts in ((1, [docs]), (2, [low, high])):
        src = tmp_path_factory.mktemp(f"doc_stream_{n}")
        for i, part in enumerate(parts, 1):
            part.coalesce(1).write.parquet(str(src / f"b{i}"))
        out[n] = (docs.schema, str(src / "*"))
    return out


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.timeout(300)
@pytest.mark.parametrize("n_batches", [1, 2])
@pytest.mark.parametrize("name", list(MONITORS))
def test_monitor_matches_batch(
    spark, sf_dir, tmp_path, doc_streams, name, n_batches
):
    counters, keys, publish, non_degenerate = MONITORS[name]
    schema, glob = doc_streams[n_batches]
    store = str(tmp_path / "partials")

    def monitor(bdf, epoch_id):
        write_epoch_partials(counters(bdf), epoch_id, store)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(glob)
        .writeStream.foreachBatch(monitor)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240), "stream did not terminate within 240s"

    partials = spark.read.parquet(store)
    assert partials.select("epoch").distinct().count() == n_batches

    streamed = publish(merge_partials(partials, keys))
    batch = QUERIES[name](spark, sf_dir)
    assert streamed.columns == batch.columns
    assert _sorted_rows(streamed) == _sorted_rows(batch)
    non_degenerate(batch.collect())


@pytest.mark.timeout(300)
def test_replayed_epoch_is_counted_once(spark, sf_dir, tmp_path):
    """foreachBatch replays a failed epoch with the same id: writing
    epoch 0 twice must leave the store merging to what one write of
    each epoch gives."""
    _, low, high = _halves(spark, sf_dir)
    replayed, single = str(tmp_path / "replayed"), str(tmp_path / "single")
    for epoch, part in ((0, low), (0, low), (1, high)):
        write_epoch_partials(shard_counters(part), epoch, replayed)
    for epoch, part in ((0, low), (1, high)):
        write_epoch_partials(shard_counters(part), epoch, single)

    def merged(store):
        return _sorted_rows(
            merge_partials(spark.read.parquet(store), ["source"])
        )

    assert merged(replayed) == merged(single)
    assert merged(single) == _sorted_rows(
        shard_counters(low.unionByName(high))
    )
