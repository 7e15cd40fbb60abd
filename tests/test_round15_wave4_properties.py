"""Round-15 wave-4 checks: the bucket-cap audit re-derived END-TO-END
in pure Python (words → shingles → md5 minhash → banding → bucket
sizes — no shared code with either engine), and a stream==batch twin
for the quarantine decode (the per-row error capture must behave
identically under foreachBatch micro-batches)."""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

import pyarrow.parquet as pq
import pytest

from kafka_go_streamer_spark.operators.dedup import (
    MAX_BUCKET,
    NUM_HASHES,
    SHINGLE_SIZE,
)
from kafka_go_streamer_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


def test_bucket_cap_audit_matches_python_end_to_end(spark):
    d = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    buckets: dict = defaultdict(int)
    for doc_id, text in zip(d["doc_id"], d["text"]):
        ws = re.split(r"\s+", text.strip().lower())
        if len(ws) >= SHINGLE_SIZE:
            sh = {
                " ".join(ws[i : i + SHINGLE_SIZE])
                for i in range(len(ws) - SHINGLE_SIZE + 1)
            }
        else:
            sh = {" ".join(ws)}
        digests = [hashlib.md5(s.encode()).hexdigest() for s in sh]
        for band in range(NUM_HASHES):
            key = min(dg[8 * band : 8 * band + 8] for dg in digests)
            buckets[(band, key)] += 1
    expected: dict = {}
    for band in range(NUM_HASHES):
        ns = [n for (b, _), n in buckets.items() if b == band]
        over = [n for n in ns if n > MAX_BUCKET]
        kept = [n for n in ns if n <= MAX_BUCKET]
        expected[band] = {
            "n_buckets": len(ns),
            "max_bucket": max(ns),
            "n_capped": len(over),
            "rows_dropped": sum(over),
            "pairs_forgone": sum(n * (n - 1) // 2 for n in over),
            "pairs_kept_bound": sum(n * (n - 1) // 2 for n in kept),
        }
    rows = {
        r["band"]: r
        for r in QUERIES["dedup_bucket_cap_audit"](spark, SF).collect()
    }
    assert set(rows) == set(expected)
    for band, e in expected.items():
        r = rows[band]
        for k, v in e.items():
            assert r[k] == v, (band, k, r[k], v)


@pytest.mark.slow
@pytest.mark.timeout(600)
def test_quarantine_stream_equals_batch(spark, tmp_path):
    """The quarantine decode folded over pinned micro-batches must
    reproduce the batch query's per-status counts exactly — the error
    path may not behave differently under streaming execution."""
    import shutil

    from pyspark.sql import functions as F

    from kafka_go_streamer_spark.multimodal import (
        QUARANTINE_SCHEMA,
        arrow_stage,
        quarantine_rows,
    )

    batch = {
        r["status_format"]: r["n_blobs"]
        for r in QUERIES["multimodal_decode_quarantine"](
            spark, SF
        ).collect()
    }

    feed = tmp_path / "feed"
    feed.mkdir()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    staged = tmp_path / "staged"
    docs.repartition(4).write.parquet(str(staged))

    counts: dict = {}

    def fold(bdf, bid):
        docs = bdf.select(F.col("doc_id").alias("key"), "text")
        meta = arrow_stage(docs, quarantine_rows, QUARANTINE_SCHEMA)
        for r in meta.groupBy("status_format").count().collect():
            counts[r["status_format"]] = (
                counts.get(r["status_format"], 0) + r["count"]
            )

    files = sorted(staged.glob("part-*.parquet"))
    assert len(files) > 1
    # feed fully staged BEFORE start(): availableNow snapshots the
    # files available at query start, so copying afterwards races
    # batch planning against the copy loop
    for p in files:
        shutil.copy(p, feed / p.name)
    q = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(feed))
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        if q.isActive:
            q.stop()
    assert counts == batch
