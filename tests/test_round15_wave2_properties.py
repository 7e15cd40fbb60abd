"""Pure-Python property oracles for the round-15 wave-2 queries
(plans/frontier.py, and the decode quarantine in
plans/multimodal_queries.py), at sf0.001: recomputed from raw parquet with
pandas/numpy or pinned by construction invariants."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans.frontier import (
    ENCODING_PLAN_COLUMNS,
    WEAK_LINK_J,
)

SF = "/root/testdata/sf0.001"


def _docs() -> pd.DataFrame:
    return pq.read_table(f"{SF}/documents.parquet").to_pandas()


def test_quarantine_rows_are_exactly_the_corrupted_keys(spark):
    from kafka_go_streamer_spark.multimodal import QUARANTINE_MOD

    d = _docs()
    n = len(d)
    n_corrupt = int((d["doc_id"] % QUARANTINE_MOD == 0).sum())
    fmts = d["text"].map(
        lambda t: ("png", "jpeg", "gif")[
            hashlib.sha256(t.encode("utf-8")).digest()[0] % 3
        ]
    )
    healthy = fmts[d["doc_id"] % QUARANTINE_MOD != 0].value_counts()
    rows = {
        r["status_format"]: r
        for r in QUERIES["multimodal_decode_quarantine"](
            spark, SF
        ).collect()
    }
    assert rows["quarantined"]["n_blobs"] == n_corrupt > 0
    for fmt, cnt in healthy.items():
        assert rows[fmt]["n_blobs"] == cnt
    assert sum(r["n_blobs"] for r in rows.values()) == n
    for r in rows.values():
        assert float(r["corpus_share"]) == round(r["n_blobs"] / n, 6)


def test_quarantine_parser_really_rejects_corrupted_magic():
    """The corruption model must actually defeat the parser — every
    container's magic dies when its first byte is zeroed."""
    from kafka_go_streamer_spark.multimodal import (
        QUARANTINE_MOD,
        image_blob_for_text,
        parse_image_header,
        quarantine_rows,
        synthesize_image_blob,
    )

    for fmt in ("png", "jpeg", "gif"):
        blob = synthesize_image_blob(b"payload", fmt, 64, 64)
        assert parse_image_header(blob)["format"] == fmt
        with pytest.raises(ValueError):
            parse_image_header(b"\x00" + blob[1:])
    # the per-row chain corrupts exactly the keys divisible by the mod
    text = "some document text"
    fmt = parse_image_header(image_blob_for_text(text))["format"]
    n = len(image_blob_for_text(text))
    assert quarantine_rows(QUARANTINE_MOD + 1, text) == [(fmt, n)]
    assert quarantine_rows(QUARANTINE_MOD, text) == [("quarantined", n)]


def test_weak_link_audit_consistent_with_components(spark):
    """Cross-query pins: bucketed component counts must match
    ``dedup_connected_components``'s size histogram, and every
    component's min edge jaccard is bounded by the pair table."""
    comp = QUERIES["dedup_connected_components"](spark, SF).collect()
    sizes = {}
    for r in comp:
        sizes[r["component_id"]] = r["component_size"]
    multi = [s for s in sizes.values() if s >= 2]

    def bucket(s):
        return (
            "2" if s == 2 else "3-4" if s <= 4 else "5-8" if s <= 8 else "9+"
        )

    from collections import Counter

    expected = Counter(bucket(s) for s in multi)
    rows = {
        r["size_bucket"]: r
        for r in QUERIES["dedup_weak_link_audit"](spark, SF).collect()
    }
    assert {b: r["n_components"] for b, r in rows.items()} == dict(expected)
    for r in rows.values():
        assert 0 <= r["n_weak_linked"] <= r["n_components"]
        assert float(r["weak_share"]) == round(
            r["n_weak_linked"] / r["n_components"], 6
        )
        if r["n_weak_linked"] > 0:
            assert float(r["min_jaccard"]) < WEAK_LINK_J


def test_dimension_health_recomputed(spark):
    e = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()
    vecs = np.stack(
        e["embedding"].map(lambda v: np.asarray(v, dtype=np.float64))
    )
    rows = {
        r["dim"]: r
        for r in QUERIES["embedding_dimension_health"](spark, SF).collect()
    }
    assert set(rows) == set(range(vecs.shape[1]))
    for dim in (0, vecs.shape[1] // 2, vecs.shape[1] - 1):
        col = vecs[:, dim]
        r = rows[dim]
        assert r["n"] == len(col)
        assert float(r["mean_v"]) == round(float(col.mean()), 6)
        assert float(r["var_v"]) == round(
            float((col * col).mean() - col.mean() ** 2), 6
        )
        assert float(r["min_v"]) == round(float(col.min()), 6)
        assert float(r["max_v"]) == round(float(col.max()), 6)
        assert r["n_near_zero"] == int((np.abs(col) < 1e-6).sum())


def test_payload_profile_conserves_counts_and_bytes(spark):
    """The payload profile's counts must equal the routing-count query
    exactly, and total bytes across topics must equal the corpus."""
    counts = {
        r["topic"]: r["n"]
        for r in QUERIES["route_documents_counts"](spark, SF).collect()
    }
    rows = {
        r["topic"]: r
        for r in QUERIES["route_topic_payload_profile"](
            spark, SF
        ).collect()
    }
    assert {t: r["n"] for t, r in rows.items()} == counts
    d = _docs()
    total = int(d["text"].str.encode("utf-8").str.len().sum())
    assert sum(r["total_bytes"] for r in rows.values()) == total
    for r in rows.values():
        assert (
            float(r["mean_bytes"])
            <= float(r["p95_bytes"])
            <= r["max_bytes"]
        )


def test_encoding_planner_recomputed(spark):
    d = _docs()
    rows = {
        r["column_name"]: r
        for r in QUERIES["storage_column_encoding_planner"](
            spark, SF
        ).collect()
    }
    assert set(rows) == set(ENCODING_PLAN_COLUMNS)
    for c in ENCODING_PLAN_COLUMNS:
        vc = d[c].value_counts()
        r = rows[c]
        assert r["n_rows"] == len(d)
        assert r["n_distinct"] == len(vc)
        top1 = int(vc.iloc[0])
        assert float(r["top1_share"]) == round(top1 / len(d), 6)
        if len(vc) * 100 <= len(d) and top1 * 2 >= len(d):
            expected = "rle_dictionary"
        elif len(vc) * 10 <= len(d):
            expected = "dictionary"
        else:
            expected = "plain"
        assert r["encoding"] == expected
    # the fixture must exercise both ends of the CASE ladder
    encodings = {r["encoding"] for r in rows.values()}
    assert "plain" in encodings
    assert encodings & {"dictionary", "rle_dictionary"}
