"""Batched ANN serving: probing a multi-query panel against the
persisted IVF index must give each query exactly the answer a
one-query panel gets — batching queries changes no query's answer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_go_streamer_spark.operators.ivf_store import (
    build_ivf_index,
    probe_ivf,
)
from kafka_go_streamer_spark.sources.tables import load_table


pytestmark = pytest.mark.slow


def _query_panel(spark, sf_dir, ids):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id").isin(*ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )


def test_multi_probe_matches_single_probe(spark, sf_dir, tmp_path):
    base = str(tmp_path / "ivf")
    build_ivf_index(load_table(spark, sf_dir, "embeddings"), base)
    ids = [0, 7, 42]
    many = {
        (r["q_id"], r["rk"]): (r["vec_id"], r["cos_sim"])
        for r in probe_ivf(
            spark, base, _query_panel(spark, sf_dir, ids)
        ).collect()
    }
    for qid in ids:
        single = sorted(
            probe_ivf(spark, base, _query_panel(spark, sf_dir, [qid])).collect(),
            key=lambda r: r["rk"],
        )
        assert len(single) == 5, qid
        for r in single:
            assert r["q_id"] == qid
            assert many[(qid, r["rk"])] == (r["vec_id"], r["cos_sim"]), (
                qid,
                r["rk"],
            )
    assert len(many) == 5 * len(ids)
