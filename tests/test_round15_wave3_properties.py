"""Pure-Python property oracles for the round-15 wave-3 queries
(plans/frontier.py) at sf0.001."""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans.text import (
    PREP_LANG,
    PREP_MIN_ALPHA,
    PREP_MIN_WORDS,
)
from tests.refs import p_lang_id

SF = "/root/testdata/sf0.001"


def _round(x: float, s: int) -> float:
    eps = 0.0 if x < 0 else 5e-5 / (10**s)
    return float(
        Decimal(repr(x + eps)).quantize(
            Decimal(1).scaleb(-s), rounding=ROUND_HALF_UP
        )
    )


def test_effective_dimensionality_recomputed(spark):
    e = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()
    rows = {
        r["label"]: r
        for r in QUERIES["embedding_effective_dimensionality"](
            spark, SF
        ).collect()
    }
    for label, g in e.groupby("label"):
        vecs = np.stack(
            g["embedding"].map(lambda v: np.asarray(v, dtype=np.float64))
        )
        var = np.array(
            [
                _round(float((c * c).mean() - c.mean() ** 2), 6)
                for c in vecs.T
            ]
        )
        r = rows[label]
        assert r["n_dims"] == vecs.shape[1]
        # numpy's pairwise summation can land a half-ulp away from the
        # engines' sequential fold at the 6dp boundary; exact engine
        # equality is the oracle hash's job, this checks the math
        assert abs(float(r["total_var"]) - float(var.sum())) <= 2e-6
        pr = float(var.sum()) ** 2 / float((var * var).sum())
        assert abs(float(r["participation_ratio"]) - pr) < 1e-3
        assert 1.0 <= float(r["participation_ratio"]) <= r["n_dims"]
        assert r["n_dead"] == int((var < 1e-6).sum())


def _passes_gates(text: str) -> bool:
    ws = re.split(r"\s+", text.strip().lower())
    if len(ws) < PREP_MIN_WORDS:
        return False
    alpha = _round(
        len(re.sub(r"[^A-Za-z]", "", text)) / max(len(text), 1), 4
    )
    if not alpha > PREP_MIN_ALPHA:
        return False
    return p_lang_id(ws) == PREP_LANG


def test_order_sensitivity_arithmetic_and_dedup_first_recomputed(spark):
    """Internal arithmetic must close per source, and the dedup-first
    arm is recomputable from the registered component query + Python
    gates: kept_b = {component canonicals (min doc_id) that pass}."""
    rows = {
        r["source"]: r
        for r in QUERIES["pipeline_dedup_order_sensitivity"](
            spark, SF
        ).collect()
    }
    for r in rows.values():
        assert r["n_common"] == r["n_gate_first"] - r["n_only_gate_first"]
        assert r["n_common"] == r["n_dedup_first"] - r["n_only_dedup_first"]

    d = pq.read_table(f"{SF}/documents.parquet").to_pandas()
    gate_ok = {
        int(row.doc_id)
        for row in d.itertuples()
        if _passes_gates(row.text)
    }
    comp = QUERIES["dedup_connected_components"](spark, SF).collect()
    canonicals = {
        r["doc_id"] for r in comp if r["doc_id"] == r["component_id"]
    }
    kept_b = canonicals & gate_ok
    src = dict(zip(d["doc_id"].astype(int), d["source"]))
    from collections import Counter

    expected = Counter(src[i] for i in kept_b)
    got = {
        s: r["n_dedup_first"] for s, r in rows.items() if r["n_dedup_first"]
    }
    assert got == dict(expected)
    # gate-first keeps one representative per gated-subgraph component,
    # so it can never keep more docs than pass the gates — and both
    # orders must disagree somewhere on this fixture (measured: 1 doc
    # at sf0.001, 4 at sf0.01) or the query degenerates to noise
    assert sum(r["n_gate_first"] for r in rows.values()) <= len(gate_ok)
    assert sum(r["n_only_dedup_first"] for r in rows.values()) + sum(
        r["n_only_gate_first"] for r in rows.values()
    ) > 0


def test_effective_dimensionality_degenerate_label_nulls(spark, tmp_path):
    """A label whose vectors are all identical has every 6dp-rounded
    per-dimension variance == 0, so both ratio denominators are 0.
    Spark's non-ANSI divide yields NULL and DuckDB float division
    yields inf/NaN — the explicit denominator guards must make BOTH
    engines emit NULL (and agree on the healthy label)."""
    import duckdb
    import pyarrow as pa

    from kafka_go_streamer_spark.plans import ORACLES

    const = [[1.5] * 8] * 5                      # label 0: constant vectors
    rng = np.random.default_rng(7)
    healthy = rng.normal(size=(5, 8)).astype(np.float32).tolist()
    tbl = pa.table(
        {
            "vec_id": pa.array(range(10), pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in v] for v in const + healthy],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0] * 5 + [1] * 5, pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    got = {
        r["label"]: r
        for r in QUERIES["embedding_effective_dimensionality"](
            spark, str(tmp_path)
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet'"
    )
    ora = {
        int(r["label"]): r
        for _, r in con.execute(
            ORACLES["embedding_effective_dimensionality"]
        ).df().iterrows()
    }

    assert got[0]["participation_ratio"] is None
    assert got[0]["top1_var_share"] is None
    assert got[0]["total_var"] == 0.0
    assert pd.isna(ora[0]["participation_ratio"])
    assert pd.isna(ora[0]["top1_var_share"])
    for col in ("participation_ratio", "top1_var_share", "total_var"):
        assert float(got[1][col]) == float(ora[1][col])
