"""Pure-Python references for the round-9 final operator wave —
independent of both Spark and DuckDB, so a shared engine
misunderstanding cannot cancel out in the oracle parity check:
rescaled-range Hurst estimation, the Ljung-Box portmanteau statistic,
neighborhood-Jaccard link prediction, per-language lexical diversity,
and precision/recall@k over the cosine ranking."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import duckdb
import pytest

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans.timeseries import (
    ACF_MAX_LAG,
    HURST_BLOCKS,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    return con


def _hourly(duck) -> dict[str, list[float]]:
    """The shared hourly rollup, rounded exactly as the queries round
    it, ordered by hour index (gaps preserved as missing entries)."""
    rows = duck.execute(
        "SELECT event_type, floor(epoch(ts)/3600)::BIGINT,"
        " round(avg(value), 6) FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    series: dict[str, list[tuple[int, float]]] = defaultdict(list)
    for et, h, x in rows:
        series[et].append((int(h), float(x)))
    return {et: v for et, v in series.items()}


# ---------------------------------------------------------------- Hurst
def test_hurst_matches_python_rs(spark, duck):
    """The per-type Hurst exponent must match a from-scratch R/S
    computation: full blocks only, population sd, range of cumulative
    deviations, log-log OLS over the block sizes."""
    got = {
        r["event_type"]: r
        for r in QUERIES["ts_hurst_rs"](spark, SF)
        .toPandas()
        .to_dict("records")
    }
    series = _hourly(duck)
    assert set(got) == set(series)
    for et, pts in series.items():
        xs = [x for _, x in pts]  # ordered by hour_idx
        lx, ly, total_blocks = [], [], 0
        for n in HURST_BLOCKS:
            rss = []
            for b in range(len(xs) // n):
                blk = xs[b * n : (b + 1) * n]
                m = round(sum(blk) / n, 6)
                sd = round(
                    math.sqrt(sum((v - m) ** 2 for v in blk) / n), 6
                )
                if sd <= 0:
                    continue
                z, acc = [], 0.0
                for v in blk:
                    acc += v - m
                    z.append(acc)
                rss.append(round((max(z) - min(z)) / sd, 6))
            if rss:
                total_blocks += len(rss)
                lx.append(math.log(n))
                ly.append(math.log(round(sum(rss) / len(rss), 6)))
        k = len(lx)
        slope = (
            k * sum(a * b for a, b in zip(lx, ly)) - sum(lx) * sum(ly)
        ) / (k * sum(a * a for a in lx) - sum(lx) ** 2)
        r = got[et]
        assert r["n_sizes"] == k, et
        assert r["n_blocks"] == total_blocks, et
        assert r["hurst_exponent"] == pytest.approx(
            slope, abs=2e-4
        ), et
        # sanity: a bounded statistic for these series
        assert -0.5 < r["hurst_exponent"] < 1.5, et


# ------------------------------------------------------------ Ljung-Box
def test_ljung_box_matches_python_acf(spark, duck):
    """Q per type must match n(n+2)·Σ ρ²_k/(n−k) with the ACF computed
    from scratch on the (gap-preserving) hourly rollup."""
    got = {
        r["event_type"]: r
        for r in QUERIES["stats_ljung_box"](spark, SF)
        .toPandas()
        .to_dict("records")
    }
    series = _hourly(duck)
    assert set(got) == set(series)
    for et, pts in series.items():
        n = len(pts)
        mu = round(sum(x for _, x in pts) / n, 6)
        denom = sum((x - mu) ** 2 for _, x in pts)
        by_hour = dict(pts)
        q, m_lags = 0.0, 0
        for lag in range(1, ACF_MAX_LAG + 1):
            num = sum(
                (x - mu) * (by_hour[h + lag] - mu)
                for h, x in pts
                if h + lag in by_hour
            )
            if not any(h + lag in by_hour for h, _ in pts):
                continue
            rho = round(num / denom, 6)
            m_lags += 1
            q += rho * rho / (n - lag)
        q *= n * (n + 2.0)
        r = got[et]
        assert r["n_hours"] == n, et
        assert r["m_lags"] == m_lags, et
        assert r["lb_stat"] == pytest.approx(q, rel=1e-3, abs=1e-3), et


# ------------------------------------------------------ lexical diversity
def test_ttr_matches_python_tokenization(spark, duck):
    """Per-language token/type/hapax counts and the three ratios must
    match a from-scratch whitespace tokenization."""
    rows = duck.execute("SELECT lang, text FROM documents").fetchall()
    vocab: dict[str, Counter] = defaultdict(Counter)
    for lang, text in rows:
        vocab[lang].update(re.split(r"\s+", text.lower().strip()))
    got = {
        r["lang"]: r
        for r in QUERIES["text_ttr_lexical_diversity"](spark, SF)
        .toPandas()
        .to_dict("records")
    }
    assert set(got) == set(vocab)
    for lang, c in vocab.items():
        toks, types = sum(c.values()), len(c)
        hapax = sum(1 for v in c.values() if v == 1)
        r = got[lang]
        assert r["n_tokens"] == toks, lang
        assert r["vocab_size"] == types, lang
        assert r["n_hapax"] == hapax, lang
        assert r["ttr"] == pytest.approx(types / toks, abs=1e-6)
        assert r["root_ttr"] == pytest.approx(
            types / math.sqrt(toks), abs=1e-6
        )
        assert r["hapax_ratio"] == pytest.approx(
            hapax / types, abs=1e-6
        )


# -------------------------------------------------------------- P/R @ k
def test_precision_recall_matches_numpy_ranking(spark, duck):
    """hits, n_rel, and the three set metrics must match a from-scratch
    cosine ranking with the same rounded-similarity tie handling."""
    import numpy as np

    rows = duck.execute(
        "SELECT vec_id, embedding, label FROM embeddings ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    labels = np.array([r[2] for r in rows])
    norms = np.linalg.norm(mat, axis=1)
    k = 10
    out = {
        r["query_id"]: r
        for r in QUERIES["retrieval_precision_recall_at_k"](spark, SF)
        .toPandas()
        .to_dict("records")
    }
    assert set(out) == set(range(5))
    for qi in range(5):
        q = mat[ids == qi][0]
        ql = labels[ids == qi][0]
        cos = np.round(
            mat @ q / (norms * np.linalg.norm(q) + 0.0), 6
        )
        mask = ids != qi
        order = sorted(
            zip(-cos[mask], ids[mask], labels[mask])
        )  # desc sim, asc id
        topk = order[:k]
        hits = sum(1 for _, _, lb in topk if lb == ql)
        n_rel = int((labels[mask] == ql).sum())
        r = out[qi]
        assert r["hits"] == hits, qi
        assert r["n_rel"] == n_rel, qi
        assert r["p_at_k"] == pytest.approx(hits / k, abs=1e-6)
        assert r["r_at_k"] == pytest.approx(hits / n_rel, abs=1e-6)
        assert r["f1_at_k"] == pytest.approx(
            2.0 * hits / (k + n_rel), abs=1e-6
        )
