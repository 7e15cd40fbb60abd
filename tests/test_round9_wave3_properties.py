"""Pure-Python references for the round-9 third wave: TextRank over
the co-occurrence graph, Hyndman seasonal strength, Goh-Barabási
inter-arrival burstiness, and the duplication-severity histogram."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import duckdb
import pytest

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans.graph import PR_DAMPING
from kafka_go_streamer_spark.plans.text import TR_ITERS, TR_TOP, TR_VOCAB

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    return con


# -------------------------------------------------------------- TextRank
def test_textrank_matches_python_pagerank(spark, duck):
    rows = duck.execute("SELECT text FROM documents").fetchall()
    bigrams: list[tuple[str, str]] = []
    for (text,) in rows:
        ws = re.split(r"\s+", text.lower().strip())
        bigrams.extend(zip(ws, ws[1:]))
    freq = Counter()
    for a, b in bigrams:
        freq[a] += 1
        freq[b] += 1
    vocab = {
        w
        for w, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[
            :TR_VOCAB
        ]
    }
    edges = Counter()
    for a, b in bigrams:
        if a != b and a in vocab and b in vocab:
            edges[(a, b)] += 1
            edges[(b, a)] += 1
    out_tot: dict[str, int] = defaultdict(int)
    for (a, _), n in edges.items():
        out_tot[a] += n
    nodes = sorted(out_tot)
    nn = len(nodes)
    r = {u: 1.0 / nn for u in nodes}
    for _ in range(TR_ITERS):
        contrib: dict[str, float] = defaultdict(float)
        for (a, b), n in edges.items():
            contrib[b] += r[a] * n / out_tot[a]
        r = {
            u: (1.0 - PR_DAMPING) / nn + PR_DAMPING * contrib.get(u, 0.0)
            for u in nodes
        }
    expected = sorted(
        ((round(v, 6), u) for u, v in r.items()),
        key=lambda t: (-t[0], t[1]),
    )[:TR_TOP]
    got = QUERIES["text_textrank_keywords"](spark, SF).toPandas()
    assert list(got["word"]) == [u for _, u in expected]
    for (v, _), gv in zip(expected, got["textrank"]):
        assert gv == pytest.approx(v, abs=2e-6)
    # rank mass sanity: everything positive, teleport floor respected
    assert (got["textrank"] > (1.0 - PR_DAMPING) / nn * 0.999).all()


# ------------------------------------------------------- seasonal strength
def test_seasonal_strength_matches_python(spark, duck):
    rows = duck.execute(
        "SELECT event_type, floor(epoch(ts)/3600)::BIGINT,"
        " round(avg(value), 6) FROM events GROUP BY 1, 2"
    ).fetchall()
    series: dict[str, list[tuple[int, float]]] = defaultdict(list)
    for et, h, x in rows:
        series[et].append((int(h), float(x)))
    got = {
        r["event_type"]: r
        for r in QUERIES["ts_seasonal_strength"](spark, SF)
        .toPandas()
        .to_dict("records")
    }
    for et, pts in series.items():
        prof: dict[int, list[float]] = defaultdict(list)
        for h, x in pts:
            prof[h % 24].append(x)
        smean = {k: round(sum(v) / len(v), 6) for k, v in prof.items()}
        xs = [x for _, x in pts]
        resid = [x - smean[h % 24] for h, x in pts]

        def var(v):
            m = sum(v) / len(v)
            return sum((x - m) ** 2 for x in v) / (len(v) - 1)

        strength = max(0.0, 1.0 - var(resid) / var(xs))
        r = got[et]
        assert r["n_hours"] == len(pts), et
        assert r["seasonal_strength"] == pytest.approx(
            strength, abs=2e-4
        ), et
        assert 0.0 <= r["seasonal_strength"] <= 1.0


# ---------------------------------------------------------- burstiness B
def test_interarrival_burstiness_matches_python(spark, duck):
    rows = duck.execute(
        "SELECT user_id, event_type, epoch(ts), event_id FROM events"
        " ORDER BY user_id, event_type, ts, event_id"
    ).fetchall()
    gaps: dict[str, list[float]] = defaultdict(list)
    prev: dict[tuple[int, str], float] = {}
    for u, et, t, _ in rows:
        key = (u, et)
        if key in prev:
            gaps[et].append(t - prev[key])
        prev[key] = t
    got = {
        r["event_type"]: r
        for r in QUERIES["events_interarrival_burstiness"](spark, SF)
        .toPandas()
        .to_dict("records")
    }
    assert set(got) == set(gaps)
    for et, g in gaps.items():
        mu = round(sum(g) / len(g), 6)
        m2 = sum((x - sum(g) / len(g)) ** 2 for x in g) / (len(g) - 1)
        sd = round(math.sqrt(m2), 6)
        b = (sd - mu) / (sd + mu)
        r = got[et]
        assert r["n_gaps"] == len(g), et
        assert r["mean_gap"] == pytest.approx(mu, rel=1e-6), et
        assert r["burstiness"] == pytest.approx(b, abs=2e-4), et
        assert -1.0 < r["burstiness"] < 1.0


# ----------------------------------------------------- severity histogram
def test_severity_histogram_consistent_with_pairs(spark):
    pairs = QUERIES["dedup_ngram_jaccard"](spark, SF).toPandas()
    buckets = Counter()
    sums: dict[float, float] = defaultdict(float)
    for j in pairs["jaccard"]:
        b = round(math.floor(j * 10) / 10.0, 1)
        buckets[b] += 1
        sums[b] += j
    out = {
        r["jaccard_bucket"]: r
        for r in QUERIES["dedup_severity_histogram"](spark, SF)
        .toPandas()
        .to_dict("records")
    }
    assert set(out) == set(buckets)
    for b, n in buckets.items():
        assert out[b]["n_pairs"] == n, b
        assert out[b]["avg_jaccard"] == pytest.approx(
            sums[b] / n, abs=2e-4
        ), b
    assert sum(r["n_pairs"] for r in out.values()) == len(pairs)
