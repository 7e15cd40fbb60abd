"""Pure-Python references for the round-13 reliability/sizing wave
(plans/reliability.py) — independent of both Spark and DuckDB. The
router, the gate flags, the bloom/CMS sketches and the backlog
recurrence are all re-derived from the raw parquet rows with dicts,
hashlib, and plain loops; the analytic formulas are checked in closed
form."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import duckdb
import pytest

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans import reliability as R
from kafka_go_streamer_spark.plans.audit_ops import QI_LEN_BIN
from kafka_go_streamer_spark.plans.sketches import (
    BLOOM_ACCTBAL,
    BLOOM_K,
    CMS_D,
)
from tests.refs import half_up, p_lang_id, pwords

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "events", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def docs(duck):
    return duck.execute(
        "SELECT doc_id, text, lang, source, n_chars FROM documents"
    ).fetchall()


# ---------------------------------------------- route_unmatched_by_source
def _route_topic(text: str) -> str | None:
    if re.search(r"spark .*join", text):
        return "docs-spark-join"
    if "window" in text:
        return "docs-debug"
    if "hash" in text:
        return "docs-matched"
    if "vector" in text:
        return None  # action=archive -> no writer -> drop
    return "docs-unmatched"


def test_route_unmatched_by_source_matches_python(spark, docs):
    got = {
        r["source"]: (
            r["n_docs"],
            r["n_unmatched"],
            r["n_dropped"],
            r["unmatched_share"],
        )
        for r in QUERIES["route_unmatched_by_source"](spark, SF).collect()
    }
    per = defaultdict(lambda: [0, 0, 0])
    for _, text, _, source, _ in docs:
        t = _route_topic(text)
        per[source][0] += 1
        if t == "docs-unmatched":
            per[source][1] += 1
        if t is None:
            per[source][2] += 1
    assert set(got) == set(per)
    for src, (n, unm, drp) in per.items():
        assert got[src] == (
            n,
            unm,
            drp,
            pytest.approx(half_up(unm / n, 6), abs=1e-9),
        )
    # the dead-letter table is non-degenerate on this fixture
    assert sum(v[1] for v in per.values()) > 0
    assert sum(v[2] for v in per.values()) > 0


# --------------------------------------------------- quality_gate_ablation
def test_gate_ablation_matches_python(spark, docs):
    got = {
        r["gate"]: (
            r["n_fail"],
            r["n_fail_unique"],
            r["fail_share"],
            r["unique_share"],
        )
        for r in QUERIES["quality_gate_ablation"](spark, SF).collect()
    }
    first_seen = {}
    flags = []
    for doc_id, text, *_ in sorted(docs, key=lambda r: r[0]):
        ws = pwords(text)
        alpha = half_up(
            len(re.sub("[^A-Za-z]", "", text)) / max(len(text), 1), 4
        )
        fp = hashlib.md5(" ".join(sorted(set(ws))).encode()).hexdigest()
        dup = fp in first_seen
        first_seen.setdefault(fp, doc_id)
        flags.append(
            {
                "words": int(len(ws) < 20),
                "alpha": int(alpha <= 0.6),
                "lang": int(p_lang_id(ws) != "en"),
                "dup": int(dup),
            }
        )
    n = len(flags)
    for gate in ("words", "alpha", "lang", "dup"):
        total = sum(f[gate] for f in flags)
        unique = sum(
            1
            for f in flags
            if f[gate] and not any(f[g] for g in f if g != gate)
        )
        assert got[gate][0] == total
        assert got[gate][1] == unique
        assert got[gate][2] == pytest.approx(
            half_up(total / n, 6), abs=1e-9
        )
        assert got[gate][3] == pytest.approx(
            half_up(unique / n, 6), abs=1e-9
        )
        # unique failures are a subset of failures
        assert got[gate][1] <= got[gate][0]


# ---------------------------------------------------- privacy_l_diversity
def test_l_diversity_matches_python(spark, docs):
    got = {
        r["l_min"]: (r["n_classes_below"], r["n_docs_below"], r["doc_share"])
        for r in QUERIES["privacy_l_diversity"](spark, SF).collect()
    }
    classes = defaultdict(lambda: [set(), 0])
    for _, _, lang, source, n_chars in docs:
        c = classes[(lang, n_chars // QI_LEN_BIN)]
        c[0].add(source)
        c[1] += 1
    total = sum(c[1] for c in classes.values())
    for l_min in R.L_DIV_GRID:
        below = [c for c in classes.values() if len(c[0]) < l_min]
        nd = sum(c[1] for c in below)
        assert got[l_min] == (
            len(below),
            nd,
            pytest.approx(half_up(nd / total, 6), abs=1e-9),
        )
    # monotone in l
    counts = [got[m][1] for m in sorted(R.L_DIV_GRID)]
    assert counts == sorted(counts)


# --------------------------------------------------- sketch_bloom_fpr_curve
def test_bloom_fpr_matches_python(spark, duck):
    got = {
        r["m_bits"]: r
        for r in QUERIES["sketch_bloom_fpr_curve"](spark, SF).collect()
    }
    rows = duck.execute(
        "SELECT c_custkey, c_acctbal FROM customer"
    ).fetchall()
    members = [k for k, bal in rows if bal > BLOOM_ACCTBAL]

    def positions(key, m):
        h = hashlib.md5(str(key).encode()).hexdigest()
        return [int(h[8 * k : 8 * k + 8], 16) % m for k in range(BLOOM_K)]

    for m in R.BLOOM_M_GRID:
        bits = set()
        for k in members:
            bits.update(positions(k, m))
        fp = nonm = 0
        for k, bal in rows:
            if bal > BLOOM_ACCTBAL:
                continue
            nonm += 1
            if all(p in bits for p in positions(k, m)):
                fp += 1
        analytic = (
            1.0 - (1.0 - 1.0 / m) ** (BLOOM_K * len(members))
        ) ** BLOOM_K
        r = got[m]
        assert r["n_members"] == len(members)
        assert r["bits_set"] == len(bits)
        assert r["n_false_pos"] == fp
        assert r["fpr_measured"] == pytest.approx(
            half_up(fp / nonm, 6), abs=1e-9
        )
        assert r["fpr_analytic"] == pytest.approx(
            half_up(analytic, 6), abs=1e-6
        )
    # the curve: wider filters fill less and lie less
    fills = [got[m]["fill_ratio"] for m in sorted(R.BLOOM_M_GRID)]
    assert fills == sorted(fills, reverse=True)
    fprs = [got[m]["fpr_analytic"] for m in sorted(R.BLOOM_M_GRID)]
    assert fprs == sorted(fprs, reverse=True)
    assert got[min(R.BLOOM_M_GRID)]["fpr_measured"] > 0  # saturation row


# -------------------------------------------------- sketch_cms_error_profile
def test_cms_error_matches_python(spark, duck):
    got = {
        r["cms_width"]: r
        for r in QUERIES["sketch_cms_error_profile"](spark, SF).collect()
    }
    users = [
        u for (u,) in duck.execute("SELECT user_id FROM events").fetchall()
    ]
    truth = Counter(users)
    top = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[
        : R.CMS_TOP_N
    ]

    def bucket(key, d, w):
        h = hashlib.md5(str(key).encode()).hexdigest()
        return int(h[8 * d : 8 * d + 8], 16) % w

    for w in R.CMS_W_GRID:
        cells = defaultdict(int)
        for u in users:
            for d in range(CMS_D):
                cells[(d, bucket(u, d, w))] += 1
        rels = []
        exact = 0
        for u, tc in top:
            est = min(cells[(d, bucket(u, d, w))] for d in range(CMS_D))
            assert est >= tc  # CMS never undercounts
            rels.append((est - tc) / tc)
            exact += int(est == tc)
        r = got[w]
        assert r["n_probes"] == len(top)
        assert r["n_exact"] == exact
        assert r["mean_rel_overcount"] == pytest.approx(
            half_up(sum(rels) / len(rels), 6), abs=1e-9
        )
        assert r["max_rel_overcount"] == pytest.approx(
            half_up(max(rels), 6), abs=1e-9
        )
        assert r["bound_e_n_over_w"] == pytest.approx(
            half_up(math.e * len(users) / w, 2), abs=1e-6
        )
    # wider is never worse on mean error
    means = [got[w]["mean_rel_overcount"] for w in sorted(R.CMS_W_GRID)]
    assert means == sorted(means, reverse=True)


# ----------------------------------------------- events_capacity_backlog_plan
def test_backlog_plan_matches_python(spark, duck):
    got = {
        r["cap_factor_pct"]: r
        for r in QUERIES["events_capacity_backlog_plan"](
            spark, SF
        ).collect()
    }
    hrs = [
        h
        for (h,) in duck.execute(
            "SELECT epoch_us(ts) // 3600000000 FROM events"
        ).fetchall()
    ]
    h0, h1, total = min(hrs), max(hrs), len(hrs)
    nh = h1 - h0 + 1
    arr = Counter(hrs)
    for f in R.CAP_FACTORS_PCT:
        cap = (total * f + 100 * nh - 1) // (100 * nh)
        b = peak = congested = mass = 0
        for h in range(h0, h1 + 1):
            b = max(0, b + arr.get(h, 0) - cap)
            peak = max(peak, b)
            congested += int(b > 0)
            mass += b
        r = got[f]
        assert r["hourly_capacity"] == cap
        assert r["peak_backlog"] == peak
        assert r["hours_congested"] == congested
        assert r["backlog_row_hours"] == mass
        assert r["end_backlog"] == b
        assert r["congested_share"] == pytest.approx(
            half_up(congested / nh, 6), abs=1e-9
        )
    # more capacity, less pain; the overprovisioned row drains
    peaks = [got[f]["peak_backlog"] for f in sorted(R.CAP_FACTORS_PCT)]
    assert peaks == sorted(peaks, reverse=True)
    assert got[max(R.CAP_FACTORS_PCT)]["end_backlog"] == 0
    # undercapacity provably congests on this fixture
    assert got[min(R.CAP_FACTORS_PCT)]["hours_congested"] > 0


# ------------------------------------------------------- text_tail_index_hill
def test_hill_matches_python(spark, docs):
    r = QUERIES["text_tail_index_hill"](spark, SF).collect()[0]
    freq = Counter()
    for _, text, *_ in docs:
        freq.update(pwords(text))
    counts = sorted(freq.values(), reverse=True)[: R.HILL_K + 1]
    xk1 = counts[R.HILL_K]
    logsum = sum(math.log(c / xk1) for c in counts[: R.HILL_K])
    assert r["k"] == R.HILL_K
    assert r["tail_cut_count"] == xk1
    assert r["alpha_hill"] == pytest.approx(
        half_up(R.HILL_K / logsum, 6), abs=1e-6
    )
    assert r["implied_zipf_slope"] == pytest.approx(
        half_up(-logsum / R.HILL_K, 6), abs=1e-6
    )
    # a frequency tail is heavy: alpha positive, implied slope negative
    assert r["alpha_hill"] > 0
    assert r["implied_zipf_slope"] < 0
