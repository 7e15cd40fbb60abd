"""Pure-Python references for the round-10 wave — independent of both
Spark and DuckDB, so a shared engine misunderstanding cannot cancel out
in the oracle parity check: Mann-Kendall S/variance/z, Cramér's V from
a hand-built contingency, Cohen's d / Hedges g, Wilson interval
algebra, Kruskal-Wallis tie-corrected H, Benford digit shares, Beta
posterior moments, periodogram projections, Durbin-Levinson PACF, OHLC
first/last selection, MASE join algebra, empirical VaR/CVaR, Newman
assortativity, local clustering, bipartite cosine affinity,
reciprocity, MRR/AP rank math, isotropy, gap sessionization, Lorenz
monotonicity, and Kish ESS."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb
import pytest

from kafka_go_streamer_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    return con


def _daily_means(duck) -> dict[str, dict[int, float]]:
    rows = duck.execute(
        "SELECT event_type, floor(epoch(ts)/86400)::BIGINT,"
        " round(avg(value), 6) FROM events GROUP BY 1, 2"
    ).fetchall()
    d: dict[str, dict[int, float]] = defaultdict(dict)
    for et, day, x in rows:
        d[et][day] = x
    return d


def _hourly_means(duck) -> dict[str, dict[int, float]]:
    rows = duck.execute(
        "SELECT event_type, floor(epoch(ts)/3600)::BIGINT,"
        " round(avg(value), 6) FROM events GROUP BY 1, 2"
    ).fetchall()
    d: dict[str, dict[int, float]] = defaultdict(dict)
    for et, h, x in rows:
        d[et][h] = x
    return d


# ---------------------------------------------------------- Mann-Kendall
def test_mann_kendall_matches_python_reference(spark, duck):
    daily = _daily_means(duck)
    got = {
        r["event_type"]: r
        for r in QUERIES["stats_mann_kendall_trend"](spark, SF).collect()
    }
    for et, series in daily.items():
        days = sorted(series)
        xs = [series[d] for d in days]
        n = len(xs)
        s = sum(
            (xs[j] > xs[i]) - (xs[j] < xs[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        ties = Counter(xs)
        tie = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
        var_s = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
        r = got[et]
        assert r["n_days"] == n and r["s_stat"] == s, et
        assert r["var_s"] == pytest.approx(var_s, abs=1e-3), et
        if s > 0:
            z = (s - 1) / math.sqrt(var_s)
        elif s < 0:
            z = (s + 1) / math.sqrt(var_s)
        else:
            z = 0.0
        assert r["z_stat"] == pytest.approx(z, abs=1e-3), et


# ------------------------------------------------------------- Cramér V
def test_cramers_v_matches_python_reference(spark, duck):
    rows = duck.execute(
        "SELECT event_type, floor(epoch(ts)/86400)::BIGINT % 7"
        " FROM events"
    ).fetchall()
    obs: Counter = Counter(rows)
    rt: Counter = Counter(et for et, _ in rows)
    ct: Counter = Counter(dw for _, dw in rows)
    n = len(rows)
    chi2 = sum(
        (o - rt[et] * ct[dw] / n) ** 2 / (rt[et] * ct[dw] / n)
        for (et, dw), o in obs.items()
    )
    v = math.sqrt(chi2 / (n * min(len(rt) - 1, len(ct) - 1)))
    r = QUERIES["stats_cramers_v"](spark, SF).collect()[0]
    assert r["n_events"] == n
    assert r["chi2"] == pytest.approx(chi2, abs=1e-3)
    assert r["cramers_v"] == pytest.approx(v, abs=1e-3)
    assert 0.0 <= r["cramers_v"] <= 1.0


# ------------------------------------------------------------ Cohen's d
def test_cohens_d_matches_python_reference(spark, duck):
    rows = duck.execute(
        "SELECT user_id % 2, value FROM events"
        " WHERE event_type = 'purchase'"
    ).fetchall()
    a = [v for g, v in rows if g == 0]
    b = [v for g, v in rows if g == 1]

    def mv(xs):
        m = sum(xs) / len(xs)
        return m, sum((x - m) ** 2 for x in xs) / (len(xs) - 1)

    ma, va = mv(a)
    mb, vb = mv(b)
    sp = math.sqrt(
        ((len(a) - 1) * va + (len(b) - 1) * vb) / (len(a) + len(b) - 2)
    )
    d = (mb - ma) / sp
    g = d * (1 - 3 / (4 * (len(a) + len(b)) - 9))
    r = QUERIES["stats_cohens_d"](spark, SF).collect()[0]
    assert (r["n_a"], r["n_b"]) == (len(a), len(b))
    assert r["cohens_d"] == pytest.approx(d, abs=1e-3)
    assert r["hedges_g"] == pytest.approx(g, abs=1e-3)
    assert abs(r["hedges_g"]) < abs(r["cohens_d"]) or d == 0


# ------------------------------------------------------------ Wilson CI
def test_wilson_interval_algebra(spark):
    from kafka_go_streamer_spark.plans.insights import WILSON_Z

    for r in QUERIES["stats_wilson_ci"](spark, SF).collect():
        n, s = r["n"], r["successes"]
        p = s / n
        z2 = WILSON_Z**2
        center = (p + z2 / (2 * n)) / (1 + z2 / n)
        half = (
            WILSON_Z
            * math.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
            / (1 + z2 / n)
        )
        assert r["p_hat"] == pytest.approx(p, abs=1e-5)
        assert r["wilson_lo"] == pytest.approx(center - half, abs=1e-5)
        assert r["wilson_hi"] == pytest.approx(center + half, abs=1e-5)
        assert 0.0 <= r["wilson_lo"] <= r["p_hat"] <= r["wilson_hi"] <= 1.0


# ------------------------------------------------------ Kruskal-Wallis
def test_kruskal_wallis_matches_python_reference(spark, duck):
    rows = duck.execute(
        "SELECT event_type, round(value + 5e-5, 2) FROM events"
    ).fetchall()
    # tie-averaged ranks over the binned values
    allv = sorted(v for _, v in rows)
    first: dict[float, int] = {}
    for i, v in enumerate(allv):
        first.setdefault(v, i)
    cnt = Counter(allv)
    avg_rank = {v: first[v] + (cnt[v] + 1) / 2.0 for v in cnt}
    groups: dict[str, list[float]] = defaultdict(list)
    for et, v in rows:
        groups[et].append(v)
    n = len(allv)
    h = (
        12.0
        / (n * (n + 1))
        * sum(
            sum(avg_rank[v] for v in vs) ** 2 / len(vs)
            for vs in groups.values()
        )
        - 3.0 * (n + 1)
    )
    tie_c = 1.0 - sum(t**3 - t for t in cnt.values()) / (n**3 - n)
    r = QUERIES["stats_kruskal_wallis"](spark, SF).collect()[0]
    assert r["n_total"] == n and r["k_groups"] == len(groups)
    assert r["h_stat"] == pytest.approx(h, rel=1e-3)
    assert r["h_corrected"] == pytest.approx(h / tie_c, rel=1e-3)
    assert r["h_corrected"] >= r["h_stat"] > 0


# --------------------------------------------------------------- Benford
def test_benford_shares_and_chi2(spark, duck):
    digits = [
        int(str(int(p))[0])
        for (p,) in duck.execute(
            "SELECT floor(l_extendedprice) FROM lineitem"
            " WHERE l_extendedprice >= 1"
        ).fetchall()
    ]
    cnt = Counter(digits)
    n = len(digits)
    rows = QUERIES["quality_benford_first_digit"](spark, SF).collect()
    assert sum(r["n_obs"] for r in rows) == n
    assert sum(r["obs_share"] for r in rows) == pytest.approx(1.0, abs=1e-4)
    for r in rows:
        d = r["digit"]
        ben = math.log10(1 + 1 / d)
        assert r["n_obs"] == cnt[d]
        assert r["benford_share"] == pytest.approx(ben, abs=1e-5)
        assert r["chi2_term"] == pytest.approx(
            n * (cnt[d] / n - ben) ** 2 / ben, abs=1e-2
        )


# ------------------------------------------------------------- Beta A/B
def test_bayes_beta_posterior_moments(spark, duck):
    rows = duck.execute(
        "SELECT user_id % 2, max(CASE WHEN event_type='purchase'"
        " THEN 1 ELSE 0 END) FROM events GROUP BY user_id"
    ).fetchall()
    n = Counter(g for g, _ in rows)
    s = Counter(g for g, c in rows if c)
    r = QUERIES["stats_bayes_beta_ab"](spark, SF).collect()[0]
    assert (r["n_a"], r["conv_a"]) == (n[0], s[0])
    assert (r["n_b"], r["conv_b"]) == (n[1], s[1])
    for grp, mean_col in ((0, "post_mean_a"), (1, "post_mean_b")):
        alpha, beta = 1 + s[grp], 1 + n[grp] - s[grp]
        assert r[mean_col] == pytest.approx(
            alpha / (alpha + beta), abs=1e-5
        )
    va = (1 + s[0]) * (1 + n[0] - s[0]) / ((2 + n[0]) ** 2 * (3 + n[0]))
    vb = (1 + s[1]) * (1 + n[1] - s[1]) / ((2 + n[1]) ** 2 * (3 + n[1]))
    z = (r["post_mean_b"] - r["post_mean_a"]) / math.sqrt(va + vb)
    assert r["z_b_minus_a"] == pytest.approx(z, abs=1e-2)


# ---------------------------------------------------------- periodogram
def test_periodogram_matches_python_reference(spark, duck):
    from kafka_go_streamer_spark.plans.insights import (
        PERIODOGRAM_PERIODS,
        TWO_PI,
    )

    hourly = _hourly_means(duck)
    got = {
        (r["event_type"], r["period_hours"]): r
        for r in QUERIES["ts_periodogram_power"](spark, SF).collect()
    }
    for et, series in hourly.items():
        mu = round(sum(series.values()) / len(series) + 5e-9, 6)
        for p in PERIODOGRAM_PERIODS:
            c = sum(
                (x - mu) * math.cos(TWO_PI * (h % p) / p)
                for h, x in series.items()
            )
            s = sum(
                (x - mu) * math.sin(TWO_PI * (h % p) / p)
                for h, x in series.items()
            )
            r = got[(et, p)]
            assert r["n_hours"] == len(series)
            assert r["power"] == pytest.approx(
                (c * c + s * s) / len(series), abs=1e-2
            ), (et, p)
            assert r["power"] >= 0


# ----------------------------------------------------------------- PACF
def test_pacf_consistent_with_acf_query(spark):
    acf = {
        (r["event_type"], r["lag"]): r["acf"]
        for r in QUERIES["ts_autocorrelation_acf"](spark, SF).collect()
    }
    for r in QUERIES["ts_pacf_lag2"](spark, SF).collect():
        et = r["event_type"]
        r1, r2 = acf[(et, 1)], acf[(et, 2)]
        assert r["r1"] == pytest.approx(r1, abs=1e-6)
        assert r["r2"] == pytest.approx(r2, abs=1e-6)
        if abs(1 - r1 * r1) > 1e-9:
            assert r["pacf_lag2"] == pytest.approx(
                (r2 - r1 * r1) / (1 - r1 * r1), abs=1e-3
            )


# ----------------------------------------------------------------- OHLC
def test_ohlc_first_last_extremes(spark, duck):
    rows = duck.execute(
        "SELECT event_type, floor(epoch(ts)/86400)::BIGINT, value,"
        " epoch(ts), event_id FROM events"
    ).fetchall()
    days: dict = defaultdict(list)
    for et, day, v, sec, eid in rows:
        days[(et, day)].append((sec, eid, v))
    got = {
        (r["event_type"], r["day_idx"]): r
        for r in QUERIES["ts_ohlc_daily"](spark, SF).collect()
    }
    assert set(got) == set(days)
    for key, evs in days.items():
        evs.sort()
        r = got[key]
        vals = [v for _, _, v in evs]
        assert r["open"] == evs[0][2] and r["close"] == evs[-1][2], key
        assert r["high"] == max(vals) and r["low"] == min(vals), key
        assert r["low"] <= min(r["open"], r["close"])
        assert r["high"] >= max(r["open"], r["close"])
        assert r["n_events"] == len(evs)


# ----------------------------------------------------------------- MASE
def test_mase_matches_python_reference(spark, duck):
    hourly = _hourly_means(duck)
    got = {
        r["event_type"]: r
        for r in QUERIES["ts_forecast_eval_mase"](spark, SF).collect()
    }
    for et, series in hourly.items():
        common = [
            h for h in series if h - 1 in series and h - 24 in series
        ]
        if not common:
            assert et not in got
            continue
        mae1 = sum(abs(series[h] - series[h - 1]) for h in common) / len(
            common
        )
        mae24 = sum(abs(series[h] - series[h - 24]) for h in common) / len(
            common
        )
        r = got[et]
        assert r["n_eval"] == len(common)
        assert r["mae_naive"] == pytest.approx(mae1, abs=1e-4)
        assert r["mae_seasonal"] == pytest.approx(mae24, abs=1e-4)
        assert r["mase"] == pytest.approx(mae24 / mae1, abs=1e-3)


# ------------------------------------------------------------- VaR/CVaR
def test_var_cvar_tail_semantics(spark, duck):
    hourly = _hourly_means(duck)
    for r in QUERIES["ts_var_cvar"](spark, SF).collect():
        series = sorted(hourly[r["event_type"]].values())
        # numpy-style linear interpolation at q=0.05
        pos = 0.05 * (len(series) - 1)
        lo, hi = int(math.floor(pos)), int(math.ceil(pos))
        q = series[lo] + (pos - lo) * (series[hi] - series[lo])
        assert r["n_hours"] == len(series)
        assert r["var_5pct"] == pytest.approx(q, abs=1e-4)
        tail = [x for x in series if x <= r["var_5pct"]]
        assert r["n_tail"] == len(tail)
        assert r["cvar_5pct"] == pytest.approx(
            sum(tail) / len(tail), abs=1e-4
        )
        assert r["cvar_5pct"] <= r["var_5pct"]


def _brute_rank(duck):
    """qid -> corpus ranked by (rounded cosine desc, vec_id asc)."""
    rows = duck.execute(
        "SELECT vec_id, embedding::DOUBLE[], label FROM embeddings"
    ).fetchall()
    from kafka_go_streamer_spark.plans.insights import RET_QUERIES

    out = {}
    for qid, qv, qlabel in rows[:RET_QUERIES]:
        scored = []
        qn = math.sqrt(sum(x * x for x in qv))
        for vid, v, lab in rows:
            if vid == qid:
                continue
            dotp = sum(a * b for a, b in zip(qv, v))
            vn = math.sqrt(sum(x * x for x in v))
            scored.append((-round(dotp / (qn * vn) + 5e-9, 6), vid, lab))
        scored.sort()
        out[(qid, qlabel)] = [lab for _, _, lab in scored]
    return out


# ------------------------------------------------------------- MRR / AP
def test_mrr_and_ap_match_python_reference(spark, duck):
    from kafka_go_streamer_spark.plans.insights import RET_K

    ranks = _brute_rank(duck)
    mrr = {
        r["query_id"]: r
        for r in QUERIES["retrieval_mrr"](spark, SF).collect()
    }
    ap = {
        r["query_id"]: r
        for r in QUERIES["retrieval_average_precision"](spark, SF).collect()
    }
    for (qid, qlabel), labs in ranks.items():
        rels = [i + 1 for i, lab in enumerate(labs) if lab == qlabel]
        r = mrr[qid]
        if rels:
            assert r["first_rel_rank"] == rels[0]
            assert r["reciprocal_rank"] == pytest.approx(
                1.0 / rels[0], abs=1e-5
            )
        else:
            assert r["first_rel_rank"] is None
        hits = 0
        ap_sum = 0.0
        for i, lab in enumerate(labs[:RET_K], start=1):
            if lab == qlabel:
                hits += 1
                ap_sum += hits / i
        n_rel = len(rels)
        a = ap[qid]
        assert a["n_rel_at_k"] == hits
        if n_rel:
            assert a["ap_at_k"] == pytest.approx(
                ap_sum / min(n_rel, RET_K), abs=1e-4
            )
            assert 0.0 <= a["ap_at_k"] <= 1.0


# ------------------------------------------------------------- isotropy
def test_isotropy_matches_python_reference(spark, duck):
    rows = [
        v
        for (v,) in duck.execute(
            "SELECT embedding::DOUBLE[] FROM embeddings"
        ).fetchall()
    ]
    d = len(rows[0])
    mu = [sum(v[j] for v in rows) / len(rows) for j in range(d)]
    mu_n2 = sum(m * m for m in mu)
    mean_n2 = sum(sum(x * x for x in v) for v in rows) / len(rows)
    r = QUERIES["embedding_isotropy_score"](spark, SF).collect()[0]
    assert r["n_vecs"] == len(rows) and r["n_dims"] == d
    assert r["mu_norm_sq"] == pytest.approx(mu_n2, abs=1e-4)
    assert r["mean_norm_sq"] == pytest.approx(mean_n2, abs=1e-4)
    assert r["isotropy"] == pytest.approx(1 - mu_n2 / mean_n2, abs=1e-4)
    assert 0.0 <= r["isotropy"] <= 1.0


# --------------------------------------------------------------- sessions
def test_session_durations_match_python_reference(spark, duck):
    from kafka_go_streamer_spark.plans.insights import SESSION_GAP_SEC

    rows = duck.execute(
        "SELECT user_id, epoch(ts) FROM events"
        " ORDER BY user_id, ts, event_id"
    ).fetchall()
    sessions = []
    cur_user, start, last, cnt = None, None, None, 0
    for u, sec in rows:
        if u != cur_user or sec - last > SESSION_GAP_SEC:
            if cur_user is not None:
                sessions.append((last - start, cnt))
            cur_user, start, cnt = u, sec, 0
        last = sec
        cnt += 1
    sessions.append((last - start, cnt))
    durs = sorted(d for d, _ in sessions)
    r = QUERIES["events_session_duration_stats"](spark, SF).collect()[0]
    assert r["n_sessions"] == len(sessions)
    assert r["mean_sec"] == pytest.approx(
        sum(durs) / len(durs), abs=1e-3
    )
    assert r["max_sec"] == pytest.approx(durs[-1], abs=1e-3)
    assert r["mean_events"] == pytest.approx(
        sum(c for _, c in sessions) / len(sessions), abs=1e-3
    )
    assert durs[0] <= r["p50_sec"] <= r["p90_sec"] <= durs[-1]


# ---------------------------------------------------------------- Lorenz
def test_lorenz_deciles_shape(spark, duck):
    n_users, n_events = duck.execute(
        "SELECT count(DISTINCT user_id), count(*) FROM events"
    ).fetchone()
    rows = sorted(
        QUERIES["events_lorenz_deciles"](spark, SF).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    assert sum(r["n_users"] for r in rows) == n_users
    assert sum(r["n_events"] for r in rows) == n_events
    # ntile balance: bucket sizes differ by at most 1
    sizes = [r["n_users"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    # Lorenz property under ascending sort: the curve lies on or below
    # the population diagonal (cumulative events share never exceeds
    # cumulative users share; per-decile shares need NOT be monotone
    # when ntile hands an early bucket one extra user), cumulative
    # share monotone to 1
    cum_u = 0
    for r in rows:
        cum_u += r["n_users"]
        assert r["cum_events_share"] <= cum_u / n_users + 1e-6
    cums = [r["cum_events_share"] for r in rows]
    assert all(b >= a for a, b in zip(cums, cums[1:]))
    assert cums[-1] == pytest.approx(1.0, abs=1e-5)


# ------------------------------------------------------------------- ESS
def test_ess_matches_python_reference(spark, duck):
    from kafka_go_streamer_spark.plans.insights import ESS_CLIP

    rows = duck.execute(
        "SELECT source, n_chars FROM documents"
    ).fetchall()
    by_src: dict = defaultdict(list)
    for s, w in rows:
        by_src[s].append(w)
    got = {
        r["source"]: r
        for r in QUERIES["sample_effective_sample_size"](spark, SF).collect()
    }
    assert set(got) == set(by_src)
    for src, ws in by_src.items():
        ess = sum(ws) ** 2 / sum(w * w for w in ws)
        wc = [min(w, ESS_CLIP) for w in ws]
        essc = sum(wc) ** 2 / sum(w * w for w in wc)
        r = got[src]
        assert r["n_docs"] == len(ws)
        assert r["ess"] == pytest.approx(ess, abs=1e-2)
        assert r["ess_clipped"] == pytest.approx(essc, abs=1e-2)
        # Kish bounds: 1 <= ESS <= n; clipping can only help
        assert 1.0 <= r["ess"] <= len(ws) + 1e-9
        assert r["ess_clipped"] >= r["ess"] - 1e-9


# ------------------------------------------------------- Fisher corr CI
def test_fisher_corr_ci_matches_python_reference(spark, duck):
    daily = _daily_means(duck)
    got = {
        r["event_type"]: r
        for r in QUERIES["stats_fisher_corr_ci"](spark, SF).collect()
    }
    for et, series in daily.items():
        days = sorted(series)
        xs = [series[d] for d in days]
        n = len(days)
        if n <= 3:
            assert et not in got
            continue
        mx = sum(days) / n
        my = sum(xs) / n
        num = sum((d - mx) * (x - my) for d, x in zip(days, xs))
        den = math.sqrt(
            sum((d - mx) ** 2 for d in days)
            * sum((x - my) ** 2 for x in xs)
        )
        r_ref = num / den
        r = got[et]
        assert r["n_days"] == n
        assert r["pearson_r"] == pytest.approx(r_ref, abs=1e-4), et
        fz = math.atanh(r["pearson_r"])
        half = 1.96 / math.sqrt(n - 3)
        assert r["ci_lo"] == pytest.approx(math.tanh(fz - half), abs=1e-4)
        assert r["ci_hi"] == pytest.approx(math.tanh(fz + half), abs=1e-4)
        assert -1.0 <= r["ci_lo"] <= r["pearson_r"] <= r["ci_hi"] <= 1.0


# ------------------------------------------------- binseg changepoint
def test_binseg_matches_bruteforce_split_search(spark, duck):
    hourly = _hourly_means(duck)
    got = {
        r["event_type"]: r
        for r in QUERIES["ts_changepoint_binseg"](spark, SF).collect()
    }
    for et, series in hourly.items():
        hours = sorted(series)
        xs = [series[h] for h in hours]
        n = len(xs)

        def sse(seg):
            m = sum(seg) / len(seg)
            return sum((v - m) ** 2 for v in seg)

        total = sse(xs)
        best = max(
            range(1, n),
            key=lambda k: (
                round(total - (sse(xs[:k]) + sse(xs[k:])), 9),
                -hours[k - 1],
            ),
        )
        gain = total - (sse(xs[:best]) + sse(xs[best:]))
        r = got[et]
        assert r["n_hours"] == n
        assert r["split_hour_idx"] == hours[best - 1], et
        assert r["sse_gain"] == pytest.approx(gain, abs=1e-2), et
        if total > 0:
            assert r["variance_explained"] == pytest.approx(
                gain / total, abs=1e-4
            )
            assert 0.0 <= r["variance_explained"] <= 1.0


# ---------------------------------------------------- kNN label purity
def test_knn_purity_matches_python_reference(spark, duck):
    from kafka_go_streamer_spark.plans.insights import KNN_K, KNN_PROBES

    rows = duck.execute(
        "SELECT vec_id, embedding::DOUBLE[], label FROM embeddings"
    ).fetchall()
    per_label: dict = defaultdict(list)
    for qid, qv, qlabel in rows[:KNN_PROBES]:
        qn = math.sqrt(sum(x * x for x in qv))
        scored = sorted(
            (
                -round(
                    sum(a * b for a, b in zip(qv, v))
                    / (qn * math.sqrt(sum(x * x for x in v)))
                    + 5e-9,
                    6,
                ),
                vid,
                lab,
            )
            for vid, v, lab in rows
            if vid != qid
        )
        agree = sum(1 for _, _, lab in scored[:KNN_K] if lab == qlabel)
        per_label[qlabel].append(agree)
    got = {
        r["label"]: r
        for r in QUERIES["embedding_knn_label_purity"](spark, SF).collect()
    }
    assert set(got) == set(per_label)
    for lab, agrees in per_label.items():
        r = got[lab]
        assert r["n_probes"] == len(agrees)
        assert r["mean_purity"] == pytest.approx(
            sum(a / KNN_K for a in agrees) / len(agrees), abs=1e-5
        )
        assert r["majority_correct"] == sum(
            1 for a in agrees if 2 * a > KNN_K
        )
        assert 0.0 <= r["mean_purity"] <= 1.0


# ------------------------------------------------------- JS divergence
def test_jsd_matches_python_reference(spark, duck):
    rows = duck.execute(
        "SELECT source, lower(trim(text)) FROM documents"
    ).fetchall()
    import re as _re

    src_counts: dict = defaultdict(Counter)
    for s, t in rows:
        src_counts[s].update(w for w in _re.split(r"\s+", t) if w)
    corpus: Counter = Counter()
    for c in src_counts.values():
        corpus.update(c)
    n = sum(corpus.values())
    got = {
        r["source"]: r
        for r in QUERIES["text_js_divergence_sources"](spark, SF).collect()
    }
    assert set(got) == set(src_counts)
    for s, cnt in src_counts.items():
        t = sum(cnt.values())
        part1 = part2p = qsum = 0.0
        for w, c in cnt.items():
            p, q = c / t, corpus[w] / n
            m = (p + q) / 2
            part1 += p * math.log(p / m)
            part2p += q * math.log(q / m)
            qsum += q
        jsd = 0.5 * part1 + 0.5 * (part2p + math.log(2) * (1 - qsum))
        r = got[s]
        assert r["n_words"] == len(cnt) and r["n_tokens"] == t
        assert r["jsd_nats"] == pytest.approx(jsd, abs=1e-5), s
        assert 0.0 <= r["jsd_normalized"] <= 1.0 + 1e-9
