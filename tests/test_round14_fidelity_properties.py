"""Pure-Python references for the round-14 fidelity wave
(plans/fidelity.py) — independent of both Spark and DuckDB. Dwell
windows, MAD screens, total-variation distances, hash-rank samples,
bucket pruning, rule shadowing, burstiness identities, metric-
agreement rankings, minhash width sweeps and the KLL envelope are all
re-derived from the raw parquet rows with dicts, hashlib and plain
loops."""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict

import duckdb
import pytest

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans import fidelity as FID
from kafka_go_streamer_spark.plans.audit_ops import QI_LEN_BIN
from tests.refs import half_up

SF = "/root/testdata/sf0.001"


def _pct(vals, q):
    """percentile_cont: linear interpolation at rank q*(n-1)."""
    s = sorted(vals)
    idx = q * (len(s) - 1)
    lo = int(idx)
    frac = idx - lo
    if lo + 1 < len(s):
        return s[lo] + frac * (s[lo + 1] - s[lo])
    return s[lo]


def _md5long(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "events", "orders", "embeddings", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def events(duck):
    return duck.execute(
        "SELECT event_id, epoch_us(ts), user_id, event_type FROM events"
    ).fetchall()


@pytest.fixture(scope="module")
def docs(duck):
    return duck.execute(
        "SELECT doc_id, text, lang, source, n_chars FROM documents"
    ).fetchall()


# ------------------------------------------------- events_transition_dwell
def test_transition_dwell_matches_python(spark, events):
    got = {
        (r["prev_type"], r["next_type"]): r
        for r in QUERIES["events_transition_dwell"](spark, SF).collect()
    }
    per_user = defaultdict(list)
    for eid, us, uid, et in events:
        per_user[uid].append((us, eid, et))
    dwells = defaultdict(list)
    for uid, rows in per_user.items():
        rows.sort()
        for (us0, _, t0), (us1, _, t1) in zip(rows, rows[1:]):
            dwells[(t0, t1)].append(us1 - us0)
    assert set(got) == set(dwells)
    for key, ds in dwells.items():
        r = got[key]
        assert r["n_transitions"] == len(ds)
        assert r["mean_dwell_s"] == pytest.approx(
            half_up(sum(ds) / len(ds) / 1e6, 4), abs=1e-9
        )
        assert r["p50_dwell_s"] == pytest.approx(
            half_up(_pct(ds, 0.5) / 1e6, 4), abs=1e-9
        )
        assert r["p90_dwell_s"] == pytest.approx(
            half_up(_pct(ds, 0.9) / 1e6, 4), abs=1e-9
        )
        # dwell percentiles are ordered by construction
        assert r["p50_dwell_s"] <= r["p90_dwell_s"]
    # non-degenerate: full 5x5 transition structure on this fixture
    assert len(dwells) >= 20


# -------------------------------------------------- events_rate_anomaly_mad
def test_rate_anomaly_mad_matches_python(spark, events):
    got = {
        r["event_type"]: r
        for r in QUERIES["events_rate_anomaly_mad"](spark, SF).collect()
    }
    hours = [us // 3_600_000_000 for _, us, _, _ in events]
    h0, h1 = min(hours), max(hours)
    spine = range(h0, h1 + 1)
    counts = Counter(
        (et, us // 3_600_000_000) for _, us, _, et in events
    )
    types = {et for _, _, _, et in events}
    assert set(got) == types
    for et in types:
        series = [counts.get((et, h), 0) for h in spine]
        med = _pct(series, 0.5)
        ads = [abs(c - med) for c in series]
        mad = _pct(ads, 0.5)
        n_anom = sum(
            1
            for c, ad in zip(series, ads)
            if (ad > FID.MAD_CUT_X * FID.MAD_SIGMA * mad)
            if mad > 0
        ) if mad > 0 else sum(1 for c in series if c != med)
        r = got[et]
        assert r["n_hours"] == len(series)
        assert r["med_hourly"] == pytest.approx(half_up(med, 2), abs=1e-9)
        assert r["mad_hourly"] == pytest.approx(half_up(mad, 2), abs=1e-9)
        assert r["n_anomalous"] == n_anom
        assert r["anomaly_share"] == pytest.approx(
            half_up(n_anom / len(series), 6), abs=1e-9
        )
        assert r["max_abs_dev"] == pytest.approx(
            half_up(max(ads), 2), abs=1e-9
        )


# ----------------------------------------------------- privacy_t_closeness
def test_t_closeness_matches_python(spark, docs):
    got = {
        r["t_threshold"]: r
        for r in QUERIES["privacy_t_closeness"](spark, SF).collect()
    }
    n = len(docs)
    src_tot = Counter(src for _, _, _, src, _ in docs)
    classes = defaultdict(Counter)
    for _, _, lang, src, n_chars in docs:
        classes[(lang, n_chars // QI_LEN_BIN)][src] += 1
    tv = {}
    for key, cnt in classes.items():
        n_c = sum(cnt.values())
        tvnum = sum(
            abs(cnt.get(s, 0) * n - cs * n_c) for s, cs in src_tot.items()
        )
        tv[key] = (n_c, tvnum)
    for tn, td in FID.T_CLOSE_GRID:
        thr = half_up(tn / td, 4)
        viol = [
            (n_c, tvnum)
            for n_c, tvnum in tv.values()
            if tvnum * td > 2 * tn * n_c * n
        ]
        r = got[thr]
        assert r["n_classes_above"] == len(viol)
        assert r["n_docs_above"] == sum(v[0] for v in viol)
        assert r["doc_share"] == pytest.approx(
            half_up(sum(v[0] for v in viol) / n, 6), abs=1e-9
        )
        assert r["max_tv"] == pytest.approx(
            half_up(
                max(tvnum / (2 * n_c * n) for n_c, tvnum in tv.values()), 6
            ),
            abs=1e-9,
        )
    # violations are monotone non-increasing in t
    shares = [
        got[half_up(tn / td, 4)]["n_docs_above"]
        for tn, td in FID.T_CLOSE_GRID
    ]
    assert shares == sorted(shares, reverse=True)
    # TV is a [0,1] metric
    assert all(0 <= r["max_tv"] <= 1 for r in got.values())


# ---------------------------------------------- sample_reservoir_uniformity
def test_reservoir_uniformity_matches_python(spark, duck):
    got = {
        r["o_orderpriority"]: r
        for r in QUERIES["sample_reservoir_uniformity"](
            spark, SF
        ).collect()
    }
    orders = duck.execute(
        "SELECT o_orderkey, o_orderpriority FROM orders"
    ).fetchall()
    n = len(orders)
    ranked = sorted(
        orders, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0])
    )
    samp = Counter(p for _, p in ranked[: FID.RESERVOIR_K])
    pop = Counter(p for _, p in orders)
    assert set(got) == set(pop)
    chi2 = 0.0
    for pri, np_ in pop.items():
        r = got[pri]
        ns = samp.get(pri, 0)
        exp = FID.RESERVOIR_K * np_ / n
        assert r["n_pop"] == np_
        assert r["n_sample"] == ns
        assert r["pop_share"] == pytest.approx(half_up(np_ / n, 6), abs=1e-9)
        assert r["sample_share"] == pytest.approx(
            half_up(ns / FID.RESERVOIR_K, 6), abs=1e-9
        )
        assert r["share_gap"] == pytest.approx(
            half_up(ns / FID.RESERVOIR_K - np_ / n, 6), abs=1e-9
        )
        assert r["chi2_term"] == pytest.approx(
            half_up((ns - exp) ** 2 / exp, 6), abs=1e-9
        )
        chi2 += (ns - exp) ** 2 / exp
    # sample shares sum to 1; the md5-rank sample is uniform enough
    # that chi2 over 4 dof stays far below the 0.001 critical value
    assert sum(r["n_sample"] for r in got.values()) == FID.RESERVOIR_K
    assert chi2 < 18.47


# --------------------------------------------- storage_bucket_pruning_audit
def test_bucket_pruning_matches_python(spark, duck):
    got = {
        r["n_buckets"]: r
        for r in QUERIES["storage_bucket_pruning_audit"](
            spark, SF
        ).collect()
    }
    custkeys = [
        r[0] for r in duck.execute("SELECT o_custkey FROM orders").fetchall()
    ]
    n = len(custkeys)
    panel = {k for k in custkeys if k % FID.BUCKET_PANEL_MOD == 0}
    for b in FID.BUCKET_B_GRID:
        buckets = Counter(_md5long(str(k)) % b for k in custkeys)
        hit = {_md5long(str(k)) % b for k in panel}
        scanned = sum(c for bk, c in buckets.items() if bk in hit)
        r = got[b]
        assert r["n_lookup_keys"] == len(panel)
        assert r["n_buckets_hit"] == len(hit & set(buckets))
        assert r["rows_scanned"] == scanned
        assert r["scan_share"] == pytest.approx(
            half_up(scanned / n, 6), abs=1e-9
        )
        assert r["skew_max_x"] == pytest.approx(
            half_up(max(buckets.values()) * b / n, 4), abs=1e-9
        )
    # more buckets never scan more rows for the same panel
    shares = [got[b]["rows_scanned"] for b in sorted(FID.BUCKET_B_GRID)]
    assert shares == sorted(shares, reverse=True)


# ------------------------------------------------------ route_rule_shadowing
def test_rule_shadowing_matches_python(spark, docs):
    got = {
        r["rule_idx"]: r
        for r in QUERIES["route_rule_shadowing"](spark, SF).collect()
    }
    preds = [
        lambda t: re.search(r"spark .*join", t) is not None,
        lambda t: "window" in t,
        lambda t: "hash" in t,
        lambda t: "vector" in t,
    ]
    t_cnt = [0] * 4
    w_cnt = [0] * 4
    for _, text, *_ in docs:
        ms = [p(text) for p in preds]
        for i, m in enumerate(ms):
            if m:
                t_cnt[i] += 1
        for i, m in enumerate(ms):
            if m:
                w_cnt[i] += 1
                break
    for i in range(4):
        r = got[i]
        assert r["n_match"] == t_cnt[i]
        assert r["n_won"] == w_cnt[i]
        assert r["n_shadowed"] == t_cnt[i] - w_cnt[i]
        if t_cnt[i]:
            assert r["shadow_share"] == pytest.approx(
                half_up((t_cnt[i] - w_cnt[i]) / t_cnt[i], 6), abs=1e-9
            )
        else:
            assert r["shadow_share"] is None
        # a rule never wins more than it matches; rule 0 is never
        # shadowed (nothing precedes it)
        assert r["n_won"] <= r["n_match"]
    assert got[0]["n_shadowed"] == 0
    # later rules ARE shadowed on this fixture (the table is useful)
    assert sum(r["n_shadowed"] for r in got.values()) > 0


# ------------------------------------------------------ text_word_burstiness
def test_word_burstiness_matches_python(spark, docs):
    got = {
        r["word"]: r
        for r in QUERIES["text_word_burstiness"](spark, SF).collect()
    }
    nd = len(docs)
    wc = defaultdict(Counter)
    for doc_id, text, *_ in docs:
        for w in re.split(r"\s+", text.strip().lower()):
            wc[w][doc_id] += 1
    stats = {
        w: (sum(c.values()), len(c), sum(v * v for v in c.values()))
        for w, c in wc.items()
    }
    top = sorted(stats.items(), key=lambda kv: (-kv[1][0], kv[0]))[
        : FID.BURSTINESS_TOP_N
    ]
    assert set(got) == {w for w, _ in top}
    for w, (cf, df, ssq) in top:
        r = got[w]
        mean = cf / nd
        vmr = (ssq / nd - mean * mean) / mean
        assert r["cf"] == cf
        assert r["df"] == df
        assert r["katz_burstiness"] == pytest.approx(
            half_up(cf / df, 4), abs=1e-9
        )
        assert r["mean_per_doc"] == pytest.approx(
            half_up(mean, 6), abs=1e-9
        )
        assert r["vmr"] == pytest.approx(half_up(vmr, 4), abs=1e-9)
        # Katz burstiness >= 1 by construction (cf >= df)
        assert r["katz_burstiness"] >= 1.0


# ----------------------------------------------------- ann_metric_agreement
def test_metric_agreement_matches_python(spark, duck):
    got = {
        r["q_id"]: r
        for r in QUERIES["ann_metric_agreement"](spark, SF).collect()
    }
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    emb = {
        r[0]: r[1]
        for r in duck.execute(
            "SELECT vec_id, embedding FROM embeddings"
        ).fetchall()
    }
    qs = [v for v in emb if v % 100 == 0 and v < PANEL_MAX_ID]
    assert set(got) == set(qs)

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    def norm(a):
        acc = 0.0
        for x in a:
            acc = acc + float(x) * float(x)
        return acc**0.5

    for q in qs:
        qv = emb[q]
        scored = [
            (
                half_up(dot(emb[v], qv), 6),
                half_up(dot(emb[v], qv) / (norm(emb[v]) * norm(qv)), 6),
                v,
            )
            for v in emb
            if v != q
        ]
        top_dot = {
            v
            for _, _, v in sorted(
                scored, key=lambda t: (-t[0], t[2])
            )[:10]
        }
        top_cos = {
            v
            for _, _, v in sorted(
                scored, key=lambda t: (-t[1], t[2])
            )[:10]
        }
        best_dot = min(scored, key=lambda t: (-t[0], t[2]))[2]
        best_cos = min(scored, key=lambda t: (-t[1], t[2]))[2]
        r = got[q]
        assert r["n_overlap_10"] == len(top_dot & top_cos)
        assert r["overlap_at_10"] == pytest.approx(
            half_up(len(top_dot & top_cos) / 10, 2), abs=1e-9
        )
        assert r["top1_same"] == int(best_dot == best_cos)
        assert r["q_norm"] == pytest.approx(half_up(norm(qv), 4), abs=1e-9)


# ------------------------------------------------- dedup_minhash_width_curve
def test_minhash_width_curve_matches_python(spark, docs):
    from kafka_go_streamer_spark.operators.dedup import (
        MAX_BUCKET,
        NUM_HASHES,
        SHINGLE_SIZE,
    )

    got = {
        r["n_sigs"]: r
        for r in QUERIES["dedup_minhash_width_curve"](spark, SF).collect()
    }
    sh_sets, sigs = {}, {}
    for doc_id, text, *_ in docs:
        ws = re.split(r"\s+", text.strip().lower())
        if len(ws) >= SHINGLE_SIZE:
            sh = {
                " ".join(ws[i : i + SHINGLE_SIZE])
                for i in range(len(ws) - SHINGLE_SIZE + 1)
            }
        else:
            sh = {" ".join(ws)}
        sh_sets[doc_id] = sh
        digests = [hashlib.md5(s.encode()).hexdigest() for s in sh]
        sigs[doc_id] = [
            min(d[8 * k : 8 * k + 8] for d in digests)
            for k in range(NUM_HASHES)
        ]
    buckets = defaultdict(list)
    for doc_id, sg in sigs.items():
        for band in range(NUM_HASHES):
            buckets[(band, sg[band])].append(doc_id)
    cand = set()
    for ids in buckets.values():
        if len(ids) > MAX_BUCKET:
            continue
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                cand.add((a, b))
    per_r = {r: [] for r in FID.MINHASH_R_GRID}
    for a, b in cand:
        inter = len(sh_sets[a] & sh_sets[b])
        exact = inter / (len(sh_sets[a]) + len(sh_sets[b]) - inter)
        for r in FID.MINHASH_R_GRID:
            agree = sum(
                1 for k in range(r) if sigs[a][k] == sigs[b][k]
            )
            per_r[r].append((agree / r, exact))
    for r in FID.MINHASH_R_GRID:
        rows = per_r[r]
        g = got[r]
        assert g["n_pairs"] == len(rows)
        assert g["mean_est"] == pytest.approx(
            half_up(sum(e for e, _ in rows) / len(rows), 4), abs=1e-9
        )
        assert g["bias"] == pytest.approx(
            half_up(sum(e - x for e, x in rows) / len(rows), 4), abs=1e-9
        )
        assert g["mae"] == pytest.approx(
            half_up(sum(abs(e - x) for e, x in rows) / len(rows), 4),
            abs=1e-9,
        )
    # the sizing claim: wider signatures estimate no worse (weakly
    # better) on the same pairs
    maes = [got[r]["mae"] for r in sorted(FID.MINHASH_R_GRID)]
    assert maes == sorted(maes, reverse=True)


# -------------------------------------------------- sketch_kll_error_curve
def test_kll_error_curve_certified(spark, duck):
    rows = QUERIES["sketch_kll_error_curve"](spark, SF).collect()
    assert len(rows) == len(FID.KLL_K_GRID) * 3
    vals = [
        r[0]
        for r in duck.execute(
            "SELECT l_extendedprice::DOUBLE FROM lineitem"
        ).fetchall()
    ]
    for r in rows:
        # the envelope held — on every width
        assert r["within_bound"] is True
        assert r["rank_eps"] == FID.KLL_EPS_BY_K[r["k"]]
        assert r["exact"] == pytest.approx(
            half_up(_pct(vals, r["q"]), 4), abs=1e-9
        )
    # the certified envelope falls with k — that IS the sizing curve
    eps = [FID.KLL_EPS_BY_K[k] for k in sorted(FID.KLL_K_GRID)]
    assert eps == sorted(eps, reverse=True)
