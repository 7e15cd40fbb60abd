"""Pure-Python references for the round-11 curation wave — independent
of both Spark and DuckDB, so a shared engine misunderstanding cannot
cancel out in the oracle parity check: DoReMi mirror-descent weight
algebra (simplex, monotone in excess loss), fertility/bytes-per-token
ratios, 13-gram contamination sets, sqrt-temperature epoch planning,
bucketed n-gram novelty, keep-first token retention, linear MMD^2 from
hand-built means, and mixture KL/perplexity."""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict

import duckdb
import pytest

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans import curation as C

SF = "/root/testdata/sf0.001"

TOKEN_RE = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    return con


@pytest.fixture(scope="module")
def docs(duck):
    return duck.execute(
        "SELECT doc_id, text, lang, source, n_chars FROM documents"
    ).fetchall()


def _words(text: str) -> list[str]:
    t = text.strip().lower()
    return re.split(r"\s+", t) if t else [""]


def _tokens(text: str) -> int:
    return len(TOKEN_RE.findall(text))


def _grams(text: str, n: int) -> list[str]:
    ws = _words(text)
    return [
        hashlib.md5(" ".join(ws[i : i + n]).encode()).hexdigest()
        for i in range(len(ws) - n + 1)
    ]


# ------------------------------------------------------ DoReMi reweight
def test_doremi_reweight_matches_python_reference(spark, docs):
    per: dict[str, list[float]] = defaultdict(list)
    for _, text, _, source, n_chars in docs:
        per[source].append(
            math.log(1.0 + n_chars / max(_tokens(text), 1))
        )
    all_l = [v for vs in per.values() for v in vs]
    ref = round(sum(all_l) / len(all_l), 6)
    loss = {s: round(sum(v) / len(v), 6) for s, v in per.items()}
    excess = {s: round(max(loss[s] - ref, 0.0), 6) for s in per}
    raw = {s: math.exp(C.DOREMI_ETA * excess[s]) for s in per}
    z = sum(raw.values())
    got = {
        r["source"]: r
        for r in QUERIES["sample_doremi_reweight"](spark, SF).collect()
    }
    assert set(got) == set(per)
    wsum = 0.0
    for s in per:
        r = got[s]
        assert r["n_docs"] == len(per[s]), s
        assert r["loss_proxy"] == pytest.approx(loss[s], abs=2e-6), s
        assert r["excess_loss"] == pytest.approx(excess[s], abs=2e-6), s
        assert r["weight"] == pytest.approx(raw[s] / z, abs=2e-6), s
        wsum += r["weight"]
    # simplex + monotonicity: weights sum to 1, ordered like excess
    assert wsum == pytest.approx(1.0, abs=1e-4)
    order_e = sorted(per, key=lambda s: excess[s])
    order_w = sorted(per, key=lambda s: got[s]["weight"])
    assert [excess[s] for s in order_e] == pytest.approx(
        [excess[s] for s in order_w]
    )


# ------------------------------------------------------------ fertility
def test_tokenizer_fertility_matches_python_reference(spark, docs):
    agg: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
    for _, text, lang, _, _ in docs:
        a = agg[lang]
        a[0] += 1
        a[1] += len(text.encode("utf-8"))
        a[2] += len(_words(text))
        a[3] += _tokens(text)
    got = {
        r["lang"]: r
        for r in QUERIES["text_tokenizer_fertility"](spark, SF).collect()
    }
    assert set(got) == set(agg)
    for lang, (nd, nb, nw, nt) in agg.items():
        r = got[lang]
        assert (
            r["n_docs"],
            r["n_bytes"],
            r["n_words"],
            r["n_tokens"],
        ) == (nd, nb, nw, nt), lang
        assert r["fertility"] == pytest.approx(nt / nw, abs=2e-6), lang
        assert r["bytes_per_token"] == pytest.approx(
            nb / nt, abs=2e-6
        ), lang


# -------------------------------------------------- 13-gram contamination
def test_contamination_ngrams_matches_python_reference(spark, docs):
    bench: set[str] = set()
    for doc_id, text, _, _, _ in docs:
        if doc_id % C.BENCH_MOD == 0:
            bench.update(_grams(text, C.CONTAM_N))
    per: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
    for doc_id, text, _, source, _ in docs:
        if doc_id % C.BENCH_MOD == 0:
            continue
        shared = len(set(_grams(text, C.CONTAM_N)) & bench)
        a = per[source]
        a[0] += 1
        a[1] += 1 if shared else 0
        a[2] += shared
    got = {
        r["source"]: r
        for r in QUERIES["text_contamination_ngrams"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(per)
    for s, (nt, nc, ns) in per.items():
        r = got[s]
        assert r["n_train_docs"] == nt, s
        assert r["n_contaminated"] == nc, s
        assert r["n_shared_grams"] == ns, s
        assert r["contamination_rate"] == pytest.approx(
            nc / nt, abs=2e-6
        ), s


# ------------------------------------------------------- budget planner
def test_token_budget_epochs_matches_python_reference(spark, docs):
    toks: dict[str, int] = defaultdict(int)
    for _, text, _, source, _ in docs:
        toks[source] += _tokens(text)
    total = sum(toks.values())
    z = sum(math.sqrt(t) for t in toks.values())
    got = {
        r["source"]: r
        for r in QUERIES["sample_token_budget_epochs"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(toks)
    for s, t in toks.items():
        r = got[s]
        share = math.sqrt(t) / z
        epochs = C.BUDGET_FRAC * total * share / t
        assert r["tokens"] == t, s
        assert r["target_share"] == pytest.approx(share, abs=2e-6), s
        assert r["epochs_needed"] == pytest.approx(epochs, abs=2e-6), s
        assert r["capped_epochs"] == pytest.approx(
            min(epochs, C.MAX_EPOCHS), abs=2e-6
        ), s
        assert r["upsampled"] == (1 if round(epochs, 6) > 1.0 else 0), s


# -------------------------------------------------------- novelty decay
def test_ngram_novelty_matches_python_reference(spark, docs):
    mx = max(d[0] for d in docs)
    per_bucket: dict[int, set[str]] = defaultdict(set)
    for doc_id, text, _, _, _ in docs:
        b = (doc_id * C.NOVELTY_BUCKETS) // (mx + 1)
        per_bucket[b].update(_grams(text, C.NOVELTY_N))
    first: dict[str, int] = {}
    for b in sorted(per_bucket):
        for g in per_bucket[b]:
            first.setdefault(g, b)
    got = {
        r["bucket"]: r
        for r in QUERIES["text_ngram_novelty_decay"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(per_bucket)
    for b, grams in per_bucket.items():
        new = sum(1 for g in grams if first[g] == b)
        r = got[b]
        assert r["n_grams_seen"] == len(grams), b
        assert r["n_new_grams"] == new, b
        assert r["novelty_rate"] == pytest.approx(
            new / len(grams), abs=2e-6
        ), b
    # novelty in the first bucket is 1.0 by construction
    assert got[min(per_bucket)]["novelty_rate"] == pytest.approx(1.0)


# ------------------------------------------------------ token retention
def test_dedup_token_retention_matches_python_reference(spark, docs):
    keeper: dict[str, int] = {}
    for doc_id, text, _, _, _ in sorted(docs):
        keeper.setdefault(hashlib.md5(text.encode()).hexdigest(), doc_id)
    kept_ids = set(keeper.values())
    per: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
    for doc_id, text, _, source, _ in docs:
        t = _tokens(text)
        a = per[source]
        a[0] += 1
        a[2] += t
        if doc_id in kept_ids:
            a[1] += 1
            a[3] += t
    got = {
        r["source"]: r
        for r in QUERIES["dedup_token_retention"](spark, SF).collect()
    }
    assert set(got) == set(per)
    for s, (dt, dk, tt, tk) in per.items():
        r = got[s]
        assert (
            r["docs_total"],
            r["docs_kept"],
            r["tokens_total"],
            r["tokens_kept"],
        ) == (dt, dk, tt, tk), s
        assert r["token_retention"] == pytest.approx(tk / tt, abs=2e-6), s


# ------------------------------------------------------------ label MMD
def test_embedding_label_mmd_matches_python_reference(spark, duck):
    rows = duck.execute(
        "SELECT label, embedding FROM embeddings"
    ).fetchall()
    by_label: dict[int, list[list[float]]] = defaultdict(list)
    for label, emb in rows:
        by_label[label].append([float(v) for v in emb])
    mu = {
        lab: [
            round(sum(v[i] for v in vs) / len(vs), 6)
            for i in range(len(vs[0]))
        ]
        for lab, vs in by_label.items()
    }
    got = {
        (r["label_a"], r["label_b"]): r["mmd_sq"]
        for r in QUERIES["embedding_label_mmd"](spark, SF).collect()
    }
    labels = sorted(mu)
    expect_pairs = {
        (a, b) for i, a in enumerate(labels) for b in labels[i + 1 :]
    }
    assert set(got) == expect_pairs
    for a, b in expect_pairs:
        want = sum((x - y) ** 2 for x, y in zip(mu[a], mu[b]))
        assert got[(a, b)] == pytest.approx(want, abs=2e-5), (a, b)
        assert got[(a, b)] >= 0.0


# ------------------------------------------------------------ mixture KL
def test_mixture_kl_matches_python_reference(spark, docs):
    toks: dict[str, int] = defaultdict(int)
    for _, text, _, source, _ in docs:
        toks[source] += _tokens(text)
    total = sum(toks.values())
    z = sum(t**C.KL_TAU for t in toks.values())
    kl = 0.0
    ent = 0.0
    for t in toks.values():
        p = round(t / total, 6)
        q = round(t**C.KL_TAU / z, 6)
        if p > 0 and q > 0:
            kl += p * math.log(p / q)
        if p > 0:
            ent += p * math.log(p)
    r = QUERIES["sample_mixture_kl_to_target"](spark, SF).collect()[0]
    assert r["n_sources"] == len(toks)
    assert r["kl_nats"] == pytest.approx(kl, abs=2e-6)
    assert r["realized_perplexity"] == pytest.approx(
        math.exp(-ent), abs=2e-5
    )
    assert r["kl_nats"] >= 0.0


# ------------------------------------------------------- wave 2 fixtures
@pytest.fixture(scope="module")
def duck_ev(duck):
    duck.execute(
        f"CREATE VIEW IF NOT EXISTS events AS"
        f" SELECT * FROM '{SF}/events.parquet'"
    )
    return duck


# -------------------------------------------------------- code detector
def test_code_detector_matches_python_reference(spark, docs):
    sym = re.compile(r"[{}()\[\]<>;=]")
    per: dict[str, list] = defaultdict(lambda: [0, 0, 0.0])
    for _, text, _, source, n_chars in docs:
        ratio = len(sym.findall(text)) / max(n_chars, 1)
        kw = sum(1 for w in _words(text) if w in C.CODE_KEYWORDS)
        a = per[source]
        a[0] += 1
        a[1] += 1 if (ratio > C.CODE_SYM_CUT or kw >= C.CODE_KW_MIN) else 0
        a[2] += ratio
    got = {
        r["source"]: r
        for r in QUERIES["text_code_detector"](spark, SF).collect()
    }
    assert set(got) == set(per)
    for s, (nd, nc, rsum) in per.items():
        r = got[s]
        assert r["n_docs"] == nd and r["n_code_like"] == nc, s
        assert r["code_rate"] == pytest.approx(nc / nd, abs=2e-6), s
        assert r["avg_symbol_ratio"] == pytest.approx(
            rsum / nd, abs=2e-6
        ), s


# --------------------------------------------------- heavy-hitter drift
def test_heavy_hitter_drift_matches_python_reference(spark, duck_ev):
    rows = duck_ev.execute(
        "SELECT floor(epoch(ts)/86400)::BIGINT, user_id, count(*)"
        " FROM events GROUP BY 1, 2"
    ).fetchall()
    by_day: dict[int, list] = defaultdict(list)
    for day, uid, n in rows:
        by_day[day].append((-n, uid))
    top = {
        d: {uid for _, uid in sorted(v)[: C.HH_TOPK]}
        for d, v in by_day.items()
    }
    got = {
        r["day"]: r
        for r in QUERIES["events_heavy_hitter_drift"](
            spark, SF
        ).collect()
    }
    days = sorted(top)
    expect_days = {
        d for i, d in enumerate(days[1:], 1) if days[i - 1] == d - 1
    }
    assert set(got) == expect_days  # every consecutive pair reports
    for d in expect_days:
        prev, curr = top[d - 1], top[d]
        inter = len(prev & curr)
        r = got[d]
        assert (r["n_prev"], r["n_curr"], r["n_common"]) == (
            len(prev),
            len(curr),
            inter,
        ), d
        assert r["jaccard"] == pytest.approx(
            inter / (len(prev) + len(curr) - inter), abs=2e-6
        ), d


# -------------------------------------------------------- RBO quantized
def test_rbo_quantization_matches_python_reference(spark, duck):
    rows = duck.execute(
        "SELECT vec_id, embedding FROM embeddings"
    ).fetchall()
    embs = {vid: [float(v) for v in e] for vid, e in rows}

    def dequant(v):
        mn, mx = min(v), max(v)
        if mx <= mn:
            return list(v)
        return [
            mn + math.floor((x - mn) * 255.0 / (mx - mn) + 0.5)
            * (mx - mn) / 255.0
            for x in v
        ]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return d / (na * nb)

    def topk(corpus, qid):
        qv = embs[qid]
        scored = sorted(
            (
                (-round(cos(v, qv), 6), vid)
                for vid, v in corpus.items()
                if vid != qid
            ),
        )[: C.RBO_K]
        return {vid: i + 1 for i, (_, vid) in enumerate(scored)}

    dq = {vid: dequant(v) for vid, v in embs.items()}
    got = {
        r["query_id"]: r
        for r in QUERIES["retrieval_rbo_quantization"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(range(C.RBO_QUERIES))
    for qid in range(C.RBO_QUERIES):
        rf, rq = topk(embs, qid), topk(dq, qid)
        shared = set(rf) & set(rq)
        rbo = sum(
            (1 - C.RBO_P) * C.RBO_P ** (d - 1) / d
            for vid in shared
            for d in range(max(rf[vid], rq[vid]), C.RBO_K + 1)
        )
        r = got[qid]
        assert r["overlap_at_k"] == len(shared), qid
        assert r["rbo"] == pytest.approx(rbo, abs=2e-6), qid
        assert 0.0 <= r["rbo"] <= 1.0


# --------------------------------------------------------- Cliff's delta
def test_cliffs_delta_matches_python_reference(spark, duck_ev):
    rows = duck_ev.execute(
        "SELECT event_type, round(value, 2), count(*)"
        " FROM events GROUP BY 1, 2"
    ).fetchall()
    per: dict[str, dict[float, int]] = defaultdict(dict)
    for et, xr, c in rows:
        per[et][xr] = c
    types = sorted(per)
    got = {
        (r["type_a"], r["type_b"]): r
        for r in QUERIES["stats_cliffs_delta"](spark, SF).collect()
    }
    expect = {
        (a, b) for i, a in enumerate(types) for b in types[i + 1 :]
    }
    assert set(got) == expect
    for a, b in expect:
        gt = sum(
            ca * cb
            for xa, ca in per[a].items()
            for xb, cb in per[b].items()
            if xa > xb
        )
        lt = sum(
            ca * cb
            for xa, ca in per[a].items()
            for xb, cb in per[b].items()
            if xa < xb
        )
        na = sum(per[a].values())
        nb = sum(per[b].values())
        r = got[(a, b)]
        assert (r["n_a"], r["n_b"]) == (na, nb), (a, b)
        want = (gt - lt) / (na * nb)
        assert r["cliffs_delta"] == pytest.approx(want, abs=2e-6), (a, b)
        assert -1.0 <= r["cliffs_delta"] <= 1.0


# ------------------------------------------------------ lifecycle states
def test_lifecycle_states_matches_python_reference(spark, duck_ev):
    rows = duck_ev.execute(
        "SELECT DISTINCT user_id, floor(epoch(ts)/604800)::BIGINT"
        " FROM events"
    ).fetchall()
    weeks_of: dict[int, set[int]] = defaultdict(set)
    for uid, w in rows:
        weeks_of[uid].add(w)
    all_weeks = sorted({w for ws in weeks_of.values() for w in ws})
    agg = {w: [0, 0, 0, 0] for w in all_weeks}
    for uid, ws in weeks_of.items():
        order = sorted(ws)
        for i, w in enumerate(order):
            if i == 0:
                agg[w][0] += 1
            elif order[i - 1] == w - 1:
                agg[w][1] += 1
            else:
                agg[w][2] += 1
        for w in order:
            if (w + 1) not in ws and (w + 1) in agg:
                agg[w + 1][3] += 1
    got = {
        r["week"]: r
        for r in QUERIES["events_user_lifecycle_states"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(agg)
    for w, (nn, nr, nres, nch) in agg.items():
        r = got[w]
        assert (
            r["n_new"],
            r["n_retained"],
            r["n_resurrected"],
            r["n_churned"],
        ) == (nn, nr, nres, nch), w
    # growth-accounting identity: actives = new + retained + resurrected
    actives = {
        w: sum(1 for ws in weeks_of.values() if w in ws)
        for w in all_weeks
    }
    for w in all_weeks:
        assert actives[w] == sum(agg[w][:3]), w


# ------------------------------------------------------- wave 3 imports
from kafka_go_streamer_spark.plans import corpus_health as H  # noqa: E402


# ------------------------------------------------- dedup threshold sweep
def test_threshold_sweep_matches_python_reference(spark):
    pairs = [
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in QUERIES["dedup_ngram_jaccard"](spark, SF).collect()
    ]
    got = {
        r["threshold"]: r
        for r in QUERIES["dedup_threshold_sweep"](spark, SF).collect()
    }
    assert set(got) == set(H.SWEEP_THRESHOLDS)
    prev_pairs = None
    for t in sorted(H.SWEEP_THRESHOLDS):
        hits = [(a, b) for a, b, j in pairs if j >= t]
        r = got[t]
        assert r["n_pairs"] == len(hits), t
        assert r["n_docs_dropped"] == len({b for _, b in hits}), t
        if prev_pairs is not None:
            assert r["n_pairs"] <= prev_pairs  # monotone in threshold
        prev_pairs = r["n_pairs"]


# ------------------------------------------------------------ hapax rate
def test_hapax_rate_matches_python_reference(spark, docs):
    from collections import Counter

    per: dict[str, Counter] = defaultdict(Counter)
    for _, text, _, source, _ in docs:
        per[source].update(_words(text))
    got = {
        r["source"]: r
        for r in QUERIES["text_hapax_rate"](spark, SF).collect()
    }
    assert set(got) == set(per)
    for s, cnt in per.items():
        hap = sum(1 for c in cnt.values() if c == 1)
        r = got[s]
        assert r["vocab_size"] == len(cnt), s
        assert r["n_hapax"] == hap, s
        assert r["n_tokens"] == sum(cnt.values()), s
        assert r["hapax_vocab_rate"] == pytest.approx(
            hap / len(cnt), abs=2e-6
        ), s
        assert r["hapax_token_rate"] == pytest.approx(
            hap / sum(cnt.values()), abs=2e-6
        ), s


# ------------------------------------------------------- mean word rank
def test_mean_word_rank_matches_python_reference(spark, docs):
    from collections import Counter

    vocab: Counter = Counter()
    for _, text, _, _, _ in docs:
        vocab.update(_words(text))
    ranked = sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))
    rank = {w: i + 1 for i, (w, _) in enumerate(ranked)}
    per: dict[str, list[float]] = defaultdict(list)
    for _, text, _, source, _ in docs:
        ws = _words(text)
        per[source].append(
            round(sum(rank[w] for w in ws) / len(ws), 6)
        )
    got = {
        r["source"]: r
        for r in QUERIES["text_mean_word_rank"](spark, SF).collect()
    }
    assert set(got) == set(per)
    for s, means in per.items():
        r = got[s]
        assert r["n_docs"] == len(means), s
        assert r["mean_word_rank"] == pytest.approx(
            sum(means) / len(means), abs=2e-6
        ), s
        assert r["worst_doc_rank"] == pytest.approx(
            max(means), abs=2e-6
        ), s


# -------------------------------------------------------- IDF stability
def test_idf_stability_matches_python_reference(spark, docs):
    mx = max(d[0] for d in docs)
    halves: dict[int, list] = {1: [], 2: []}
    for doc_id, text, _, _, _ in docs:
        halves[1 if doc_id <= mx // 2 else 2].append(text)
    idf = {}
    for h, texts in halves.items():
        n = len(texts)
        df: dict[str, int] = defaultdict(int)
        for t in texts:
            for w in set(_words(t)):
                df[w] += 1
        idf[h] = {
            w: round(math.log(n / c), 6)
            for w, c in df.items()
            if c >= H.IDF_MIN_DF
        }
    common = sorted(set(idf[1]) & set(idf[2]))
    i1 = [idf[1][w] for w in common]
    i2 = [idf[2][w] for w in common]
    n = len(common)
    s1, s2 = sum(i1), sum(i2)
    s11 = sum(x * x for x in i1)
    s22 = sum(x * x for x in i2)
    s12 = sum(x * y for x, y in zip(i1, i2))
    corr = (n * s12 - s1 * s2) / math.sqrt(
        (n * s11 - s1 * s1) * (n * s22 - s2 * s2)
    )
    mad = sum(abs(x - y) for x, y in zip(i1, i2)) / n
    r = QUERIES["text_idf_stability"](spark, SF).collect()[0]
    assert r["n_common_words"] == n
    assert r["idf_correlation"] == pytest.approx(corr, abs=2e-5)
    assert r["mean_abs_idf_diff"] == pytest.approx(mad, abs=2e-6)
    assert -1.0 <= r["idf_correlation"] <= 1.0


# ------------------------------------------------------ weekly gini trend
def test_weekly_gini_matches_python_reference(spark, duck_ev):
    rows = duck_ev.execute(
        "SELECT floor(epoch(ts)/604800)::BIGINT, user_id, count(*)"
        " FROM events GROUP BY 1, 2"
    ).fetchall()
    per: dict[int, list[int]] = defaultdict(list)
    for w, _, c in rows:
        per[w].append(c)
    got = {
        r["week"]: r
        for r in QUERIES["events_weekly_gini_trend"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(per)
    for w, xs in per.items():
        xs = sorted(xs)
        n = len(xs)
        gini = 2.0 * sum(
            (i + 1) * x for i, x in enumerate(xs)
        ) / (n * sum(xs)) - (n + 1.0) / n
        r = got[w]
        assert r["n_users"] == n and r["n_events"] == sum(xs), w
        assert r["gini"] == pytest.approx(gini, abs=2e-6), w
        assert 0.0 <= r["gini"] < 1.0


# ------------------------------------------------------------- Hill tail
def test_hill_tail_matches_python_reference(spark, duck_ev):
    rows = duck_ev.execute(
        "SELECT user_id, count(*) FROM events GROUP BY 1"
    ).fetchall()
    xs = sorted(((c, -u) for u, c in rows), reverse=True)
    counts = [c for c, _ in xs]
    n = len(counts)
    m = min(max(H.HILL_MIN, n // H.HILL_FRAC_DEN), n)
    x_m = counts[m - 1]
    ssum = sum(math.log(counts[i] / x_m) for i in range(m - 1))
    r = QUERIES["events_activity_tail_hill"](spark, SF).collect()[0]
    assert r["n_users"] == n and r["m_tail"] == m
    if ssum > 0:
        assert r["hill_alpha"] == pytest.approx(
            (m - 1) / ssum, abs=2e-5
        )
        assert r["hill_alpha"] > 0
    else:
        assert r["hill_alpha"] is None


# --------------------------------------------------------------- hubness
def test_hubness_matches_python_reference(spark, duck):
    rows = duck.execute(
        "SELECT vec_id, embedding FROM embeddings"
    ).fetchall()
    embs = {vid: [float(v) for v in e] for vid, e in rows}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a))
            * math.sqrt(sum(y * y for y in b))
        )

    occ: dict[int, int] = defaultdict(int)
    qids = [
        v for v in embs
        if v % H.HUB_MOD == 0 and v < H.HUB_MOD * H.HUB_PANEL
    ]
    for qid in qids:
        qv = embs[qid]
        scored = sorted(
            (-round(cos(v, qv), 6), vid)
            for vid, v in embs.items()
            if vid != qid
        )[: H.HUB_K]
        for _, vid in scored:
            occ[vid] += 1
    ks = [occ.get(v, 0) for v in embs]
    n = len(ks)
    m1 = sum(ks) / n
    m2 = sum(k * k for k in ks) / n - m1 * m1
    m3 = (
        sum(k**3 for k in ks) / n
        - 3 * m1 * (sum(k * k for k in ks) / n)
        + 2 * m1**3
    )
    r = QUERIES["embedding_hubness_koccurrence"](spark, SF).collect()[0]
    assert r["n_queries"] == len(qids)
    assert r["n_vectors"] == n
    assert r["max_k_occurrence"] == max(ks)
    assert r["n_hubs"] == sum(1 for k in ks if k >= 2 * H.HUB_K)
    assert r["k_occurrence_skew"] == pytest.approx(
        m3 / m2**1.5, abs=2e-5
    )


# ------------------------------------------------------ spectral entropy
def test_spectral_entropy_matches_python_reference(spark):
    powers: dict[str, list[float]] = defaultdict(list)
    for r in QUERIES["ts_periodogram_power"](spark, SF).collect():
        powers[r["event_type"]].append(r["power"])
    got = {
        r["event_type"]: r
        for r in QUERIES["ts_spectral_entropy"](spark, SF).collect()
    }
    assert set(got) == set(powers)
    for et, ps in powers.items():
        z = sum(ps)
        qs = [round(p / z, 6) for p in ps]
        h = sum(-q * math.log(q) for q in qs if q > 0) / math.log(
            len(ps)
        )
        r = got[et]
        assert r["n_periods"] == len(ps), et
        assert r["spectral_entropy"] == pytest.approx(h, abs=2e-6), et
        assert 0.0 <= r["spectral_entropy"] <= 1.0 + 1e-9


# ------------------------------------------------------- wave 4 imports
from kafka_go_streamer_spark.plans import ops_analytics as O  # noqa: E402


@pytest.fixture(scope="module")
def duck_tpch(duck):
    for t in ("lineitem", "orders"):
        duck.execute(
            f"CREATE VIEW IF NOT EXISTS {t} AS"
            f" SELECT * FROM '{SF}/{t}.parquet'"
        )
    return duck


# ------------------------------------------------------ weighted median
def test_weighted_median_matches_python_reference(spark, duck_tpch):
    rows = duck_tpch.execute(
        "SELECT l_returnflag, l_extendedprice::DOUBLE,"
        " l_quantity::DOUBLE, l_orderkey, l_linenumber FROM lineitem"
    ).fetchall()
    per: dict[str, list] = defaultdict(list)
    for flag, p, w, ok, ln in rows:
        per[flag].append((p, ok, ln, w))
    got = {
        r["l_returnflag"]: r
        for r in QUERIES["agg_weighted_median"](spark, SF).collect()
    }
    assert set(got) == set(per)
    for flag, items in per.items():
        items.sort()
        tot = sum(w for *_, w in items)
        cw = 0.0
        med = None
        for p, _, _, w in items:
            cw += w
            if cw >= tot / 2.0:
                med = p
                break
        r = got[flag]
        assert r["n_rows"] == len(items), flag
        assert r["total_weight"] == pytest.approx(tot, abs=1e-2), flag
        assert r["weighted_median_price"] == pytest.approx(
            med, abs=1e-2
        ), flag


# ---------------------------------------------------------- pareto 80/20
def test_pareto_8020_matches_python_reference(spark, duck_tpch):
    rows = duck_tpch.execute(
        "SELECT o_custkey, sum(o_totalprice::DOUBLE)"
        " FROM orders GROUP BY 1"
    ).fetchall()
    revs = sorted(((r, -ck) for ck, r in rows), reverse=True)
    tot = sum(r for r, _ in revs)
    cr, k = 0.0, 0
    for r_, _ in revs:
        cr += r_
        k += 1
        if cr >= O.PARETO_FRAC * tot:
            break
    r = QUERIES["agg_pareto_8020"](spark, SF).collect()[0]
    assert r["n_customers"] == len(revs)
    assert r["total_revenue"] == pytest.approx(tot, abs=1e-2)
    assert r["customers_for_80pct"] == k
    assert r["customer_share_for_80pct"] == pytest.approx(
        k / len(revs), abs=2e-6
    )
    assert 0 < r["customer_share_for_80pct"] <= 1


# ------------------------------------------------------- bot regularity
def test_bot_regularity_matches_python_reference(spark, duck_ev):
    rows = duck_ev.execute(
        "SELECT user_id, epoch(ts), event_id FROM events"
        " ORDER BY user_id, ts, event_id"
    ).fetchall()
    gaps: dict[int, list[float]] = defaultdict(list)
    prev: dict[int, float] = {}
    for uid, t, _ in rows:
        if uid in prev:
            gaps[uid].append(t - prev[uid])
        prev[uid] = t
    got = {
        r["user_id"]: r
        for r in QUERIES["events_bot_regularity"](spark, SF).collect()
    }
    expect = {u for u, g in gaps.items() if len(g) >= O.BOT_MIN_GAPS}
    assert set(got) == expect
    for u in expect:
        g = gaps[u]
        n = len(g)
        mean = sum(g) / n
        sd = math.sqrt(sum((x - mean) ** 2 for x in g) / (n - 1))
        r = got[u]
        assert r["n_gaps"] == n, u
        assert r["mean_gap"] == pytest.approx(mean, abs=2e-5), u
        assert r["cv"] == pytest.approx(sd / mean, abs=2e-5), u
        assert r["is_regular"] == (
            1 if round(sd / mean, 6) < O.BOT_CV_CUT else 0
        ), u


# -------------------------------------------------------- overdispersion
def test_overdispersion_matches_python_reference(spark, duck_ev):
    rows = duck_ev.execute(
        "SELECT event_type, user_id, count(*) FROM events GROUP BY 1, 2"
    ).fetchall()
    per: dict[str, list[int]] = defaultdict(list)
    for et, _, k in rows:
        per[et].append(k)
    got = {
        r["event_type"]: r
        for r in QUERIES["stats_overdispersion_index"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(per)
    for et, ks in per.items():
        n = len(ks)
        mean = sum(ks) / n
        var = sum((k - mean) ** 2 for k in ks) / (n - 1)
        disp = round(var, 6) / round(mean, 6)
        r = got[et]
        assert r["n_users"] == n, et
        assert r["dispersion"] == pytest.approx(disp, abs=2e-5), et
        want = (
            "overdispersed"
            if round(disp, 6) > O.DISP_OVER
            else "underdispersed"
            if round(disp, 6) < O.DISP_UNDER
            else "poisson"
        )
        assert r["verdict"] == want, et


# ----------------------------------------------------------- drawdown
def test_max_drawdown_matches_python_reference(spark, duck_ev):
    rows = duck_ev.execute(
        "SELECT event_type, value FROM events"
        " ORDER BY event_type, ts, event_id"
    ).fetchall()
    per: dict[str, list[float]] = defaultdict(list)
    for et, v in rows:
        per[et].append(v)
    got = {
        r["event_type"]: r
        for r in QUERIES["ts_max_drawdown"](spark, SF).collect()
    }
    assert set(got) == set(per)
    for et, vs in per.items():
        cum, peak, dd, pk = 0.0, -math.inf, 0.0, -math.inf
        for v in vs:
            cum += v
            peak = max(peak, cum)
            dd = max(dd, peak - cum)
            pk = max(pk, peak)
        r = got[et]
        assert r["n_events"] == len(vs), et
        assert r["max_drawdown"] == pytest.approx(dd, abs=2e-4), et
        assert r["peak_value"] == pytest.approx(pk, abs=2e-4), et
        assert r["max_drawdown"] >= 0.0


# ----------------------------------------------------- quantization MSE
def test_quantization_mse_matches_python_reference(spark, duck):
    rows = duck.execute(
        "SELECT vec_id, label, embedding FROM embeddings"
    ).fetchall()
    per: dict[int, list[float]] = defaultdict(list)
    for _, label, emb in rows:
        v = [float(x) for x in emb]
        mn, mx = min(v), max(v)
        if mx > mn:
            vq = [
                mn + math.floor((x - mn) * 255.0 / (mx - mn) + 0.5)
                * (mx - mn) / 255.0
                for x in v
            ]
        else:
            vq = v
        per[label].append(
            round(
                sum((a - b) ** 2 for a, b in zip(v, vq)) / len(v), 8
            )
        )
    got = {
        r["label"]: r
        for r in QUERIES["embedding_quantization_mse"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(per)
    for lab, mses in per.items():
        r = got[lab]
        assert r["n_vecs"] == len(mses), lab
        assert r["mean_mse"] == pytest.approx(
            sum(mses) / len(mses), abs=2e-7
        ), lab
        assert r["max_mse"] == pytest.approx(max(mses), abs=2e-7), lab
        assert r["max_mse"] >= 0.0


# ------------------------------------------------------ silhouette proxy
def test_silhouette_proxy_matches_python_reference(spark, duck):
    rows = duck.execute(
        "SELECT vec_id, label, embedding FROM embeddings"
    ).fetchall()
    by_label: dict[int, list[list[float]]] = defaultdict(list)
    vecs = {}
    labels = {}
    for vid, label, emb in rows:
        v = [float(x) for x in emb]
        vecs[vid] = v
        labels[vid] = label
        by_label[label].append(v)
    mu = {
        lab: [
            round(sum(v[i] for v in vs) / len(vs), 6)
            for i in range(len(vs[0]))
        ]
        for lab, vs in by_label.items()
    }
    sils: dict[int, list[float]] = defaultdict(list)
    for vid, v in vecs.items():
        d2 = {
            lab: round(sum((x - m) ** 2 for x, m in zip(v, c)), 6)
            for lab, c in mu.items()
        }
        a = math.sqrt(d2[labels[vid]])
        b = math.sqrt(
            min(d for lab, d in d2.items() if lab != labels[vid])
        )
        sils[labels[vid]].append(
            round((b - a) / max(a, b), 6) if max(a, b) > 0 else None
        )
    got = {
        r["label"]: r
        for r in QUERIES["embedding_silhouette_proxy"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(sils)
    for lab, ss in sils.items():
        r = got[lab]
        assert r["n_vecs"] == len(ss), lab
        vals = [s for s in ss if s is not None]
        assert r["mean_silhouette"] == pytest.approx(
            sum(vals) / len(vals), abs=2e-5
        ), lab
        assert -1.0 <= r["mean_silhouette"] <= 1.0


# ------------------------------------------------------- route masking
def test_route_masking_matches_python_reference(spark, docs):
    from kafka_go_streamer_spark.plans.routing_queries import DOCS_SPLITER

    preds = []
    for rs in DOCS_SPLITER.resolved_splits():
        if rs.use_regex:
            rx = re.compile(rs.pattern)
            preds.append(lambda t, rx=rx: rx.search(t) is not None)
        else:
            preds.append(lambda t, p=rs.pattern: p in t)
    match = [0] * len(preds)
    routed = [0] * len(preds)
    for _, text, _, _, _ in docs:
        hit_earlier = False
        for i, pred in enumerate(preds):
            if pred(text):
                match[i] += 1
                if not hit_earlier:
                    routed[i] += 1
            hit_earlier = hit_earlier or pred(text)
    got = {
        r["split_idx"]: r
        for r in QUERIES["route_masking_analysis"](spark, SF).collect()
    }
    assert set(got) == set(range(1, len(preds) + 1))
    for i in range(len(preds)):
        r = got[i + 1]
        assert r["n_match"] == match[i], i
        assert r["n_routed"] == routed[i], i
        assert r["n_masked"] == match[i] - routed[i], i
        assert r["n_routed"] <= r["n_match"]
    # identity: total routed across splits == docs matching any pattern
    any_match = sum(
        1
        for _, text, _, _, _ in docs
        if any(p(text) for p in preds)
    )
    assert sum(r["n_routed"] for r in got.values()) == any_match


# ------------------------------------------------------------- Heaps fit
def test_heaps_law_matches_python_reference(spark, docs):
    mx = max(d[0] for d in docs)
    tok: dict[int, int] = defaultdict(int)
    first: dict[str, int] = {}
    for doc_id, text, _, _, _ in sorted(docs):
        b = (doc_id * H.HEAPS_BUCKETS) // (mx + 1)
        ws = _words(text)
        tok[b] += len(ws)
        for w in ws:
            first.setdefault(w, b)
    new: dict[int, int] = defaultdict(int)
    for w, b in first.items():
        new[b] += 1
    xs, ys = [], []
    ct, cv = 0, 0
    for b in sorted(tok):
        ct += tok[b]
        cv += new.get(b, 0)
        xs.append(round(math.log(ct), 6))
        ys.append(round(math.log(cv), 6))
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    k = math.exp((sy - beta * sx) / n)
    r2 = (n * sxy - sx * sy) ** 2 / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    r = QUERIES["text_heaps_law_fit"](spark, SF).collect()[0]
    assert r["n_buckets"] == n
    assert r["heaps_beta"] == pytest.approx(beta, abs=2e-5)
    assert r["heaps_k"] == pytest.approx(k, abs=2e-3)
    assert r["r_squared"] == pytest.approx(r2, abs=2e-5)
    # the sf0.001 fixture's synthetic vocabulary saturates in bucket 0,
    # so beta == 0.0 there is the CORRECT fit (real text gives ~0.5)
    assert 0.0 <= r["heaps_beta"] <= 1.5
    assert 0.0 <= r["r_squared"] <= 1.0


# ------------------------------------------------------ Simpson diversity
def test_simpson_diversity_matches_python_reference(spark, docs):
    from collections import Counter

    per: dict[str, Counter] = defaultdict(Counter)
    for _, text, _, source, _ in docs:
        per[source].update(_words(text))
    got = {
        r["source"]: r
        for r in QUERIES["text_simpson_diversity"](spark, SF).collect()
    }
    assert set(got) == set(per)
    for s, cnt in per.items():
        n = sum(cnt.values())
        s2 = sum(c * c for c in cnt.values())
        r = got[s]
        assert r["n_tokens"] == n and r["vocab_size"] == len(cnt), s
        assert r["hhi"] == pytest.approx(s2 / n / n, abs=2e-6), s
        assert r["effective_vocab"] == pytest.approx(
            n * n / s2, abs=2e-3
        ), s
        assert 1.0 <= r["effective_vocab"] <= len(cnt) + 1e-6


# --------------------------------------------------------- null-like gate
def test_null_like_tokens_matches_python_reference(spark, docs):
    per: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
    for _, text, _, source, _ in docs:
        ws = _words(text)
        hits = sum(1 for w in ws if w in H.NULL_LIKE)
        a = per[source]
        a[0] += 1
        a[1] += len(ws)
        a[2] += hits
        a[3] += 1 if hits else 0
    got = {
        r["source"]: r
        for r in QUERIES["quality_null_like_tokens"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(per)
    for s, (nd, nw, nh, na) in per.items():
        r = got[s]
        assert (
            r["n_docs"],
            r["n_words"],
            r["n_null_like"],
            r["n_docs_affected"],
        ) == (nd, nw, nh, na), s
        assert r["null_token_rate"] == pytest.approx(
            nh / nw, abs=2e-6
        ), s
        assert r["doc_rate"] == pytest.approx(na / nd, abs=2e-6), s


# ------------------------------------------------------- cumulative reach
def test_cumulative_reach_matches_python_reference(spark, duck_ev):
    rows = duck_ev.execute(
        "SELECT user_id, floor(epoch(ts)/86400)::BIGINT FROM events"
    ).fetchall()
    first: dict[int, int] = {}
    all_days = set()
    for uid, d in rows:
        all_days.add(d)
        first[uid] = min(first.get(uid, d), d)
    new: dict[int, int] = defaultdict(int)
    for _, d in first.items():
        new[d] += 1
    got = {
        r["day"]: r
        for r in QUERIES["events_cumulative_reach"](spark, SF).collect()
    }
    assert set(got) == all_days
    cum = 0
    for d in sorted(all_days):
        cum += new.get(d, 0)
        r = got[d]
        assert r["n_new_users"] == new.get(d, 0), d
        assert r["cum_users"] == cum, d
        assert r["reach_rate"] == pytest.approx(
            cum / len(first), abs=2e-6
        ), d
    assert got[max(all_days)]["reach_rate"] == pytest.approx(1.0)


# ------------------------------------------------------- transition lift
def test_transition_lift_matches_python_reference(spark, duck_ev):
    rows = duck_ev.execute(
        "SELECT user_id, event_type FROM events ORDER BY user_id, ts,"
        " event_id"
    ).fetchall()
    bigrams: dict[tuple, int] = defaultdict(int)
    prev: dict[int, str] = {}
    for uid, et in rows:
        if uid in prev:
            bigrams[(prev[uid], et)] += 1
        prev[uid] = et
    n = sum(bigrams.values())
    ma: dict[str, int] = defaultdict(int)
    mb: dict[str, int] = defaultdict(int)
    for (a, b), c in bigrams.items():
        ma[a] += c
        mb[b] += c
    got = {
        (r["from_type"], r["to_type"]): r
        for r in QUERIES["events_transition_lift"](spark, SF).collect()
    }
    assert set(got) == set(bigrams)
    for (a, b), c in bigrams.items():
        lift = c * n / (ma[a] * mb[b])
        r = got[(a, b)]
        assert r["n"] == c, (a, b)
        assert r["lift"] == pytest.approx(lift, abs=2e-5), (a, b)
        assert r["log_lift"] == pytest.approx(
            math.log(lift), abs=2e-5
        ), (a, b)


# --------------------------------------------------------- HHI by nation
def test_hhi_by_nation_matches_python_reference(spark, duck_tpch):
    duck_tpch.execute(
        f"CREATE VIEW IF NOT EXISTS customer AS"
        f" SELECT * FROM '{SF}/customer.parquet'"
    )
    duck_tpch.execute(
        f"CREATE VIEW IF NOT EXISTS nation AS"
        f" SELECT * FROM '{SF}/nation.parquet'"
    )
    rows = duck_tpch.execute(
        "SELECT n.n_name, sum(l.l_extendedprice * (1 - l.l_discount))"
        " FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
        " JOIN customer c ON o.o_custkey = c.c_custkey"
        " JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY 1"
    ).fetchall()
    rs = [float(r_) for _, r_ in rows]
    tot = sum(rs)
    s2 = sum(x * x for x in rs)
    r = QUERIES["agg_hhi_by_nation"](spark, SF).collect()[0]
    assert r["n_nations"] == len(rs)
    assert r["total_revenue"] == pytest.approx(tot, rel=1e-9)
    assert r["hhi"] == pytest.approx(s2 / tot / tot, abs=2e-6)
    assert r["effective_competitors"] == pytest.approx(
        tot * tot / s2, abs=2e-3
    )
    assert 1.0 <= r["effective_competitors"] <= len(rs) + 1e-6
