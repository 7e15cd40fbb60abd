"""Pure-Python references for the round-14 wave-2 queries
(plans/fidelity.py): the gate sweep, the generalization curve, the
nlist trade-off, the return-probability table and the shingle
selectivity audit, all re-derived from the raw parquet rows."""

from __future__ import annotations

import re
from collections import Counter, defaultdict

import duckdb
import pytest

from kafka_go_streamer_spark.functions.text import TOKEN_RE
from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans import fidelity as FID
from kafka_go_streamer_spark.plans.audit_ops import QI_LEN_BIN
from kafka_go_streamer_spark.plans.text import PREP_LANG
from tests.refs import half_up, p_lang_id, pwords

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def docs(duck):
    return duck.execute(
        "SELECT doc_id, text, lang, source, n_chars FROM documents"
    ).fetchall()


# ----------------------------------------------- quality_gate_threshold_sweep
def test_gate_threshold_sweep_matches_python(spark, docs):
    got = {
        (r["min_words"], r["min_alpha"]): r
        for r in QUERIES["quality_gate_threshold_sweep"](
            spark, SF
        ).collect()
    }
    scored = []
    for _, text, *_ in docs:
        ws = pwords(text)
        alpha = half_up(
            len(re.sub("[^A-Za-z]", "", text)) / max(len(text), 1), 4
        )
        toks = len(re.findall(TOKEN_RE, text))
        scored.append((len(ws), toks, alpha, p_lang_id(ws)))
    n = len(scored)
    tok_total = sum(t for _, t, _, _ in scored)
    for w in FID.GATE_W_GRID:
        for a in FID.GATE_A_GRID:
            surv = [
                (nw, t)
                for nw, t, al, lg in scored
                if nw >= w and al > a and lg == PREP_LANG
            ]
            st = sum(t for _, t in surv)
            r = got[(w, a)]
            assert r["n_survivors"] == len(surv)
            assert r["n_tokens"] == st
            assert r["doc_share"] == pytest.approx(
                half_up(len(surv) / n, 6), abs=1e-9
            )
            assert r["token_share"] == pytest.approx(
                half_up(st / tok_total, 6), abs=1e-9
            )
    # monotone: tightening either floor never keeps more
    for a in FID.GATE_A_GRID:
        s = [got[(w, a)]["n_survivors"] for w in sorted(FID.GATE_W_GRID)]
        assert s == sorted(s, reverse=True)
    for w in FID.GATE_W_GRID:
        s = [got[(w, a)]["n_survivors"] for a in sorted(FID.GATE_A_GRID)]
        assert s == sorted(s, reverse=True)
    # the deployed cell matches the funnel's post-lang survivor count
    funnel = {
        r["gate"]: r["survivors"]
        for r in QUERIES["pipeline_gate_funnel"](spark, SF).collect()
    }
    from kafka_go_streamer_spark.plans.text import (
        PREP_MIN_ALPHA,
        PREP_MIN_WORDS,
    )

    assert (
        got[(PREP_MIN_WORDS, PREP_MIN_ALPHA)]["n_survivors"]
        == funnel[f"lang_{PREP_LANG}"]
    )


# ---------------------------------------------- privacy_generalization_curve
def test_generalization_curve_matches_python(spark, docs):
    got = {
        r["width_mult"]: r
        for r in QUERIES["privacy_generalization_curve"](
            spark, SF
        ).collect()
    }
    n = len(docs)
    src_tot = Counter(s for _, _, _, s, _ in docs)
    for m in FID.GEN_WIDTH_MULTS:
        width = QI_LEN_BIN * m
        classes = defaultdict(Counter)
        for _, _, lang, src, n_chars in docs:
            classes[(lang, n_chars // width)][src] += 1
        kanon = sum(
            sum(c.values())
            for c in classes.values()
            if sum(c.values()) < FID.GEN_K
        )
        ldiv = sum(
            sum(c.values())
            for c in classes.values()
            if len(c) < FID.GEN_L
        )
        max_tv = max(
            sum(
                abs(c.get(s, 0) * n - cs * sum(c.values()))
                for s, cs in src_tot.items()
            )
            / (2 * sum(c.values()) * n)
            for c in classes.values()
        )
        r = got[m]
        assert r["bin_chars"] == width
        assert r["n_classes"] == len(classes)
        assert r["kanon_doc_share"] == pytest.approx(
            half_up(kanon / n, 6), abs=1e-9
        )
        assert r["ldiv_doc_share"] == pytest.approx(
            half_up(ldiv / n, 6), abs=1e-9
        )
        assert r["max_tv"] == pytest.approx(half_up(max_tv, 6), abs=1e-9)
    # generalizing merges classes: class count monotone non-increasing
    counts = [got[m]["n_classes"] for m in sorted(FID.GEN_WIDTH_MULTS)]
    assert counts == sorted(counts, reverse=True)
    # the x1 row's worst TV agrees with the registered t-closeness
    # table (same QI, same sensitive attribute)
    tcl = {
        r["t_threshold"]: r
        for r in QUERIES["privacy_t_closeness"](spark, SF).collect()
    }
    assert got[1]["max_tv"] == list(tcl.values())[0]["max_tv"]


# --------------------------------------------------------- ann_nlist_tradeoff
def test_nlist_tradeoff_matches_python(spark, duck):
    got = {
        r["nlist"]: r
        for r in QUERIES["ann_nlist_tradeoff"](spark, SF).collect()
    }
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    emb = {
        r[0]: r[1]
        for r in duck.execute(
            "SELECT vec_id, embedding FROM embeddings"
        ).fetchall()
    }
    qs = [v for v in emb if v % 100 == 0 and v < PANEL_MAX_ID]
    n = len(emb)

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    def cos(a, b):
        return half_up(
            dot(a, b) / ((dot(a, a) ** 0.5) * (dot(b, b) ** 0.5)), 6
        )

    gt = {}
    sims = {}
    for q in qs:
        sc = sorted(
            ((cos(emb[v], emb[q]), -v) for v in emb if v != q),
            reverse=True,
        )
        gt[q] = {-nv for _, nv in sc[:10]}
        sims[q] = {-nv: s for s, nv in sc}
    for nl in FID.NLIST_GRID:
        cents = list(range(1, nl + 1))
        assign = {
            v: max(cents, key=lambda c: (cos(emb[v], emb[c]), -c))
            for v in emb
        }
        cell_sz = Counter(assign.values())
        recs, shares = [], []
        for q in qs:
            cell = assign[q]
            cand = sorted(
                ((sims[q][v], -v) for v in emb
                 if v != q and assign[v] == cell),
                reverse=True,
            )[:10]
            recs.append(len({-nv for _, nv in cand} & gt[q]) / 10)
            shares.append(cell_sz[cell] / n)
        r = got[nl]
        assert r["n_queries"] == len(qs)
        assert r["mean_recall_at_10"] == pytest.approx(
            half_up(sum(recs) / len(recs), 4), abs=1e-9
        )
        assert r["mean_scan_share"] == pytest.approx(
            half_up(sum(shares) / len(shares), 6), abs=1e-9
        )
    # more cells => cheaper probes (scan share monotone down); recall
    # never IMPROVES with a finer partition at nprobe=1
    shares = [got[nl]["mean_scan_share"] for nl in sorted(FID.NLIST_GRID)]
    assert shares == sorted(shares, reverse=True)
    recalls = [
        got[nl]["mean_recall_at_10"] for nl in sorted(FID.NLIST_GRID)
    ]
    assert recalls == sorted(recalls, reverse=True)


# --------------------------------------------------- events_return_probability
def test_return_probability_matches_python(spark, duck):
    got = {
        r["event_type"]: r
        for r in QUERIES["events_return_probability"](spark, SF).collect()
    }
    rows = duck.execute(
        "SELECT event_id, epoch_us(ts), user_id, event_type FROM events"
    ).fetchall()
    per_user = defaultdict(list)
    for eid, us, uid, et in rows:
        per_user[uid].append((us, eid, et))
    gaps = defaultdict(list)
    for uid, seq in per_user.items():
        seq.sort()
        for i, (us, _, et) in enumerate(seq):
            nxt = seq[i + 1][0] - us if i + 1 < len(seq) else None
            gaps[et].append(nxt)
    for et, gs in gaps.items():
        r = got[et]
        assert r["n_events"] == len(gs)
        for h in FID.RETURN_H_GRID:
            p = sum(
                1 for g in gs if g is not None and g <= h * 3_600_000_000
            ) / len(gs)
            assert r[f"p_return_{h}h"] == pytest.approx(
                half_up(p, 6), abs=1e-9
            )
        cens = sum(1 for g in gs if g is None) / len(gs)
        assert r["censored_share"] == pytest.approx(
            half_up(cens, 6), abs=1e-9
        )
        # hazard is monotone in the horizon
        ps = [r[f"p_return_{h}h"] for h in sorted(FID.RETURN_H_GRID)]
        assert ps == sorted(ps)
        # probabilities + censoring bounded
        assert ps[-1] + r["censored_share"] <= 1.0 + 1e-9


# ---------------------------------------------------- dedup_shingle_selectivity
def test_shingle_selectivity_matches_python(spark, docs):
    got = {
        r["shingle_k"]: r
        for r in QUERIES["dedup_shingle_selectivity"](spark, SF).collect()
    }
    nd = len(docs)
    for k in FID.SHINGLE_K_GRID:
        df = defaultdict(set)
        for doc_id, text, *_ in docs:
            ws = pwords(text)
            if len(ws) >= k:
                sh = {
                    " ".join(ws[i : i + k])
                    for i in range(len(ws) - k + 1)
                }
            else:
                sh = {" ".join(ws)}
            for s in sh:
                df[s].add(doc_id)
        r = got[k]
        assert r["n_shingles"] == len(df)
        assert r["mean_shingles_per_doc"] == pytest.approx(
            half_up(sum(len(v) for v in df.values()) / nd, 4), abs=1e-9
        )
        uniq = sum(1 for v in df.values() if len(v) == 1)
        assert r["unique_share"] == pytest.approx(
            half_up(uniq / len(df), 6), abs=1e-9
        )
        assert r["max_df"] == max(len(v) for v in df.values())
        sharing = set().union(
            *(v for v in df.values() if len(v) > 1)
        ) if any(len(v) > 1 for v in df.values()) else set()
        assert r["docs_sharing_share"] == pytest.approx(
            half_up(len(sharing) / nd, 6), abs=1e-9
        )
    # longer shingles are more selective: unique share rises, sharing
    # share falls
    ks = sorted(FID.SHINGLE_K_GRID)
    uu = [got[k]["unique_share"] for k in ks]
    assert uu == sorted(uu)
    ss = [got[k]["docs_sharing_share"] for k in ks]
    assert ss == sorted(ss, reverse=True)


# ------------------------------------------------------ text_oov_rate_heldout
def test_oov_rate_heldout_matches_python(spark, docs):
    import hashlib

    got = {
        r["source"]: r
        for r in QUERIES["text_oov_rate_heldout"](spark, SF).collect()
    }
    train_vocab = set()
    ev = []
    for doc_id, text, _, source, _ in docs:
        ws = pwords(text)
        nib = hashlib.md5(str(doc_id).encode()).hexdigest()[0]
        if nib in "0123456789abcd":
            train_vocab.update(ws)
        else:
            ev.append((source, doc_id, ws))
    per = defaultdict(lambda: [set(), 0, 0, set()])
    for source, doc_id, ws in ev:
        p = per[source]
        p[0].add(doc_id)
        for w in ws:
            p[1] += 1
            if w not in train_vocab:
                p[2] += 1
                p[3].add(w)
    assert set(got) == set(per)
    for src, (dids, n_tok, n_oov, types) in per.items():
        r = got[src]
        assert r["n_eval_docs"] == len(dids)
        assert r["n_tokens"] == n_tok
        assert r["n_oov"] == n_oov
        assert r["oov_rate"] == pytest.approx(
            half_up(n_oov / n_tok, 6), abs=1e-9
        )
        assert r["n_oov_types"] == len(types)
        assert r["n_oov_types"] <= r["n_oov"]
    # the fixture's eval shard really contains unseen words somewhere
    # OR the vocabulary fully covers it — either way rates are bounded
    assert all(0 <= r["oov_rate"] <= 1 for r in got.values())


# --------------------------------------------------- dedup_cross_source_pairs
def test_cross_source_pairs_matches_python(spark, docs):
    import hashlib

    from kafka_go_streamer_spark.operators.dedup import (
        MAX_BUCKET,
        NUM_HASHES,
        SHINGLE_SIZE,
    )

    got = {
        (r["src_a"], r["src_b"]): r
        for r in QUERIES["dedup_cross_source_pairs"](spark, SF).collect()
    }
    sh_sets, sigs, src = {}, {}, {}
    for doc_id, text, _, source, _ in docs:
        ws = pwords(text)
        if len(ws) >= SHINGLE_SIZE:
            sh = {
                " ".join(ws[i : i + SHINGLE_SIZE])
                for i in range(len(ws) - SHINGLE_SIZE + 1)
            }
        else:
            sh = {" ".join(ws)}
        sh_sets[doc_id] = sh
        src[doc_id] = source
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
    rollup = defaultdict(list)
    for a, b in cand:
        inter = len(sh_sets[a] & sh_sets[b])
        if inter < 2:
            continue
        j = half_up(
            inter / (len(sh_sets[a]) + len(sh_sets[b]) - inter), 4
        )
        key = tuple(sorted((src[a], src[b])))
        rollup[key].append(j)
    assert set(got) == set(rollup)
    for key, js in rollup.items():
        r = got[key]
        assert r["n_pairs"] == len(js)
        assert r["n_strong"] == sum(
            1 for j in js if j >= FID.CROSS_SOURCE_MIN_J
        )
        assert r["mean_jaccard"] == pytest.approx(
            half_up(sum(js) / len(js), 4), abs=1e-9
        )
        assert r["is_cross_source"] == (key[0] != key[1])


# --------------------------------------------------------------- pack_cap_sweep
def test_pack_cap_sweep_matches_python(spark, docs):
    from kafka_go_streamer_spark.plans.training_ops import (
        PACK_SHARD_SPAN,
    )

    got = {
        r["cap"]: r
        for r in QUERIES["pack_cap_sweep"](spark, SF).collect()
    }
    toks = sorted(
        (doc_id, source, len(re.findall(TOKEN_RE, text)))
        for doc_id, text, _, source, _ in docs
    )
    groups = defaultdict(list)
    for doc_id, source, t in toks:
        groups[(source, doc_id // PACK_SHARD_SPAN)].append(t)
    for cap in FID.PACK_CAP_GRID:
        seqs = []
        for ts in groups.values():
            fill = None
            for t in ts:
                if fill is None or fill + t > cap:
                    seqs.append([0, 0])
                    fill = 0
                seqs[-1][0] += t
                seqs[-1][1] += 1
                fill += t
        r = got[cap]
        assert r["n_sequences"] == len(seqs)
        assert r["real_tokens"] == sum(s for s, _ in seqs)
        pad = sum(cap - s for s, _ in seqs if s <= cap)
        assert r["pad_tokens"] == pad
        assert r["pad_share"] == pytest.approx(
            half_up(pad / (len(seqs) * cap), 6), abs=1e-9
        )
        assert r["mean_docs_per_seq"] == pytest.approx(
            half_up(sum(d for _, d in seqs) / len(seqs), 4), abs=1e-9
        )
        assert r["n_oversized"] == sum(1 for s, _ in seqs if s > cap)
    # real tokens are conserved across caps; longer caps pack tighter
    reals = {got[c]["real_tokens"] for c in FID.PACK_CAP_GRID}
    assert len(reals) == 1
    nseqs = [got[c]["n_sequences"] for c in sorted(FID.PACK_CAP_GRID)]
    assert nseqs == sorted(nseqs, reverse=True)
