"""Pure-Python references for the round-12 pipeline-economics and
trust-audit waves (plans/pipeline_econ.py, plans/audit_ops.py) —
independent of both Spark and DuckDB, so a shared engine
misunderstanding cannot cancel out in the oracle parity check.

The storage/packing/privacy/overlap/budget tables are re-derived from
the raw parquet rows with dict arithmetic; the MinHash estimator audit
is re-derived END-TO-END (words → shingles → md5 minhash → banding →
bucket cap → candidates → estimate/exact) in plain Python — the
strongest form, no shared code at all. The recall/cost frontier is
cross-checked against the already-verified nprobe recall curve plus
its own monotonicity/anchor invariants."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import duckdb
import pytest

from kafka_go_streamer_spark.functions.text import STOPWORDS, TOKEN_RE
from kafka_go_streamer_spark.operators.dedup import (
    MAX_BUCKET,
    NUM_HASHES,
    SHINGLE_SIZE,
)
from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans import pipeline_econ as PE
from kafka_go_streamer_spark.plans import audit_ops as AO
from tests.refs import p_lang_id, pwords

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "events", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    return con


@pytest.fixture(scope="module")
def docs(duck):
    return duck.execute(
        "SELECT doc_id, text, lang, source, n_chars FROM documents"
    ).fetchall()


@pytest.fixture(scope="module")
def events(duck):
    return duck.execute(
        "SELECT event_id, epoch_us(ts), user_id, event_type,"
        " strftime(date_trunc('day', ts), '%Y-%m-%d') FROM events"
    ).fetchall()


def _half_up(x: float, s: int) -> float:
    eps = 0.5 * 10.0 ** -(s + 2)
    return math.floor((x + eps) * 10**s + 0.5) / 10**s


def _ptokens(text: str) -> int:
    return len(re.findall(TOKEN_RE, text))


# ------------------------------------------------- storage_shard_plan
def test_shard_plan_matches_python(spark, docs):
    rows = {
        r["source"]: r
        for r in QUERIES["storage_shard_plan"](spark, SF).collect()
    }
    per = defaultdict(lambda: [0, 0])
    for _, _, _, source, n_chars in docs:
        per[source][0] += 1
        per[source][1] += n_chars
    assert set(rows) == set(per)
    grand = sum(v[1] for v in per.values())
    for source, (n_docs, total) in per.items():
        r = rows[source]
        shards = max(math.ceil(total / PE.SHARD_TARGET_BYTES), 1)
        assert r["n_docs"] == n_docs
        assert r["total_bytes"] == total
        assert r["n_shards"] == shards
        assert r["mean_shard_bytes"] == pytest.approx(
            _half_up(total / shards, 2), abs=1e-9
        )
        assert r["docs_per_shard"] == pytest.approx(
            _half_up(n_docs / shards, 2), abs=1e-9
        )
        assert r["corpus_share"] == pytest.approx(
            _half_up(total / grand, 6), abs=1e-12
        )


# -------------------------------------- storage_skipping_minmax_audit
def test_skipping_audit_matches_python_sim(spark, events):
    rows = {
        r["layout"]: r
        for r in QUERIES["storage_skipping_minmax_audit"](
            spark, SF
        ).collect()
    }
    # r13 file assignment: arithmetic range binning (VERDICT r12 #2) —
    # arrival bins the dense event_id range, time_sorted bins the
    # [lo, hi] microsecond range; no ranking anywhere.
    ids = [e[0] for e in events]
    uss = [e[1] for e in events]
    id_lo, id_hi = min(ids), max(ids)
    lo, hi = min(uss), max(uss)
    probes = [
        lo + ((hi - lo) * i) // (PE.SKIP_N_PROBES + 1)
        for i in range(1, PE.SKIP_N_PROBES + 1)
    ]

    def sim(bins):
        files = defaultdict(lambda: [None, None])
        for fid, us in bins:
            f = files[fid]
            f[0] = us if f[0] is None else min(f[0], us)
            f[1] = us if f[1] is None else max(f[1], us)
        hits = sum(
            1
            for p in probes
            for fmin, fmax in files.values()
            if fmin <= p <= fmax
        )
        return (
            len(files),
            _half_up(hits / PE.SKIP_N_PROBES, 4),
            _half_up(
                1.0 - hits / (PE.SKIP_N_PROBES * PE.SKIP_N_FILES), 4
            ),
        )

    arrival_bins = [
        (
            ((eid - id_lo) * PE.SKIP_N_FILES) // (id_hi - id_lo + 1),
            us,
        )
        for eid, us, *_ in events
    ]
    time_bins = [
        (((us - lo) * PE.SKIP_N_FILES) // (hi - lo + 1), us)
        for _, us, *_ in events
    ]
    for layout, bins in (
        ("arrival", arrival_bins),
        ("time_sorted", time_bins),
    ):
        nf, mean_hit, skip = sim(bins)
        r = rows[layout]
        assert r["n_files"] == nf
        assert r["mean_files_hit"] == pytest.approx(mean_hit, abs=1e-9)
        assert r["skip_rate"] == pytest.approx(skip, abs=1e-9)
    # the sorted layout must skip at least as well as arrival order
    assert (
        rows["time_sorted"]["skip_rate"] >= rows["arrival"]["skip_rate"]
    )


# -------------------------------------- storage_partition_layout_skew
def test_partition_skew_matches_python(spark, events):
    rows = {
        r["layout"]: r
        for r in QUERIES["storage_partition_layout_skew"](
            spark, SF
        ).collect()
    }
    layouts = {
        "by_event_type": Counter(e[3] for e in events),
        "by_user_mod_64": Counter(str(e[2] % 64) for e in events),
        "by_day": Counter(e[4] for e in events),
    }
    assert set(rows) == set(layouts)
    for name, c in layouts.items():
        r = rows[name]
        mean = sum(c.values()) / len(c)
        assert r["n_partitions"] == len(c)
        assert r["mean_rows"] == pytest.approx(_half_up(mean, 2), abs=1e-9)
        assert r["max_rows"] == max(c.values())
        assert r["skew"] == pytest.approx(
            _half_up(max(c.values()) / mean, 4), abs=1e-9
        )


# ------------------------------------------ pack_length_bucket_plan
def test_length_buckets_match_python(spark, docs):
    rows = {
        r["bucket"]: r
        for r in QUERIES["pack_length_bucket_plan"](spark, SF).collect()
    }
    per = defaultdict(lambda: [0, 0])
    for _, text, *_ in docs:
        tok = _ptokens(text)
        bucket = next(
            (b for b in PE.LEN_BUCKETS if tok <= b), PE.LEN_BUCKETS[-1]
        )
        per[bucket][0] += 1
        per[bucket][1] += tok
    assert set(rows) == set(per)
    for bucket, (n_docs, toks) in per.items():
        r = rows[bucket]
        assert r["n_docs"] == n_docs
        assert r["real_tokens"] == toks
        assert r["padded_tokens"] == n_docs * bucket
        assert r["waste_share"] == pytest.approx(
            _half_up(1.0 - toks / (n_docs * bucket), 4), abs=1e-9
        )


# ---------------------------------------- events_trigger_batch_profile
def test_trigger_profile_matches_python(spark, events):
    rows = {
        r["interval_s"]: r
        for r in QUERIES["events_trigger_batch_profile"](
            spark, SF
        ).collect()
    }

    def pctl(sorted_vals, q):
        """percentile_cont linear interpolation."""
        k = (len(sorted_vals) - 1) * q
        f, c = math.floor(k), math.ceil(k)
        if f == c:
            return float(sorted_vals[int(k)])
        return sorted_vals[f] + (sorted_vals[c] - sorted_vals[f]) * (k - f)

    for s in PE.TRIGGER_SWEEP:
        counts = Counter(us // (s * 1_000_000) for _, us, *_ in events)
        vals = sorted(counts.values())
        r = rows[s]
        assert r["n_batches"] == len(vals)
        assert r["mean_rows"] == pytest.approx(
            _half_up(sum(vals) / len(vals), 2), abs=1e-9
        )
        assert r["p50_rows"] == pytest.approx(
            _half_up(pctl(vals, 0.5), 2), abs=1e-9
        )
        assert r["p95_rows"] == pytest.approx(
            _half_up(pctl(vals, 0.95), 2), abs=1e-9
        )
        assert r["max_rows"] == vals[-1]


# ------------------------------------------- ann_recall_cost_frontier
def test_frontier_consistent_with_recall_curve(spark, duck):
    frontier = {
        r["nprobe"]: r
        for r in QUERIES["ann_recall_cost_frontier"](spark, SF).collect()
    }
    curve = {
        r["nprobe"]: r["mean_recall_at_10"]
        for r in QUERIES["ann_nprobe_recall_curve"](spark, SF).collect()
    }
    n_corpus = duck.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    assert set(frontier) == set(PE.FRONTIER_NPROBES)
    prev_recall, prev_cost = -1.0, -1.0
    for p in PE.FRONTIER_NPROBES:
        r = frontier[p]
        # recall column must agree exactly with the verified curve
        assert r["mean_recall_at_10"] == pytest.approx(
            curve[p], abs=1e-9
        )
        # monotone: more probes never find less, never scan less
        assert r["mean_recall_at_10"] >= prev_recall
        assert r["mean_scanned"] >= prev_cost
        prev_recall, prev_cost = r["mean_recall_at_10"], r["mean_scanned"]
        assert r["scan_share"] == pytest.approx(
            _half_up(r["mean_scanned"] / n_corpus, 6), abs=1e-4
        )
    # the all-cells anchor is exhaustive within the index
    assert frontier[PE.FRONTIER_NPROBES[-1]]["mean_recall_at_10"] == 1.0


# ------------------------------------------- quality_calibration_bins
def test_calibration_bins_match_python(spark, docs):
    rows = {
        r["bin"]: r
        for r in QUERIES["quality_calibration_bins"](spark, SF).collect()
    }
    from kafka_go_streamer_spark.plans.text import (
        QC_W0,
        QC_W_ALPHA,
        QC_W_LOGWC,
        QC_W_MWL,
        QC_W_STOP,
    )

    per = defaultdict(lambda: [0, 0.0, 0])  # n, sum_score, sum_gold
    for _, text, *_ in docs:
        ws = pwords(text)
        wc = len(ws)
        mwl = _half_up(sum(len(w) for w in ws) / max(wc, 1), 4)
        alpha = _half_up(
            len(re.sub("[^A-Za-z]", "", text)) / max(len(text), 1), 4
        )
        stop = sum(1 for w in ws if w in STOPWORDS["en"]) / max(wc, 1)
        z = (
            QC_W0
            + QC_W_LOGWC * math.log(wc + 1)
            + QC_W_MWL * mwl
            + QC_W_ALPHA * alpha
            + QC_W_STOP * stop
        )
        score = _half_up(1.0 / (1.0 + math.exp(-z)), 4)
        gold = int(wc >= 20 and alpha > 0.6 and p_lang_id(ws) == "en")
        b = min(int(score * 10), 9)
        per[b][0] += 1
        per[b][1] += score
        per[b][2] += gold
    assert set(rows) == set(per)
    for b, (n, ssum, gsum) in per.items():
        r = rows[b]
        assert r["n_docs"] == n
        assert r["mean_score"] == pytest.approx(
            _half_up(ssum / n, 4), abs=1e-9
        )
        assert r["pos_rate"] == pytest.approx(
            _half_up(gsum / n, 4), abs=1e-9
        )
        assert r["gap"] == pytest.approx(
            _half_up(gsum / n - ssum / n, 4), abs=1e-9
        )


# ----------------------------------------------- privacy_k_anonymity
def test_k_anonymity_matches_python(spark, docs):
    rows = {
        r["k"]: r
        for r in QUERIES["privacy_k_anonymity"](spark, SF).collect()
    }
    classes = Counter(
        (lang, source, n_chars // AO.QI_LEN_BIN)
        for _, _, lang, source, n_chars in docs
    )
    total = sum(classes.values())
    for k in AO.K_ANON_GRID:
        below = [c for c in classes.values() if c < k]
        r = rows[k]
        assert r["n_classes_below"] == len(below)
        assert r["n_docs_below"] == sum(below)
        assert r["doc_share"] == pytest.approx(
            _half_up(sum(below) / total, 6), abs=1e-12
        )


# ----------------------------------------- text_cross_source_overlap
def test_cross_source_overlap_matches_python(spark, docs):
    rows = {
        (r["source_a"], r["source_b"]): r
        for r in QUERIES["text_cross_source_overlap"](spark, SF).collect()
    }
    vocab = defaultdict(set)
    for _, text, _, source, _ in docs:
        vocab[source].update(pwords(text))
    srcs = sorted(vocab)
    expect = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            common = len(vocab[a] & vocab[b])
            if common:
                expect[(a, b)] = common
    assert set(rows) == set(expect)
    for (a, b), common in expect.items():
        r = rows[(a, b)]
        assert r["vocab_a"] == len(vocab[a])
        assert r["vocab_b"] == len(vocab[b])
        assert r["n_common"] == common
        union = len(vocab[a]) + len(vocab[b]) - common
        assert r["jaccard"] == pytest.approx(
            _half_up(common / union, 6), abs=1e-12
        )


# ------------------------------------- dedup_minhash_estimator_error
def test_estimator_error_matches_python_end_to_end(spark, docs):
    """Full pure-Python MinHash pipeline: shingles, md5 slice
    signatures, banding, bucket cap, candidates, estimate vs exact —
    no shared code with either engine."""
    rows = {
        r["jbin"]: r
        for r in QUERIES["dedup_minhash_estimator_error"](
            spark, SF
        ).collect()
    }
    sh_sets, sigs = {}, {}
    for doc_id, text, *_ in docs:
        ws = pwords(text)
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
    per = defaultdict(lambda: [0, 0.0, 0.0, 0.0, 0.0])
    for a, b in cand:
        est = (
            sum(1 for k in range(NUM_HASHES) if sigs[a][k] == sigs[b][k])
            / NUM_HASHES
        )
        inter = len(sh_sets[a] & sh_sets[b])
        exact = inter / (len(sh_sets[a]) + len(sh_sets[b]) - inter)
        jb = min(int(exact * 4), 3)
        p = per[jb]
        p[0] += 1
        p[1] += est
        p[2] += exact
        p[3] += est - exact
        p[4] += abs(est - exact)
    assert set(rows) == set(per)
    for jb, (n, se, sx, sb, sm) in per.items():
        r = rows[jb]
        assert r["n_pairs"] == n
        assert r["mean_est"] == pytest.approx(_half_up(se / n, 4), abs=1e-9)
        assert r["mean_exact"] == pytest.approx(
            _half_up(sx / n, 4), abs=1e-9
        )
        assert r["bias"] == pytest.approx(_half_up(sb / n, 4), abs=1e-9)
        assert r["mae"] == pytest.approx(_half_up(sm / n, 4), abs=1e-9)
        # MAE dominates |bias| by the triangle inequality
        assert r["mae"] >= abs(r["bias"]) - 1e-9


# --------------------------------- dedup_component_size_histogram
def test_component_histogram_consistent_with_assignment(spark):
    comp = QUERIES["dedup_connected_components"](spark, SF).collect()
    hist = {
        r["component_size"]: r
        for r in QUERIES["dedup_component_size_histogram"](
            spark, SF
        ).collect()
    }
    by_comp = defaultdict(int)
    for r in comp:
        by_comp[r["component_id"]] += 1
    expect = defaultdict(lambda: [0, 0])
    for size in by_comp.values():
        expect[size][0] += 1
        expect[size][1] += size
    total = sum(v[1] for v in expect.values())
    assert set(hist) == set(expect)
    for size, (n_comp, n_docs) in expect.items():
        r = hist[size]
        assert r["n_components"] == n_comp
        assert r["n_docs"] == n_docs
        assert r["doc_share"] == pytest.approx(
            _half_up(n_docs / total, 6), abs=1e-12
        )


# ---------------------------------------------- sample_language_budget
def test_language_budget_matches_python(spark, docs):
    rows = {
        r["lang"]: r
        for r in QUERIES["sample_language_budget"](spark, SF).collect()
    }
    avail = defaultdict(int)
    for _, text, lang, *_ in docs:
        avail[lang] += _ptokens(text)
    total = sum(avail.values())
    budget = total * AO.LANG_BUDGET_SHARE
    n = len(avail)
    target = budget / n
    alloc1 = {g: min(float(a), target) for g, a in avail.items()}
    headroom = {g: avail[g] - alloc1[g] for g in avail}
    deficit = budget - sum(alloc1.values())
    th = sum(headroom.values())
    assert set(rows) == set(avail)
    got_total = 0.0
    for g in avail:
        extra = deficit * headroom[g] / th if th > 0 else 0.0
        alloc = alloc1[g] + extra
        r = rows[g]
        assert r["avail_tokens"] == avail[g]
        assert r["target_tokens"] == pytest.approx(
            _half_up(target, 2), abs=1e-9
        )
        assert r["alloc_tokens"] == pytest.approx(
            _half_up(alloc, 2), abs=1e-6
        )
        assert r["fill_share"] == pytest.approx(
            _half_up(alloc / max(avail[g], 1), 6), abs=1e-6
        )
        # never allocate more than the language has
        assert r["alloc_tokens"] <= avail[g] + 0.01
        got_total += alloc
    # the refill spends the whole budget (deficit <= total headroom)
    assert got_total == pytest.approx(budget, rel=1e-9)


# ----------------------------------- multimodal_aspect_ratio_buckets
def test_aspect_buckets_consistent_with_decode(spark):
    meta = QUERIES["multimodal_decode_meta"](spark, SF).collect()
    rows = {
        (r["format"], r["ar_bucket"]): r
        for r in QUERIES["multimodal_aspect_ratio_buckets"](
            spark, SF
        ).collect()
    }
    per = defaultdict(lambda: [0, 0.0, 0])
    for m in meta:
        w, h = m["width"], m["height"]
        if w * 2 <= h:
            b = "ultra_tall"
        elif w < h:
            b = "tall"
        elif w == h:
            b = "square"
        elif w >= h * 2:
            b = "ultra_wide"
        else:
            b = "wide"
        p = per[(m["format"], b)]
        p[0] += 1
        p[1] += w * h / 1000000.0
        p[2] += m["byte_len"]
    assert set(rows) == set(per)
    for key, (n, mp, by) in per.items():
        r = rows[key]
        assert r["n_blobs"] == n
        assert r["mean_megapixels"] == pytest.approx(
            _half_up(mp / n, 4), abs=1e-9
        )
        assert r["mean_bytes"] == pytest.approx(
            _half_up(by / n, 2), abs=1e-9
        )


# ------------------------------------------------------ text_zipf_slope
def test_zipf_slope_matches_python(spark, docs):
    r = QUERIES["text_zipf_slope"](spark, SF).collect()[0]
    freq = Counter()
    for _, text, *_ in docs:
        freq.update(pwords(text))
    ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    pts = [
        (math.log(i + 1), math.log(c))
        for i, (_, c) in enumerate(ranked[: AO.ZIPF_TOP_N])
    ]
    n = len(pts)
    mx = sum(x for x, _ in pts) / n
    my = sum(y for _, y in pts) / n
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    syy = sum(y * y for _, y in pts)
    cov, varx, vary = sxy - n * mx * my, sxx - n * mx * mx, syy - n * my * my
    assert r["n_words"] == n
    assert r["slope"] == pytest.approx(_half_up(cov / varx, 6), abs=1e-6)
    assert r["intercept"] == pytest.approx(
        _half_up(my - cov / varx * mx, 6), abs=1e-6
    )
    assert r["r2"] == pytest.approx(
        _half_up(cov * cov / (varx * vary), 6), abs=1e-6
    )
    # natural-ish text: slope negative, fit explains most variance
    assert r["slope"] < 0
    assert 0 <= r["r2"] <= 1


# --------------------------------------------------- quality_ece_summary
def _score_gold_rows(docs):
    from kafka_go_streamer_spark.plans.text import (
        QC_W0,
        QC_W_ALPHA,
        QC_W_LOGWC,
        QC_W_MWL,
        QC_W_STOP,
    )

    out = []
    for _, text, *_ in docs:
        ws = pwords(text)
        wc = len(ws)
        mwl = _half_up(sum(len(w) for w in ws) / max(wc, 1), 4)
        alpha = _half_up(
            len(re.sub("[^A-Za-z]", "", text)) / max(len(text), 1), 4
        )
        stop = sum(1 for w in ws if w in STOPWORDS["en"]) / max(wc, 1)
        z = (
            QC_W0
            + QC_W_LOGWC * math.log(wc + 1)
            + QC_W_MWL * mwl
            + QC_W_ALPHA * alpha
            + QC_W_STOP * stop
        )
        score = _half_up(1.0 / (1.0 + math.exp(-z)), 4)
        gold = int(wc >= 20 and alpha > 0.6 and p_lang_id(ws) == "en")
        out.append((score, gold))
    return out


def test_ece_summary_matches_python(spark, docs):
    r = QUERIES["quality_ece_summary"](spark, SF).collect()[0]
    sg = _score_gold_rows(docs)
    n = len(sg)
    brier = sum((s - g) ** 2 for s, g in sg) / n
    bins = defaultdict(lambda: [0, 0.0, 0])
    for s, g in sg:
        b = min(int(s * 10), 9)
        bins[b][0] += 1
        bins[b][1] += s
        bins[b][2] += g
    ece = (
        sum(c * abs(gs / c - ss / c) for c, ss, gs in bins.values()) / n
    )
    # tie-corrected Mann-Whitney AUC
    by_score = defaultdict(lambda: [0, 0])
    for s, g in sg:
        by_score[s][0] += 1
        by_score[s][1] += g
    below, ranksum, npos = 0, 0.0, 0
    for s in sorted(by_score):
        cnt, pos = by_score[s]
        ranksum += pos * (below + (cnt + 1) / 2.0)
        npos += pos
        below += cnt
    nneg = n - npos
    auc = (ranksum - npos * (npos + 1) / 2.0) / (npos * nneg)
    assert r["n_docs"] == n
    assert r["brier"] == pytest.approx(_half_up(brier, 6), abs=1e-6)
    assert r["ece"] == pytest.approx(_half_up(ece, 6), abs=1e-6)
    assert r["auc"] == pytest.approx(_half_up(auc, 6), abs=1e-6)
    assert 0.0 <= r["auc"] <= 1.0


# ------------------------------------- multimodal_phash_hamming_hist
def test_phash_hamming_hist_matches_python(spark, docs):
    from kafka_go_streamer_spark.plans.multimodal_queries import (
        PHASH_BAND_BITS,
        PHASH_BANDS,
        PHASH_BUCKET_CAP,
    )

    rows = {
        r["ham_bucket"]: r
        for r in QUERIES["multimodal_phash_hamming_hist"](
            spark, SF
        ).collect()
    }
    sigs = {
        doc_id: int(hashlib.md5(text.encode()).hexdigest()[:15], 16)
        for doc_id, text, *_ in docs
    }
    buckets = defaultdict(list)
    mask = (1 << PHASH_BAND_BITS) - 1
    for doc_id, sig in sigs.items():
        for band in range(PHASH_BANDS):
            buckets[(band, (sig >> (band * PHASH_BAND_BITS)) & mask)].append(
                doc_id
            )
    cand = set()
    for ids in buckets.values():
        if len(ids) > PHASH_BUCKET_CAP:
            continue
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                cand.add((a, b))
    per = defaultdict(list)
    for a, b in cand:
        ham = bin(sigs[a] ^ sigs[b]).count("1")
        per[ham // 8].append(ham)
    assert set(rows) == set(per)
    for hb, hams in per.items():
        r = rows[hb]
        assert r["n_pairs"] == len(hams)
        assert r["min_ham"] == min(hams)
        assert r["max_ham"] == max(hams)
