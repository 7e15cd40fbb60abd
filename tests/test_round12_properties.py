"""Pure-Python references for the round-12 semantic-dedup /
corpus-clustering / line-boilerplate wave — independent of both Spark
and DuckDB, so a shared engine misunderstanding cannot cancel out in
the oracle parity check.

The SemDeDup family's keep rule, sweep, bias, balance, and purity are
re-derived in plain Python FROM the collected manifest (and, for the
margin query, from the persisted IVF store artifact read via pyarrow),
so the windowed min / count-distinct / entropy algebra is checked
against hand-rolled dict arithmetic. The line family is re-derived
end-to-end from the raw parquet text (seeding, splitting, df counting,
retention, md5 reassembly) — the strongest form, no shared code at
all."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import duckdb
import pytest

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans import semdedup as S

SF = "/root/testdata/sf0.001"


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
        "SELECT doc_id, text, source FROM documents"
    ).fetchall()


@pytest.fixture(scope="module")
def labels(duck):
    return dict(
        duck.execute("SELECT vec_id, label FROM embeddings").fetchall()
    )


@pytest.fixture(scope="module")
def manifest(spark):
    rows = QUERIES["semdedup_prune_manifest"](spark, SF).collect()
    return [(r["vec_id"], r["cell"], r["cos_c"], r["kept"]) for r in rows]


def _half_up(x: float, s: int) -> float:
    """stable_round emulation: add the scale-proportional epsilon then
    round half-up (the eps removes exact ties, where half-up and
    floor(+0.5) conventions could differ)."""
    eps = 0.5 * 10.0 ** -(s + 2)
    return math.floor((x + eps) * 10**s + 0.5) / 10**s


# --------------------------------------------------- keep rule algebra
def test_manifest_keep_rule_matches_python(manifest):
    """kept == 1 iff cos_c is NULL or vec_id is the minimum of its
    (cell, 3dp-bucket) group — recomputed with dict arithmetic."""
    groups: dict[tuple, int] = {}
    for vec_id, cell, cos_c, _ in manifest:
        if cos_c is None:
            continue
        key = (cell, _half_up(cos_c, S.SEMDEDUP_SCALE))
        groups[key] = min(groups.get(key, vec_id), vec_id)
    for vec_id, cell, cos_c, kept in manifest:
        if cos_c is None:
            assert kept == 1, vec_id
        else:
            key = (cell, _half_up(cos_c, S.SEMDEDUP_SCALE))
            assert kept == (1 if groups[key] == vec_id else 0), vec_id
    # every vector appears exactly once, cos in [-1, 1]
    ids = [v for v, *_ in manifest]
    assert len(ids) == len(set(ids))
    assert all(
        -1.0 - 1e-9 <= c <= 1.0 + 1e-9
        for _, _, c, _ in manifest
        if c is not None
    )


def test_prune_stats_aggregate_manifest(spark, manifest):
    per = defaultdict(lambda: [0, 0, 0, 0.0])  # n, scored, kept, cos_sum
    for _, cell, cos_c, kept in manifest:
        row = per[cell]
        row[0] += 1
        if cos_c is not None:
            row[1] += 1
            row[3] += cos_c
        row[2] += kept
    got = {
        r["cell"]: r
        for r in QUERIES["semdedup_prune_stats"](spark, SF).collect()
    }
    assert set(got) == set(per)
    for cell, (n, scored, kept, cos_sum) in per.items():
        g = got[cell]
        assert g["n_members"] == n
        assert g["n_scored"] == scored
        assert g["n_kept"] == kept
        assert g["n_dropped"] == n - kept
        assert g["prune_rate"] == pytest.approx(
            (n - kept) / n, abs=2e-6
        )
        if scored:
            assert g["mean_cos"] == pytest.approx(
                cos_sum / scored, abs=2e-6
            )


def test_eps_sweep_recomputed_from_manifest(spark, manifest):
    n_total = len(manifest)
    scored = [(c, x) for _, c, x, _ in manifest if x is not None]
    got = {
        r["scale"]: r
        for r in QUERIES["semdedup_eps_sweep"](spark, SF).collect()
    }
    assert set(got) == set(S.SEMDEDUP_SWEEP)
    prev_dropped = None
    for s in sorted(S.SEMDEDUP_SWEEP):
        buckets = {(cell, _half_up(x, s)) for cell, x in scored}
        kept = len(buckets) + (n_total - len(scored))
        g = got[s]
        assert g["n_total"] == n_total
        assert g["n_kept"] == kept
        assert g["n_dropped"] == len(scored) - len(buckets)
        assert g["prune_rate"] == pytest.approx(
            g["n_dropped"] / n_total, abs=2e-6
        )
    # coarser bucket (smaller scale) can only drop MORE
    d = [got[s]["n_dropped"] for s in sorted(S.SEMDEDUP_SWEEP)]
    assert d == sorted(d, reverse=True)


def test_drop_bias_aggregates_manifest_by_label(spark, manifest, labels):
    per = defaultdict(lambda: [0, 0])
    for vec_id, _, _, kept in manifest:
        row = per[labels[vec_id]]
        row[0] += 1
        row[1] += 1 - kept
    got = {
        r["label"]: r
        for r in QUERIES["semdedup_drop_bias"](spark, SF).collect()
    }
    assert set(got) == set(per)
    for lbl, (n, dropped) in per.items():
        assert got[lbl]["n_members"] == n
        assert got[lbl]["n_dropped"] == dropped
        assert got[lbl]["drop_rate"] == pytest.approx(
            dropped / n, abs=2e-6
        )


# --------------------------------------------------- cluster diagnostics
def test_balance_profile_entropy_gini_python(spark, manifest):
    sizes = Counter(cell for _, cell, _, _ in manifest)
    k = len(sizes)
    tot = sum(sizes.values())
    ent = -sum(
        (n / tot) * math.log(n / tot) for n in sizes.values()
    ) / math.log(k)
    ordered = sorted(sizes.items(), key=lambda kv: (kv[1], kv[0]))
    gini = 2.0 * sum(
        (i + 1) * n for i, (_, n) in enumerate(ordered)
    ) / (k * tot) - (k + 1.0) / k
    row = QUERIES["cluster_balance_profile"](spark, SF).collect()[0]
    assert row["k_cells"] == k
    assert row["n_vectors"] == tot
    assert row["max_cell"] == max(sizes.values())
    assert row["min_cell"] == min(sizes.values())
    assert row["entropy_norm"] == pytest.approx(ent, abs=2e-6)
    assert row["gini"] == pytest.approx(gini, abs=2e-6)
    assert 0.0 <= row["gini"] < 1.0
    assert 0.0 < row["entropy_norm"] <= 1.0


def test_label_purity_python(spark, manifest, labels):
    per = defaultdict(Counter)
    for vec_id, cell, _, _ in manifest:
        per[cell][labels[vec_id]] += 1
    got = {
        r["cell"]: r
        for r in QUERIES["cluster_label_purity"](spark, SF).collect()
    }
    assert set(got) == set(per)
    for cell, cnts in per.items():
        size = sum(cnts.values())
        top = min(
            cnts.items(), key=lambda kv: (-kv[1], kv[0])
        )  # max count, min label
        g = got[cell]
        assert g["size"] == size
        assert g["top_label"] == top[0]
        assert g["purity"] == pytest.approx(top[1] / size, abs=2e-6)


def test_assignment_margin_against_store_artifact(spark):
    """Recompute every vector's two nearest centroids from the
    PERSISTED index artifact (pyarrow read, numpy distances, the same
    6dp boundary rounding) and check the margin summary."""
    import numpy as np
    import pyarrow.parquet as pq

    from kafka_go_streamer_spark.operators.ivf_store import (
        centroids_path,
        default_index_base,
        vectors_path,
    )

    # the query itself ensures the index exists
    row = QUERIES["cluster_assignment_margin"](spark, SF).collect()[0]
    base = default_index_base(SF)
    cents = pq.read_table(centroids_path(base)).to_pydict()
    vecs = pq.read_table(
        vectors_path(base), columns=["vec_id", "embedding"]
    ).to_pydict()
    k_ids = sorted(set(cents["cid"]))
    dims = max(cents["pos"]) + 1
    C = np.zeros((len(k_ids), dims))
    idx = {cid: i for i, cid in enumerate(k_ids)}
    for cid, pos, c in zip(cents["cid"], cents["pos"], cents["c"]):
        C[idx[cid], pos] = c
    margins = []
    for emb in vecs["embedding"]:
        v = np.asarray(emb, dtype=np.float64)
        d2 = np.round(((C - v) ** 2).sum(axis=1) + 5e-9, 6)
        top2 = np.sort(d2)[:2]
        margins.append(round(top2[1] - top2[0] + 5e-9, 6))
    assert row["n_vectors"] == len(margins)
    assert row["mean_margin"] == pytest.approx(
        sum(margins) / len(margins), abs=2e-6
    )
    assert row["min_margin"] == pytest.approx(min(margins), abs=2e-6)
    s = sorted(margins)

    def pct(q):
        i = (len(s) - 1) * q
        lo, hi = int(math.floor(i)), int(math.ceil(i))
        return s[lo] + (s[hi] - s[lo]) * (i - lo)

    assert row["p50_margin"] == pytest.approx(pct(0.5), abs=2e-6)
    assert row["p90_margin"] == pytest.approx(pct(0.9), abs=2e-6)


# --------------------------------------------------- line boilerplate
def _lined(doc_id: int, text: str) -> list[str]:
    lines = []
    if doc_id % 3 == 0:
        lines.append(S.BP_HEADER)
    lines.append(text)
    if doc_id % 4 == 0:
        lines.append(S.BP_FOOTER)
    if doc_id % 5 == 1:
        lines.append(S.BP_COOKIE)
    return [ln for ln in lines if ln != ""]


def _bp_set(docs) -> set[str]:
    df = defaultdict(set)
    for doc_id, text, _ in docs:
        for ln in set(_lined(doc_id, text)):
            df[ln].add(doc_id)
    return {ln for ln, ds in df.items() if len(ds) >= S.BP_MIN_DF}


def test_line_boilerplate_python(spark, docs):
    df = defaultdict(set)
    for doc_id, text, _ in docs:
        for ln in _lined(doc_id, text):
            df[ln].add(doc_id)
    expect = sorted(
        ((ln, len(ds)) for ln, ds in df.items() if len(ds) >= S.BP_MIN_DF),
        key=lambda kv: (-kv[1], kv[0]),
    )[:20]
    got = [
        (r["line"], r["n_docs"])
        for r in QUERIES["dedup_line_boilerplate"](spark, SF).collect()
    ]
    assert got == expect
    # all three seeded templates must be detected at this fixture
    lines = {ln for ln, _ in got}
    assert {S.BP_HEADER, S.BP_FOOTER, S.BP_COOKIE} <= lines


def test_line_retention_python(spark, docs):
    bp = _bp_set(docs)
    per = defaultdict(lambda: [set(), 0, 0, 0, 0])
    for doc_id, text, source in docs:
        row = per[source]
        for ln in _lined(doc_id, text):
            row[0].add(doc_id)
            row[1] += 1
            row[3] += len(ln)
            if ln in bp:
                row[2] += 1
            else:
                row[4] += len(ln)
    got = {
        r["source"]: r
        for r in QUERIES["dedup_line_doc_retention"](spark, SF).collect()
    }
    assert set(got) == set(per)
    for src, (ids, n_lines, n_bp, chars, kept_chars) in per.items():
        g = got[src]
        assert g["n_docs"] == len(ids)
        assert g["n_lines"] == n_lines
        assert g["n_bp_lines"] == n_bp
        assert g["line_retention"] == pytest.approx(
            (n_lines - n_bp) / n_lines, abs=2e-6
        )
        assert g["char_retention"] == pytest.approx(
            kept_chars / chars, abs=2e-6
        )


def test_line_cleaned_md5_python(spark, docs):
    bp = _bp_set(docs)
    got = {
        r["doc_id"]: r
        for r in QUERIES["dedup_line_cleaned_md5"](spark, SF).collect()
    }
    assert set(got) == {d for d, _, _ in docs}
    for doc_id, text, _ in docs:
        lines = _lined(doc_id, text)
        kept = [ln for ln in lines if ln not in bp]
        g = got[doc_id]
        assert g["n_lines"] == len(lines)
        assert g["n_bp_lines"] == len(lines) - len(kept)
        assert g["cleaned_md5"] == hashlib.md5(
            "\n".join(kept).encode()
        ).hexdigest()


# --------------------------------------------------- pii density
def test_pii_density_python(spark, docs):
    email = re.compile(r"[A-Za-z0-9_.]+@[A-Za-z0-9.]+\.[A-Za-z]+")
    phone = re.compile(r"\+1-555-[0-9]{4}")
    per = defaultdict(lambda: [0, 0, 0, 0, 0])
    for doc_id, text, source in docs:
        t = text
        if doc_id % 7 == 0:
            t += f" contact_{doc_id}@example.com"
        if doc_id % 5 == 0:
            t += f" call +1-555-{doc_id % 10000:04d}"
        ne = len(email.findall(t))
        np_ = len(phone.findall(t))
        row = per[source]
        row[0] += 1
        row[1] += 1 if ne + np_ > 0 else 0
        row[2] += ne
        row[3] += np_
        row[4] += len(t)
    got = {
        r["source"]: r
        for r in QUERIES["pii_density_by_source"](spark, SF).collect()
    }
    assert set(got) == set(per)
    any_pii = False
    for src, (n, with_pii, ne, np_, chars) in per.items():
        g = got[src]
        assert g["n_docs"] == n
        assert g["docs_with_pii"] == with_pii
        assert g["n_emails"] == ne
        assert g["n_phones"] == np_
        assert g["pii_per_10kchars"] == pytest.approx(
            (ne + np_) * 10000.0 / chars, abs=2e-5
        )
        any_pii = any_pii or with_pii > 0
    assert any_pii  # the seeding provably fires


# --------------------------------------------------- composed pipeline
def test_pipeline_consistent_with_parts(spark, docs, manifest):
    row = QUERIES["pipeline_semdedup_corpus"](spark, SF).collect()[0]
    bp = _bp_set(docs)
    n_lines = n_bp = chars = kept_chars = 0
    for doc_id, text, _ in docs:
        for ln in _lined(doc_id, text):
            n_lines += 1
            chars += len(ln)
            if ln in bp:
                n_bp += 1
            else:
                kept_chars += len(ln)
    assert row["n_docs"] == len(docs)
    assert row["n_lines"] == n_lines
    assert row["n_bp_lines"] == n_bp
    assert row["char_retention"] == pytest.approx(
        kept_chars / chars, abs=2e-6
    )
    kept = sum(k for *_, k in manifest)
    assert row["n_vectors"] == len(manifest)
    assert row["n_sem_kept"] == kept
    assert row["n_sem_dropped"] == len(manifest) - kept
    assert row["sem_keep_rate"] == pytest.approx(
        kept / len(manifest), abs=2e-6
    )


# =====================================================================
# wave 2: cross-family agreement, centroid shift, source alignment,
# gate funnel, prefix dup, rule overlap
# =====================================================================

def test_agreement_consistent_with_both_drop_sets(spark, manifest, duck):
    """The agreement counters must equal the composition of the two
    already-verified drop sets: text drops = corpus − greedy-rule
    survivors (restricted to embedded ids), semantic drops = manifest
    kept == 0."""
    emb_ids = {v for v, *_ in manifest}
    survivors = {
        r["doc_id"]
        for r in QUERIES["dedup_greedy_drop_rule"](spark, SF).collect()
    }
    all_docs = {
        r[0] for r in duck.execute("SELECT doc_id FROM documents").fetchall()
    }
    tdrop = (all_docs - survivors) & emb_ids
    sdrop = {v for v, _, _, k in manifest if k == 0}
    row = QUERIES["semdedup_vs_minhash_agreement"](spark, SF).collect()[0]
    assert row["n_universe"] == len(emb_ids)
    assert row["n_text_drops"] == len(tdrop)
    assert row["n_sem_drops"] == len(sdrop)
    assert row["n_both"] == len(tdrop & sdrop)
    union = len(tdrop | sdrop)
    if union:
        assert row["drop_jaccard"] == pytest.approx(
            len(tdrop & sdrop) / union, abs=2e-6
        )
    else:
        assert row["drop_jaccard"] is None


def test_centroid_shift_numpy_reference(spark, manifest):
    """Survivor means recomputed with numpy from the persisted store
    artifact; shift vs the stored centroids, same boundary rounding."""
    import numpy as np
    import pyarrow.parquet as pq

    from kafka_go_streamer_spark.operators.ivf_store import (
        centroids_path,
        default_index_base,
        vectors_path,
    )

    got = {
        r["cell"]: r
        for r in QUERIES["semdedup_centroid_shift"](spark, SF).collect()
    }
    base = default_index_base(SF)
    cents = pq.read_table(centroids_path(base)).to_pydict()
    vecs = pq.read_table(
        vectors_path(base), columns=["vec_id", "embedding"]
    ).to_pydict()
    emb = {
        v: np.asarray(e, dtype=np.float64)
        for v, e in zip(vecs["vec_id"], vecs["embedding"])
    }
    C = defaultdict(dict)
    for cid, pos, c in zip(cents["cid"], cents["pos"], cents["c"]):
        C[cid][pos] = c
    kept_members = defaultdict(list)
    members = Counter()
    for vec_id, cell, _, kept in manifest:
        members[cell] += 1
        if kept:
            kept_members[cell].append(emb[vec_id])
    assert set(got) == set(members)
    for cell, r in got.items():
        assert r["n_members"] == members[cell]
        assert r["n_kept"] == len(kept_members[cell])
        m = np.mean(np.stack(kept_members[cell]), axis=0)
        m = np.round(m + 5e-9, 6)  # Lloyd boundary rounding
        cvec = np.array(
            [C[cell][p] for p in range(len(m))], dtype=np.float64
        )
        shift = round(math.sqrt(((m - cvec) ** 2).sum()) + 5e-9, 6)
        assert r["shift"] == pytest.approx(shift, abs=2e-6)


def test_source_mix_python(spark, manifest, docs):
    src = {d: s for d, _, s in docs}
    per = defaultdict(Counter)
    for vec_id, cell, _, _ in manifest:
        per[cell][src[vec_id]] += 1
    got = {
        r["cell"]: r
        for r in QUERIES["cluster_source_mix"](spark, SF).collect()
    }
    assert set(got) == set(per)
    for cell, cnts in per.items():
        size = sum(cnts.values())
        top = min(cnts.items(), key=lambda kv: (-kv[1], kv[0]))
        g = got[cell]
        assert g["size"] == size
        assert g["n_sources"] == len(cnts)
        assert g["top_source"] == top[0]
        assert g["top_share"] == pytest.approx(top[1] / size, abs=2e-6)


def test_source_shift_python(spark, manifest, docs):
    src = {d: s for d, _, s in docs}
    before, after = Counter(), Counter()
    for vec_id, _, _, kept in manifest:
        before[src[vec_id]] += 1
        after[src[vec_id]] += kept
    tot, tot_kept = sum(before.values()), sum(after.values())
    got = {
        r["source"]: r
        for r in QUERIES["semdedup_source_shift"](spark, SF).collect()
    }
    assert set(got) == set(before)
    for s in before:
        g = got[s]
        assert g["n_before"] == before[s]
        assert g["n_after"] == after[s]
        assert g["share_before"] == pytest.approx(
            before[s] / tot, abs=2e-6
        )
        assert g["share_after"] == pytest.approx(
            after[s] / tot_kept, abs=2e-6
        )
        assert g["share_delta"] == pytest.approx(
            after[s] / tot_kept - before[s] / tot, abs=2e-6
        )
    # shares each sum to 1 => deltas sum to ~0
    assert sum(g["share_delta"] for g in got.values()) == pytest.approx(
        0.0, abs=1e-4
    )


# ------------------------------------------------------- gate funnel
STOP = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "mit"),
    "es": ("el", "la", "de", "y", "es", "un", "en", "que"),
    "fr": ("le", "la", "de", "et", "est", "un", "dans", "que"),
}


def _py_words(text: str) -> list[str]:
    t = text.strip().lower()
    return re.split(r"\s+", t) if t else [""]


def _py_lang(ws: list[str]) -> str:
    h = {
        lang: sum(1 for w in ws if w in sw) for lang, sw in STOP.items()
    }
    if h["en"] > 0 and h["en"] >= h["de"] and h["en"] >= h["es"] and h["en"] >= h["fr"]:
        return "en"
    if h["de"] > 0 and h["de"] >= h["es"] and h["de"] >= h["fr"]:
        return "de"
    if h["es"] > 0 and h["es"] >= h["fr"]:
        return "es"
    if h["fr"] > 0:
        return "fr"
    return "und"


def test_gate_funnel_python(spark, docs_full):
    c = [0, 0, 0, 0]
    fps = set()
    for _, text, _ in docs_full:
        ws = _py_words(text)
        alpha = round(
            sum(ch.isalpha() and ch.isascii() for ch in text)
            / max(len(text), 1)
            + 5e-7,
            4,
        )
        c[0] += 1
        if len(ws) < 20:
            continue
        c[1] += 1
        if not alpha > 0.6:
            continue
        c[2] += 1
        if _py_lang(ws) != "en":
            continue
        c[3] += 1
        fps.add(
            hashlib.md5(" ".join(sorted(set(ws))).encode()).hexdigest()
        )
    expect = c + [len(fps)]
    got = {
        r["stage"]: r
        for r in QUERIES["pipeline_gate_funnel"](spark, SF).collect()
    }
    assert sorted(got) == [0, 1, 2, 3, 4]
    for i in range(5):
        assert got[i]["survivors"] == expect[i], i
        assert got[i]["dropped_here"] == (
            0 if i == 0 else expect[i - 1] - expect[i]
        )
    # the funnel is monotone and stage 4 <= stage 3
    surv = [got[i]["survivors"] for i in range(5)]
    assert surv == sorted(surv, reverse=True)


@pytest.fixture(scope="module")
def docs_full(duck):
    return duck.execute(
        "SELECT doc_id, text, source FROM documents"
    ).fetchall()


def test_prefix_dup_python(spark, docs_full):
    from kafka_go_streamer_spark.plans.corpus_ops import PREFIX_CHARS

    grp = Counter()
    for _, text, _ in docs_full:
        grp[text[:PREFIX_CHARS]] += 1
    per = defaultdict(lambda: [0, 0])
    for _, text, source in docs_full:
        row = per[source]
        row[0] += 1
        if grp[text[:PREFIX_CHARS]] > 1:
            row[1] += 1
    got = {
        r["source"]: r
        for r in QUERIES["text_doc_prefix_dup"](spark, SF).collect()
    }
    assert set(got) == set(per)
    for s, (n, dup) in per.items():
        assert got[s]["n_docs"] == n
        assert got[s]["docs_in_dup_groups"] == dup
        assert got[s]["prefix_dup_rate"] == pytest.approx(
            dup / n, abs=2e-6
        )


def test_rule_overlap_python(spark, docs_full):
    from kafka_go_streamer_spark.plans.routing_queries import DOCS_SPLITER

    splits = DOCS_SPLITER.resolved_splits()
    matchers = []
    for rs in splits:
        if rs.use_regex:
            matchers.append(re.compile(rs.pattern).search)
        else:
            matchers.append(lambda t, p=rs.pattern: p in t)
    hits = [
        [bool(m(text)) for m in matchers] for _, text, _ in docs_full
    ]
    got = {
        (r["idx_a"], r["idx_b"]): r
        for r in QUERIES["route_rule_coverage_overlap"](spark, SF).collect()
    }
    n = len(splits)
    assert set(got) == {
        (i + 1, j + 1) for i in range(n) for j in range(i + 1, n)
    }
    for i in range(n):
        for j in range(i + 1, n):
            mi = sum(h[i] for h in hits)
            mj = sum(h[j] for h in hits)
            both = sum(h[i] and h[j] for h in hits)
            g = got[(i + 1, j + 1)]
            assert g["n_match_a"] == mi
            assert g["n_match_b"] == mj
            assert g["n_both"] == both
            union = mi + mj - both
            if union:
                assert g["overlap_jaccard"] == pytest.approx(
                    both / union, abs=2e-6
                )
            else:
                assert g["overlap_jaccard"] is None


# =====================================================================
# wave 3: packing economics, modularity, nprobe curve, quality frontier
# =====================================================================

def test_fill_rate_stats_recomputed_from_packer(spark):
    from kafka_go_streamer_spark.plans.training_ops import PACK_CAP

    packed = QUERIES["pack_sequences_greedy"](spark, SF).collect()
    seqs = defaultdict(lambda: [0, 0])  # tokens, docs
    for r in packed:
        key = (r["source"], r["shard"], r["seq_id"])
        seqs[key][0] += r["n_tokens"]
        seqs[key][1] += 1
    fills = sorted(t / PACK_CAP for t, _ in seqs.values())
    row = QUERIES["pack_fill_rate_stats"](spark, SF).collect()[0]
    assert row["n_seqs"] == len(seqs)
    assert row["n_docs"] == sum(d for _, d in seqs.values())
    assert row["total_tokens"] == sum(t for t, _ in seqs.values())
    assert row["mean_fill"] == pytest.approx(
        sum(fills) / len(fills), abs=2e-6
    )
    assert row["min_fill"] == pytest.approx(min(fills), abs=2e-6)
    i = (len(fills) - 1) * 0.5
    lo, hi = int(math.floor(i)), int(math.ceil(i))
    p50 = fills[lo] + (fills[hi] - fills[lo]) * (i - lo)
    assert row["p50_fill"] == pytest.approx(p50, abs=2e-6)
    assert row["n_oversize"] == sum(
        1 for t, _ in seqs.values() if t > PACK_CAP
    )
    assert row["padding_waste"] == sum(
        max(PACK_CAP - t, 0) for t, _ in seqs.values()
    )


def test_nprobe_curve_numpy_reference(spark, duck):
    import numpy as np

    from kafka_go_streamer_spark.plans.corpus_ops import NPROBE_SWEEP
    from kafka_go_streamer_spark.plans.scale_ops import IVF_CENTROID_IDS
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    rows = duck.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    emb = {v: np.asarray(e, dtype=np.float64) for v, e in rows}

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return 0.0 if na == 0 or nb == 0 else float(a @ b / (na * nb))

    cents = {c: emb[c] for c in IVF_CENTROID_IDS}
    # cell assignment: max rounded cosine, centroid-id tiebreak
    cell = {}
    for v, e in emb.items():
        best = max(
            cents,
            key=lambda c: (round(cos(emb[v], cents[c]) + 5e-9, 6), -c),
        )
        cell[v] = best
    qs = [v for v in emb if v % 100 == 0 and v < PANEL_MAX_ID]
    got = {
        r["nprobe"]: r
        for r in QUERIES["ann_nprobe_recall_curve"](spark, SF).collect()
    }
    assert set(got) == set(NPROBE_SWEEP)
    for p in NPROBE_SWEEP:
        hits_tot = 0
        for q in qs:
            sims = sorted(
                ((round(cos(emb[v], emb[q]) + 5e-9, 6), v) for v in emb
                 if v != q),
                key=lambda sv: (-sv[0], sv[1]),
            )
            gt = {v for _, v in sims[:10]}
            crank = sorted(
                cents,
                key=lambda c: (-round(cos(cents[c], emb[q]) + 5e-9, 6), c),
            )[:p]
            cand_pool = [
                (s, v) for s, v in sims if cell[v] in set(crank)
            ]
            cand = {v for _, v in cand_pool[:10]}
            hits_tot += len(gt & cand)
        g = got[p]
        assert g["n_queries"] == len(qs)
        assert g["mean_recall_at_10"] == pytest.approx(
            hits_tot / (10 * len(qs)), abs=2e-6
        )
    # monotone in nprobe; all-cells anchor is exact
    rec = [got[p]["mean_recall_at_10"] for p in sorted(NPROBE_SWEEP)]
    assert rec == sorted(rec)
    assert got[max(NPROBE_SWEEP)]["mean_recall_at_10"] == pytest.approx(
        1.0, abs=1e-9
    )


def test_quality_budget_curve_python(spark, docs_full):
    from kafka_go_streamer_spark.plans.corpus_ops import QUALITY_CUTS

    tok_re = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
    per_doc = []
    for _, text, _ in docs_full:
        ws = _py_words(text)
        swr = round(
            sum(1 for w in ws if w in STOP["en"]) / max(len(ws), 1)
            + 5e-7,
            4,
        )
        per_doc.append((swr, len(tok_re.findall(text))))
    got = {
        round(r["threshold"], 6): r
        for r in QUERIES["sample_quality_budget_curve"](spark, SF).collect()
    }
    d0 = len(per_doc)
    t0 = sum(t for _, t in per_doc)
    assert set(got) == {round(t, 6) for t in QUALITY_CUTS}
    for t in QUALITY_CUTS:
        nd = sum(1 for s, _ in per_doc if s >= t)
        nt = sum(tk for s, tk in per_doc if s >= t)
        g = got[round(t, 6)]
        assert g["n_docs"] == nd
        assert g["n_tokens"] == nt
        assert g["doc_share"] == pytest.approx(nd / d0, abs=2e-6)
        assert g["token_share"] == pytest.approx(nt / t0, abs=2e-6)
    # monotone decreasing in the threshold
    nds = [got[round(t, 6)]["n_docs"] for t in sorted(QUALITY_CUTS)]
    assert nds == sorted(nds, reverse=True)


# =====================================================================
# wave 4: format mix, retrieval impact of the prune, span coverage
# =====================================================================

def test_format_mix_aggregates_decode_meta(spark):
    meta = QUERIES["multimodal_decode_meta"](spark, SF).collect()
    per = defaultdict(lambda: [0, 0, 0, 0, 0])
    for r in meta:
        row = per[r["format"]]
        row[0] += 1
        row[1] += r["width"]
        row[2] += r["height"]
        row[3] += r["byte_len"]
        row[4] = max(row[4], r["byte_len"])
    got = {
        r["format"]: r
        for r in QUERIES["multimodal_format_mix"](spark, SF).collect()
    }
    assert set(got) == set(per)
    for fmt, (n, w, h, b, mb) in per.items():
        g = got[fmt]
        assert g["n_blobs"] == n
        assert g["mean_width"] == pytest.approx(w / n, abs=2e-2)
        assert g["mean_height"] == pytest.approx(h / n, abs=2e-2)
        assert g["mean_bytes"] == pytest.approx(b / n, abs=2e-2)
        assert g["max_bytes"] == mb


def test_retrieval_impact_numpy_reference(spark, duck, manifest):
    import numpy as np

    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    rows = duck.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    emb = {v: np.asarray(e, dtype=np.float64) for v, e in rows}
    kept = {v: k for v, _, _, k in manifest}

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return 0.0 if na == 0 or nb == 0 else float(a @ b / (na * nb))

    qs = [v for v in emb if v % 100 == 0 and v < PANEL_MAX_ID]
    survivals = []
    for q in qs:
        sims = sorted(
            ((round(cos(emb[v], emb[q]) + 5e-9, 6), v) for v in emb
             if v != q),
            key=lambda sv: (-sv[0], sv[1]),
        )
        gt = [v for _, v in sims[:10]]
        survivals.append(sum(kept[v] for v in gt))
    row = QUERIES["semdedup_retrieval_impact"](spark, SF).collect()[0]
    assert row["n_queries"] == len(qs)
    assert row["mean_gt_survival"] == pytest.approx(
        sum(survivals) / (10 * len(qs)), abs=2e-6
    )
    assert row["worst_kept"] == min(survivals)
    assert row["n_degraded"] == sum(1 for s in survivals if s < 5)


def test_span_coverage_aggregates_span_stats(spark, docs_full):
    src = {d: s for d, _, s in docs_full}
    per_doc = QUERIES["dedup_substring_spans"](spark, SF).collect()
    per = defaultdict(lambda: [0, 0, 0, 0, 0.0])
    for r in per_doc:
        row = per[src[r["doc_id"]]]
        row[0] += 1
        row[1] += 1 if r["n_dup_spans"] > 0 else 0
        row[2] += r["n_spans"]
        row[3] += r["n_dup_spans"]
        row[4] += r["dup_ratio"]
    got = {
        r["source"]: r
        for r in QUERIES["dedup_span_coverage_by_source"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(per)
    for s, (n, dw, ns, nd, drsum) in per.items():
        g = got[s]
        assert g["n_docs"] == n
        assert g["docs_with_dup_span"] == dw
        assert g["n_spans"] == ns
        assert g["n_dup_spans"] == nd
        assert g["span_dup_share"] == pytest.approx(
            nd / max(ns, 1), abs=2e-6
        )
        assert g["mean_dup_ratio"] == pytest.approx(drsum / n, abs=2e-6)
