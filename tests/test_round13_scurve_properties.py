"""Pure-Python reference for ``dedup_lsh_scurve_empirical``
(plans/audit_ops.py): the whole panel pipeline — words, shingles, md5
minhash slices, SimHash64 banding, the hash-partner pairs, exact
Jaccard, both bandings' hit predicates, and the analytic
1-(1-s^r)^b curve — re-derived end-to-end with no shared code, plus
closed-form properties of the analytic curve itself (endpoints,
monotonicity, and r=1's dominance over r=2 at equal hash budget)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

import duckdb
import pytest

from kafka_go_streamer_spark.operators.dedup import (
    NUM_HASHES,
    SHINGLE_SIZE,
)
from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans.audit_ops import (
    DOC_PANEL_MAX_ID,
    SCURVE_BINS,
)
from tests.refs import half_up, pwords

SF = "/root/testdata/sf0.001"


def _an_r1(s: float) -> float:
    return 1.0 - (1.0 - s) ** 4


def _an_r2(s: float) -> float:
    return 1.0 - (1.0 - s * s) ** 2


def test_analytic_scurve_properties():
    """Closed-form sanity of 1-(1-s^r)^b at the two deployed bandings
    (equal hash budget r*b = 4): endpoints exact, both curves strictly
    increasing, r=1 dominates r=2 everywhere in (0,1) — by the ratio
    (1-s)^4 / ((1-s)^2 (1+s)^2) = ((1-s)/(1+s))^2 <= 1 — and the r=2
    curve is the steeper one relative to its own height (the S
    shape)."""
    grid = [i / 100 for i in range(101)]
    assert _an_r1(0.0) == _an_r2(0.0) == 0.0
    assert _an_r1(1.0) == _an_r2(1.0) == 1.0
    for a, b in zip(grid, grid[1:]):
        assert _an_r1(b) > _an_r1(a)
        assert _an_r2(b) > _an_r2(a)
    for s in grid[1:-1]:
        assert _an_r1(s) > _an_r2(s)
    # low-s behavior: r=1 rises linearly (~4s), r=2 quadratically
    assert _an_r1(0.01) == pytest.approx(0.04, rel=0.03)
    assert _an_r2(0.01) == pytest.approx(2e-4, rel=0.03)


@pytest.fixture(scope="module")
def panel_docs():
    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet' "
        f"WHERE doc_id < {DOC_PANEL_MAX_ID}"
    ).fetchall()


def test_scurve_table_matches_python_end_to_end(spark, panel_docs):
    got = {
        (r["banding"], r["sbin"]): r
        for r in QUERIES["dedup_lsh_scurve_empirical"](
            spark, SF
        ).collect()
    }

    # signatures + shingle sets
    sh_sets, sigs, words = {}, {}, {}
    for doc_id, text in panel_docs:
        ws = pwords(text)
        words[doc_id] = ws
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

    # hash-partner pairs over the dense panel ids
    ids = sorted(doc_id for doc_id, _ in panel_docs)
    lo, nn = ids[0], len(ids)
    pairs = set()
    for a in ids:
        h = int(hashlib.md5(f"{a}pp".encode()).hexdigest()[:15], 16)
        b = lo + ((a - lo) + 1 + h % (nn - 1)) % nn
        if a != b:
            pairs.add((min(a, b), max(a, b)))

    # SimHash64 band-collision pairs (bucket cap 64)
    def simhash_bits(ws):
        sums = [0] * 64
        for w in set(ws):
            d = hashlib.md5(w.encode()).hexdigest()
            ha, hb = int(d[0:8], 16), int(d[8:16], 16)
            for b in range(32):
                sums[b] += 1 if (ha >> b) & 1 else -1
                sums[32 + b] += 1 if (hb >> b) & 1 else -1
        return sum(1 << b for b in range(64) if sums[b] > 0)

    buckets = defaultdict(list)
    for doc_id in ids:
        u = simhash_bits(words[doc_id])
        for band in range(8):
            buckets[(band, (u >> (band * 8)) & 255)].append(doc_id)
    for members in buckets.values():
        if len(members) > 64:
            continue
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1 :]:
                pairs.add((a, b))

    # score every panel pair under both bandings
    def sbin(s):
        for i, edge in enumerate(SCURVE_BINS):
            if s < edge:
                return i
        return len(SCURVE_BINS)

    acc = defaultdict(lambda: [0, 0.0, 0.0, 0.0])
    for a, b in pairs:
        inter = len(sh_sets[a] & sh_sets[b])
        s = inter / (len(sh_sets[a]) + len(sh_sets[b]) - inter)
        hit1 = any(sigs[a][k] == sigs[b][k] for k in range(NUM_HASHES))
        hit2 = (
            sigs[a][0] == sigs[b][0] and sigs[a][1] == sigs[b][1]
        ) or (sigs[a][2] == sigs[b][2] and sigs[a][3] == sigs[b][3])
        for banding, hit, an in (
            ("r1b4", hit1, _an_r1(s)),
            ("r2b2", hit2, _an_r2(s)),
        ):
            row = acc[(banding, sbin(s))]
            row[0] += 1
            row[1] += s
            row[2] += an
            row[3] += 1 if hit else 0

    assert set(got) == set(acc)
    for key, (n, ssum, ansum, hits) in acc.items():
        r = got[key]
        assert r["n_pairs"] == n
        assert r["mean_exact"] == pytest.approx(
            half_up(ssum / n, 6), abs=1e-9
        )
        assert r["analytic_p"] == pytest.approx(
            half_up(ansum / n, 6), abs=1e-9
        )
        assert r["measured_rate"] == pytest.approx(
            half_up(hits / n, 6), abs=1e-9
        )
        assert r["gap"] == pytest.approx(
            half_up(hits / n - ansum / n, 6), abs=1e-9
        )
    # the S-curve fidelity claim itself: in every bin with real mass
    # the measured collision rate sits close to the analytic curve,
    # and the strict banding never out-recalls the loose one
    for (banding, sb), (n, _, ansum, hits) in acc.items():
        if n >= 500:
            assert abs(hits / n - ansum / n) < 0.05
    for sb in {k[1] for k in acc}:
        if ("r1b4", sb) in acc and ("r2b2", sb) in acc:
            n1, _, _, h1 = acc[("r1b4", sb)]
            n2, _, _, h2 = acc[("r2b2", sb)]
            assert h1 / n1 >= h2 / n2
