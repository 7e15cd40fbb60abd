"""Pure-Python references for the round-13 wave-3 queries
(HLL sizing curve, recall@k grid, dedup drop bias, trigger-lateness
matrix, Z-order skipping audit) — independent of both Spark and
DuckDB; sketches and layouts are rebuilt with hashlib/dicts, the CC
assignment with a plain union-find, the recall grid with numpy."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import duckdb
import numpy as np
import pytest

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans import lateness as L
from kafka_go_streamer_spark.plans import pipeline_econ as PE
from kafka_go_streamer_spark.plans import reliability  # noqa: F401
from kafka_go_streamer_spark.plans.corpus_ops import (
    RECALL_K_GRID,
    RECALL_K_NPROBE,
)
from kafka_go_streamer_spark.plans.sketches import (
    HLL_ALPHAS,
    HLL_M_GRID,
)
from tests.refs import half_up

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


# ----------------------------------------------- sketch_hll_error_curve
def test_hll_error_curve_matches_python(spark, duck):
    got = {
        r["m_registers"]: r
        for r in QUERIES["sketch_hll_error_curve"](spark, SF).collect()
    }
    users = [
        u for (u,) in duck.execute("SELECT user_id FROM events").fetchall()
    ]
    exact = len(set(users))
    for m in HLL_M_GRID:
        p = m.bit_length() - 1
        w = 60 - p
        regs: dict[int, int] = {}
        for u in users:
            h = int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
            idx = h % m
            suffix = h >> p
            rho = w + 1 - suffix.bit_length()
            regs[idx] = max(regs.get(idx, 0), rho)
        filled = len(regs)
        int_sum = sum(1 << (61 - p - r) for r in regs.values()) + (
            m - filled
        ) * (1 << (61 - p))
        raw = HLL_ALPHAS[m] * m * m * float(2 ** (61 - p)) / int_sum
        if raw <= 2.5 * m and filled < m:
            est = m * math.log(m / (m - filled))
        else:
            est = raw
        r = got[m]
        assert r["filled_registers"] == filled
        assert r["hll_distinct"] == pytest.approx(
            half_up(est, 1), abs=1e-6
        )
        assert r["exact_distinct"] == exact
        assert r["rel_error"] == pytest.approx(
            half_up((est - exact) / exact, 6), abs=1e-6
        )
        assert r["theoretical_rse"] == pytest.approx(
            half_up(1.04 / math.sqrt(m), 6), abs=1e-9
        )
        # the estimate is within a few theoretical sigma of truth
        assert abs(r["rel_error"]) < 4 * r["theoretical_rse"]


# -------------------------------------------------- ann_recall_at_k_grid
def test_recall_at_k_matches_numpy(spark, duck):
    from kafka_go_streamer_spark.plans.scale_ops import IVF_CENTROID_IDS
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    got = {
        r["k"]: r
        for r in QUERIES["ann_recall_at_k_grid"](spark, SF).collect()
    }
    rows = duck.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    emb = {v: np.asarray(e, dtype=np.float64) for v, e in rows}

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return 0.0 if na == 0 or nb == 0 else float(a @ b / (na * nb))

    cents = {c: emb[c] for c in IVF_CENTROID_IDS}
    cell = {}
    for v in emb:
        cell[v] = max(
            cents,
            key=lambda c: (round(cos(emb[v], cents[c]) + 5e-9, 6), -c),
        )
    qs = [v for v in emb if v % 100 == 0 and v < PANEL_MAX_ID]
    kmax = max(RECALL_K_GRID)
    hits_at = {k: 0 for k in RECALL_K_GRID}
    for q in qs:
        sims = sorted(
            (
                (round(cos(emb[v], emb[q]) + 5e-9, 6), v)
                for v in emb
                if v != q
            ),
            key=lambda sv: (-sv[0], sv[1]),
        )
        gt = [v for _, v in sims[:kmax]]
        probe = set(
            sorted(
                cents,
                key=lambda c: (-round(cos(cents[c], emb[q]) + 5e-9, 6), c),
            )[:RECALL_K_NPROBE]
        )
        cand = [v for _, v in sims if cell[v] in probe][:kmax]
        for k in RECALL_K_GRID:
            hits_at[k] += len(set(gt[:k]) & set(cand[:k]))
    nq = len(qs)
    for k in RECALL_K_GRID:
        r = got[k]
        assert r["n_queries"] == nq
        assert r["mean_recall_at_k"] == pytest.approx(
            hits_at[k] / (k * nq), abs=2e-6
        )
    # cross-query consistency: the k=10 row IS the registered nprobe
    # curve's nprobe=2 point
    curve = {
        r["nprobe"]: r["mean_recall_at_10"]
        for r in QUERIES["ann_nprobe_recall_curve"](spark, SF).collect()
    }
    assert got[10]["mean_recall_at_k"] == curve[RECALL_K_NPROBE]


# ---------------------------------------------- dedup_drop_bias_by_source
def test_drop_bias_matches_python(spark, duck):
    got = {
        r["source"]: (
            r["n_docs"],
            r["n_dropped"],
            r["drop_share"],
            r["drop_lift"],
        )
        for r in QUERIES["dedup_drop_bias_by_source"](spark, SF).collect()
    }
    comp = duck.execute(
        "SELECT doc_id, source FROM documents"
    ).fetchall()
    # reuse the engine-verified CC assignment shape via a pure-Python
    # union-find over the SAME minhash-banded candidate pairs
    from kafka_go_streamer_spark.operators.dedup import (
        MAX_BUCKET,
        NUM_HASHES,
        SHINGLE_SIZE,
    )

    texts = dict(
        duck.execute("SELECT doc_id, text FROM documents").fetchall()
    )
    sigs = {}
    for doc_id, text in texts.items():
        ws = re.split(r"\s+", text.strip().lower())
        if len(ws) >= SHINGLE_SIZE:
            sh = {
                " ".join(ws[i : i + SHINGLE_SIZE])
                for i in range(len(ws) - SHINGLE_SIZE + 1)
            }
        else:
            sh = {" ".join(ws)}
        digests = [hashlib.md5(s.encode()).hexdigest() for s in sh]
        sigs[doc_id] = (
            [
                min(d[8 * k : 8 * k + 8] for d in digests)
                for k in range(NUM_HASHES)
            ],
            sh,
        )
    buckets = defaultdict(list)
    for doc_id, (sg, _) in sigs.items():
        for band in range(NUM_HASHES):
            buckets[(band, sg[band])].append(doc_id)
    parent = {d: d for d in sigs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for members in buckets.values():
        if len(members) > MAX_BUCKET:
            continue
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1 :]:
                sa, sb = sigs[a][1], sigs[b][1]
                inter = len(sa & sb)
                if inter >= 2:  # the CC pair rule (min_intersection=2)
                    union(a, b)
    comps = defaultdict(list)
    for d in sigs:
        comps[find(d)].append(d)
    dropped = set()
    for members in comps.values():
        for d in sorted(members)[1:]:
            dropped.add(d)
    per = defaultdict(lambda: [0, 0])
    for doc_id, source in comp:
        per[source][0] += 1
        per[source][1] += int(doc_id in dropped)
    overall = sum(v[1] for v in per.values()) / sum(
        v[0] for v in per.values()
    )
    assert overall > 0
    assert set(got) == set(per)
    for src, (n, nd) in per.items():
        assert got[src][0] == n
        assert got[src][1] == nd
        assert got[src][2] == pytest.approx(
            half_up(nd / n, 6), abs=1e-9
        )
        assert got[src][3] == pytest.approx(
            half_up((nd / n) / overall, 4), abs=1e-9
        )


# ------------------------------------------ events_lateness_trigger_matrix
def _h60(eid: int, salt: str) -> int:
    return int(hashlib.md5(f"{eid}{salt}".encode()).hexdigest()[:15], 16)


def _jit(eid: int) -> int:
    mag = _h60(eid, "lm")
    if _h60(eid, "lt") % L.TAIL_MOD == 0:
        return mag % (L.TAIL_MAX_US + 1)
    return mag % (L.BODY_MAX_US + 1)


def test_trigger_matrix_matches_python(spark, duck):
    got = {
        (r["trigger_s"], r["delay_s"]): r
        for r in QUERIES["events_lateness_trigger_matrix"](
            spark, SF
        ).collect()
    }
    rows = duck.execute(
        "SELECT event_id, epoch_us(ts) FROM events"
    ).fetchall()
    arr = sorted(((us + _jit(eid), eid, us) for eid, us in rows))
    # continuous frontier
    cont = []
    fr = -1
    for a, eid, us in arr:
        cont.append((a, us, fr))
        fr = max(fr, us)
    w_us = L.MATRIX_WINDOW_S * 1_000_000
    for t in L.TRIGGER_GRID_S:
        t_us = t * 1_000_000
        slot_max: dict[int, int] = {}
        for a, us, _ in cont:
            s = a // t_us
            slot_max[s] = max(slot_max.get(s, -1), us)
        # prefix max of strictly-earlier slots
        prev: dict[int, int] = {}
        run = -1
        for s in sorted(slot_max):
            prev[s] = run
            run = max(run, slot_max[s])
        for d in L.MATRIX_DELAYS_S:
            d_us = d * 1_000_000
            nb = nc = 0
            for a, us, fr in cont:
                wend = (us // w_us + 1) * w_us
                if prev[a // t_us] - d_us >= wend:
                    nb += 1
                if fr - d_us >= wend:
                    nc += 1
            r = got[(t, d)]
            assert r["n_events"] == len(arr)
            assert r["n_dropped_batch"] == nb
            assert r["n_dropped_continuous"] == nc
            assert r["drop_share_batch"] == pytest.approx(
                half_up(nb / len(arr), 6), abs=1e-9
            )
            if nc:
                assert r["capture_ratio"] == pytest.approx(
                    half_up(nb / nc, 4), abs=1e-9
                )
            # batch watermarks lag the continuous frontier: never MORE
            # drops than the bound
            assert nb <= nc
    # finer triggers capture more of the bound
    for d in L.MATRIX_DELAYS_S:
        drops = [got[(t, d)]["n_dropped_batch"] for t in sorted(L.TRIGGER_GRID_S)]
        assert drops == sorted(drops, reverse=True)


# --------------------------------------------- storage_zorder_skipping_audit
def test_zorder_audit_matches_python(spark, duck):
    got = {
        r["layout"]: r
        for r in QUERIES["storage_zorder_skipping_audit"](
            spark, SF
        ).collect()
    }
    rows = duck.execute(
        "SELECT epoch_us(ts), user_id FROM events"
    ).fetchall()
    g = 1 << PE.Z_GRID_BITS
    lo = min(u for u, _ in rows)
    hi = max(u for u, _ in rows)
    ulo = min(u for _, u in rows)
    uhi = max(u for _, u in rows)
    span_t, span_u = hi - lo + 1, uhi - ulo + 1

    def zfile(tb, ub):
        return (
            (tb % 2)
            + 2 * (ub % 2)
            + 4 * ((tb // 2) % 2)
            + 8 * ((ub // 2) % 2)
            + 16 * ((tb // 4) % 2)
            + 32 * ((ub // 4) % 2)
        )

    zones = {"time_sorted": {}, "zorder": {}}
    for us, uid in rows:
        tb = (us - lo) * g // span_t
        ub = (uid - ulo) * g // span_u
        tb64 = (us - lo) * PE.Z_N_FILES // span_t
        for layout, fid in (
            ("time_sorted", tb64),
            ("zorder", zfile(tb, ub)),
        ):
            z = zones[layout].setdefault(
                fid, [us, us, uid, uid]
            )
            z[0] = min(z[0], us)
            z[1] = max(z[1], us)
            z[2] = min(z[2], uid)
            z[3] = max(z[3], uid)
    probes = []
    for i in range(1, PE.Z_N_PROBES + 1):
        a = _h60(i, "za") % (g - 1)
        b = _h60(i, "zb") % (g - 1)
        probes.append(
            (
                lo + span_t * a // g,
                lo + span_t * (a + 2) // g - 1,
                ulo + span_u * b // g,
                ulo + span_u * (b + 2) // g - 1,
            )
        )
    for layout, zmap in zones.items():
        hits = sum(
            1
            for ptlo, pthi, pulo, puhi in probes
            for tmin, tmax, umin, umax in zmap.values()
            if tmin <= pthi and tmax >= ptlo and umin <= puhi and umax >= pulo
        )
        r = got[layout]
        assert r["n_files"] == len(zmap)
        assert r["mean_files_hit"] == pytest.approx(
            half_up(hits / PE.Z_N_PROBES, 4), abs=1e-9
        )
        assert r["skip_rate"] == pytest.approx(
            half_up(1 - hits / (PE.Z_N_PROBES * PE.Z_N_FILES), 4),
            abs=1e-9,
        )
    # the point of Z-order: 2-D rectangles skip MORE than a 1-D sort
    assert got["zorder"]["skip_rate"] > got["time_sorted"]["skip_rate"]
