"""The graph family (``plans/graph.py``) against pure-Python references
— independent of both Spark and DuckDB, so a shared engine
misunderstanding cannot cancel out in the oracle parity check.

Every document-graph reference starts from the ``edges`` fixture, the
undirected edge set of the Spark ``dedup_winnowing_pairs`` output,
normalized in Python (``min``/``max``, set), so the references do not
rest on the pair-order invariant the shared edge frame relies on; that
invariant has its own test here, on both engines."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb
import pytest

from kafka_go_streamer_spark.plans import ORACLES, QUERIES
from kafka_go_streamer_spark.plans import graph as G

SF = "/root/testdata/sf0.001"


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


@pytest.fixture(scope="module")
def duck():
    return _duck(SF)


@pytest.fixture(scope="module")
def edges(spark) -> list[tuple[int, int]]:
    """The one document-graph edge reference: the winnowing pairs as a
    sorted set of ``(min, max)`` tuples."""
    pairs = QUERIES["dedup_winnowing_pairs"](spark, SF).collect()
    return sorted(
        {(min(p["id_a"], p["id_b"]), max(p["id_a"], p["id_b"])) for p in pairs}
    )


def _nbrs(edges) -> dict[int, set[int]]:
    nbrs: dict[int, set[int]] = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    return nbrs


# ------------------------------------------------- the shared edge frame
@pytest.mark.parametrize("sf_dir", [SF, "/root/testdata/sf0.01"])
def test_winnowing_pairs_emit_each_unordered_pair_once(spark, sf_dir):
    """The shared edge frame is a plain projection of
    ``dedup_winnowing_pairs`` (no least/greatest, no DISTINCT): that
    rests on every unordered pair coming out exactly once, with
    ``id_a < id_b``, on Spark and on DuckDB alike."""
    got = {
        "spark": [
            (r["id_a"], r["id_b"])
            for r in QUERIES["dedup_winnowing_pairs"](spark, sf_dir)
            .select("id_a", "id_b")
            .collect()
        ],
        "duckdb": _duck(sf_dir)
        .execute(
            "SELECT id_a, id_b FROM "
            f"({ORACLES['dedup_winnowing_pairs']})"
        )
        .fetchall(),
    }
    for engine, pairs in got.items():
        assert pairs, engine  # a vacuous pass would prove nothing
        assert all(a < b for a, b in pairs), engine
        assert len(set(pairs)) == len(pairs), engine
    assert sorted(got["spark"]) == sorted(got["duckdb"])


# --------------------------------------------------------------- PageRank
def test_pagerank_sums_and_matches_python(spark, duck):
    got = {
        r["event_type"]: r["pagerank"]
        for r in QUERIES["graph_pagerank_transitions"](spark, SF).collect()
    }
    rows = duck.execute(
        "SELECT user_id, epoch(ts), event_id, event_type FROM events"
    ).fetchall()
    per_user = defaultdict(list)
    for uid, t, eid, et in rows:
        per_user[uid].append((t, eid, et))
    edges = defaultdict(int)
    for seq_rows in per_user.values():
        seq = [et for _t, _e, et in sorted(seq_rows)]
        for x, y in zip(seq, seq[1:]):
            edges[(x, y)] += 1
    out = defaultdict(int)
    for (x, _y), n in edges.items():
        out[x] += n
    nodes = sorted({x for x, _ in edges} | {y for _, y in edges})
    rank = {n: 1.0 / len(nodes) for n in nodes}
    for _ in range(3):
        nxt = {}
        for n in nodes:
            s = sum(
                rank[x] * (c / out[x])
                for (x, y), c in edges.items()
                if y == n
            )
            nxt[n] = 0.15 / len(nodes) + 0.85 * s
        rank = nxt
    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n] - rank[n]) < 1e-5, n


# ------------------------------------------------- bipartite projection
def test_bipartite_projection_matches_python_reference(spark, duck):
    rows = duck.execute(
        "SELECT DISTINCT user_id, event_type FROM events"
    ).fetchall()
    by_user: dict = defaultdict(set)
    nt: Counter = Counter()
    for u, t in rows:
        by_user[u].add(t)
        nt[t] += 1
    co: Counter = Counter()
    for ts in by_user.values():
        tl = sorted(ts)
        for i in range(len(tl)):
            for j in range(i + 1, len(tl)):
                co[(tl[i], tl[j])] += 1
    got = {
        (r["type_a"], r["type_b"]): r
        for r in QUERIES["graph_bipartite_projection"](spark, SF).collect()
    }
    assert set(got) == set(co)
    for (ta, tb), n_both in co.items():
        r = got[(ta, tb)]
        assert r["n_both"] == n_both
        assert r["cosine_affinity"] == pytest.approx(
            n_both / math.sqrt(nt[ta] * nt[tb]), abs=1e-5
        )
        assert 0.0 < r["cosine_affinity"] <= 1.0


# ----------------------------------------------------------- reciprocity
def test_reciprocity_matches_python_reference(spark, duck):
    rows = duck.execute(
        "SELECT user_id, event_type, ts, event_id FROM events"
        " ORDER BY user_id, ts, event_id"
    ).fetchall()
    w: Counter = Counter()
    prev: dict = {}
    for u, t, _, _ in rows:
        if u in prev and prev[u] != t:
            w[(prev[u], t)] += 1
        prev[u] = t
    n_dir = len(w)
    n_rec = sum(1 for (a, b) in w if (b, a) in w)
    wrec = sum(min(c, w.get((b, a), 0)) for (a, b), c in w.items())
    r = QUERIES["graph_reciprocity"](spark, SF).collect()[0]
    assert r["n_directed_edges"] == n_dir
    assert r["n_reciprocated"] == n_rec
    assert r["reciprocity"] == pytest.approx(n_rec / n_dir, abs=1e-5)
    assert r["weighted_reciprocity"] == pytest.approx(
        wrec / sum(w.values()), abs=1e-5
    )
    assert 0.0 <= r["weighted_reciprocity"] <= r["reciprocity"] <= 1.0


# -------------------------------------------------------- assortativity
def test_assortativity_matches_python_reference(spark, edges):
    deg: Counter = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    xs, ys = [], []
    for a, b in edges:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
    den = math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    r = QUERIES["graph_degree_assortativity"](spark, SF).collect()[0]
    assert r["n_edges"] == len(edges) and r["n_nodes"] == len(deg)
    if den > 0:
        assert r["assortativity"] == pytest.approx(
            (n * sxy - sx * sy) / den, abs=1e-3
        )
        assert -1.0 <= r["assortativity"] <= 1.0
    else:
        assert r["assortativity"] is None


# ---------------------------------------------------- local clustering
def test_local_clustering_matches_python_reference(spark, edges):
    adj = _nbrs(edges)
    ccs = []
    closed = 0
    for v, nb in adj.items():
        d = len(nb)
        if d < 2:
            continue
        nbl = sorted(nb)
        t = sum(
            1
            for i in range(len(nbl))
            for j in range(i + 1, len(nbl))
            if nbl[j] in adj[nbl[i]]
        )
        ccs.append(2.0 * t / (d * (d - 1)))
        closed += t > 0
    r = QUERIES["graph_clustering_coefficient"](spark, SF).collect()[0]
    assert r["n_nodes_deg2"] == len(ccs)
    assert r["n_closed_nodes"] == closed
    if ccs:
        assert r["avg_local_cc"] == pytest.approx(
            sum(ccs) / len(ccs), abs=1e-4
        )
        assert 0.0 <= r["avg_local_cc"] <= 1.0


# --------------------------------------------------------------- k-core
def test_kcore_peeling_is_monotone(spark):
    """Nodes and edges kept can only shrink round over round, and a
    stable round implies every later round is identical (fixpoint)."""
    pdf = (
        QUERIES["graph_kcore_decomposition"](spark, SF)
        .toPandas()
        .sort_values("round")
        .reset_index(drop=True)
    )
    n = pdf["nodes_kept"].tolist()
    e = pdf["edges_kept"].tolist()
    assert n == sorted(n, reverse=True)
    assert e == sorted(e, reverse=True)
    for i in range(1, len(pdf)):
        if (n[i - 1], e[i - 1]) == (n[i], e[i]):
            assert all(
                (n[j - 1], e[j - 1]) == (n[j], e[j])
                for j in range(i, len(pdf))
            )


# ------------------------------------------------------------ modularity
def test_modularity_recomputed_from_lpa_and_edges(spark, edges):
    """The label chain equals a pure-Python synchronous min-label
    propagation, and modularity recomputed from those labels and the
    edge set equals the query's."""
    nbrs = _nbrs(edges)
    want = {n: n for n in nbrs}
    for _ in range(G.LPA_ROUNDS):
        want = {n: min([want[n]] + [want[m] for m in nbrs[n]]) for n in nbrs}
    lbl = {
        r["node"]: r["lbl"]
        for r in G.lpa_label_frame(G.edge_frame(spark, SF)).collect()
    }
    assert lbl == want
    m = len(edges)
    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    mc = Counter()
    for a, b in edges:
        if lbl[a] == lbl[b]:
            mc[lbl[a]] += 1
    dc = Counter()
    for node, d in deg.items():
        dc[lbl[node]] += d
    q = sum(
        mc.get(c, 0) / m - (dc[c] / (2 * m)) ** 2 for c in dc
    )
    row = QUERIES["graph_modularity_lpa"](spark, SF).collect()[0]
    assert row["n_nodes"] == len(lbl)
    assert row["n_communities"] == len(dc)
    assert row["n_edges"] == m
    assert row["modularity"] == pytest.approx(q, abs=2e-6)
    assert -0.5 <= row["modularity"] <= 1.0


# ----------------------------------------------------------- Adamic-Adar
def test_adamic_adar_matches_python_reference(spark, edges):
    """The Spark Adamic-Adar predictions must equal a from-scratch
    Python pass over the SAME edge list (the Spark winnowing-pairs
    output): wedge enumeration, 1/ln(deg) weighting, existing-edge
    exclusion, (-score, u, v) ordering, top-20 cut."""
    edge_set = set(edges)
    scores: dict = {}
    for c, ns in _nbrs(edges).items():
        d = len(ns)
        for u in ns:
            for v in ns:
                if u < v and (u, v) not in edge_set:
                    n, s = scores.get((u, v), (0, 0.0))
                    scores[(u, v)] = (n + 1, s + 1.0 / math.log(d))
    want = sorted(
        (
            (u, v, n, round(s, 6))
            for (u, v), (n, s) in scores.items()
        ),
        key=lambda r: (-r[3], r[0], r[1]),
    )[: G.AA_TOP]
    got = [
        (r["id_a"], r["id_b"], r["n_common"], r["aa_score"])
        for r in QUERIES["graph_adamic_adar"](spark, SF)
        .toPandas()
        .to_dict("records")
    ]
    assert len(got) == len(want)
    for (gu, gv, gn, gs), (wu, wv, wn, ws) in zip(got, want):
        assert (gu, gv, gn) == (wu, wv, wn)
        assert gs == pytest.approx(ws, abs=2e-6)
    # every prediction is a genuinely NEW pair with >=1 shared neighbor
    for u, v, n, _ in got:
        assert (min(u, v), max(u, v)) not in edge_set
        assert n >= 1


# ------------------------------------------------- Jaccard link predict
def test_jaccard_neighbors_matches_python_sets(spark, edges):
    """Every predicted pair must be non-adjacent, share the claimed
    number of neighbors, and carry |∩|/|∪| computed from explicit
    neighbor sets; the returned scores must be the global top-k
    multiset."""
    edge_set = set(edges)
    nbr = _nbrs(edges)
    scores: dict[tuple[int, int], tuple[int, float]] = {}
    nodes = sorted(nbr)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1 :]:
            if (u, v) in edge_set:
                continue
            common = nbr[u] & nbr[v]
            if not common:
                continue
            j = round(len(common) / len(nbr[u] | nbr[v]), 6)
            scores[(u, v)] = (len(common), j)
    out = QUERIES["graph_jaccard_neighbors"](spark, SF).toPandas()
    assert len(out) == min(G.AA_TOP, len(scores))
    for r in out.to_dict("records"):
        key = (int(r["id_a"]), int(r["id_b"]))
        assert key in scores, key
        assert r["n_common"] == scores[key][0], key
        assert r["jaccard"] == pytest.approx(scores[key][1], abs=1e-6)
    top = sorted((s for _, s in scores.values()), reverse=True)[
        : len(out)
    ]
    assert sorted(out["jaccard"], reverse=True) == pytest.approx(top)


# ------------------------------------------------------------ rich club
def test_rich_club_matches_python_reference(spark, edges):
    deg: dict[int, int] = defaultdict(int)
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    got = {
        r["k"]: r for r in QUERIES["graph_rich_club"](spark, SF).collect()
    }
    assert set(got) == set(G.RICH_KS)
    prev_nodes = None
    for k in sorted(G.RICH_KS):
        nodes = {n for n, d in deg.items() if d > k}
        e_k = sum(1 for a, b in edges if a in nodes and b in nodes)
        r = got[k]
        assert r["n_nodes"] == len(nodes), k
        assert r["n_edges"] == e_k, k
        if len(nodes) > 1:
            phi = 2.0 * e_k / (len(nodes) * (len(nodes) - 1))
            assert r["rich_club_coeff"] == pytest.approx(
                phi, abs=2e-6
            ), k
            assert 0.0 <= r["rich_club_coeff"] <= 1.0
        else:
            assert r["rich_club_coeff"] is None
        if prev_nodes is not None:
            assert len(nodes) <= prev_nodes  # monotone shrinkage
        prev_nodes = len(nodes)
