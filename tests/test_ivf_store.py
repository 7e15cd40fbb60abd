"""The materialized IVF index: offline-train/online-probe equality with
the inline trained-search path, the physical properties that make the
artifact worth persisting — a cell-partitioned layout and dynamic
partition pruning on the probe — and the online loop around it:
streamed queries served by the batched probe, streamed vectors folded
in by the incremental append."""

from __future__ import annotations

import math
import os
import shutil

import pytest

from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.functions.vectors import cosine
from kafka_go_streamer_spark.operators.ivf_store import (
    append_to_ivf_index,
    build_ivf_index,
    centroids_path,
    ensure_ivf_index,
    ensure_ivf_index_with_append,
    probe_ivf,
    vectors_path,
)
from kafka_go_streamer_spark.operators.kmeans import (
    assign_nearest,
    explode_vectors,
    train_centroids,
)
from kafka_go_streamer_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


pytestmark = pytest.mark.slow


def _not_q0():
    """Probe pool that leaves query vector 0 out of its own answer."""
    return F.col("vec_id") != 0


def _load_emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def _panel(spark, ids):
    """(q_id, qv) query panel selected out of the corpus (in-plan)."""
    return _load_emb(spark).filter(F.col("vec_id").isin(*ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )


def _literal_panel(spark, rows):
    return spark.createDataFrame(rows, "q_id long, qv array<double>")


def _hits(df) -> dict[int, list[tuple]]:
    """q_id -> [(vec_id, cell, cos_sim)] in rank order."""
    out: dict[int, list[tuple]] = {}
    for r in sorted(df.collect(), key=lambda r: (r["q_id"], r["rk"])):
        out.setdefault(r["q_id"], []).append(
            (r["vec_id"], r["cell"], r["cos_sim"])
        )
    return out


def test_build_probe_matches_inline_computation(spark, tmp_path):
    """The probe over the PERSISTED index must return, for every query
    of a panel, exactly what the same construction computes inline
    from the trained assignment — round-tripping through parquet
    changes nothing, and batching queries changes no query's answer."""
    base = str(tmp_path / "ivf")
    emb = _load_emb(spark)
    build_ivf_index(emb, base)
    ids = [0, 7, 42]
    got = _hits(probe_ivf(spark, base, _panel(spark, ids), pool=_not_q0()))

    # inline twin: same centroids, same assignment, same probe math
    k = math.ceil(math.sqrt(emb.count()))
    ex = explode_vectors(emb).localCheckpoint(eager=True)
    cents = train_centroids(ex, k).localCheckpoint(eager=True)
    assigned = assign_nearest(ex, cents).select(
        "vec_id", F.col("cid").alias("cell")
    )
    with_cell = emb.join(assigned, "vec_id").localCheckpoint(eager=True)
    # rank cells INDEPENDENTLY of the probe under test: centroid cosine
    # vs the query computed from the trained long-form centroids in
    # plain python, so the cell-selection half of the probe is checked
    # against something that shares no code with it
    by_cid: dict[int, dict[int, float]] = {}
    for r in cents.collect():
        by_cid.setdefault(r["cid"], {})[r["pos"]] = r["c"]
    qvs = {
        r["q_id"]: [float(x) for x in r["qv"]]
        for r in _panel(spark, ids).collect()
    }
    assert set(got) == set(ids)
    for qid, qv in qvs.items():
        qn = math.sqrt(sum(v * v for v in qv))

        def _cell_cos(d: dict[int, float]) -> float:
            dotp = sum(c * qv[p] for p, c in d.items())
            cc = math.sqrt(sum(c * c for c in d.values()))
            return dotp / (cc * qn)

        ranked = sorted(
            by_cid, key=lambda cid: (-_cell_cos(by_cid[cid]), cid)
        )
        top_cells = set(ranked[:2])
        assert {cell for (_vid, cell, _sim) in got[qid]} <= top_cells
        q = _literal_panel(spark, [(qid, qv)]).select(
            F.col("qv").alias("qvec")
        )
        want = [
            (r["vec_id"], r["cell"], r["cos_sim"])
            for r in with_cell.filter(
                F.col("cell").isin(*top_cells) & _not_q0()
            )
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                "cell",
                stable_round(
                    cosine(F.col("embedding"), F.col("qvec")), 6
                ).alias("cos_sim"),
            )
            .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
            .limit(5)
            .collect()
        ]
        assert got[qid] == want, qid
        assert len(want) == 5


def test_vectors_layout_partitioned_by_cell(spark, tmp_path):
    """The store must be physically partitioned by cell (one directory
    per cell) — that layout IS the probe's I/O bound."""
    base = str(tmp_path / "ivf")
    emb = _load_emb(spark)
    build_ivf_index(emb, base)
    cell_dirs = [
        d for d in os.listdir(vectors_path(base)) if d.startswith("cell=")
    ]
    n_cells = (
        spark.read.parquet(vectors_path(base))
        .select("cell")
        .distinct()
        .count()
    )
    assert len(cell_dirs) == n_cells >= 2


def test_probe_plan_uses_dynamic_partition_pruning(spark, tmp_path):
    """The probed cell ids never leave the plan: the broadcast join on
    the partition column must compile to a dynamic-pruning subquery on
    the scan, so only the probed cells' files are read."""
    base = str(tmp_path / "ivf")
    build_ivf_index(_load_emb(spark), base)
    df = probe_ivf(spark, base, _panel(spark, [0]), pool=_not_q0())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_inplan_probe_matches_literal_probe(spark, tmp_path):
    """A panel selected inside the plan (the registered store queries)
    must be served exactly what a client-side literal panel carrying
    the same vector is served (the serving stream's batches), and both
    scans must be dynamically pruned."""
    base = str(tmp_path / "ivf")
    build_ivf_index(_load_emb(spark), base)
    in_plan = _panel(spark, [0])
    literal = _literal_panel(
        spark, [(0, [float(x) for x in in_plan.collect()[0]["qv"]])]
    )
    served = []
    for panel in (in_plan, literal):
        df = probe_ivf(spark, base, panel, pool=_not_q0())
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()
        served.append(_hits(df))
    assert served[0] == served[1]
    assert len(served[0][0]) == 5


def test_probe_drops_zero_norm_vectors(spark, tmp_path):
    """A zero-norm stored vector must never appear in a top-k (its
    cosine is NaN, which would otherwise sort above every real score),
    and a zero-norm query is served no rows while the other queries of
    its panel are still answered."""
    base = str(tmp_path / "ivf")
    rows = []
    for i in range(10):
        if i == 7:
            vec = [0.0, 0.0, 0.0, 0.0]
        else:
            vec = [float(i + 1), 1.0, 0.5 * i, 0.25]
        rows.append((i, vec))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )
    build_ivf_index(emb, base)
    panel = _literal_panel(
        spark,
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
        ],
    )
    got = probe_ivf(spark, base, panel, nprobe=10, topk=10).collect()
    assert {r["q_id"] for r in got} == {1, 3}
    assert 7 not in {r["vec_id"] for r in got}
    assert all(r["cos_sim"] == r["cos_sim"] for r in got)  # no NaN


def test_ensure_index_builds_once_and_detects_staleness(
    spark, tmp_path, monkeypatch
):
    """ensure_ivf_index: second call is a pure cache hit (the artifact
    is not rewritten); a changed source fingerprint triggers a rebuild."""
    monkeypatch.setenv("SPARK_GRAFT_IVF_DIR", str(tmp_path / "cache"))
    src = tmp_path / "corpus"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/embeddings.parquet", src / "embeddings.parquet")
    emb = spark.read.parquet(str(src / "embeddings.parquet"))

    base = ensure_ivf_index(emb, str(src))
    marker = os.path.join(vectors_path(base), "_SUCCESS")
    mtime = os.path.getmtime(marker)
    assert ensure_ivf_index(emb, str(src)) == base
    assert os.path.getmtime(marker) == mtime  # untouched: cache hit

    os.utime(src / "embeddings.parquet")  # fingerprint changes
    ensure_ivf_index(emb, str(src))
    assert os.path.getmtime(marker) > mtime  # rebuilt


def test_index_built_by_other_code_is_rebuilt(tmp_path):
    """The sidecar carries a digest of the build code: an index whose
    marker was stamped by other code (or before the digest existed) is
    rebuilt, and one stamped by this code is served as is."""
    import json

    from kafka_go_streamer_spark.operators.ivf_store import (
        _ensure_cached,
        _source_fingerprint,
    )

    src = tmp_path / "corpus"
    src.mkdir()
    (src / "embeddings.parquet").write_bytes(b"fixture")
    base = str(tmp_path / "index")
    for p in (centroids_path(base), vectors_path(base)):
        os.makedirs(p)
        open(os.path.join(p, "_SUCCESS"), "w").close()
    marker = os.path.join(base, "_fingerprint.json")
    fp = _source_fingerprint(str(src))
    builds = []
    stale_markers = (
        {k: v for k, v in fp.items() if k != "code"},
        {**fp, "code": "0" * 64},
    )
    for stale in stale_markers:
        with open(marker, "w") as f:
            json.dump(stale, f)
        _ensure_cached(base, _source_fingerprint(str(src)), lambda: builds.append(1))
        with open(marker) as f:
            assert json.load(f) == fp
    assert len(builds) == 2
    _ensure_cached(base, _source_fingerprint(str(src)), lambda: builds.append(1))
    assert len(builds) == 2  # stamped by this code: cache hit


def test_index_survives_session_boundary_sf01(spark, tmp_path, monkeypatch):
    """The production lifecycle contract: build the index once at
    sf0.1, then probe it from a FRESH session (new session state — no
    temp views, caches, or session confs from the build survive) and
    assert the probe still answers AND still compiles to a
    dynamically-pruned scan of the persisted store."""
    monkeypatch.setenv("SPARK_GRAFT_IVF_DIR", str(tmp_path / "cache"))
    sf_dir = "/root/testdata/sf0.1"
    emb = load_table(spark, sf_dir, "embeddings")
    base = ensure_ivf_index(emb, sf_dir)

    fresh = spark.newSession()
    qv = [
        float(x)
        for x in load_table(fresh, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .collect()[0]["embedding"]
    ]
    df = probe_ivf(fresh, base, _literal_panel(fresh, [(0, qv)]), pool=_not_q0())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    got = _hits(df)[0]
    assert len(got) == 5
    # scores are real cosines, best-first
    sims = [s for (_v, _c, s) in got]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_append_folds_new_vectors_into_stored_cells(spark, tmp_path):
    """Incremental append: new vectors must land in the cell their
    nearest STORED centroid defines (no retraining), the store must
    grow to the union, and a probe over the appended index must equal
    the same probe math computed inline over the full vector set with
    the stored quantizer."""
    base = str(tmp_path / "ivf")
    emb = _load_emb(spark)
    old = emb.filter(F.col("vec_id") < 300)
    new = emb.filter(F.col("vec_id") >= 300)
    build_ivf_index(old, base)
    append_to_ivf_index(spark, base, new)

    vecs = spark.read.parquet(vectors_path(base))
    assert vecs.count() == emb.count()

    # appended rows sit exactly where the stored quantizer puts them
    cents = spark.read.parquet(centroids_path(base))
    want_cells = {
        r["vec_id"]: r["cid"]
        for r in assign_nearest(explode_vectors(new), cents).collect()
    }
    got_cells = {
        r["vec_id"]: r["cell"]
        for r in vecs.filter(F.col("vec_id") >= 300).collect()
    }
    assert got_cells == want_cells

    # probe over the appended store == inline scoring of ALL vectors
    # restricted to the probed cells (same centroids, same math)
    got = _hits(probe_ivf(spark, base, _panel(spark, [0]), pool=_not_q0()))[0]
    top_cells = {cell for (_vid, cell, _sim) in got}
    all_cells = {
        r["vec_id"]: r["cid"]
        for r in assign_nearest(explode_vectors(emb), cents).collect()
    }
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    scored = (
        emb.filter(_not_q0())
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            stable_round(
                cosine(F.col("embedding"), F.col("qvec")), 6
            ).alias("cos_sim"),
        )
        .collect()
    )
    want = sorted(
        (
            (r["vec_id"], all_cells[r["vec_id"]], r["cos_sim"])
            for r in scored
            if all_cells[r["vec_id"]] in top_cells
        ),
        key=lambda t: (-t[2], t[0]),
    )[:5]
    assert got == want


def test_replayed_append_never_serves_duplicate_ids(spark, tmp_path):
    """At-least-once ingest defense: append the SAME batch twice (a
    replayed micro-batch) and the probe must still serve each vec_id
    at most once per query, with the same result as the single-append
    store — the dedup lives in the serving path, not the writer."""
    base = str(tmp_path / "ivf")
    emb = _load_emb(spark)
    old = emb.filter(F.col("vec_id") < 300)
    new = emb.filter(F.col("vec_id") >= 300)
    build_ivf_index(old, base)
    append_to_ivf_index(spark, base, new)
    panel = _panel(spark, [0, 350])
    before = _hits(probe_ivf(spark, base, panel))

    append_to_ivf_index(spark, base, new)  # the replay
    vecs = spark.read.parquet(vectors_path(base))
    assert vecs.count() > emb.count()  # store really does hold dups

    after = _hits(probe_ivf(spark, base, panel))
    assert after == before
    for hits in after.values():
        ids = [v for v, _, _ in hits]
        assert len(ids) == len(set(ids)) == 5


def test_ensure_with_append_builds_once_and_appends_once(
    spark, tmp_path, monkeypatch
):
    """The build+append pair must run exactly once per fingerprint: a
    second ensure call is a pure read (same file set, same row count —
    a re-run append would double the held-out slice), and the merged
    store holds resident + appended with appended rows assigned to
    stored cells."""
    monkeypatch.setenv("SPARK_GRAFT_IVF_DIR", str(tmp_path / "cache"))
    emb = _load_emb(spark)
    resident = emb.filter(F.col("vec_id") % 10 != 7)
    arriving = emb.filter(F.col("vec_id") % 10 == 7)
    base = ensure_ivf_index_with_append(resident, arriving, SF_DIR)
    vecs = spark.read.parquet(vectors_path(base))
    n_total = emb.count()
    assert vecs.count() == n_total
    # training re-keys the holdout-holed resident ids, so the quantizer
    # seeds the FULL k = ceil(sqrt(n_resident)) (Lloyd may drop a few
    # emptied cells, never ~10% of them as raw sparse-id seeding would)
    k = math.ceil(math.sqrt(resident.count()))
    n_cells = vecs.select("cell").distinct().count()
    assert n_cells > 0.95 * k, (n_cells, k)
    assert (
        vecs.filter(F.col("vec_id") % 10 == 7).count()
        == arriving.count()
    )
    files_before = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(vectors_path(base))
        for f in fs
    )
    base2 = ensure_ivf_index_with_append(resident, arriving, SF_DIR)
    assert base2 == base
    files_after = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(vectors_path(base))
        for f in fs
    )
    assert files_after == files_before
    assert spark.read.parquet(vectors_path(base)).count() == n_total


def test_probe_pool_restricts_candidates_not_cells(spark, tmp_path):
    """`pool=` filters the CANDIDATE set only: every returned id
    satisfies the predicate, and the probed cells (cell ranking) are
    unchanged — the pooled results are a subset of the unpooled
    candidate cells."""
    emb = _load_emb(spark)
    base = str(tmp_path / "ivf")
    build_ivf_index(emb, base)
    q = _panel(spark, [0])
    pooled = probe_ivf(
        spark, base, q, pool=_not_q0() & (F.col("vec_id") % 10 == 7)
    ).collect()
    assert pooled, "pool filter returned nothing"
    assert all(r["vec_id"] % 10 == 7 for r in pooled)
    full_cells = {
        r["cell"]
        for r in probe_ivf(spark, base, q, topk=1000, pool=_not_q0()).collect()
    }
    assert {r["cell"] for r in pooled} <= full_cells


# ------------------------------------------------------------ online loop


@pytest.fixture()
def index_base(spark, tmp_path):
    base = str(tmp_path / "ivf")
    build_ivf_index(_load_emb(spark), base)
    return base


def _staged_feed(feed, frames):
    """Write each frame as one parquet file under ``feed`` and return a
    ``promote(i)`` that publishes the i-th file to the stream source."""
    feed.mkdir()
    for i, df in enumerate(frames):
        df.coalesce(1).write.parquet(str(feed / f"_stage{i}"))

    def promote(i):
        src = next((feed / f"_stage{i}").glob("*.parquet"))
        shutil.copy(src, feed / f"{i}.parquet")

    return promote


def test_streaming_serving_matches_batch_probe(
    spark, index_base, tmp_path
):
    """Each streamed query vector is served exactly the batch probe's
    answer, however the queries are batched."""
    from kafka_go_streamer_spark.streaming.joins import serve_ann_stream

    ids_b1, ids_b2 = [0, 7], [42]
    feed = tmp_path / "queries"
    promote = _staged_feed(
        feed, [_panel(spark, ids_b1), _panel(spark, ids_b2)]
    )
    promote(0)
    schema = spark.read.parquet(str(feed / "_stage0")).schema
    stream = spark.readStream.schema(schema).parquet(
        str(feed) + "/*.parquet"
    )
    out = str(tmp_path / "results")
    q = serve_ann_stream(
        spark, index_base, stream, out, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        promote(1)
        q.processAllAvailable()
    finally:
        q.stop()

    got = _hits(spark.read.parquet(out))
    want = _hits(probe_ivf(spark, index_base, _panel(spark, ids_b1 + ids_b2)))
    assert got == want
    assert len(got) == 3  # all streamed queries answered


def test_streaming_ingest_matches_batch_append(spark, tmp_path):
    """Streaming index ingest (ingest_ann_stream) must leave the store
    in exactly the state a batch append leaves it in — same rows, same
    cell assignments — regardless of how the arrivals are batched."""
    from kafka_go_streamer_spark.streaming.joins import ingest_ann_stream

    emb = _load_emb(spark)
    old = emb.filter(F.col("vec_id") < 300)
    new1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    new2 = emb.filter(F.col("vec_id") >= 400)

    base_s = str(tmp_path / "ivf_stream")
    base_b = str(tmp_path / "ivf_batch")
    build_ivf_index(old, base_s)
    build_ivf_index(old, base_b)

    # batch reference: both arrivals appended directly
    append_to_ivf_index(spark, base_b, new1)
    append_to_ivf_index(spark, base_b, new2)

    # streaming: the same arrivals as two file-source micro-batches
    feed = tmp_path / "arrivals"
    promote = _staged_feed(feed, [new1, new2])
    promote(0)
    schema = spark.read.parquet(str(feed / "_stage0")).schema
    stream = spark.readStream.schema(schema).parquet(str(feed) + "/*.parquet")
    q = ingest_ann_stream(spark, base_s, stream, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        promote(1)
        q.processAllAvailable()
    finally:
        q.stop()

    def snapshot(base):
        return {
            (r["vec_id"], r["cell"])
            for r in spark.read.parquet(vectors_path(base)).collect()
        }

    assert snapshot(base_s) == snapshot(base_b)
    assert len(snapshot(base_s)) == emb.count()


def test_ingest_then_serve_closed_loop(spark, tmp_path):
    """The full online loop against ONE store: build offline, stream
    new vectors in (ingest_ann_stream), then stream queries against
    the same index (serve_ann_stream) — served answers must rank the
    freshly ingested vectors, proving ingest->probe visibility without
    any rebuild between."""
    from kafka_go_streamer_spark.streaming.joins import (
        ingest_ann_stream,
        serve_ann_stream,
    )

    emb = _load_emb(spark)
    base = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < 300), base)

    # ingest the remaining vectors as one micro-batch
    new = emb.filter(F.col("vec_id") >= 300)
    vfeed = tmp_path / "vfeed"
    _staged_feed(vfeed, [new])(0)
    vstream = spark.readStream.schema(new.schema).parquet(
        str(vfeed) + "/*.parquet"
    )
    qi = ingest_ann_stream(spark, base, vstream, str(tmp_path / "ickpt"))
    try:
        qi.processAllAvailable()
    finally:
        qi.stop()

    # serve queries against the now-appended store
    panel = _panel(spark, [0, 350])
    qfeed = tmp_path / "qfeed"
    _staged_feed(qfeed, [panel])(0)
    qstream = spark.readStream.schema(panel.schema).parquet(
        str(qfeed) + "/*.parquet"
    )
    out = str(tmp_path / "served")
    qs = serve_ann_stream(spark, base, qstream, out, str(tmp_path / "sckpt"))
    try:
        qs.processAllAvailable()
    finally:
        qs.stop()

    got = _hits(spark.read.parquet(out))
    assert got == _hits(probe_ivf(spark, base, panel))
    # the appended half is actually served: querying an ingested
    # vector's own embedding must surface ingested neighbors or itself
    assert any(vid >= 300 for (vid, _c, _s) in got[350])
