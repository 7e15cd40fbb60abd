"""Materialized IVF index: the offline-training / online-probe split.

``ann_ivf_search_trained`` (plans/scale_ops.py) trains its Lloyd
centroids inline so the whole path stays oracle-checkable in one
statement — but its docstring promises what production actually does:
train ONCE offline, persist the index, and serve probes against the
artifact. This module is that artifact:

* ``build_ivf_index`` — OFFLINE: k = ceil(sqrt(n)) centroids from two
  full Lloyd iterations (``operators/kmeans.train_centroids``),
  persisted as

  - ``{base}/centroids`` — the trained quantizer, (cid, pos, c) long
    form, k x dims rows (tiny: ~1M x 64 even at 10^12 vectors);
  - ``{base}/vectors``  — the corpus + its cell assignment, parquet
    PARTITIONED BY cell, so a probe's I/O is pruned to the probed
    cells' directories and never scans the other ~k-1/k of the data.

* ``append_to_ivf_index`` — INCREMENTAL: new vectors join the cell of
  their nearest stored centroid, no retrain.

* ``probe_ivf`` — ONLINE: one batched probe over a ``(q_id, qv)``
  panel of query vectors (a single query is a panel of one). It scores
  the k centroids against each query (k x |Q| rows, no corpus touch),
  takes each query's top ``nprobe`` cells, and joins them broadcast
  against the partitioned store. The cell ids stay INSIDE the plan (no
  driver collect): Spark's dynamic partition pruning turns the
  broadcast join on the partition column into runtime partition
  filters, which tests/test_ivf_store.py asserts on the physical plan.

The reference engine has no persistent state at all (its only sink is
Kafka, SURVEY.md §2.1 #11); this is storage-level machinery for the
north-star ANN family, verified by test equality against the inline
trained-search construction rather than a DuckDB twin (writes are not
queries).
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.functions.vectors import (
    cosine as vec_cosine,
    norm as vec_norm,
)
from kafka_go_streamer_spark.operators import kmeans
from kafka_go_streamer_spark.operators.kmeans import (
    assign_nearest,
    explode_vectors,
    train_centroids,
)


def centroids_path(base: str) -> str:
    return os.path.join(base, "centroids")


def vectors_path(base: str) -> str:
    return os.path.join(base, "vectors")


def default_index_base(sf_dir: str) -> str:
    """Deterministic per-corpus index location: one directory per source
    sf_dir under ``$SPARK_GRAFT_IVF_DIR`` (default: a tmp-dir cache).
    This is where the registered store-probe query persists its build so
    repeated probes — the online path — never pay training again."""
    root = os.environ.get("SPARK_GRAFT_IVF_DIR") or os.path.join(
        tempfile.gettempdir(), "kgs_ivf_store"
    )
    key = os.path.abspath(sf_dir).strip(os.sep).replace(os.sep, "_")
    return os.path.join(root, key)


def _build_digest() -> str:
    """sha256 of the index build code: this module and the Lloyd loop
    in ``operators/kmeans.py``. An index built by other code (a changed
    seeding, round count or cell re-keying) is not served."""
    h = hashlib.sha256()
    for path in (__file__, kmeans.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _source_fingerprint(sf_dir: str) -> dict:
    """Size+mtime of the embeddings fixture — enough to notice the
    driver regenerating testdata under an unchanged path — plus the
    digest of the code that builds the index."""
    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(path)
        fp = {"size": st.st_size, "mtime": int(st.st_mtime)}
    except OSError:
        fp = {"size": -1, "mtime": -1}
    return {**fp, "code": _build_digest()}


def _ensure_cached(base: str, fp: dict, build) -> str:
    """The shared build-once protocol: if both artifacts carry
    ``_SUCCESS`` and the fingerprint sidecar matches ``fp``, the call
    is a pure read; otherwise run ``build()`` (which must overwrite
    both artifacts from scratch — a crash mid-build leaves no valid
    marker, so the next call rebuilds cleanly) and stamp the marker."""
    marker = os.path.join(base, "_fingerprint.json")
    done = all(
        os.path.exists(os.path.join(p, "_SUCCESS"))
        for p in (centroids_path(base), vectors_path(base))
    )
    if done and os.path.exists(marker):
        try:
            if json.load(open(marker)) == fp:
                return base
        except (OSError, ValueError):
            pass
    build()
    os.makedirs(base, exist_ok=True)
    with open(marker, "w") as f:
        json.dump(fp, f)
    return base


def ensure_ivf_index(emb: DataFrame, sf_dir: str) -> str:
    """Build the IVF index for ``sf_dir`` exactly once (offline step),
    returning its base path. A fingerprint sidecar invalidates the cache
    if the source fixture or the build code changes; otherwise every
    later call is a pure read — the offline-train / online-probe split
    at the API level."""
    base = default_index_base(sf_dir)
    return _ensure_cached(
        base, _source_fingerprint(sf_dir), lambda: build_ivf_index(emb, base)
    )


def ensure_ivf_index_with_append(
    emb: DataFrame, new_emb: DataFrame, sf_dir: str
) -> str:
    """Build an index from ``emb`` and fold ``new_emb`` in through the
    INCREMENTAL path (``append_to_ivf_index``) exactly once, returning
    the base path — the ledger-facing twin of the offline-build /
    online-append split, on the same ``_ensure_cached`` protocol (a
    crash between build and append leaves no valid marker, so the next
    call rebuilds from scratch and can never double-append).

    ``emb`` is usually a holdout-filtered SUBSET of the corpus, whose
    id space has holes below k; seeding the quantizer from raw
    ``vec_id < k`` there would silently yield fewer than k cells
    (operators/kmeans.py seed_centroids' documented precondition), so
    training runs on a densely RE-KEYED view (row_number over vec_id)
    while the stored vectors keep their original ids — centroid cids
    are just labels."""

    def build() -> None:
        train = emb.withColumn(
            "vec_id",
            F.row_number().over(Window.orderBy("vec_id")) - 1,
        )
        build_ivf_index(emb, base, train_emb=train)
        append_to_ivf_index(new_emb.sparkSession, base, new_emb)

    base = default_index_base(sf_dir) + "_append"
    return _ensure_cached(base, _source_fingerprint(sf_dir), build)


def build_ivf_index(
    emb: DataFrame, base: str, train_emb: DataFrame | None = None
) -> None:
    """OFFLINE: train the quantizer (k = ceil(sqrt(n)), two Lloyd
    rounds) and persist the two index artifacts (see module docstring).
    The vectors table is written partitioned by cell — the write
    shuffles once on the assignment, and every later probe prunes to
    its cells' files. ``train_emb`` optionally substitutes the TRAINING
    view (e.g. a densely re-keyed copy when ``emb``'s id space has
    holes below k — seeding draws from ``vec_id < k``); the stored
    vectors always come from ``emb``."""
    train = emb if train_emb is None else train_emb
    k_df = train.agg(F.ceil(F.sqrt(F.count(F.lit(1)))).alias("_k"))
    ex = explode_vectors(train).localCheckpoint(eager=True)
    cents = train_centroids(ex, iters=2, k_df=k_df)
    cents.write.mode("overwrite").parquet(centroids_path(base))
    _write_cells(emb, cents, base, "overwrite")


def append_to_ivf_index(
    spark: SparkSession, base: str, new_emb: DataFrame
) -> None:
    """INCREMENTAL: fold new vectors into an existing index WITHOUT
    retraining — assign each new vector to its nearest STORED centroid
    and append into the cell-partitioned vectors table. This is the
    index-maintenance half of the offline/online split: the quantizer
    is retrained on the offline cadence (build_ivf_index), while fresh
    corpus arrivals stream in between retrains through this path, each
    append touching only the cell directories its vectors land in.

    Cost per append: |new| x k assignment work against the broadcast
    centroid table + one partitioned write of |new| rows — independent
    of the resident index size. Probes see appended vectors
    immediately (the partition listing picks up the new files); cell
    balance degrades only as far as the data drifts from the trained
    quantizer, which is the usual signal to schedule a retrain."""
    cents = spark.read.parquet(centroids_path(base))
    _write_cells(new_emb, cents, base, "append")


def _write_cells(
    emb: DataFrame, cents: DataFrame, base: str, mode: str
) -> None:
    """``emb`` plus its nearest-centroid ``cell``, written into the
    cell-partitioned vectors table."""
    assigned = assign_nearest(explode_vectors(emb), cents).select(
        "vec_id", F.col("cid").alias("cell")
    )
    (
        emb.join(assigned, "vec_id")
        .write.mode(mode)
        .partitionBy("cell")
        .parquet(vectors_path(base))
    )


def probe_ivf(
    spark: SparkSession,
    base: str,
    queries: DataFrame,
    nprobe: int = 2,
    topk: int = 5,
    pool=None,
) -> DataFrame:
    """ONLINE probe of a ``(q_id, qv)`` panel against a persisted index:
    ``(q_id, vec_id, cell, cos_sim, rk)``, each query's cosine top-k.

    Centroid ranking is k x |Q| rows (a per-q_id window picks each
    query's top-``nprobe`` cells); the (q_id, cell) pairs broadcast
    into the cell-partitioned store, where dynamic partition pruning
    bounds the scan to the probed cells; the per-query top-k is a
    window over candidates only. Per-call cost is |Q| x (k + nprobe
    cells), never the corpus, and the panel may be a literal frame or
    a selection inside the caller's plan.

    ``pool`` restricts the CANDIDATE vectors (e.g. ``vec_id != 0`` to
    leave the query out, or appended-only); cells are still ranked over
    the full stored quantizer. Zero-norm queries produce no rows;
    zero-norm stored vectors are dropped before the cosine (NaN would
    sort above every real score)."""
    q_long = queries.select(
        "q_id",
        F.posexplode(F.col("qv").cast("array<double>")).alias("pos", "q"),
    )
    qn = q_long.groupBy("q_id").agg(
        F.sqrt(F.sum(F.col("q") * F.col("q"))).alias("qn")
    )

    cents = spark.read.parquet(centroids_path(base))
    scored = (
        cents.join(F.broadcast(q_long), "pos")
        .groupBy("q_id", "cid")
        .agg(
            F.sum(F.col("c") * F.col("q")).alias("dot"),
            F.sum(F.col("c") * F.col("c")).alias("cc"),
        )
        .join(F.broadcast(qn.filter(F.col("qn") > 0)), "q_id")
        .select(
            "q_id",
            "cid",
            stable_round(
                F.col("dot") / (F.sqrt("cc") * F.col("qn")), 6
            ).alias("qsim"),
        )
    )
    cw = Window.partitionBy("q_id").orderBy(
        F.col("qsim").desc(), F.col("cid").asc()
    )
    top_cells = (
        scored.withColumn("_rk", F.row_number().over(cw))
        .filter(F.col("_rk") <= nprobe)
        .select("q_id", F.col("cid").alias("cell"))
    )

    vecs = spark.read.parquet(vectors_path(base))
    if pool is not None:
        vecs = vecs.filter(pool)
    cand = (
        vecs.join(F.broadcast(top_cells), "cell")
        .join(F.broadcast(queries), "q_id")
        .filter(vec_norm(F.col("embedding")) > 0)
        .select(
            "q_id",
            "vec_id",
            "cell",
            stable_round(
                vec_cosine(F.col("embedding"), F.col("qv")), 6
            ).alias("cos_sim"),
        )
    )
    # serve-side dedup by (q_id, vec_id): the streaming ingest path is
    # at-least-once, so a replayed micro-batch can leave the same
    # vector in the store twice — keep each vec_id's best-scoring row
    # so replays never surface duplicate ids in a top-k
    ddw = Window.partitionBy("q_id", "vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("cell").asc()
    )
    cand = (
        cand.withColumn("_dd", F.row_number().over(ddw))
        .filter(F.col("_dd") == 1)
        .drop("_dd")
    )
    kw = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("_rk", F.row_number().over(kw))
        .filter(F.col("_rk") <= topk)
        .select("q_id", "vec_id", "cell", "cos_sim", F.col("_rk").alias("rk"))
    )
