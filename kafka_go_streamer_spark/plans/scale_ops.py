"""Scale-path operators: IVF-style ANN, document chunking, broadcast
enrichment, salted aggregation, and the approximate-sketch family.

These are the operators whose *point* is the 100 TB execution shape;
each docstring states the plan property that makes it survive scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.functions.vectors import cosine, cosine_sql
from kafka_go_streamer_spark.operators.ivf_store import (
    ensure_ivf_index,
    ensure_ivf_index_with_append,
    probe_ivf,
)
from kafka_go_streamer_spark.operators.kmeans import (
    _assign_sql,
    lloyd,
    lloyd_ctes,
    lloyd_sql,
)
from kafka_go_streamer_spark.plans.registry import query
from kafka_go_streamer_spark.sources.tables import load_table

#: IVF coarse quantizer: embeddings of these vec_ids act as the cell
#: centroids. Real centroid TRAINING is `kmeans_lloyd_refine` below
#: (operators/kmeans.py — full Lloyd iterations); fixed seeds here keep
#: the probe/search queries deterministic and oracle-checkable.
IVF_CENTROID_IDS = (1, 2, 3, 4)


def _ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = (
        emb.filter(F.col("vec_id").isin(*IVF_CENTROID_IDS))
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv"))
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "embedding",
        "cent_id",
        cosine(F.col("embedding"), F.col("cv")).alias("sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("cent_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "embedding", F.col("cent_id").alias("cell"))
    )


def _ivf_cells_sql() -> str:
    ids = ", ".join(str(i) for i in IVF_CENTROID_IDS)
    return f"""
    cents AS (
      SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
      WHERE vec_id IN ({ids})
    ),
    scored AS (
      SELECT e.vec_id, e.label, e.embedding, c.cent_id,
             {cosine_sql('e.embedding', 'c.cv')} AS sim
      FROM embeddings e CROSS JOIN cents c
    ),
    cells AS (
      SELECT vec_id, label, embedding, cent_id AS cell FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY sim DESC, cent_id ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    """


@query(
    "ann_ivf_cells",
    oracle=f"""
    WITH {_ivf_cells_sql()}
    SELECT cell, count(*) AS n FROM cells GROUP BY cell
    """,
)
def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid cell (broadcast centroids, one narrow pass + a per-row
    top-1 window).

    Scale: cells bound the ANN search space the same way LSH buckets
    do, but with data-adaptive regions; search cost becomes
    |cell| x query count instead of n x query count."""
    cells = _ivf_cells(spark, sf_dir)
    return cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))


@query(
    "ann_ivf_search",
    oracle=f"""
    WITH {_ivf_cells_sql()},
    q AS (SELECT embedding AS qv, cell AS qcell FROM cells WHERE vec_id = 0)
    SELECT c.vec_id, c.cell,
           round(({cosine_sql('c.embedding', 'q.qv')}), 6) AS cos_sim
    FROM cells c CROSS JOIN q
    WHERE c.cell = q.qcell AND c.vec_id <> 0
    ORDER BY cos_sim DESC, c.vec_id ASC
    LIMIT 5
    """,
)
def ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe: search only the query vector's cell (nprobe=1) for its
    top-5 neighbors — the approximate-but-bounded ANN query."""
    cells = _ivf_cells(spark, sf_dir)
    q = cells.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("cell").alias("qcell")
    )
    return (
        cells.crossJoin(F.broadcast(q))
        .filter((F.col("cell") == F.col("qcell")) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            "cell",
            stable_round(cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(5)
    )


CHUNK_SIZE = 200
CHUNK_STRIDE = 150


@query(
    "text_chunking",
    oracle=f"""
    SELECT doc_id, (k - 1)::INTEGER AS chunk_idx,
           substring(text, (k - 1) * {CHUNK_STRIDE} + 1, {CHUNK_SIZE}) AS chunk,
           length(substring(text, (k - 1) * {CHUNK_STRIDE} + 1, {CHUNK_SIZE}))::INTEGER AS chunk_len
    FROM documents,
         LATERAL (SELECT unnest(range(1, greatest(
           ceil((length(text) - {CHUNK_SIZE}) * 1.0 / {CHUNK_STRIDE})::BIGINT + 1, 1) + 1)) AS k)
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking (size {CHUNK_SIZE}, stride
    {CHUNK_STRIDE}) — the context-window prep step of a training
    pipeline, as a pure builtin explode (sequence + substring), no UDTF
    needed. Narrow: rows multiply by ~len/stride with zero shuffles."""
    d = load_table(spark, sf_dir, "documents")
    n_chunks = F.greatest(
        F.ceil((F.length("text") - CHUNK_SIZE) / CHUNK_STRIDE).cast("int") + 1,
        F.lit(1),
    )
    return (
        d.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.substring(
                F.col("text"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_SIZE
            ).alias("chunk"),
        )
        .withColumn("chunk_len", F.length("chunk"))
    )


@query(
    "join_enrich_events_broadcast",
    oracle="""
    SELECT e.event_id, e.event_type, c.c_mktsegment,
           round((e.value), 2) AS value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type IN ('purchase', 'signup')
    """,
)
def join_enrich_events_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-enrichment join: events against a broadcast dimension —
    the routing-table-as-DataFrame pattern. In streaming form this is a
    stream-static join; broadcast means zero shuffle of the stream."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "signup")
    )
    cust = F.broadcast(load_table(spark, sf_dir, "customer"))
    return ev.join(cust, ev.user_id == cust.c_custkey).select(
        "event_id",
        "event_type",
        "c_mktsegment",
        stable_round(F.col("value"), 2).alias("value"),
    )


@query(
    "agg_salted_hot_key",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM events
    GROUP BY event_type
    """,
)
def agg_salted_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation: pre-aggregate on (key, salt) then
    merge per key. The result is identical to a plain groupBy (the
    oracle IS the plain groupBy); the shape is the manual skew-defense
    when one key dominates and AQE skew handling isn't available —
    partial volume per reducer is bounded by 1/SALT of the hot key."""
    SALT = 16
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(SALT)))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("pn"), F.sum("value").alias("pv")
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        stable_round(F.sum("pv"), 2).alias("total"),
    )


@query(
    "agg_approx_sketches",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey)::BIGINT AS exact_parts,
           round(quantile_cont(l_extendedprice, 0.5), 2) AS p50_exact,
           round(quantile_cont(l_extendedprice, 0.99), 2) AS p99_exact,
           TRUE AS parts_within_5pct,
           TRUE AS p50_within_5pct,
           TRUE AS p99_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketch family — HyperLogLog distinct + quantile
    sketch percentiles. THE scale path for distincts/quantiles
    (constant memory, no sort, mergeable partials).

    Sketch INTERNALS differ per engine, so raw sketch outputs can't
    hash-match an oracle. The checkable contract instead: the query
    emits the EXACT values (hash-compared against DuckDB's exact
    distinct/quantile_cont) plus boolean bounded-error flags
    ``|approx - exact| / exact < 0.05`` that the oracle pins to TRUE —
    a sketch drifting out of tolerance flips a flag and fails the hash
    match. HLL runs at rsd=0.01, so the 5%% gate is 5 sigma; the
    quantile sketch at accuracy=10000 has rank error n/10000. (The
    exact aggregates exist only to audit the sketches at test scale —
    production uses the sketch columns alone.)"""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", 0.01).alias("_approx_parts"),
        F.percentile("l_extendedprice", 0.5).alias("_p50"),
        F.percentile("l_extendedprice", 0.99).alias("_p99"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("_ap50"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("_ap99"),
    )

    def within(approx: str, exact: str) -> F.Column:
        return (
            F.abs(F.col(approx) - F.col(exact)) / F.col(exact) < 0.05
        )

    return agg.select(
        "l_returnflag",
        F.col("exact_parts").cast("long").alias("exact_parts"),
        stable_round(F.col("_p50"), 2).alias("p50_exact"),
        stable_round(F.col("_p99"), 2).alias("p99_exact"),
        within("_approx_parts", "exact_parts").alias("parts_within_5pct"),
        within("_ap50", "_p50").alias("p50_within_5pct"),
        within("_ap99", "_p99").alias("p99_within_5pct"),
    )


@query(
    "kmeans_lloyd_refine",
    oracle=lloyd_sql("embeddings", k=8, iters=2),
)
def kmeans_lloyd_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL k-means training: 2 full Lloyd iterations (assign ->
    recompute centroids -> reassign) from deterministic first-k seeds,
    returning the final per-vector assignment — the IVF coarse-quantizer
    training step the fixed-seed IVF queries stand in for.

    Scale shape (operators/kmeans.py): corpus exploded once and pinned,
    centroids k x dims broadcast per iteration, distances accumulate via
    position join + hash aggregate (rows x k x dims, never all-pairs,
    never a collect), argmin via per-vector window with (d2, cid)
    tiebreak. Centroid means and distances are rounded at every
    iteration boundary so both engines feed identical centroids into the
    next assignment regardless of FP summation order."""
    return lloyd(load_table(spark, sf_dir, "embeddings"), k=8, iters=2)


def _trained_probe_sql() -> str:
    ctes, final = lloyd_ctes("embeddings", "(SELECT k FROM kk)", iters=2)
    joined_ctes = ",\n    ".join(ctes)
    return f"""
    WITH kk AS (SELECT ceil(sqrt(count(*)))::BIGINT AS k FROM embeddings),
    {joined_ctes},
    cells AS (
      SELECT a.vec_id, a.cid AS cell, e.embedding
      FROM ({final}) a JOIN embeddings e USING (vec_id)
    ),
    q AS (SELECT embedding AS qv, cell AS qcell FROM cells WHERE vec_id = 0)
    SELECT c.vec_id, c.cell,
           round(({cosine_sql('c.embedding', 'q.qv')}), 6) AS cos_sim
    FROM cells c CROSS JOIN q
    WHERE c.cell = q.qcell AND c.vec_id <> 0
    ORDER BY cos_sim DESC, c.vec_id ASC
    LIMIT 5
    """


@query("ann_ivf_search_trained", oracle=_trained_probe_sql())
def ann_ivf_search_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe over TRAINED centroids with data-derived k — the query
    that supersedes the fixed ``IVF_CENTROID_IDS`` stand-in for search
    (those stay as deterministic regression anchors). k = ceil(sqrt(n))
    cells come out of 2 full Lloyd iterations (operators/kmeans.py), so
    an nprobe=1 probe touches ~n/k = sqrt(n) of the corpus instead of
    the fixed-seed path's n/4 — real IVF behavior: at 10^9 vectors a
    probe scans ~31k vectors, not 250M.

    Scale shape: training is the Lloyd pipeline (corpus exploded once
    and pinned, k x dims centroids broadcast per iteration, no
    driver-side collect — k itself is a 1-row broadcast, not an
    action); the probe is the query's own cell id broadcast against
    the assignment, top-5 via TakeOrderedAndProject."""
    emb = load_table(spark, sf_dir, "embeddings")
    k_df = emb.agg(F.ceil(F.sqrt(F.count(F.lit(1)))).alias("_k"))
    cells = lloyd(emb, iters=2, k_df=k_df).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    with_emb = emb.select("vec_id", "embedding").join(cells, "vec_id")
    q = with_emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("cell").alias("qcell")
    )
    return (
        with_emb.crossJoin(F.broadcast(q))
        .filter((F.col("cell") == F.col("qcell")) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            "cell",
            stable_round(cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(5)
    )


def _store_probe_sql() -> str:
    ctes, final = lloyd_ctes("embeddings", "(SELECT k FROM kk)", iters=2)
    joined_ctes = ",\n    ".join(ctes)
    return f"""
    WITH kk AS (SELECT ceil(sqrt(count(*)))::BIGINT AS k FROM embeddings),
    {joined_ctes},
    cells AS (
      SELECT a.vec_id, a.cid AS cell, e.embedding
      FROM ({final}) a JOIN embeddings e USING (vec_id)
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qlong AS (
      SELECT (generate_subscripts(embedding, 1) - 1)::INTEGER AS pos,
             unnest(embedding)::DOUBLE AS q
      FROM embeddings WHERE vec_id = 0
    ),
    qn AS (SELECT sqrt(sum(q * q)) AS qn FROM qlong),
    cellrank AS (
      SELECT c.cid,
             round(sum(c.c * ql.q)
                   / (sqrt(sum(c.c * c.c)) * (SELECT qn FROM qn)), 6)
               AS qsim
      FROM cent2 c JOIN qlong ql USING (pos)
      GROUP BY c.cid
    ),
    topcells AS (
      SELECT cid AS cell FROM cellrank WHERE qsim > -1.0
      ORDER BY qsim DESC, cid ASC LIMIT 2
    )
    SELECT cl.vec_id, cl.cell,
           round(({cosine_sql('cl.embedding', 'q.qv')}), 6) AS cos_sim
    FROM cells cl JOIN topcells USING (cell) CROSS JOIN q
    WHERE cl.vec_id <> 0
    ORDER BY cos_sim DESC, cl.vec_id ASC
    LIMIT 5
    """


@query("ann_ivf_store_probe", oracle=_store_probe_sql())
def ann_ivf_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search against the MATERIALIZED IVF index — the production
    offline-train / online-probe split the inline-training query
    (``ann_ivf_search_trained``) only documents. The first invocation
    per corpus pays Lloyd training ONCE and persists the artifact
    (operators/ivf_store.py: trained centroids + a cell-PARTITIONED
    vectors table); every later probe is pure online work: rank the k
    stored centroids against the query (k-row job), broadcast the top
    nprobe=2 cell ids into the partitioned store — dynamic partition
    pruning bounds the scan to those cells' directories — and take the
    cosine top-5 within them.

    This replaces the inline-training query in the bench headline: that
    path re-ran n·sqrt(n) training per invocation and measured x17 wall
    at x10 data (BENCH_SCALEUP r6); the probe's online cost is
    ~nprobe·sqrt(n) scoring rows. The query vector (vec_id 0) stays
    inside the plan — no driver collect anywhere (probe_ivf over a
    one-query panel).

    Oracle note: nprobe=2 probes the two best TRAINED cells by centroid
    cosine, so unlike the inline query (nprobe=1 on the query's own
    cell) the SQL twin ranks cells explicitly; both engines rank the
    ROUNDED centroid cosine with cid tiebreak."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = ensure_ivf_index(emb, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    return probe_ivf(
        spark, base, q, nprobe=2, topk=5, pool=F.col("vec_id") != 0
    ).select("vec_id", "cell", "cos_sim")


#: Held-out slice for the incremental-append store: vec_id % MOD == REM
#: arrives AFTER the offline build and is folded in through
#: append_to_ivf_index (assign to nearest STORED centroid, append into
#: the cell partitions) — never retrained on.
IVF_APPEND_MOD = 10
IVF_APPEND_REM = 7


def _store_append_probe_sql() -> str:
    m, r = IVF_APPEND_MOD, IVF_APPEND_REM
    # training runs on the densely RE-KEYED resident view (the holdout
    # punches holes below k in the raw id space, which would seed fewer
    # than k cells — kmeans.py seed_centroids' precondition); the store
    # keeps original ids, so the resident assignment is a separate
    # original-id pass against the trained cent2
    rekeyed = (
        f"(SELECT row_number() OVER (ORDER BY vec_id) - 1 AS vec_id, "
        f"embedding FROM embeddings WHERE vec_id % {m} <> {r})"
    )
    ctes, _final = lloyd_ctes(rekeyed, "(SELECT k FROM kk)", iters=2)
    joined_ctes = ",\n    ".join(ctes)
    return f"""
    WITH kk AS (
      SELECT ceil(sqrt(count(*)))::BIGINT AS k FROM embeddings
      WHERE vec_id % {m} <> {r}
    ),
    {joined_ctes},
    exres AS (
      SELECT vec_id,
             (generate_subscripts(embedding, 1) - 1)::INTEGER AS pos,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings WHERE vec_id % {m} <> {r}
    ),
    asgres AS ({_assign_sql('exres', 'cent2')}),
    exnew AS (
      SELECT vec_id,
             (generate_subscripts(embedding, 1) - 1)::INTEGER AS pos,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings WHERE vec_id % {m} = {r}
    ),
    asgnew AS ({_assign_sql('exnew', 'cent2')}),
    store AS (
      SELECT vec_id, cid AS cell FROM asgres
      UNION ALL
      SELECT vec_id, cid AS cell FROM asgnew
    ),
    cells AS (
      SELECT s.vec_id, s.cell, e.embedding
      FROM store s JOIN embeddings e USING (vec_id)
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qlong AS (
      SELECT (generate_subscripts(embedding, 1) - 1)::INTEGER AS pos,
             unnest(embedding)::DOUBLE AS q
      FROM embeddings WHERE vec_id = 0
    ),
    qn AS (SELECT sqrt(sum(q * q)) AS qn FROM qlong),
    cellrank AS (
      SELECT c.cid,
             round(sum(c.c * ql.q)
                   / (sqrt(sum(c.c * c.c)) * (SELECT qn FROM qn)), 6)
               AS qsim
      FROM cent2 c JOIN qlong ql USING (pos)
      GROUP BY c.cid
    ),
    topcells AS (
      SELECT cid AS cell FROM cellrank WHERE qsim > -1.0
      ORDER BY qsim DESC, cid ASC LIMIT 2
    ),
    scoredc AS (
      SELECT cl.vec_id, cl.cell::BIGINT AS cell,
             round(({cosine_sql('cl.embedding', 'q.qv')}), 6) AS cos_sim,
             CASE WHEN cl.vec_id % {m} = {r} THEN 1 ELSE 0 END
               AS is_appended
      FROM cells cl JOIN topcells USING (cell) CROSS JOIN q
      WHERE cl.vec_id <> 0
    )
    SELECT 'all' AS pool, vec_id, cell, cos_sim, is_appended FROM (
      SELECT * FROM scoredc ORDER BY cos_sim DESC, vec_id ASC LIMIT 5
    )
    UNION ALL
    SELECT 'appended' AS pool, vec_id, cell, cos_sim, is_appended FROM (
      SELECT * FROM scoredc WHERE is_appended = 1
      ORDER BY cos_sim DESC, vec_id ASC LIMIT 5
    )
    """


@query("ann_ivf_store_append_probe", oracle=_store_append_probe_sql)
def ann_ivf_store_append_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The index-MAINTENANCE half of the persisted-store split, in the
    oracle ledger: the quantizer trains offline on the resident corpus
    (vec_id % 10 != 7), the held-out 10% arrives later and folds in
    through ``append_to_ivf_index`` — assigned to its nearest STORED
    centroid and appended into the cell partitions, no retrain — and
    the online probe then serves top-5 over the merged store (plus the
    top-5 among appended vectors only, so the appended rows' cell
    assignments and scores are ALWAYS attested in the output, not just
    when one cracks the overall top-5).

    Scale: the append costs |new| x k assignment against broadcast
    centroids + one partitioned write — independent of resident index
    size; the probe is the same DPP-pruned online path as
    ``ann_ivf_store_probe``. Training seeds from a densely RE-KEYED
    resident view (raw resident ids have holdout holes below k, which
    would silently seed ~10% fewer cells); stored ids stay original.
    Oracle: Lloyd CTEs on the re-keyed resident, both slices assigned
    to cent2 via the same (d2, cid) argmin, probe replayed over the
    union.

    Reference parity: the reference holds no state between messages
    (main.go:348-367 consume->route->produce); this is north-star ANN
    serving machinery."""
    emb = load_table(spark, sf_dir, "embeddings")
    appended = F.col("vec_id") % IVF_APPEND_MOD == IVF_APPEND_REM
    base = ensure_ivf_index_with_append(
        emb.filter(~appended), emb.filter(appended), sf_dir
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    not_q = F.col("vec_id") != 0

    def tagged(pool, pool_name: str) -> DataFrame:
        return probe_ivf(spark, base, q, nprobe=2, topk=5, pool=pool).select(
            F.lit(pool_name).alias("pool"),
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            "cos_sim",
            F.when(appended, 1).otherwise(0).cast("int").alias(
                "is_appended"
            ),
        )

    full = tagged(not_q, "all")
    app_only = tagged(not_q & appended, "appended")
    return full.unionByName(app_only)


@query(
    "ann_ivf_multiprobe",
    oracle=f"""
    WITH {_ivf_cells_sql()},
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qc AS (
      SELECT cent_id AS qcell FROM (
        SELECT c.cent_id,
               round(({cosine_sql('c.cv', 'q.qv')}), 6) AS qsim
        FROM cents c CROSS JOIN q
      )
      ORDER BY qsim DESC, cent_id ASC LIMIT 2
    )
    SELECT c.vec_id, c.cell,
           round(({cosine_sql('c.embedding', 'q.qv')}), 6) AS cos_sim
    FROM cells c CROSS JOIN q JOIN qc ON c.cell = qc.qcell
    WHERE c.vec_id <> 0
    ORDER BY cos_sim DESC, c.vec_id ASC
    LIMIT 5
    """,
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF multi-probe (nprobe=2): rank the centroids against the query
    and search the TOP-2 cells — the standard recall knob when the
    nearest neighbor straddles a cell boundary (nprobe=1 misses it,
    full scan defeats IVF; nprobe trades a bounded 2/k of the corpus
    for most of the lost recall).

    Scale shape: centroid ranking is k broadcast rows; the probe is a
    broadcast semi-join of the corpus against 2 cell ids (partition
    pruning when cells are the storage partitioning); top-5 compiles to
    TakeOrderedAndProject. Cell ranking orders by the ROUNDED cosine +
    cent_id so both engines probe identical cells."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    cells = _ivf_cells(spark, sf_dir)
    cents = (
        emb.filter(F.col("vec_id").isin(*IVF_CENTROID_IDS))
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv"))
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    qc = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "cent_id",
            stable_round(cosine(F.col("cv"), F.col("qv")), 6).alias("qsim"),
        )
        .orderBy(F.col("qsim").desc(), F.col("cent_id").asc())
        .limit(2)
        .select(F.col("cent_id").alias("qcell"))
    )
    return (
        cells.crossJoin(F.broadcast(q))
        .join(F.broadcast(qc), cells.cell == F.col("qcell"))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "cell",
            stable_round(cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(5)
    )


@query(
    "join_salted_skew",
    oracle="""
    WITH dim AS (
      SELECT event_type, count(*) AS type_n, round(avg(value), 4) AS type_avg
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, d.type_n,
           round(e.value - d.type_avg, 4) AS value_vs_avg
    FROM events e JOIN dim d USING (event_type)
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted SKEW-JOIN shape: enrich a fact table on a low-cardinality,
    heavily skewed key (event_type: 5 values over the whole corpus)
    against a keyed dimension. A plain shuffle join on that key puts
    every hot key's rows through ONE reducer; the salted form fans the
    fact side across SALT sub-partitions (salt derived from the fact
    row) and replicates each dim row SALT times via an in-plan explode,
    joining on (key, salt) — per-reducer volume is bounded by 1/SALT of
    the hot key. The oracle is the plain join: salting must never
    change results.

    Demo honesty: at fixture scale Spark would happily broadcast this
    dim (and AQE's skew-join split is the config-level fix); the
    registered shape is the MANUAL pattern for when the dim exceeds
    broadcast size and the engine can't split (e.g. a forced
    shuffle-hash join). The shuffle-hash hint keeps the broadcast
    planner from silently erasing the demonstrated shape."""
    SALT = 8
    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("type_n"),
        stable_round(F.avg("value"), 4).alias("type_avg"),
    )
    dim_rep = dim.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1))).alias("_salt")
    )
    fact = ev.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(SALT)))
    return (
        fact.join(dim_rep.hint("shuffle_hash"), ["event_type", "_salt"])
        .select(
            "event_id",
            "event_type",
            "type_n",
            stable_round(F.col("value") - F.col("type_avg"), 4).alias(
                "value_vs_avg"
            ),
        )
    )
