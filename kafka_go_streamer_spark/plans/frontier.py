"""Round-15 frontier wave: operating-point sweeps and storage
economics the earlier families stopped short of.

Each query follows the house discipline: a Spark-first DataFrame plan
(broadcast dims, map-side-combined aggregates, no row-at-a-time UDFs,
TakeOrdered over global sorts), a DuckDB oracle twin computing the
same values by independent construction (same column aliases,
``stable_round``/``round`` before any comparison or binning), and
deterministic integer/6dp arithmetic wherever engines could drift.

Reference relation: the reference engine (a Kafka content router,
main.go:315-377) has none of this machinery; these queries price and
tune the ENGINE's own operators (IVF store, greedy packer, compaction
rewriter, temperature sampler) the way its config prices routing
rules — they are the dashboard a 100 TB operator reads before
committing a knob setting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.hashing import md5_60
from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.plans.registry import query
from kafka_go_streamer_spark.sources.tables import load_table

# --------------------------------------------------------------- constants

#: Simulated streaming-sink layout for the compaction costing: one file
#: per (epoch, writer task). The fixture corpus carries no file lineage,
#: so the layout is derived deterministically from doc_id — the shape a
#: 16-writer sink checkpointing every SINK_EPOCH_SPAN docs would leave.
N_SINK_WRITERS = 16
SINK_EPOCH_SPAN = 500

#: Per-row storage overhead (bytes) on top of the text payload —
#: encoding/dictionary/offset cost, the same accounting constant family
#: the multimodal container queries use.
ROW_STORE_OVERHEAD = 64

#: Compaction target file sizes (bytes) to price: 64 KB / 256 KB / 1 MB
#: (test-scale stand-ins for the 128 MB - 1 GB object-store sweet spot;
#: operators/compaction.py DEFAULT_TARGET_BYTES).
COMPACT_TARGET_BYTES = (65536, 262144, 1048576)

#: Packing-shard spans to price (docs per (source, shard) group);
#: brackets the deployed PACK_SHARD_SPAN = 1000.
SPAN_GRID = (250, 1000, 4000)

#: Sampling temperatures to sweep (alpha exponents on source mass);
#: brackets the deployed MIX_ALPHA = 0.7 with the no-flattening anchor.
ALPHA_GRID = (0.5, 0.7, 1.0)


# ------------------------------------------- storage_compaction_economics
def _compaction_sql() -> str:
    blocks = []
    for t in COMPACT_TARGET_BYTES:
        blocks.append(f"""
      SELECT {t} AS target_bytes,
             max(tot.n_files) AS n_files_before,
             max(tot.total_bytes) AS total_bytes,
             ((max(tot.total_bytes) + {t} - 1) // {t})::BIGINT
               AS n_files_after,
             sum(CASE WHEN f.file_bytes < {t} THEN 1 ELSE 0 END)::BIGINT
               AS n_small_before,
             round(max(tot.n_files) * 1.0 /
                   ((max(tot.total_bytes) + {t} - 1) // {t}), 2)
               AS scan_amplification
      FROM files f CROSS JOIN tot""")
    body = "\n      UNION ALL".join(blocks)
    return f"""
    WITH files AS (
      SELECT doc_id // {SINK_EPOCH_SPAN} AS epoch,
             doc_id % {N_SINK_WRITERS} AS writer,
             sum(octet_length(encode(text)) + {ROW_STORE_OVERHEAD})
               AS file_bytes
      FROM documents GROUP BY 1, 2
    ),
    tot AS (
      SELECT count(*)::BIGINT AS n_files,
             sum(file_bytes)::BIGINT AS total_bytes
      FROM files
    )
    {body}
    """


@query("storage_compaction_economics", oracle=_compaction_sql)
def storage_compaction_economics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pricing table for the small-file compactor
    (operators/compaction.py): reconstruct the file layout a
    N_SINK_WRITERS-way streaming sink leaves (one file per
    (epoch, writer), epoch = doc_id div SINK_EPOCH_SPAN), then for
    each candidate target size report the rewrite's before/after file
    counts, how many input files sit under the target (the
    "small-file" population), and the scan amplification the rewrite
    removes (tasks-per-scan before / after — each parquet file costs
    at least one task plus a listing/footer round-trip). This is the
    table that decides whether the rewrite (it costs one full
    read+write of total_bytes) pays for itself.

    Scale: ONE aggregate builds the per-file frame (bounded by
    epochs × writers, metadata-sized — the file-listing a real
    compactor reads from the catalog for free); each target row is an
    aggregate over that tiny frame. Window-free, join-free; nothing
    rescans text."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    d = load_table(spark, sf_dir, "documents")
    # pinned: the per-file frame is epochs x writers rows (metadata-
    # sized) but costs a full corpus scan to build — every target row
    # re-aggregates it, so without the pin Catalyst would re-inline
    # the scan once per target
    files = pinned(
        d.groupBy(
            F.expr(f"doc_id div {SINK_EPOCH_SPAN}").alias("epoch"),
            (F.col("doc_id") % N_SINK_WRITERS).alias("writer"),
        ).agg(
            F.sum(F.octet_length("text") + ROW_STORE_OVERHEAD).alias(
                "file_bytes"
            )
        )
    )
    tot = files.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("file_bytes").cast("long").alias("total_bytes"),
    )
    out = None
    for t in COMPACT_TARGET_BYTES:
        after = F.expr(f"(total_bytes + {t} - 1) div {t}")
        row = (
            files.crossJoin(F.broadcast(tot))
            .agg(
                F.max("n_files").alias("n_files_before"),
                F.max("total_bytes").alias("total_bytes"),
                F.max(after).cast("long").alias("n_files_after"),
                F.sum(
                    F.when(F.col("file_bytes") < t, 1).otherwise(0)
                )
                .cast("long")
                .alias("n_small_before"),
            )
            .select(
                F.lit(t).cast("long").alias("target_bytes"),
                "n_files_before",
                "total_bytes",
                "n_files_after",
                "n_small_before",
                stable_round(
                    F.col("n_files_before")
                    * 1.0
                    / F.col("n_files_after"),
                    2,
                ).alias("scan_amplification"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------- sample_temperature_sweep
def _temperature_sweep_sql() -> str:
    from kafka_go_streamer_spark.plans.training_ops import MIX_TOTAL

    blocks = []
    for a in ALPHA_GRID:
        sw = (
            f"SELECT round(pow(sum(n_chars), {a}), 6) AS w "
            f"FROM documents GROUP BY source"
        )
        blocks.append(f"""
      SELECT {a} AS alpha,
             count(*)::BIGINT AS n_sources,
             sum(greatest(1, floor({MIX_TOTAL} * w / tw)))::BIGINT
               AS sum_quota,
             max(greatest(1, floor({MIX_TOTAL} * w / tw)))::BIGINT
               AS max_quota,
             sum(CASE WHEN floor({MIX_TOTAL} * w / tw) < 1
                      THEN 1 ELSE 0 END)::BIGINT AS n_at_floor,
             round(max(w) / max(tw), 6) AS top_share
      FROM ({sw})
      CROSS JOIN (SELECT sum(w) AS tw FROM ({sw}))""")
    body = "\n      UNION ALL".join(blocks)
    return body


@query("sample_temperature_sweep", oracle=_temperature_sweep_sql)
def sample_temperature_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The temperature knob's operating table: at alpha ∈ ALPHA_GRID
    (alpha = 1 is natural sampling, lower flattens), the per-source
    quota allocation the ``sample_temperature_mixture`` sampler would
    commit — total and max quota, how many sources only survive via
    the floor-of-1 guarantee, and the biggest source's mass share.
    Reading this row-by-row is how the canonical 0.7 gets justified
    (or overridden) for a given corpus instead of cargo-culted.

    Scale: one source-cardinality aggregate feeds every alpha (the
    weights are per-source scalars); each sweep row is arithmetic on
    that broadcast frame. Same 6dp-rounded pow() discipline as the
    deployed sampler — an unrounded weight an ulp from a quota
    boundary would flip integer quotas between engines."""
    from kafka_go_streamer_spark.operators.iterate import pinned
    from kafka_go_streamer_spark.plans.training_ops import MIX_TOTAL

    d = load_table(spark, sf_dir, "documents")
    # pinned: source-cardinality frame, one corpus scan shared by all
    # alpha rows instead of re-inlined per row
    mass = pinned(
        d.groupBy("source").agg(F.sum("n_chars").alias("n_chars"))
    )
    out = None
    for a in ALPHA_GRID:
        sw = mass.select(
            stable_round(F.pow(F.col("n_chars"), F.lit(a)), 6).alias("w")
        )
        tot = sw.agg(F.sum("w").alias("tw"))
        raw = F.floor(F.lit(MIX_TOTAL) * F.col("w") / F.col("tw"))
        quota = F.greatest(F.lit(1), raw)
        row = (
            sw.crossJoin(F.broadcast(tot))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_sources"),
                F.sum(quota).cast("long").alias("sum_quota"),
                F.max(quota).cast("long").alias("max_quota"),
                F.sum(F.when(raw < 1, 1).otherwise(0))
                .cast("long")
                .alias("n_at_floor"),
                stable_round(F.max("w") / F.max("tw"), 6).alias(
                    "top_share"
                ),
            )
            .select(
                F.lit(a).alias("alpha"),
                "n_sources",
                "sum_quota",
                "max_quota",
                "n_at_floor",
                "top_share",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ------------------------------------------ embedding_norm_profile_by_label
@query(
    "embedding_norm_profile_by_label",
    oracle="""
    WITH n AS (
      SELECT label,
             round(sqrt(list_dot_product(
               embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS nrm,
             len(embedding) AS dims
      FROM embeddings
    )
    SELECT label,
           count(*)::BIGINT AS n_vecs,
           max(dims)::INTEGER AS dims,
           round(avg(nrm), 6) AS mean_norm,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY nrm), 6)
             AS p50_norm,
           round(min(nrm), 6) AS min_norm,
           round(max(nrm), 6) AS max_norm
    FROM n GROUP BY 1
    """,
)
def embedding_norm_profile_by_label(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-norm health profile per label: count, dimensionality,
    and the norm distribution's mean/median/extremes. The drift
    detector every embedding pipeline needs — a model swap or a
    truncated-write bug shows up as a norm-scale shift or a near-zero
    tail long before retrieval quality metrics move, and per-label
    slicing localizes which partition of the corpus went bad.

    Scale: the norm is a JVM-side higher-order fold (functions/
    vectors.py — no UDF, pipelines inside codegen with the scan); one
    map-side-combinable aggregate onto the label domain. Norms are
    rounded at 6dp BEFORE the percentile so both engines interpolate
    identical quanta."""
    from kafka_go_streamer_spark.functions.vectors import norm

    e = load_table(spark, sf_dir, "embeddings")
    n = e.select(
        "label",
        stable_round(norm(F.col("embedding")), 6).alias("nrm"),
        F.size("embedding").alias("dims"),
    )
    return n.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.max("dims").cast("int").alias("dims"),
        stable_round(F.avg("nrm"), 6).alias("mean_norm"),
        stable_round(F.percentile("nrm", F.lit(0.5)), 6).alias(
            "p50_norm"
        ),
        stable_round(F.min("nrm"), 6).alias("min_norm"),
        stable_round(F.max("nrm"), 6).alias("max_norm"),
    )


# ---------------------------------------------- ann_ivf_operating_surface

#: The joint grid: every (nlist, nprobe) with nprobe <= nlist.
#: ``ann_nlist_tradeoff`` fixes nprobe=1 and sweeps nlist;
#: ``ann_nprobe_recall_curve`` fixes the partitioning and sweeps
#: nprobe; this is their product — the actual operating surface.
def _ivf_surface_pairs() -> tuple:
    from kafka_go_streamer_spark.plans.corpus_ops import NPROBE_SWEEP
    from kafka_go_streamer_spark.plans.fidelity import NLIST_GRID

    return tuple(
        (nl, np_)
        for nl in NLIST_GRID
        for np_ in NPROBE_SWEEP
        if np_ <= nl
    )


def _ivf_surface_sql() -> str:
    from kafka_go_streamer_spark.functions.vectors import cosine_sql
    from kafka_go_streamer_spark.plans.fidelity import NLIST_GRID
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    ctes = []
    for nl in NLIST_GRID:
        cent_ids = ", ".join(str(i) for i in range(1, nl + 1))
        ctes.append(f"""
    cents{nl} AS (
      SELECT vec_id AS cent_id, embedding AS cv
      FROM embeddings WHERE vec_id IN ({cent_ids})
    ),
    asg{nl} AS (
      SELECT vec_id, cent_id AS cell FROM (
        SELECT e.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round({cosine_sql('e.embedding', 'c.cv')}, 6)
                   DESC, c.cent_id ASC) AS rn
        FROM embeddings e CROSS JOIN cents{nl} c
      ) WHERE rn = 1
    ),
    cn{nl} AS (SELECT cell, count(*) AS cell_n FROM asg{nl} GROUP BY 1),
    qc{nl} AS (
      SELECT q.q_id, c.cent_id,
             row_number() OVER (PARTITION BY q.q_id
               ORDER BY round({cosine_sql('q.qv', 'c.cv')}, 6)
                 DESC, c.cent_id ASC) AS crank
      FROM qs q CROSS JOIN cents{nl} c
    )""")
    for nl, np_ in _ivf_surface_pairs():
        s = f"{nl}_{np_}"
        ctes.append(f"""
    top{s} AS (
      SELECT q_id, vec_id FROM (
        SELECT r.q_id, r.vec_id,
               row_number() OVER (PARTITION BY r.q_id
                 ORDER BY r.sim DESC, r.vec_id ASC) AS rn
        FROM scored r
        JOIN asg{nl} a ON a.vec_id = r.vec_id
        JOIN qc{nl} qc ON qc.q_id = r.q_id AND qc.cent_id = a.cell
                      AND qc.crank <= {np_}
      ) WHERE rn <= 10
    ),
    scan{s} AS (
      SELECT qc.q_id, sum(cn.cell_n) AS scanned
      FROM qc{nl} qc JOIN cn{nl} cn ON cn.cell = qc.cent_id
      WHERE qc.crank <= {np_} GROUP BY 1
    ),
    pq{s} AS (
      SELECT t.q_id,
             sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               / 10.0 AS recall
      FROM top{s} t
      LEFT JOIN gt g ON g.q_id = t.q_id AND g.vec_id = t.vec_id
      GROUP BY 1
    )""")
    body = "\n    UNION ALL".join(
        f"""
      SELECT {nl} AS nlist, {np_} AS nprobe,
             count(*)::BIGINT AS n_queries,
             round(avg(p.recall), 4) AS mean_recall_at_10,
             round(avg(s.scanned * 1.0 / nn.nn), 6) AS mean_scan_share
      FROM pq{nl}_{np_} p
      JOIN scan{nl}_{np_} s ON s.q_id = p.q_id
      CROSS JOIN (SELECT count(*) AS nn FROM embeddings) nn
      GROUP BY 1, 2"""
        for nl, np_ in _ivf_surface_pairs()
    )
    cte_body = ",".join(ctes)
    return f"""
    WITH qs AS (
      SELECT vec_id AS q_id, embedding AS qv
      FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < {PANEL_MAX_ID}
    ),
    scored AS (
      SELECT q.q_id, e.vec_id,
             round({cosine_sql('e.embedding', 'q.qv')}, 6) AS sim
      FROM embeddings e CROSS JOIN qs q
      WHERE e.vec_id <> q.q_id
    ),
    gt AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY sim DESC, vec_id ASC) AS rn
        FROM scored) WHERE rn <= 10
    ),{cte_body}
    {body}
    """


@query("ann_ivf_operating_surface", oracle=_ivf_surface_sql)
def ann_ivf_operating_surface(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The IVF index's full operating surface: recall@10 and scan
    share at every (nlist, nprobe) with nprobe ≤ nlist —
    ``ann_nlist_tradeoff`` (nprobe fixed at 1) ×
    ``ann_nprobe_recall_curve`` (partitioning fixed) joined into the
    one table an index build actually reads to pick its operating
    point. Probing is the real IVF rule: cells ranked by
    query-to-centroid similarity, top nprobe scanned; nprobe = nlist
    rows pin the exhaustive anchors (recall 1.0, scan share 1.0) by
    construction.

    Scale: panel ground truth and the query×corpus scores are
    computed ONCE and pinned (fixed panel, PANEL_MAX_ID hubness-cap
    discipline). The centroid sets are NESTED prefixes (ids 1..nl),
    so ONE broadcast corpus × max(nlist) cosine pass assigns every
    (vec, nlist) cell via prefix-restricted argmax — not one pass per
    nlist — and (nlist, nprobe) are DATA dimensions exploded onto the
    panel-sized rank frames, so the whole grid is one linear plan
    instead of |grid| unioned branches. The query-to-centroid rank
    frame is panel × nlist — broadcast everywhere it joins."""
    from kafka_go_streamer_spark.functions.vectors import cosine
    from kafka_go_streamer_spark.operators.iterate import pinned
    from kafka_go_streamer_spark.plans.fidelity import NLIST_GRID
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID
    from kafka_go_streamer_spark.sources.tables import fan_out

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < PANEL_MAX_ID)
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    scored = pinned(
        fan_out(emb)
        .crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            stable_round(
                cosine(F.col("embedding"), F.col("qv")), 6
            ).alias("sim"),
        )
    )
    wq = Window.partitionBy("q_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    gt = (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 10)
        .select(F.col("q_id").alias("gq_id"), F.col("vec_id").alias("gt_id"))
    )
    tot = emb.agg(F.count(F.lit(1)).alias("nn"))

    # ONE corpus x max-nlist cosine pass instead of one per nlist: the
    # centroid sets are NESTED prefixes (ids 1..nl), so per nl the cell
    # is the argmax restricted to cent_id <= nl — 3 pinned assignment
    # passes collapse to 1, and the 8-branch unioned grid plan becomes
    # a single linear plan with (nlist, nprobe) as data dimensions
    # (measured 6.4 s -> 2.7 s at sf0.1, identical rows).
    from kafka_go_streamer_spark.plans.corpus_ops import NPROBE_SWEEP

    max_nl = max(NLIST_GRID)
    cents = emb.filter(F.col("vec_id").isin(*range(1, max_nl + 1))).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
    )
    sims = (
        fan_out(emb)
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "cent_id",
            stable_round(
                cosine(F.col("embedding"), F.col("cv")), 6
            ).alias("sim_c"),
        )
    )
    assign_all = pinned(
        sims.groupBy("vec_id")
        .agg(
            *[
                F.max_by(
                    F.when(F.col("cent_id") <= nl, F.col("cent_id")),
                    F.when(
                        F.col("cent_id") <= nl,
                        F.struct(F.col("sim_c"), -F.col("cent_id")),
                    ),
                ).alias(f"cell_{nl}")
                for nl in NLIST_GRID
            ]
        )
        .select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(nl).alias("nlist"),
                            F.col(f"cell_{nl}").alias("cell"),
                        )
                        for nl in NLIST_GRID
                    ]
                )
            ).alias("nc"),
        )
        .select("vec_id", "nc.nlist", "nc.cell")
    )
    cell_n = (
        assign_all.groupBy("nlist", "cell")
        .agg(F.count(F.lit(1)).alias("cell_n"))
        .select(
            F.col("nlist").alias("cn_nlist"),
            F.col("cell").alias("cn_cell"),
            "cell_n",
        )
    )
    # panel x centroid ranks, nlist-tagged, then the nprobe dimension
    # exploded off the crank column. Renamed keys throughout: qc shares
    # lineage with scored/assign (all descend from emb), so unaliased
    # q_id/cell joins would resolve to one attribute (the r14 KLL-curve
    # trap).
    wc = Window.partitionBy("pq_id", "qnlist").orderBy(
        F.col("sim_qc").desc(), F.col("pcell").asc()
    )
    qc = (
        qs.crossJoin(F.broadcast(cents))
        .select(
            F.col("q_id").alias("pq_id"),
            F.col("cent_id").alias("pcell"),
            stable_round(cosine(F.col("qv"), F.col("cv")), 6).alias(
                "sim_qc"
            ),
        )
        .select(
            "pq_id",
            "pcell",
            "sim_qc",
            F.explode(
                F.array(*[F.lit(nl) for nl in NLIST_GRID])
            ).alias("qnlist"),
        )
        .filter(F.col("pcell") <= F.col("qnlist"))
        .withColumn("crank", F.row_number().over(wc))
    )
    probed = (
        qc.select(
            "pq_id",
            "qnlist",
            "pcell",
            "crank",
            F.explode(
                F.array(*[F.lit(p) for p in NPROBE_SWEEP])
            ).alias("qnprobe"),
        )
        .filter(
            (F.col("qnprobe") <= F.col("qnlist"))
            & (F.col("crank") <= F.col("qnprobe"))
        )
        .select("pq_id", "qnlist", "qnprobe", "pcell")
    )
    retrieved = (
        scored.join(assign_all, "vec_id")
        .join(
            F.broadcast(probed),
            (F.col("q_id") == F.col("pq_id"))
            & (F.col("cell") == F.col("pcell"))
            & (F.col("nlist") == F.col("qnlist")),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("q_id", "nlist", "qnprobe").orderBy(
                    F.col("sim").desc(), F.col("vec_id").asc()
                )
            ),
        )
        .filter(F.col("rn") <= 10)
    )
    perq = (
        retrieved.join(
            gt,
            (F.col("q_id") == F.col("gq_id"))
            & (F.col("vec_id") == F.col("gt_id")),
            "left",
        )
        .groupBy("q_id", "nlist", "qnprobe")
        .agg(
            (
                F.sum(F.when(F.col("gt_id").isNotNull(), 1).otherwise(0))
                / 10.0
            ).alias("recall")
        )
    )
    scan = (
        probed.join(
            F.broadcast(cell_n),
            (F.col("pcell") == F.col("cn_cell"))
            & (F.col("qnlist") == F.col("cn_nlist")),
        )
        .groupBy("pq_id", "qnlist", "qnprobe")
        .agg(F.sum("cell_n").alias("scanned"))
        .select(
            F.col("pq_id").alias("sq_id"),
            F.col("qnlist").alias("s_nlist"),
            F.col("qnprobe").alias("s_nprobe"),
            "scanned",
        )
    )
    return (
        perq.join(
            scan,
            (F.col("q_id") == F.col("sq_id"))
            & (F.col("nlist") == F.col("s_nlist"))
            & (F.col("qnprobe") == F.col("s_nprobe")),
        )
        .crossJoin(F.broadcast(tot))
        # a grid cell where NO query retrieves a candidate (degenerate
        # corpus: every probed cell holds only the query itself) never
        # forms a group here, exactly like the oracle's grouped row
        .groupBy(F.col("nlist"), F.col("qnprobe").alias("nprobe"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            stable_round(F.avg("recall"), 4).alias("mean_recall_at_10"),
            stable_round(
                F.avg(F.col("scanned") * 1.0 / F.col("nn")), 6
            ).alias("mean_scan_share"),
        )
        .select(
            F.col("nlist").cast("int").alias("nlist"),
            F.col("nprobe").cast("int").alias("nprobe"),
            "n_queries",
            "mean_recall_at_10",
            "mean_scan_share",
        )
        .filter(F.col("n_queries") > 0)
    )


# --------------------------------------------- pack_shard_span_sensitivity
def _span_sensitivity_sql() -> str:
    from kafka_go_streamer_spark.functions import text as X
    from kafka_go_streamer_spark.plans.training_ops import PACK_CAP

    blocks = []
    fans = []
    for span in SPAN_GRID:
        blocks.append(f"""
    toks{span} AS (
      SELECT doc_id, source, doc_id // {span} AS shard,
             {X.token_count_sql('text')} AS n_tokens,
             row_number() OVER (
               PARTITION BY source, doc_id // {span}
               ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed{span} AS (
      SELECT doc_id, source, shard, n_tokens, rn,
             0 AS seq_id, n_tokens AS fill
      FROM toks{span} WHERE rn = 1
      UNION ALL
      SELECT t.doc_id, t.source, t.shard, t.n_tokens, t.rn,
             CASE WHEN p.fill + t.n_tokens <= {PACK_CAP}
                  THEN p.seq_id ELSE p.seq_id + 1 END,
             CASE WHEN p.fill + t.n_tokens <= {PACK_CAP}
                  THEN p.fill + t.n_tokens ELSE t.n_tokens END
      FROM packed{span} p
      JOIN toks{span} t ON t.source = p.source AND t.shard = p.shard
                       AND t.rn = p.rn + 1
    ),
    seqs{span} AS (
      SELECT source, shard, seq_id,
             sum(n_tokens) AS real_toks, count(*) AS n_docs
      FROM packed{span} GROUP BY 1, 2, 3
    )""")
        fans.append(f"""
      SELECT {span} AS shard_span,
             (SELECT count(*) FROM (
                SELECT DISTINCT source, shard FROM seqs{span}))::BIGINT
               AS n_groups,
             count(*)::BIGINT AS n_sequences,
             sum(real_toks)::BIGINT AS real_tokens,
             sum(CASE WHEN real_toks <= {PACK_CAP}
                      THEN {PACK_CAP} - real_toks ELSE 0 END)::BIGINT
               AS pad_tokens,
             round(sum(CASE WHEN real_toks <= {PACK_CAP}
                            THEN {PACK_CAP} - real_toks ELSE 0 END) * 1.0
                   / (count(*) * {PACK_CAP}), 6) AS pad_share,
             round(sum(n_docs) * 1.0 / count(*), 4) AS mean_docs_per_seq
      FROM seqs{span}""")
    ctes = ",".join(blocks)
    body = "\n      UNION ALL".join(fans)
    return f"""
    WITH RECURSIVE {ctes.lstrip().lstrip(',')}
    {body}
    """


@query("pack_shard_span_sensitivity", oracle=_span_sensitivity_sql)
def pack_shard_span_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What the packing-shard span actually costs: the SAME greedy
    fold at shard spans bracketing the deployed PACK_SHARD_SPAN. The
    span is the parallelism/memory knob — smaller shards mean more,
    smaller groups (better balance, harder per-group overhead) but
    each shard boundary strands one under-filled sequence, so
    pad_share decays toward the single-shard optimum as the span
    grows. This table prices that trade alongside
    ``pack_cap_sweep``'s cap axis: together they justify (or move)
    both deployed constants.

    Scale: the span grid is NESTED (250 | 1000 | 4000), so every
    finer span's groups sit inside the coarsest span's groups — ONE
    hash exchange on the coarsest shard and ONE per-partition pandas
    pass fold all three spans (each group still folded by the
    identical pure ``pack_group``), replacing one
    exchange + mapInPandas per span (r16: 3 Python stages -> 1, 3
    shuffles of the triples -> 1; local wall neutral at sf0.1 —
    interleaved A/B 2.61 vs 2.75 s — because the tiny fixture is
    key-limited either way; the win is the per-span exchange+boundary
    crossing that scales with the corpus). Token counting stays
    JVM-side;
    everything after is one seqs-frame aggregate keyed by span. The
    oracle replays all three folds as recursive CTEs."""
    from kafka_go_streamer_spark.functions import text as X
    from kafka_go_streamer_spark.operators.iterate import pinned
    from kafka_go_streamer_spark.plans.training_ops import (
        PACK_CAP,
        PACK_SCHEMA,
        pack_group,
    )

    # pinned: the (id, source, tokens) triples are span-independent —
    # count tokens ONCE and share the narrow frame across the folds
    # instead of re-running the regex scan per span
    d = pinned(
        load_table(spark, sf_dir, "documents").select(
            "doc_id",
            "source",
            X.token_count(F.col("text")).alias("n_tokens"),
        )
    )
    spans = SPAN_GRID
    coarse = max(spans)
    src = d.withColumn(
        "shard", F.expr(f"doc_id div {coarse}")
    ).repartition("source", "shard")

    def per_partition(it):
        import pandas as pd

        frames = list(it)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        if pdf.empty:
            return
        for span in spans:
            sp = pdf.assign(shard=pdf["doc_id"] // span)
            for _, g in sp.groupby(["source", "shard"], sort=False):
                out = pack_group(g)
                yield out.assign(shard_span=span)

    packed = src.mapInPandas(
        per_partition, PACK_SCHEMA + ", shard_span bigint"
    )
    seqs = packed.groupBy("shard_span", "source", "shard", "seq_id").agg(
        F.sum("n_tokens").alias("real_toks"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    pad = F.when(
        F.col("real_toks") <= PACK_CAP,
        F.lit(PACK_CAP) - F.col("real_toks"),
    ).otherwise(0)
    return seqs.groupBy("shard_span").agg(
        F.countDistinct("source", "shard").cast("long").alias("n_groups"),
        F.count(F.lit(1)).cast("long").alias("n_sequences"),
        F.sum("real_toks").cast("long").alias("real_tokens"),
        F.sum(pad).cast("long").alias("pad_tokens"),
        stable_round(
            F.sum(pad) * 1.0 / (F.count(F.lit(1)) * PACK_CAP), 6
        ).alias("pad_share"),
        stable_round(
            F.sum("n_docs") * 1.0 / F.count(F.lit(1)), 4
        ).alias("mean_docs_per_seq"),
    )


#: Weak-link threshold for the transitive-merge audit: the similarity
#: the strict-mode dedup (`dedup_minhash_lsh_strict`) is tuned around.
WEAK_LINK_J = 0.5


# --------------------------------------------------- dedup_weak_link_audit
def _weak_link_sql() -> str:
    from kafka_go_streamer_spark.operators.dedup import minhash_lsh_pairs_sql

    pairs = minhash_lsh_pairs_sql(
        "documents", "doc_id", "text", min_intersection=2
    )
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    e(a, b) AS (
      SELECT id_a, id_b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, reach.r FROM e JOIN reach ON e.a = reach.id
    ),
    comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
    sizes AS (
      SELECT comp, count(*) AS sz FROM comp GROUP BY 1 HAVING count(*) >= 2
    ),
    percomp AS (
      SELECT c.comp, min(p.jaccard) AS min_j, count(*) AS n_edges
      FROM pairs p JOIN comp c ON c.id = p.id_a GROUP BY 1
    ),
    j AS (
      SELECT s.sz, pc.min_j
      FROM sizes s JOIN percomp pc ON pc.comp = s.comp
    )
    SELECT CASE WHEN sz = 2 THEN '2' WHEN sz <= 4 THEN '3-4'
                WHEN sz <= 8 THEN '5-8' ELSE '9+' END AS size_bucket,
           count(*)::BIGINT AS n_components,
           sum(CASE WHEN min_j < {WEAK_LINK_J} THEN 1 ELSE 0 END)::BIGINT
             AS n_weak_linked,
           round(sum(CASE WHEN min_j < {WEAK_LINK_J} THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS weak_share,
           min(min_j) AS min_jaccard
    FROM j GROUP BY 1
    """


@query("dedup_weak_link_audit", oracle=_weak_link_sql)
def dedup_weak_link_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-merge overreach in the dedup clusters: connected
    components chain A~B~C into one group even when A and C share
    nothing, so "keep one per cluster" can silently drop documents
    that are NOT near-duplicates of the kept canonical. Per
    component-size bucket: how many components contain at least one
    verified edge below WEAK_LINK_J — the clusters a chain-merge-aware
    dedup (or a higher band threshold) would split before dropping.

    Scale: rides the audited candidate path (capped-band equi-joins,
    exact-Jaccard verify) and the log-round graph contraction; the
    audit itself is two aggregates on the component frame (bounded by
    the duplicate population, ≪ corpus). The verified pair frame is
    PINNED once and shared by the contraction and the min-jaccard
    fold (unshared, the whole LSH pipeline — shingles, signatures,
    banding, verify join — executed twice); both aggregates only see
    components of size >= 2, so the contraction runs
    ``include_isolated=False`` — no full-corpus nodes scan, no
    anti-join — and the bounded label frame is pinned for its two
    consumers. Oracle: recursive-CTE closure + the same min-edge
    fold."""
    from kafka_go_streamer_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from kafka_go_streamer_spark.operators.iterate import pinned

    docs = load_table(spark, sf_dir, "documents")
    pairs = pinned(
        minhash_lsh_pairs(docs, "doc_id", "text", min_intersection=2)
    )
    comp = pinned(
        connected_components(
            docs.select(F.col("doc_id").alias("id")),
            pairs.select("id_a", "id_b"),
            include_isolated=False,
            # ADVICE r16 suggested skipping the contraction's own pin
            # (pairs is already pinned two lines up) — measured SLOWER
            # (+0.4-0.8 s at sf0.1, both A/B rounds): the pinned pairs
            # blocks carry jaccard + shingle columns, so every loop
            # re-read of the unpinned 2-column projection deserializes
            # the fat rows; the narrow e0 re-pin pays for itself.
        )
    )
    sizes = (
        comp.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") >= 2)
        .withColumnRenamed("comp", "scomp")
    )
    percomp = (
        pairs.join(
            comp.select(
                F.col("id").alias("id_a"), F.col("comp").alias("ecomp")
            ),
            "id_a",
        )
        .groupBy("ecomp")
        .agg(F.min("jaccard").alias("min_j"))
    )
    j = sizes.join(percomp, F.col("scomp") == F.col("ecomp"))
    bucket = (
        F.when(F.col("sz") == 2, "2")
        .when(F.col("sz") <= 4, "3-4")
        .when(F.col("sz") <= 8, "5-8")
        .otherwise("9+")
    )
    weak = F.when(F.col("min_j") < WEAK_LINK_J, 1).otherwise(0)
    return j.groupBy(bucket.alias("size_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_components"),
        F.sum(weak).cast("long").alias("n_weak_linked"),
        stable_round(F.sum(weak) * 1.0 / F.count(F.lit(1)), 6).alias(
            "weak_share"
        ),
        F.min("min_j").alias("min_jaccard"),
    )


# ------------------------------------------------ embedding_dimension_health
@query(
    "embedding_dimension_health",
    oracle="""
    WITH x AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings
    )
    SELECT dim,
           count(*)::BIGINT AS n,
           round(avg(v), 6) AS mean_v,
           round(avg(v * v) - avg(v) * avg(v), 6) AS var_v,
           round(min(v), 6) AS min_v,
           round(max(v), 6) AS max_v,
           sum(CASE WHEN abs(v) < 0.000001 THEN 1 ELSE 0 END)::BIGINT
             AS n_near_zero
    FROM x GROUP BY 1
    """,
)
def embedding_dimension_health(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension health of the embedding space: mean, population
    variance, range, and the near-zero count for every coordinate. A
    dead dimension (variance ~0) means wasted index width and a
    truncation/projection bug upstream; a runaway mean means the
    space isn't centered and cosine vs dot choices start to matter —
    both show up here before any retrieval metric moves.

    Scale: posexplode fans rows × dims (dims bounded at 64), then ONE
    map-side-combined aggregate on the dim key. Variance is the
    explicit two-moment formula on 6dp-rounded output — identical
    accumulation on both engines, no engine-specific Welford."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(F.posexplode("embedding").alias("dim", "v0")).select(
        "dim", F.col("v0").cast("double").alias("v")
    )
    return x.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        stable_round(F.avg("v"), 6).alias("mean_v"),
        stable_round(
            F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v"), 6
        ).alias("var_v"),
        stable_round(F.min("v"), 6).alias("min_v"),
        stable_round(F.max("v"), 6).alias("max_v"),
        F.sum(F.when(F.abs(F.col("v")) < 0.000001, 1).otherwise(0))
        .cast("long")
        .alias("n_near_zero"),
    )


# ------------------------------------------------ route_topic_payload_profile
def _payload_profile_sql() -> str:
    from kafka_go_streamer_spark.plans.routing_queries import _DOCS_CASE

    return f"""
    WITH routed AS (
      SELECT coalesce({_DOCS_CASE}, '__dropped__') AS topic,
             octet_length(encode(text)) AS vbytes
      FROM documents
    )
    SELECT topic,
           count(*)::BIGINT AS n,
           sum(vbytes)::BIGINT AS total_bytes,
           round(avg(vbytes), 2) AS mean_bytes,
           round(percentile_cont(0.95) WITHIN GROUP (ORDER BY vbytes), 2)
             AS p95_bytes,
           max(vbytes)::INTEGER AS max_bytes
    FROM routed GROUP BY 1
    """


@query("route_topic_payload_profile", oracle=_payload_profile_sql)
def route_topic_payload_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Producer-sizing table for the router's output topics: per topic
    (dead-letter and dropped buckets included), message count, total
    and mean payload bytes, p95 and max. This is what sizes the Kafka
    producer's batch/linger and the per-topic partition counts the
    reference's writer array fans into (main.go:371-377) — a topic
    taking 1% of messages but 40% of bytes needs different batching
    than its mirror image.

    Scale: the router's own single codegen'd case-when pass plus one
    map-side-combined aggregate onto the (tiny) topic domain."""
    from kafka_go_streamer_spark.plans.routing_queries import DOCS_SPLITER
    from kafka_go_streamer_spark.routing import route

    docs = load_table(spark, sf_dir, "documents")
    msgs = docs.select(F.col("text").alias("value"))
    routed = route(msgs, DOCS_SPLITER)
    return (
        routed.select(
            F.coalesce(F.col("topic"), F.lit("__dropped__")).alias("topic"),
            F.octet_length("value").alias("vbytes"),
        )
        .groupBy("topic")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("vbytes").cast("long").alias("total_bytes"),
            stable_round(F.avg("vbytes"), 2).alias("mean_bytes"),
            stable_round(
                F.percentile("vbytes", F.lit(0.95)), 2
            ).alias("p95_bytes"),
            F.max("vbytes").cast("int").alias("max_bytes"),
        )
    )


# --------------------------------------------- storage_column_encoding_planner

#: Columns of the documents table the encoding planner prices.
ENCODING_PLAN_COLUMNS = ("source", "lang", "text", "n_chars")


def _encoding_planner_sql() -> str:
    blocks = []
    for c in ENCODING_PLAN_COLUMNS:
        blocks.append(f"""
      SELECT '{c}' AS column_name,
             sum(cnt)::BIGINT AS n_rows,
             count(*)::BIGINT AS n_distinct,
             round(count(*) * 1.0 / sum(cnt), 6) AS distinct_share,
             round(max(cnt) * 1.0 / sum(cnt), 6) AS top1_share,
             CASE WHEN count(*) * 100 <= sum(cnt)
                       AND max(cnt) * 2 >= sum(cnt) THEN 'rle_dictionary'
                  WHEN count(*) * 10 <= sum(cnt) THEN 'dictionary'
                  ELSE 'plain' END AS encoding
      FROM (SELECT {c} AS v, count(*) AS cnt FROM documents GROUP BY 1)""")
    return "\n      UNION ALL".join(blocks)


@query("storage_column_encoding_planner", oracle=_encoding_planner_sql)
def storage_column_encoding_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parquet encoding recommendation per column: cardinality and
    top-value concentration decide dictionary vs RLE-on-dictionary vs
    plain — the writer knob that moves scan bytes more than any other
    for enum-like columns. Thresholds compare via integer
    cross-multiplication (distinct·100 ≤ rows, top1·2 ≥ rows), never a
    float ratio, so the recommendation can't flip between engines.

    Scale: one column-pruned scan + map-side-combined groupBy per
    priced column (the groupBy keys differ, so the scans can't fuse —
    each reads exactly one column); the verdict frame is
    |columns|-rows. At 100 TB the same pass runs on a sample or reads
    the existing files' footer statistics instead."""
    d = load_table(spark, sf_dir, "documents")
    out = None
    for c in ENCODING_PLAN_COLUMNS:
        g = d.groupBy(F.col(c).alias("v")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        row = g.agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.max("cnt").alias("top1"),
        ).select(
            F.lit(c).alias("column_name"),
            "n_rows",
            "n_distinct",
            stable_round(
                F.col("n_distinct") * 1.0 / F.col("n_rows"), 6
            ).alias("distinct_share"),
            stable_round(F.col("top1") * 1.0 / F.col("n_rows"), 6).alias(
                "top1_share"
            ),
            F.when(
                (F.col("n_distinct") * 100 <= F.col("n_rows"))
                & (F.col("top1") * 2 >= F.col("n_rows")),
                "rle_dictionary",
            )
            .when(F.col("n_distinct") * 10 <= F.col("n_rows"), "dictionary")
            .otherwise("plain")
            .alias("encoding"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ------------------------------------------ embedding_effective_dimensionality
@query(
    "embedding_effective_dimensionality",
    oracle="""
    WITH x AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings
    ),
    dv AS (
      SELECT label, dim,
             round(avg(v * v) - avg(v) * avg(v), 6) AS var_v
      FROM x GROUP BY 1, 2
    )
    SELECT label,
           count(*)::INTEGER AS n_dims,
           round(sum(var_v), 6) AS total_var,
           round(CASE WHEN sum(var_v * var_v) <> 0
                 THEN sum(var_v) * sum(var_v) / sum(var_v * var_v) END, 4)
             AS participation_ratio,
           round(CASE WHEN sum(var_v) <> 0
                 THEN max(var_v) / sum(var_v) END, 6) AS top1_var_share,
           sum(CASE WHEN var_v < 0.000001 THEN 1 ELSE 0 END)::BIGINT
             AS n_dead
    FROM dv GROUP BY 1
    """,
)
def embedding_effective_dimensionality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How many dimensions each label's embeddings ACTUALLY use: the
    participation ratio (Σv)²/Σv² of the per-dimension variances — 64
    when variance spreads evenly, 1 when a single axis carries
    everything — plus the top axis' variance share and the dead-axis
    count. The axis-aligned effective-rank proxy that says whether an
    IVF/PQ index gets its money's worth from the declared width, per
    label slice (a collapsed label = a degenerate encoder head).

    Scale: bounded posexplode (rows × 64) into one (label, dim)
    map-side aggregate, then a label-domain rollup of the 6dp-rounded
    variances — both engines fold identical quanta, no
    eigendecomposition anywhere."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "label", F.posexplode("embedding").alias("dim", "v0")
    ).select("label", "dim", F.col("v0").cast("double").alias("v"))
    dv = x.groupBy("label", "dim").agg(
        stable_round(
            F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v"), 6
        ).alias("var_v")
    )
    return dv.groupBy("label").agg(
        F.count(F.lit(1)).cast("int").alias("n_dims"),
        stable_round(F.sum("var_v"), 6).alias("total_var"),
        # denominator guards: a label whose every 6dp-rounded variance
        # is zero has sum == 0; Spark's non-ANSI divide yields NULL but
        # DuckDB float division yields inf/NaN — both engines must emit
        # NULL for the degenerate constant-vector label
        F.when(
            F.sum(F.col("var_v") * F.col("var_v")) != 0,
            stable_round(
                F.sum("var_v")
                * F.sum("var_v")
                / F.sum(F.col("var_v") * F.col("var_v")),
                4,
            ),
        ).alias("participation_ratio"),
        F.when(
            F.sum("var_v") != 0,
            stable_round(F.max("var_v") / F.sum("var_v"), 6),
        ).alias("top1_var_share"),
        F.sum(F.when(F.col("var_v") < 0.000001, 1).otherwise(0))
        .cast("long")
        .alias("n_dead"),
    )


# -------------------------------------------- pipeline_dedup_order_sensitivity
def _order_sensitivity_sql() -> str:
    from kafka_go_streamer_spark.functions import text as X
    from kafka_go_streamer_spark.operators.dedup import minhash_lsh_pairs_sql
    from kafka_go_streamer_spark.plans.text import (
        PREP_LANG,
        PREP_MIN_ALPHA,
        PREP_MIN_WORDS,
    )

    gate = (
        f"{X.word_count_sql('text')} >= {PREP_MIN_WORDS} "
        f"AND {X.alpha_ratio_sql('text')} > {PREP_MIN_ALPHA} "
        f"AND {X.lang_id_sql('text')} = '{PREP_LANG}'"
    )
    pa = minhash_lsh_pairs_sql("gated", "doc_id", "text", min_intersection=2)
    pb = minhash_lsh_pairs_sql(
        "documents", "doc_id", "text", min_intersection=2
    )
    return f"""
    WITH RECURSIVE gated AS (
      SELECT doc_id, source, text FROM documents WHERE {gate}
    ),
    pa AS ({pa}),
    ea(a, b) AS (
      SELECT id_a, id_b FROM pa UNION ALL SELECT id_b, id_a FROM pa
    ),
    reacha(id, r) AS (
      SELECT doc_id, doc_id FROM gated
      UNION
      SELECT ea.b, reacha.r FROM ea JOIN reacha ON ea.a = reacha.id
    ),
    kept_a AS (
      SELECT id FROM (SELECT id, min(r) AS comp FROM reacha GROUP BY id)
      WHERE id = comp
    ),
    pb AS ({pb}),
    eb(a, b) AS (
      SELECT id_a, id_b FROM pb UNION ALL SELECT id_b, id_a FROM pb
    ),
    reachb(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT eb.b, reachb.r FROM eb JOIN reachb ON eb.a = reachb.id
    ),
    kept_b AS (
      SELECT c.id FROM (SELECT id, min(r) AS comp FROM reachb GROUP BY id) c
      JOIN gated g ON g.doc_id = c.id
      WHERE c.id = c.comp
    )
    SELECT d.source,
           sum(CASE WHEN ka.id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_gate_first,
           sum(CASE WHEN kb.id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_dedup_first,
           sum(CASE WHEN ka.id IS NOT NULL AND kb.id IS NOT NULL
                    THEN 1 ELSE 0 END)::BIGINT AS n_common,
           sum(CASE WHEN ka.id IS NOT NULL AND kb.id IS NULL
                    THEN 1 ELSE 0 END)::BIGINT AS n_only_gate_first,
           sum(CASE WHEN ka.id IS NULL AND kb.id IS NOT NULL
                    THEN 1 ELSE 0 END)::BIGINT AS n_only_dedup_first
    FROM documents d
    LEFT JOIN kept_a ka ON ka.id = d.doc_id
    LEFT JOIN kept_b kb ON kb.id = d.doc_id
    GROUP BY 1
    """


@query(
    "pipeline_dedup_order_sensitivity", oracle=_order_sensitivity_sql
)
def pipeline_dedup_order_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Does gate-then-dedup keep the same corpus as dedup-then-gate?
    No — and this table shows exactly where. Gate-first removes docs
    BEFORE clustering, so a cluster whose min-id canonical fails the
    gates elects a different (kept) representative; dedup-first elects
    canonicals over the full corpus and THEN gates them, silently
    dropping every cluster whose canonical fails — its surviving
    members and all. Per source: kept counts under each order, the
    agreement, and both disagreement arms. The pipeline-design
    decision most corpus builds get wrong once.

    Scale: two passes of the audited LSH candidate path + log-round
    contraction (one on the gated subset, one full) — each is the
    `dedup_connected_components` machinery unchanged; the comparison
    is two doc_id-keyed joins against O(corpus) kept-sets (left to
    AQE — deliberately NOT hinted broadcast, which would blow the
    8 GB cap at scale) and one source-domain aggregate. Oracle: the
    same two closures as recursive CTEs."""
    from kafka_go_streamer_spark.functions import text as X
    from kafka_go_streamer_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from kafka_go_streamer_spark.plans.text import (
        PREP_LANG,
        PREP_MIN_ALPHA,
        PREP_MIN_WORDS,
    )

    from kafka_go_streamer_spark.operators.dedup import with_minhash
    from kafka_go_streamer_spark.operators.iterate import pinned

    docs = load_table(spark, sf_dir, "documents")
    gate = (
        (X.word_count(F.col("text")) >= PREP_MIN_WORDS)
        & (X.alpha_ratio(F.col("text")) > PREP_MIN_ALPHA)
        & (X.lang_id(F.col("text")) == PREP_LANG)
    )
    # pinned: the triple-regex gate scan feeds the gated signature
    # subset, comp_a's node set, and kept_b's semi-join — without the
    # barrier Catalyst re-inlines the regex scan into each consumer
    gated = pinned(docs.filter(gate).select("doc_id", "text"))

    # hash ONCE: the gated pass's signatures are a row-subset of the
    # full corpus' — materialize the signature table a single time and
    # run both LSH passes off it (per-pass bucket caps still apply to
    # each pass's own band frame, so semantics match two independent
    # runs; measured 11.9 s -> the shared-signature form at sf0.1)
    sigs_full = with_minhash(
        docs.select("doc_id", "text"), "text"
    ).localCheckpoint(eager=True)
    sigs_gated = sigs_full.join(
        gated.select("doc_id"), "doc_id", "left_semi"
    )

    # The two LSH+contraction passes are INDEPENDENT given the shared
    # signature table, and each is a driver-looped sequence of small
    # jobs (band join, verify, per-round pins) — run them from a
    # 2-thread pool so one pass's tiny jobs back-fill the executor
    # slots the other's stragglers leave idle (guide §2.6; job
    # descriptions/pins are thread-local, results are deterministic
    # DataFrames over checkpointed blocks).
    from concurrent.futures import ThreadPoolExecutor

    # Both kept-sets via an ANTI-join of the gated universe against the
    # BOUNDED dropped set (labels where comp != id, O(duplicates)):
    # identical membership — isolated docs are in no edge so the former
    # canonical filter kept them unconditionally — but the contraction
    # skips the isolated-nodes union (a corpus-wide anti-join +
    # distinct per pass), pass B loses its full-corpus nodes re-scan,
    # and the kept-set joins' build sides shrink from O(survivors) to
    # O(duplicates).
    def _pass_a():
        pairs_a = minhash_lsh_pairs(
            gated, "doc_id", "text", min_intersection=2, sigs=sigs_gated
        )
        comp_a = connected_components(
            gated.select(F.col("doc_id").alias("id")),
            pairs_a.select("id_a", "id_b"),
            include_isolated=False,
        )
        dropped_a = comp_a.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias("doc_id")
        )
        return (
            gated.select("doc_id")
            .join(dropped_a, "doc_id", "left_anti")
            .withColumn("in_a", F.lit(1))
        )

    def _pass_b():
        pairs_b = minhash_lsh_pairs(
            docs.select("doc_id", "text"),
            "doc_id",
            "text",
            min_intersection=2,
            sigs=sigs_full,
        )
        comp_b = connected_components(
            docs.select(F.col("doc_id").alias("id")),
            pairs_b.select("id_a", "id_b"),
            include_isolated=False,
        )
        dropped_b = comp_b.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias("doc_id")
        )
        return (
            gated.select("doc_id")
            .join(dropped_b, "doc_id", "left_anti")
            .withColumn("in_b", F.lit(1))
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        fa, fb = pool.submit(_pass_a), pool.submit(_pass_b)
        kept_a, kept_b = fa.result(), fb.result()

    # No broadcast hint on kept_a/kept_b: both are one row per SURVIVING
    # document — O(corpus) frames. A forced broadcast would hit the 8 GB
    # cap (driver assembly, executor OOM) at the 100-TB design point for
    # zero benefit; both joins are doc_id-keyed so AQE picks a sort-merge
    # or (at small SF) its own runtime broadcast. Plan-shape pinned in
    # tests/test_plan_shapes.py (no ResolvedHint on corpus-scaled sides).
    t = (
        docs.select("doc_id", "source")
        .join(kept_a, "doc_id", "left")
        .join(kept_b, "doc_id", "left")
    )
    a, b = F.col("in_a").isNotNull(), F.col("in_b").isNotNull()
    return t.groupBy("source").agg(
        F.sum(F.when(a, 1).otherwise(0)).cast("long").alias("n_gate_first"),
        F.sum(F.when(b, 1).otherwise(0)).cast("long").alias("n_dedup_first"),
        F.sum(F.when(a & b, 1).otherwise(0)).cast("long").alias("n_common"),
        F.sum(F.when(a & ~b, 1).otherwise(0))
        .cast("long")
        .alias("n_only_gate_first"),
        F.sum(F.when(~a & b, 1).otherwise(0))
        .cast("long")
        .alias("n_only_dedup_first"),
    )


# ----------------------------------------------------- dedup_bucket_cap_audit
def _bucket_cap_sql() -> str:
    from kafka_go_streamer_spark.functions import text as X
    from kafka_go_streamer_spark.operators.dedup import (
        MAX_BUCKET,
        NUM_HASHES,
        minhash_sig_sql,
        shingles_sql,
    )

    sig_cols = ",\n           ".join(
        f"{minhash_sig_sql('sh', k)} AS sig{k}" for k in range(NUM_HASHES)
    )
    band_union = "\n      UNION ALL\n".join(
        f"      SELECT id, {j} AS band, sig{j} AS key FROM sigs"
        for j in range(NUM_HASHES)
    )
    return f"""
    WITH w0 AS (
      SELECT doc_id AS id, {X.words_sql('text')} AS w FROM documents
    ),
    docs AS (SELECT id, {shingles_sql('w')} AS sh FROM w0),
    sigs AS (
      SELECT id, sh,
           {sig_cols}
      FROM docs
    ),
    bands0 AS (
{band_union}
    ),
    sz AS (
      SELECT band, key, count(*) AS n FROM bands0 GROUP BY 1, 2
    )
    SELECT band,
           count(*)::BIGINT AS n_buckets,
           max(n)::BIGINT AS max_bucket,
           sum(CASE WHEN n > {MAX_BUCKET} THEN 1 ELSE 0 END)::BIGINT
             AS n_capped,
           sum(CASE WHEN n > {MAX_BUCKET} THEN n ELSE 0 END)::BIGINT
             AS rows_dropped,
           sum(CASE WHEN n > {MAX_BUCKET}
                    THEN n * (n - 1) // 2 ELSE 0 END)::BIGINT
             AS pairs_forgone,
           sum(CASE WHEN n <= {MAX_BUCKET}
                    THEN n * (n - 1) // 2 ELSE 0 END)::BIGINT
             AS pairs_kept_bound
    FROM sz GROUP BY 1
    """


@query("dedup_bucket_cap_audit", oracle=_bucket_cap_sql)
def dedup_bucket_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the engine's own skew guard costs: the MAX_BUCKET cap
    (operators/dedup.py:cap_bucket) DROPS every band bucket larger
    than the cap before the candidate self-join — the guarantee that
    no boilerplate-heavy key can go quadratic. This table prices that
    guarantee per band: bucket count, the hottest bucket, how many
    buckets/rows the cap removes, and the candidate pairs forgone
    (n·(n-1)/2 per dropped bucket) next to the kept-pair bound. A
    pairs_forgone spike says the corpus grew a new boilerplate family
    and recall is leaking — raise the cap, or better, add the
    boilerplate to the line-dedup pass upstream.

    Scale: the signature build is the audited one-pass form; bucket
    sizing is one map-side-combined (band, key) aggregate; the verdict
    frame is |bands| rows. Integer pair arithmetic (n·(n-1) is always
    even) — no float anywhere."""
    from kafka_go_streamer_spark.operators.dedup import (
        MAX_BUCKET,
        band_rows,
        with_minhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = with_minhash(docs.select("doc_id", "text"), "text")
    sz = (
        band_rows(sigs, "doc_id")
        .groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    over = F.col("n") > MAX_BUCKET
    pairs = F.expr("n * (n - 1) div 2")
    return sz.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("n").cast("long").alias("max_bucket"),
        F.sum(F.when(over, 1).otherwise(0)).cast("long").alias("n_capped"),
        F.sum(F.when(over, F.col("n")).otherwise(0))
        .cast("long")
        .alias("rows_dropped"),
        F.sum(F.when(over, pairs).otherwise(0))
        .cast("long")
        .alias("pairs_forgone"),
        F.sum(F.when(~over, pairs).otherwise(0))
        .cast("long")
        .alias("pairs_kept_bound"),
    )


# --------------------------------------------- stats_cardinality_estimate_audit

#: Shipdate cutoff for the correlated-predicate case (mid-corpus).
CARD_SHIP_CUTOFF = "1995-06-17"


@query(
    "stats_cardinality_estimate_audit",
    oracle=f"""
    WITH oagg AS (
      SELECT count(*) AS n_o,
             sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
               AS c_prio,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS c_stat,
             sum(CASE WHEN o_orderpriority = '1-URGENT'
                       AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS c_both,
             count(DISTINCT o_orderkey) AS ndv_o
      FROM orders
    ),
    lagg AS (
      SELECT count(*) AS n_l,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS c_rf,
             sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS c_ls,
             sum(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'F'
                      THEN 1 ELSE 0 END) AS c_rfls,
             sum(CASE WHEN l_shipdate <=
                        TIMESTAMP '{CARD_SHIP_CUTOFF} 00:00:00'
                      THEN 1 ELSE 0 END) AS c_ship,
             sum(CASE WHEN l_returnflag = 'R' AND l_shipdate <=
                        TIMESTAMP '{CARD_SHIP_CUTOFF} 00:00:00'
                      THEN 1 ELSE 0 END) AS c_rship,
             count(DISTINCT l_orderkey) AS ndv_l
      FROM lineitem
    ),
    jact AS (
      SELECT count(*) AS act_join
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderpriority = '1-URGENT'
    ),
    cases AS (
      SELECT 'orders_priority_and_status' AS est_case,
             round(c_prio * 1.0 * c_stat / n_o, 2) AS est_rows,
             c_both::BIGINT AS actual_rows
      FROM oagg
      UNION ALL
      SELECT 'lineitem_flag_and_status',
             round(c_rf * 1.0 * c_ls / n_l, 2), c_rfls::BIGINT
      FROM lagg
      UNION ALL
      SELECT 'lineitem_flag_and_shipdate',
             round(c_rf * 1.0 * c_ship / n_l, 2), c_rship::BIGINT
      FROM lagg
      UNION ALL
      SELECT 'join_urgent_orders_lineitem',
             round(c_prio * 1.0 * n_l / greatest(ndv_o, ndv_l), 2),
             (SELECT act_join FROM jact)::BIGINT
      FROM oagg CROSS JOIN lagg
    )
    SELECT est_case, est_rows, actual_rows,
           round(CASE WHEN actual_rows > 0 AND est_rows > 0
                 THEN greatest(est_rows, actual_rows * 1.0)
                      / least(est_rows, actual_rows * 1.0) END, 4)
             AS q_error
    FROM cases
    """,
)
def stats_cardinality_estimate_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How wrong the textbook cardinality model is ON THIS DATA — the
    measurement behind every AQE/runtime-replan argument. Four audited
    estimates vs ground truth, reported as q-error (max(est,act) /
    min(est,act), the optimizer literature's standard):

    * two same-table conjunctions under the INDEPENDENCE assumption
      (selectivities multiplied) — one categorical pair, one
      categorical x date-range pair;
    * one equi-join under the System-R containment formula
      |O_f| x |L| / max(ndv(o_key), ndv(l_key));
    * plus a baseline conjunction where independence genuinely holds.

    A planner that trusts q-error ~1 estimates can pick join orders
    statically; the moment this table shows q-errors in the 10s the
    cluster turns AQE skew/plan mitigation on and stops trusting
    static row counts. (On the synthetic fixtures the generator draws
    columns independently, so the audited q-errors sit near 1 — the
    table PROVES that rather than assuming it; TPC-H's correlated
    returnflag/shipdate pairs are exactly where the same audit blows
    up on real data.)

    Scale: one conditional-aggregate scan per table (every counter in
    a single pass, map-side combined), one keyed join for the actual
    join count, then 4-row arithmetic (estimates promote to double
    BEFORE the second counter multiplies in — two 100-TB-scale row
    counters multiplied as longs would wrap in Spark's non-ANSI mode
    and overflow-error in DuckDB) — the audit costs two scans +
    one join regardless of width of the case list. No broadcast hints
    on corpus-scaled frames; the filtered-orders join side is left to
    AQE.

    Reference parity: the reference routes row-at-a-time and keeps no
    statistics (main.go:507-542); estimation economics are
    engine-extension surface."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit(CARD_SHIP_CUTOFF).cast("timestamp")
    prio = F.col("o_orderpriority") == "1-URGENT"
    stat = F.col("o_orderstatus") == "F"
    rf = F.col("l_returnflag") == "R"
    ls = F.col("l_linestatus") == "F"
    ship = F.col("l_shipdate") <= cutoff
    oagg = o.agg(
        F.count(F.lit(1)).alias("n_o"),
        F.sum(F.when(prio, 1).otherwise(0)).alias("c_prio"),
        F.sum(F.when(stat, 1).otherwise(0)).alias("c_stat"),
        F.sum(F.when(prio & stat, 1).otherwise(0)).alias("c_both"),
        F.countDistinct("o_orderkey").alias("ndv_o"),
    )
    lagg = l.agg(
        F.count(F.lit(1)).alias("n_l"),
        F.sum(F.when(rf, 1).otherwise(0)).alias("c_rf"),
        F.sum(F.when(ls, 1).otherwise(0)).alias("c_ls"),
        F.sum(F.when(rf & ls, 1).otherwise(0)).alias("c_rfls"),
        F.sum(F.when(ship, 1).otherwise(0)).alias("c_ship"),
        F.sum(F.when(rf & ship, 1).otherwise(0)).alias("c_rship"),
        F.countDistinct("l_orderkey").alias("ndv_l"),
    )
    jact = (
        o.filter(prio)
        .select("o_orderkey")
        .join(l.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey")
        .agg(F.count(F.lit(1)).alias("act_join"))
    )
    both = F.broadcast(oagg).crossJoin(F.broadcast(lagg)).crossJoin(
        F.broadcast(jact)
    )

    def case_row(name: str, est, act) -> DataFrame:
        return both.select(
            F.lit(name).alias("est_case"),
            stable_round(est, 2).alias("est_rows"),
            act.cast("long").alias("actual_rows"),
        )

    cases = (
        case_row(
            "orders_priority_and_status",
            F.col("c_prio") * 1.0 * F.col("c_stat") / F.col("n_o"),
            F.col("c_both"),
        )
        .unionByName(
            case_row(
                "lineitem_flag_and_status",
                F.col("c_rf") * 1.0 * F.col("c_ls") / F.col("n_l"),
                F.col("c_rfls"),
            )
        )
        .unionByName(
            case_row(
                "lineitem_flag_and_shipdate",
                F.col("c_rf") * 1.0 * F.col("c_ship") / F.col("n_l"),
                F.col("c_rship"),
            )
        )
        .unionByName(
            case_row(
                "join_urgent_orders_lineitem",
                F.col("c_prio")
                * 1.0
                * F.col("n_l")
                / F.greatest(F.col("ndv_o"), F.col("ndv_l")),
                F.col("act_join"),
            )
        )
    )
    ok = (F.col("actual_rows") > 0) & (F.col("est_rows") > 0)
    qe = F.greatest(
        F.col("est_rows"), F.col("actual_rows") * 1.0
    ) / F.least(F.col("est_rows"), F.col("actual_rows") * 1.0)
    return cases.select(
        "est_case",
        "est_rows",
        "actual_rows",
        F.when(ok, stable_round(qe, 4)).alias("q_error"),
    )


# ------------------------------------------------ quality_constraint_conformance
@query(
    "quality_constraint_conformance",
    oracle="""
    WITH jo AS (
      SELECT l.l_orderkey, count(*) AS n_lines,
             max(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS orphan,
             sum(CASE WHEN l.l_shipdate < o.o_orderdate
                      THEN 1 ELSE 0 END) AS ship_v,
             CASE WHEN round(abs(any_value(o.o_totalprice)
                    - sum(l.l_extendedprice * (1 - l.l_discount)
                          * (1 + l.l_tax))), 2) > 0.01
                  THEN 1 ELSE 0 END AS tp_v
      FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1
    ),
    fold AS (
      SELECT sum(n_lines) AS fk_n, sum(orphan * n_lines) AS fk_v,
             sum((1 - orphan) * n_lines) AS shp_n,
             sum((1 - orphan) * ship_v) AS shp_v,
             sum(1 - orphan) AS tp_n,
             sum((1 - orphan) * tp_v) AS tp_v
      FROM jo
    ),
    fk_o AS (
      SELECT count(*) AS n,
             sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS v
      FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    dom AS (
      SELECT count(*) AS n,
             sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                      THEN 1 ELSE 0 END) AS v
      FROM lineitem
    ),
    allrows AS (
      SELECT 'fk_lineitem_orderkey' AS constraint_name,
             fk_n AS n, fk_v AS v FROM fold
      UNION ALL
      SELECT 'fk_orders_custkey', n, v FROM fk_o
      UNION ALL
      SELECT 'domain_quantity_1_50', n, v FROM dom
      UNION ALL
      SELECT 'order_placed_before_ship', shp_n, shp_v FROM fold
      UNION ALL
      SELECT 'totalprice_equals_line_sum', tp_n, tp_v FROM fold
    )
    SELECT constraint_name, n::BIGINT AS n_checked,
           v::BIGINT AS n_violations,
           round(v * 1.0 / n, 6) AS violation_share
    FROM allrows
    """,
)
def quality_constraint_conformance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The data-contract audit an ingest runs before trusting a drop:
    five declarative constraints over the relational fixtures —
    two referential (every lineitem names a real order, every order a
    real customer), one domain (quantity in [1, 50]), one temporal
    (nothing ships before its order date), one arithmetic
    (o_totalprice reproduces the line-level charge sum within a cent
    after cent-rounding — the rounded comparison keeps the boundary
    engine-stable) — each reported as (checked, violations, share).
    The Deequ-shaped check suite: a 100 TB drop with a nonzero
    FK-orphan share gets quarantined, not joined.

    (On these synthetic fixtures the audit FINDS real violations: the
    generator draws ship dates and total prices independently of the
    order rows, so the temporal and arithmetic contracts fail at ~49%
    and 100% while keys and domains conform — exactly the mixed
    signal a contract table exists to surface.)

    Scale: the three lineitem-orders contracts (referential, temporal,
    arithmetic) share ONE left join + ONE order-grain aggregate, then
    fold to a single pinned 1-row frame the three report rows select
    from (unpinned, each row would re-run the join); the
    orders-customer check is one more keyed join and the domain check
    a map-side scan. No hints — every join side is corpus-scaled, AQE
    decides.

    Reference parity: the reference validates only its config, never
    payloads (main.go:339-345 fail-fast) — payload contracts are
    engine-extension surface."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")

    charge = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (
        1 + F.col("l_tax")
    )
    jo = (
        l.select("l_orderkey", "l_shipdate", charge.alias("chg"))
        .join(
            o.select(
                F.col("o_orderkey").alias("l_orderkey"),
                "o_orderdate",
                "o_totalprice",
            ).withColumn("_hit", F.lit(1)),
            "l_orderkey",
            "left",
        )
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.when(F.max("_hit").isNull(), 1).otherwise(0).alias("orphan"),
            F.sum(
                F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1)
                .otherwise(0)
            ).alias("ship_v"),
            F.when(
                stable_round(
                    F.abs(
                        F.any_value(F.col("o_totalprice")) - F.sum("chg")
                    ),
                    2,
                )
                > 0.01,
                1,
            )
            .otherwise(0)
            .alias("tp_v"),
        )
    )
    # ONE fold over the order-grain frame, pinned: the three report
    # rows below each select from it — unpinned, Catalyst would
    # re-inline the join per row
    ok = 1 - F.col("orphan")
    fold = pinned(
        jo.agg(
            F.sum("n_lines").alias("fk_n"),
            F.sum(F.col("orphan") * F.col("n_lines")).alias("fk_v"),
            F.sum(ok * F.col("n_lines")).alias("shp_n"),
            F.sum(ok * F.col("ship_v")).alias("shp_v"),
            F.sum(ok).alias("tp_n"),
            F.sum(ok * F.col("tp_v")).alias("tp_v"),
        )
    )
    fk_o = (
        o.select("o_custkey")
        .join(
            c.select(F.col("c_custkey").alias("o_custkey"))
            .withColumn("_hit", F.lit(1)),
            "o_custkey",
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0)).alias("v"),
        )
    )
    dom = l.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
            ).otherwise(0)
        ).alias("v"),
    )

    def row(name: str, src: DataFrame, n: str, v: str) -> DataFrame:
        return src.select(
            F.lit(name).alias("constraint_name"),
            F.col(n).cast("long").alias("n_checked"),
            F.col(v).cast("long").alias("n_violations"),
            stable_round(F.col(v) * 1.0 / F.col(n), 6).alias(
                "violation_share"
            ),
        )

    return (
        row("fk_lineitem_orderkey", fold, "fk_n", "fk_v")
        .unionByName(row("fk_orders_custkey", fk_o, "n", "v"))
        .unionByName(row("domain_quantity_1_50", dom, "n", "v"))
        .unionByName(row("order_placed_before_ship", fold, "shp_n", "shp_v"))
        .unionByName(row("totalprice_equals_line_sum", fold, "tp_n", "tp_v"))
    )


# ------------------------------------------------ privacy_deletion_propagation

#: Right-to-be-forgotten panels: customers (and their relational
#: cascade) and event actors selected by deterministic key mod.
DEL_CUST_MOD = 101
DEL_USER_MOD = 17


def _deletion_propagation_sql() -> str:
    m, um = DEL_CUST_MOD, DEL_USER_MOD

    def table_cte(name, tbl, part, del_cond):
        return f"""{name} AS (
      SELECT '{tbl}' AS tbl, sum(rows_p) AS n_rows, sum(del_p) AS n_delete,
             sum(CASE WHEN del_p > 0 THEN 1 ELSE 0 END) AS parts_touched,
             sum(CASE WHEN del_p > 0 THEN rows_p ELSE 0 END)
               AS rows_in_touched_parts
      FROM (
        SELECT {part} AS p, count(*) AS rows_p,
               sum(CASE WHEN {del_cond} THEN 1 ELSE 0 END) AS del_p
        FROM {tbl} GROUP BY 1
      )
    )"""

    return f"""
    WITH delo AS (
      SELECT o_orderkey FROM orders WHERE o_custkey % {m} = 0
    ),
    {table_cte('c_row', 'customer', 'c_nationkey',
               f'c_custkey % {m} = 0')},
    {table_cte('o_row', 'orders', "date_trunc('month', o_orderdate)",
               f'o_custkey % {m} = 0')},
    {table_cte('l_row', 'lineitem', "date_trunc('month', l_shipdate)",
               'l_orderkey IN (SELECT o_orderkey FROM delo)')},
    {table_cte('e_row', 'events', "date_trunc('day', ts)",
               f'user_id % {um} = 0')},
    allrows AS (
      SELECT * FROM c_row UNION ALL SELECT * FROM o_row
      UNION ALL SELECT * FROM l_row UNION ALL SELECT * FROM e_row
    )
    SELECT tbl, n_rows::BIGINT AS n_rows, n_delete::BIGINT AS n_delete,
           round(n_delete * 1.0 / n_rows, 6) AS delete_share,
           parts_touched::BIGINT AS parts_touched,
           rows_in_touched_parts::BIGINT AS rows_in_touched_parts,
           round(CASE WHEN n_delete > 0
                 THEN rows_in_touched_parts * 1.0 / n_delete END, 2)
             AS rewrite_amplification
    FROM allrows
    """


@query("privacy_deletion_propagation", oracle=_deletion_propagation_sql)
def privacy_deletion_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What a right-to-be-forgotten request actually COSTS a parquet
    lake: a deterministic deletion panel (customers by key mod, event
    actors by user mod) cascaded through the relational graph
    (customer -> orders -> lineitem, plus the events fact), and for
    each table BOTH deletion economics a lakehouse weighs:

    * merge-on-read: n_delete — the tombstone volume;
    * copy-on-write: rows_in_touched_parts — every row of every
      partition (customer: nation; orders/lineitem: month; events:
      day) holding at least one deleted row must be REWRITTEN.

    rewrite_amplification = rewritten/deleted is the decision number:
    at ~1% deleted customers the COW bill runs ~40-90x the logical
    delete on date-partitioned tables — the measured case for delete
    vectors, and for partition keys aligned with deletion domains
    (user-bucketed layouts delete cheaply; date layouts don't).

    Scale: ONE scan per table — the deletion flag rides as a
    conditional sum into a per-partition aggregate (bounded: <=25
    nations, <=84 months, <=31 days), and all four economics columns
    fold out of that tiny frame; no membership join at all. The
    lineitem cascade flag is a keyed left-join against the deleted
    orderkeys (corpus-scaled, NO broadcast hint — AQE decides).

    Reference parity: the reference has no storage and no deletes
    (Kafka sink only, main.go:544-651) — lake-maintenance economics
    are engine-extension surface."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    e = load_table(spark, sf_dir, "events")

    def econ_row(tbl: str, flagged: DataFrame) -> DataFrame:
        """``flagged`` carries _p (partition) and _del (0/1): one
        per-partition conditional aggregate, then the four economics
        columns fold out of the bounded partition-domain frame."""
        per = flagged.groupBy("_p").agg(
            F.count(F.lit(1)).alias("rows_p"),
            F.sum("_del").alias("del_p"),
        )
        touched = F.col("del_p") > 0
        return per.agg(
            F.sum("rows_p").cast("long").alias("n_rows"),
            F.sum("del_p").cast("long").alias("n_delete"),
            F.sum(F.when(touched, 1).otherwise(0))
            .cast("long")
            .alias("parts_touched"),
            F.sum(F.when(touched, F.col("rows_p")).otherwise(0))
            .cast("long")
            .alias("rows_in_touched_parts"),
        ).select(
            F.lit(tbl).alias("tbl"),
            "n_rows",
            "n_delete",
            stable_round(
                F.col("n_delete") * 1.0 / F.col("n_rows"), 6
            ).alias("delete_share"),
            "parts_touched",
            "rows_in_touched_parts",
            F.when(
                F.col("n_delete") > 0,
                stable_round(
                    F.col("rows_in_touched_parts")
                    * 1.0
                    / F.col("n_delete"),
                    2,
                ),
            ).alias("rewrite_amplification"),
        )

    month = lambda col: F.date_trunc("month", F.col(col))  # noqa: E731
    flag = lambda cond: F.when(cond, 1).otherwise(0)  # noqa: E731
    c_f = c.select(
        F.col("c_nationkey").alias("_p"),
        flag(F.col("c_custkey") % DEL_CUST_MOD == 0).alias("_del"),
    )
    o_f = o.select(
        month("o_orderdate").alias("_p"),
        flag(F.col("o_custkey") % DEL_CUST_MOD == 0).alias("_del"),
    )
    # cascade flag: left join against the deleted orderkeys —
    # corpus-scaled set, NO broadcast hint (AQE decides)
    del_o = o.filter(F.col("o_custkey") % DEL_CUST_MOD == 0).select(
        F.col("o_orderkey").alias("l_orderkey")
    ).withColumn("_hit", F.lit(1))
    l_f = (
        l.select("l_orderkey", month("l_shipdate").alias("_p"))
        .join(del_o, "l_orderkey", "left")
        .select("_p", flag(F.col("_hit").isNotNull()).alias("_del"))
    )
    e_f = e.select(
        F.date_trunc("day", F.col("ts")).alias("_p"),
        flag(F.col("user_id") % DEL_USER_MOD == 0).alias("_del"),
    )
    return (
        econ_row("customer", c_f)
        .unionByName(econ_row("orders", o_f))
        .unionByName(econ_row("lineitem", l_f))
        .unionByName(econ_row("events", e_f))
    )


# --------------------------------------------- stats_join_sample_estimators

#: Inverse sampling rates for the join-estimator grid.
JOIN_SAMPLE_RATES = (16, 64, 256)


def _join_sample_sql() -> str:
    from kafka_go_streamer_spark.plans.fidelity import _md5long_sql

    o_row = _md5long_sql("o_orderkey::VARCHAR || 'or'")
    l_row = _md5long_sql(
        "l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR"
    )
    o_key = _md5long_sql("o_orderkey::VARCHAR")
    l_key = _md5long_sql("l_orderkey::VARCHAR")
    branches = []
    for m in JOIN_SAMPLE_RATES:
        branches.append(f"""
      SELECT 'independent_rows' AS estimator, {m} AS inv_rate,
             count(*) AS n_sampled,
             count(*) * {m} * {m} AS est_rows
      FROM (SELECT o_orderkey FROM orders WHERE {o_row} % {m} = 0) o
      JOIN (SELECT l_orderkey FROM lineitem WHERE {l_row} % {m} = 0) l
        ON o.o_orderkey = l.l_orderkey""")
        branches.append(f"""
      SELECT 'correlated_keys', {m}, count(*), count(*) * {m}
      FROM (SELECT o_orderkey FROM orders WHERE {o_key} % {m} = 0) o
      JOIN (SELECT l_orderkey FROM lineitem WHERE {l_key} % {m} = 0) l
        ON o.o_orderkey = l.l_orderkey""")
    unioned = "\n      UNION ALL".join(branches)
    return f"""
    WITH act AS (
      SELECT count(*) AS actual_rows
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    est AS ({unioned})
    SELECT estimator, inv_rate::INTEGER AS inv_rate,
           n_sampled::BIGINT AS n_sampled, est_rows::BIGINT AS est_rows,
           (SELECT actual_rows FROM act)::BIGINT AS actual_rows,
           round(CASE WHEN n_sampled > 0
                 THEN greatest(est_rows * 1.0,
                               (SELECT actual_rows FROM act) * 1.0)
                      / least(est_rows * 1.0,
                              (SELECT actual_rows FROM act) * 1.0)
                 END, 4) AS q_error
    FROM est
    """


@query("stats_join_sample_estimators", oracle=_join_sample_sql)
def stats_join_sample_estimators(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The third estimator class for join cardinality, beside
    ``stats_cardinality_estimate_audit``'s formula-based two:
    SAMPLING. Two deterministic hash-sample designs at 1/16, 1/64 and
    1/256, each scaled back up and scored as q-error vs the true
    orders-lineitem join count:

    * independent_rows — each side samples ROWS independently
      (md5 over a per-row key); matching pairs survive with p^2, so
      the estimate scales by m^2 and its variance explodes as the
      sample thins (at 1/256 the surviving sampled-join count is near
      zero and the estimate swings to 0 or 65536x a single pair);
    * correlated_keys — both sides sample by the SAME hash of the
      JOIN KEY (the join-synopsis trick): a sampled key keeps ALL its
      rows on both sides, the join survives with p, scales by m, and
      stays tight at every rate.

    The table is the measured case for key-correlated synopses over
    naive row samples when sizing shuffles — the difference between a
    usable 1/256 estimate and noise.

    Scale: each branch joins two hash-FILTERED sides (the predicate
    reaches the scan; the join input is p x corpus); the actual count
    is one full keyed join, shared by subquery on the oracle side and
    a broadcast 1-row frame here. No hints on corpus-scaled frames.

    Reference parity: the reference keeps no statistics (SURVEY.md
    §2.1) — estimator economics are engine-extension surface."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    act = (
        o.select("o_orderkey")
        .join(l.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey")
        .agg(F.count(F.lit(1)).alias("actual_rows"))
    )
    o_row = md5_60(F.concat(F.col("o_orderkey").cast("string"), F.lit("or")))
    l_row = md5_60(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
        )
    )
    o_key = md5_60("o_orderkey")
    l_key = md5_60("l_orderkey")

    # the hash-sample rates are NESTED (16 | 64 | 256: h % 256 == 0
    # implies h % 64 == 0 implies h % 16 == 0), so ONE join per design
    # at the loosest rate carries every finer rate as a conditional
    # aggregate over the surviving pairs — 6 filtered corpus joins
    # collapse to 2 (plus the shared actual-count join)
    m0 = min(JOIN_SAMPLE_RATES)
    ind = (
        o.filter(o_row % m0 == 0)
        .select("o_orderkey", o_row.alias("oh"))
        .join(
            l.filter(l_row % m0 == 0).select(
                F.col("l_orderkey").alias("o_orderkey"), l_row.alias("lh")
            ),
            "o_orderkey",
        )
        .agg(
            *[
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("oh") % m == 0) & (F.col("lh") % m == 0),
                            1,
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"n_{m}")
                for m in JOIN_SAMPLE_RATES
            ]
        )
    )
    # correlated design: both sides filter on the SAME key hash, so a
    # joined pair's two hashes are equal — the per-rate condition is
    # one divisibility test
    cor = (
        o.filter(o_key % m0 == 0)
        .select("o_orderkey", o_key.alias("kh"))
        .join(
            l.filter(l_key % m0 == 0).select(
                F.col("l_orderkey").alias("o_orderkey")
            ),
            "o_orderkey",
        )
        .agg(
            *[
                F.coalesce(
                    F.sum(
                        F.when(F.col("kh") % m == 0, 1).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"n_{m}")
                for m in JOIN_SAMPLE_RATES
            ]
        )
    )

    def unfold(frame: DataFrame, name: str, scale_of) -> DataFrame:
        return frame.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("estimator"),
                            F.lit(m).cast("int").alias("inv_rate"),
                            F.col(f"n_{m}").alias("n_sampled"),
                            (F.col(f"n_{m}") * scale_of(m))
                            .cast("long")
                            .alias("est_rows"),
                        )
                        for m in JOIN_SAMPLE_RATES
                    ]
                )
            ).alias("s")
        ).select("s.estimator", "s.inv_rate", "s.n_sampled", "s.est_rows")

    est = unfold(ind, "independent_rows", lambda m: m * m).unionByName(
        unfold(cor, "correlated_keys", lambda m: m)
    )
    ok = F.col("n_sampled") > 0
    qe = F.greatest(
        F.col("est_rows") * 1.0, F.col("actual_rows") * 1.0
    ) / F.least(F.col("est_rows") * 1.0, F.col("actual_rows") * 1.0)
    return est.crossJoin(F.broadcast(act)).select(
        "estimator",
        "inv_rate",
        "n_sampled",
        "est_rows",
        F.col("actual_rows").cast("long"),
        F.when(ok, stable_round(qe, 4)).alias("q_error"),
    )
