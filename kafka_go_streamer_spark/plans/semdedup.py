"""Round-12 wave: semantic dedup + corpus clustering + line-level
boilerplate removal — the composed curation operators the r11 verdict
asked for ("the parts all exist, the composed operators don't").

Three families:

* **SemDeDup-style semantic prune** (``semdedup_*``): assign every
  vector to its trained IVF cell (the SAME persisted quantizer the ANN
  probe serves from, operators/ivf_store.py), score each vector's
  cosine to its OWN cell centroid, quantize that score, and keep one
  vector per (cell, quantized-score) bucket — the 1-d
  centroid-similarity formulation of SemDeDup's within-cluster prune.
  Candidate work is n × dims against a broadcast k×dims centroid
  frame: NO pairwise stage exists anywhere in the family (contrast
  ``dedup_embedding_drop_rule``, which verifies capped within-cell
  PAIRS; this family is the cheaper rank-and-bucket prune that scales
  to corpora where even capped pair verification is too hot).

* **Cluster diagnostics** (``cluster_*``): assignment margin (top-2
  centroid distance gap), cell balance (entropy/Gini of cell sizes),
  and label purity per cell — the clusterability dashboard a corpus
  team reads before trusting any cluster-level curation decision.

* **Line-level boilerplate dedup** (``dedup_line_*``): the
  RefinedWeb-style exact-line frequency gate — explode documents into
  lines, count cross-document line frequency, mark lines above a
  document-frequency threshold as boilerplate, and emit retention
  stats plus an md5-pinned cleaned text. The synthetic corpus has no
  newlines, so deterministic boilerplate LINES are seeded first (the
  ``text_pii_redact`` precedent: seed, then provably detect), while
  the original text rides as the document's body line — real
  cross-document duplicate body lines (exact-dup documents) are
  detected by the same gate.

Reference: the regex heritage of the gate family traces to the
reference router's pattern matching (main.go:515) — here applied as
corpus-quality analytics the reference itself has no way to compute.

Scale discipline: centroids broadcast everywhere (k×dims rows, tiny
at any corpus size); the boilerplate set is a broadcast join (lines
above an absolute doc-frequency threshold are FEW by construction —
they are the point); line exploding is one narrow scan + one hash
aggregate on the line key with map-side combine; no percentage-sized
panels, no driver collects, no all-pairs stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.operators.iterate import pinned
from kafka_go_streamer_spark.plans.registry import query
from kafka_go_streamer_spark.sources.tables import load_table

#: Cosine-to-centroid quantization scale for the keep-one-per-bucket
#: rule (3 decimals ⇒ buckets 0.001 wide on [-1, 1]).
SEMDEDUP_SCALE = 3
#: Scales swept by ``semdedup_eps_sweep`` (coarser bucket ⇒ more
#: aggressive prune). Literal ints: the oracle needs literal rounding
#: scales for the epsilon-injection rewrite.
SEMDEDUP_SWEEP = (2, 3, 4)

#: Seeded boilerplate line templates (see module docstring). Kept
#: lowercase-alphanumeric so the line key survives any engine's string
#: handling identically.
BP_HEADER = "subscribe to our newsletter and enable notifications"
BP_FOOTER = "all rights reserved terms of service apply"
BP_COOKIE = "this site uses cookies accept to continue reading"
#: A line is boilerplate when it appears in at least this many DISTINCT
#: documents. 8 keeps all three templates above threshold even at the
#: 50-doc sf0.001 fixture (df 17/13/10) while no organic body line
#: reaches it there.
BP_MIN_DF = 8


# --------------------------------------------------------------------
# shared Spark-side frames
# --------------------------------------------------------------------

def _store_frames(spark: SparkSession, sf_dir: str):
    """(vectors, centroids) from the persisted IVF index — the offline
    artifact; every query here starts at a partitioned scan, never a
    training pass (same split as ``dedup_embedding_drop_rule``)."""
    from kafka_go_streamer_spark.operators.ivf_store import (
        centroids_path,
        ensure_ivf_index,
        vectors_path,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = ensure_ivf_index(emb, sf_dir)
    vecs = spark.read.parquet(vectors_path(base))
    cents = spark.read.parquet(centroids_path(base))
    return vecs, cents


def _cells(vecs: DataFrame) -> DataFrame:
    return vecs.select("vec_id", F.col("cell").cast("long").alias("cell"))


def _scored(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell, cos_c): cosine of each vector to its own cell's
    centroid, 6dp-rounded. One broadcast join on (cell, pos) + ONE
    hash aggregate computing dot product and self-norm together (each
    vector has exactly one cell, so grouping by (vec_id, cell) costs
    nothing extra); zero-norm vectors drop out here and are treated as
    always-kept downstream."""
    ex = vecs.select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "v"
        ),
    )
    c = cents.select(
        F.col("cid").cast("long").alias("cid"),
        F.col("pos").alias("cpos"),
        "c",
    )
    per = (
        ex.join(
            F.broadcast(c),
            (F.col("cell") == F.col("cid")) & (F.col("pos") == F.col("cpos")),
        )
        .groupBy("vec_id", "cell")
        .agg(
            F.sum(F.col("v") * F.col("c")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("vv"),
        )
    )
    cn = cents.groupBy("cid").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("cn")
    )
    return (
        per.join(F.broadcast(cn), per.cell == cn.cid)
        .filter((F.col("vv") > 0) & (F.col("cn") > 0))
        .select(
            "vec_id",
            "cell",
            stable_round(
                F.col("dot") / (F.sqrt(F.col("vv")) * F.col("cn")), 6
            ).alias("cos_c"),
        )
    )


def _kept(cells: DataFrame, scored: DataFrame, scale: int) -> DataFrame:
    """(vec_id, cell, cos_c, kept): keep the smallest vec_id per
    (cell, quantized-cos) bucket; unscored (zero-norm) vectors are
    always kept. The min is a window over fine-grained buckets — the
    opposite of the low-cardinality-partition pathology."""
    s = cells.join(scored.select("vec_id", "cos_c"), "vec_id", "left")
    bucket = stable_round(F.col("cos_c"), scale)
    w = Window.partitionBy("cell", bucket)
    return s.select(
        "vec_id",
        "cell",
        "cos_c",
        F.when(F.col("cos_c").isNull(), 1)
        .when(F.col("vec_id") == F.min("vec_id").over(w), 1)
        .otherwise(0)
        .cast("int")
        .alias("kept"),
    )


# --------------------------------------------------------------------
# shared oracle CTE prefixes
# --------------------------------------------------------------------

def _semdedup_prefix() -> str:
    """WITH-list through ``scored`` — reproduces the IVF store's cells
    AND centroids via the deterministic unrolled Lloyd chain (the
    ``_drop_rule_sql`` discipline, plans/similarity.py), then scores
    cosine-to-own-centroid exactly like :func:`_scored`."""
    from kafka_go_streamer_spark.operators.kmeans import lloyd_ctes

    ctes, final = lloyd_ctes("embeddings", "(SELECT k FROM kk)", iters=2)
    joined = ",\n    ".join(ctes)
    return f"""
    WITH kk AS (SELECT ceil(sqrt(count(*)))::BIGINT AS k FROM embeddings),
    {joined},
    cellsq AS MATERIALIZED (SELECT vec_id, cid AS cell FROM ({final})),
    cn AS (SELECT cid, sqrt(sum(c * c)) AS cn FROM cent2 GROUP BY 1),
    dots AS (
      SELECT e.vec_id, s.cell,
             sum(e.v * c.c) AS dot, sum(e.v * e.v) AS vv
      FROM ex e JOIN cellsq s USING (vec_id)
      JOIN cent2 c ON c.cid = s.cell AND c.pos = e.pos
      GROUP BY 1, 2
    ),
    scored AS MATERIALIZED (
      SELECT d.vec_id, d.cell, round(d.dot / (sqrt(d.vv) * n.cn), 6) AS cos_c
      FROM dots d JOIN cn n ON n.cid = d.cell
      WHERE d.vv > 0 AND n.cn > 0
    )"""


def _keep_cte(scale: int) -> str:
    return f"""
    keepx AS MATERIALIZED (
      SELECT c.vec_id, c.cell, s.cos_c,
             CASE WHEN s.cos_c IS NULL THEN 1
                  WHEN c.vec_id = min(c.vec_id) OVER (
                       PARTITION BY c.cell, round(s.cos_c, {scale}))
                  THEN 1 ELSE 0 END AS kept
      FROM cellsq c LEFT JOIN scored s USING (vec_id)
    )"""


def _lines_prefix() -> str:
    """WITH-list through ``flagged``: seed boilerplate lines, explode
    to (doc, idx, line), count cross-document line frequency, flag."""
    return f"""
    WITH lined AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 3 = 0
                  THEN '{BP_HEADER}' || chr(10) ELSE '' END
             || text
             || CASE WHEN doc_id % 4 = 0
                     THEN chr(10) || '{BP_FOOTER}' ELSE '' END
             || CASE WHEN doc_id % 5 = 1
                     THEN chr(10) || '{BP_COOKIE}' ELSE '' END AS txt
      FROM documents
    ),
    lines AS MATERIALIZED (
      SELECT doc_id, source,
             unnest(string_split(txt, chr(10))) AS line,
             generate_subscripts(string_split(txt, chr(10)), 1) AS idx
      FROM lined
    ),
    dfx AS (
      SELECT line, count(DISTINCT doc_id)::BIGINT AS df
      FROM lines WHERE line <> '' GROUP BY 1
    ),
    bp AS (SELECT line FROM dfx WHERE df >= {BP_MIN_DF}),
    flagged AS MATERIALIZED (
      SELECT l.doc_id, l.source, l.line, l.idx,
             CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END AS bp
      FROM lines l LEFT JOIN bp b USING (line)
      WHERE l.line <> ''
    )"""


def _lined_spark(d: DataFrame) -> DataFrame:
    txt = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit(BP_HEADER + "\n")).otherwise(
            F.lit("")
        ),
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("\n" + BP_FOOTER)).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 5 == 1, F.lit("\n" + BP_COOKIE)).otherwise(
            F.lit("")
        ),
    )
    return d.select("doc_id", "source", txt.alias("txt"))


def _flagged_lines(d: DataFrame) -> DataFrame:
    """(doc_id, source, line, idx, bp) — idx is 1-based to match the
    oracle's ``generate_subscripts``; the boilerplate set (lines above
    the ABSOLUTE doc-frequency threshold) is broadcast back: it is
    small by construction at any corpus size, because a line needs
    df >= BP_MIN_DF distinct documents to enter it and the join output
    is capped by the corpus's line count either way."""
    lines = (
        _lined_spark(d)
        .select(
            "doc_id",
            "source",
            F.posexplode(F.split("txt", "\n")).alias("idx0", "line"),
        )
        .filter(F.col("line") != "")
        .select(
            "doc_id",
            "source",
            "line",
            (F.col("idx0") + 1).cast("long").alias("idx"),
        )
    )
    bp = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= BP_MIN_DF)
        .select("line", F.lit(1).alias("_bp"))
    )
    return lines.join(F.broadcast(bp), "line", "left").select(
        "doc_id",
        "source",
        "line",
        "idx",
        F.when(F.col("_bp").isNotNull(), 1).otherwise(0).alias("bp"),
    )


# --------------------------------------------------------------------
# SemDeDup family
# --------------------------------------------------------------------

def _prune_manifest_sql() -> str:
    return (
        _semdedup_prefix()
        + ","
        + _keep_cte(SEMDEDUP_SCALE)
        + """
    SELECT vec_id, cell::BIGINT AS cell, cos_c, kept::INTEGER AS kept
    FROM keepx
    """
    )


@query("semdedup_prune_manifest", oracle=_prune_manifest_sql)
def semdedup_prune_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic prune manifest: every vector with its
    trained IVF cell, its cosine to the OWN-cell centroid, and the
    keep/drop verdict under the one-per-(cell, quantized-cos) rule —
    the per-document decision record a semantic-dedup stage hands to
    the downstream sampler.

    Semantics: within a cluster, vectors whose centroid-similarity
    rounds to the same {SEMDEDUP_SCALE}dp bucket are near-duplicates
    along the axis that matters to the cluster (the SemDeDup
    observation: within-cluster near-dups have near-identical
    centroid cosine); the smallest id in each bucket survives —
    the monotone keep-first rule of the exact/LSH dedup family.

    Scale: cosine-to-own-centroid is a broadcast (cell, pos) join of
    the cell-partitioned store against the k×dims centroid frame plus
    one hash aggregate — n×dims streamed work, NO pairwise stage at
    all (the whole point vs pair-verified dedup); the keep rule is a
    window min over fine-grained (cell, bucket) keys. Everything
    downstream of the store scan is 16 bytes/vector."""
    vecs, cents = _store_frames(spark, sf_dir)
    kept = _kept(_cells(vecs), _scored(vecs, cents), SEMDEDUP_SCALE)
    return kept.select("vec_id", "cell", "cos_c", "kept")


def _prune_stats_sql() -> str:
    return (
        _semdedup_prefix()
        + ","
        + _keep_cte(SEMDEDUP_SCALE)
        + """
    SELECT cell::BIGINT AS cell,
           count(*)::BIGINT AS n_members,
           count(cos_c)::BIGINT AS n_scored,
           sum(kept)::BIGINT AS n_kept,
           (count(*) - sum(kept))::BIGINT AS n_dropped,
           round(avg(cos_c), 6) AS mean_cos,
           round((count(*) - sum(kept)) * 1.0 / count(*), 6) AS prune_rate
    FROM keepx GROUP BY 1
    """
    )


@query("semdedup_prune_stats", oracle=_prune_stats_sql)
def semdedup_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster semantic-prune scoreboard: members, scored, kept,
    dropped, mean centroid-cosine, prune rate — the table that tells a
    curation team WHICH clusters are redundancy-heavy (high prune
    rate + high mean cosine = a template family; low mean cosine = a
    diffuse cluster where the prune barely fires).

    Scale: one aggregate over the manifest frame, k output rows."""
    vecs, cents = _store_frames(spark, sf_dir)
    kept = _kept(_cells(vecs), _scored(vecs, cents), SEMDEDUP_SCALE)
    return kept.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.count("cos_c").cast("long").alias("n_scored"),
        F.sum("kept").cast("long").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum("kept")).cast("long").alias("n_dropped"),
        stable_round(F.avg("cos_c"), 6).alias("mean_cos"),
        stable_round(
            (F.count(F.lit(1)) - F.sum("kept")) * 1.0 / F.count(F.lit(1)), 6
        ).alias("prune_rate"),
    )


def _eps_sweep_sql() -> str:
    branches = []
    for s in SEMDEDUP_SWEEP:
        branches.append(f"""
    SELECT {s}::INTEGER AS scale, t.n_total,
           (b.k + t.n_total - t.n_scored)::BIGINT AS n_kept,
           (t.n_scored - b.k)::BIGINT AS n_dropped,
           round((t.n_scored - b.k) * 1.0 / t.n_total, 6) AS prune_rate
    FROM (SELECT count(*)::BIGINT AS k FROM (
            SELECT DISTINCT cell, round(cos_c, {s}) FROM scored)) b,
         tots t""")
    return (
        _semdedup_prefix()
        + """,
    tots AS MATERIALIZED (
      SELECT (SELECT count(*) FROM cellsq)::BIGINT AS n_total,
             (SELECT count(*) FROM scored)::BIGINT AS n_scored
    )
    """
        + "\n    UNION ALL\n".join(branches)
    )


@query("semdedup_eps_sweep", oracle=_eps_sweep_sql)
def semdedup_eps_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prune-aggressiveness sweep: corpus survivors under the semantic
    prune at quantization scales {SEMDEDUP_SWEEP} (coarser bucket ⇒
    wider epsilon-ball ⇒ more dropped) — the threshold-selection curve
    run before committing a prune level, sibling of
    ``dedup_threshold_sweep`` on the text side.

    Scale: ONE pass over the scored frame — the three bucket
    granularities are three count-distinct aggregates in a single
    Expand-based hash aggregate (no per-scale Python loop, the
    ``graph_rich_club`` r12 discipline); survivors per scale =
    distinct (cell, bucket) groups + unscored always-kept vectors."""
    vecs, cents = _store_frames(spark, sf_dir)
    cells = _cells(vecs)
    scored = pinned(_scored(vecs, cents))
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_scored"),
        *[
            F.countDistinct(
                F.struct(F.col("cell"), stable_round(F.col("cos_c"), s))
            ).alias(f"k{s}")
            for s in SEMDEDUP_SWEEP
        ],
    )
    tot = cells.agg(F.count(F.lit(1)).alias("n_total"))
    row = agg.crossJoin(F.broadcast(tot))
    grid = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("scale"), F.col(f"k{s}").alias("kbkt")
                )
                for s in SEMDEDUP_SWEEP
            ]
        )
    ).alias("x")
    return row.select(grid, "n_scored", "n_total").select(
        F.col("x.scale").cast("int").alias("scale"),
        F.col("n_total").cast("long").alias("n_total"),
        (F.col("x.kbkt") + F.col("n_total") - F.col("n_scored"))
        .cast("long")
        .alias("n_kept"),
        (F.col("n_scored") - F.col("x.kbkt")).cast("long").alias("n_dropped"),
        stable_round(
            (F.col("n_scored") - F.col("x.kbkt")) * 1.0 / F.col("n_total"), 6
        ).alias("prune_rate"),
    )


def _drop_bias_sql() -> str:
    return (
        _semdedup_prefix()
        + ","
        + _keep_cte(SEMDEDUP_SCALE)
        + """
    SELECT e.label,
           count(*)::BIGINT AS n_members,
           (count(*) - sum(k.kept))::BIGINT AS n_dropped,
           round((count(*) - sum(k.kept)) * 1.0 / count(*), 6) AS drop_rate
    FROM keepx k JOIN embeddings e USING (vec_id)
    GROUP BY 1
    """
    )


@query("semdedup_drop_bias", oracle=_drop_bias_sql)
def semdedup_drop_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup bias audit: per-label drop rate under the semantic prune.
    Aggressive dedup is known to skew corpus composition (it removes
    templated/near-dup content unevenly across domains); this is the
    per-class check that the prune is not silently deleting one slice
    of the distribution — run it before accepting any threshold from
    ``semdedup_eps_sweep``.

    Scale: manifest joined to the label column (equi-join on vec_id),
    one aggregate, |labels| output rows."""
    vecs, cents = _store_frames(spark, sf_dir)
    kept = _kept(_cells(vecs), _scored(vecs, cents), SEMDEDUP_SCALE)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        kept.join(emb, "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            (F.count(F.lit(1)) - F.sum("kept"))
            .cast("long")
            .alias("n_dropped"),
            stable_round(
                (F.count(F.lit(1)) - F.sum("kept"))
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("drop_rate"),
        )
    )


# --------------------------------------------------------------------
# cluster diagnostics
# --------------------------------------------------------------------

def _assignment_margin_sql() -> str:
    return (
        _semdedup_prefix()
        + """,
    dist AS (
      SELECT e.vec_id, c.cid,
             round(sum((e.v - c.c) * (e.v - c.c)), 6) AS d2
      FROM ex e JOIN cent2 c ON c.pos = e.pos
      GROUP BY 1, 2
    ),
    r AS (
      SELECT vec_id, d2,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2, cid) AS rn
      FROM dist
    ),
    m AS (
      SELECT vec_id,
             round(max(CASE WHEN rn = 2 THEN d2 END)
                   - max(CASE WHEN rn = 1 THEN d2 END), 6) AS margin
      FROM r WHERE rn <= 2 GROUP BY 1
    )
    SELECT count(*)::BIGINT AS n_vectors,
           round(avg(margin), 6) AS mean_margin,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY margin), 6)
             AS p50_margin,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY margin), 6)
             AS p90_margin,
           round(min(margin), 6) AS min_margin
    FROM m
    """
    )


@query("cluster_assignment_margin", oracle=_assignment_margin_sql)
def cluster_assignment_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment-confidence profile: the gap between each vector's
    best and second-best centroid distance (d2 margin). A corpus whose
    margins pile up near zero is not meaningfully clustered at this k
    — every cluster-level curation decision (SemDeDup prune, stratified
    sampling by cell) inherits that ambiguity, so this is the gate in
    front of the whole family.

    Scale: the full distance frame is the SAME n×k×dims streamed
    aggregate as one Lloyd assignment pass (centroids broadcast, rows
    never materialize outside whole-stage codegen); top-2 per vector
    via one window over k rows per vector; output is one row."""
    vecs, cents = _store_frames(spark, sf_dir)
    ex = vecs.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "v"
        ),
    )
    c = cents.select(
        F.col("cid").cast("long").alias("cid"),
        F.col("pos").alias("cpos"),
        "c",
    )
    dist = (
        ex.join(F.broadcast(c), F.col("pos") == F.col("cpos"))
        .groupBy("vec_id", "cid")
        .agg(
            stable_round(
                F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))),
                6,
            ).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    m = (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("vec_id")
        .agg(
            stable_round(
                F.max(F.when(F.col("rn") == 2, F.col("d2")))
                - F.max(F.when(F.col("rn") == 1, F.col("d2"))),
                6,
            ).alias("margin")
        )
    )
    return m.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        stable_round(F.avg("margin"), 6).alias("mean_margin"),
        stable_round(F.percentile("margin", F.lit(0.5)), 6).alias(
            "p50_margin"
        ),
        stable_round(F.percentile("margin", F.lit(0.9)), 6).alias(
            "p90_margin"
        ),
        stable_round(F.min("margin"), 6).alias("min_margin"),
    )


def _balance_profile_sql() -> str:
    return (
        _semdedup_prefix()
        + """,
    sz AS (
      SELECT cell, count(*)::BIGINT AS n FROM cellsq GROUP BY 1
    ),
    rk AS (
      SELECT n, row_number() OVER (ORDER BY n, cell) AS i,
             count(*) OVER () AS k,
             sum(n) OVER () AS tot
      FROM sz
    )
    SELECT max(k)::BIGINT AS k_cells,
           max(tot)::BIGINT AS n_vectors,
           max(n)::BIGINT AS max_cell,
           min(n)::BIGINT AS min_cell,
           round(-sum((n * 1.0 / tot) * ln(n * 1.0 / tot))
                 / nullif(ln(max(k) * 1.0), 0), 6) AS entropy_norm,
           round(2.0 * sum(i * 1.0 * n) / (max(k) * max(tot))
                 - (max(k) + 1.0) / max(k), 6) AS gini
    FROM rk
    """
    )


@query("cluster_balance_profile", oracle=_balance_profile_sql)
def cluster_balance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-size balance of the trained quantizer: normalized entropy
    (1 = perfectly even) and Gini concentration of cluster sizes, plus
    the extremes. Unbalanced cells are the IVF failure mode — probe
    latency concentrates in hot cells and the SemDeDup prune loses
    resolution exactly where the corpus piles up — so this is the
    retrain trigger a store operator watches.

    Scale: the size frame is k rows; the rank window and both
    aggregates run on it. Deterministic Gini via the (size, cell)
    rank tiebreak."""
    vecs, _ = _store_frames(spark, sf_dir)
    sz = _cells(vecs).groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.orderBy("n", "cell")
    rk = sz.select(
        "n",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("k"),
        F.sum("n").over(Window.partitionBy()).alias("tot"),
    )
    p = F.col("n") * 1.0 / F.col("tot")
    return rk.agg(
        F.max("k").cast("long").alias("k_cells"),
        F.max("tot").cast("long").alias("n_vectors"),
        F.max("n").cast("long").alias("max_cell"),
        F.min("n").cast("long").alias("min_cell"),
        stable_round(
            -F.sum(p * F.log(p))
            / F.nullif(F.log(F.max("k") * 1.0), F.lit(0)),
            6,
        ).alias("entropy_norm"),
        stable_round(
            2.0
            * F.sum(F.col("i") * 1.0 * F.col("n"))
            / (F.max("k") * F.max("tot"))
            - (F.max("k") + 1.0) / F.max("k"),
            6,
        ).alias("gini"),
    )


def _label_purity_sql() -> str:
    return (
        _semdedup_prefix()
        + """,
    cl AS (
      SELECT c.cell, e.label, count(*)::BIGINT AS cnt
      FROM cellsq c JOIN embeddings e USING (vec_id)
      GROUP BY 1, 2
    ),
    tops AS (
      SELECT cell, label, cnt,
             sum(cnt) OVER (PARTITION BY cell) AS size,
             row_number() OVER (PARTITION BY cell
                                ORDER BY cnt DESC, label) AS rn
      FROM cl
    )
    SELECT cell::BIGINT AS cell, size::BIGINT AS size,
           label AS top_label,
           round(cnt * 1.0 / size, 6) AS purity
    FROM tops WHERE rn = 1
    """
    )


@query("cluster_label_purity", oracle=_label_purity_sql)
def cluster_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-label purity per trained cell — do the learned
    clusters recover the label structure? (kNN purity asks this
    point-wise; this is the cluster-level complement, and low-purity
    cells are where cluster-stratified curation decisions stop being
    trustworthy.)

    Scale: one (cell, label) aggregate — at most k × |labels| rows —
    then a window over ≤|labels| rows per cell."""
    vecs, _ = _store_frames(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    cl = (
        _cells(vecs)
        .join(emb, "vec_id")
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wsum = Window.partitionBy("cell")
    wrk = Window.partitionBy("cell").orderBy(
        F.col("cnt").desc(), F.col("label")
    )
    return (
        cl.withColumn("size", F.sum("cnt").over(wsum))
        .withColumn("rn", F.row_number().over(wrk))
        .filter(F.col("rn") == 1)
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("size").cast("long").alias("size"),
            F.col("label").alias("top_label"),
            stable_round(F.col("cnt") * 1.0 / F.col("size"), 6).alias(
                "purity"
            ),
        )
    )


# --------------------------------------------------------------------
# line-level boilerplate dedup
# --------------------------------------------------------------------

def _line_boilerplate_sql() -> str:
    return (
        _lines_prefix()
        + f"""
    SELECT line, df AS n_docs
    FROM dfx WHERE df >= {BP_MIN_DF}
    ORDER BY df DESC, line LIMIT 20
    """
    )


@query("dedup_line_boilerplate", oracle=_line_boilerplate_sql)
def dedup_line_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style exact-line boilerplate detection: lines whose
    cross-document frequency reaches {BP_MIN_DF} distinct documents,
    most frequent first — the nav-bars/footers/cookie-banner list a
    web-corpus pipeline strips before any document-level dedup. The
    corpus carries seeded boilerplate lines (module docstring) so the
    gate provably fires; duplicated body lines (exact-dup documents)
    cross the same threshold organically where they exist.

    Scale: one line explode + one (line → distinct-doc count) hash
    aggregate with map-side combine; the result set is tiny by
    construction (a line must recur across >= {BP_MIN_DF} documents)
    and top-20 is a TakeOrdered, not a global sort."""
    d = load_table(spark, sf_dir, "documents")
    lines = (
        _lined_spark(d)
        .select("doc_id", F.explode(F.split("txt", "\n")).alias("line"))
        .filter(F.col("line") != "")
    )
    return (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= BP_MIN_DF)
        .orderBy(F.col("n_docs").desc(), F.col("line"))
        .limit(20)
    )


def _line_retention_sql() -> str:
    return (
        _lines_prefix()
        + """
    SELECT source,
           count(DISTINCT doc_id)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_lines,
           sum(bp)::BIGINT AS n_bp_lines,
           round(sum(CASE WHEN bp = 0 THEN 1.0 ELSE 0 END) / count(*), 6)
             AS line_retention,
           round(sum(CASE WHEN bp = 0 THEN length(line) ELSE 0 END) * 1.0
                 / sum(length(line)), 6) AS char_retention
    FROM flagged GROUP BY 1
    """
    )


@query("dedup_line_doc_retention", oracle=_line_retention_sql)
def dedup_line_doc_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate load: how many lines / characters each
    source keeps after the exact-line gate — the number that says
    WHICH feeds are template-heavy (and therefore over-counted in any
    byte-budget before cleaning).

    Scale: the flagged frame is the exploded scan left-joined to the
    BROADCAST boilerplate set; one aggregate by source."""
    d = load_table(spark, sf_dir, "documents")
    fl = _flagged_lines(d)
    keep = F.col("bp") == 0
    return fl.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("bp").cast("long").alias("n_bp_lines"),
        stable_round(
            F.sum(F.when(keep, 1.0).otherwise(0.0)) / F.count(F.lit(1)), 6
        ).alias("line_retention"),
        stable_round(
            F.sum(F.when(keep, F.length("line")).otherwise(0))
            * 1.0
            / F.sum(F.length("line")),
            6,
        ).alias("char_retention"),
    )


def _line_cleaned_sql() -> str:
    return (
        _lines_prefix()
        + """
    SELECT doc_id,
           count(*)::BIGINT AS n_lines,
           sum(bp)::BIGINT AS n_bp_lines,
           md5(coalesce(string_agg(CASE WHEN bp = 0 THEN line END,
                                   chr(10) ORDER BY idx), ''))
             AS cleaned_md5
    FROM flagged GROUP BY 1
    """
    )


@query("dedup_line_cleaned_md5", oracle=_line_cleaned_sql)
def dedup_line_cleaned_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL, pinned byte-exactly: each document's
    cleaned text (boilerplate lines deleted, survivors rejoined in
    original order) as an md5 — proving the removal path, not just the
    detection counts. A document whose every line is boilerplate
    cleans to the empty string (md5('') on both engines).

    Scale: same flagged frame; per-document reassembly is a
    collect_list of (idx, line) structs sorted in-row — bounded by the
    document's own line count, never a shuffle-wide sort."""
    d = load_table(spark, sf_dir, "documents")
    fl = _flagged_lines(d)
    cleaned = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("bp") == 0, F.struct("idx", "line")
                    )
                )
            ),
            lambda x: x["line"],
        ),
        "\n",
    )
    return fl.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("bp").cast("long").alias("n_bp_lines"),
        F.md5(cleaned).alias("cleaned_md5"),
    )


# --------------------------------------------------------------------
# PII density rollup
# --------------------------------------------------------------------

def _pii_density_sql() -> str:
    from kafka_go_streamer_spark.plans.training_ops import (
        EMAIL_RE,
        PHONE_RE,
    )

    return f"""
    WITH seeded AS (
      SELECT doc_id, source,
             text
             || CASE WHEN doc_id % 7 = 0
                THEN ' contact_' || doc_id::VARCHAR || '@example.com'
                ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                THEN ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                ELSE '' END AS text
      FROM documents
    ),
    per AS (
      SELECT source, length(text)::BIGINT AS chars,
             len(regexp_extract_all(text, '{EMAIL_RE}'))::BIGINT AS ne,
             len(regexp_extract_all(text, '{PHONE_RE}'))::BIGINT AS np
      FROM seeded
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN ne + np > 0 THEN 1 ELSE 0 END)::BIGINT
             AS docs_with_pii,
           sum(ne)::BIGINT AS n_emails,
           sum(np)::BIGINT AS n_phones,
           round(sum(ne + np) * 10000.0 / sum(chars), 6) AS pii_per_10kchars
    FROM per GROUP BY 1
    """


def pii_per_doc(d: DataFrame) -> DataFrame:
    """Per-document PII projection (needs doc_id, source, text):
    (source, chars, ne, np) under the deterministic PII seeding and
    the RE2∩Java-dialect patterns. The ONE scoring stage of
    ``pii_density_by_source`` and (through ``pii_counters``) of its
    streaming monitor, so batch and stream can never silently count
    differently."""
    from kafka_go_streamer_spark.plans.training_ops import (
        EMAIL_RE,
        PHONE_RE,
    )

    seeded = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact_"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    return d.select(
        "source",
        F.length(seeded).cast("long").alias("chars"),
        F.regexp_count(seeded, F.lit(EMAIL_RE)).cast("long").alias("ne"),
        F.regexp_count(seeded, F.lit(PHONE_RE)).cast("long").alias("np"),
    )


def pii_counters(d: DataFrame) -> DataFrame:
    """Per-source PII counters (source, n_docs, docs_with_pii,
    n_emails, n_phones, chars) of a documents-like frame (needs
    doc_id, source, text). Integer sums: the counters of any split
    merge exactly with ``streaming.partials.merge_partials``."""
    per = pii_per_doc(d.select("doc_id", "source", "text"))
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("ne") + F.col("np") > 0, 1).otherwise(0))
        .cast("long")
        .alias("docs_with_pii"),
        F.sum("ne").cast("long").alias("n_emails"),
        F.sum("np").cast("long").alias("n_phones"),
        F.sum("chars").cast("long").alias("chars"),
    )


def publish_pii_density(counters: DataFrame) -> DataFrame:
    """The PII triage table from ``pii_counters`` rows: the density
    divides the integer sums, so it is the same double either way."""
    return counters.select(
        "source",
        "n_docs",
        "docs_with_pii",
        "n_emails",
        "n_phones",
        stable_round(
            (F.col("n_emails") + F.col("n_phones"))
            * 10000.0
            / F.col("chars"),
            6,
        ).alias("pii_per_10kchars"),
    )


@query("pii_density_by_source", oracle=_pii_density_sql)
def pii_density_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-gate rollup of the PII scrub: per source, how many
    documents carry PII and at what density — the triage table that
    decides which feeds need redaction (``text_pii_redact`` is the
    per-document scrubber; this is its fleet-level dashboard). Uses
    the same deterministic PII seeding and the same RE2∩Java-dialect
    patterns, so detection provably fires on a corpus with no organic
    PII.

    Scale: a pure narrow projection (seed + two codegen'd
    regexp_count) followed by one aggregate by source."""
    d = load_table(spark, sf_dir, "documents")
    return publish_pii_density(pii_counters(d))


# --------------------------------------------------------------------
# composed pipeline
# --------------------------------------------------------------------

def _pipeline_sql() -> str:
    return (
        _semdedup_prefix()
        + ","
        + _keep_cte(SEMDEDUP_SCALE)
        + ","
        + _lines_prefix().replace("WITH ", "", 1)
        + """
    SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
           (SELECT count(*) FROM flagged)::BIGINT AS n_lines,
           (SELECT sum(bp) FROM flagged)::BIGINT AS n_bp_lines,
           (SELECT round(sum(CASE WHEN bp = 0 THEN length(line)
                                  ELSE 0 END) * 1.0 / sum(length(line)), 6)
            FROM flagged) AS char_retention,
           (SELECT count(*) FROM keepx)::BIGINT AS n_vectors,
           (SELECT sum(kept) FROM keepx)::BIGINT AS n_sem_kept,
           (SELECT count(*) - sum(kept) FROM keepx)::BIGINT AS n_sem_dropped,
           (SELECT round(sum(kept) * 1.0 / count(*), 6) FROM keepx)
             AS sem_keep_rate
    """
    )


@query("pipeline_semdedup_corpus", oracle=_pipeline_sql)
def pipeline_semdedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation headline: line-level boilerplate removal
    over the document corpus AND SemDeDup semantic prune over the
    embedding corpus, folded into one run report — documents/lines/
    chars surviving the text gate, vectors surviving the semantic
    prune. This is the one-line answer to "what does this cleaning
    recipe cost us", the shape of ``pipeline_pretraining_full`` for
    the r12 semantic stage.

    Scale: strictly the union of its parts (each already audited);
    the two branches share nothing and parallelize freely; output is
    one row."""
    d = load_table(spark, sf_dir, "documents")
    fl = pinned(_flagged_lines(d))
    vecs, cents = _store_frames(spark, sf_dir)
    kept = pinned(_kept(_cells(vecs), _scored(vecs, cents), SEMDEDUP_SCALE))
    text_side = fl.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("bp").cast("long").alias("n_bp_lines"),
        stable_round(
            F.sum(F.when(F.col("bp") == 0, F.length("line")).otherwise(0))
            * 1.0
            / F.sum(F.length("line")),
            6,
        ).alias("char_retention"),
    )
    sem_side = kept.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum("kept").cast("long").alias("n_sem_kept"),
        (F.count(F.lit(1)) - F.sum("kept")).cast("long").alias(
            "n_sem_dropped"
        ),
        stable_round(F.sum("kept") * 1.0 / F.count(F.lit(1)), 6).alias(
            "sem_keep_rate"
        ),
    )
    n_docs = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        n_docs.crossJoin(F.broadcast(text_side))
        .crossJoin(F.broadcast(sem_side))
        .select(
            "n_docs",
            "n_lines",
            "n_bp_lines",
            "char_retention",
            "n_vectors",
            "n_sem_kept",
            "n_sem_dropped",
            "sem_keep_rate",
        )
    )


# --------------------------------------------------------------------
# wave 2: cross-family agreement, centroid shift, source alignment
# --------------------------------------------------------------------

def _agreement_sql() -> str:
    from kafka_go_streamer_spark.operators.dedup import (
        minhash_lsh_pairs_sql,
    )

    pairs = minhash_lsh_pairs_sql(
        "documents", "doc_id", "text", min_intersection=2
    )
    return (
        _semdedup_prefix()
        + ","
        + _keep_cte(SEMDEDUP_SCALE)
        + f""",
    pairs AS ({pairs}),
    tdrop AS (
      SELECT DISTINCT p.id_b AS vec_id FROM pairs p
      JOIN embeddings e ON e.vec_id = p.id_b
    ),
    sdrop AS (SELECT vec_id FROM keepx WHERE kept = 0),
    m AS (
      SELECT (SELECT count(*) FROM embeddings)::BIGINT AS n_universe,
             (SELECT count(*) FROM tdrop)::BIGINT AS n_text_drops,
             (SELECT count(*) FROM sdrop)::BIGINT AS n_sem_drops,
             (SELECT count(*) FROM tdrop JOIN sdrop USING (vec_id))::BIGINT
               AS n_both
    )
    SELECT n_universe, n_text_drops, n_sem_drops, n_both,
           round(n_both * 1.0
                 / nullif(n_text_drops + n_sem_drops - n_both, 0), 6)
             AS drop_jaccard
    FROM m
    """
    )


@query("semdedup_vs_minhash_agreement", oracle=_agreement_sql)
def semdedup_vs_minhash_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-family dedup agreement: over the embedded subset of the
    corpus (doc_id = vec_id, the repo's hard-negatives convention),
    how much do the TEXT near-dup drop set (MinHash-LSH monotone rule,
    ids appearing as the larger side of a verified pair) and the
    SEMANTIC prune drop set overlap? Low Jaccard is the expected —
    and informative — production reading: surface dedup and embedding
    dedup remove DIFFERENT redundancy, which is why pipelines run
    both; a sudden jump toward 1.0 says the embedding space collapsed
    to lexical identity.

    Scale: both drop sets come from their audited capped/blocked
    generators; the agreement is two semi-joins and four counts on
    id-only frames."""
    from kafka_go_streamer_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    emb_ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", min_intersection=2)
    tdrop = pinned(
        pairs.select(F.col("id_b").alias("vec_id"))
        .distinct()
        .join(emb_ids, "vec_id", "left_semi")
    )
    vecs, cents = _store_frames(spark, sf_dir)
    kept = _kept(_cells(vecs), _scored(vecs, cents), SEMDEDUP_SCALE)
    sdrop = pinned(kept.filter(F.col("kept") == 0).select("vec_id"))
    m = (
        emb_ids.agg(F.count(F.lit(1)).cast("long").alias("n_universe"))
        .crossJoin(
            F.broadcast(
                tdrop.agg(
                    F.count(F.lit(1)).cast("long").alias("n_text_drops")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                sdrop.agg(
                    F.count(F.lit(1)).cast("long").alias("n_sem_drops")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                tdrop.join(sdrop, "vec_id").agg(
                    F.count(F.lit(1)).cast("long").alias("n_both")
                )
            )
        )
    )
    return m.select(
        "n_universe",
        "n_text_drops",
        "n_sem_drops",
        "n_both",
        stable_round(
            F.col("n_both")
            * 1.0
            / F.nullif(
                F.col("n_text_drops")
                + F.col("n_sem_drops")
                - F.col("n_both"),
                F.lit(0),
            ),
            6,
        ).alias("drop_jaccard"),
    )


def _centroid_shift_sql() -> str:
    return (
        _semdedup_prefix()
        + ","
        + _keep_cte(SEMDEDUP_SCALE)
        + """,
    kex AS (
      SELECT k.cell, e.pos, e.v
      FROM ex e JOIN keepx k USING (vec_id) WHERE k.kept = 1
    ),
    nm AS (
      SELECT cell, pos, round(avg(v), 6) AS m FROM kex GROUP BY 1, 2
    ),
    kc AS (
      SELECT cell, count(*)::BIGINT AS n_members,
             sum(kept)::BIGINT AS n_kept
      FROM keepx GROUP BY 1
    ),
    sh AS (
      SELECT n.cell,
             round(sqrt(sum((n.m - c.c) * (n.m - c.c))), 6) AS shift
      FROM nm n JOIN cent2 c ON c.cid = n.cell AND c.pos = n.pos
      GROUP BY 1
    )
    SELECT k.cell::BIGINT AS cell, k.n_members, k.n_kept, s.shift
    FROM kc k JOIN sh s USING (cell)
    """
    )


@query("semdedup_centroid_shift", oracle=_centroid_shift_sql)
def semdedup_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the semantic prune MOVE the clusters? Per cell: the L2
    distance between the stored (pre-prune) centroid and the centroid
    recomputed over prune survivors. Large shift = the prune deleted
    a one-sided mass of near-dups and the quantizer no longer sits on
    the surviving distribution — the signal to retrain the IVF index
    after a prune rather than serving the stale one.

    Scale: survivor means are one (cell, pos) hash aggregate over the
    store scan (same boundary rounding as Lloyd's update step), then
    a k×dims-sized join against the broadcast stored centroids."""
    vecs, cents = _store_frames(spark, sf_dir)
    kept = _kept(_cells(vecs), _scored(vecs, cents), SEMDEDUP_SCALE)
    ex = vecs.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "v"
        ),
    )
    kex = ex.join(
        kept.filter(F.col("kept") == 1).select("vec_id", "cell"), "vec_id"
    )
    nm = kex.groupBy("cell", "pos").agg(
        stable_round(F.avg("v"), 6).alias("m")
    )
    c = cents.select(
        F.col("cid").cast("long").alias("cid"),
        F.col("pos").alias("cpos"),
        "c",
    )
    sh = (
        nm.join(
            F.broadcast(c),
            (F.col("cell") == F.col("cid")) & (F.col("pos") == F.col("cpos")),
        )
        .groupBy("cell")
        .agg(
            stable_round(
                F.sqrt(
                    F.sum((F.col("m") - F.col("c")) * (F.col("m") - F.col("c")))
                ),
                6,
            ).alias("shift")
        )
    )
    kc = kept.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("kept").cast("long").alias("n_kept"),
    )
    return kc.join(sh, "cell").select(
        F.col("cell").cast("long").alias("cell"),
        "n_members",
        "n_kept",
        "shift",
    )


def _source_mix_sql() -> str:
    return (
        _semdedup_prefix()
        + """,
    cs AS (
      SELECT c.cell, d.source, count(*)::BIGINT AS cnt
      FROM cellsq c JOIN documents d ON d.doc_id = c.vec_id
      GROUP BY 1, 2
    ),
    tops AS (
      SELECT cell, source, cnt,
             sum(cnt) OVER (PARTITION BY cell) AS size,
             count(*) OVER (PARTITION BY cell) AS n_sources,
             row_number() OVER (PARTITION BY cell
                                ORDER BY cnt DESC, source) AS rn
      FROM cs
    )
    SELECT cell::BIGINT AS cell, size::BIGINT AS size,
           n_sources::BIGINT AS n_sources, source AS top_source,
           round(cnt * 1.0 / size, 6) AS top_share
    FROM tops WHERE rn = 1
    """
    )


@query("cluster_source_mix", oracle=_source_mix_sql)
def cluster_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster ↔ source alignment: per trained cell, the dominant
    document SOURCE and its share (via the doc_id = vec_id embedded
    subset). If top_share ≈ 1 everywhere the "semantic" clusters are
    just re-discovering the feeds — and cluster-stratified sampling
    would silently duplicate source-stratified sampling; diffuse
    mixes mean the embedding space is adding real structure. The
    source-side complement of ``cluster_label_purity``.

    Scale: one (cell, source) aggregate, then windows over ≤|sources|
    rows per cell."""
    vecs, _ = _store_frames(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    cs = (
        _cells(vecs)
        .join(docs, "vec_id")
        .groupBy("cell", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wc = Window.partitionBy("cell")
    wrk = Window.partitionBy("cell").orderBy(
        F.col("cnt").desc(), F.col("source")
    )
    return (
        cs.withColumn("size", F.sum("cnt").over(wc))
        .withColumn("n_sources", F.count(F.lit(1)).over(wc))
        .withColumn("rn", F.row_number().over(wrk))
        .filter(F.col("rn") == 1)
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("size").cast("long").alias("size"),
            F.col("n_sources").cast("long").alias("n_sources"),
            F.col("source").alias("top_source"),
            stable_round(F.col("cnt") * 1.0 / F.col("size"), 6).alias(
                "top_share"
            ),
        )
    )


def _source_shift_sql() -> str:
    return (
        _semdedup_prefix()
        + ","
        + _keep_cte(SEMDEDUP_SCALE)
        + """,
    js AS (
      SELECT k.kept, d.source
      FROM keepx k JOIN documents d ON d.doc_id = k.vec_id
    ),
    t AS (
      SELECT count(*)::BIGINT AS total, sum(kept)::BIGINT AS tot_kept
      FROM js
    )
    SELECT j.source,
           count(*)::BIGINT AS n_before,
           sum(j.kept)::BIGINT AS n_after,
           round(count(*) * 1.0 / max(t.total), 6) AS share_before,
           round(sum(j.kept) * 1.0 / max(t.tot_kept), 6) AS share_after,
           round(sum(j.kept) * 1.0 / max(t.tot_kept)
                 - count(*) * 1.0 / max(t.total), 6) AS share_delta
    FROM js j CROSS JOIN t
    GROUP BY 1
    """
    )


@query("semdedup_source_shift", oracle=_source_shift_sql)
def semdedup_source_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the semantic prune does to the data MIXTURE: per source,
    corpus share before vs after the prune (embedded subset). Dedup
    is a silent re-weighting — template-heavy feeds shrink — and any
    downstream temperature/DoReMi mixture computed on pre-dedup counts
    is stale by exactly share_delta; this emits the correction table.

    Scale: kept flags joined to the source column (equi-join), one
    aggregate; the totals row is a broadcast scalar bind."""
    vecs, cents = _store_frames(spark, sf_dir)
    kept = _kept(_cells(vecs), _scored(vecs, cents), SEMDEDUP_SCALE)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    js = pinned(kept.join(docs, "vec_id").select("kept", "source"))
    t = js.agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum("kept").cast("long").alias("tot_kept"),
    )
    per = js.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_before"),
        F.sum("kept").cast("long").alias("n_after"),
    )
    return per.crossJoin(F.broadcast(t)).select(
        "source",
        "n_before",
        "n_after",
        stable_round(F.col("n_before") * 1.0 / F.col("total"), 6).alias(
            "share_before"
        ),
        stable_round(F.col("n_after") * 1.0 / F.col("tot_kept"), 6).alias(
            "share_after"
        ),
        stable_round(
            F.col("n_after") * 1.0 / F.col("tot_kept")
            - F.col("n_before") * 1.0 / F.col("total"),
            6,
        ).alias("share_delta"),
    )


def _retrieval_impact_sql() -> str:
    from kafka_go_streamer_spark.functions.vectors import cosine_sql
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    return (
        _semdedup_prefix()
        + ","
        + _keep_cte(SEMDEDUP_SCALE)
        + f""",
    qs AS MATERIALIZED (
      SELECT vec_id AS q_id, embedding AS qv
      FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < {PANEL_MAX_ID}
    ),
    gt AS MATERIALIZED (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY round({cosine_sql('e.embedding', 'q.qv')}, 6) DESC,
                          e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN qs q
        WHERE e.vec_id <> q.q_id
      ) WHERE rn <= 10
    ),
    surv AS (
      SELECT g.q_id, sum(k.kept)::BIGINT AS n_kept
      FROM gt g JOIN keepx k ON k.vec_id = g.vec_id
      GROUP BY 1
    )
    SELECT count(*)::BIGINT AS n_queries,
           round(avg(n_kept / 10.0), 6) AS mean_gt_survival,
           min(n_kept)::BIGINT AS worst_kept,
           sum(CASE WHEN n_kept < 5 THEN 1 ELSE 0 END)::BIGINT
             AS n_degraded
    FROM surv
    """
    )


@query("semdedup_retrieval_impact", oracle=_retrieval_impact_sql)
def semdedup_retrieval_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the semantic prune costs RETRIEVAL: for the fixed query
    panel, how much of each query's exact cosine top-10 survives the
    prune (mean survival, the worst query, queries losing half their
    neighborhood). Dedup that deletes retrieval neighborhoods degrades
    any RAG/ANN serving built on the pruned corpus — this is the
    check that a prune threshold is safe to ship, read together with
    ``semdedup_eps_sweep``.

    Scale: ground truth is the audited panel × corpus single pass
    (FIXED panel, the hubness-cap discipline); the survival join is
    panel×10 rows against the manifest."""
    from pyspark.sql import Window

    from kafka_go_streamer_spark.functions.vectors import cosine
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < PANEL_MAX_ID)
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    wq = Window.partitionBy("q_id")
    gt = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            stable_round(cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "sim"
            ),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                wq.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
            ),
        )
        .filter(F.col("rn") <= 10)
        .select("q_id", "vec_id")
    )
    vecs, cents = _store_frames(spark, sf_dir)
    kept = _kept(_cells(vecs), _scored(vecs, cents), SEMDEDUP_SCALE)
    surv = (
        gt.join(kept.select("vec_id", "kept"), "vec_id")
        .groupBy("q_id")
        .agg(F.sum("kept").cast("long").alias("n_kept"))
    )
    return surv.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        stable_round(F.avg(F.col("n_kept") / 10.0), 6).alias(
            "mean_gt_survival"
        ),
        F.min("n_kept").cast("long").alias("worst_kept"),
        F.sum(F.when(F.col("n_kept") < 5, 1).otherwise(0))
        .cast("long")
        .alias("n_degraded"),
    )
