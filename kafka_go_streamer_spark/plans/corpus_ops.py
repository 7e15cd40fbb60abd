"""Round-12 wave 2: corpus-operations audits — the gate funnel, the
prefix-duplication screen, and the router rule-overlap matrix.

* ``pipeline_gate_funnel`` — per-stage survivor accounting for the
  EXACT gate chain ``pipeline_training_prep`` runs (length → alpha →
  language → exact dedup). The pipeline query emits survivors; this
  emits the funnel REPORT an operator reads to see where the corpus
  dies — all five stages from ONE conditional aggregate over one scan.

* ``text_doc_prefix_dup`` — crawl-snapshot overlap screen: documents
  sharing an identical first-{PREFIX_CHARS}-chars prefix. Full-text
  exact dedup misses truncation/continuation variants that prefix
  identity catches; flagging is one md5 per doc + one hash aggregate.

* ``route_rule_coverage_overlap`` — pairwise overlap of the document
  router's split patterns (the same compiled ``DOCS_SPLITER`` the
  production router uses): how many messages match BOTH split i and
  split j. ``route_masking_analysis`` shows what first-match-wins
  COSTS each split; this shows the ambiguity STRUCTURE that causes it
  — the two tables an operator reads together before reordering
  topic.yaml (reference main.go:595-597 gives no way to see either).

Scale discipline: every query here is one narrow corpus scan folded
into a single aggregate row (conditional sums / count-distincts),
unstacked in-plan to its few output rows — zero joins on the fact,
zero Python, zero second scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions import text as X
from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.plans.registry import query
from kafka_go_streamer_spark.plans.text import (
    PREP_LANG,
    PREP_MIN_ALPHA,
    PREP_MIN_WORDS,
)
from kafka_go_streamer_spark.sources.tables import load_table

#: Prefix length (chars) for the snapshot-overlap screen.
PREFIX_CHARS = 64

#: The funnel's gate chain — labels and predicates derive from the
#: shared ``prep_survivors`` thresholds (plans/text.py): same values,
#: same order, one definition (ADVICE r13).
FUNNEL_STAGES = (
    "raw",
    f"len_ge_{PREP_MIN_WORDS}w",
    f"alpha_gt_{PREP_MIN_ALPHA}",
    f"lang_{PREP_LANG}",
    "exact_dedup",
)


def _gate_funnel_sql() -> str:
    return f"""
    WITH scored AS (
      SELECT doc_id,
             {X.word_count_sql('text')} AS n_words,
             {X.alpha_ratio_sql('text')} AS alpha_ratio,
             {X.lang_id_sql('text')} AS pred_lang,
             {X.bag_fingerprint_sql('text')} AS bag_fp
      FROM documents
    ),
    agg AS (
      SELECT count(*)::BIGINT AS c0,
             sum(CASE WHEN n_words >= {PREP_MIN_WORDS}
                      THEN 1 ELSE 0 END)::BIGINT AS c1,
             sum(CASE WHEN n_words >= {PREP_MIN_WORDS}
                       AND alpha_ratio > {PREP_MIN_ALPHA}
                      THEN 1 ELSE 0 END)::BIGINT AS c2,
             sum(CASE WHEN n_words >= {PREP_MIN_WORDS}
                       AND alpha_ratio > {PREP_MIN_ALPHA}
                       AND pred_lang = '{PREP_LANG}'
                      THEN 1 ELSE 0 END)::BIGINT AS c3,
             count(DISTINCT CASE WHEN n_words >= {PREP_MIN_WORDS}
                                  AND alpha_ratio > {PREP_MIN_ALPHA}
                                  AND pred_lang = '{PREP_LANG}'
                                 THEN bag_fp END)::BIGINT AS c4
      FROM scored
    )
    SELECT 0 AS stage, '{FUNNEL_STAGES[0]}' AS gate, c0 AS survivors,
           0::BIGINT AS dropped_here FROM agg
    UNION ALL SELECT 1, '{FUNNEL_STAGES[1]}', c1, (c0 - c1)::BIGINT FROM agg
    UNION ALL SELECT 2, '{FUNNEL_STAGES[2]}', c2, (c1 - c2)::BIGINT FROM agg
    UNION ALL SELECT 3, '{FUNNEL_STAGES[3]}', c3, (c2 - c3)::BIGINT FROM agg
    UNION ALL SELECT 4, '{FUNNEL_STAGES[4]}', c4, (c3 - c4)::BIGINT FROM agg
    """


@query("pipeline_gate_funnel", oracle=_gate_funnel_sql)
def pipeline_gate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-by-gate survivor funnel of the training-prep pipeline:
    raw → word-count floor → alphabetic-ratio floor → language gate →
    exact dedup, each stage CUMULATIVE (the same thresholds, order,
    and fingerprint ``prep_survivors`` applies), with per-stage drop
    attribution. ``pipeline_training_prep`` ships the survivors; this
    is the report that says WHY the other 40% died — the first chart
    on any curation dashboard.

    Scale: all five counters fold in ONE scan — four conditional sums
    plus one conditional count-distinct on the fingerprint — then
    unstack to 5 rows from the single aggregate row; no rescans, no
    joins, no window (stage 4 counts distinct fingerprints instead of
    materializing the keep-first winner set, which is the same number
    by construction)."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        X.word_count(F.col("text")).alias("n_words"),
        X.alpha_ratio(F.col("text")).alias("alpha_ratio"),
        X.lang_id(F.col("text")).alias("pred_lang"),
        X.bag_fingerprint(F.col("text")).alias("bag_fp"),
    )
    g1 = F.col("n_words") >= PREP_MIN_WORDS
    g2 = g1 & (F.col("alpha_ratio") > PREP_MIN_ALPHA)
    g3 = g2 & (F.col("pred_lang") == PREP_LANG)
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("c0"),
        F.sum(F.when(g1, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(g2, 1).otherwise(0)).cast("long").alias("c2"),
        F.sum(F.when(g3, 1).otherwise(0)).cast("long").alias("c3"),
        F.countDistinct(F.when(g3, F.col("bag_fp")))
        .cast("long")
        .alias("c4"),
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage"),
                F.lit(FUNNEL_STAGES[i]).alias("gate"),
                F.col(f"c{i}").alias("survivors"),
                (
                    (F.col(f"c{i - 1}") - F.col(f"c{i}"))
                    if i
                    else F.lit(0).cast("long")
                ).alias("dropped_here"),
            )
            for i in range(5)
        ]
    )
    return agg.select(F.explode(rows).alias("r")).select(
        F.col("r.stage").cast("int").alias("stage"),
        F.col("r.gate").alias("gate"),
        F.col("r.survivors").cast("long").alias("survivors"),
        F.col("r.dropped_here").cast("long").alias("dropped_here"),
    )


@query(
    "text_doc_prefix_dup",
    oracle=f"""
    WITH pref AS (
      SELECT doc_id, source,
             md5(substr(text, 1, {PREFIX_CHARS})) AS pfx
      FROM documents
    ),
    grp AS (
      SELECT pfx, count(*)::BIGINT AS n FROM pref GROUP BY 1
    ),
    j AS (
      SELECT p.source, g.n FROM pref p JOIN grp g USING (pfx)
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT
             AS docs_in_dup_groups,
           round(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS prefix_dup_rate
    FROM j GROUP BY 1
    """,
)
def text_doc_prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-overlap screen: per source, documents whose first
    {PREFIX_CHARS} characters collide with another document's. Crawl
    re-snapshots and truncation variants share prefixes while failing
    full-text exact dedup — a high prefix-dup rate with a low exact-dup
    rate is the classic "same page, different cutoff" signature that
    says run span-level dedup (``dedup_substring_spans``) on that feed.

    Scale: one md5 per document (narrow), one hash aggregate on the
    prefix key, and a group-size join back on the SAME key (shuffle
    partitioning reused); md5 keys spread uniformly so no skew
    defense is needed."""
    d = load_table(spark, sf_dir, "documents")
    pref = d.select(
        "source",
        F.md5(F.substring("text", 1, PREFIX_CHARS)).alias("pfx"),
    )
    grp = pref.groupBy("pfx").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    j = pref.join(grp, "pfx")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
        .cast("long")
        .alias("docs_in_dup_groups"),
        stable_round(
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("prefix_dup_rate"),
    )


def _rule_overlap_sql() -> str:
    """Pairwise match-overlap counters over the documents router
    program, single-pass (the ``_masking_oracle`` discipline)."""
    from kafka_go_streamer_spark.plans.routing_queries import DOCS_SPLITER

    splits = DOCS_SPLITER.resolved_splits()
    conds = []
    for rs in splits:
        pat = rs.pattern.replace("'", "''")
        if rs.use_regex:
            conds.append(f"regexp_matches(text, '{pat}')")
        else:
            conds.append(f"position('{pat}' in text) > 0")
    sums = [
        f"sum(CASE WHEN {c} THEN 1 ELSE 0 END)::BIGINT AS m{i}"
        for i, c in enumerate(conds)
    ]
    rows = []
    for i in range(len(conds)):
        for jj in range(i + 1, len(conds)):
            sums.append(
                f"sum(CASE WHEN ({conds[i]}) AND ({conds[jj]})"
                f" THEN 1 ELSE 0 END)::BIGINT AS b{i}_{jj}"
            )
            pi = splits[i].pattern.replace("'", "''")
            pj = splits[jj].pattern.replace("'", "''")
            rows.append(
                f"SELECT {i + 1} AS idx_a, {jj + 1} AS idx_b,"
                f" '{pi}' AS pattern_a, '{pj}' AS pattern_b,"
                f" m{i} AS n_match_a, m{jj} AS n_match_b,"
                f" b{i}_{jj} AS n_both,"
                f" round(b{i}_{jj} * 1.0"
                f" / nullif(m{i} + m{jj} - b{i}_{jj}, 0), 6)"
                f" AS overlap_jaccard FROM m"
            )
    return (
        "WITH m AS (SELECT "
        + ", ".join(sums)
        + " FROM documents) "
        + " UNION ALL ".join(rows)
    )


@query("route_rule_coverage_overlap", oracle=_rule_overlap_sql)
def route_rule_coverage_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise pattern-overlap matrix of the documents router: for
    every split pair (i, j), how many messages match BOTH extractors,
    with the match-set Jaccard. ``route_masking_analysis`` quantifies
    what first-match-wins costs each split; this shows WHERE that cost
    comes from — the specific pattern pairs competing for the same
    traffic (overlap ≈ 0 pairs can be reordered freely; high-overlap
    pairs are where reordering topic.yaml changes routing). Built from
    the SAME compiled Spliter as the production router.

    Scale: all k + k(k-1)/2 counters fold in ONE narrow scan (a single
    aggregate row), then unstack to the pair rows from that 1-row
    frame — no rescans, no joins."""
    from kafka_go_streamer_spark.plans.routing_queries import DOCS_SPLITER

    splits = DOCS_SPLITER.resolved_splits()
    conds = []
    for rs in splits:
        if rs.use_regex:
            conds.append(F.col("text").rlike(rs.pattern))
        else:
            conds.append(F.col("text").contains(rs.pattern))
    d = load_table(spark, sf_dir, "documents")
    aggs = [
        F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(f"m{i}")
        for i, c in enumerate(conds)
    ]
    pair_idx = []
    for i in range(len(conds)):
        for jj in range(i + 1, len(conds)):
            aggs.append(
                F.sum(F.when(conds[i] & conds[jj], 1).otherwise(0))
                .cast("long")
                .alias(f"b{i}_{jj}")
            )
            pair_idx.append((i, jj))
    m = d.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("idx_a"),
                F.lit(jj + 1).alias("idx_b"),
                F.lit(splits[i].pattern).alias("pattern_a"),
                F.lit(splits[jj].pattern).alias("pattern_b"),
                F.col(f"m{i}").alias("n_match_a"),
                F.col(f"m{jj}").alias("n_match_b"),
                F.col(f"b{i}_{jj}").alias("n_both"),
            )
            for i, jj in pair_idx
        ]
    )
    return m.select(F.explode(rows).alias("r")).select(
        F.col("r.idx_a").cast("int").alias("idx_a"),
        F.col("r.idx_b").cast("int").alias("idx_b"),
        "r.pattern_a",
        "r.pattern_b",
        F.col("r.n_match_a").cast("long").alias("n_match_a"),
        F.col("r.n_match_b").cast("long").alias("n_match_b"),
        F.col("r.n_both").cast("long").alias("n_both"),
        stable_round(
            F.col("r.n_both")
            * 1.0
            / F.nullif(
                F.col("r.n_match_a")
                + F.col("r.n_match_b")
                - F.col("r.n_both"),
                F.lit(0),
            ),
            6,
        ).alias("overlap_jaccard"),
    )


# --------------------------------------------------------------------
# wave 3: packing economics, community quality, ANN tuning curve,
# quality-vs-quantity frontier
# --------------------------------------------------------------------

def _fill_rate_sql() -> str:
    from kafka_go_streamer_spark.plans.registry import ORACLES
    from kafka_go_streamer_spark.plans.training_ops import PACK_CAP

    pack = ORACLES["pack_sequences_greedy"]
    return f"""
    WITH packed AS MATERIALIZED ({pack}),
    seqs AS (
      SELECT source, shard, seq_id,
             sum(n_tokens)::BIGINT AS seq_tokens,
             count(*)::BIGINT AS n_docs
      FROM packed GROUP BY 1, 2, 3
    )
    SELECT count(*)::BIGINT AS n_seqs,
           sum(n_docs)::BIGINT AS n_docs,
           sum(seq_tokens)::BIGINT AS total_tokens,
           round(avg(seq_tokens * 1.0 / {PACK_CAP}), 6) AS mean_fill,
           round(percentile_cont(0.5) WITHIN GROUP
                 (ORDER BY seq_tokens * 1.0 / {PACK_CAP}), 6) AS p50_fill,
           round(min(seq_tokens * 1.0 / {PACK_CAP}), 6) AS min_fill,
           sum(CASE WHEN seq_tokens > {PACK_CAP}
                    THEN 1 ELSE 0 END)::BIGINT AS n_oversize,
           sum(greatest({PACK_CAP} - seq_tokens, 0))::BIGINT
             AS padding_waste
    FROM seqs
    """


@query("pack_fill_rate_stats", oracle=_fill_rate_sql)
def pack_fill_rate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing economics: the fill-rate distribution of the greedy
    packer's output — mean/median/min fill against the PACK_CAP token
    budget, the count of oversized single-document sequences, and the
    total padding waste in tokens. Padding waste is compute burned on
    pad tokens at training time; this is the number that justifies (or
    kills) a smarter packer.

    Scale: composes ``pack_sequences_greedy`` (audited: hard-bounded
    shard groups) with one (source, shard, seq_id) aggregate and one
    global roll-up — nothing touches text."""
    from kafka_go_streamer_spark.plans.registry import QUERIES as _Q
    from kafka_go_streamer_spark.plans.training_ops import PACK_CAP

    packed = _Q["pack_sequences_greedy"](spark, sf_dir)
    seqs = packed.groupBy("source", "shard", "seq_id").agg(
        F.sum("n_tokens").cast("long").alias("seq_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    fill = F.col("seq_tokens") * 1.0 / PACK_CAP
    return seqs.agg(
        F.count(F.lit(1)).cast("long").alias("n_seqs"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("seq_tokens").cast("long").alias("total_tokens"),
        stable_round(F.avg(fill), 6).alias("mean_fill"),
        stable_round(F.percentile(fill, F.lit(0.5)), 6).alias("p50_fill"),
        stable_round(F.min(fill), 6).alias("min_fill"),
        F.sum(F.when(F.col("seq_tokens") > PACK_CAP, 1).otherwise(0))
        .cast("long")
        .alias("n_oversize"),
        F.sum(F.greatest(PACK_CAP - F.col("seq_tokens"), F.lit(0)))
        .cast("long")
        .alias("padding_waste"),
    )


#: nprobe settings swept by the recall curve (4 = every seed cell —
#: the exhaustive anchor where recall must hit 1.0).
NPROBE_SWEEP = (1, 2, 4)


def _nprobe_curve_sql() -> str:
    from kafka_go_streamer_spark.functions.vectors import cosine_sql
    from kafka_go_streamer_spark.plans.scale_ops import _ivf_cells_sql
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    branches = []
    for p in NPROBE_SWEEP:
        branches.append(f"""
    SELECT {p}::INTEGER AS nprobe,
           (SELECT count(*) FROM qs)::BIGINT AS n_queries,
           round(sum(hits) * 1.0 / (10 * (SELECT count(*) FROM qs)), 6)
             AS mean_recall_at_10
    FROM (
      SELECT g.q_id, count(c.vec_id) AS hits
      FROM gt g LEFT JOIN (
        SELECT q_id, vec_id FROM (
          SELECT s.q_id, s.vec_id,
                 row_number() OVER (
                   PARTITION BY s.q_id
                   ORDER BY s.sim DESC, s.vec_id ASC) AS rn
          FROM cand_scored s WHERE s.crank <= {p}
        ) WHERE rn <= 10
      ) c ON c.q_id = g.q_id AND c.vec_id = g.vec_id
      GROUP BY 1
    )""")
    return f"""
    WITH {_ivf_cells_sql()},
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
    qc AS MATERIALIZED (
      SELECT q_id, qv, cent_id,
             row_number() OVER (
               PARTITION BY q_id
               ORDER BY round({cosine_sql('cv', 'qv')}, 6) DESC,
                        cent_id ASC) AS crank
      FROM cents CROSS JOIN qs
    ),
    cand_scored AS MATERIALIZED (
      SELECT qc.q_id, cl.vec_id, qc.crank,
             round({cosine_sql('cl.embedding', 'qc.qv')}, 6) AS sim
      FROM cells cl JOIN qc ON cl.cell = qc.cent_id
      WHERE cl.vec_id <> qc.q_id
    )
    {" UNION ALL ".join(branches)}
    """


@query("ann_nprobe_recall_curve", oracle=_nprobe_curve_sql)
def ann_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: mean recall@10 of the seeded-cell IVF
    search at nprobe ∈ {NPROBE_SWEEP}, against brute-force ground
    truth over the fixed deterministic query panel.
    ``ann_recall_multiprobe`` reports the nprobe=2 point; this sweeps
    the knob — the table an operator reads to pick the latency/recall
    trade, with the all-cells anchor (nprobe = k) pinned at exactly
    1.0 by construction.

    Scale: ground truth and candidate scores each computed ONCE
    (panel × corpus and panel × probed-cells, panel FIXED by
    PANEL_MAX_ID — the hubness-cap discipline); the per-nprobe cuts
    re-rank the pinned panel-sized candidate frame, never the
    corpus."""
    from pyspark.sql import Window

    from kafka_go_streamer_spark.functions.vectors import cosine
    from kafka_go_streamer_spark.operators.iterate import pinned
    from kafka_go_streamer_spark.plans.scale_ops import (
        IVF_CENTROID_IDS,
        _ivf_cells,
    )
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < PANEL_MAX_ID)
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    wq = Window.partitionBy("q_id")
    gt = pinned(
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
    cents = emb.filter(F.col("vec_id").isin(*IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
    )
    qc = (
        cents.crossJoin(F.broadcast(qs))
        .select(
            "q_id",
            "qv",
            "cent_id",
            stable_round(cosine(F.col("cv"), F.col("qv")), 6).alias("qsim"),
        )
        .withColumn(
            "crank",
            F.row_number().over(
                wq.orderBy(F.col("qsim").desc(), F.col("cent_id").asc())
            ),
        )
        .select("q_id", "qv", "cent_id", "crank")
    )
    cells = _ivf_cells(spark, sf_dir)
    scored = pinned(
        cells.join(F.broadcast(qc), cells.cell == qc.cent_id)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "crank",
            stable_round(cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "sim"
            ),
        )
    )
    nq = qs.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    # nprobe as a DATA dimension instead of |sweep| unioned branches:
    # the cuts explode onto the pinned panel-sized candidate frame and
    # one window/join/aggregate serves the whole sweep (same collapse
    # as ann_ivf_operating_surface; fewer jobs, one linear plan)
    cand_all = (
        scored.select(
            "q_id",
            "vec_id",
            "crank",
            "sim",
            F.explode(
                F.array(*[F.lit(p) for p in NPROBE_SWEEP])
            ).alias("cnprobe"),
        )
        .filter(F.col("crank") <= F.col("cnprobe"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cnprobe", "q_id").orderBy(
                    F.col("sim").desc(), F.col("vec_id").asc()
                )
            ),
        )
        .filter(F.col("rn") <= 10)
        .select(
            F.col("q_id").alias("cq_id"),
            F.col("vec_id").alias("cand_id"),
            "cnprobe",
        )
    )
    gtp = gt.select(
        "q_id",
        "vec_id",
        F.explode(
            F.array(*[F.lit(p) for p in NPROBE_SWEEP])
        ).alias("nprobe"),
    )
    return (
        gtp.join(
            cand_all,
            (F.col("q_id") == F.col("cq_id"))
            & (F.col("vec_id") == F.col("cand_id"))
            & (F.col("nprobe") == F.col("cnprobe")),
            "left",
        )
        .groupBy("nprobe")
        .agg(F.count("cand_id").alias("tot_hits"))
        .crossJoin(F.broadcast(nq))
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "n_queries",
            stable_round(
                F.col("tot_hits") * 1.0 / (10 * F.col("n_queries")), 6
            ).alias("mean_recall_at_10"),
        )
    )


#: Stopword-ratio thresholds swept by the quality-budget frontier.
QUALITY_CUTS = (0.0, 0.05, 0.1, 0.15, 0.2)


def _quality_budget_sql() -> str:
    cases = []
    for i, t in enumerate(QUALITY_CUTS):
        cases.append(
            f"sum(CASE WHEN swr >= {t} THEN 1 ELSE 0 END)::BIGINT AS d{i},"
            f" sum(CASE WHEN swr >= {t} THEN n_tokens ELSE 0 END)::BIGINT"
            f" AS t{i}"
        )
    rows = []
    for i, t in enumerate(QUALITY_CUTS):
        rows.append(
            f"SELECT {t} AS threshold, d{i} AS n_docs, t{i} AS n_tokens,"
            f" round(d{i} * 1.0 / d0, 6) AS doc_share,"
            f" round(t{i} * 1.0 / t0, 6) AS token_share FROM agg"
        )
    return f"""
    WITH scored AS (
      SELECT round({X.stopword_hits_sql('text', 'en')} * 1.0
                   / greatest({X.word_count_sql('text')}, 1), 4) AS swr,
             {X.token_count_sql('text')} AS n_tokens
      FROM documents
    ),
    agg AS (SELECT {", ".join(cases)} FROM scored)
    {" UNION ALL ".join(rows)}
    """


@query("sample_quality_budget_curve", oracle=_quality_budget_sql)
def sample_quality_budget_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The quality-vs-quantity frontier: surviving documents and TOKENS
    at increasing stopword-ratio floors (the fluency proxy the quality
    gate uses) — the curve a data-budget decision actually reads:
    "filtering at 0.15 costs 40% of tokens, is the quality worth it?"
    Token accounting (not just doc counts) is the point: quality
    filters bite unevenly by length.

    Scale: all cut counters fold in ONE conditional aggregate over one
    scan (score bound once per row), unstacked in-plan to the
    threshold rows — the funnel discipline."""
    from kafka_go_streamer_spark.functions.text import (
        stopword_hits,
        word_count,
    )

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        stable_round(
            stopword_hits(F.col("text"), "en")
            * 1.0
            / F.greatest(word_count(F.col("text")), F.lit(1)),
            4,
        ).alias("swr"),
        X.token_count(F.col("text")).alias("n_tokens"),
    )
    aggs = []
    for i, t in enumerate(QUALITY_CUTS):
        keep = F.col("swr") >= t
        aggs.append(
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias(f"d{i}")
        )
        aggs.append(
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias(f"t{i}")
        )
    agg = scored.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(t).alias("threshold"),
                F.col(f"d{i}").alias("n_docs"),
                F.col(f"t{i}").alias("n_tokens"),
            )
            for i, t in enumerate(QUALITY_CUTS)
        ]
    )
    return agg.select(
        F.explode(rows).alias("r"), F.col("d0"), F.col("t0")
    ).select(
        F.col("r.threshold").alias("threshold"),
        F.col("r.n_docs").cast("long").alias("n_docs"),
        F.col("r.n_tokens").cast("long").alias("n_tokens"),
        stable_round(F.col("r.n_docs") * 1.0 / F.col("d0"), 6).alias(
            "doc_share"
        ),
        stable_round(F.col("r.n_tokens") * 1.0 / F.col("t0"), 6).alias(
            "token_share"
        ),
    )


def _span_coverage_sql() -> str:
    from kafka_go_streamer_spark.plans.registry import ORACLES

    spans = ORACLES["dedup_substring_spans"]
    return f"""
    WITH per_doc AS MATERIALIZED ({spans})
    SELECT d.source,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN p.n_dup_spans > 0 THEN 1 ELSE 0 END)::BIGINT
             AS docs_with_dup_span,
           sum(p.n_spans)::BIGINT AS n_spans,
           sum(p.n_dup_spans)::BIGINT AS n_dup_spans,
           round(sum(p.n_dup_spans) * 1.0
                 / greatest(sum(p.n_spans), 1), 6) AS span_dup_share,
           round(avg(p.dup_ratio), 6) AS mean_dup_ratio
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY 1
    """


@query("dedup_span_coverage_by_source", oracle=_span_coverage_sql)
def dedup_span_coverage_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source duplicated-span load: what fraction of each feed's
    8-word spans occur in other documents too (the Lee et al.
    "Deduplicating Training Data" coverage number, at triage grain).
    Read with ``text_doc_prefix_dup``: high span share + low prefix
    dup = interleaved template reuse; both high = snapshot overlap —
    they pick DIFFERENT remediations.

    Scale: composes the audited per-doc span stats (span keys only,
    doc pairs never materialize) with one source-grain rollup."""
    from kafka_go_streamer_spark.plans.registry import QUERIES as _Q

    per_doc = _Q["dedup_substring_spans"](spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_dup_spans") > 0, 1).otherwise(0))
            .cast("long")
            .alias("docs_with_dup_span"),
            F.sum("n_spans").cast("long").alias("n_spans"),
            F.sum("n_dup_spans").cast("long").alias("n_dup_spans"),
            stable_round(
                F.sum("n_dup_spans")
                * 1.0
                / F.greatest(F.sum("n_spans"), F.lit(1)),
                6,
            ).alias("span_dup_share"),
            stable_round(F.avg("dup_ratio"), 6).alias("mean_dup_ratio"),
        )
    )


#: recall@k grid evaluated at a fixed nprobe (the knee from the
#: recall/cost frontier).
RECALL_K_GRID = (1, 5, 10)
RECALL_K_NPROBE = 2


def _recall_at_k_sql() -> str:
    from kafka_go_streamer_spark.functions.vectors import cosine_sql
    from kafka_go_streamer_spark.plans.scale_ops import _ivf_cells_sql
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    branches = []
    for k in RECALL_K_GRID:
        branches.append(f"""
    SELECT {k}::INTEGER AS k,
           (SELECT count(*) FROM qs)::BIGINT AS n_queries,
           round(sum(hits) * 1.0 / ({k} * (SELECT count(*) FROM qs)), 6)
             AS mean_recall_at_k
    FROM (
      SELECT g.q_id, count(c.vec_id) AS hits
      FROM (SELECT q_id, vec_id FROM gt WHERE rn <= {k}) g
      LEFT JOIN (
        SELECT q_id, vec_id FROM cand WHERE rn <= {k}
      ) c ON c.q_id = g.q_id AND c.vec_id = g.vec_id
      GROUP BY 1
    )""")
    return f"""
    WITH {_ivf_cells_sql()},
    qs AS MATERIALIZED (
      SELECT vec_id AS q_id, embedding AS qv
      FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < {PANEL_MAX_ID}
    ),
    gt AS MATERIALIZED (
      SELECT q_id, vec_id, rn FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY round({cosine_sql('e.embedding', 'q.qv')}, 6) DESC,
                          e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN qs q
        WHERE e.vec_id <> q.q_id
      ) WHERE rn <= {max(RECALL_K_GRID)}
    ),
    qc AS MATERIALIZED (
      SELECT q_id, qv, cent_id,
             row_number() OVER (
               PARTITION BY q_id
               ORDER BY round({cosine_sql('cv', 'qv')}, 6) DESC,
                        cent_id ASC) AS crank
      FROM cents CROSS JOIN qs
    ),
    cand AS MATERIALIZED (
      SELECT q_id, vec_id, rn FROM (
        SELECT qc.q_id, cl.vec_id,
               row_number() OVER (
                 PARTITION BY qc.q_id
                 ORDER BY round({cosine_sql('cl.embedding', 'qc.qv')}, 6)
                          DESC, cl.vec_id ASC) AS rn
        FROM cells cl JOIN qc ON cl.cell = qc.cent_id
        WHERE cl.vec_id <> qc.q_id AND qc.crank <= {RECALL_K_NPROBE}
      ) WHERE rn <= {max(RECALL_K_GRID)}
    )
    {" UNION ALL ".join(branches)}
    """


@query("ann_recall_at_k_grid", oracle=_recall_at_k_sql)
def ann_recall_at_k_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall surface's OTHER axis: mean recall@k for k ∈ {1, 5,
    10} at the fixed nprobe=2 operating point (the knee the cost
    frontier picks). ``ann_nprobe_recall_curve`` sweeps nprobe at
    k=10; serving teams also need the k-axis — recall@1 is the
    "did the single best neighbor survive" number a rerank-free
    serving path lives on, and a gap between recall@1 and recall@10
    says the index loses the TOP of the ranking specifically.

    Scale: identical discipline to the curve — ground truth computed
    ONCE against the FIXED panel (PANEL_MAX_ID), candidates scored
    once over the probed cells, per-k cuts re-rank the pinned
    panel-sized frames only."""
    from pyspark.sql import Window

    from kafka_go_streamer_spark.functions.vectors import cosine
    from kafka_go_streamer_spark.operators.iterate import pinned
    from kafka_go_streamer_spark.plans.scale_ops import (
        IVF_CENTROID_IDS,
        _ivf_cells,
    )
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < PANEL_MAX_ID)
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    wq = Window.partitionBy("q_id")
    kmax = max(RECALL_K_GRID)
    gt = pinned(
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
        .filter(F.col("rn") <= kmax)
        .select("q_id", "vec_id", "rn")
    )
    cents = emb.filter(F.col("vec_id").isin(*IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
    )
    qc = (
        cents.crossJoin(F.broadcast(qs))
        .select(
            "q_id",
            "qv",
            "cent_id",
            stable_round(cosine(F.col("cv"), F.col("qv")), 6).alias("qsim"),
        )
        .withColumn(
            "crank",
            F.row_number().over(
                wq.orderBy(F.col("qsim").desc(), F.col("cent_id").asc())
            ),
        )
        .filter(F.col("crank") <= RECALL_K_NPROBE)
        .select("q_id", "qv", "cent_id")
    )
    cells = _ivf_cells(spark, sf_dir)
    cand = pinned(
        cells.join(F.broadcast(qc), cells.cell == qc.cent_id)
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
        .filter(F.col("rn") <= kmax)
        .select("q_id", "vec_id", "rn")
    )
    nq = qs.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    # k as a DATA dimension: gt and cand both carry their rank, so one
    # equi-join gives every (gt, cand) agreement with rmax =
    # greatest(rank_gt, rank_cand), and hits@k is simply rmax <= k —
    # |grid| unioned join branches collapse to one join + one
    # conditional aggregate (same collapse as ann_ivf_operating_surface)
    j = gt.join(
        cand.select(
            F.col("q_id").alias("cq_id"),
            F.col("vec_id").alias("cand_id"),
            F.col("rn").alias("crn"),
        ),
        (F.col("q_id") == F.col("cq_id"))
        & (F.col("vec_id") == F.col("cand_id")),
    ).select(F.greatest("rn", "crn").alias("rmax"))
    tot = j.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("rmax") <= k, 1).otherwise(0)), F.lit(0)
            ).alias(f"h{k}")
            for k in RECALL_K_GRID
        ]
    )
    return (
        tot.crossJoin(F.broadcast(nq))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("int").alias("k"),
                            F.col("n_queries").alias("n_queries"),
                            stable_round(
                                F.col(f"h{k}")
                                * 1.0
                                / (k * F.col("n_queries")),
                                6,
                            ).alias("mean_recall_at_k"),
                        )
                        for k in RECALL_K_GRID
                    ]
                )
            ).alias("s")
        )
        .select("s.k", "s.n_queries", "s.mean_recall_at_k")
    )
