"""Round-12 wave 4: trust-the-pipeline audits — classifier calibration,
privacy risk, estimator fidelity, cross-source structure, and the
mixture planner.

* ``quality_calibration_bins`` — reliability table for the frozen
  quality classifier (``text_quality_classifier``): decile score bins
  vs the observed rate of the gate-chain label. A filtering model is
  only as trustworthy as its calibration; this is the table that says
  whether "score 0.8" means 80%.

* ``privacy_k_anonymity`` — k-anonymity profile of the document
  corpus under the (lang, source, length-bin) quasi-identifier: the
  share of documents sitting in equivalence classes smaller than k
  for k ∈ {2, 5, 10} — the re-identification risk screen run before
  releasing corpus metadata.

* ``text_cross_source_overlap`` — pairwise vocabulary Jaccard between
  sources: which feeds are near-mirrors of each other (candidates for
  source-level dedup) and which contribute genuinely new text.

* ``dedup_minhash_estimator_error`` — fidelity of the K=4 MinHash
  Jaccard estimator on the LSH candidate pairs: signature-agreement
  estimate vs exact shingle Jaccard, binned by true similarity — the
  bias/MAE table that justifies (or grows) the signature width.

* ``dedup_component_size_histogram`` — duplicate-cluster size
  distribution from the connected-components assignment: singletons
  through the largest cluster, with corpus share — the one-glance
  "is duplication pairwise or viral" answer that picks between
  keep-one-per-pair and cluster-canonical dedup.

* ``sample_language_budget`` — per-language token allocation against
  a 50%-of-corpus training budget with a uniform language target:
  first-pass allocation capped by availability, then ONE closed-form
  proportional-headroom refill of the resulting deficit (never
  overflows: the deficit is at most the total headroom by
  construction). The multilingual mixture planner's worksheet.

Scale discipline: everything aggregates small — score bins (10),
k grid (3), source pairs (≤ S²/2 with single-digit-to-dozens S),
language rows (5), component-size rows (≤ max cluster size). The
estimator audit inherits the banded+capped candidate discipline, and
the vocabulary join fans each word by at most the source count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions import text as X
from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.plans.registry import query
from kafka_go_streamer_spark.sources.tables import cpu_fan, load_table

#: k-anonymity thresholds reported by the privacy profile.
K_ANON_GRID = (2, 5, 10)

#: Character-length bin width for the quasi-identifier.
QI_LEN_BIN = 100

#: Training-budget share of total corpus tokens for the language
#: mixture planner.
LANG_BUDGET_SHARE = 0.5


def _calibration_sql() -> str:
    from kafka_go_streamer_spark.plans.text import (
        QC_W0,
        QC_W_ALPHA,
        QC_W_LOGWC,
        QC_W_MWL,
        QC_W_STOP,
    )

    return f"""
    WITH f AS (
      SELECT ln({X.word_count_sql('text')} + 1) AS logwc,
             {X.mean_word_len_sql(X.words_sql('text'))} AS mwl,
             {X.alpha_ratio_sql('text')} AS alpha,
             {X.stopword_hits_sql('text', 'en')} * 1.0 /
               greatest({X.word_count_sql('text')}, 1) AS stopshare,
             CASE WHEN {X.word_count_sql('text')} >= 20
                   AND {X.alpha_ratio_sql('text')} > 0.6
                   AND {X.lang_id_sql('text')} = 'en'
                  THEN 1 ELSE 0 END AS gold
      FROM documents
    ),
    scored AS (
      SELECT round(1.0 / (1.0 + exp(-({QC_W0} + {QC_W_LOGWC} * logwc
               + {QC_W_MWL} * mwl + {QC_W_ALPHA} * alpha
               + {QC_W_STOP} * stopshare))), 4) AS score,
             gold
      FROM f
    )
    SELECT least(floor(score * 10), 9)::INTEGER AS bin,
           count(*)::BIGINT AS n_docs,
           round(avg(score), 4) AS mean_score,
           round(avg(gold * 1.0), 4) AS pos_rate,
           round(avg(gold * 1.0) - avg(score), 4) AS gap
    FROM scored GROUP BY 1
    """


def scored_gold(d: DataFrame) -> DataFrame:
    """(score, gold) projection of a documents-like frame (needs a
    ``text`` column, passes any other columns through): the frozen
    classifier's 4dp-rounded probability next to the gate-chain label.
    The ONE scoring stage shared by ``quality_calibration_bins``
    (and so its streaming monitor, through ``calibration_counters``)
    and ``quality_ece_summary`` — so batch and stream can never
    silently score differently."""
    from kafka_go_streamer_spark.plans.text import (
        QC_W0,
        QC_W_ALPHA,
        QC_W_LOGWC,
        QC_W_MWL,
        QC_W_STOP,
    )

    wc = X.word_count(F.col("text"))
    keep = [c for c in d.columns if c != "text"]
    f = d.select(
        *keep,
        F.log(wc + F.lit(1)).alias("logwc"),
        X.mean_word_len(X.words(F.col("text"))).alias("mwl"),
        X.alpha_ratio(F.col("text")).alias("alpha"),
        (
            X.stopword_hits(F.col("text"), "en")
            * 1.0
            / F.greatest(wc, F.lit(1))
        ).alias("stopshare"),
        F.when(
            (wc >= 20)
            & (X.alpha_ratio(F.col("text")) > 0.6)
            & (X.lang_id(F.col("text")) == "en"),
            1,
        )
        .otherwise(0)
        .alias("gold"),
    )
    z = (
        F.lit(QC_W0)
        + QC_W_LOGWC * F.col("logwc")
        + QC_W_MWL * F.col("mwl")
        + QC_W_ALPHA * F.col("alpha")
        + QC_W_STOP * F.col("stopshare")
    )
    return f.select(
        *keep,
        stable_round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4).alias(
            "score"
        ),
        "gold",
    )


def calibration_counters(d: DataFrame) -> DataFrame:
    """Per-bin counters (bin, n_docs, sum_score, sum_gold) of a
    documents-like frame (needs ``text``). Plain sums, so the counters
    of any split of the corpus merge with
    ``streaming.partials.merge_partials`` (the streaming calibration
    monitor); the merged float sums differ from one pass only in
    association-order ulps, which the 4 dp ``stable_round`` absorbs."""
    scored = scored_gold(d.select("text"))
    return scored.groupBy(
        F.least(F.floor(F.col("score") * 10), F.lit(9))
        .cast("int")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("score").alias("sum_score"),
        F.sum(F.col("gold") * 1.0).alias("sum_gold"),
    )


def publish_calibration(counters: DataFrame) -> DataFrame:
    """The reliability table from ``calibration_counters`` rows. Each
    mean is Σ/n, exactly Spark's ``avg``, and the gap is the
    difference of the two means."""
    mean_score = F.col("sum_score") / F.col("n_docs")
    pos_rate = F.col("sum_gold") / F.col("n_docs")
    return counters.select(
        "bin",
        "n_docs",
        stable_round(mean_score, 4).alias("mean_score"),
        stable_round(pos_rate, 4).alias("pos_rate"),
        stable_round(pos_rate - mean_score, 4).alias("gap"),
    )


@query("quality_calibration_bins", oracle=_calibration_sql)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the frozen logistic quality classifier:
    documents binned by predicted score decile, each bin reporting its
    size, mean predicted score, observed positive rate of the
    gate-chain label (word-count + alpha-ratio + language — the weak
    gold a heuristic filter is actually deployed against), and the
    signed calibration gap. A well-calibrated filter has gap ≈ 0
    everywhere; a bin with mean score 0.8 and positive rate 0.4 means
    the threshold the pipeline ships is lying about its precision —
    the per-bin view an expected-calibration-error summary hides.

    Scale: features, sigmoid, and the gold label are one narrow
    codegen projection (the classifier's own audited inference path);
    the reliability table is one map-side-combined aggregate on a
    10-value key. The score is rounded at 4dp on both engines BEFORE
    the decile floor, so bin edges are deterministic."""
    # cpu_fan: the per-byte text stage below is CPU-dense and the
    # fixture scan is one row group (one task) — measured SERIAL at
    # sf1.0 (r17 c8-vs-c32 sweep, ratio ~1.0). Row-aware width: the
    # full-parallelism fan measured +0.5-2.5 s at sf0.1 (pinned
    # frames fan every downstream stage); see sources/tables.cpu_fan.
    d = cpu_fan(spark, load_table(spark, sf_dir, "documents"), sf_dir)
    return publish_calibration(calibration_counters(d))


def qi_class_counters(d: DataFrame) -> DataFrame:
    """Quasi-identifier class sizes (lang, source, len_bin, c) of a
    documents-like frame (needs lang, source, n_chars). Integer sums:
    the counters of any split merge exactly with
    ``streaming.partials.merge_partials``."""
    return d.groupBy(
        "lang",
        "source",
        F.expr(f"n_chars div {QI_LEN_BIN}").alias("len_bin"),
    ).agg(F.count(F.lit(1)).alias("c"))


def publish_k_anonymity(classes: DataFrame) -> DataFrame:
    """The k-grid profile from ``qi_class_counters`` rows."""
    fanned = classes.select(
        "c",
        F.explode(
            F.array(*[F.lit(k) for k in K_ANON_GRID])
        ).alias("k"),
    )
    return (
        fanned.groupBy(F.col("k").cast("int").alias("k"))
        .agg(
            F.sum(F.when(F.col("c") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_classes_below"),
            F.sum(F.when(F.col("c") < F.col("k"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_docs_below"),
            F.sum("c").alias("_n_total"),
        )
        .select(
            "k",
            "n_classes_below",
            "n_docs_below",
            stable_round(
                F.col("n_docs_below") * 1.0 / F.col("_n_total"), 6
            ).alias("doc_share"),
        )
    )


@query(
    "privacy_k_anonymity",
    oracle=f"""
    WITH classes AS (
      SELECT lang, source, n_chars // {QI_LEN_BIN} AS len_bin,
             count(*) AS c
      FROM documents GROUP BY 1, 2, 3
    ),
    totals AS (
      SELECT sum(c) AS n_total FROM classes
    ),
    grid AS (
      SELECT unnest([{", ".join(str(k) for k in K_ANON_GRID)}]) AS k
    )
    SELECT g.k::INTEGER AS k,
           sum(CASE WHEN c < g.k THEN 1 ELSE 0 END)::BIGINT
             AS n_classes_below,
           sum(CASE WHEN c < g.k THEN c ELSE 0 END)::BIGINT
             AS n_docs_below,
           round(sum(CASE WHEN c < g.k THEN c ELSE 0 END) * 1.0
                 / (SELECT n_total FROM totals), 6) AS doc_share
    FROM classes CROSS JOIN grid g
    GROUP BY g.k
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk profile of the corpus metadata under the
    (lang, source, 100-char length bin) quasi-identifier: for each k
    in the grid, how many equivalence classes are smaller than k and
    what share of documents they hold. A document alone in its class
    is re-identifiable from metadata alone; this is the screen a
    release process runs BEFORE publishing per-document metadata —
    the corpus-scale version of the classic k-anonymity audit.

    Scale: one map-side-combined aggregate collapses the corpus to
    its equivalence classes (bounded by lang × source × length-bin
    cardinality, thousands at most), then a constant-size grid fan
    over the tiny class frame — the fact table is scanned exactly
    once and never joined."""
    d = load_table(spark, sf_dir, "documents")
    return publish_k_anonymity(qi_class_counters(d))


@query(
    "text_cross_source_overlap",
    oracle=f"""
    WITH vocab AS (
      SELECT DISTINCT source, unnest({X.words_sql('text')}) AS word
      FROM documents
    ),
    sizes AS (
      SELECT source, count(*) AS v FROM vocab GROUP BY source
    ),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_common
      FROM vocab a JOIN vocab b
        ON a.word = b.word AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b,
           sa.v::BIGINT AS vocab_a, sb.v::BIGINT AS vocab_b,
           i.n_common::BIGINT AS n_common,
           round(i.n_common * 1.0 / (sa.v + sb.v - i.n_common), 6)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
)
def text_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between document sources: for every
    source pair, the two vocabulary sizes, the shared-word count, and
    the Jaccard overlap. Two feeds at Jaccard 0.9 are near-mirrors —
    candidates for source-level dedup before any per-document pass
    spends compute; a feed overlapping nothing is the diversity the
    mixture planner wants to up-weight. Read with
    ``text_js_divergence_sources`` (distributional) — this is the
    set-membership view.

    Scale: ONE exploded scan collapses to the distinct (source, word)
    vocabulary (map-side combinable); the pair counts come from a
    self-equi-join ON WORD, so each word fans by at most the source
    count (dozens), never the corpus — the join output is bounded by
    vocab × S², not documents². Final arithmetic runs on the ≤ S²/2
    pair frame."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(
            "source", F.explode(X.words(F.col("text"))).alias("word")
        )
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("v").alias("va")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("v").alias("vb")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("va").cast("long").alias("vocab_a"),
            F.col("vb").cast("long").alias("vocab_b"),
            F.col("n_common").cast("long").alias("n_common"),
            stable_round(
                F.col("n_common")
                * 1.0
                / (F.col("va") + F.col("vb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def _estimator_error_sql() -> str:
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
    agree = " + ".join(
        f"CASE WHEN sa.sig{k} = sb.sig{k} THEN 1 ELSE 0 END"
        for k in range(NUM_HASHES)
    )
    inter = "len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))"
    exact = (
        f"{inter} * 1.0 / (len(sa.sh) + len(sb.sh) - {inter})"
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
    bands AS (
      SELECT id, band, key FROM (
        SELECT *, count(*) OVER (PARTITION BY band, key) AS _bucket_n
        FROM bands0
      ) WHERE _bucket_n <= {MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.id < b.id
    ),
    pairs AS (
      SELECT ({agree}) * 1.0 / {NUM_HASHES} AS est,
             {exact} AS exact
      FROM cand c
      JOIN sigs sa ON c.id_a = sa.id
      JOIN sigs sb ON c.id_b = sb.id
    )
    SELECT least(floor(exact * 4), 3)::INTEGER AS jbin,
           count(*)::BIGINT AS n_pairs,
           round(avg(est), 4) AS mean_est,
           round(avg(exact), 4) AS mean_exact,
           round(avg(est - exact), 4) AS bias,
           round(avg(abs(est - exact)), 4) AS mae
    FROM pairs GROUP BY 1
    """


@query("dedup_minhash_estimator_error", oracle=_estimator_error_sql)
def dedup_minhash_estimator_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fidelity audit of the K-hash MinHash Jaccard estimator on the
    LSH candidate pairs the dedup pipeline actually surfaces:
    signature-agreement estimate (share of the K minhashes that
    agree) vs exact shingle Jaccard, binned by true similarity
    quartile — per bin, the estimator's bias and MAE. With K=4 the
    estimate is quarter-grained, so the MAE column IS the measured
    cost of the cheap signature; this table is the evidence a team
    needs before spending 4× the signature bytes on K=16.

    Scale: signatures, banding, and the bucket cap are the SAME
    audited path production candidate generation uses
    (operators/dedup.py — bounded per-bucket fan, never all pairs);
    the audit adds one arithmetic projection over the candidate frame
    and a 4-row aggregate. Exact Jaccard runs only on candidates."""
    from kafka_go_streamer_spark.operators.dedup import (
        NUM_HASHES,
        band_rows,
        cap_bucket,
        jaccard,
        with_minhash,
    )

    d = load_table(spark, sf_dir, "documents")
    sigs = with_minhash(
        d.select("doc_id", "text"), "text"
    ).localCheckpoint(eager=True)
    bands = cap_bucket(band_rows(sigs, "doc_id"), "band", "key")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    side = sigs.select(
        F.col("doc_id").alias("id"),
        F.col("_shingles"),
        *[F.col(f"sig{k}") for k in range(NUM_HASHES)],
    )
    agree = sum(
        F.when(F.col(f"sa.sig{k}") == F.col(f"sb.sig{k}"), 1).otherwise(0)
        for k in range(NUM_HASHES)
    )
    pairs = (
        cand.join(side.alias("sa"), F.col("id_a") == F.col("sa.id"))
        .join(side.alias("sb"), F.col("id_b") == F.col("sb.id"))
        .select(
            (agree * 1.0 / NUM_HASHES).alias("est"),
            jaccard(F.col("sa._shingles"), F.col("sb._shingles")).alias(
                "exact"
            ),
        )
    )
    return pairs.groupBy(
        F.least(F.floor(F.col("exact") * 4), F.lit(3))
        .cast("int")
        .alias("jbin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        stable_round(F.avg("est"), 4).alias("mean_est"),
        stable_round(F.avg("exact"), 4).alias("mean_exact"),
        stable_round(F.avg(F.col("est") - F.col("exact")), 4).alias("bias"),
        stable_round(
            F.avg(F.abs(F.col("est") - F.col("exact"))), 4
        ).alias("mae"),
    )


def _component_histogram_sql() -> str:
    from kafka_go_streamer_spark.plans.registry import ORACLES

    comp = ORACLES["dedup_connected_components"]
    return f"""
    WITH comp AS MATERIALIZED ({comp})
    SELECT component_size::BIGINT AS component_size,
           count(DISTINCT component_id)::BIGINT AS n_components,
           count(*)::BIGINT AS n_docs,
           round(count(*) * 1.0 / sum(count(*)) OVER (), 6) AS doc_share
    FROM comp GROUP BY 1
    """


@query(
    "dedup_component_size_histogram", oracle=_component_histogram_sql
)
def dedup_component_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-cluster size distribution: the connected-components
    assignment histogrammed by component size — how many clusters of
    each size exist and what share of the corpus they hold (size 1 =
    the unduplicated majority). Mass at size 2 means pairwise copies
    (keep-one is cheap); a fat tail means viral templates where the
    cluster-canonical strategy and its accounting
    (``dedup_cluster_manifest``) earn their shuffle. This is the
    chart that sizes the dedup job's skew risk: the largest component
    is the hottest key downstream.

    Scale: everything above the histogram is the audited
    contraction-loop CC (O(candidate pairs) per round), run WITHOUT
    the isolated-nodes union: component sizes come from one aggregate
    over the touched-node label frame (every size >= 2 component,
    exactly), the size-1 row is pure count arithmetic (corpus count
    minus touched count — isolated docs are singleton components by
    construction), and the share column is window arithmetic over the
    ≤ max-cluster-size histogram frame. The former doc-grain spelling
    paid a corpus-wide window (count per component) plus a
    countDistinct Expand over the full assignment just to re-derive
    counts this form reads off the label frame directly."""
    from kafka_go_streamer_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", min_intersection=2)
    labels = connected_components(
        docs.select(F.col("doc_id").alias("id")),
        pairs.select("id_a", "id_b"),
        include_isolated=False,
    )
    from kafka_go_streamer_spark.operators.iterate import pinned

    # pinned: the tiny (≤ max-cluster-size rows) histogram frame feeds
    # both the touched-count aggregate and the final union — unpinned,
    # each consumer re-evaluates the whole contraction label chain
    grp = pinned(
        labels.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy(F.col("sz").cast("long").alias("component_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.sum("sz").cast("long").alias("n_docs"),
        )
    )
    n_total = docs.agg(F.count(F.lit(1)).alias("n_corpus"))
    n_touched = grp.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_touched")
    )
    singles = (
        n_total.crossJoin(F.broadcast(n_touched))
        .select(
            F.lit(1).cast("long").alias("component_size"),
            (F.col("n_corpus") - F.col("n_touched"))
            .cast("long")
            .alias("n_components"),
            (F.col("n_corpus") - F.col("n_touched"))
            .cast("long")
            .alias("n_docs"),
        )
        .filter(F.col("n_docs") > 0)
    )
    return grp.unionByName(singles).select(
        "component_size",
        "n_components",
        "n_docs",
        stable_round(
            F.col("n_docs")
            * 1.0
            / F.sum("n_docs").over(Window.partitionBy()),
            6,
        ).alias("doc_share"),
    )


def lang_token_counters(d: DataFrame) -> DataFrame:
    """Per-language token counters (lang, avail) of a documents-like
    frame (needs lang, text). Integer sums: the counters of any split
    merge exactly with ``streaming.partials.merge_partials``."""
    return d.groupBy("lang").agg(
        F.sum(X.token_count(F.col("text"))).cast("long").alias("avail")
    )


def allocation_from_per_lang(per_lang: DataFrame) -> DataFrame:
    """The closed-form uniform-target allocation from
    ``lang_token_counters`` rows (lang, avail) — the publish step of
    ``sample_language_budget`` and of its streaming monitor, so batch
    and stream can never silently allocate differently. Input frame is
    language-bounded (single-digit rows); every window below runs on
    it."""
    w = Window.partitionBy()
    base = per_lang.select(
        "lang",
        "avail",
        (F.sum("avail").over(w) * LANG_BUDGET_SHARE).alias("budget"),
        F.count(F.lit(1)).over(w).alias("n_langs"),
    )
    pass1 = base.select(
        "lang",
        "avail",
        "budget",
        F.least(
            F.col("avail") * 1.0, F.col("budget") / F.col("n_langs")
        ).alias("alloc1"),
        (
            F.col("avail")
            - F.least(
                F.col("avail") * 1.0, F.col("budget") / F.col("n_langs")
            )
        ).alias("headroom"),
        "n_langs",
    )
    pass2 = pass1.select(
        "lang",
        "avail",
        "budget",
        "alloc1",
        "headroom",
        "n_langs",
        (F.col("budget") - F.sum("alloc1").over(w)).alias("deficit"),
        F.sum("headroom").over(w).alias("total_headroom"),
    )
    extra = F.when(
        F.col("total_headroom") > 0,
        F.col("deficit") * F.col("headroom") / F.col("total_headroom"),
    ).otherwise(0.0)
    return pass2.select(
        "lang",
        F.col("avail").alias("avail_tokens"),
        stable_round(F.col("budget") / F.col("n_langs"), 2).alias(
            "target_tokens"
        ),
        stable_round(F.col("alloc1") + extra, 2).alias("alloc_tokens"),
        stable_round(
            (F.col("alloc1") + extra) / F.greatest(F.col("avail"), F.lit(1)),
            6,
        ).alias("fill_share"),
    )


@query(
    "sample_language_budget",
    oracle=f"""
    WITH per_lang AS (
      SELECT lang, sum({X.token_count_sql('text')})::BIGINT AS avail
      FROM documents GROUP BY lang
    ),
    base AS (
      SELECT lang, avail,
             sum(avail) OVER () * {LANG_BUDGET_SHARE} AS budget,
             count(*) OVER () AS n_langs
      FROM per_lang
    ),
    pass1 AS (
      SELECT lang, avail, budget,
             least(avail * 1.0, budget / n_langs) AS alloc1,
             avail - least(avail * 1.0, budget / n_langs) AS headroom
      FROM base
    ),
    pass2 AS (
      SELECT lang, avail, budget, alloc1, headroom,
             budget - sum(alloc1) OVER () AS deficit,
             sum(headroom) OVER () AS total_headroom
      FROM pass1
    )
    SELECT lang, avail AS avail_tokens,
           round(budget / (SELECT count(*) FROM per_lang), 2)
             AS target_tokens,
           round(alloc1 + CASE WHEN total_headroom > 0
                 THEN deficit * headroom / total_headroom
                 ELSE 0 END, 2) AS alloc_tokens,
           round((alloc1 + CASE WHEN total_headroom > 0
                 THEN deficit * headroom / total_headroom
                 ELSE 0 END) / greatest(avail, 1), 6) AS fill_share
    FROM pass2
    """,
)
def sample_language_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual token-budget allocation: spend LANG_BUDGET_SHARE of
    the corpus's tokens across languages toward a UNIFORM per-language
    target, capping each language at what it actually has, then refill
    the resulting deficit across languages with headroom in ONE
    closed-form proportional pass (extra_i = deficit × headroom_i /
    Σheadroom — which can never overshoot a language's availability
    because the deficit is at most the total headroom by
    construction). Low-resource languages get everything they have;
    the surplus flows to the rest — the worksheet behind every
    multilingual mixture decision, with fill_share exposing who is
    epoch-limited.

    Scale: one map-side-combined aggregate collapses the corpus to
    its language rows; every window below runs on that single-digit
    frame. The allocation is deterministic closed-form arithmetic —
    no iterative water-filling loop, no driver-side solver."""
    d = load_table(spark, sf_dir, "documents")
    return allocation_from_per_lang(lang_token_counters(d))


#: Top-of-vocabulary size for the Zipf fit.
ZIPF_TOP_N = 1000


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH freq AS (
      SELECT word, count(*) AS c FROM (
        SELECT unnest({{words}}) AS word FROM documents
      ) GROUP BY word
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, word ASC) AS r
      FROM freq
    ),
    pts AS (
      SELECT ln(r * 1.0) AS x, ln(c * 1.0) AS y
      FROM ranked WHERE r <= {ZIPF_TOP_N}
    ),
    m AS (
      SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
             sum(x * y) AS sxy, sum(x * x) AS sxx,
             sum(y * y) AS syy
      FROM pts
    )
    SELECT n::BIGINT AS n_words,
           round((sxy - n * mx * my) / (sxx - n * mx * mx), 6) AS slope,
           round(my - (sxy - n * mx * my) / (sxx - n * mx * mx) * mx, 6)
             AS intercept,
           round(pow(sxy - n * mx * my, 2) /
                 ((sxx - n * mx * mx) * (syy - n * my * my)), 6) AS r2
    FROM m
    """.replace("{words}", "string_split_regex(lower(trim(text)), '\\s+')"),
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of ln(frequency)
    on ln(rank) for the top ZIPF_TOP_N words — slope (healthy natural
    text sits near −1), intercept, and R². A corpus whose slope drifts
    toward 0 is template/boilerplate-heavy; one far below −1 has a
    vocabulary collapse — either way it's the single-number lexical
    tripwire a crawl refresh is checked against before training.

    Scale: one exploded scan collapses to the vocabulary frame
    (map-side combinable); the top-N cut is ``orderBy().limit(N)`` —
    TakeOrderedAndProject, per-partition heaps + a driver-side merge
    of N rows — so the FULL vocabulary (10^8+ words at corpus scale)
    is never ranked in one task. Only the N-row survivor frame gets a
    ``row_number`` (same total order, so ranks — and the hash — are
    unchanged); the fit reads the fixed top-N and the closed-form OLS
    is one aggregate row — the same discipline as
    ``text_mean_word_rank``/``stats_groupwise_ols``. Plan-asserted
    (tests/test_plan_shapes.py): TakeOrderedAndProject present, no
    Window over the vocabulary frame."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(X.words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = freq.orderBy(F.col("c").desc(), F.col("word").asc()).limit(
        ZIPF_TOP_N
    )
    ranked = top.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), F.col("word").asc()))
        .alias("r"),
    )
    pts = ranked.select(
        F.log(F.col("r") * 1.0).alias("x"), F.log(F.col("c") * 1.0).alias("y")
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cov = F.col("sxy") - F.col("n") * F.col("mx") * F.col("my")
    varx = F.col("sxx") - F.col("n") * F.col("mx") * F.col("mx")
    vary = F.col("syy") - F.col("n") * F.col("my") * F.col("my")
    return m.select(
        F.col("n").cast("long").alias("n_words"),
        stable_round(cov / varx, 6).alias("slope"),
        stable_round(F.col("my") - cov / varx * F.col("mx"), 6).alias(
            "intercept"
        ),
        stable_round(cov * cov / (varx * vary), 6).alias("r2"),
    )


def _ece_summary_sql() -> str:
    from kafka_go_streamer_spark.plans.text import (
        QC_W0,
        QC_W_ALPHA,
        QC_W_LOGWC,
        QC_W_MWL,
        QC_W_STOP,
    )

    return f"""
    WITH f AS (
      SELECT ln({X.word_count_sql('text')} + 1) AS logwc,
             {X.mean_word_len_sql(X.words_sql('text'))} AS mwl,
             {X.alpha_ratio_sql('text')} AS alpha,
             {X.stopword_hits_sql('text', 'en')} * 1.0 /
               greatest({X.word_count_sql('text')}, 1) AS stopshare,
             CASE WHEN {X.word_count_sql('text')} >= 20
                   AND {X.alpha_ratio_sql('text')} > 0.6
                   AND {X.lang_id_sql('text')} = 'en'
                  THEN 1 ELSE 0 END AS gold
      FROM documents
    ),
    scored AS (
      SELECT round(1.0 / (1.0 + exp(-({QC_W0} + {QC_W_LOGWC} * logwc
               + {QC_W_MWL} * mwl + {QC_W_ALPHA} * alpha
               + {QC_W_STOP} * stopshare))), 4) AS score,
             gold
      FROM f
    ),
    bins AS (
      SELECT least(floor(score * 10), 9) AS bin, count(*) AS n,
             avg(score) AS ms, avg(gold * 1.0) AS pr
      FROM scored GROUP BY 1
    ),
    by_score AS (
      SELECT score, count(*) AS cnt, sum(gold) AS pos
      FROM scored GROUP BY score
    ),
    ranked AS (
      SELECT score, cnt, pos,
             coalesce(sum(cnt) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below
      FROM by_score
    ),
    auc AS (
      SELECT sum(pos * (below + (cnt + 1) / 2.0)) AS pos_ranksum,
             sum(pos) AS npos, sum(cnt - pos) AS nneg
      FROM ranked
    )
    SELECT (SELECT count(*) FROM scored)::BIGINT AS n_docs,
           round((SELECT avg(pow(score - gold, 2)) FROM scored), 6)
             AS brier,
           round((SELECT sum(n * abs(pr - ms)) / sum(n) FROM bins), 6)
             AS ece,
           round((pos_ranksum - npos * (npos + 1) / 2.0)
                 / (npos * nneg), 6) AS auc
    FROM auc
    """


@query("quality_ece_summary", oracle=_ece_summary_sql)
def quality_ece_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row scoreboard for the frozen quality classifier against
    the gate-chain label: Brier score (mean squared error of the
    probability), expected calibration error (decile-binned, doc-
    weighted — the summary of ``quality_calibration_bins``), and AUC
    via the tie-corrected Mann–Whitney rank sum. Calibration (Brier/
    ECE) and discrimination (AUC) fail independently — a filter can
    rank perfectly while lying about precision, and vice versa; this
    row is the go/no-go a model refresh is gated on.

    Scale: the scored frame is the classifier's audited narrow
    projection; Brier and the bins fold in single aggregates; AUC
    collapses the corpus to its DISTINCT 4dp score values (≤ 10⁴
    rows) and rank-sums on that bounded frame — no per-document
    window, no sort of the corpus."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    # cpu_fan: the per-byte text stage below is CPU-dense and the
    # fixture scan is one row group (one task) — measured SERIAL at
    # sf1.0 (r17 c8-vs-c32 sweep, ratio ~1.0). Row-aware width: the
    # full-parallelism fan measured +0.5-2.5 s at sf0.1 (pinned
    # frames fan every downstream stage); see sources/tables.cpu_fan.
    d = cpu_fan(spark, load_table(spark, sf_dir, "documents"), sf_dir)
    # pinned: the scored frame has three consumers (bins, Brier,
    # distinct-score AUC frame) — unpinned, the per-byte feature
    # projection re-plans under each
    scored = pinned(scored_gold(d.select("text")))
    bins = scored.groupBy(
        F.least(F.floor(F.col("score") * 10), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("score").alias("ms"),
        F.avg(F.col("gold") * 1.0).alias("pr"),
    )
    ece = bins.agg(
        (
            F.sum(F.col("n") * F.abs(F.col("pr") - F.col("ms")))
            / F.sum("n")
        ).alias("ece")
    )
    brier = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.avg(F.pow(F.col("score") - F.col("gold"), 2)).alias("brier"),
    )
    by_score = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("gold").alias("pos")
    )
    ranked = by_score.withColumn(
        "below",
        F.coalesce(
            F.sum("cnt").over(
                Window.orderBy("score").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    )
    auc = ranked.agg(
        F.sum(
            F.col("pos") * (F.col("below") + (F.col("cnt") + 1) / 2.0)
        ).alias("pos_ranksum"),
        F.sum("pos").alias("npos"),
        F.sum(F.col("cnt") - F.col("pos")).alias("nneg"),
    )
    return (
        brier.crossJoin(F.broadcast(ece))
        .crossJoin(F.broadcast(auc))
        .select(
            "n_docs",
            stable_round(F.col("brier"), 6).alias("brier"),
            stable_round(F.col("ece"), 6).alias("ece"),
            stable_round(
                (
                    F.col("pos_ranksum")
                    - F.col("npos") * (F.col("npos") + 1) / 2.0
                )
                / (F.col("npos") * F.col("nneg")),
                6,
            ).alias("auc"),
        )
    )


#: Fixed-panel cap for the LSH S-curve audit: only documents with
#: doc_id below this take part in the measured pair panel, so the
#: panel (and the exact-Jaccard work on it) stays BOUNDED as the
#: corpus grows — the PANEL_MAX_ID discipline applied to documents.
DOC_PANEL_MAX_ID = 2000

#: Similarity bin edges for the S-curve table — bottom-heavy because
#: the analytic curve moves fastest near zero at r=1 (P ~ b*s) and the
#: corpus' pair mass is concentrated there.
SCURVE_BINS = (0.01, 0.05, 0.2, 0.5, 0.8)


def _scurve_sql() -> str:
    from kafka_go_streamer_spark.operators.dedup import (
        NUM_HASHES,
        minhash_sig_sql,
        shingles_sql,
        simhash64_sql,
    )

    sig_cols = ",\n             ".join(
        f"{minhash_sig_sql('sh', k)} AS sig{k}" for k in range(NUM_HASHES)
    )
    hit_r1 = " OR ".join(
        f"sa.sig{k} = sb.sig{k}" for k in range(NUM_HASHES)
    )
    hit_r2 = (
        "(sa.sig0 = sb.sig0 AND sa.sig1 = sb.sig1)"
        " OR (sa.sig2 = sb.sig2 AND sa.sig3 = sb.sig3)"
    )
    inter = "len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))"
    s = f"{inter} * 1.0 / (len(sa.sh) + len(sb.sh) - {inter})"
    sbin = (
        f"CASE WHEN s < {SCURVE_BINS[0]} THEN 0 "
        f"WHEN s < {SCURVE_BINS[1]} THEN 1 "
        f"WHEN s < {SCURVE_BINS[2]} THEN 2 "
        f"WHEN s < {SCURVE_BINS[3]} THEN 3 "
        f"WHEN s < {SCURVE_BINS[4]} THEN 4 ELSE 5 END"
    )
    return f"""
    WITH panel AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id < {DOC_PANEL_MAX_ID}
    ),
    w0 AS (SELECT doc_id, {X.words_sql('text')} AS w FROM panel),
    docs AS (SELECT doc_id, {shingles_sql('w')} AS sh FROM w0),
    sigs AS (
      SELECT doc_id, sh,
             {sig_cols}
      FROM docs
    ),
    n AS (SELECT count(*) AS nn, min(doc_id) AS lo FROM panel),
    rnd AS (
      SELECT least(p.doc_id,
                   lo + ((p.doc_id - lo) + 1 +
                         ('0x' || substr(md5(p.doc_id::VARCHAR || 'pp'),
                          1, 15))::BIGINT % (nn - 1)) % nn) AS id_a,
             greatest(p.doc_id,
                   lo + ((p.doc_id - lo) + 1 +
                         ('0x' || substr(md5(p.doc_id::VARCHAR || 'pp'),
                          1, 15))::BIGINT % (nn - 1)) % nn) AS id_b
      FROM panel p CROSS JOIN n
      WHERE nn > 1
    ),
    s64 AS (SELECT doc_id, {simhash64_sql('w')} AS s64 FROM w0),
    bands AS (
      SELECT doc_id, b.band, (s64 >> (b.band * 8)) & 255 AS key
      FROM s64, (SELECT unnest(range(0, 8)) AS band) b
    ),
    capped AS (
      SELECT doc_id, band, key FROM (
        SELECT *, count(*) OVER (PARTITION BY band, key) AS _n
        FROM bands
      ) WHERE _n <= 64
    ),
    simband AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT id_a, id_b FROM rnd WHERE id_a <> id_b
        UNION ALL
        SELECT id_a, id_b FROM simband
      )
    ),
    scored AS (
      SELECT {s} AS s,
             CASE WHEN {hit_r1} THEN 1 ELSE 0 END AS hit_r1,
             CASE WHEN {hit_r2} THEN 1 ELSE 0 END AS hit_r2
      FROM pairs c
      JOIN sigs sa ON c.id_a = sa.doc_id
      JOIN sigs sb ON c.id_b = sb.doc_id
    ),
    fanned AS (
      SELECT 'r1b4' AS banding, {sbin} AS sbin, s, hit_r1 AS hit,
             1.0 - (1.0 - s) * (1.0 - s) * (1.0 - s) * (1.0 - s)
               AS analytic
      FROM scored
      UNION ALL
      SELECT 'r2b2', {sbin}, s, hit_r2,
             1.0 - (1.0 - s * s) * (1.0 - s * s)
      FROM scored
    )
    SELECT banding, sbin::INTEGER AS sbin,
           count(*)::BIGINT AS n_pairs,
           round(avg(s), 6) AS mean_exact,
           round(avg(analytic), 6) AS analytic_p,
           round(avg(hit) * 1.0, 6) AS measured_rate,
           round(avg(hit) * 1.0 - avg(analytic), 6) AS gap
    FROM fanned
    GROUP BY banding, sbin
    """


@query("dedup_lsh_scurve_empirical", oracle=_scurve_sql)
def dedup_lsh_scurve_empirical(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical MinHash-LSH S-curve: the textbook candidate
    probability 1-(1-s^r)^b against the MEASURED band-collision rate
    on a FIXED sampled pair panel, per true-Jaccard bin, for both
    deployed bandings (r=1/b=4 — ``dedup_minhash_lsh``'s — and
    r=2/b=2 — the strict variant's). This is the fidelity table
    beside ``dedup_minhash_estimator_error``: that one audits the
    ESTIMATOR on surfaced candidates; this one audits the CANDIDATE
    GENERATOR itself — does the banding actually deliver the
    recall/false-positive trade the formula promises on this corpus?

    Panel (never all-pairs): documents with doc_id < DOC_PANEL_MAX_ID
    only (the PANEL_MAX_ID fixed-cap discipline — panel work is
    bounded no matter how the corpus grows), pairing (a) one
    deterministic hash-chosen partner per panel doc (the low-
    similarity mass that anchors the curve's flat left) with (b) the
    SimHash64 band-collision candidates inside the panel (the
    similar arm). Selection uses word-level SimHash randomness;
    the measured event uses shingle-level MinHash randomness —
    different hash inputs, so conditioning on the pair's shingle sets
    leaves the minhash collision probability unbiased (no
    selecting-on-the-outcome circularity).

    Scale: one signature pass over the bounded panel (shared
    ``with_minhash`` path), banded+capped SimHash candidate join,
    exact Jaccard only on panel pairs, constant 2x banding fan, one
    12-row aggregate. tests/test_round13_scurve_properties.py
    re-derives the table end-to-end in pure Python and pins the
    analytic curve's dominance/monotonicity."""
    from kafka_go_streamer_spark.operators.dedup import (
        NUM_HASHES,
        cap_bucket,
        jaccard,
        simhash64_table,
        with_minhash,
    )
    from kafka_go_streamer_spark.operators.iterate import pinned

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < DOC_PANEL_MAX_ID
    )
    # ONE panel tokenization feeds BOTH hash families (r17, VERDICT
    # r16 #6): the MinHash shingles and the SimHash word set use
    # different hash inputs (that independence is load-bearing — see
    # the selection-bias note below), but the text scan + regex split
    # they share is not. The panel is bounded (DOC_PANEL_MAX_ID), so
    # pinning the word arrays is cheap; before this the panel text was
    # scanned and split twice, once per signature build.
    from kafka_go_streamer_spark.functions.text import words as _words
    from kafka_go_streamer_spark.sources.tables import fan_out

    wd = pinned(
        fan_out(d.select("doc_id", "text")).select(
            "doc_id", _words(F.col("text")).alias("_w")
        )
    )
    sigs = pinned(with_minhash(wd, words_col="_w"))
    bounds = d.agg(
        F.count(F.lit(1)).alias("nn"), F.min("doc_id").alias("lo")
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("pp"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    partner = F.col("lo") + (
        (F.col("doc_id") - F.col("lo")) + 1 + h % (F.col("nn") - 1)
    ) % F.col("nn")
    rnd = (
        d.select("doc_id")
        .crossJoin(F.broadcast(bounds))
        # singleton panel: partner arithmetic would divide by nn-1=0
        # (NULL in Spark, error in DuckDB) — emit no random pairs on
        # both sides instead (ADVICE r13)
        .filter(F.col("nn") > 1)
        .select(
            F.least(F.col("doc_id"), partner).alias("id_a"),
            F.greatest(F.col("doc_id"), partner).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    s64 = simhash64_table(wd, "doc_id", words_col="_w")
    bands = s64.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash64"), b * 8)
                        .bitwiseAND(F.lit(255))
                        .alias("key"),
                    )
                    for b in range(8)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    capped = cap_bucket(bands, "band", "key", cap=64)
    a, b = capped.alias("a"), capped.alias("b")
    simband = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    pairs = rnd.unionByName(simband).distinct()
    side = sigs.select(
        F.col("doc_id").alias("id"),
        F.col("_shingles"),
        *[F.col(f"sig{k}") for k in range(NUM_HASHES)],
    )
    hit_r1 = None
    for k in range(NUM_HASHES):
        c = F.col(f"sa.sig{k}") == F.col(f"sb.sig{k}")
        hit_r1 = c if hit_r1 is None else (hit_r1 | c)
    hit_r2 = (
        (F.col("sa.sig0") == F.col("sb.sig0"))
        & (F.col("sa.sig1") == F.col("sb.sig1"))
    ) | (
        (F.col("sa.sig2") == F.col("sb.sig2"))
        & (F.col("sa.sig3") == F.col("sb.sig3"))
    )
    scored = (
        pairs.join(side.alias("sa"), F.col("id_a") == F.col("sa.id"))
        .join(side.alias("sb"), F.col("id_b") == F.col("sb.id"))
        .select(
            jaccard(F.col("sa._shingles"), F.col("sb._shingles")).alias("s"),
            F.when(hit_r1, 1).otherwise(0).alias("hit_r1"),
            F.when(hit_r2, 1).otherwise(0).alias("hit_r2"),
        )
    )
    one = F.lit(1.0)
    an_r1 = one - (one - F.col("s")) * (one - F.col("s")) * (
        one - F.col("s")
    ) * (one - F.col("s"))
    an_r2 = one - (one - F.col("s") * F.col("s")) * (
        one - F.col("s") * F.col("s")
    )
    fanned = scored.select(
        "s",
        F.explode(
            F.array(
                F.struct(
                    F.lit("r1b4").alias("banding"),
                    F.col("hit_r1").alias("hit"),
                    an_r1.alias("analytic"),
                ),
                F.struct(
                    F.lit("r2b2").alias("banding"),
                    F.col("hit_r2").alias("hit"),
                    an_r2.alias("analytic"),
                ),
            )
        ).alias("f"),
    ).select("s", "f.banding", "f.hit", "f.analytic")
    sbin = (
        F.when(F.col("s") < SCURVE_BINS[0], 0)
        .when(F.col("s") < SCURVE_BINS[1], 1)
        .when(F.col("s") < SCURVE_BINS[2], 2)
        .when(F.col("s") < SCURVE_BINS[3], 3)
        .when(F.col("s") < SCURVE_BINS[4], 4)
        .otherwise(5)
    )
    return (
        fanned.groupBy("banding", sbin.cast("int").alias("sbin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            stable_round(F.avg("s"), 6).alias("mean_exact"),
            stable_round(F.avg("analytic"), 6).alias("analytic_p"),
            stable_round(F.avg("hit") * 1.0, 6).alias("measured_rate"),
            stable_round(
                F.avg("hit") * 1.0 - F.avg("analytic"), 6
            ).alias("gap"),
        )
    )


# ----------------------------------------------- dedup drop-set bias
def _drop_bias_sql() -> str:
    from kafka_go_streamer_spark.plans.registry import ORACLES

    comp = ORACLES["dedup_connected_components"]
    return f"""
    WITH comp AS MATERIALIZED ({comp}),
    drops AS (
      SELECT doc_id,
             CASE WHEN doc_id <> min(doc_id) OVER (
                    PARTITION BY component_id)
                  THEN 1 ELSE 0 END AS dropped
      FROM comp
    ),
    j AS (
      SELECT d.source, dr.dropped
      FROM drops dr JOIN documents d USING (doc_id)
    ),
    tot AS (
      SELECT sum(dropped) * 1.0 / count(*) AS overall FROM j
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(dropped)::BIGINT AS n_dropped,
           round(sum(dropped) * 1.0 / count(*), 6) AS drop_share,
           round(CASE WHEN overall > 0
                      THEN (sum(dropped) * 1.0 / count(*)) / overall
                 END, 4) AS drop_lift
    FROM j CROSS JOIN tot
    GROUP BY source, overall
    """


@query("dedup_drop_bias_by_source", oracle=_drop_bias_sql)
def dedup_drop_bias_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source drop bias of the TEXT near-duplicate dedup: under
    keep-one-per-cluster (min doc_id canonical) over the
    connected-components assignment, which feeds lose documents and
    how far above/below the corpus-wide drop rate (``drop_lift`` —
    a feed at 3x is a mirror/syndicator; one at ~0 contributes
    genuinely unique text). The text-side twin of
    ``semdedup_drop_bias`` (which audits the SEMANTIC prune by
    label): dedup is a curation decision and this is its
    disparate-impact check at feed grain.

    Scale: composes the audited contraction-loop CC (its own scale
    story); the canonical rule is a window PARTITIONED by component
    (bounded by cluster size — the same hot-key bound the histogram
    documents); the corpus rate is a window total over the
    source-cardinality aggregate, so the CC output is consumed
    exactly once (the former broadcast-scalar bind evaluated the
    whole contraction output a second time just to read the rate —
    the grouped frame already carries the same totals)."""
    from kafka_go_streamer_spark.plans.registry import QUERIES as _Q

    comp = _Q["dedup_connected_components"](spark, sf_dir)
    drops = comp.select(
        "doc_id",
        F.when(
            F.col("doc_id")
            != F.min("doc_id").over(Window.partitionBy("component_id")),
            1,
        )
        .otherwise(0)
        .alias("dropped"),
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    g = (
        drops.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dropped").cast("long").alias("n_dropped"),
        )
    )
    w = Window.partitionBy()
    overall = (
        F.sum("n_dropped").over(w) * 1.0 / F.sum("n_docs").over(w)
    )
    share = F.col("n_dropped") * 1.0 / F.col("n_docs")
    return g.select(
        "source",
        "n_docs",
        "n_dropped",
        stable_round(share, 6).alias("drop_share"),
        stable_round(
            F.when(overall > 0, share / overall), 4
        ).alias("drop_lift"),
    )
