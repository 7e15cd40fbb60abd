"""Round-11 curation wave: domain-mixture reweighting, tokenizer-cost
accounting, n-gram-level eval contamination, token-budget planning,
corpus novelty decay, dedup token retention, embedding-domain
discrepancy, and mixture-drift monitoring.

Like every query module here, this is north-star surface the reference
(a 655-line content-based Kafka router, /root/reference/main.go) never
had — the operators that decide WHAT a pretraining run feeds on:
"which domains should be up/down-weighted given a loss signal"
(DoReMi-style mirror-descent reweight), "how expensive is each
language for my tokenizer" (fertility / bytes-per-token), "did a
benchmark leak into the training split at the n-gram level" (13-gram
overlap — the industry-standard contamination check, extending
``text_decontaminate`` beyond exact/near-dup), "how many epochs of
each source does a token budget force" (budget/epoch planner), "is
the corpus running out of new n-grams" (novelty decay), "how many
tokens does exact dedup actually delete per source" (retention), "how
far apart do label cohorts sit in embedding space" (linear MMD), and
"how far is the realized mixture from its temperature target"
(mixture KL).

Scale discipline (unchanged from the other modules): facts collapse to
source/lang/label/bucket-sized frames before any quadratic or
all-pairs step; n-gram joins are equi-joins on hashed grams with the
benchmark side broadcastable; scalar corpus statistics ride as 1-row
broadcast cross-joins inside the plan (never ``.collect()``); shared
doubles are rounded before cross-engine folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions import text as X
from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.plans.registry import query
from kafka_go_streamer_spark.sources.tables import load_table

# ----------------------------------------------------- mixture planning

#: DoReMi mirror-descent step size (one exponentiated-gradient step
#: from the uniform prior; the published recipe re-estimates the loss
#: between steps with a retrained proxy model, so a fixed loss signal
#: admits exactly one honest step).
DOREMI_ETA = 2.0
#: Temperature for token-share targets (0 < tau < 1 flattens toward
#: uniform — the multilingual-sampling convention).
MIX_TAU = 0.5
#: KL-monitor temperature (matches ``sample_temperature_mixture``'s
#: published default rather than the planner's).
KL_TAU = 0.7
#: Fraction of the corpus token count a hypothetical training budget
#: covers, and the repetition cap (epochs) curation tolerates.
BUDGET_FRAC = 0.5
MAX_EPOCHS = 4.0

#: Contamination n-gram order (13-gram word overlap is the standard
#: eval-decontamination check) and the benchmark-panel modulus.
CONTAM_N = 13
BENCH_MOD = 97
#: Novelty-decay n-gram order and bucket count.
NOVELTY_N = 8
NOVELTY_BUCKETS = 20


def _loss_proxy_sql() -> str:
    """Per-doc loss proxy: ln(1 + chars-per-token) — a deterministic
    stand-in for per-domain LM loss (verbose, low-entropy domains
    tokenize long and score high). Strictly positive, so ln is safe."""
    return (
        "ln(1.0 + n_chars * 1.0 / "
        f"greatest({X.token_count_sql('text')}, 1))"
    )


def _loss_proxy(d: DataFrame) -> DataFrame:
    from kafka_go_streamer_spark.sources.tables import fan_out

    d = fan_out(d.select("source", "n_chars", "text"))
    return d.select(
        "source",
        F.log(
            1.0
            + F.col("n_chars")
            * 1.0
            / F.greatest(X.token_count(F.col("text")), F.lit(1))
        ).alias("l"),
    )


@query(
    "sample_doremi_reweight",
    oracle=f"""
    WITH l AS (
      SELECT source, {_loss_proxy_sql()} AS l FROM documents
    ),
    per AS (
      SELECT source, count(*)::BIGINT AS n_docs,
             round(avg(l), 6) AS loss_proxy
      FROM l GROUP BY 1
    ),
    ref AS (SELECT round(avg(l), 6) AS ref_loss FROM l),
    ex AS (
      SELECT source, n_docs, loss_proxy,
             round(greatest(loss_proxy - ref.ref_loss, 0.0), 6)
               AS excess_loss
      FROM per CROSS JOIN ref
    ),
    w AS (
      SELECT *, exp({DOREMI_ETA} * excess_loss) AS w_raw FROM ex
    )
    SELECT source, n_docs, loss_proxy, excess_loss,
           round(w_raw / sum(w_raw) OVER (), 6) AS weight
    FROM w
    """,
)
def sample_doremi_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (VERDICT r10 task 5a): one
    exponentiated-gradient step on the domain simplex from a uniform
    prior — w_s ∝ exp(eta * excess_loss_s), where excess loss is the
    domain's loss proxy above the corpus reference, floored at zero
    (domains easier than the reference keep the uniform weight; hard
    domains are up-weighted, the DoReMi Group-DRO direction). Composes
    with ``sample_effective_sample_size`` (are the solved weights
    degenerate?) and ``sample_temperature_mixture`` (the non-adaptive
    alternative).

    Scale: the loss proxy is a narrow per-row expression folded into
    ONE map-side-combinable aggregate over the fact; everything after
    runs on the n_sources-row frame (the corpus reference rides as a
    1-row cross join; the softmax normalizer is a window over ~20
    rows). Excess is computed from 6dp-ROUNDED loss values on both
    engines, so exp sees identical doubles and the final 6dp round
    absorbs libm last-ulp drift."""
    d = load_table(spark, sf_dir, "documents")
    lp = _loss_proxy(d)
    per = lp.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        stable_round(F.avg("l"), 6).alias("loss_proxy"),
    )
    ref = lp.agg(stable_round(F.avg("l"), 6).alias("ref_loss"))
    ex = per.crossJoin(F.broadcast(ref)).select(
        "source",
        "n_docs",
        "loss_proxy",
        stable_round(
            F.greatest(F.col("loss_proxy") - F.col("ref_loss"), F.lit(0.0)),
            6,
        ).alias("excess_loss"),
    )
    w = ex.withColumn("w_raw", F.exp(DOREMI_ETA * F.col("excess_loss")))
    from pyspark.sql import Window

    return w.select(
        "source",
        "n_docs",
        "loss_proxy",
        "excess_loss",
        stable_round(
            F.col("w_raw")
            / F.sum("w_raw").over(
                Window.partitionBy()
            ),
            6,
        ).alias("weight"),
    )


@query(
    "text_tokenizer_fertility",
    oracle=f"""
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(octet_length(encode(text)))::BIGINT AS n_bytes,
           sum({X.word_count_sql('text')})::BIGINT AS n_words,
           sum({X.token_count_sql('text')})::BIGINT AS n_tokens,
           round(sum({X.token_count_sql('text')}) * 1.0
                 / nullif(sum({X.word_count_sql('text')}), 0), 6)
             AS fertility,
           round(sum(octet_length(encode(text))) * 1.0
                 / nullif(sum({X.token_count_sql('text')}), 0), 6)
             AS bytes_per_token
    FROM documents
    GROUP BY 1
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility / bytes-per-token per language (VERDICT r10
    task 5b): tokens-per-word and bytes-per-token under the repo's
    BPE-ish tokenization — the cost model behind multilingual sampling
    (a language whose fertility is 2x pays 2x the context budget per
    word, so token-budget mixtures must correct for it; composes with
    ``text_bpe_pair_merges``, which builds the merge table this
    approximates, and ``sample_token_budget_epochs``).

    Scale: one narrow scan, three codegen'd per-row counts folded into
    a lang-sized hash aggregate (map-side combinable); ratios on exact
    BIGINT sums — the only doubles are the two final divisions.
    Deliberately NOT fanned out: A/B'd r11 at sf0.1 (min-of-3, same
    session) — fan_out LOST 0.328 -> 0.396 s because the three regexp
    counts fold map-side into 5 rows and the shuffle of the raw text
    costs more than the parallelism buys; contrast _grams/hubness,
    where fanning won 2-4x because the per-byte stage dominates."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.octet_length(F.col("text"))).cast("long").alias("n_bytes"),
        F.sum(X.word_count(F.col("text"))).cast("long").alias("n_words"),
        F.sum(X.token_count(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return per.select(
        "lang",
        "n_docs",
        "n_bytes",
        "n_words",
        "n_tokens",
        stable_round(
            F.col("n_tokens") * 1.0 / F.nullif(F.col("n_words"), F.lit(0)),
            6,
        ).alias("fertility"),
        stable_round(
            F.col("n_bytes") * 1.0 / F.nullif(F.col("n_tokens"), F.lit(0)),
            6,
        ).alias("bytes_per_token"),
    )


def _grams_sql(n: int) -> str:
    """DuckDB word n-grams of the repo's whitespace tokenization,
    hashed to md5 strings."""
    return f"""
      SELECT doc_id,
             md5(array_to_string(list_slice(ws, t.i, t.i + {n - 1}), ' '))
               AS gram
      FROM (
        SELECT doc_id,
               {X.words_sql('text')} AS ws
        FROM documents
      ), unnest(range(1, len(ws) - {n - 2})) AS t(i)
    """


def _grams(d: DataFrame, n: int) -> DataFrame:
    """Spark twin of :func:`_grams_sql`: explode hashed word n-grams.
    The sequence is guarded (< n words -> empty array) because Spark's
    ``sequence(1, stop)`` turns DESCENDING when stop < 1 instead of
    returning empty like DuckDB's ``range``."""
    ws = X.words(F.col("text"))
    grams = F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(ws, i, n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from kafka_go_streamer_spark.sources.tables import fan_out

    # fan BEFORE the explode: gram hashing is per-byte CPU and the
    # test parquet scans in one task — without this the md5 stage is
    # single-threaded (A/B r11 at sf0.1: contamination 3.67 -> 1.51 s)
    return fan_out(d.select("doc_id", "text")).select(
        "doc_id", F.explode(grams).alias("gram")
    )


@query(
    "text_contamination_ngrams",
    oracle=f"""
    WITH grams AS ({_grams_sql(CONTAM_N)}),
    bench AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % {BENCH_MOD} = 0
    ),
    train AS (
      SELECT DISTINCT doc_id, gram FROM grams
      WHERE doc_id % {BENCH_MOD} <> 0
    ),
    hits AS (
      SELECT t.doc_id, count(*)::BIGINT AS shared
      FROM train t JOIN bench b USING (gram)
      GROUP BY 1
    )
    SELECT d.source,
           count(*)::BIGINT AS n_train_docs,
           sum(CASE WHEN h.shared IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_contaminated,
           round(sum(CASE WHEN h.shared IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS contamination_rate,
           coalesce(sum(h.shared), 0)::BIGINT AS n_shared_grams
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % {BENCH_MOD} <> 0
    GROUP BY 1
    """,
)
def text_contamination_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination at the {CONTAM_N}-gram level (VERDICT r10
    task 5c): every training document sharing at least one word
    {CONTAM_N}-gram with the held-out benchmark panel (every
    {BENCH_MOD}-th document — the fixture's stand-in for an eval
    suite) is flagged, reported as a per-source contamination rate plus
    the shared-gram volume. This is the industry-standard
    decontamination check (13-gram overlap), extending
    ``text_decontaminate``'s exact/near-dup gate to sub-document
    leakage a paraphrased or excerpted benchmark item still trips.

    Scale: grams are hashed in-row (one explode per side), the
    benchmark side collapses to a DISTINCT gram set that is ~1/{BENCH_MOD}
    of the corpus and broadcastable at any realistic benchmark size,
    and the probe is an equi-join on the 32-hex gram key followed by a
    source-sized rollup — no pairwise document comparison anywhere."""
    d = load_table(spark, sf_dir, "documents")
    grams = _grams(d, CONTAM_N)
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench = grams.filter(is_bench).select("gram").distinct()
    train = grams.filter(~is_bench).distinct()
    hits = (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    tdocs = d.filter(~is_bench).select("doc_id", "source")
    return (
        tdocs.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train_docs"),
            F.sum(
                F.when(F.col("shared").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_contaminated"),
            stable_round(
                F.sum(
                    F.when(F.col("shared").isNotNull(), 1).otherwise(0)
                )
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("contamination_rate"),
            F.coalesce(F.sum("shared"), F.lit(0))
            .cast("long")
            .alias("n_shared_grams"),
        )
    )


@query(
    "sample_token_budget_epochs",
    oracle=f"""
    WITH per AS (
      SELECT source,
             sum({X.token_count_sql('text')})::BIGINT AS tokens
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT sum(tokens)::BIGINT AS all_tokens,
             sum(sqrt(tokens)) AS z
      FROM per
    ),
    sh AS (
      SELECT p.source, p.tokens,
             round(sqrt(p.tokens) / t.z, 6) AS target_share,
             round({BUDGET_FRAC} * t.all_tokens * (sqrt(p.tokens) / t.z)
                   / p.tokens, 6) AS epochs_needed
      FROM per p CROSS JOIN tot t
    )
    SELECT source, tokens, target_share, epochs_needed,
           round(least(epochs_needed, {MAX_EPOCHS}), 6) AS capped_epochs,
           (CASE WHEN epochs_needed > 1.0 THEN 1 ELSE 0 END)::INTEGER
             AS upsampled
    FROM sh
    """,
)
def sample_token_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch planner: given a training budget of
    {BUDGET_FRAC:.0%} of the corpus token count and temperature-{MIX_TAU}
    target shares (sqrt-of-tokens — the multilingual-sampling
    flattening), how many EPOCHS of each source does the plan demand?
    Sources whose target share exceeds their natural share need > 1
    epoch (repetition — flagged, and capped at {MAX_EPOCHS} per the
    data-constrained-scaling convention that repetition beyond ~4
    epochs stops helping). The quantitative follow-up to
    ``sample_temperature_mixture``: not just the weights, but whether
    the corpus can PAY them.

    Scale: one map-side-combinable token-count aggregate to a
    source-sized frame; the corpus totals ride as a 1-row cross join.
    sqrt (not pow) on exact BIGINT token counts keeps both libms on
    the same well-tested path; shares and epochs are rounded at 6dp
    before the cap comparison so both engines admit identical rows."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(X.token_count(F.col("text"))).cast("long").alias("tokens")
    )
    tot = per.agg(
        F.sum("tokens").cast("long").alias("all_tokens"),
        F.sum(F.sqrt(F.col("tokens"))).alias("z"),
    )
    sh = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        stable_round(F.sqrt(F.col("tokens")) / F.col("z"), 6).alias(
            "target_share"
        ),
        stable_round(
            BUDGET_FRAC
            * F.col("all_tokens")
            * (F.sqrt(F.col("tokens")) / F.col("z"))
            / F.col("tokens"),
            6,
        ).alias("epochs_needed"),
    )
    return sh.select(
        "source",
        "tokens",
        "target_share",
        "epochs_needed",
        stable_round(
            F.least(F.col("epochs_needed"), F.lit(MAX_EPOCHS)), 6
        ).alias("capped_epochs"),
        F.when(F.col("epochs_needed") > 1.0, 1)
        .otherwise(0)
        .cast("int")
        .alias("upsampled"),
    )


@query(
    "text_ngram_novelty_decay",
    oracle=f"""
    WITH grams AS ({_grams_sql(NOVELTY_N)}),
    mx AS (SELECT max(doc_id)::BIGINT AS mx FROM documents),
    gb AS (
      SELECT DISTINCT g.gram,
             (g.doc_id * {NOVELTY_BUCKETS}) // (mx.mx + 1) AS bucket
      FROM grams g CROSS JOIN mx
    ),
    first_seen AS (
      SELECT gram, min(bucket) AS first_bucket FROM gb GROUP BY 1
    ),
    seen AS (
      SELECT bucket, count(*)::BIGINT AS n_grams_seen
      FROM gb GROUP BY 1
    ),
    fresh AS (
      SELECT first_bucket AS bucket, count(*)::BIGINT AS n_new_grams
      FROM first_seen GROUP BY 1
    )
    SELECT s.bucket::BIGINT AS bucket, s.n_grams_seen,
           coalesce(f.n_new_grams, 0)::BIGINT AS n_new_grams,
           round(coalesce(f.n_new_grams, 0) * 1.0 / s.n_grams_seen, 6)
             AS novelty_rate
    FROM seen s LEFT JOIN fresh f USING (bucket)
    """,
)
def text_ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty decay: split the corpus into {NOVELTY_BUCKETS}
    equal doc-id buckets (ingestion order) and report, per bucket, how
    many distinct word {NOVELTY_N}-grams appear and what fraction of
    them were never seen in an earlier bucket. A healthy growing
    corpus holds novelty high; a saturating or self-duplicating crawl
    shows the rate collapsing — the curve dedup and crawl scheduling
    teams watch. Composes with ``text_distinct_n`` (in-document
    diversity) and the dedup family (cross-document duplication).

    Scale: one gram explode, then all work on the DISTINCT
    (gram, bucket) frame; first-seen is a min-aggregate per gram (no
    window over the fact), and the output is {NOVELTY_BUCKETS} rows.
    Bucketing is exact BIGINT arithmetic — (doc_id * B) // (max+1) —
    so engines cannot disagree at bucket boundaries."""
    d = load_table(spark, sf_dir, "documents")
    grams = _grams(d, NOVELTY_N)
    mx = d.agg(F.max("doc_id").cast("long").alias("mx"))
    gb = (
        grams.crossJoin(F.broadcast(mx))
        .select(
            "gram",
            F.expr(
                f"(doc_id * {NOVELTY_BUCKETS}) div (mx + 1)"
            ).alias("bucket"),
        )
        .distinct()
    )
    first_seen = gb.groupBy("gram").agg(F.min("bucket").alias("first_bucket"))
    seen = gb.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams_seen")
    )
    fresh = first_seen.groupBy(
        F.col("first_bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_new_grams"))
    return (
        seen.join(fresh, "bucket", "left")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_grams_seen",
            F.coalesce(F.col("n_new_grams"), F.lit(0))
            .cast("long")
            .alias("n_new_grams"),
            stable_round(
                F.coalesce(F.col("n_new_grams"), F.lit(0))
                * 1.0
                / F.col("n_grams_seen"),
                6,
            ).alias("novelty_rate"),
        )
    )


@query(
    "dedup_token_retention",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, source,
             {X.token_count_sql('text')} AS toks,
             md5(text) AS fp
      FROM documents
    ),
    keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp)
    SELECT f.source,
           count(*)::BIGINT AS docs_total,
           sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS docs_kept,
           sum(f.toks)::BIGINT AS tokens_total,
           sum(CASE WHEN k.doc_id IS NOT NULL THEN f.toks
                    ELSE 0 END)::BIGINT AS tokens_kept,
           round(sum(CASE WHEN k.doc_id IS NOT NULL THEN f.toks
                          ELSE 0 END) * 1.0
                 / nullif(sum(f.toks), 0), 6) AS token_retention
    FROM fp f LEFT JOIN keep k USING (doc_id)
    GROUP BY 1
    """,
)
def dedup_token_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting for exact dedup: keep-first (min doc_id) per
    exact text fingerprint, then report per source how many DOCUMENTS
    and how many TOKENS survive — the number that matters for budget
    planning, since duplicate-heavy sources lose tokens, not just rows
    (``dedup_exact_hash`` counts groups; this prices them; feeds
    ``sample_token_budget_epochs``).

    Scale: fingerprint + token count in one narrow scan; the keeper
    set is a min-aggregate on the fingerprint key; the survivorship
    join is an equi-join on doc_id (no text moves twice); rollup is
    source-sized."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        "source",
        X.token_count(F.col("text")).alias("toks"),
        F.md5(F.col("text")).alias("fp"),
    )
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id", F.lit(1).alias("_keep")
    )
    kept = F.col("_keep").isNotNull()
    return (
        fp.join(keep, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_total"),
            F.sum(F.when(kept, 1).otherwise(0))
            .cast("long")
            .alias("docs_kept"),
            F.sum("toks").cast("long").alias("tokens_total"),
            F.sum(F.when(kept, F.col("toks")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
            stable_round(
                F.sum(F.when(kept, F.col("toks")).otherwise(0))
                * 1.0
                / F.nullif(F.sum("toks"), F.lit(0)),
                6,
            ).alias("token_retention"),
        )
    )


@query(
    "embedding_label_mmd",
    oracle="""
    WITH ex AS (
      SELECT label, t.i AS dim, embedding[t.i]::DOUBLE AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    mu AS (
      SELECT label, dim, round(avg(val), 6) AS m
      FROM ex GROUP BY 1, 2
    )
    SELECT a.label::INTEGER AS label_a, b.label::INTEGER AS label_b,
           round(sum((a.m - b.m) * (a.m - b.m)), 6) AS mmd_sq
    FROM mu a JOIN mu b ON a.dim = b.dim AND a.label < b.label
    GROUP BY 1, 2
    """,
)
def embedding_label_mmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-kernel MMD^2 between every pair of label cohorts in
    embedding space: ||mu_a - mu_b||^2 of the cohort mean vectors —
    the O(n) member of the MMD family (no pairwise kernel matrix),
    and the standard first answer to "are these two domains/cohorts
    distributionally different in representation space". Complements
    ``embedding_centroid_drift`` (one cohort over time) with the full
    pairwise cohort map, and ``embedding_knn_label_purity`` (local
    structure) with a global separation number.

    Scale: the fact collapses to a k x d frame (labels x dims) in one
    map-side-combinable aggregate; the pairwise stage is a self-join
    of that tiny frame on the dim key (k^2 x d rows — hundreds of
    thousands even at k=100, d=1024, nowhere near the fact size).
    Means are rounded at 6dp before differencing so both engines
    square identical doubles."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("dim0", "val")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("val").cast("double").alias("val"),
    )
    mu = ex.groupBy("label", "dim").agg(
        stable_round(F.avg("val"), 6).alias("m")
    )
    a = mu.select(
        F.col("label").alias("label_a"),
        "dim",
        F.col("m").alias("ma"),
    )
    b = mu.select(
        F.col("label").alias("label_b"),
        "dim",
        F.col("m").alias("mb"),
    )
    return (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy(
            F.col("label_a").cast("int").alias("label_a"),
            F.col("label_b").cast("int").alias("label_b"),
        )
        .agg(
            stable_round(
                F.sum(
                    (F.col("ma") - F.col("mb"))
                    * (F.col("ma") - F.col("mb"))
                ),
                6,
            ).alias("mmd_sq")
        )
    )


@query(
    "sample_mixture_kl_to_target",
    oracle=f"""
    WITH per AS (
      SELECT source,
             sum({X.token_count_sql('text')})::BIGINT AS tokens
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT sum(tokens)::BIGINT AS all_tokens,
             sum(pow(tokens, {KL_TAU})) AS z
      FROM per
    ),
    pq AS (
      SELECT p.source,
             round(p.tokens * 1.0 / t.all_tokens, 6) AS p,
             round(pow(p.tokens, {KL_TAU}) / t.z, 6) AS q
      FROM per p CROSS JOIN tot t
    )
    SELECT count(*)::BIGINT AS n_sources,
           round(sum(CASE WHEN p > 0 AND q > 0
                          THEN p * ln(p / q) ELSE 0.0 END), 6)
             AS kl_nats,
           round(exp(-sum(CASE WHEN p > 0 THEN p * ln(p)
                               ELSE 0.0 END)), 6) AS realized_perplexity
    FROM pq
    """,
)
def sample_mixture_kl_to_target(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mixture-drift monitor: KL(realized || target) between the
    corpus's realized token mixture over sources and its
    temperature-{KL_TAU} target (the ``sample_temperature_mixture``
    policy), plus the realized mixture's perplexity (effective number
    of sources). The one-number answer to "did ingest drift away from
    the sampling policy" — alarm on kl_nats, read the per-source
    detail from the planner queries.

    Scale: token counts collapse to the source frame in one aggregate;
    p and q are rounded at 6dp before the log-ratio (both engines fold
    identical doubles, ln guarded > 0 on both per the repo's rounding
    convention); output is a single row."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(X.token_count(F.col("text"))).cast("long").alias("tokens")
    )
    tot = per.agg(
        F.sum("tokens").cast("long").alias("all_tokens"),
        F.sum(F.pow(F.col("tokens"), F.lit(KL_TAU))).alias("z"),
    )
    pq = per.crossJoin(F.broadcast(tot)).select(
        stable_round(
            F.col("tokens") * 1.0 / F.col("all_tokens"), 6
        ).alias("p"),
        stable_round(
            F.pow(F.col("tokens"), F.lit(KL_TAU)) / F.col("z"), 6
        ).alias("q"),
    )
    return pq.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        stable_round(
            F.sum(
                F.when(
                    (F.col("p") > 0) & (F.col("q") > 0),
                    F.col("p") * F.log(F.col("p") / F.col("q")),
                ).otherwise(0.0)
            ),
            6,
        ).alias("kl_nats"),
        stable_round(
            F.exp(
                -F.sum(
                    F.when(
                        F.col("p") > 0, F.col("p") * F.log(F.col("p"))
                    ).otherwise(0.0)
                )
            ),
            6,
        ).alias("realized_perplexity"),
    )


# ------------------------------------------------------ wave 2: ops etc.

#: Code-detector thresholds: symbol density above this OR at least this
#: many language keywords marks a document code-like.
CODE_SYM_RE = r"[{}()\[\]<>;=]"
CODE_SYM_CUT = 0.02
CODE_KEYWORDS = (
    "def", "return", "import", "class", "void", "int",
    "function", "var", "const", "struct",
)
CODE_KW_MIN = 3

#: Heavy-hitter drift panel size.
HH_TOPK = 10

#: RBO rank-overlap: query panel size, depth, persistence parameter.
RBO_QUERIES = 5
RBO_K = 10
RBO_P = 0.9

@query(
    "text_code_detector",
    oracle=f"""
    WITH per AS (
      SELECT source,
             len(regexp_extract_all(text, '{CODE_SYM_RE}'))
               * 1.0 / greatest(n_chars, 1) AS sym_ratio,
             len(list_filter({X.words_sql('text')},
                 w -> list_contains([{", ".join(f"'{w}'" for w in CODE_KEYWORDS)}], w)))
               AS kw_hits
      FROM documents
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN sym_ratio > {CODE_SYM_CUT}
                      OR kw_hits >= {CODE_KW_MIN}
                    THEN 1 ELSE 0 END)::BIGINT AS n_code_like,
           round(sum(CASE WHEN sym_ratio > {CODE_SYM_CUT}
                            OR kw_hits >= {CODE_KW_MIN}
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS code_rate,
           round(avg(sym_ratio), 6) AS avg_symbol_ratio
    FROM per GROUP BY 1
    """,
)
def text_code_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose heuristic gate per source: symbol density
    (braces/brackets/semicolons per char) and programming-keyword hits
    — the cheap first-pass classifier pretraining pipelines run before
    routing documents to a code-specific pipeline (dedup by AST,
    license scan) vs the prose pipeline. Thresholds are the classic
    heuristic tier below a fastText model; the verdict logic is the
    gate SHAPE, swap constants per corpus.

    Scale: two codegen'd per-row counts (one regexp scan, one in-row
    token filter over the already-split words), folded straight into a
    source-sized aggregate; zero joins, zero shuffles beyond the
    rollup. The symbol ratio is exact-integer-over-integer per row; the
    per-source average rounds once."""
    d = load_table(spark, sf_dir, "documents")
    ws = X.words(F.col("text"))
    per = d.select(
        "source",
        (
            F.regexp_count(F.col("text"), F.lit(CODE_SYM_RE))
            * 1.0
            / F.greatest(F.col("n_chars"), F.lit(1))
        ).alias("sym_ratio"),
        F.size(
            F.filter(ws, lambda w: w.isin(*CODE_KEYWORDS))
        ).alias("kw_hits"),
    )
    code_like = (F.col("sym_ratio") > CODE_SYM_CUT) | (
        F.col("kw_hits") >= CODE_KW_MIN
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(code_like, 1).otherwise(0))
        .cast("long")
        .alias("n_code_like"),
        stable_round(
            F.sum(F.when(code_like, 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("code_rate"),
        stable_round(F.avg("sym_ratio"), 6).alias("avg_symbol_ratio"),
    )


@query(
    "events_heavy_hitter_drift",
    oracle=f"""
    WITH act AS (
      SELECT floor(epoch(ts) / 86400)::BIGINT AS day,
             user_id, count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ),
    top AS (
      SELECT day, user_id FROM (
        SELECT day, user_id,
               row_number() OVER (PARTITION BY day
                                  ORDER BY n DESC, user_id ASC) AS rk
        FROM act
      ) WHERE rk <= {HH_TOPK}
    ),
    sizes AS (
      SELECT day, count(*)::BIGINT AS sz FROM top GROUP BY 1
    ),
    common AS (
      SELECT b.day AS day, count(*)::BIGINT AS n_common
      FROM top a JOIN top b
        ON b.day = a.day + 1 AND b.user_id = a.user_id
      GROUP BY 1
    )
    SELECT s.day, p.sz AS n_prev, s.sz AS n_curr,
           coalesce(c.n_common, 0)::BIGINT AS n_common,
           round(coalesce(c.n_common, 0) * 1.0
                 / (p.sz + s.sz - coalesce(c.n_common, 0)), 6) AS jaccard
    FROM sizes s
    JOIN sizes p ON p.day = s.day - 1
    LEFT JOIN common c ON c.day = s.day
    """,
)
def events_heavy_hitter_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day heavy-hitter churn: the Jaccard overlap between
    consecutive days' top-{HH_TOPK} most active users — the drift
    monitor behind "did the workload's hot keys move", which decides
    whether yesterday's salting / cache / partition-pruning choices
    still hold today (composes with ``sketch_countmin_heavy_users``,
    the streaming estimator of the same panel, and
    ``quality_join_key_skew``).

    Scale: activity collapses to the (day, user) frame in one
    map-side-combinable aggregate; ranking windows partition BY DAY
    (parallel, each partition is that day's user set); the drift join
    matches consecutive-day panels of {HH_TOPK} rows each. Rank ties
    break on user_id over exact counts, so both engines pick identical
    panels."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    act = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400)
        .cast("long")
        .alias("day"),
        "user_id",
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    wr = Window.partitionBy("day").orderBy(
        F.col("n").desc(), F.col("user_id").asc()
    )
    top = (
        act.select("day", "user_id", F.row_number().over(wr).alias("rk"))
        .filter(F.col("rk") <= HH_TOPK)
        .select("day", "user_id")
    )
    sizes = top.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    a = top.select((F.col("day") + 1).alias("day"), "user_id")
    common = (
        a.join(top, ["day", "user_id"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    # day-pair grid drives the output: a zero-overlap day REPORTS
    # jaccard 0 (the alarm case) instead of vanishing from the monitor
    return (
        sizes.withColumnRenamed("sz", "n_curr")
        .join(
            sizes.select(
                (F.col("day") + 1).alias("day"),
                F.col("sz").alias("n_prev"),
            ),
            "day",
        )
        .join(common, "day", "left")
        .select(
            "day",
            "n_prev",
            "n_curr",
            nc.cast("long").alias("n_common"),
            stable_round(
                nc * 1.0 / (F.col("n_prev") + F.col("n_curr") - nc),
                6,
            ).alias("jaccard"),
        )
    )


from kafka_go_streamer_spark.functions.vectors import cosine_sql as _cos_sql

_COS_F = _cos_sql("e.emb", "q.qv")
_COS_Q = _cos_sql("d.demb", "q.qv")


def _dequant_sql() -> str:
    """DuckDB int8 round-trip of the ``embedding_quantize_int8``
    scheme: quantize to 0..255 on the per-vector min-max grid, then
    dequantize back — floor(x + 0.5) (not round) for bit-stable ties."""
    return (
        "list_transform(emb, x -> CASE WHEN mx > mn THEN "
        "mn + floor((x - mn) * 255.0 / (mx - mn) + 0.5)"
        " * (mx - mn) / 255.0 ELSE x END)"
    )


@query(
    "retrieval_rbo_quantization",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    dq AS (
      SELECT vec_id,
             {_dequant_sql()} AS demb
      FROM (SELECT vec_id, emb,
                   list_aggregate(emb, 'min') AS mn,
                   list_aggregate(emb, 'max') AS mx
            FROM e)
    ),
    q AS (
      SELECT vec_id AS qid, emb AS qv FROM e
      WHERE vec_id < {RBO_QUERIES}
    ),
    rf AS (
      SELECT qid, vec_id, rk FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY round({_COS_F}, 6) DESC, e.vec_id ASC
               ) AS rk
        FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
      ) WHERE rk <= {RBO_K}
    ),
    rq AS (
      SELECT qid, vec_id, rk FROM (
        SELECT q.qid, d.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY round({_COS_Q}, 6) DESC, d.vec_id ASC
               ) AS rk
        FROM dq d CROSS JOIN q WHERE d.vec_id <> q.qid
      ) WHERE rk <= {RBO_K}
    ),
    pairs AS (
      SELECT rf.qid, greatest(rf.rk, rq.rk) AS m
      FROM rf JOIN rq ON rf.qid = rq.qid AND rf.vec_id = rq.vec_id
    ),
    w AS (
      SELECT qid,
             sum((1.0 - {RBO_P}) * pow({RBO_P}, t.d - 1) / t.d) AS wt
      FROM pairs, unnest(range(m, {RBO_K} + 1)) AS t(d)
      GROUP BY 1
    ),
    ov AS (
      SELECT qid, count(*)::BIGINT AS overlap_at_k FROM pairs GROUP BY 1
    )
    SELECT q.qid AS query_id,
           coalesce(ov.overlap_at_k, 0)::BIGINT AS overlap_at_k,
           round(coalesce(w.wt, 0.0), 6) AS rbo
    FROM q LEFT JOIN ov USING (qid) LEFT JOIN w USING (qid)
    """,
)
def retrieval_rbo_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p={RBO_P}) between the float-precision
    cosine top-{RBO_K} and the int8-quantized cosine top-{RBO_K} for
    the pinned query panel — the retrieval-side fidelity check for
    ``embedding_quantize_int8``: recall@k says whether the right IDs
    survive, RBO says whether their ORDER survives (top-weighted, so a
    rank-1 swap costs more than a rank-9 swap). The decision number
    for "can the ANN tier serve int8 and re-rank in float".

    Scale: both rankings are the retrieval family's audited geometry —
    corpus scanned once per ranking against a broadcast ≤{RBO_QUERIES}-row
    panel, k-row frames after the rank filter; the dequantized vector
    is an in-row transform (the corpus is never materialized twice).
    The RBO weight explodes at most {RBO_K} depth rows per agreeing
    pair — bounded by panel x k x k. Ranks break ties on vec_id over
    6dp-rounded scores, so both engines pick identical lists."""
    from kafka_go_streamer_spark.functions.vectors import cosine
    from kafka_go_streamer_spark.operators.iterate import pinned
    from pyspark.sql import Window

    from kafka_go_streamer_spark.sources.tables import fan_out

    emb = load_table(spark, sf_dir, "embeddings")
    # fan once: both rankings fold a cosine per (vector, query) pair —
    # per-dimension CPU that must not run in the scan's single task
    e = fan_out(
        emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"),
        )
    )
    dq = e.select(
        "vec_id",
        "emb",
        F.array_min("emb").alias("mn"),
        F.array_max("emb").alias("mx"),
    ).select(
        "vec_id",
        F.when(
            F.col("mx") > F.col("mn"),
            F.transform(
                "emb",
                lambda x: F.col("mn")
                + F.floor(
                    (x - F.col("mn"))
                    * 255.0
                    / (F.col("mx") - F.col("mn"))
                    + 0.5
                )
                * (F.col("mx") - F.col("mn"))
                / 255.0,
            ),
        )
        .otherwise(F.col("emb"))
        .alias("demb"),
    )
    q = pinned(
        e.filter(F.col("vec_id") < RBO_QUERIES).select(
            F.col("vec_id").alias("qid"), F.col("emb").alias("qv")
        )
    )

    def ranked(side: DataFrame, vcol: str) -> DataFrame:
        wr = Window.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col("vec_id").asc()
        )
        return (
            side.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != F.col("qid"))
            .select(
                "qid",
                "vec_id",
                stable_round(
                    cosine(F.col(vcol), F.col("qv")), 6
                ).alias("score"),
            )
            .select(
                "qid", "vec_id", F.row_number().over(wr).alias("rk")
            )
            .filter(F.col("rk") <= RBO_K)
        )

    rf = ranked(e, "emb")
    rq = ranked(dq, "demb")
    pairs = rf.join(
        rq.withColumnRenamed("rk", "rkq"), ["qid", "vec_id"]
    ).select(
        "qid", F.greatest(F.col("rk"), F.col("rkq")).alias("m")
    )
    w = (
        pairs.select(
            "qid",
            F.explode(
                F.sequence(F.col("m"), F.lit(RBO_K))
            ).alias("d"),
        )
        .groupBy("qid")
        .agg(
            F.sum(
                (1.0 - RBO_P)
                * F.pow(F.lit(RBO_P), F.col("d") - 1)
                / F.col("d")
            ).alias("wt")
        )
    )
    ov = pairs.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("overlap_at_k")
    )
    return (
        q.select(F.col("qid"))
        .join(ov, "qid", "left")
        .join(w, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("overlap_at_k"), F.lit(0))
            .cast("long")
            .alias("overlap_at_k"),
            stable_round(
                F.coalesce(F.col("wt"), F.lit(0.0)), 6
            ).alias("rbo"),
        )
    )


#: Cliff's delta value-binning scale (the Kruskal-Wallis convention:
#: 2 decimals bounds the value vocabulary at any fact size).
CLIFF_SCALE = 2


@query(
    "stats_cliffs_delta",
    oracle=f"""
    WITH g AS (
      SELECT event_type, round(value, {CLIFF_SCALE}) AS xr,
             count(*)::BIGINT AS c
      FROM events GROUP BY 1, 2
    ),
    vals AS (SELECT DISTINCT xr FROM g),
    types AS (SELECT DISTINCT event_type FROM g),
    dense AS (
      SELECT t.event_type, v.xr, coalesce(g.c, 0)::BIGINT AS c
      FROM types t CROSS JOIN vals v
      LEFT JOIN g ON g.event_type = t.event_type AND g.xr = v.xr
    ),
    cum AS (
      SELECT event_type, xr, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY xr
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cm
      FROM dense
    ),
    tot AS (
      SELECT event_type, sum(c)::BIGINT AS n FROM dense GROUP BY 1
    ),
    pair AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             sum(a.c * 1.0 * (b.cm - b.c)) AS gt,
             sum(a.c * 1.0 * (tb.n - b.cm)) AS lt
      FROM cum a
      JOIN cum b ON b.xr = a.xr AND a.event_type < b.event_type
      JOIN tot tb ON tb.event_type = b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, ta.n AS n_a, tb.n AS n_b,
           round((p.gt - p.lt) / (ta.n * 1.0 * tb.n), 6) AS cliffs_delta
    FROM pair p
    JOIN tot ta ON ta.event_type = p.type_a
    JOIN tot tb ON tb.event_type = p.type_b
    """,
)
def stats_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between every pair of event types: the ordinal
    effect size P(X_a > X_b) - P(X_a < X_b) — the companion number to
    ``stats_mannwhitney_u``'s p-value (significance says a shift
    exists; delta says how big, on a -1..1 scale robust to any
    monotone transform) and to ``stats_cohens_d`` (which assumes the
    shift is a mean shift).

    Scale: the Kruskal-Wallis discipline — values bin to {CLIFF_SCALE}
    decimals (vocabulary-bounded), all pair counting happens on the
    DENSE (type x distinct-value) grid via per-type cumulative counts,
    so the pairwise stage is an equi-join on the value key (types x
    types x vocabulary rows — never row-level pairs). Products promote
    to double inside the sums on BOTH engines (the r11
    Kruskal-Wallis overflow lesson: n_a x n_b crosses int64 at
    petabyte scale)."""
    ev = load_table(spark, sf_dir, "events")
    from kafka_go_streamer_spark.operators.iterate import pinned
    from pyspark.sql import Window

    g = pinned(
        ev.groupBy(
            "event_type",
            stable_round(F.col("value"), CLIFF_SCALE).alias("xr"),
        ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    vals = g.select("xr").distinct()
    types = g.select("event_type").distinct()
    dense = (
        types.crossJoin(vals)
        .join(g, ["event_type", "xr"], "left")
        .select(
            "event_type",
            "xr",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        )
    )
    wc = Window.partitionBy("event_type").orderBy("xr").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = pinned(
        dense.select(
            "event_type", "xr", "c", F.sum("c").over(wc).alias("cm")
        )
    )
    tot = pinned(
        dense.groupBy("event_type").agg(
            F.sum("c").cast("long").alias("n")
        )
    )
    a = cum.select(
        F.col("event_type").alias("type_a"),
        "xr",
        F.col("c").alias("ca"),
    )
    b = cum.select(
        F.col("event_type").alias("type_b"),
        "xr",
        F.col("c").alias("cb"),
        F.col("cm").alias("cmb"),
    )
    tb = tot.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("nb")
    )
    ta = tot.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("na")
    )
    pair = (
        a.join(b, "xr")
        .filter(F.col("type_a") < F.col("type_b"))
        .join(F.broadcast(tb), "type_b")
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(
                F.col("ca") * 1.0 * (F.col("cmb") - F.col("cb"))
            ).alias("gt"),
            F.sum(
                F.col("ca") * 1.0 * (F.col("nb") - F.col("cmb"))
            ).alias("lt"),
        )
    )
    return (
        pair.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            stable_round(
                (F.col("gt") - F.col("lt"))
                / (F.col("na") * 1.0 * F.col("nb")),
                6,
            ).alias("cliffs_delta"),
        )
    )


@query(
    "events_user_lifecycle_states",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             floor(epoch(ts) / 604800)::BIGINT AS week
      FROM events
    ),
    st AS (
      SELECT user_id, week,
             lag(week) OVER (PARTITION BY user_id ORDER BY week)
               AS prev_week
      FROM uw
    ),
    states AS (
      SELECT week,
             sum(CASE WHEN prev_week IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_new,
             sum(CASE WHEN prev_week = week - 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_retained,
             sum(CASE WHEN prev_week IS NOT NULL
                       AND prev_week < week - 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_resurrected
      FROM st GROUP BY 1
    ),
    churn AS (
      SELECT a.week + 1 AS week, count(*)::BIGINT AS n_churned
      FROM uw a LEFT JOIN uw b
        ON b.user_id = a.user_id AND b.week = a.week + 1
      WHERE b.user_id IS NULL
      GROUP BY 1
    )
    SELECT s.week, s.n_new, s.n_retained, s.n_resurrected,
           coalesce(c.n_churned, 0)::BIGINT AS n_churned
    FROM states s LEFT JOIN churn c USING (week)
    """,
)
def events_user_lifecycle_states(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly growth accounting: every active user classified as NEW
    (first week ever), RETAINED (also active the prior week) or
    RESURRECTED (active before, but not the prior week), plus CHURNED
    (active the prior week, absent this week) — the standard
    new/retained/resurrected/churned decomposition whose identity
    (DAU_t = new + retained + resurrected) growth teams reconcile
    before trusting any retention curve. Complements
    ``events_retention_weekly`` (cohort view) and
    ``events_dau_wau_stickiness`` (ratio view) with the flow view.

    Scale: the fact collapses to the DISTINCT (user, week) frame in
    one aggregate; the lifecycle label is a lag window partitioned by
    user over that bounded frame (weeks-per-user rows); churn is a
    self equi-join on (user, week+1). Output is one row per week.
    The churned count lands on the week the user is ABSENT — note the
    final corpus week therefore reports churn INTO it, while churn out
    of it is unobservable (no week+1 data) — both engines agree
    because the week grid comes from the same distinct frame."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    uw = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 604800)
        .cast("long")
        .alias("week"),
    ).distinct()
    wl = Window.partitionBy("user_id").orderBy("week")
    st = uw.select(
        "user_id", "week", F.lag("week").over(wl).alias("prev_week")
    )
    states = st.groupBy("week").agg(
        F.sum(F.when(F.col("prev_week").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(
            F.when(F.col("prev_week") == F.col("week") - 1, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_week").isNotNull()
                & (F.col("prev_week") < F.col("week") - 1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_resurrected"),
    )
    nxt = uw.select(
        "user_id", (F.col("week") + 1).alias("week")
    )
    churn = (
        nxt.join(uw, ["user_id", "week"], "left_anti")
        .groupBy("week")
        .agg(F.count(F.lit(1)).cast("long").alias("n_churned"))
    )
    return (
        states.join(churn, "week", "left")
        .select(
            "week",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce(F.col("n_churned"), F.lit(0))
            .cast("long")
            .alias("n_churned"),
        )
    )
