"""Text-analysis queries over the ``documents`` table: token counting,
quality scoring, language ID, fingerprinting. Thin registrations over
the expression builders in ``functions/text.py`` — the Spark column and
the DuckDB SQL derive from the same module, one source of truth."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.rounding import stable_round

from kafka_go_streamer_spark.functions import text as X
from kafka_go_streamer_spark.plans.graph import pagerank, pagerank_sql
from kafka_go_streamer_spark.plans.registry import query
from kafka_go_streamer_spark.sources.tables import cpu_fan, load_table

#: Training-prep gate thresholds — the ONE definition shared by
#: ``prep_survivors`` / ``pipeline_training_prep`` (here),
#: ``pipeline_pretraining_full`` (training_ops), ``pipeline_gate_funnel``
#: (corpus_ops) and ``quality_gate_ablation`` (reliability), Spark body
#: and DuckDB oracle alike, so a threshold change cannot silently
#: desynchronize the derived audits from the pipeline (ADVICE r13).
PREP_MIN_WORDS = 20
PREP_MIN_ALPHA = 0.6
PREP_LANG = "en"


@query(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
           {X.word_count_sql('text')}  AS n_words,
           {X.token_count_sql('text')} AS n_tokens,
           n_chars
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace word count + BPE-ish token count per document.

    Scale: pure narrow projection; regexp_count/split are codegen'd."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X.word_count(F.col("text")).alias("n_words"),
        X.token_count(F.col("text")).alias("n_tokens"),
        "n_chars",
    )


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           {X.word_count_sql('text')} AS n_words,
           {X.alpha_ratio_sql('text')} AS alpha_ratio,
           round({X.stopword_hits_sql('text', 'en')} * 1.0
                 / greatest({X.word_count_sql('text')}, 1), 4) AS stopword_ratio,
           CASE WHEN {X.word_count_sql('text')} >= 20
                 AND {X.alpha_ratio_sql('text')} > 0.6
                THEN 'keep' ELSE 'filter' END AS verdict
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / alphabetic ratio / stopword ratio and a
    keep/filter verdict — the standard pretraining-corpus gate.

    The words array and both ratios are bound once via intermediate
    columns so the split/regexp work is done once per row, not once per
    output expression."""
    # cpu_fan: the per-byte text stage below is CPU-dense and the
    # fixture scan is one row group (one task) — measured SERIAL at
    # sf1.0 (r17 c8-vs-c32 sweep, ratio ~1.0). Row-aware width: the
    # full-parallelism fan measured +0.5-2.5 s at sf0.1 (pinned
    # frames fan every downstream stage); see sources/tables.cpu_fan.
    d = cpu_fan(spark, load_table(spark, sf_dir, "documents"), sf_dir)
    bound = d.select(
        "doc_id",
        X.word_count(F.col("text")).alias("n_words"),
        X.alpha_ratio(F.col("text")).alias("alpha_ratio"),
        X.stopword_hits(F.col("text"), "en").alias("_sw_hits"),
    )
    return bound.select(
        "doc_id",
        "n_words",
        "alpha_ratio",
        stable_round(F.col("_sw_hits") / F.greatest(F.col("n_words"), F.lit(1)), 4).alias(
            "stopword_ratio"
        ),
        F.when((F.col("n_words") >= 20) & (F.col("alpha_ratio") > 0.6), "keep")
        .otherwise("filter")
        .alias("verdict"),
    )


@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           {X.lang_id_sql('text')} AS predicted_lang
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language-ID heuristic vs the labeled lang column.
    Words are split once into an intermediate column; the per-language
    hit counts all filter that one array."""
    d = load_table(spark, sf_dir, "documents")
    bound = d.select(
        "doc_id", "lang", X.words(F.col("text")).alias("_words")
    )
    return bound.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        X.lang_id_from_words(F.col("_words")).alias("predicted_lang"),
    )


@query(
    "text_fingerprints",
    oracle=f"""
    SELECT doc_id,
           {X.fingerprint_sql('text')}     AS fp,
           {X.bag_fingerprint_sql('text')} AS bag_fp
    FROM documents
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact and order-insensitive document fingerprints (md5-based,
    engine-stable)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X.fingerprint(F.col("text")).alias("fp"),
        X.bag_fingerprint(F.col("text")).alias("bag_fp"),
    )


@query(
    "text_winnowing_fingerprints",
    oracle="""
    WITH w0 AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3 THEN
               list_transform(range(1, len(w) - 1),
                              i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
             ELSE []::VARCHAR[] END AS gh
      FROM w0
    ),
    wi AS (
      SELECT doc_id,
             CASE WHEN len(gh) >= 4 THEN
               list_transform(range(1, len(gh) - 2),
                              j -> list_aggregate(gh[j:j+3], 'min'))
             ELSE []::VARCHAR[] END AS wins
      FROM g
    )
    SELECT doc_id, unnest(list_distinct(wins)) AS fingerprint
    FROM wi
    """,
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al.): md5 over
    3-word shingles, window-min over 4-wide windows, distinct — the
    rolling-hash fingerprint family the plagiarism/near-dup literature
    uses, guaranteeing any shared run of >= w+k-1 words yields at least
    one shared fingerprint.

    Scale: relational form — posexplode words, hash each k-gram ONCE
    (lead() over word position), window-min over the next w grams; one
    shuffle on doc_id, parallel in rows x words. The array-expression
    form re-hashed all grams per window under Catalyst project collapse
    (O(words^2) per doc, measured ~50x slower at 500 docs). Output rows
    (doc, fingerprint) feed the same bucket-join candidate generation
    as MinHash bands (fingerprint equality IS the blocking key)."""
    from kafka_go_streamer_spark.functions.text import winnow_fingerprint_rows

    d = load_table(spark, sf_dir, "documents")
    return winnow_fingerprint_rows(d)


@query(
    "text_repetition_ratio",
    oracle="""
    WITH w0 AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3 THEN
               list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
             ELSE []::VARCHAR[] END AS grams
      FROM w0
    )
    SELECT doc_id,
           len(grams)::INTEGER AS n_shingles,
           len(list_distinct(grams))::INTEGER AS n_distinct,
           round((len(grams) - len(list_distinct(grams))) * 1.0
                 / greatest(len(grams), 1), 4) AS repetition_ratio
    FROM g
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal: the fraction of 3-word
    shingles that are repeats within the document (templated/spam text
    scores high, natural prose near zero) — a standard pre-training
    corpus filter alongside `text_quality`'s length/punct ratios.

    Scale: pure higher-order-function projection per row — no UDF, no
    shuffle, no pairwise anything; the filter threshold is applied
    downstream as an ordinary pushable predicate."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = F.when(
        F.size(ws) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - 3),
            lambda i: F.concat_ws(
                " ", F.get(ws, i), F.get(ws, i + 1), F.get(ws, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return d.select(
        "doc_id",
        F.size(grams).alias("n_shingles"),
        F.size(F.array_distinct(grams)).alias("n_distinct"),
        stable_round(
            (F.size(grams) - F.size(F.array_distinct(grams)))
            / F.greatest(F.size(grams), F.lit(1)),
            4,
        ).alias("repetition_ratio"),
    )


@query(
    "text_lang_confusion",
    oracle=f"""
    SELECT lang, {X.lang_id_sql('text')} AS predicted, count(*) AS n
    FROM documents
    GROUP BY 1, 2
    """,
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts of the stopword language-ID heuristic against
    the labeled ``lang`` column — the evaluation query a corpus
    pipeline runs after any classifier change (per-(label, predicted)
    cell counts; accuracy falls out as sum of diagonal / total).

    Scale: classify is a codegen'd projection; the confusion matrix is
    one map-side-combined aggregate over a languages² key domain."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(
        "lang", X.lang_id(F.col("text")).alias("predicted")
    ).agg(F.count(F.lit(1)).alias("n"))


def prep_survivors(d: DataFrame) -> DataFrame:
    """Score -> gate -> dedup over a documents-shaped DataFrame: the
    reusable core of `pipeline_training_prep`, also run per-micro-batch
    by the streaming ingest test (foreachBatch + cross-batch anti-join
    on ``bag_fp``). Returns survivors WITH the fingerprint column so a
    caller can dedup against previously-committed output."""
    from pyspark.sql import Window

    scored = d.select(
        "doc_id",
        "source",
        X.word_count(F.col("text")).alias("n_words"),
        X.token_count(F.col("text")).alias("n_tokens"),
        X.alpha_ratio(F.col("text")).alias("alpha_ratio"),
        X.lang_id(F.col("text")).alias("pred_lang"),
        X.bag_fingerprint(F.col("text")).alias("bag_fp"),
    )
    kept = scored.filter(
        (F.col("n_words") >= PREP_MIN_WORDS)
        & (F.col("alpha_ratio") > PREP_MIN_ALPHA)
        & (F.col("pred_lang") == PREP_LANG)
    )
    w = Window.partitionBy("bag_fp").orderBy(F.col("doc_id").asc())
    return (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_words", "n_tokens", "bag_fp")
    )


@query(
    "pipeline_training_prep",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             {X.word_count_sql('text')} AS n_words,
             {X.token_count_sql('text')} AS n_tokens,
             {X.alpha_ratio_sql('text')} AS alpha_ratio,
             {X.lang_id_sql('text')} AS pred_lang,
             {X.bag_fingerprint_sql('text')} AS bag_fp
      FROM documents
    ),
    kept AS (
      SELECT * FROM scored
      WHERE n_words >= {PREP_MIN_WORDS} AND alpha_ratio > {PREP_MIN_ALPHA}
        AND pred_lang = '{PREP_LANG}'
    )
    SELECT doc_id, source, n_words, n_tokens FROM (
      SELECT *, row_number() OVER (
        PARTITION BY bag_fp ORDER BY doc_id ASC
      ) AS rn
      FROM kept
    ) WHERE rn = 1
    """,
)
def pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-data-prep pipeline — what this engine exists
    to run at 100 TB: quality gate (length + alphabetic ratio) ->
    language gate (stopword lang-ID = 'en') -> exact dedup (keep the
    lowest doc_id per bag fingerprint) -> token accounting for the
    surviving corpus.

    Scale shape: ONE scan of the corpus; every score is a codegen'd
    projection over a words array bound once per row; both gates are
    plain predicates applied BEFORE the only shuffle (the dedup window
    on the fingerprint), so shuffle volume is the post-filter survivor
    set, not the raw corpus. Dedup-by-window (not dropDuplicates) keeps
    the kept row deterministic. At cluster scale the window's hash
    partitioning on bag_fp spreads uniformly (md5), no skew defense
    needed."""
    d = load_table(spark, sf_dir, "documents")
    return prep_survivors(d).select(
        "doc_id", "source", "n_words", "n_tokens"
    )


from kafka_go_streamer_spark.operators.dedup import (  # noqa: E402
    shingles,
    shingles_of,
    shingles_sql,
)
from kafka_go_streamer_spark.functions.text import words  # noqa: E402

_DECON_SH = shingles_sql("w")


@query(
    "text_decontaminate",
    oracle=f"""
    WITH w0 AS (
      SELECT doc_id, {X.words_sql('text')} AS w FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest({_DECON_SH}) AS s FROM w0
    ),
    bench AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0
    ),
    hits AS (
      SELECT sh.doc_id, count(DISTINCT sh.s) AS n_shared
      FROM sh JOIN bench USING (s)
      WHERE sh.doc_id % 50 <> 0
      GROUP BY sh.doc_id
    )
    SELECT doc_id, n_shared FROM hits
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION — the eval-leak gate every pretraining
    corpus runs: flag corpus documents sharing any 3-word shingle with
    the benchmark set (here: doc_id % 50 == 0 stands in for the eval
    suite), with the shared-shingle count as evidence strength.

    Scale shape: the benchmark shingle set is tiny (eval suites are
    k docs, the corpus is 100 TB) and BROADCASTS; the corpus is
    exploded to shingle rows once and hash-joined against the broadcast
    — no shuffle of the corpus, no pairwise doc x doc work. The count
    aggregate shuffles only the HIT rows (rare by construction). At
    cluster scale this is the exact shape of an 8-gram Bloom/exact
    decontamination pass; the shingle width is a constant."""
    from kafka_go_streamer_spark.sources.tables import fan_out

    d = load_table(spark, sf_dir, "documents")
    # fan_out: the CPU-dense shingle explode must parallelize; test
    # parquet is a single row group (one task without this), a real
    # cluster's many-split scan skips it (see fan_out docstring)
    #
    # `sh` feeds BOTH the bench branch and the probe branch, but the
    # doc_id % 50 predicates push below each branch's Generate into the
    # FileScan (verified in the physical plan), so the two explodes
    # process DISJOINT 2%/98% doc sets — one logical pass total, no
    # pinning barrier needed.
    # words bound in its own projection (see shingle_stream_of): the
    # inline form re-splits the text per shingle element
    sh = fan_out(d).select(
        "doc_id", words(F.col("text")).alias("_w")
    ).select("doc_id", F.explode(shingles_of(F.col("_w"))).alias("s"))
    bench = (
        sh.filter(F.col("doc_id") % 50 == 0).select("s").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count_distinct("s").alias("n_shared"))
    )


@query(
    "text_unigram_logprob",
    oracle=f"""
    WITH w0 AS (
      SELECT doc_id, {X.words_sql('text')} AS w FROM documents
    ),
    tok AS (SELECT doc_id, unnest(w) AS word FROM w0),
    freq AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
    tot AS (SELECT sum(c) AS t FROM freq)
    SELECT tok.doc_id,
           count(*)::INTEGER AS n_tokens,
           round(avg(ln(freq.c / tot.t)), 6) AS avg_logprob
    FROM tok JOIN freq USING (word) CROSS JOIN tot
    GROUP BY tok.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram language-model score per document — the
    relational stand-in for a KenLM perplexity quality filter: train a
    unigram LM on the corpus itself (one word-count aggregate), then
    score every document by its mean token log-probability. Documents
    full of rare junk tokens score low; fluent common-word text scores
    high. Two corpus passes, zero Python.

    Scale shape: pass 1 is a map-side-combined word count (vocab-sized
    output, ~millions of rows at web scale — broadcastable here, an
    ordinary shuffle join at worst); pass 2 re-explodes the corpus and
    hash-joins tokens to the frequency table, aggregating per doc. The
    total-count scalar rides along as a broadcast single row."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(X.words(F.col("text"))).alias("word"))
    freq = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("t"))
    return (
        tok.join(F.broadcast(freq), "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            stable_round(
                F.avg(F.log(F.col("c") / F.col("t"))), 6
            ).alias("avg_logprob"),
        )
    )


@query(
    "sample_balanced_sources",
    oracle="""
    WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    m AS (SELECT min(n) AS m FROM counts),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(doc_id::VARCHAR), doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source FROM ranked, m WHERE rn <= m.m
    """,
)
def sample_balanced_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-balanced corpus sampling — the data-MIXTURE step: keep an
    equal number of documents per source (the minimum source count),
    choosing each source's survivors by md5-hash rank so the selection
    is deterministic, uniform-ish within source, and identical on any
    cluster size or engine (no rand(), no TABLESAMPLE).

    Scale shape: one count aggregate (source-cardinality output, rides
    as a broadcast scalar), then ONE window shuffle partitioned by
    source to rank and cut. At web scale the per-source rank would use
    the same hash as a FILTER threshold (keep hash < m/n quantile)
    instead of a full window sort — noted here because source counts
    are small in testdata; the hash-order semantics are identical."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    m = counts.agg(F.min("n").alias("m"))
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(m))
        .filter(F.col("rn") <= F.col("m"))
        .select("doc_id", "source")
    )


#: BM25 retrieval constants (Robertson/Okapi defaults) and the fixed
#: keyword query. Terms span the document-frequency range of the
#: testdata vocabulary: 'dup' is rare (high idf), 'vector' and 'batch'
#: are common — so the ranking exercises the idf spread, not just tf.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("dup", "vector", "batch")
BM25_TOPK = 10


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest({X.words_sql('text')}) AS w FROM documents
    ),
    tf AS (
      SELECT doc_id, w, count(*)::DOUBLE AS tf
      FROM w WHERE w <> '' GROUP BY doc_id, w
    ),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
    dfq AS (
      SELECT w, count(*)::DOUBLE AS df FROM tf
      WHERE w IN {BM25_TERMS} GROUP BY w
    ),
    scored AS (
      SELECT tf.doc_id,
             ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
             * (tf.tf * ({BM25_K1} + 1))
             / (tf.tf + {BM25_K1}
                * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl)) AS sc
      FROM tf
      JOIN dfq USING (w)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
    )
    SELECT doc_id, round(sum(sc), 4) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT {BM25_TOPK}
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval: top-{BM25_TOPK} documents for a fixed
    keyword query — the sparse-retrieval complement to the embedding
    ANN family (real corpus pipelines run BOTH: BM25 candidates union
    vector candidates feed the re-ranker).

    Fully relational Okapi BM25: one explode pass builds term
    frequencies (the inverted-index shape: one shuffle on
    (doc, term)); document length and corpus stats (N, avgdl) reduce
    from it; the query's document frequencies are a <=|terms|-row
    broadcast, as are the corpus stats, so scoring touches only rows
    whose term IS a query term (filter pushes to the tf aggregate) and
    the final sum shuffles only scored docs. Top-k compiles to
    TakeOrderedAndProject over the ROUNDED score (+ doc_id tiebreak)
    so both engines rank identically.

    Scale: at 100 TB the tf table IS the inverted index — build it
    once, reuse per query; everything per-query is broadcast-sized.

    r16 restructure (same results, the retrieval_hybrid_rrf shape):
    document length is row-local (count of non-empty tokens), so the
    corpus-wide (doc, word) aggregate is never built — one explode-free
    scan prices lengths + corpus stats, one exploded scan builds the
    query-term-filtered tf frame with dl in-row (pinned for its two
    consumers), and every aggregate runs on term-filtered rows."""
    d = load_table(spark, sf_dir, "documents")
    from kafka_go_streamer_spark.operators.iterate import pinned
    from kafka_go_streamer_spark.sources.tables import fan_out

    nonempty = F.size(
        F.filter(X.words(F.col("text")), lambda x: x != F.lit(""))
    ).cast("double")
    dlf = (
        fan_out(d)
        .select("doc_id", nonempty.alias("dl"))
        .filter(F.col("dl") > 0)
    )
    stats = dlf.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    )
    tft = pinned(
        fan_out(d)
        .select("doc_id", X.words(F.col("text")).alias("_w"))
        .select(
            "doc_id",
            F.size(
                F.filter(F.col("_w"), lambda x: x != F.lit(""))
            ).cast("double").alias("dl"),
            F.explode("_w").alias("w"),
        )
        .filter(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id", "dl", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfq = tft.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    idf = F.log(
        1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tft.join(F.broadcast(dfq), "w")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (idf * (F.col("tf") * (BM25_K1 + 1)) / norm).alias("sc"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(stable_round(F.sum("sc"), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(BM25_TOPK)
    )


#: Add-alpha smoothing for the bigram LM; V rides as the vocab size.
BIGRAM_ALPHA = 0.5


@query(
    "text_bigram_logprob",
    oracle=f"""
    WITH w0 AS (
      SELECT doc_id, {X.words_sql('text')} AS w FROM documents
    ),
    tok AS (SELECT doc_id, unnest(w) AS word FROM w0),
    uni AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
    vocab AS (SELECT count(*)::DOUBLE AS v FROM uni),
    bg AS (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      FROM w0, LATERAL (SELECT unnest(range(1, len(w))) AS i)
      WHERE len(w) >= 2
    ),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2)
    SELECT bg.doc_id,
           count(*)::INTEGER AS n_bigrams,
           round(avg(ln((bc.c12 + {BIGRAM_ALPHA})
                        / (uni.c + {BIGRAM_ALPHA} * vocab.v))), 6)
             AS avg_logprob
    FROM bg
    JOIN bc USING (w1, w2)
    JOIN uni ON bg.w1 = uni.word
    CROSS JOIN vocab
    GROUP BY bg.doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram language-model score per document — the next rung
    above ``text_unigram_logprob`` on the quality-filter ladder: score
    each document by its mean smoothed conditional log-probability
    ln((c(w1,w2) + a) / (c(w1) + a*V)). Junk with improbable word
    ORDER now scores low even when its unigrams are common — the
    signal a unigram LM cannot see.

    Scale shape: training is two map-side-combined count aggregates
    (bigram table ~O(vocab^2) worst case but Zipf-sparse in practice —
    an ordinary shuffle join at web scale, broadcastable here); the
    scoring pass re-derives each document's bigrams with one
    explode-of-transform (no self-join of token rows) and hash-joins
    them to the two count tables; vocab size rides as a broadcast
    scalar. Zero Python anywhere."""
    d = load_table(spark, sf_dir, "documents")
    from kafka_go_streamer_spark.sources.tables import fan_out

    w0 = fan_out(d).select("doc_id", X.words(F.col("text")).alias("w"))
    tok = w0.select("doc_id", F.explode("w").alias("word"))
    uni = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    vocab = uni.agg(F.count(F.lit(1)).cast("double").alias("v"))
    bg = (
        w0.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> struct(element_at(w, i) AS w1, "
                    "element_at(w, i + 1) AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
    )
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    logp = F.log(
        (F.col("c12") + BIGRAM_ALPHA)
        / (F.col("c") + BIGRAM_ALPHA * F.col("v"))
    )
    return (
        bg.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(uni.withColumnRenamed("word", "w1")), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bigrams"),
            stable_round(F.avg(logp), 6).alias("avg_logprob"),
        )
    )


@query(
    "sample_split_train_eval",
    oracle="""
    WITH assigned AS (
      SELECT doc_id, source, n_chars,
             CASE
               WHEN substr(md5(doc_id::VARCHAR), 1, 1) IN
                    ('0','1','2','3','4','5','6','7','8','9','a','b','c','d')
               THEN 'train'
               WHEN substr(md5(doc_id::VARCHAR), 1, 1) = 'e' THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    )
    SELECT split, count(*) AS n_docs,
           sum(n_chars)::BIGINT AS total_chars
    FROM assigned GROUP BY split
    """,
)
def sample_split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by key hash (14/1/1
    sixteenths ≈ 87.5/6.25/6.25) with per-split accounting — the split
    every training run needs, reproducible across engines, reruns, and
    cluster sizes because membership is a pure function of the key (no
    rand(), no TABLESAMPLE, no state).

    Scale: a row-local CASE over md5's first nibble — pushes into the
    scan, shuffles only the 3-row aggregate. Growing the corpus never
    moves an existing document between splits (the property that keeps
    eval sets stable across corpus versions)."""
    d = load_table(spark, sf_dir, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(nib.isin(*"0123456789abcd"), "train")
        .when(nib == "e", "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "text_gopher_quality",
    oracle=f"""
    WITH bound AS (
      SELECT doc_id, {X.words_sql('text')} AS ws, text FROM documents
    )
    SELECT doc_id,
           len(ws)::INTEGER AS n_words,
           {X.mean_word_len_sql('ws')} AS mean_word_len,
           {X.symbol_word_ratio_sql('text', 'ws')} AS symbol_ratio,
           {X.alpha_word_ratio_sql('ws')} AS alpha_word_ratio,
           len(list_filter(list_distinct(ws),
               w -> list_contains(['the','a','of','and','to','in','is','it'], w)
           ))::INTEGER AS sw_distinct,
           CASE WHEN len(ws) BETWEEN 50 AND 100000
                 AND {X.mean_word_len_sql('ws')} BETWEEN 3 AND 10
                 AND {X.symbol_word_ratio_sql('text', 'ws')} < 0.1
                 AND {X.alpha_word_ratio_sql('ws')} >= 0.8
                 AND len(list_filter(list_distinct(ws),
                     w -> list_contains(['the','a','of','and','to','in','is','it'], w)
                 )) >= 2
                THEN 'keep' ELSE 'filter' END AS verdict
    FROM bound
    """,
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style (Rae et al. 2021, MassiveText) quality rule set:
    word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    alphabetic-word share, and distinct-stopword floor, combined into a
    keep/filter verdict.  Complements ``text_quality`` (char-level
    alpha ratio) with the document-structure screens production corpus
    filters actually use.

    Scale: the words array is bound ONCE per row and every rule is a
    higher-order array expression over it — a pure narrow projection,
    codegen'd, no shuffle, no UDF; pushes column pruning down to
    (doc_id, text)."""
    d = load_table(spark, sf_dir, "documents")
    sw_en = X.STOPWORDS["en"]
    bound = d.select(
        "doc_id", "text", X.words(F.col("text")).alias("ws")
    )
    sw_distinct = F.size(
        F.filter(
            F.array_distinct(F.col("ws")), lambda w: w.isin(*sw_en)
        )
    )
    scored = bound.select(
        "doc_id",
        F.size("ws").alias("n_words"),
        X.mean_word_len(F.col("ws")).alias("mean_word_len"),
        X.symbol_word_ratio(F.col("text"), F.col("ws")).alias("symbol_ratio"),
        X.alpha_word_ratio(F.col("ws")).alias("alpha_word_ratio"),
        sw_distinct.alias("sw_distinct"),
    )
    keep = (
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("symbol_ratio") < 0.1)
        & (F.col("alpha_word_ratio") >= 0.8)
        & (F.col("sw_distinct") >= 2)
    )
    return scored.select(
        "*", F.when(keep, "keep").otherwise("filter").alias("verdict")
    )


#: DSIR selection size: how many non-target documents to keep.
DSIR_K = 50


@query(
    "sample_dsir_importance",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({X.words_sql('text')}) AS word FROM documents
    ),
    freq_r AS (SELECT word, count(*) AS cr FROM tok GROUP BY word),
    tot_r  AS (SELECT sum(cr) AS tr, count(*) AS v FROM freq_r),
    freq_t AS (
      SELECT t.word, count(*) AS ct
      FROM tok t JOIN documents d USING (doc_id)
      WHERE d.lang = 'en' GROUP BY t.word
    ),
    tot_t AS (SELECT sum(ct) AS tt FROM freq_t),
    scored AS (
      SELECT t.doc_id,
             count(*) AS n_tokens,
             avg(ln((coalesce(ft.ct, 0) + 1.0) / (tot_t.tt + tot_r.v))
                 - ln(fr.cr * 1.0 / tot_r.tr)) AS logratio
      FROM tok t
      JOIN freq_r fr USING (word)
      LEFT JOIN freq_t ft USING (word), tot_r, tot_t
      GROUP BY t.doc_id
    ),
    ranked AS (
      SELECT s.doc_id, d.source, s.n_tokens::INTEGER AS n_tokens,
             round(s.logratio, 6) AS logratio,
             row_number() OVER (ORDER BY s.logratio DESC, s.doc_id ASC) AS rk
      FROM scored s JOIN documents d USING (doc_id)
      WHERE d.lang <> 'en'
    )
    SELECT doc_id, source, n_tokens, logratio, rk
    FROM ranked WHERE rk <= {DSIR_K}
    """,
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance selection (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every RAW (non-target) document by how much more likely its tokens
    are under a TARGET-domain unigram LM (here: the lang='en' slice)
    than under the raw-corpus LM — avg log p_target(w) - log p_raw(w),
    Laplace-smoothed over the corpus vocabulary — and keep the top-K
    most target-like documents. This is the data-selection step that
    upgrades a quality gate into a domain-matching gate, fully
    deterministic (no rand(): selection is a pure function of the
    corpus).

    Scale shape: ONE tokenize pass feeds both LM count tables (vocab-
    sized, map-side combined — broadcastable here, ordinary shuffle
    joins at web scale); scoring re-joins tokens to the two frequency
    tables and aggregates per doc; the final top-K compiles to
    TakeOrderedAndProject. All JVM built-ins, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(X.words(F.col("text"))).alias("word")
    )
    freq_r = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cr"))
    tot_r = freq_r.agg(
        F.sum("cr").alias("tr"), F.count(F.lit(1)).alias("v")
    )
    target_ids = d.filter(F.col("lang") == "en").select("doc_id")
    freq_t = (
        tok.join(target_ids, "doc_id")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot_t = freq_t.agg(F.sum("ct").alias("tt"))
    scored = (
        tok.join(F.broadcast(freq_r), "word")
        .join(F.broadcast(freq_t), "word", "left")
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(F.broadcast(tot_t))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.avg(
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                    / (F.col("tt") + F.col("v"))
                )
                - F.log(F.col("cr") / F.col("tr"))
            ).alias("logratio"),
        )
    )
    raw = d.filter(F.col("lang") != "en").select("doc_id", "source")
    ranked = scored.join(raw, "doc_id").orderBy(
        F.col("logratio").desc(), F.col("doc_id").asc()
    ).limit(DSIR_K)
    # single-partition window over the <= DSIR_K survivors (the limit
    # precedes it); pmod keeps a non-foldable constant partition spec so
    # WindowExec doesn't log the (here meaningless) no-partition warning
    w = Window.partitionBy(F.pmod(F.col("doc_id"), F.lit(1))).orderBy(
        F.col("logratio").desc(), F.col("doc_id").asc()
    )
    return ranked.select(
        "doc_id",
        "source",
        "n_tokens",
        stable_round(F.col("logratio"), 6).alias("logratio"),
        F.row_number().over(w).alias("rk"),
    )


#: Vocabulary-coverage report size.
VOCAB_TOP = 20


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH freq AS (
      SELECT word, count(*) AS c
      FROM (SELECT unnest({X.words_sql('text')}) AS word FROM documents)
      GROUP BY word
    ),
    tot AS (SELECT sum(c) AS t FROM freq),
    ranked AS (
      SELECT word, c,
             row_number() OVER (ORDER BY c DESC, word ASC) AS rk,
             sum(c) OVER (ORDER BY c DESC, word ASC
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM freq
    )
    SELECT rk, word, c AS freq,
           round(c * 1.0 / tot.t, 6)   AS share,
           round(cum * 1.0 / tot.t, 6) AS cum_share
    FROM ranked, tot WHERE rk <= {VOCAB_TOP}
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design statistic: the corpus frequency head — top
    words with individual and CUMULATIVE corpus share (the curve that
    decides vocabulary size: how many types cover 95% of tokens).

    Scale shape: the word count is the standard map-side-combined
    aggregate (vocab-sized output — millions of rows at web scale, not
    corpus-sized); the top-VOCAB_TOP selection is orderBy+limit, which
    compiles to TakeOrderedAndProject (per-partition heaps — the vocab
    table is NEVER globally sorted into one partition), and the rank /
    running-share windows run over only those VOCAB_TOP rows (the
    head's cumulative sum needs nothing below the head). Deterministic
    total order via (freq desc, word asc)."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(X.words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = freq.agg(F.sum("c").alias("t"))
    top = freq.orderBy(F.col("c").desc(), F.col("word").asc()).limit(
        VOCAB_TOP
    )
    w = Window.partitionBy(
        F.pmod(F.length(F.col("word")), F.lit(1))
    ).orderBy(F.col("c").desc(), F.col("word").asc())
    ranked = top.select(
        "word",
        "c",
        F.row_number().over(w).alias("rk"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "rk",
        "word",
        F.col("c").alias("freq"),
        stable_round(F.col("c") / F.col("t"), 6).alias("share"),
        stable_round(F.col("cum") / F.col("t"), 6).alias("cum_share"),
    )


@query(
    "text_bpe_pair_merges",
    oracle=f"""
    WITH w AS (
      SELECT unnest({X.words_sql('text')!s}) AS w FROM documents
    ),
    pr AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substr(w, i, 2))) AS pair
      FROM w WHERE length(w) >= 2
    )
    SELECT pair, count(*) AS cnt
    FROM pr GROUP BY 1
    ORDER BY cnt DESC, pair ASC
    LIMIT 20
    """,
)
def text_bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-step statistics: corpus-wide counts of adjacent
    character pairs inside words, top-20 — exactly the frequency table
    the first byte-pair-encoding merge decision reads (subsequent
    merges would re-run the same query over the re-tokenized corpus;
    word-boundary markers are omitted so the pair space is the plain
    in-word bigram set).

    Scale: pairs are generated positionally IN-ROW (a codegen'd
    transform over each word — no self-join of adjacent characters),
    the count is map-side combinable, and the top-20 compiles to
    TakeOrderedAndProject; the full pair table is never materialized
    or sorted globally. This is the vocabulary-induction twin of
    text_ngram_topk one level down (chars, not words).

    Measured non-change (r10, VERDICT task 4): the char-entropy
    treatment — xxhash64'd agg keys (± in-row flatten-once
    generation) — was A/B'd against this form same-session at sf1,
    min of 3: string-group two-explode 3.72 s, flatten+string 4.37 s,
    either explode form with hash-key + min(pair) identity ≈ 8.1-8.6
    s. Hash keys LOSE here because the pair vocabulary is tiny
    (≈10³, so string hashing was never the bottleneck) while the
    extra per-row xxhash64 + min(pair) buffer update doubles the
    per-byte work; char-entropy's ×2 win came from fixing a
    quadratic substring seek over LONG texts, a pathology short
    words don't have. The ×7.4 BENCH_SCALEUP ratio is linear
    per-byte generation with the small-SF side overhead-dominated —
    kept as-is deliberately."""
    # cpu_fan: the per-byte text stage below is CPU-dense and the
    # fixture scan is one row group (one task) — measured SERIAL at
    # sf1.0 (r17 c8-vs-c32 sweep, ratio ~1.0). Row-aware width: the
    # full-parallelism fan measured +0.5-2.5 s at sf0.1 (pinned
    # frames fan every downstream stage); see sources/tables.cpu_fan.
    d = cpu_fan(spark, load_table(spark, sf_dir, "documents"), sf_dir)
    pairs = (
        d.select(F.explode(X.words(F.col("text"))).alias("w"))
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> substring(w, i, 2))"
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(20)
    )


#: Frozen linear quality-classifier weights (a fastText-style model
#: "shipped" as constants): intercept, log-word-count, mean word
#: length, alpha ratio, English stopword-hit share of words. Frozen so
#: the SQL twin scores bit-comparably; a retrain ships new constants,
#: not new plumbing.
QC_W0 = -4.0
QC_W_LOGWC = 0.9
QC_W_MWL = 0.35
QC_W_ALPHA = 2.0
QC_W_STOP = 3.0


@query(
    "text_quality_classifier",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             ln({X.word_count_sql('text')} + 1) AS logwc,
             {X.mean_word_len_sql(X.words_sql('text'))} AS mwl,
             {X.alpha_ratio_sql('text')} AS alpha,
             {X.stopword_hits_sql('text', 'en')} * 1.0 /
               greatest({X.word_count_sql('text')}, 1) AS stopshare
      FROM documents
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-({QC_W0} + {QC_W_LOGWC} * logwc
             + {QC_W_MWL} * mwl + {QC_W_ALPHA} * alpha
             + {QC_W_STOP} * stopshare))), 4) AS quality_score,
           CASE WHEN round(1.0 / (1.0 + exp(-({QC_W0}
             + {QC_W_LOGWC} * logwc + {QC_W_MWL} * mwl
             + {QC_W_ALPHA} * alpha + {QC_W_STOP} * stopshare))), 4)
             >= 0.5 THEN 1 ELSE 0 END AS keep
    FROM f
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier INFERENCE as a projection: a frozen
    logistic model over four cheap text features (log word count, mean
    word length, alphabetic ratio, stopword share) scores every
    document and thresholds a keep flag — how a fastText-style quality
    model actually runs inside a corpus pipeline once trained.

    Scale: inference is a pure narrow projection (features and sigmoid
    are all codegen'd expressions over the scan — no UDF, no shuffle,
    no model server round-trip), so it runs at scan speed on any
    corpus. The keep decision thresholds the ROUNDED score so both
    engines agree at the boundary; the weights are literals, so a
    model update is a constant swap with an unchanged plan."""
    # cpu_fan: the per-byte text stage below is CPU-dense and the
    # fixture scan is one row group (one task) — measured SERIAL at
    # sf1.0 (r17 c8-vs-c32 sweep, ratio ~1.0). Row-aware width: the
    # full-parallelism fan measured +0.5-2.5 s at sf0.1 (pinned
    # frames fan every downstream stage); see sources/tables.cpu_fan.
    d = cpu_fan(spark, load_table(spark, sf_dir, "documents"), sf_dir)
    wc = X.word_count(F.col("text"))
    f = d.select(
        "doc_id",
        F.log(wc + F.lit(1)).alias("logwc"),
        X.mean_word_len(X.words(F.col("text"))).alias("mwl"),
        X.alpha_ratio(F.col("text")).alias("alpha"),
        (
            X.stopword_hits(F.col("text"), "en")
            * 1.0
            / F.greatest(wc, F.lit(1))
        ).alias("stopshare"),
    )
    z = (
        F.lit(QC_W0)
        + QC_W_LOGWC * F.col("logwc")
        + QC_W_MWL * F.col("mwl")
        + QC_W_ALPHA * F.col("alpha")
        + QC_W_STOP * F.col("stopshare")
    )
    score = stable_round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)
    return f.select(
        "doc_id",
        score.alias("quality_score"),
        F.when(score >= 0.5, 1).otherwise(0).alias("keep"),
    )


#: Shared train-split predicate (first md5 nibble of doc_id in 0..d):
#: MUST stay identical to sample_split_train_eval's assignment so the
#: held-out scorer and the split accounting agree on membership.
_TRAIN_NIBS = "0123456789abcd"
_VAL_NIB = "e"


@query(
    "text_eval_perplexity_heldout",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, substr(md5(doc_id::VARCHAR), 1, 1) AS nib,
             unnest({X.words_sql('text')}) AS word
      FROM documents
    ),
    freq AS (
      SELECT word, count(*) AS c FROM tok
      WHERE nib IN ({", ".join(f"'{c}'" for c in _TRAIN_NIBS)})
      GROUP BY word
    ),
    stats AS (
      SELECT sum(c) AS t, count(*) AS v FROM freq
    ),
    scored AS (
      SELECT tok.doc_id,
             ln((coalesce(freq.c, 0) + 1.0) / (stats.t + stats.v)) AS lp
      FROM tok LEFT JOIN freq USING (word) CROSS JOIN stats
      WHERE tok.nib = '{_VAL_NIB}'
    )
    SELECT doc_id, count(*)::INTEGER AS n_tokens,
           round(avg(lp), 6) AS avg_logprob,
           round(exp(-avg(lp)), 2) AS perplexity
    FROM scored GROUP BY doc_id
    """,
)
def text_eval_perplexity_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out language-model evaluation with proper split hygiene:
    a Laplace-smoothed unigram LM is trained ONLY on the train split
    (the same md5-nibble assignment as ``sample_split_train_eval``)
    and scores only the val split — per-doc mean log-probability and
    perplexity. Unseen val words get the (c+1)/(T+V) smoothed mass
    instead of crashing the join, which is the whole point of
    evaluating off-train (``text_unigram_logprob`` trains on the full
    corpus and can never see an OOV).

    Scale: identical shape to the corpus LM — one map-side-combined
    word count over the train partition (vocab-sized output), then the
    val tokens LEFT-join the broadcast frequency table; the split
    predicate is a row-local nibble CASE that pushes into both scans.
    The smoothing constants ride as a broadcast 1-row frame."""
    d = load_table(spark, sf_dir, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    tok = d.select(
        "doc_id",
        nib.alias("nib"),
        F.explode(X.words(F.col("text"))).alias("word"),
    )
    freq = (
        tok.filter(F.col("nib").isin(*_TRAIN_NIBS))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = freq.agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("v")
    )
    scored = (
        tok.filter(F.col("nib") == _VAL_NIB)
        .join(F.broadcast(freq), "word", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                / (F.col("t") + F.col("v"))
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        stable_round(F.avg("lp"), 6).alias("avg_logprob"),
        stable_round(F.exp(-F.avg("lp")), 2).alias("perplexity"),
    )


#: Feature-hashing width (the "hashing trick"): words hash into a
#: fixed bucket space so the feature dimensionality is constant no
#: matter how the vocabulary grows.
FEATURE_HASH_BUCKETS = 1024


@query(
    "text_feature_hashing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({X.words_sql('text')}) AS word
      FROM documents
    )
    SELECT doc_id,
           (('0x' || substr(md5(word), 1, 8))::BIGINT
             % {FEATURE_HASH_BUCKETS}) AS bucket,
           count(*) AS tf
    FROM tok GROUP BY 1, 2
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: every document's sparse bag-of-words feature
    vector over a FIXED 1024-bucket space (word -> md5-slice hash ->
    bucket, counts summed on collision) — the input representation of
    linear text models (fastText / Vowpal Wabbit style), sized
    independently of vocabulary growth so the model shape never
    changes as the corpus scales.

    Scale: explode -> hash -> one map-side-combinable groupBy on
    (doc_id, bucket); no vocabulary table, no dictionary broadcast, no
    second pass — the defining advantage of hashing over a fitted
    vocabulary encoder at 100 TB (the collision cost is the textbook
    trade, bounded by the bucket count)."""
    # cpu_fan: the per-byte text stage below is CPU-dense and the
    # fixture scan is one row group (one task) — measured SERIAL at
    # sf1.0 (r17 c8-vs-c32 sweep, ratio ~1.0). Row-aware width: the
    # full-parallelism fan measured +0.5-2.5 s at sf0.1 (pinned
    # frames fan every downstream stage); see sources/tables.cpu_fan.
    d = cpu_fan(spark, load_table(spark, sf_dir, "documents"), sf_dir)
    tok = d.select(
        "doc_id", F.explode(X.words(F.col("text"))).alias("word")
    )
    bucket = (
        F.conv(F.substring(F.md5("word"), 1, 8), 16, 10).cast("long")
        % FEATURE_HASH_BUCKETS
    )
    return (
        tok.groupBy("doc_id", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@query(
    "split_leakage_check",
    oracle="""
    WITH labeled AS (
      SELECT md5(text) AS fp,
             CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) < 'e'
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents
    ),
    per_fp AS (
      SELECT fp,
             sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)::BIGINT
               AS n_train,
             sum(CASE WHEN split = 'eval' THEN 1 ELSE 0 END)::BIGINT
               AS n_eval
      FROM labeled GROUP BY 1
    )
    SELECT sum(n_train)::BIGINT AS n_train_docs,
           sum(n_eval)::BIGINT AS n_eval_docs,
           sum(CASE WHEN n_train > 0 AND n_eval > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_shared_fingerprints,
           sum(n_train * n_eval)::BIGINT AS n_cross_pairs,
           sum(CASE WHEN n_train > 0 THEN n_eval ELSE 0 END)::BIGINT
             AS n_eval_docs_contaminated
    FROM per_fp
    """,
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split LEAKAGE audit: after the deterministic hash split
    (same nibble rule as ``sample_split_train_eval``, eval = val+test
    sixteenths), count exact-duplicate text fingerprints that appear on
    BOTH sides — shared fingerprints, train×eval duplicate pairs, and
    how many eval documents are contaminated by a train twin. A split
    can be perfectly hash-stable and still leak every duplicated
    document; this is the audit that catches it (the near-dup
    complement is ``text_decontaminate``, which gates on shared
    shingles instead of whole-text equality).

    Scale: ONE shuffle on the text fingerprint; the cross-pair count
    is n_train·n_eval computed per group from two conditional counts —
    no pair is ever materialized, so a fingerprint duplicated a million
    times costs one row, not 10^12 pairs. The final scalar aggregate
    rides the same pass."""
    d = load_table(spark, sf_dir, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    labeled = d.select(
        F.md5(F.col("text")).alias("fp"),
        F.when(nib < "e", "train").otherwise("eval").alias("split"),
    )
    per_fp = labeled.groupBy("fp").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "eval", 1).otherwise(0))
        .cast("long")
        .alias("n_eval"),
    )
    return per_fp.agg(
        F.sum("n_train").cast("long").alias("n_train_docs"),
        F.sum("n_eval").cast("long").alias("n_eval_docs"),
        F.sum(
            F.when((F.col("n_train") > 0) & (F.col("n_eval") > 0), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_shared_fingerprints"),
        F.sum(F.col("n_train") * F.col("n_eval"))
        .cast("long")
        .alias("n_cross_pairs"),
        F.sum(F.when(F.col("n_train") > 0, F.col("n_eval")).otherwise(0))
        .cast("long")
        .alias("n_eval_docs_contaminated"),
    )


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH w AS (
      SELECT unnest({X.words_sql('text')}) AS word FROM documents
    ),
    vocab AS (SELECT word, count(*)::BIGINT AS c FROM w GROUP BY 1),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, word ASC) AS r
      FROM vocab
    ),
    pts AS (SELECT ln(r) AS x, ln(c) AS y FROM ranked),
    s AS (
      SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM pts
    )
    SELECT n AS vocab_size,
           round(-(n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
             AS zipf_exponent,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 4) AS log_intercept
    FROM s
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus word-frequency distribution: OLS
    slope of log(frequency) on log(rank) — the exponent a healthy
    natural-language corpus keeps near 1, and the one boilerplate or
    deduplication failures visibly bend (a flat head = mass
    concentrated in few tokens; compare ``stats_gini_concentration``
    on the same axis).

    Scale: one map-side-combinable vocabulary count; the rank window
    and the five OLS sums run over the VOCAB-cardinality frame (the
    rank ordering is a vocab sort, never a corpus sort). The slope
    arithmetic is the shared sum-of-products expression tree, so both
    engines compute identical doubles before the stabilized round."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(X.words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    r = Window.orderBy(F.col("c").desc(), F.col("word").asc())
    pts = vocab.select(
        F.log(F.row_number().over(r).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    n = F.count(F.lit(1))
    slope = (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")) / (
        n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    )
    return pts.agg(
        n.cast("long").alias("vocab_size"),
        stable_round(-slope, 4).alias("zipf_exponent"),
        stable_round(
            (F.sum("y") - slope * F.sum("x")) / n, 4
        ).alias("log_intercept"),
    )


@query(
    "text_good_turing_coverage",
    oracle=f"""
    WITH w AS (
      SELECT unnest({X.words_sql('text')}) AS word FROM documents
    ),
    vocab AS (SELECT word, count(*)::BIGINT AS c FROM w GROUP BY 1),
    s AS (
      SELECT sum(c)::BIGINT AS n_tokens,
             count(*)::BIGINT AS vocab_size,
             sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
             sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS n_dis
      FROM vocab
    )
    SELECT n_tokens, vocab_size, n_hapax, n_dis,
           round(n_hapax * 1.0 / n_tokens, 6) AS p_unseen,
           round(1.0 - n_hapax * 1.0 / n_tokens, 6) AS coverage
    FROM s
    """,
)
def text_good_turing_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing coverage estimate: the probability mass a language
    model should reserve for UNSEEN words is n₁/N (hapax count over
    token count) — the turn-the-crank answer to "how complete is this
    corpus's vocabulary", and the quantity Laplace/Katz smoothing
    budgets against (the held-out perplexity query's smoothing choice
    made measurable).

    Scale: one vocabulary count (map-side combinable) and one scalar
    conditional aggregate over the vocab-cardinality frame — the
    frequency-of-frequencies table never materializes beyond the two
    counts the estimate needs."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(X.words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    s = vocab.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n_dis"),
    )
    p_unseen = F.col("n_hapax") * 1.0 / F.col("n_tokens")
    return s.select(
        "n_tokens",
        "vocab_size",
        "n_hapax",
        "n_dis",
        stable_round(p_unseen, 6).alias("p_unseen"),
        stable_round(1.0 - p_unseen, 6).alias("coverage"),
    )


# ------------------------------------------------------- round 9: text
#: RAKE stopword set (the fixture vocabulary's function words) and
#: report size.
RAKE_STOPWORDS = ("a", "the")
RAKE_TOP = 15


def _rake_replaces_sql(expr: str) -> str:
    # two passes per stopword: replace() is leftmost-non-overlapping,
    # so ' a a a ' needs a second sweep for the middles
    out = expr
    for _ in range(2):
        for sw in RAKE_STOPWORDS:
            out = f"replace({out}, ' {sw} ', ' | ')"
    return out


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH ph0 AS (
      SELECT unnest(string_split(
               {_rake_replaces_sql("concat(' ', lower(text), ' ')")},
               '|')) AS raw
      FROM documents
    ),
    ph AS (
      SELECT string_split_regex(trim(raw), '\\s+') AS ws
      FROM ph0 WHERE trim(raw) <> ''
    ),
    occ AS (
      SELECT unnest(ws) AS word, len(ws)::BIGINT AS n_words FROM ph
    ),
    wstats AS (
      SELECT word, count(*)::BIGINT AS freq,
             sum(n_words)::BIGINT AS degree
      FROM occ GROUP BY 1
    ),
    dph AS (
      SELECT DISTINCT array_to_string(ws, ' ') AS phrase,
             len(ws)::BIGINT AS n_words, ws
      FROM ph
    ),
    scored AS (
      SELECT d.phrase, d.n_words,
             round(sum(w.degree * 1.0 / w.freq), 4) AS score
      FROM dph d, unnest(d.ws) AS t(word)
      JOIN wstats w USING (word)
      GROUP BY 1, 2
    )
    SELECT phrase, n_words, score
    FROM scored
    ORDER BY score DESC, phrase ASC
    LIMIT {RAKE_TOP}
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al.'s Rapid Automatic Keyword
    Extraction): candidate phrases are maximal stopword-free runs,
    each word scores degree/frequency (degree = Σ length of containing
    phrases), and a phrase scores the sum of its word scores — the
    classic unsupervised keyphrase extractor a corpus curator runs to
    label document clusters. Stopword splitting uses literal
    ``replace`` sweeps (never regex alternation), so both engines cut
    identical phrase boundaries including the overlapping-stopword
    case.

    Scale: phrase generation is in-row string surgery (codegen'd);
    word stats are one map-side-combinable aggregate over the
    exploded occurrences (vocab-cardinality result); phrase scoring
    joins the DISTINCT phrase set — boilerplate-heavy corpora collapse
    hard here — against the broadcast-size word-stats frame. The
    top-k is a TakeOrdered, never a global sort materialization."""
    # cpu_fan: the per-byte text stage below is CPU-dense and the
    # fixture scan is one row group (one task) — measured SERIAL at
    # sf1.0 (r17 c8-vs-c32 sweep, ratio ~1.0). Row-aware width: the
    # full-parallelism fan measured +0.5-2.5 s at sf0.1 (pinned
    # frames fan every downstream stage); see sources/tables.cpu_fan.
    d = cpu_fan(spark, load_table(spark, sf_dir, "documents"), sf_dir)
    s = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    for _ in range(2):
        for sw in RAKE_STOPWORDS:
            s = F.replace(s, F.lit(f" {sw} "), F.lit(" | "))
    ph = (
        d.select(F.explode(F.split(s, r"\|")).alias("raw"))
        .select(F.trim("raw").alias("raw"))
        .filter(F.col("raw") != "")
        .select(F.split("raw", r"\s+").alias("ws"))
    )
    occ = ph.select(
        F.explode("ws").alias("word"),
        F.size("ws").cast("long").alias("n_words"),
    )
    wstats = occ.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("n_words").cast("long").alias("degree"),
    )
    dph = ph.select(
        F.concat_ws(" ", "ws").alias("phrase"),
        F.size("ws").cast("long").alias("n_words"),
        "ws",
    ).dropDuplicates(["phrase"])
    scored = (
        dph.select("phrase", "n_words", F.explode("ws").alias("word"))
        .join(F.broadcast(wstats), "word")
        .groupBy("phrase", "n_words")
        .agg(
            stable_round(
                F.sum(F.col("degree") * 1.0 / F.col("freq")), 4
            ).alias("score")
        )
    )
    return scored.orderBy(
        F.col("score").desc(), F.col("phrase").asc()
    ).limit(RAKE_TOP)


@query(
    "text_readability_fk",
    oracle="""
    WITH w AS (
      SELECT lang, doc_id, unnest(string_split_regex(lower(trim(text)),
             '\\s+')) AS word
      FROM documents
    ),
    syl AS (
      SELECT lang, doc_id, word,
             greatest(1, len(regexp_extract_all(word, '[aeiouy]+')))
               AS syllables
      FROM w WHERE word <> ''
    ),
    agg AS (
      SELECT lang, count(DISTINCT doc_id)::BIGINT AS n_docs,
             count(*)::BIGINT AS n_words,
             sum(syllables)::BIGINT AS n_syllables
      FROM syl GROUP BY 1
    )
    SELECT lang, n_docs, n_words,
           round(n_words * 1.0 / n_docs, 4) AS words_per_sentence,
           round(n_syllables * 1.0 / n_words, 4) AS syllables_per_word,
           round(206.835 - 1.015 * (n_words * 1.0 / n_docs)
                 - 84.6 * (n_syllables * 1.0 / n_words), 2)
             AS flesch_reading_ease
    FROM agg
    """,
)
def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per language: words-per-sentence and
    vowel-group syllables-per-word folded through the classic
    206.835 − 1.015·wps − 84.6·spw formula (one sentence per document
    in this corpus — the sentence-splitting hook slots into the same
    aggregate) — the readability gate curricula and kid-safety filters
    put in front of training mixes.

    Scale: one exploded-word pass with an in-row regex syllable count
    (codegen, no UDF), collapsing straight to a per-language
    sufficient-statistics row; every formula term is arithmetic on
    that k-row frame, identical expression tree both engines."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "lang", "doc_id", F.explode(X.words(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    syl = w.select(
        "lang",
        "doc_id",
        F.greatest(
            F.lit(1),
            F.size(F.expr("regexp_extract_all(word, '[aeiouy]+', 0)")),
        ).alias("syllables"),
    )
    agg = syl.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("syllables").cast("long").alias("n_syllables"),
    )
    wps = F.col("n_words") * 1.0 / F.col("n_docs")
    spw = F.col("n_syllables") * 1.0 / F.col("n_words")
    return agg.select(
        "lang",
        "n_docs",
        "n_words",
        stable_round(wps, 4).alias("words_per_sentence"),
        stable_round(spw, 4).alias("syllables_per_word"),
        stable_round(
            206.835 - 1.015 * wps - 84.6 * spw, 2
        ).alias("flesch_reading_ease"),
    )


#: The Unicode replacement character, embedded literally in both
#: engines' expressions (regex escapes for it differ across dialects).
_REPL_CHAR = "�"


@query(
    "quality_encoding_check",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             length(text) AS n_chars,
             CASE WHEN regexp_matches(text, '^[ -~]*$')
                  THEN 1 ELSE 0 END AS is_ascii,
             length(text) - length(regexp_replace(text,
               '[\\x00-\\x1f\\x7f]', '', 'g')) AS n_ctrl,
             length(text) - length(replace(text, '{_REPL_CHAR}', ''))
               AS n_repl
      FROM documents
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           round(sum(is_ascii) * 1.0 / count(*), 4) AS ascii_ratio,
           round(sum(n_ctrl) * 10000.0 / sum(n_chars), 4)
             AS ctrl_per_10k_chars,
           sum(n_repl)::BIGINT AS n_replacement_chars
    FROM per_doc GROUP BY 1
    """,
)
def quality_encoding_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-health audit per source: fraction of pure
    printable-ASCII documents, control characters per 10k chars, and
    U+FFFD replacement-character count — the mojibake/binary-leak gate
    that runs FIRST in a crawl pipeline, because a source whose
    decoder broke poisons every downstream text statistic. The
    replacement character is matched as a literal (its regex escape
    differs across dialects); control chars via a shared byte-range
    class.

    Scale: entirely in-row regex/replace counters folded by one
    map-side-combinable aggregate to source cardinality — the same
    single-scan shape as the other quality gates, safe to prepend to
    any of them."""
    d = load_table(spark, sf_dir, "documents")
    per = d.select(
        "source",
        F.length("text").alias("n_chars"),
        F.when(F.col("text").rlike("^[ -~]*$"), 1).otherwise(0).alias(
            "is_ascii"
        ),
        (
            F.length("text")
            - F.length(
                F.regexp_replace("text", "[\\x00-\\x1f\\x7f]", "")
            )
        ).alias("n_ctrl"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(_REPL_CHAR)))
        ).alias("n_repl"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        stable_round(
            F.sum("is_ascii") * 1.0 / F.count(F.lit(1)), 4
        ).alias("ascii_ratio"),
        stable_round(
            F.sum("n_ctrl") * 10000.0 / F.sum("n_chars"), 4
        ).alias("ctrl_per_10k_chars"),
        F.sum("n_repl").cast("long").alias("n_replacement_chars"),
    )


#: The two independent quality gates whose agreement kappa measures:
#: A = stopword-ratio band + minimum length (fluency proxy),
#: B = mean-word-length band + type/token floor (repetition proxy).
KAPPA_STOP_LO, KAPPA_STOP_HI = 0.05, 0.60
KAPPA_MIN_WORDS = 20
KAPPA_MWL_LO, KAPPA_MWL_HI = 3.0, 6.0
KAPPA_TTR_MIN = 0.10
_KAPPA_STOPWORDS = ("a", "the")


@query(
    "quality_gate_agreement_kappa",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             len(ws)::BIGINT AS n_words,
             len(list_filter(ws, x -> x IN
               ({", ".join(f"'{s}'" for s in _KAPPA_STOPWORDS)})))
               * 1.0 / len(ws) AS stop_ratio,
             list_sum(list_transform(ws, x -> length(x))) * 1.0
               / len(ws) AS mean_word_len,
             len(list_distinct(ws)) * 1.0 / len(ws) AS ttr
      FROM w WHERE len(ws) > 0
    ),
    gates AS (
      SELECT doc_id,
             CASE WHEN stop_ratio BETWEEN {KAPPA_STOP_LO} AND
                       {KAPPA_STOP_HI}
                   AND n_words >= {KAPPA_MIN_WORDS}
                  THEN 1 ELSE 0 END AS ga,
             CASE WHEN mean_word_len BETWEEN {KAPPA_MWL_LO} AND
                       {KAPPA_MWL_HI}
                   AND ttr >= {KAPPA_TTR_MIN}
                  THEN 1 ELSE 0 END AS gb
      FROM feats
    ),
    c AS (
      SELECT count(*)::BIGINT AS n,
             sum(ga * gb)::BIGINT AS n11,
             sum(ga * (1 - gb))::BIGINT AS n10,
             sum((1 - ga) * gb)::BIGINT AS n01,
             sum((1 - ga) * (1 - gb))::BIGINT AS n00
      FROM gates
    )
    SELECT n, n11, n10, n01, n00,
           round((n11 + n00) * 1.0 / n, 6) AS p_observed,
           round(((n11 + n10) * (n11 + n01)
                  + (n01 + n00) * (n10 + n00)) * 1.0 / (n * n), 6)
             AS p_expected,
           round(((n11 + n00) * 1.0 / n
                  - ((n11 + n10) * (n11 + n01)
                     + (n01 + n00) * (n10 + n00)) * 1.0 / (n * n))
                 / (1.0 - ((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00)) * 1.0 / (n * n)),
                 6) AS kappa
    FROM c
    """,
)
def quality_gate_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent document-quality gates
    (a stopword-ratio/length fluency gate vs a word-length/type-token
    repetition gate): chance-corrected agreement — the measurement a
    curation team runs before swapping one gate for a cheaper one, or
    to decide whether two gates are redundant (κ≈1) or complementary
    (κ≈0) in a filtering cascade.

    Scale: both gates are in-row array arithmetic over ONE
    tokenization (no second scan, no UDF); the 2×2 confusion counts
    are a single map-side-combinable aggregate, and the kappa algebra
    runs on that one row — identical expression tree both engines."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", X.words(F.col("text")).alias("ws")).filter(
        F.size("ws") > 0
    )
    stopset = list(_KAPPA_STOPWORDS)
    feats = w.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        (
            F.size(
                F.filter("ws", lambda x: x.isin(stopset))
            )
            * 1.0
            / F.size("ws")
        ).alias("stop_ratio"),
        (
            F.aggregate(
                F.transform("ws", lambda x: F.length(x).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            * 1.0
            / F.size("ws")
        ).alias("mean_word_len"),
        (
            F.size(F.array_distinct("ws")) * 1.0 / F.size("ws")
        ).alias("ttr"),
    )
    ga = F.when(
        F.col("stop_ratio").between(KAPPA_STOP_LO, KAPPA_STOP_HI)
        & (F.col("n_words") >= KAPPA_MIN_WORDS),
        1,
    ).otherwise(0)
    gb = F.when(
        F.col("mean_word_len").between(KAPPA_MWL_LO, KAPPA_MWL_HI)
        & (F.col("ttr") >= KAPPA_TTR_MIN),
        1,
    ).otherwise(0)
    c = feats.select(ga.alias("ga"), gb.alias("gb")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("ga") * F.col("gb")).cast("long").alias("n11"),
        F.sum(F.col("ga") * (1 - F.col("gb"))).cast("long").alias("n10"),
        F.sum((1 - F.col("ga")) * F.col("gb")).cast("long").alias("n01"),
        F.sum((1 - F.col("ga")) * (1 - F.col("gb")))
        .cast("long")
        .alias("n00"),
    )
    po = (F.col("n11") + F.col("n00")) * 1.0 / F.col("n")
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ) * 1.0 / (F.col("n") * F.col("n"))
    return c.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        stable_round(po, 6).alias("p_observed"),
        stable_round(pe, 6).alias("p_expected"),
        stable_round((po - pe) / (1.0 - pe), 6).alias("kappa"),
    )


#: Pseudo-relevance feedback geometry: BM25 top-PRF_DOCS for the seed
#: query feed term extraction; the PRF_TERMS highest corpus-weighted
#: terms (minus the seed terms) become the expansion.
PRF_DOCS = 5
PRF_TERMS = 8


@query(
    "retrieval_query_expansion_prf",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest({X.words_sql('text')}) AS w FROM documents
    ),
    tf AS (
      SELECT doc_id, w, count(*)::DOUBLE AS tf
      FROM w WHERE w <> '' GROUP BY doc_id, w
    ),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
    dfq AS (
      SELECT w, count(*)::DOUBLE AS df FROM tf
      WHERE w IN {BM25_TERMS} GROUP BY w
    ),
    scored AS (
      SELECT tf.doc_id,
             ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
             * (tf.tf * ({BM25_K1} + 1))
             / (tf.tf + {BM25_K1}
                * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl)) AS sc
      FROM tf
      JOIN dfq USING (w)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
    ),
    rel AS (
      SELECT doc_id, round(sum(sc), 4) AS bm25
      FROM scored GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id ASC
      LIMIT {PRF_DOCS}
    ),
    dfall AS (SELECT w, count(*)::DOUBLE AS df FROM tf GROUP BY w),
    expansion AS (
      SELECT tf.w AS term,
             round(sum(tf.tf) * ln((SELECT n FROM stats)
                                   / dfall.df), 4) AS score
      FROM tf
      JOIN rel USING (doc_id)
      JOIN dfall ON dfall.w = tf.w
      WHERE tf.w NOT IN {BM25_TERMS}
      GROUP BY tf.w, dfall.df
    )
    SELECT term, score,
           row_number() OVER (ORDER BY score DESC, term ASC)::BIGINT
             AS rank
    FROM expansion
    ORDER BY score DESC, term ASC
    LIMIT {PRF_TERMS}
    """,
)
def retrieval_query_expansion_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio-style): run
    the seed BM25 query, take its top-{PRF_DOCS} documents as the
    pseudo-relevant set, and extract the {PRF_TERMS} highest
    TF·IDF-weighted terms (seed terms excluded) — the classic
    recall-expansion loop sparse retrieval stacks run before a second
    search pass; the output IS the expanded query.

    Scale: the tf table (the inverted-index shape) is built ONCE and
    reused by both stages: BM25 scoring touches only rows whose term
    is a seed term; the feedback stage joins tf against the
    {PRF_DOCS}-row relevant set (broadcast) and the vocab-sized df
    frame — no second corpus scan, no rescoring of the full corpus.
    Both rankings order by ROUNDED scores with deterministic
    tiebreaks, so engines agree on every boundary."""
    from kafka_go_streamer_spark.operators.iterate import pinned
    from kafka_go_streamer_spark.sources.tables import fan_out
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = fan_out(d).select(
        "doc_id", F.explode(X.words(F.col("text"))).alias("w")
    )
    tf = pinned(
        w.filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    # dl stays derived from the PINNED tf (unlike text_bm25_topk /
    # retrieval_hybrid_rrf, where the full tf existed only for dl):
    # here the expansion stage needs the whole inverted index anyway,
    # and one exchange over the materialized frame beats re-scanning
    # and re-tokenizing the text column (plan-asserted: the final plan
    # reads zero parquet — test_prf_reuses_one_tf_table)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    )
    dfq = (
        tf.filter(F.col("w").isin(*BM25_TERMS))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    sc = (
        F.log(
            1
            + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * (F.col("tf") * (BM25_K1 + 1))
        / (
            F.col("tf")
            + BM25_K1
            * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    rel = (
        tf.join(F.broadcast(dfq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(stable_round(F.sum(sc), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(PRF_DOCS)
    )
    dfall = tf.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    expansion = (
        # the pseudo-relevant term frame is bounded by PRF_DOCS
        # documents' postings — broadcast it so the join against the
        # vocab-sized df frame streams dfall instead of sort-merging
        F.broadcast(
            tf.join(F.broadcast(rel.select("doc_id")), "doc_id")
            .filter(~F.col("w").isin(*BM25_TERMS))
        )
        .join(dfall, "w")
        .crossJoin(F.broadcast(stats))
        .groupBy(F.col("w").alias("term"), F.col("df"), F.col("n"))
        .agg(
            stable_round(
                F.sum("tf") * F.log(F.col("n") / F.col("df")), 4
            ).alias("score")
        )
    )
    wr = Window.orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        expansion.select(
            "term",
            "score",
            F.row_number().over(wr).cast("long").alias("rank"),
        )
        .orderBy(F.col("score").desc(), F.col("term").asc())
        .limit(PRF_TERMS)
    )


@query(
    "text_ttr_lexical_diversity",
    oracle=f"""
    WITH w AS (
      SELECT lang, unnest({X.words_sql('text')}) AS word FROM documents
    ),
    vocab AS (
      SELECT lang, word, count(*)::BIGINT AS c FROM w GROUP BY 1, 2
    )
    SELECT lang,
           sum(c)::BIGINT AS n_tokens,
           count(*)::BIGINT AS vocab_size,
           sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
           round(count(*) * 1.0 / sum(c), 6) AS ttr,
           round(count(*) / sqrt(sum(c)), 6) AS root_ttr,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS hapax_ratio
    FROM vocab GROUP BY 1 ORDER BY lang
    """,
)
def text_ttr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per language: type-token ratio, root
    TTR (Guiraud's index — TTR's length-bias-corrected form), and the
    hapax share of the vocabulary. Low diversity flags templated or
    machine-generated text the quality scorer's length/punctuation
    ratios miss; per-language baselines matter because raw TTR is not
    comparable across languages with different morphology.

    Scale: one explode + one (lang, word) count collapse the corpus to
    vocabulary cardinality; everything after runs on the vocab frame
    (map-side combinable, no self-joins, no windows over the corpus).
    The same single-pass shape as the Zipf/Good-Turing queries —
    per-language here, whole-corpus there."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select("lang", F.explode(X.words(F.col("text"))).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    types = F.count(F.lit(1))
    toks = F.sum("c")
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return (
        vocab.groupBy("lang")
        .agg(
            toks.cast("long").alias("n_tokens"),
            types.cast("long").alias("vocab_size"),
            hapax.cast("long").alias("n_hapax"),
            stable_round(types * 1.0 / toks, 6).alias("ttr"),
            stable_round(types / F.sqrt(toks), 6).alias("root_ttr"),
            stable_round(hapax * 1.0 / types, 6).alias("hapax_ratio"),
        )
        .orderBy("lang")
    )


#: Burstiness report size: the top-N corpus words by total count.
BURST_TOP = 15


@query(
    "text_burstiness",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest({X.words_sql('text')}) AS word
      FROM documents
    ),
    c AS (
      SELECT word, doc_id, count(*)::BIGINT AS c FROM w GROUP BY 1, 2
    ),
    nd AS (SELECT count(*)::BIGINT AS n FROM documents),
    agg AS (
      SELECT word, sum(c)::BIGINT AS total,
             count(*)::BIGINT AS docs_present,
             sum(c * c) AS ss
      FROM c GROUP BY 1
    )
    SELECT word, total, docs_present,
           round(((ss - total * total * 1.0 / nd.n) / (nd.n - 1))
                 / (total * 1.0 / nd.n), 4) AS fano
    FROM agg, nd
    ORDER BY total DESC, word ASC LIMIT {BURST_TOP}
    """,
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness (Fano factor) for the top-{BURST_TOP} corpus
    words: variance-to-mean ratio of the per-document count, zeros
    included — function words scatter near-Poisson (fano ≈ 1) while
    topical and boilerplate words clump (fano ≫ 1). Church & Gale's
    classic observation, and a dedup-adjacent signal: a high-frequency
    word with extreme burstiness usually marks template text
    concentrated in few documents.

    Scale: one explode + one (word, doc) count collapse the corpus;
    zeros are never materialized — the full-corpus variance comes from
    inclusion-exclusion on (Σc², Σc, N) with the 1-row document count
    broadcast. Top-N by total with a word tie-break keeps the output
    deterministic."""
    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select(
            "doc_id", F.explode(X.words(F.col("text"))).alias("word")
        )
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    nd = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    agg = c.groupBy("word").agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("docs_present"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    mean = F.col("total") * 1.0 / F.col("n")
    var = (F.col("ss") - F.col("total") * F.col("total") * 1.0 / F.col("n")) / (
        F.col("n") - 1
    )
    return (
        agg.crossJoin(F.broadcast(nd))
        .select(
            "word",
            "total",
            "docs_present",
            stable_round(var / mean, 4).alias("fano"),
        )
        .orderBy(F.col("total").desc(), F.col("word").asc())
        .limit(BURST_TOP)
    )


#: TextRank geometry: graph restricted to the TR_VOCAB most frequent
#: words (the documented production cap — rank quality concentrates in
#: the head), TR_ITERS damped iterations (``graph.PR_DAMPING``), top
#: TR_TOP keywords out.
TR_VOCAB = 50
TR_ITERS = 3
TR_TOP = 15


def _textrank_oracle() -> str:
    base = f"""
    w AS (SELECT {X.words_sql('text')} AS ws FROM documents),
    bg AS (
      SELECT ws[i] AS a, ws[i + 1] AS b
      FROM w, unnest(range(1, len(ws))) AS t(i)
      WHERE len(ws) >= 2
    ),
    freq AS (
      SELECT word, count(*)::BIGINT AS c FROM (
        SELECT a AS word FROM bg UNION ALL SELECT b FROM bg
      ) GROUP BY 1
    ),
    vocab AS (
      SELECT word FROM (
        SELECT word,
               row_number() OVER (ORDER BY c DESC, word ASC) AS rk
        FROM freq
      ) WHERE rk <= {TR_VOCAB}
    ),
    eu AS (
      SELECT a, b, count(*)::BIGINT AS n FROM (
        SELECT a, b FROM bg UNION ALL SELECT b AS a, a AS b FROM bg
      )
      WHERE a <> b
        AND a IN (SELECT word FROM vocab)
        AND b IN (SELECT word FROM vocab)
      GROUP BY 1, 2
    ),
    ew AS (
      SELECT a AS f, b AS t, n / sum(n) OVER (PARTITION BY a) AS p
      FROM eu
    ),
    nodes AS (SELECT DISTINCT f AS node FROM ew),"""
    return (
        "WITH "
        + base
        + pagerank_sql(TR_ITERS)
        + f"""
    SELECT node AS word, round(r, 6) AS textrank
    FROM r{TR_ITERS}
    ORDER BY textrank DESC, word ASC LIMIT {TR_TOP}"""
    )


@query("text_textrank_keywords", oracle=_textrank_oracle)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau): damped PageRank
    over the word co-occurrence graph — adjacent-word edges, symmetric,
    weighted by transition probability — restricted to the {TR_VOCAB}
    most frequent words. Centrality-based keywords complement RAKE's
    degree/frequency heuristic: RAKE rewards words inside long
    stopword-free runs, TextRank rewards words that CONNECT the
    vocabulary, and the overlap of both lists is the robust keyword
    set.

    Scale: bigrams generate positionally in-row (the PMI query's
    discipline — the corpus is never self-joined); the frequency cap
    bounds the graph at {TR_VOCAB} nodes so the iteration runs on a
    constant-size frame with 1-row/edge-table broadcasts — the shared
    PageRank step (``graph.pagerank``) the behavioral PageRank runs
    too. One corpus scan at pin time, full
    stop. At 100 TB only the bigram count shuffle grows; the rank loop
    is cardinality-fixed by construction."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    d = load_table(spark, sf_dir, "documents")
    bg = pinned(
        d.select(X.words(F.col("text")).alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2), "
                    "i -> struct(ws[i] AS a, ws[i + 1] AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    freq = (
        bg.select(F.col("a").alias("word"))
        .unionByName(bg.select(F.col("b").alias("word")))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wv = Window.orderBy(F.col("c").desc(), F.col("word").asc())
    vocab = pinned(
        freq.select("word", F.row_number().over(wv).alias("rk"))
        .filter(F.col("rk") <= TR_VOCAB)
        .select("word")
    )
    sym = bg.unionByName(
        bg.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).filter(F.col("a") != F.col("b"))
    eu = (
        sym.join(
            F.broadcast(vocab.withColumnRenamed("word", "a")), "a"
        )
        .join(F.broadcast(vocab.withColumnRenamed("word", "b")), "b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wf = Window.partitionBy("a")
    ew = pinned(
        eu.select(
            F.col("a").alias("f"),
            F.col("b").alias("t"),
            (F.col("n") / F.sum("n").over(wf)).alias("p"),
        )
    )
    nodes = ew.select(F.col("f").alias("node")).distinct()
    return (
        pagerank(ew, nodes, TR_ITERS)
        .select(
            F.col("node").alias("word"),
            stable_round(F.col("r"), 6).alias("textrank"),
        )
        .orderBy(F.col("textrank").desc(), F.col("word").asc())
        .limit(TR_TOP)
    )


@query(
    "text_distinct_n",
    oracle=f"""
    WITH w AS (
      SELECT lang, {X.words_sql('text')} AS ws FROM documents
    ),
    uni AS (
      SELECT lang, count(*)::BIGINT AS n_tokens,
             count(DISTINCT word)::BIGINT AS d1
      FROM (SELECT lang, unnest(ws) AS word FROM w) GROUP BY 1
    ),
    bi AS (
      SELECT lang, count(*)::BIGINT AS n_bigrams,
             count(DISTINCT a || ' ' || b)::BIGINT AS d2
      FROM (
        SELECT lang, ws[i] AS a, ws[i + 1] AS b
        FROM w, unnest(range(1, len(ws))) AS t(i)
        WHERE len(ws) >= 2
      ) GROUP BY 1
    )
    SELECT u.lang, u.n_tokens,
           round(u.d1 * 1.0 / u.n_tokens, 6) AS distinct_1,
           b.n_bigrams,
           round(b.d2 * 1.0 / b.n_bigrams, 6) AS distinct_2
    FROM uni u JOIN bi b USING (lang) ORDER BY lang
    """,
)
def text_distinct_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1 / distinct-2 diversity per language (Li et al.'s
    generation-diversity metric): unique unigrams and bigrams over
    their totals — the standard dull-response/mode-collapse detector
    for generated corpora, applied here as a corpus-health gate
    (synthetic or templated data shows distinct-2 collapsing long
    before perplexity moves).

    Scale: unigrams and bigrams both generate positionally in-row from
    ONE tokenized scan; each side is a map-side-combinable distinct
    aggregate at (lang, gram) cardinality, joined at |langs| rows.
    Same vocab-collapse discipline as TTR/burstiness, one level up in
    n."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("lang", X.words(F.col("text")).alias("ws"))
    uni = (
        w.select("lang", F.explode("ws").alias("word"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count_distinct(F.col("word")).cast("long").alias("d1"),
        )
    )
    bi = (
        w.filter(F.size("ws") >= 2)
        .select(
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2), "
                    "i -> concat(ws[i], ' ', ws[i + 1]))"
                )
            ).alias("bg"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.count_distinct(F.col("bg")).cast("long").alias("d2"),
        )
    )
    return (
        uni.join(bi, "lang")
        .select(
            "lang",
            "n_tokens",
            stable_round(
                F.col("d1") * 1.0 / F.col("n_tokens"), 6
            ).alias("distinct_1"),
            "n_bigrams",
            stable_round(
                F.col("d2") * 1.0 / F.col("n_bigrams"), 6
            ).alias("distinct_2"),
        )
        .orderBy("lang")
    )
