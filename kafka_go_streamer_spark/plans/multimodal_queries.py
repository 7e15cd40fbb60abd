"""Multimodal pipeline queries: binary-column plumbing with a REAL
header decode (see ``multimodal.py``): payloads are structurally-valid
PNG/JPEG/GIF/WAV containers synthesized from document text, and the
Spark side parses them back — magic bytes, chunk/segment walk, CRC
check, endian-correct dimension unpack — through one Arrow stage. The
oracle predicts what the parse MUST find from the generator's
arithmetic, so a pass certifies the parser + the UDF plumbing end to
end.

Every query here reads the documents table through ``_stage``: one fan
of the ``(key, text)`` frame to ``fan_width`` tasks, then
``multimodal.arrow_stage`` with one per-row chain. The two pHash
queries share one band-candidate pipeline (``_phash_candidates``)."""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.hashing import md5_60
from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.multimodal import (
    AUDIO_SCHEMA,
    BLOB_SCHEMA,
    CONTAINER_OVERHEAD,
    DECODE_SCHEMA,
    FEATURE_SCHEMA,
    FRAME_SCHEMA,
    QUARANTINE_MOD,
    QUARANTINE_SCHEMA,
    SIGNATURE_SCHEMA,
    arrow_stage,
    audio_rows,
    blob_rows,
    frame_rows,
    histogram_rows,
    image_fmt_sql,
    image_height_sql,
    image_width_sql,
    meta_rows,
    quarantine_rows,
    resized_meta_rows,
    signature_rows,
    wav_channels_sql,
    wav_rate_sql,
)
from kafka_go_streamer_spark.operators.dedup import cap_bucket
from kafka_go_streamer_spark.operators.iterate import pinned
from kafka_go_streamer_spark.plans.registry import query
from kafka_go_streamer_spark.sources.tables import (
    fan_out,
    fan_width,
    load_table,
    table_rows,
)

# The synthesis arithmetic has ONE source of truth in multimodal.py
# (image_params_for + its *_sql mirrors); oracles consume the builders
# so the Python and SQL halves cannot silently diverge.
_FMT_SQL = image_fmt_sql()
_W_SQL = image_width_sql()
_H_SQL = image_height_sql()
_RATE_SQL = wav_rate_sql()
_CH_SQL = wav_channels_sql()
_OVERHEAD_SQL = (
    f"CASE {_FMT_SQL} WHEN 'png' THEN {CONTAINER_OVERHEAD['png']} "
    f"WHEN 'jpeg' THEN {CONTAINER_OVERHEAD['jpeg']} "
    f"ELSE {CONTAINER_OVERHEAD['gif']} END"
)


def _stage(
    spark: SparkSession,
    sf_dir: str,
    rows: Callable[[int, str], Iterable[tuple]],
    schema: str,
) -> DataFrame:
    """The family's one fan and one Arrow stage: the documents table as
    ``(key, text)``, fanned to ``fan_width`` tasks from the footer row
    count (the test parquet ships one row group, so the unfanned scan
    is one task; a per-row header walk is µs of work, so a full-width
    fan of a few thousand rows pays more in Python-worker round-trips
    than it buys), then ``rows`` over ``arrow_stage``."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("key"), "text"
    )
    width = fan_width(spark, table_rows(sf_dir, "documents"))
    return arrow_stage(fan_out(docs, width), rows, schema)


@query(
    "multimodal_decode_meta",
    oracle=f"""
    SELECT doc_id AS key,
           (octet_length(encode(text)) + {_OVERHEAD_SQL})::INTEGER AS byte_len,
           {_FMT_SQL} AS format,
           {_W_SQL}::INTEGER AS width,
           {_H_SQL}::INTEGER AS height,
           3 AS channels,
           sha256(text) AS content_hash
    FROM documents
    """,
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> typed metadata through the mapInPandas/Arrow
    decode path with a REAL structural parser (the container headers
    are genuinely walked; dimensions come out of the binary, not out
    of a formula shared with the generator).

    Scale: synthesize and parse run in one narrow Arrow stage — linear
    in input splits, no shuffle past the fan; a pixel-level decoder
    drops into the same per-row chain without changing the plan."""
    return _stage(spark, sf_dir, meta_rows, DECODE_SCHEMA)


@query(
    "multimodal_binary_stats",
    oracle=f"""
    SELECT
      {_FMT_SQL} AS format,
      count(*) AS n,
      sum(octet_length(encode(text)) + {_OVERHEAD_SQL})::BIGINT AS total_bytes,
      max(octet_length(encode(text)) + {_OVERHEAD_SQL})::INTEGER AS max_bytes
    FROM documents
    GROUP BY 1
    """,
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over decoded metadata: the decode -> shuffle-light
    rollup shape of a real media-ingest pipeline."""
    meta = _stage(spark, sf_dir, meta_rows, DECODE_SCHEMA)
    return meta.groupBy("format").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("byte_len").cast("bigint").alias("total_bytes"),
        F.max("byte_len").alias("max_bytes"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id AS key, text,
             octet_length(encode(text)) // 16 AS n_frames
      FROM documents
    )
    SELECT key,
           unnest(range(0, n_frames, 4))::INTEGER AS frame_idx,
           sha256(substr(text, unnest(range(0, n_frames, 4)) * 16 + 1, 16))
             AS frame_sha
    FROM f
    WHERE n_frames > 0
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-4th-frame sampling from a binary "video" payload through
    the mapInPandas 1→N fan-out path (frame slicing stubbed as fixed
    16-byte frames; payloads are ASCII so the oracle's substr slicing
    is byte-exact).

    Scale: the output fan-out happens inside the Arrow batch, no
    shuffle, and a real ffmpeg keyframe extractor drops into the same
    per-row chain."""
    return _stage(spark, sf_dir, frame_rows, FRAME_SCHEMA)


@query(
    "multimodal_audio_meta",
    oracle=f"""
    SELECT doc_id AS key,
           (octet_length(encode(text)) + 44)::INTEGER AS byte_len,
           {_RATE_SQL} AS sample_rate,
           {_CH_SQL}::INTEGER AS channels,
           16 AS bits_per_sample,
           (octet_length(encode(text)) // ({_CH_SQL} * 2))::INTEGER
             AS n_samples,
           (octet_length(encode(text)) // ({_CH_SQL} * 2)) * 1000.0
             / {_RATE_SQL} AS duration_ms,
           sha256(text) AS content_hash
    FROM documents
    """,
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary WAV payload -> typed audio metadata (sample rate,
    channels, sample count, duration) through the same Arrow stage as
    images — the parser genuinely walks the RIFF chunk list and unpacks
    the little-endian fmt fields; the oracle predicts the result from
    the generator's arithmetic.

    Scale: narrow per-batch transform, no shuffle; a real resampler or
    feature extractor (MFCC/fbank) slots into the same chain."""
    return _stage(spark, sf_dir, audio_rows, AUDIO_SCHEMA)


@query(
    "multimodal_resize",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id AS key, text,
             {_W_SQL} AS w,
             {_H_SQL} AS h
      FROM documents
    ),
    r AS (
      SELECT key, text, w, h, greatest(w, h) AS mx FROM dims
    )
    SELECT key,
           (octet_length(encode(text)) + {_OVERHEAD_SQL})::INTEGER AS byte_len,
           {_FMT_SQL} AS format,
           (CASE WHEN mx > 256 THEN greatest(1, w * 256 // mx) ELSE w END)::INTEGER AS width,
           (CASE WHEN mx > 256 THEN greatest(1, h * 256 // mx) ELSE h END)::INTEGER AS height,
           3 AS channels,
           sha256(text) AS content_hash
    FROM r
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounding-box resize (max side 256, aspect preserved) PROVEN by
    re-decoding its output with the same structural parser: the
    rewritten container must carry the new dimensions (fresh PNG CRC /
    JPEG SOF / GIF descriptor) and the untouched content body (hash
    unchanged). The oracle predicts the integer resize arithmetic from
    the generator's dims.

    Scale: synthesize, resize and re-parse are one per-row chain in ONE
    Arrow stage — the blob never crosses to the JVM between steps."""
    return _stage(spark, sf_dir, resized_meta_rows, DECODE_SCHEMA)


@query(
    "multimodal_byte_histogram",
    oracle="""
    WITH k AS (
      SELECT doc_id AS key, octet_length(encode(text)) AS t FROM documents
    ),
    bins AS (SELECT unnest(range(0, 16)) AS bin),
    cnt AS (
      SELECT doc_id AS key, ord(c) % 16 AS bin, count(*) AS n
      FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
      GROUP BY 1, 2
    )
    SELECT k.key, bins.bin::INTEGER AS bin,
           coalesce(cnt.n, 0)::INTEGER AS n,
           round(coalesce(cnt.n, 0) * 1.0 / greatest(k.t, 1), 6) AS density
    FROM k CROSS JOIN bins
    LEFT JOIN cnt ON cnt.key = k.key AND cnt.bin = bins.bin
    """,
)
def multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction from the decoded payload: 16-bin byte
    histogram (count + density per bin) over the content body — the
    multimodal feature stage (the same chain computes a color
    histogram for rasters or energy bands for audio). The 1 -> 16
    fan-out happens inside the Arrow batch.

    The oracle recomputes the histogram from the source text (the
    content body is the text's bytes; payloads are ASCII so ord(char)
    equals the byte value)."""
    return _stage(spark, sf_dir, histogram_rows, FEATURE_SCHEMA)


@query(
    "multimodal_dedup_blobs",
    oracle="""
    WITH g AS (
      SELECT md5(text) AS fp, count(*)::BIGINT AS n
      FROM documents GROUP BY 1
    )
    SELECT sum(n)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_unique_blobs,
           sum(n - 1)::BIGINT AS n_dup_docs,
           max(n)::BIGINT AS largest_group
    FROM g
    """,
)
def multimodal_dedup_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT dedup on the BINARY modality: synthesize the image
    container for every document, hash the raw BLOB bytes, and report
    duplicate-group statistics. The oracle predicts the identical
    numbers from the TEXT fingerprints alone — blob synthesis is
    injective in the text (the content body IS the text bytes;
    format/dimensions derive from its sha256) — so this is a genuine
    cross-modality consistency check: the Arrow-batched binary pipeline
    must reproduce the group structure an independent engine derives
    without ever seeing a blob.

    Scale: the synthesis pass is Arrow-batched Python over one scan;
    the group count is map-side combinable (only the 16-byte digest
    shuffles) and the report is a scalar aggregate over the
    digest-cardinality frame."""
    blobs = _stage(spark, sf_dir, blob_rows, BLOB_SCHEMA)
    groups = blobs.groupBy(F.md5(F.col("blob")).alias("fp")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return groups.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_unique_blobs"),
        F.sum(F.col("n") - 1).cast("long").alias("n_dup_docs"),
        F.max("n").cast("long").alias("largest_group"),
    )


#: Perceptual-hash banding geometry: the 60-bit signature splits into
#: four 15-bit bands; candidates share any band (capped buckets), and
#: the full-signature Hamming distance verifies.
PHASH_BANDS = 4
PHASH_BAND_BITS = 15
PHASH_BUCKET_CAP = 64
PHASH_HAMMING = 12


def _phash_candidates(sigs: DataFrame) -> DataFrame:
    """``(id_a, id_b, sig_a, sig_b)`` band candidates of a
    ``(doc_id, sig)`` frame: an in-row explode to ``PHASH_BANDS`` band
    keys per signature, buckets over ``PHASH_BUCKET_CAP`` dropped
    (``cap_bucket``; no bucket can go quadratic), then a band-key
    equi-join of the capped frame with itself, pinned because both
    join sides read it."""
    bands = sigs.select(
        "doc_id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(PHASH_BANDS - 1))).alias("band"),
    ).select(
        "doc_id",
        "sig",
        "band",
        F.expr(
            f"shiftrightunsigned(sig, band * {PHASH_BAND_BITS})"
            f" & {(1 << PHASH_BAND_BITS) - 1}"
        ).alias("key"),
    )
    capped = pinned(cap_bucket(bands, "band", "key", cap=PHASH_BUCKET_CAP))

    def side(s: str) -> DataFrame:
        return capped.select(
            F.col("doc_id").alias(f"id_{s}"),
            F.col("sig").alias(f"sig_{s}"),
            "band",
            "key",
        )

    return (
        side("a")
        .join(side("b"), ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )


def _ham() -> Column:
    """Hamming distance of a candidate pair's signatures."""
    return F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))


@query(
    "multimodal_phash_bands",
    oracle=f"""
    WITH sigs AS (
      SELECT doc_id,
             ('0x' || substr(md5(text), 1, 15))::BIGINT AS sig
      FROM documents
    ),
    bands AS (
      SELECT doc_id, sig, b.band,
             (sig >> (b.band * {PHASH_BAND_BITS}))
               & {(1 << PHASH_BAND_BITS) - 1} AS key
      FROM sigs, (SELECT unnest(range(0, {PHASH_BANDS})) AS band) b
    ),
    capped AS (
      SELECT doc_id, sig, band, key FROM (
        SELECT *, count(*) OVER (PARTITION BY band, key) AS _n
        FROM bands
      ) WHERE _n <= {PHASH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT (SELECT count(*) FROM sigs)::BIGINT AS n_blobs,
           count(*)::BIGINT AS n_candidates,
           sum(CASE WHEN sig_a = sig_b THEN 1 ELSE 0 END)::BIGINT
             AS n_exact,
           sum(CASE WHEN sig_a <> sig_b
                     AND bit_count(xor(sig_a, sig_b)) <= {PHASH_HAMMING}
                    THEN 1 ELSE 0 END)::BIGINT AS n_near
    FROM cand
    """,
)
def multimodal_phash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded perceptual-hash near-duplicate blocking on the BINARY
    modality: synthesize every document's image container, DECODE it
    back to its content body, compress each body to a fixed 60-bit
    signature (``multimodal.signature``: the pixel-domain hash stubbed
    to an md5 of the decoded body, one swappable line), block
    candidates by 15-bit signature bands with a bucket cap, and verify
    candidates by full-signature Hamming distance — exactly the
    pHash/dHash dedup pipeline image corpora run. The oracle re-derives
    every count from the text alone — synthesis is injective, so the
    decode→signature path must reproduce the group structure an engine
    that never saw a blob predicts.

    Scale: synthesize→parse→sign is one Arrow stage, so only 8-byte
    signatures ever leave Python; banding is an in-row explode of 4
    rows per blob; the band-bucket self-join is capped and Hamming
    verification (xor + bit_count, codegen'd) runs on candidates only —
    the same blocking discipline as the SimHash/MinHash text family,
    applied cross-modality."""
    # pinned: the signature frame has two consumers (banding + blob
    # count) — unpinned, the Arrow stage would run under each; pinned,
    # blobs synthesize+sign exactly once and only the 8-byte
    # signatures materialize
    sigs = pinned(
        _stage(spark, sf_dir, signature_rows, SIGNATURE_SCHEMA).select(
            F.col("key").alias("doc_id"), "sig"
        )
    )
    n_blobs = sigs.agg(F.count(F.lit(1)).cast("long").alias("n_blobs"))
    return _phash_candidates(sigs).crossJoin(F.broadcast(n_blobs)).groupBy(
        "n_blobs"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum(F.when(F.col("sig_a") == F.col("sig_b"), 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
        F.sum(
            F.when(
                (F.col("sig_a") != F.col("sig_b")) & (_ham() <= PHASH_HAMMING),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_near"),
    ).select("n_blobs", "n_candidates", "n_exact", "n_near")


def _phash_hamming_sql() -> str:
    return f"""
    WITH sigs AS (
      SELECT doc_id,
             ('0x' || substr(md5(text), 1, 15))::BIGINT AS sig
      FROM documents
    ),
    bands AS (
      SELECT doc_id, sig, b.band,
             (sig >> (b.band * {PHASH_BAND_BITS}))
               & {(1 << PHASH_BAND_BITS) - 1} AS key
      FROM sigs, (SELECT unnest(range(0, {PHASH_BANDS})) AS band) b
    ),
    capped AS (
      SELECT doc_id, sig, band, key FROM (
        SELECT *, count(*) OVER (PARTITION BY band, key) AS _n
        FROM bands
      ) WHERE _n <= {PHASH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT (bit_count(xor(sig_a, sig_b)) // 8)::INTEGER AS ham_bucket,
           count(*)::BIGINT AS n_pairs,
           min(bit_count(xor(sig_a, sig_b)))::INTEGER AS min_ham,
           max(bit_count(xor(sig_a, sig_b)))::INTEGER AS max_ham
    FROM cand GROUP BY 1
    """


@query("multimodal_phash_hamming_hist", oracle=_phash_hamming_sql)
def multimodal_phash_hamming_hist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hamming-distance histogram of the pHash band candidates (8-bit
    buckets over the 60-bit signature): where the candidate mass sits
    relative to the verification threshold. ``multimodal_phash_bands``
    reports counts at ONE threshold (PHASH_HAMMING); this is the
    distribution an operator reads to MOVE it — a bimodal histogram
    (near-zero mass + band-collision noise floor) confirms the
    threshold; a flat one says the bands are pure collisions and the
    signature needs more bits.

    Scale: the bands query's candidate pipeline (``_phash_candidates``);
    the histogram adds one xor+bit_count projection (codegen) and a
    ≤8-row aggregate. The signature here is the text-side md5 TWIN the
    bands oracle pins (injective synthesis ⇒ same group structure), so
    the histogram needs no blob decode and no Arrow stage at all — the
    cheap re-tuning query between decode-backed audits."""
    d = load_table(spark, sf_dir, "documents")
    cand = _phash_candidates(d.select("doc_id", md5_60("text").alias("sig")))
    return cand.groupBy(
        F.expr("cast(bit_count(sig_a ^ sig_b) div 8 as int)").alias(
            "ham_bucket"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min(_ham()).cast("int").alias("min_ham"),
        F.max(_ham()).cast("int").alias("max_ham"),
    )


def _format_mix_sql() -> str:
    from kafka_go_streamer_spark.plans.registry import ORACLES

    meta = ORACLES["multimodal_decode_meta"]
    return f"""
    WITH meta AS MATERIALIZED ({meta})
    SELECT format,
           count(*)::BIGINT AS n_blobs,
           round(avg(width), 2) AS mean_width,
           round(avg(height), 2) AS mean_height,
           round(avg(byte_len), 2) AS mean_bytes,
           max(byte_len)::INTEGER AS max_bytes
    FROM meta GROUP BY 1
    """


@query("multimodal_format_mix", oracle=_format_mix_sql)
def multimodal_format_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-format mix of the binary corpus: per format, blob
    count, mean decoded dimensions, and byte sizes — the ingest
    dashboard that sizes decoder pools and flags format drift (a new
    crawl suddenly 80% GIF is a pipeline bug, not a data shift). Runs
    on the REAL synthesize→parse chain, so the numbers come from
    structural decode, not metadata trust.

    Scale: the decode scan is the one Arrow stage; the mix is one tiny
    aggregate over its (format, dims, bytes) projection — formats are
    single-digit cardinality."""
    meta = _stage(spark, sf_dir, meta_rows, DECODE_SCHEMA)
    return meta.groupBy("format").agg(
        F.count(F.lit(1)).cast("long").alias("n_blobs"),
        stable_round(F.avg("width"), 2).alias("mean_width"),
        stable_round(F.avg("height"), 2).alias("mean_height"),
        stable_round(F.avg("byte_len"), 2).alias("mean_bytes"),
        F.max("byte_len").cast("int").alias("max_bytes"),
    )


def _aspect_buckets_sql() -> str:
    from kafka_go_streamer_spark.plans.registry import ORACLES

    meta = ORACLES["multimodal_decode_meta"]
    return f"""
    WITH meta AS MATERIALIZED ({meta})
    SELECT format,
           CASE WHEN width * 2 <= height THEN 'ultra_tall'
                WHEN width < height THEN 'tall'
                WHEN width = height THEN 'square'
                WHEN width >= height * 2 THEN 'ultra_wide'
                ELSE 'wide' END AS ar_bucket,
           count(*)::BIGINT AS n_blobs,
           round(avg(width * height / 1000000.0), 4) AS mean_megapixels,
           round(avg(byte_len), 2) AS mean_bytes
    FROM meta GROUP BY 1, 2
    """


@query("multimodal_aspect_ratio_buckets", oracle=_aspect_buckets_sql)
def multimodal_aspect_ratio_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Aspect-ratio bucket mix of the decoded image corpus, per
    container format: vision-encoder training batches group images of
    like aspect ratio (resize-to-bucket beats letterboxing), so this
    table — bucket populations and their mean megapixels/bytes — IS
    the bucketed-batching plan and the resize-budget estimate.
    Buckets are decided by exact integer cross-multiplication
    (width·2 ≤ height etc.), never a float ratio, so bucket edges are
    deterministic on both engines.

    Scale: dimensions come off the one Arrow stage; the mix is one
    map-side-combined aggregate on a (format × 5-bucket) key — decode
    scan speed at any corpus size."""
    meta = _stage(spark, sf_dir, meta_rows, DECODE_SCHEMA)
    bucket = (
        F.when(F.col("width") * 2 <= F.col("height"), "ultra_tall")
        .when(F.col("width") < F.col("height"), "tall")
        .when(F.col("width") == F.col("height"), "square")
        .when(F.col("width") >= F.col("height") * 2, "ultra_wide")
        .otherwise("wide")
    )
    return meta.groupBy("format", bucket.alias("ar_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_blobs"),
        stable_round(
            F.avg(F.col("width") * F.col("height") / 1000000.0), 4
        ).alias("mean_megapixels"),
        stable_round(F.avg("byte_len"), 2).alias("mean_bytes"),
    )


def _quarantine_sql() -> str:
    return f"""
    WITH meta AS (
      SELECT CASE WHEN doc_id % {QUARANTINE_MOD} = 0 THEN 'quarantined'
                  ELSE {_FMT_SQL} END AS status_format,
             octet_length(encode(text)) + {_OVERHEAD_SQL} AS byte_len
      FROM documents
    ),
    nn AS (SELECT count(*) AS n FROM documents)
    SELECT status_format,
           count(*)::BIGINT AS n_blobs,
           round(avg(byte_len), 2) AS mean_bytes,
           round(count(*) * 1.0 / max(nn.n), 6) AS corpus_share
    FROM meta CROSS JOIN nn GROUP BY 1
    """


@query("multimodal_decode_quarantine", oracle=_quarantine_sql)
def multimodal_decode_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The decode error path, priced: blobs whose key is divisible by
    QUARANTINE_MOD arrive corrupted (magic byte zeroed — the fixture's
    stand-in for truncated crawls and bit rot), the Arrow stage catches
    the parse failure PER ROW (``multimodal.quarantine_rows``), and this
    table reports the healthy format mix beside the quarantine bucket.
    The number a real ingest pages on: a quarantine share jumping from
    ~3% to 30% means the upstream fetcher broke, and the pipeline kept
    running to tell you so instead of dying mid-stage.

    Oracle: the corruption set and every healthy row's format/bytes
    are predicted from the generator's arithmetic — the parse MUST
    reject exactly the corrupted keys (no container magic starts 0x00)
    and must parse everything else.

    Scale: the stage emits three small columns per blob (blobs never
    round-trip through the JVM); the rollup is one tiny aggregate."""
    meta = _stage(spark, sf_dir, quarantine_rows, QUARANTINE_SCHEMA)
    # corpus size off the RAW table: one blob per document by
    # construction, and counting meta instead would re-inline the
    # Arrow stage into a second consumer
    nn = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        meta.groupBy("status_format")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blobs"),
            stable_round(F.avg("byte_len"), 2).alias("mean_bytes"),
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "status_format",
            "n_blobs",
            "mean_bytes",
            stable_round(F.col("n_blobs") * 1.0 / F.col("n"), 6).alias(
                "corpus_share"
            ),
        )
    )
