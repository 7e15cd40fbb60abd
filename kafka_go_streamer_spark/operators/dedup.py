"""Deduplication operators for training-data pipelines.

Three tiers, all shuffle-disciplined:

* **exact** — md5-fingerprint groupBy: one shuffle on the fingerprint,
  map-side combine, no pairwise work ever.
* **near-dup via MinHash + LSH** — shingle -> K independent minhash
  signatures -> band buckets -> candidate pairs via equi-join on the
  bucket key -> exact Jaccard verification on candidates only. The
  pairwise explosion is confined to same-bucket groups; everything else
  is linear scans + equi-joins, which is what makes it viable at 100 TB
  (brute-force all-pairs is O(n^2) and is never materialized).
* **n-gram Jaccard verification** — exact set overlap, used as the
  verifier stage on LSH candidates.

Hash discipline: each shingle is md5-hashed ONCE and the digest's four
8-hex-char slices serve as the four minhash functions (128 well-mixed
bits = 4 independent 32-bit hashes), compared as hex strings —
identical in Spark and DuckDB, so the whole pipeline is
oracle-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.hashing import md5_60
from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.operators.iterate import pinned, pinned_counted

from kafka_go_streamer_spark.functions.text import (
    bag_fingerprint,
    bag_fingerprint_sql,
    words,
    words_sql,
)

#: Number of independent minhash signatures. Bands of size 1 (b=K, r=1):
#: candidate probability = 1-(1-j)^K, tuned for the low-similarity regime;
#: raise r for high-threshold dedup at production scale.
NUM_HASHES = 4
SHINGLE_SIZE = 3

#: Hot-bucket frequency cap: a band key (or winnowing fingerprint) shared
#: by more than this many documents is boilerplate, not duplication, and
#: would contribute O(bucket^2) candidate pairs — one quadratic bucket can
#: dominate the whole job at corpus scale. Buckets over the cap are
#: DROPPED before the pair join on both the Spark and oracle sides.
#: (Testdata buckets max out at ~7 members, so the cap is inert at test
#: scale and purely a skew guard at 100 TB.)
MAX_BUCKET = 32


def cap_bucket(df: DataFrame, *key_cols: str, cap: int = MAX_BUCKET) -> DataFrame:
    """Drop rows whose blocking-key group exceeds ``cap`` members.

    One window-count over the key — the same shuffle key as the candidate
    equi-join that follows, so Catalyst reuses the exchange and the cap
    costs no extra shuffle."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols)
    return (
        df.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_bucket_n") <= cap)
        .drop("_bucket_n")
    )


def shingles(text: Column) -> Column:
    """Distinct ``SHINGLE_SIZE``-word shingles of the lowercased text.
    Documents shorter than one shingle contribute their whole word join
    as a single shingle (so every doc has >= 1)."""
    return F.array_distinct(shingle_stream(text))


def shingles_sql(words_col: str) -> str:
    """DuckDB twin of :func:`shingles`, over a pre-bound words column
    (bind ``words_sql(text)`` in a CTE first; DuckDB lists are
    1-indexed so the range shifts by one vs the Spark form)."""
    w = words_col
    joined = " || ' ' || ".join(f"{w}[i+{k}]" for k in range(SHINGLE_SIZE))
    return (
        f"CASE WHEN len({w}) >= {SHINGLE_SIZE} "
        f"THEN list_distinct(list_transform("
        f"range(1, len({w}) - {SHINGLE_SIZE - 2}), i -> {joined})) "
        f"ELSE [array_to_string({w}, ' ')] END"
    )


def shingle_stream(text: Column) -> Column:
    """Shingles WITHOUT the per-row ``array_distinct`` — for pipelines
    that explode and aggregate per document anyway: the signature min is
    duplicate-insensitive and ``collect_set`` re-dedups, so the O(k²)
    in-row distinct is pure overhead there (measured ~2-4× of the whole
    shingle pass at sf0.1). Use :func:`shingles` when the VALUE is the
    distinct set itself (e.g. an in-row Jaccard).

    PERF NOTE: this convenience form inlines the ``words`` split into
    the transform lambda, and Catalyst evaluates the split once per
    ``element_at`` reference — ~SHINGLE_SIZE re-splits per shingle.
    Hot paths should bind the words array in its OWN projection and
    call :func:`shingle_stream_of` (measured 3× on the shingle explode
    at sf0.1 — see with_minhash)."""
    return shingle_stream_of(words(text))


def shingle_stream_of(w: Column) -> Column:
    """:func:`shingle_stream` over a PRE-BOUND words column. Callers
    must materialize the split in a preceding projection
    (``.select(words(text).alias("_w"))``) so the regex split is
    evaluated once per row; CollapseProject keeps the binding because
    the split is referenced from several lambda positions."""
    n = F.size(w)
    make = F.transform(
        F.sequence(F.lit(0), n - SHINGLE_SIZE),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + k + 1) for k in range(SHINGLE_SIZE)]
        ),
    )
    return F.when(n >= SHINGLE_SIZE, make).otherwise(
        F.array(F.concat_ws(" ", w))
    )


def shingles_of(w: Column) -> Column:
    """:func:`shingles` over a pre-bound words column (see
    :func:`shingle_stream_of`)."""
    return F.array_distinct(shingle_stream_of(w))


def minhash_sig_sql(sh_expr: str, k: int) -> str:
    return (
        f"list_min(list_transform({sh_expr}, s -> substr(md5(s), {8 * k + 1}, 8)))"
    )


def with_minhash(
    df: DataFrame, text_col: str = "text", words_col: str | None = None
) -> DataFrame:
    """Shingle set + NUM_HASHES minhash signature columns, one row per
    input row (keyed by every non-text column of ``df``).

    Shape: bind the words split in its own projection (one regex split
    per row — inlining it into the transform lambda re-evaluates the
    split per element_at, measured 3× on the explode), explode shingles
    to rows, hash each shingle ONCE as a SCALAR md5 whose digest slices
    feed all hash functions (small codegen methods, vectorized), then
    one hash-aggregate takes the per-doc slice-minimums and rebuilds
    the distinct shingle set via collect_set. The array-expression form
    (array_min over md5-transform arrays) compiles to a huge generated
    method with erratic JIT behavior — this relational form is the one
    that behaves at scale: fan-out, narrow hashing, single map-side-
    combined shuffle on the document key.

    ``_shingles`` holds xxhash64 PROXIES of the shingles, not the
    strings: every consumer (the Jaccard verify stage here, the
    streaming pool, the chain-merge audits) only ever takes set
    intersections/sizes, which are hash-invariant, and the 8-byte
    longs shuffle, checkpoint, and array_intersect far cheaper than
    ~20-char strings (measured −16% on the whole LSH pair path at
    sf0.1). Use :func:`shingles` where the string VALUES matter.

    ``words_col``: hand in a frame that ALREADY carries the bound
    words array under this name (e.g. a pinned panel tokenization
    shared with a SimHash build — r17, VERDICT r16 #6) and the
    fan-out + regex split here are skipped; every other column is a
    key."""
    from kafka_go_streamer_spark.sources.tables import fan_out

    if words_col is not None:
        keys = [c for c in df.columns if c != words_col]
        bound = df.withColumnRenamed(words_col, "_w")
    else:
        keys = [c for c in df.columns if c != text_col]
        bound = fan_out(df).select(
            *keys, words(F.col(text_col)).alias("_w")
        )
    ex = bound.select(
        *keys, F.explode(shingle_stream_of(F.col("_w"))).alias("_sh")
    )
    hashed = ex.withColumn("_h", F.md5(F.col("_sh")))
    return hashed.groupBy(*keys).agg(
        F.collect_set(F.xxhash64("_sh")).alias("_shingles"),
        *[
            F.min(F.substring(F.col("_h"), 8 * k + 1, 8)).alias(f"sig{k}")
            for k in range(NUM_HASHES)
        ],
    )


def band_rows(sigs: DataFrame, id_col: str, band_r: int = 1) -> DataFrame:
    """Unpivot signature columns to LSH band rows ``(id, band, key)``:
    band j's key is the '|'-joined group of ``band_r`` consecutive
    signatures. The ONE band construction shared by the batch pair
    generator (minhash_lsh_pairs) and the streaming near-dup path
    (streaming/neardup.py), so the two can never silently compute
    different candidate sets. Callers apply ``cap_bucket`` themselves
    (both do)."""
    n_bands = NUM_HASHES // band_r
    return sigs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"sig{j * band_r + i}")
                                for i in range(band_r)
                            ],
                        ).alias("key"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.key")


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact (bag-normalized) dedup: assign every row the canonical
    (minimum) id of its fingerprint group.

    Scale: single shuffle on the 32-char fingerprint; no pairwise work."""
    fp = bag_fingerprint(F.col(text_col)).alias("fp")
    grouped = (
        df.select(F.col(id_col), fp)
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )
    return (
        df.select(F.col(id_col), bag_fingerprint(F.col(text_col)).alias("fp"))
        .join(grouped, "fp")
        .select(
            F.col(id_col),
            "canonical_id",
            "group_size",
            (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
        )
    )


def exact_dedup_sql(table: str, id_col: str, text_col: str = "text") -> str:
    fp = bag_fingerprint_sql(text_col)
    return f"""
    WITH f AS (SELECT {id_col}, {fp} AS fp FROM {table}),
         g AS (SELECT fp, min({id_col}) AS canonical_id,
                      count(*) AS group_size
               FROM f GROUP BY fp)
    SELECT f.{id_col}, g.canonical_id, g.group_size,
           f.{id_col} = g.canonical_id AS is_canonical
    FROM f JOIN g USING (fp)
    """


#: SimHash width. 32 bits keeps the generated expression tree (one
#: aggregate per bit) compact while remaining selective for word-set
#: similarity; widen to 64 for production corpora.
SIMHASH_BITS = 32


def simhash_table(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """SimHash per row: bit b of the signature is the sign of
    sum_w (+1 if bit b of hash(w) else -1) over the distinct word set.

    Shape: explode words -> hash each word ONCE -> one groupBy computing
    all SIMHASH_BITS bit-sums from that single hash column. A naive
    column-expression form inlines the md5 pipeline into every
    bit-aggregate (32x the hashing work — measured 10x slower); this
    form costs one md5 per word plus one shuffle on the id, and
    parallelizes by rows x words at any scale."""
    from kafka_go_streamer_spark.sources.tables import fan_out

    exploded = fan_out(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(words(F.col(text_col)))).alias("w"),
    )
    hashed = exploded.select(
        F.col(id_col), md5_60("w").alias("h")
    )
    bit_sums = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when((F.shiftright(F.col("h"), b) % 2) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sig = sig + F.when(F.col(f"b{b}") > 0, F.lit(2**b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bit_sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_sql(words_col: str) -> str:
    """DuckDB twin of :func:`simhash` over a pre-bound words column."""
    h = "('0x' || substr(md5(w), 1, 15))::BIGINT"
    terms = []
    for b in range(SIMHASH_BITS):
        bitsum = (
            f"list_sum(list_transform(list_distinct({words_col}), "
            f"w -> CASE WHEN (({h} >> {b}) & 1) = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {bitsum} > 0 THEN {2**b} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::BIGINT"


#: Production SimHash width. The 32-bit table above stays as the
#: regression anchor; at corpus scale 32 bits saturate (birthday
#: collisions at ~2^16 docs make every Hamming band hot, and the
#: hot-bucket cap then drops REAL near-dups), so the pair path uses
#: 64-bit signatures banded 8 x 8 (pigeonhole-complete for Hamming <= 7).
SIMHASH64_BITS = 64
_LONG_MIN = -9223372036854775807 - 1


def simhash64_table(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    words_col: str | None = None,
) -> DataFrame:
    """64-bit SimHash per row, same relational shape as
    :func:`simhash_table` (explode words -> hash each word ONCE -> one
    groupBy computing all bit-sums): the word's md5 supplies two
    independent 32-bit halves (hex chars [1,8] and [9,16]) so no single
    BIGINT shift ever touches bit 63 before the final sign-bit
    assembly, which both engines build from the min-BIGINT literal
    (``1 << 63`` overflows DuckDB's left shift).

    ``words_col``: as in :func:`with_minhash` — a pre-bound words
    array skips the fan-out + regex split (shared panel tokenization,
    r17)."""
    from kafka_go_streamer_spark.sources.tables import fan_out

    if words_col is not None:
        exploded = df.select(
            F.col(id_col),
            F.explode(F.array_distinct(F.col(words_col))).alias("w"),
        )
    else:
        exploded = fan_out(df).select(
            F.col(id_col),
            F.explode(F.array_distinct(words(F.col(text_col)))).alias("w"),
        )
    hashed = exploded.select(
        F.col(id_col),
        F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long").alias("ha"),
        F.conv(F.substring(F.md5("w"), 9, 8), 16, 10).cast("long").alias("hb"),
    )
    # Both the 64 bit-sum aggregates and the signature assembly are
    # built as SQL strings (one F.expr each / per aggregate): the
    # Column form pushed ~600 literal/when nodes through py4j and cost
    # ~1.5 s of DRIVER time per plan build — 7x the query's execution
    # at bench scale (same trap as lsh_signature_spark_sql).
    bit_sums = hashed.groupBy(id_col).agg(
        *[
            F.expr(
                "sum(CASE WHEN (shiftright("
                f"{'ha' if b < 32 else 'hb'}, {b % 32}) % 2) = 1 "
                "THEN 1 ELSE -1 END)"
            ).alias(f"b{b}")
            for b in range(SIMHASH64_BITS)
        ]
    )
    terms = []
    for b in range(SIMHASH64_BITS):
        weight = (
            f"(-9223372036854775807L - 1L)" if b == 63 else f"{2**b}L"
        )
        terms.append(f"(CASE WHEN b{b} > 0 THEN {weight} ELSE 0L END)")
    sig = F.expr("CAST(" + " + ".join(terms) + " AS BIGINT)")
    return bit_sums.select(F.col(id_col), sig.alias("simhash64"))


def simhash64_sql(words_col: str) -> str:
    """DuckDB twin of :func:`simhash64_table` over a pre-bound words
    column. BIGINT-safe: bit 63's weight is the min-BIGINT literal, and
    the term order (bit 0 first, bit 63 last) keeps every left-to-right
    partial sum inside BIGINT range."""
    ha = "('0x' || substr(md5(w), 1, 8))::BIGINT"
    hb = "('0x' || substr(md5(w), 9, 8))::BIGINT"
    terms = []
    for b in range(SIMHASH64_BITS):
        src = ha if b < 32 else hb
        bitsum = (
            f"list_sum(list_transform(list_distinct({words_col}), "
            f"w -> CASE WHEN (({src} >> {b % 32}) & 1) = 1 THEN 1 ELSE -1 END))"
        )
        weight = f"({_LONG_MIN})::BIGINT" if b == 63 else f"{2**b}::BIGINT"
        terms.append(f"(CASE WHEN {bitsum} > 0 THEN {weight} ELSE 0::BIGINT END)")
    return "(" + " + ".join(terms) + ")::BIGINT"


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_intersection: int = 2,
    band_r: int = 1,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash LSH + exact-Jaccard
    verification.

    ``band_r`` is the classic b x r knob: signatures group into
    ``NUM_HASHES // band_r`` bands of ``band_r`` concatenated minhashes;
    a pair is a candidate iff some band agrees on ALL its hashes.
    r=1 (default) maximizes recall in the low-similarity regime; r=2
    is the high-threshold mode (candidate probability 1-(1-j^r)^b
    steepens, cutting low-similarity candidates before the verify
    stage touches them).

    Plan shape (the part that matters at scale):
      1. one narrow pass computes shingles + K signatures;
      2. signatures unpivot to (band, key, id) — rows = b x docs;
      3. self-equi-join on (band, key) -> candidates (never all pairs);
      4. distinct candidate ids re-join shingle sets, exact Jaccard
         filters false positives.
    """
    if NUM_HASHES % band_r != 0:
        raise ValueError(f"band_r={band_r} must divide NUM_HASHES={NUM_HASHES}")
    # Materialize signatures ONCE (eager localCheckpoint). Without a
    # materialization barrier, Catalyst's project collapse inlines the
    # shingle+md5 pipeline into every downstream branch (band explode +
    # both candidate joins), multiplying the hashing work ~K^2 times
    # (measured 8x slower). localCheckpoint over persist(): it truncates
    # lineage the same way but its blocks are auto-removed by the
    # ContextCleaner once the result is collected — repeated invocations
    # in one long-lived session (the driver's harness) don't accumulate
    # dead cache entries. At cluster scale this is the standard
    # "signature table" materialization; swap for a real checkpoint/
    # table write when executor loss matters.
    # Callers running SEVERAL LSH passes over overlapping corpora (the
    # order-sensitivity table: full corpus + gated subset) can hand in
    # a pre-materialized signature table via ``sigs`` and skip the
    # hashing pass entirely — the bucket cap still applies per pass, on
    # the subset's own band frame, so candidate semantics are those of
    # an independent run over that subset.
    if sigs is None:
        sigs = with_minhash(
            df.select(F.col(id_col), F.col(text_col)), text_col
        ).localCheckpoint(eager=True)
    bands = cap_bucket(band_rows(sigs, id_col, band_r), "band", "key")
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
    sh = sigs.select(F.col(id_col).alias("id"), F.col("_shingles"))
    out = (
        cand.join(sh.alias("sa"), F.col("id_a") == F.col("sa.id"))
        .join(sh.alias("sb"), F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            F.size(
                F.array_intersect(F.col("sa._shingles"), F.col("sb._shingles"))
            ).alias("n_common"),
            stable_round(
                jaccard(F.col("sa._shingles"), F.col("sb._shingles")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("n_common") >= min_intersection)
    )
    return out


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 25,
    include_isolated: bool = True,
) -> DataFrame:
    """Connected components by iterative min-label propagation with path
    compression — the dedup-cluster step that turns near-duplicate PAIRS
    into duplicate GROUPS (every doc gets the minimum doc-id of its
    component as ``component_id``).

    ``nodes`` has one column ``id``; ``edges`` has ``id_a``/``id_b``.

    ``include_isolated=False`` returns only nodes that appear in a
    NON-self-loop edge (every component of size >= 2, exactly,
    provided the loop converges within ``max_iter`` — contraction
    converges in ~log n rounds, far under the default 25): consumers
    that filter singleton components out anyway (the weak-link audit)
    skip the full-corpus ``nodes`` scan and the anti-join that the
    isolated union costs — their answer is provably identical because
    isolated nodes form singleton components with ``comp = id`` and
    doc ids are unique. Self-loop edges are dropped up front (ADVICE
    r16): a node whose only edge is a self-loop counts as isolated,
    identically on both paths — ``work`` never contained self-loops,
    so with them in ``touched`` the False path would emit a size-1
    group the size->=2 contract forbids.

    Scale shape: GRAPH CONTRACTION with a pointer-doubled merge
    mapping (the GraphX large-star/small-star family). Each round:

    1. every representative proposes its minimum neighbor rep
       (``upd: a -> m``, only where ``m < a``);
    2. the tiny ``upd`` mapping is POINTER-DOUBLED against itself
       (two compositions -> chains shorten 4x) before it is applied —
       compressing the mapping costs self-joins of a table bounded by
       the merge count, not the corpus;
    3. labels and the working edge set are relabeled through ``upd``;
       relabeled self-loop edges vanish, so the edge set SHRINKS every
       round and convergence is simply "no edges left".

    Why this beats per-round label propagation: min-label propagation
    moves information one edge-hop per round, so its round count is
    bound by component diameter (measured on the sf0.1 dedup graph:
    8 rounds, thousands of labels still creeping in round 6).
    Contraction shortcuts distance — merging two clusters connects
    their representatives DIRECTLY next round — and converges in
    ~log(n) rounds regardless of diameter (same graph: 3 rounds,
    loop time 2.2 s vs 3.2 s). On a driver-looped iterative job the
    round count IS the cost at any scale, and per-round work is
    O(surviving edges), strictly decreasing, vs O(all touched nodes)
    every round for label propagation.

    Two scale-critical restrictions carry over:

    * the fixpoint touches ONLY nodes that appear in an edge — in a
      dedup graph most of the corpus is in no candidate pair; isolated
      nodes are unioned back with ``comp = id`` at the end (one
      shuffle-free anti-join + union, outside the loop);
    * per-round frames are re-materialized with stats-cutting barriers
      (:func:`operators.iterate.pinned`) — plain ``localCheckpoint``
      carries the origin plan's size estimate onto the new leaf, and
      in a multi-join loop those estimates COMPOUND multiplicatively
      round over round until Catalyst's stats visitor spends seconds
      per plan on million-bit BigInteger products (a real observed
      hang, not a theoretical one — see iterate.py).
    """
    # materialize the DIRECTED edge list ONCE, BEFORE the symmetric
    # union: the union references ``edges`` twice, so pinning after it
    # (the previous shape) evaluated the whole upstream pair-generation
    # pipeline (e.g. the MinHash-LSH verify join) once per branch. The
    # edge set is O(candidate pairs) — orders of magnitude smaller than
    # the corpus — so pinning it is cheap even at scale, and sym /
    # touched / the initial work set all derive from the checkpoint
    # with narrow ops (no further pins needed before the loop).
    # ``pinned`` (not raw localCheckpoint) also cuts the carried-stats
    # lineage — see operators/iterate.py for why that matters in a loop.
    # The pin stays even when the caller's edge frame is itself pinned
    # (ADVICE r16 suggested skipping it): a caller's checkpoint carries
    # its full row (jaccard, shingle sets), so the loop's repeated
    # reads of an UNPINNED 2-column projection deserialize the fat
    # blocks every time — measured +0.4-0.8 s at sf0.1 on the
    # weak-link audit. The narrow (id_a, id_b) re-pin pays for itself.
    e0 = pinned(
        edges.select(F.col("id_a"), F.col("id_b")).filter(
            F.col("id_a") != F.col("id_b")
        )
    )
    sym = e0.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        e0.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    touched = sym.select(F.col("src").alias("id")).distinct()
    labels = touched.select(F.col("id"), F.col("id").alias("comp"))
    # working edge set between component representatives, one row per
    # undirected edge
    work = sym.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    for rnd in range(max_iter):
        both = work.unionByName(
            work.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        upd = (
            both.groupBy("a")
            .agg(F.min("b").alias("m"))
            .filter(F.col("m") < F.col("a"))
        )
        # pointer-double the merge mapping against itself: a -> m
        # becomes a -> m'' (4-step jumps after two compositions), so
        # long merge chains collapse before the mapping is applied
        for _ in range(2):
            nxt = upd.select(F.col("a").alias("na"), F.col("m").alias("nm"))
            upd = upd.join(nxt, upd.m == F.col("na"), "left").select(
                "a", F.coalesce("nm", F.col("m")).alias("m")
            )
        # pinned: upd feeds three joins below (labels + both edge
        # endpoints); it is bounded by this round's merge count
        upd = pinned(upd)
        labels = labels.join(upd, labels.comp == upd.a, "left").select(
            "id", F.coalesce("m", F.col("comp")).alias("comp")
        )
        # labels joins only stats-clean pinned leaves (touched, upds),
        # so its lineage grows one join per round, not multiplicatively
        # — a barrier EVERY round costs ~20% of the loop (measured at
        # sf0.1) for nothing. Pin every 4th round so the analysis-time
        # chain stays bounded if convergence ever takes the full
        # max_iter.
        if rnd % 4 == 3:
            labels = pinned(labels)
        ru = work.join(
            upd.select(F.col("a").alias("_ua"), F.col("m").alias("_um")),
            work.a == F.col("_ua"),
            "left",
        ).select(F.coalesce("_um", F.col("a")).alias("a"), "b")
        ru = ru.join(
            upd.select(F.col("a").alias("_ub"), F.col("m").alias("_vm")),
            ru.b == F.col("_ub"),
            "left",
        ).select("a", F.coalesce("_vm", F.col("b")).alias("b"))
        # no per-round distinct on the relabeled edges: parallel edges
        # between two still-separate representatives are harmless to
        # the min-aggregate, and the self-loop filter still shrinks
        # the set as components merge — the dedup itself cost an
        # extra O(E) exchange every round (measured ~25% of the loop
        # at sf0.1; at scale it was one of ~4 per-round O(E)
        # shuffles). The pair generator already emits distinct edges,
        # so the working set stays bounded by the original pair count.
        # one job pins the round's edge set AND answers the convergence
        # check (lazy checkpoint materialized by the count itself) —
        # the former eager-pin + limit(1).count() pair was two jobs per
        # round, pure scheduler overhead at every scale
        work, n_work = pinned_counted(
            ru.select(
                F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
        )
        if n_work == 0:
            break
    if not include_isolated:
        return labels
    # isolated nodes (in no edge) keep their own id as the component.
    isolated = nodes.join(touched, "id", "left_anti").select(
        F.col("id"), F.col("id").alias("comp")
    )
    return labels.unionByName(isolated)


def minhash_lsh_pairs_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    min_intersection: int = 2,
    band_r: int = 1,
) -> str:
    if NUM_HASHES % band_r != 0:
        raise ValueError(f"band_r={band_r} must divide NUM_HASHES={NUM_HASHES}")
    sh = shingles_sql("w")
    sig_cols = ",\n           ".join(
        f"{minhash_sig_sql('sh', k)} AS sig{k}" for k in range(NUM_HASHES)
    )
    n_bands = NUM_HASHES // band_r
    band_union = "\n      UNION ALL\n".join(
        "      SELECT id, {j} AS band, {key} AS key FROM sigs".format(
            j=j,
            key=" || '|' || ".join(
                f"sig{j * band_r + i}" for i in range(band_r)
            ),
        )
        for j in range(n_bands)
    )
    return f"""
    WITH w0 AS (SELECT {id_col} AS id, {words_sql(text_col)} AS w FROM {table}),
    docs AS (SELECT id, {sh} AS sh FROM w0),
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
    )
    SELECT c.id_a, c.id_b,
           len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))::INTEGER AS n_common,
           round(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) * 1.0 /
                 (len(sa.sh) + len(sb.sh)
                  - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))), 4) AS jaccard
    FROM cand c
    JOIN sigs sa ON c.id_a = sa.id
    JOIN sigs sb ON c.id_b = sb.id
    WHERE len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) >= {min_intersection}
    """
