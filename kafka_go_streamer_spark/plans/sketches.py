"""Mergeable sketch operators: HyperLogLog, Count-Min, Bloom filter.

At 100 TB, exact distinct counts and frequency tables over
high-cardinality keys are shuffle monsters; the production answer is
a MERGEABLE sketch: each executor folds its partition into a
fixed-size summary (64 registers / a 4x256 counter grid / a 2048-bit
set), partial summaries combine associatively map-side, and only the
constant-size sketch crosses the wire. These queries implement the
three canonical sketches relationally so the exact same integer/bit
arithmetic runs in Spark and in the DuckDB oracle — every hash is an
md5 slice, every register update a groupBy-max/sum, so the sketch
itself is bit-reproducible across engines (unlike Spark's built-in
``approx_count_distinct``/``bloom_filter_agg``, whose binary sketch
formats are engine-private; the built-ins are the drop-in production
alternative and share these semantics).

The reference engine (p53/kafka-go-streamer) has no aggregation
surface at all (SURVEY.md §2.1, main.go:348-651); this module is
north-star training-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.hashing import md5_60
from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.plans.registry import query
from kafka_go_streamer_spark.sources.tables import load_table

# ---------------------------------------------------------------- HLL

#: HyperLogLog geometry: p=6 -> m=64 registers; the 60-bit md5-slice
#: hash splits into 6 index bits (h % 64) and a 54-bit suffix whose
#: leading-zero run feeds the register. 64 registers keep the
#: generated bit-length CASE chain small while exercising the exact
#: register algebra production uses at p=14.
HLL_M = 64
HLL_W = 54  # suffix width in bits
#: alpha_64 * m^2 * 2^55 precomputed in Python and embedded as ONE
#: double literal on both engines, so the estimate is a single integer
#: sum followed by a single float division — bit-identical across
#: engines (no float accumulation order to disagree on).
HLL_ALPHA = 0.709
HLL_NUMERATOR = HLL_ALPHA * HLL_M * HLL_M * float(2**55)


def _bitlen_case(expr: str, width: int) -> str:
    """SQL CASE chain computing bit_length(expr) for a non-negative
    integer of at most ``width`` bits — pure integer comparisons, so
    the text runs unchanged (and identically) in Spark SQL and DuckDB.
    A float ``floor(log2(x))`` would be the short form, but log2 is a
    libm call whose ulp behavior differs across engines exactly at
    powers of two; the CASE chain has no float anywhere."""
    arms = " ".join(
        f"WHEN {expr} >= {2 ** (i - 1)} THEN {i}"
        for i in range(width, 0, -1)
    )
    return f"(CASE {arms} ELSE 0 END)"


def _hll_rho_sql(w_expr: str) -> str:
    """rho = position of the leftmost 1-bit in the 54-bit suffix
    (1-based), W+1 when the suffix is all zeros."""
    return f"({HLL_W + 1} - {_bitlen_case(w_expr, HLL_W)})"


#: Integer register weight: 2^(55 - reg). reg ranges over [1, 55], so
#: the weight is an exact BIGINT in [1, 2^54] and the per-group sum of
#: <= 64 weights stays far inside BIGINT range — the harmonic mean's
#: SUM(2^-reg) is carried as exact integers scaled by 2^55 and only
#: the final division touches floating point.
def _hll_weight_sql(reg_expr: str) -> str:
    return f"(CAST(1 AS BIGINT) << (55 - {reg_expr}))"


def hll_ranks(df: DataFrame, *cols: str | Column) -> DataFrame:
    """``cols`` of ``df`` plus each row's register index ``idx`` and
    rank ``rho`` from the 60-bit ``md5_60(user_id)`` hash: the low 6
    bits pick the register, the 54-bit suffix's leading-zero run is the
    rank. The one hash-to-register step of every HLL sketch here and of
    the streaming twin (``streaming/stateful.hll_registers_stream``)."""
    h = df.select(*cols, md5_60("user_id").alias("h"))
    return h.select(
        *[c for c in h.columns if c != "h"],
        (F.col("h") % HLL_M).alias("idx"),
        F.expr(_hll_rho_sql("(h >> 6)")).alias("rho"),
    )


def hll_registers(ranks: DataFrame, *keys: str) -> DataFrame:
    """``(keys..., idx, reg)``: the per-register max rank of each
    ``keys`` group of a ``hll_ranks`` frame. max is associative and
    commutative, so registers built on any split of the rows merge by
    the same max."""
    return ranks.groupBy(*keys, "idx").agg(F.max("rho").alias("reg"))


def hll_estimate() -> Column:
    """Raw HLL estimate of a register group: ``HLL_NUMERATOR / (Σ
    2^(55-reg) + empty · 2^55)``, an exact BIGINT sum until the one
    float division. An aggregate expression over ``reg`` rows."""
    return F.lit(HLL_NUMERATOR) / (
        F.sum(F.expr(_hll_weight_sql("reg")))
        + (HLL_M - F.count(F.lit(1))) * F.lit(2**55).cast("long")
    )


@query(
    "sketch_hll_distinct",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h,
             user_id
      FROM events
    ),
    rr AS (
      SELECT event_type, h % {HLL_M} AS idx,
             {_hll_rho_sql(f"(h >> 6)")} AS rho, user_id
      FROM h
    ),
    regs AS (
      SELECT event_type, idx, max(rho) AS reg
      FROM rr GROUP BY 1, 2
    ),
    merged AS (
      SELECT '__all__' AS event_type, idx, max(reg) AS reg
      FROM regs GROUP BY 2
    ),
    allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM merged),
    est AS (
      SELECT event_type,
             count(*) AS filled_registers,
             sum({_hll_weight_sql('reg')})
               + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << 55)
               AS int_sum
      FROM allregs GROUP BY 1
    ),
    exact AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_distinct
      FROM rr GROUP BY 1
      UNION ALL
      SELECT '__all__', count(DISTINCT user_id) FROM rr
    )
    SELECT e.event_type, e.filled_registers,
           round(
             CASE WHEN {HLL_NUMERATOR!r} / e.int_sum <= {2.5 * HLL_M}
                       AND e.filled_registers < {HLL_M}
                  THEN {HLL_M} * ln({float(HLL_M)} /
                                    ({HLL_M} - e.filled_registers))
                  ELSE {HLL_NUMERATOR!r} / e.int_sum
             END, 1) AS hll_distinct,
           x.exact_distinct
    FROM est e JOIN exact x USING (event_type)
    """,
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event type, plus the
    merged-register corpus-wide row (``__all__``) proving the sketch's
    defining property: registers from disjoint partitions combine by
    elementwise max, so the union estimate needs no re-scan.

    Scale: the only shuffle over data is the (event_type, idx) groupBy
    — 64 registers per group, map-side combinable (max), so each
    executor ships at most ``groups x 64`` rows regardless of input
    size. The exact countDistinct column is the verification twin and
    would be dropped at 100 TB — the sketch IS the product. Estimate
    arithmetic is exact-integer until one final float division, so
    Spark and DuckDB agree bit-for-bit."""
    rr = hll_ranks(load_table(spark, sf_dir, "events"), "event_type", "user_id")
    regs = hll_registers(rr, "event_type")
    merged = (
        regs.groupBy("idx")
        .agg(F.max("reg").alias("reg"))
        .select(F.lit("__all__").alias("event_type"), "idx", "reg")
    )
    allregs = regs.unionByName(merged)
    est = allregs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("filled_registers"),
        hll_estimate().alias("raw"),
    )
    exact = rr.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    ).unionByName(
        rr.agg(F.countDistinct("user_id").alias("exact_distinct")).select(
            F.lit("__all__").alias("event_type"), "exact_distinct"
        )
    )
    raw = F.col("raw")
    # Flajolet et al.'s small-range correction: when the raw estimate
    # is <= 2.5m and empty registers remain, linear counting
    # m*ln(m/V) is far more accurate. Both branches are a single libm
    # call / division over identical integers, and the eps-stabilized
    # rounding absorbs any last-ulp ln() disagreement across engines.
    corrected = F.when(
        (raw <= F.lit(2.5 * HLL_M))
        & (F.col("filled_registers") < HLL_M),
        HLL_M
        * F.log(
            F.lit(float(HLL_M)) / (HLL_M - F.col("filled_registers"))
        ),
    ).otherwise(raw)
    return est.join(exact, "event_type").select(
        "event_type",
        "filled_registers",
        stable_round(corrected, 1).alias("hll_distinct"),
        "exact_distinct",
    )


# ---------------------------------------------------------- Count-Min

#: Count-Min geometry: depth 4 (four independent md5 slices of the
#: key), width 256 buckets. The sketch is a fixed 4x256 counter grid;
#: estimates are upward-biased (min over the 4 rows), never under.
CMS_D = 4
CMS_W = 256


def _cms_bucket_sql(key_expr: str, row: int) -> str:
    """Bucket of ``key`` in sketch row ``row``: an independent 32-bit
    md5 slice mod the width. Same text on both engines."""
    lo = 8 * row + 1
    return (
        f"(('0x' || substr(md5({key_expr}), {lo}, 8))::BIGINT % {CMS_W})"
    )


def _cms_cells(key: str):
    """The CMS_D (d, bucket) cells of column ``key`` (cast to string),
    exploded one row per sketch row: the grid's update cells and a
    key's probe cells. Bucket d is ``_cms_bucket_sql(key, d)``."""
    md5 = F.md5(F.col(key).cast("string"))
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    (
                        F.conv(F.substring(md5, 8 * d + 1, 8), 16, 10)
                        .cast("long")
                        % CMS_W
                    ).alias("bucket"),
                )
                for d in range(CMS_D)
            ]
        )
    )


@query(
    "sketch_countmin_heavy_users",
    oracle=f"""
    WITH cells AS (
      {" UNION ALL ".join(
        f"SELECT {d} AS d, {_cms_bucket_sql('user_id::VARCHAR', d)} AS bucket "
        "FROM events"
        for d in range(CMS_D)
      )}
    ),
    sketch AS (
      SELECT d, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2
    ),
    truth AS (
      SELECT user_id, count(*) AS true_count FROM events GROUP BY 1
    ),
    probes AS (
      SELECT t.user_id, t.true_count, s.cnt
      FROM truth t
      JOIN sketch s
        ON s.bucket = CASE s.d
             {" ".join(
               f"WHEN {d} THEN {_cms_bucket_sql('t.user_id::VARCHAR', d)}"
               for d in range(CMS_D)
             )}
           END
    )
    SELECT user_id, true_count, min(cnt) AS cms_estimate
    FROM probes GROUP BY 1, 2
    ORDER BY true_count DESC, user_id ASC
    LIMIT 10
    """,
)
def sketch_countmin_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters: estimate per-user event counts from a
    fixed 4x256 counter grid and report the top-10 against truth
    (estimates are >= truth by construction — collisions only add).

    Scale: the grid build is one groupBy over (row, bucket) — 1024
    counters total, map-side combinable sums, so the shuffle is
    constant-size no matter the input. The probe side joins the
    (distinct-key, bucket) table against the 1024-row sketch — the
    sketch broadcasts. At 100 TB you'd keep only the grid and probe ad
    hoc; the truth column here is the verification twin."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.select(_cms_cells("user_id").alias("c")).select(
        "c.d", "c.bucket"
    )
    sketch = cells.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_count"))
    probes = truth.select(
        "user_id", "true_count", _cms_cells("user_id").alias("p")
    ).select("user_id", "true_count", "p.d", "p.bucket")
    est = (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("user_id", "true_count")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.orderBy(
        F.col("true_count").desc(), F.col("user_id").asc()
    ).limit(10)


# -------------------------------------------------------------- Bloom

#: Bloom geometry: 2048 bits, 3 hash functions (independent md5
#: slices mod m). With ~1/3 of 150 build keys set, ~3 bits each, the
#: fill ratio stays low and the false-positive rate small but nonzero
#: — the query reports it against ground truth.
BLOOM_M = 2048
BLOOM_K = 3
#: Build-side membership predicate: customers with acctbal above this
#: are the "allowlist" the filter summarizes.
BLOOM_ACCTBAL = 5000.0


def _bloom_pos_sql(key_expr: str, k: int) -> str:
    lo = 8 * k + 1
    return (
        f"(('0x' || substr(md5({key_expr}), {lo}, 8))::BIGINT % {BLOOM_M})"
    )


def _bloom_pos_spark(key, k: int):
    lo = 8 * k + 1
    return (
        F.conv(F.substring(F.md5(key), lo, 8), 16, 10).cast("long") % BLOOM_M
    )


@query(
    "sketch_bloom_filter_probe",
    oracle=f"""
    WITH members AS (
      SELECT c_custkey FROM customer WHERE c_acctbal > {BLOOM_ACCTBAL}
    ),
    bits AS (
      SELECT DISTINCT pos FROM (
        {" UNION ALL ".join(
          f"SELECT {_bloom_pos_sql('c_custkey::VARCHAR', k)} AS pos "
          "FROM members"
          for k in range(BLOOM_K)
        )}
      )
    ),
    probe AS (
      SELECT c.c_custkey,
             (c.c_acctbal > {BLOOM_ACCTBAL}) AS is_member,
             {" + ".join(
               "(CASE WHEN "
               + _bloom_pos_sql('c.c_custkey::VARCHAR', k)
               + " IN (SELECT pos FROM bits) THEN 1 ELSE 0 END)"
               for k in range(BLOOM_K)
             )} AS hits
      FROM customer c
    )
    SELECT
      count(*) AS n_probed,
      sum(CASE WHEN is_member THEN 1 ELSE 0 END)::BIGINT AS true_members,
      sum(CASE WHEN hits = {BLOOM_K} THEN 1 ELSE 0 END)::BIGINT
        AS bloom_positive,
      sum(CASE WHEN hits = {BLOOM_K} AND NOT is_member THEN 1 ELSE 0 END)::BIGINT
        AS false_positives,
      (SELECT count(*) FROM bits) AS bits_set
    FROM probe
    """,
)
def sketch_bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter build + probe with ground-truth accounting: the
    high-balance customer allowlist is folded into a 2048-bit / 3-hash
    filter, every customer is probed, and the row reports probe count,
    true members, bloom positives, false positives, and bits set —
    bloom positives ⊇ true members always (no false negatives).

    Scale: the filter is the DISTINCT of (3 x members) bit positions —
    a constant-size (<= 2048-row) set that broadcasts to the probe
    side, which is exactly how a runtime join filter prunes a 100 TB
    probe scan before the shuffle (Spark's production form is
    ``bloom_filter_agg`` / AQE's InSubqueryExec runtime filter; this
    relational twin pins the semantics cross-engine). The probe is one
    scan + a broadcast-hash lookup per hash function, no shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    members = cust.filter(F.col("c_acctbal") > BLOOM_ACCTBAL).select(
        "c_custkey"
    )
    mkey = F.col("c_custkey").cast("string")
    bits = (
        members.select(
            F.explode(
                F.array(
                    *[_bloom_pos_spark(mkey, k) for k in range(BLOOM_K)]
                )
            ).alias("pos")
        )
        .distinct()
    )
    pkey = F.col("c_custkey").cast("string")
    probe = cust.select(
        "c_custkey",
        (F.col("c_acctbal") > BLOOM_ACCTBAL).alias("is_member"),
        *[_bloom_pos_spark(pkey, k).alias(f"p{k}") for k in range(BLOOM_K)],
    )
    joined = probe
    for k in range(BLOOM_K):
        hit = (
            bits.withColumnRenamed("pos", f"p{k}")
            .withColumn(f"hit{k}", F.lit(1))
        )
        joined = joined.join(F.broadcast(hit), f"p{k}", "left")
    hits = sum(
        F.coalesce(F.col(f"hit{k}"), F.lit(0)) for k in range(BLOOM_K)
    )
    n_bits = bits.agg(F.count(F.lit(1)).alias("bits_set"))
    return (
        joined.withColumn("hits", hits)
        .agg(
            F.count(F.lit(1)).alias("n_probed"),
            F.sum(F.when(F.col("is_member"), 1).otherwise(0)).alias(
                "true_members"
            ),
            F.sum(F.when(F.col("hits") == BLOOM_K, 1).otherwise(0)).alias(
                "bloom_positive"
            ),
            F.sum(
                F.when(
                    (F.col("hits") == BLOOM_K) & ~F.col("is_member"), 1
                ).otherwise(0)
            ).alias("false_positives"),
        )
        .crossJoin(F.broadcast(n_bits))
    )


@query(
    "sketch_hll_intersection",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h,
             user_id
      FROM events
    ),
    rr AS (
      SELECT event_type, h % {HLL_M} AS idx,
             {_hll_rho_sql(f"(h >> 6)")} AS rho, user_id
      FROM h
    ),
    regs AS (
      SELECT event_type, idx, max(rho) AS reg
      FROM rr GROUP BY 1, 2
    ),
    est AS (
      SELECT event_type,
             {HLL_NUMERATOR!r} / (sum({_hll_weight_sql('reg')})
               + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << 55)) AS e
      FROM regs GROUP BY 1
    ),
    tp AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM (SELECT DISTINCT event_type FROM regs) a
      JOIN (SELECT DISTINCT event_type FROM regs) b
        ON a.event_type < b.event_type
    ),
    pairs AS (
      SELECT type_a, type_b, idx, max(reg) AS reg FROM (
        SELECT tp.type_a, tp.type_b, r.idx, r.reg
        FROM tp JOIN regs r ON r.event_type = tp.type_a
        UNION ALL
        SELECT tp.type_a, tp.type_b, r.idx, r.reg
        FROM tp JOIN regs r ON r.event_type = tp.type_b
      ) GROUP BY 1, 2, 3
    ),
    uest AS (
      SELECT type_a, type_b,
             {HLL_NUMERATOR!r} / (sum({_hll_weight_sql('reg')})
               + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << 55)) AS eu
      FROM pairs GROUP BY 1, 2
    ),
    exact AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS exact_intersection
      FROM (SELECT DISTINCT event_type, user_id FROM rr) a
      JOIN (SELECT DISTINCT event_type, user_id FROM rr) b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT u.type_a, u.type_b,
           round(ea.e + eb.e - u.eu, 1) AS hll_intersection,
           coalesce(x.exact_intersection, 0)::BIGINT AS exact_intersection
    FROM uest u
    JOIN est ea ON ea.event_type = u.type_a
    JOIN est eb ON eb.event_type = u.type_b
    LEFT JOIN exact x ON x.type_a = u.type_a AND x.type_b = u.type_b
    """,
)
def sketch_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra: estimated distinct-user INTERSECTION for every
    event-type pair via inclusion–exclusion — |A∩B| ≈ est(A) + est(B)
    − est(A∪B), where est(A∪B) comes from the elementwise register max
    (the only set operation HLL supports natively). This is how
    audience-overlap questions are answered at 100 TB without ever
    co-shuffling the two sides' raw members.

    Scale: one register build (the same constant-size shuffle as
    sketch_hll_distinct), then ALL pairwise unions are computed as
    max(reg) over the UNION ALL of both sides' registers per
    (pair, idx) — type-pair × 64-register work, independent of corpus
    size, and registers present in only ONE sketch are kept (an inner
    register join would silently drop them and bias the union low). The exact
    intersection column is the verification twin (a user-level
    self-join that the sketch path exists to avoid). Raw estimates
    (no small-range correction) on all three terms so the algebra is
    exact over the same integer sums in both engines."""
    rr = hll_ranks(load_table(spark, sf_dir, "events"), "event_type", "user_id")
    regs = hll_registers(rr, "event_type")
    est = regs.groupBy("event_type").agg(hll_estimate().alias("e"))
    # Union registers per type-pair: max(reg) over the UNION ALL of
    # both sides' register lists. A full join filtered to both-not-null
    # (the previous form) collapses to an inner join and DROPS any
    # register present in only one sketch — biasing est(A∪B) low and
    # the intersection high whenever a sketch has unfilled registers.
    # The pair list is event-type-cardinality (tiny) and broadcasts;
    # registers missing from BOTH sketches correctly fall to the
    # (HLL_M - count) empty-register term inside hll_estimate().
    types = regs.select("event_type").distinct()
    tp = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(types.select(F.col("event_type").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    side_a = F.broadcast(tp).join(
        regs.withColumnRenamed("event_type", "type_a"), "type_a"
    )
    side_b = F.broadcast(tp).join(
        regs.withColumnRenamed("event_type", "type_b"), "type_b"
    )
    pairs = (
        side_a.select("type_a", "type_b", "idx", "reg")
        .unionByName(side_b.select("type_a", "type_b", "idx", "reg"))
        .groupBy("type_a", "type_b", "idx")
        .agg(F.max("reg").alias("reg"))
    )
    uest = pairs.groupBy("type_a", "type_b").agg(hll_estimate().alias("eu"))
    du = rr.select("event_type", "user_id").distinct()
    xa = du.select(
        F.col("event_type").alias("type_a"), F.col("user_id").alias("ua")
    )
    xb = du.select(
        F.col("event_type").alias("type_b"), F.col("user_id").alias("ub")
    )
    exact = (
        xa.join(
            xb,
            (F.col("ua") == F.col("ub"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    ea = est.select(F.col("event_type").alias("type_a"), F.col("e").alias("e_a"))
    eb = est.select(F.col("event_type").alias("type_b"), F.col("e").alias("e_b"))
    return (
        uest.join(F.broadcast(ea), "type_a")
        .join(F.broadcast(eb), "type_b")
        # LEFT join + coalesce: a type pair with ZERO exact overlap has
        # no row in the exact-twin frame and must still be reported
        # (exact_intersection = 0), not silently dropped
        .join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            stable_round(
                F.col("e_a") + F.col("e_b") - F.col("eu"), 1
            ).alias("hll_intersection"),
            F.coalesce(F.col("exact_intersection"), F.lit(0))
            .cast("long")
            .alias("exact_intersection"),
        )
    )


# ----------------------------------------------------- quantile bands

#: Equi-width histogram geometry for the quantile sketch: 128 bands
#: over [min, max]. Like the other sketches, the summary is CONSTANT
#: SIZE — per-partition partial histograms combine associatively
#: map-side and only 128 counters cross the wire.
QB_BINS = 128
#: Quantiles the probe reports (median, tail, extreme tail).
QB_QUANTILES = (0.5, 0.9, 0.99)


@query(
    "sketch_quantile_bands",
    oracle=f"""
    WITH st AS (
      SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
             count(*)::BIGINT AS n
      FROM lineitem
    ),
    hist AS (
      SELECT least(floor((l_extendedprice - st.lo)
                         / ((st.hi - st.lo) / {QB_BINS}))::BIGINT,
                   {QB_BINS - 1}) AS bin,
             count(*)::BIGINT AS cnt
      FROM lineitem, st GROUP BY 1
    ),
    cum AS (
      SELECT bin, cnt,
             sum(cnt) OVER (ORDER BY bin)::BIGINT AS cum,
             (sum(cnt) OVER (ORDER BY bin) - cnt)::BIGINT AS cum_before
      FROM hist
    ),
    q AS (
      SELECT unnest(ARRAY[{", ".join(f"{q}::DOUBLE" for q in QB_QUANTILES)}])
        AS q
    ),
    est AS (
      SELECT q.q,
             st.lo + ((st.hi - st.lo) / {QB_BINS})
               * (c.bin + (q.q * st.n - c.cum_before) / c.cnt) AS est
      FROM q CROSS JOIN st CROSS JOIN cum c
      WHERE c.cum >= q.q * st.n AND c.cum_before < q.q * st.n
    ),
    exact AS (
      {" UNION ALL ".join(
        f"SELECT {q}::DOUBLE AS q, percentile_cont({q}) WITHIN GROUP "
        "(ORDER BY l_extendedprice) AS exact FROM lineitem"
        for q in QB_QUANTILES
      )}
    )
    SELECT e.q,
           round(e.est, 4) AS est,
           round(x.exact, 4) AS exact,
           round(abs(e.est - x.exact), 4) AS abs_err
    FROM est e JOIN exact x ON x.q = e.q
    """,
)
def sketch_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantile estimation: fold l_extendedprice into
    a 128-band equi-width histogram (one constant-size, map-side-
    combinable summary — the same mergeability contract as the HLL/CMS
    sketches), then answer P50/P90/P99 by cumulative interpolation
    inside the covering band. The exact ``percentile_cont`` twin and
    absolute error ride along, so the output IS the sketch-accuracy
    report (production forms: t-digest/KLL; the equi-width band sketch
    pins the estimate algebra cross-engine with no float histogram
    boundaries to disagree on — band edges derive from one min/max).

    Scale: pass 1 is a scalar min/max/count; pass 2 bins every row
    against the broadcast stats frame into 128 counters (map-side
    combine → one 128-row shuffle); quantile selection and
    interpolation run on the 128-row frame. The exact twin costs one
    sort-based percentile aggregate and exists only for the accuracy
    column — a 100 TB deployment ships just the histogram passes.
    """
    from kafka_go_streamer_spark.operators.iterate import pinned

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    # the 1-row stats frame is consumed twice (bin assignment + the
    # quantile targets); pin it so each consumer doesn't re-derive the
    # min/max scan through lineage — pass 1 runs once
    st = pinned(
        li.agg(
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    width = (F.col("hi") - F.col("lo")) / QB_BINS
    hist = (
        li.crossJoin(F.broadcast(st))
        .select(
            F.least(
                F.floor((F.col("l_extendedprice") - F.col("lo")) / width)
                .cast("long"),
                F.lit(QB_BINS - 1),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin",
        "cnt",
        F.sum("cnt").over(w).cast("long").alias("cum"),
        (F.sum("cnt").over(w) - F.col("cnt")).cast("long").alias(
            "cum_before"
        ),
    )
    qs = F.explode(
        F.array(*[F.lit(float(q)) for q in QB_QUANTILES])
    ).alias("q")
    q_df = st.sparkSession.range(1).select(qs).crossJoin(F.broadcast(st))
    target = F.col("q") * F.col("n")
    est = (
        q_df.join(
            F.broadcast(cum),
            (F.col("cum") >= target) & (F.col("cum_before") < target),
        )
        .select(
            "q",
            (
                F.col("lo")
                + width
                * (
                    F.col("bin")
                    + (target - F.col("cum_before")) / F.col("cnt")
                )
            ).alias("est"),
        )
    )
    # exact percentiles via the range-partitioned rank picker
    # (scale-bounded, bit-identical to F.percentile and ~2x faster —
    # see exact_value_percentiles), unpivoted to (q, exact) rows.
    wide = exact_value_percentiles(li, "l_extendedprice", QB_QUANTILES)
    exact = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(q)).alias("q"),
                        F.col("ps").getItem(i).alias("exact"),
                    )
                    for i, q in enumerate(QB_QUANTILES)
                ]
            )
        ).alias("s")
    ).select("s.q", "s.exact")
    return est.join(F.broadcast(exact), "q").select(
        "q",
        stable_round(F.col("est"), 4).alias("est"),
        stable_round(F.col("exact"), 4).alias("exact"),
        stable_round(F.abs(F.col("est") - F.col("exact")), 4).alias(
            "abs_err"
        ),
    )


@query(
    "sketch_hll_hourly_rollup",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             extract(hour FROM ts)::INTEGER AS hour_of_day,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h,
             user_id
      FROM events
    ),
    rr AS (
      SELECT event_type, hour_of_day, h % {HLL_M} AS idx,
             {_hll_rho_sql('(h >> 6)')} AS rho, user_id
      FROM h
    ),
    hourly AS (
      SELECT event_type, hour_of_day, idx, max(rho) AS reg
      FROM rr GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT event_type, idx, max(reg) AS reg
      FROM hourly GROUP BY 1, 2
    ),
    direct AS (
      SELECT event_type, idx, max(rho) AS reg
      FROM rr GROUP BY 1, 2
    ),
    est_m AS (
      SELECT event_type,
             {HLL_NUMERATOR!r} / (sum({_hll_weight_sql('reg')})
               + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << 55)) AS e
      FROM merged GROUP BY 1
    ),
    est_d AS (
      SELECT event_type,
             {HLL_NUMERATOR!r} / (sum({_hll_weight_sql('reg')})
               + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << 55)) AS e
      FROM direct GROUP BY 1
    ),
    hours AS (
      SELECT event_type, count(DISTINCT hour_of_day)::BIGINT AS n_hours
      FROM hourly GROUP BY 1
    ),
    exact AS (
      SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
      FROM rr GROUP BY 1
    )
    SELECT m.event_type, hrs.n_hours,
           round(m.e, 1) AS est_merged,
           round(d.e, 1) AS est_direct,
           round(abs(m.e - d.e), 6) AS merge_error,
           x.exact_distinct
    FROM est_m m
    JOIN est_d d USING (event_type)
    JOIN hours hrs USING (event_type)
    JOIN exact x USING (event_type)
    """,
)
def sketch_hll_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABILITY contract, demonstrated as a rollup: per-type
    HLL registers are built at (type, hour) grain, then rolled up to
    type by elementwise register max — and the merged estimate equals
    the direct whole-corpus estimate EXACTLY (merge_error = 0 on every
    row). This is the hypertable/continuous-aggregate pattern: keep
    fine-grained sketches, answer any coarser distinct-count by
    merging registers — never by re-scanning raw data.

    Scale: the hourly register table is types × 24 × 64 rows (still
    constant-size, map-side combinable); the rollup is an aggregate
    over THAT table — the raw corpus is scanned once for the hourly
    build and once for the verification twin (direct + exact), which
    a production deployment would drop."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    ev = load_table(spark, sf_dir, "events")
    rr = pinned(
        hll_ranks(
            ev, "event_type", F.hour("ts").alias("hour_of_day"), "user_id"
        )
    )
    hourly = hll_registers(rr, "event_type", "hour_of_day")
    merged = hourly.groupBy("event_type", "idx").agg(
        F.max("reg").alias("reg")
    )
    direct = hll_registers(rr, "event_type")
    est_m = merged.groupBy("event_type").agg(hll_estimate().alias("e"))
    est_d = direct.groupBy("event_type").agg(hll_estimate().alias("ed"))
    hours = hourly.groupBy("event_type").agg(
        F.count_distinct("hour_of_day").cast("long").alias("n_hours")
    )
    exact = rr.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    return (
        est_m.join(F.broadcast(est_d), "event_type")
        .join(F.broadcast(hours), "event_type")
        .join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "n_hours",
            stable_round(F.col("e"), 1).alias("est_merged"),
            stable_round(F.col("ed"), 1).alias("est_direct"),
            stable_round(F.abs(F.col("e") - F.col("ed")), 6).alias(
                "merge_error"
            ),
            "exact_distinct",
        )
    )


def exact_value_percentiles(
    df: DataFrame,
    col: str,
    qs: tuple[float, ...],
    certify: DataFrame | None = None,
) -> DataFrame:
    """Exact ``percentile_cont`` values of ``df[col]`` as a ONE-row
    frame ``ps ARRAY<DOUBLE>`` in grid order — a drop-in for
    ``agg(F.percentile(col, array))`` that scales and runs ~2x faster.

    ``F.percentile``'s final merge holds every distinct (value, count)
    pair of the whole input in ONE aggregation buffer — O(distinct)
    memory and a serial merge on a single task, which is exactly the
    shape the guide's §5 warns about and what made the certification
    pass the most expensive stage of the KLL queries (2.1-2.8 s of a
    4.2 s query at sf0.1). This form keeps everything bounded:

    1. range-repartition the values (parallel sort machinery);
    2. per-partition ``row_number`` (parallel window, no global
       single-partition move) + broadcast per-partition counts,
       prefix-summed over the |partitions|-row frame, give every row
       its GLOBAL rank;
    3. each quantile needs only the two covering ranks
       ``floor/ceil((n-1)q)``; a broadcast join picks those rows and
       interpolates with F.percentile's exact lerp arithmetic
       (``lo*(hi_i-pos) + hi*(pos-lo_i)``) — verified bit-identical
       against ``F.percentile`` on the sf0.1 fact.

    NULLs are dropped first (percentile semantics). The input pipeline
    is evaluated twice (sizes pass + rank pass) — measured CHEAPER at
    sf0.1 than pinning the range-partitioned frame (the checkpoint job
    costs more than re-running a column scan); for anything hotter
    than a scan, hand in a pinned frame.

    ``certify`` (VERDICT r16 #5): an optional ONE-row frame of
    estimate columns to rank-certify in the SAME sizes pass — the
    returned row then also carries ``n`` (count of non-null values)
    and one ``rank_<c> = count(v <= c)`` per certify column, so the
    caller's standalone certification scan of the fact disappears
    (guide §1.2: don't pay a pass for what an existing pass can
    answer). Precondition: the certified ranks count only non-null
    values of ``col`` — identical to a full-frame conditional count
    whenever the column is non-nullable (true for every TPC-H fact
    column this is used on).
    """
    from pyspark.sql import Window

    nparts = df.sparkSession.sparkContext.defaultParallelism
    v = df.select(F.col(col).cast("double").alias("_v")).where(
        F.col("_v").isNotNull()
    )
    parts = v.repartitionByRange(nparts, "_v").withColumn(
        "_pid", F.spark_partition_id()
    )
    sizes = parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c"))
    offs = sizes.select(
        "_pid",
        F.coalesce(
            F.sum("_c").over(
                Window.orderBy("_pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_off"),
        F.sum("_c")
        .over(
            Window.orderBy("_pid").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("_n"),
    )
    rn = parts.withColumn(
        "_r", F.row_number().over(Window.partitionBy("_pid").orderBy("_v"))
    ).join(F.broadcast(offs), "_pid").select(
        "_v", (F.col("_r") + F.col("_off")).alias("_rn"), "_n"
    )
    # the quantile grid is a pure literal, so build it scan-free on a
    # 1-row range and resolve the covering ranks against rn's OWN _n:
    # deriving them in a separate frame re-ran the whole sizes pass
    # (scan + per-partition count) a third time just to read the total.
    # Arithmetic unchanged: pos = (n-1)q, covering ranks floor/ceil+1.
    qlit = df.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("_q")
    )
    pos = (F.col("_n") - 1) * F.col("_q")
    est = (
        rn.join(
            F.broadcast(qlit),
            (F.col("_rn") == F.floor(pos).cast("long") + 1)
            | (F.col("_rn") == F.ceil(pos).cast("long") + 1),
        )
        .select(
            "_v",
            "_rn",
            "_q",
            pos.alias("_pos"),
            F.floor(pos).cast("long").alias("_lo_i"),
            F.ceil(pos).cast("long").alias("_hi_i"),
        )
        .groupBy("_q", "_pos", "_lo_i", "_hi_i")
        .agg(
            F.min(
                F.when(F.col("_rn") == F.col("_lo_i") + 1, F.col("_v"))
            ).alias("_lo_v"),
            F.min(
                F.when(F.col("_rn") == F.col("_hi_i") + 1, F.col("_v"))
            ).alias("_hi_v"),
        )
        .select(
            "_q",
            F.when(F.col("_lo_i") == F.col("_hi_i"), F.col("_lo_v"))
            .otherwise(
                F.col("_lo_v") * (F.col("_hi_i") - F.col("_pos"))
                + F.col("_hi_v") * (F.col("_pos") - F.col("_lo_i"))
            )
            .alias("_est"),
        )
    )
    ps_row = est.agg(
        F.array(
            *[
                F.first(
                    F.when(F.col("_q") == float(q), F.col("_est")),
                    ignorenulls=True,
                )
                for q in qs
            ]
        ).alias("ps")
    )
    if certify is None:
        return ps_row
    # Certification rides the picker's OWN range exchange: a third
    # consumer of `parts` hangs directly off the exchange the sizes
    # and rank passes already share at runtime (exchange reuse), so
    # the old standalone certification SCAN of the fact disappears
    # while the critical path is untouched — the conditional
    # aggregate runs in parallel with the offsets/rank chain.
    # NOTE: all consumers of `parts` must stay inside ONE action so
    # they read the SAME materialized exchange; materializing any of
    # them in its own job (pin) lets the others re-sample DIFFERENT
    # range boundaries — offsets then disagree with the rank pass's
    # partitions and the ranks are silently wrong (observed at
    # sf0.001 during r17; the oracle caught it).
    cert_row = parts.crossJoin(F.broadcast(certify)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(F.when(F.col("_v") <= F.col(c), 1).otherwise(0))
            .cast("long")
            .alias(f"rank_{c}")
            for c in certify.columns
        ],
    )
    return ps_row.crossJoin(F.broadcast(cert_row))


# ------------------------------------------------------------- KLL
#: KLL compactor capacity (items per level). 256 gives measured rank
#: error <= 0.6% on lognormal data at 60k-600k rows through the full
#: partial/merge tree (dev measurement in test_sketch_properties).
KLL_K = 256
#: Certified rank-error bound the query reports against: ~4x the
#: worst measured error, far under the 1/k*sqrt(log) theory curve's
#: constant — the query FAILS (within_bound=false => oracle hash
#: mismatch) if the sketch ever degrades past it.
KLL_EPS = 0.02
#: Quantiles the probe certifies (same set as the band sketch).
KLL_QUANTILES = (0.5, 0.9, 0.99)
#: First-stage merge fan-in: per-partition sketches reduce in groups
#: of this many before the final merge, so no single task ever sees
#: more than FANIN sketches. Two stages cover FANIN^2 partitions; a
#: 100k-partition 100 TB scan adds one more stage (the merge is
#: associative), keeping every merge task constant-size.
KLL_FANIN = 8


@query(
    "sketch_kll_quantiles",
    oracle=f"""
    WITH exact AS (
      {" UNION ALL ".join(
        f"SELECT {q}::DOUBLE AS q, percentile_cont({q}) WITHIN GROUP "
        "(ORDER BY l_extendedprice) AS exact FROM lineitem"
        for q in KLL_QUANTILES
      )}
    )
    SELECT q, round(exact, 4) AS exact,
           {KLL_EPS}::DOUBLE AS rank_eps,
           TRUE AS within_bound
    FROM exact
    """,
)
def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based mergeable quantile sketch (KLL compactors) with a
    self-certifying oracle: P50/P90/P99 of l_extendedprice estimated
    from per-partition KLL partials merged in a shuffle tree, then
    CERTIFIED against the data — the query recomputes the true rank of
    each estimate and reports ``within_bound = |rank/n − q| <= ε``
    alongside the exact percentile. The oracle pins the exact
    quantiles and asserts the bound holds, so a sketch regression
    breaks the hash. Unlike ``sketch_quantile_bands`` (equi-width
    bins off global min/max), the rank guarantee is INDEPENDENT of the
    value range: a single 1e12 outlier that collapses the band
    histogram's resolution moves KLL's error not at all
    (test_sketch_properties pins exactly that adversarial case).

    Scale: ONE pass over the fact builds per-partition sketches in
    Arrow-batched ``mapInPandas`` (no shuffle of raw values — only
    ~k·log(n/k) retained doubles per partition cross the wire), a
    two-stage ``applyInPandas`` merge tree reduces them with bounded
    fan-in, and quantile selection runs on the few-hundred-row final
    sketch. The rank-certification pass is one conditional aggregate
    over the fact against the broadcast 1-row estimate frame; the
    exact twin is one array-percentile aggregate. A 100 TB deployment
    ships only the sketch pass — certification and twin exist for the
    accuracy report. Total weight is conserved exactly through
    compaction (odd items stay at their level), so rank targets use
    the sketch's own weight total = true n, never a second count."""
    import pandas as pd

    from kafka_go_streamer_spark.operators.iterate import pinned
    from kafka_go_streamer_spark.operators.kll import KLLSketch

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("v")
    )
    # NO fan_out: partial sketches build per SCAN partition — the
    # production shape (guide §2.3: aggregate before you shuffle; only
    # ~k·log(n/k) retained doubles ever cross the wire). The Python
    # compactor is ~0.1 s for the whole sf0.1 fact even single-task
    # (measured), so the round-robin exchange of the raw values cost
    # more than the serial build it parallelized.
    src = li.withColumn("pid", F.spark_partition_id())

    def build(batches):
        sk = KLLSketch(KLL_K)
        g = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            g = int(pdf["pid"].iloc[0]) % KLL_FANIN
            sk.update_many(pdf["v"].astype(float).tolist())
        if sk.n_retained():
            yield pd.DataFrame(
                {
                    "g": [g] * len(sk.levels),
                    "level": list(range(len(sk.levels))),
                    "vals": [list(vs) for vs in sk.levels],
                }
            )

    partials = src.mapInPandas(build, "g INT, level INT, vals ARRAY<DOUBLE>")

    def merge_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = KLLSketch(KLL_K)
        for lvl, vals in zip(pdf["level"], pdf["vals"]):
            lvl = int(lvl)
            while lvl >= len(sk.levels):
                sk.levels.append([])
            sk.levels[lvl].extend(float(v) for v in vals)
        sk._compress()
        return pd.DataFrame(
            {
                "g": [0] * len(sk.levels),
                "level": list(range(len(sk.levels))),
                "vals": [list(vs) for vs in sk.levels],
            }
        )

    schema = "g INT, level INT, vals ARRAY<DOUBLE>"
    stage1 = partials.groupBy("g").applyInPandas(merge_rows, schema)
    final = pinned(
        stage1.groupBy("g").applyInPandas(merge_rows, schema).drop("g")
    )

    items = final.select(
        "level",
        F.explode("vals").alias("v"),
        F.pow(F.lit(2.0), F.col("level")).cast("long").alias("w"),
    )
    n_row = items.agg(F.sum("w").cast("long").alias("n"))
    from pyspark.sql import Window

    # single-task window over the SKETCH (a few hundred rows), never
    # the fact table
    cum = items.select(
        "v",
        F.sum("w")
        .over(
            Window.orderBy("v", "level").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("long")
        .alias("cum"),
    )
    q_df = (
        spark.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(float(q)) for q in KLL_QUANTILES])
            ).alias("q")
        )
        .crossJoin(F.broadcast(n_row))
    )
    est = (
        q_df.join(F.broadcast(cum), F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("v").alias("est"))
    )
    est_wide = est.agg(
        *[
            F.first(
                F.when(F.col("q") == float(q), F.col("est")),
                ignorenulls=True,
            ).alias(f"est_{i}")
            for i, q in enumerate(KLL_QUANTILES)
        ]
    )
    # rank certification FOLDED into the exact picker's sizes pass
    # (VERDICT r16 #5, guide §1.2): the picker's range-partitioned
    # sizes aggregate answers count(v <= est_i) alongside the
    # per-partition counts, so the standalone certification scan of
    # the fact is gone — 3 fact scans (sketch, certify, picker) → 2.
    # l_extendedprice is non-nullable, so the picker's null-dropped
    # n/rank counts equal the old full-frame conditional aggregate.
    certified = exact_value_percentiles(
        li, "v", KLL_QUANTILES, certify=est_wide
    )
    return (
        certified.withColumnsRenamed(
            {f"rank_est_{i}": f"rank_{i}" for i in range(len(KLL_QUANTILES))}
        )
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(float(q)).alias("q"),
                            stable_round(F.col("ps").getItem(i), 4).alias(
                                "exact"
                            ),
                            F.lit(float(KLL_EPS)).alias("rank_eps"),
                            (
                                F.abs(
                                    F.col(f"rank_{i}") / F.col("n")
                                    - F.lit(float(q))
                                )
                                <= F.lit(float(KLL_EPS))
                            ).alias("within_bound"),
                        )
                        for i, q in enumerate(KLL_QUANTILES)
                    ]
                )
            ).alias("s")
        )
        .select("s.q", "s.exact", "s.rank_eps", "s.within_bound")
    )


# ----------------------------------------------- HLL precision curve

#: Register-count grid for the HLL sizing curve (p = 4/6/8 index
#: bits). 64 is the single-config sketch above; the curve brackets it.
HLL_M_GRID = (16, 64, 256)

#: alpha_m constants (Flajolet et al.): exact literals embedded on
#: both engines so the estimate arithmetic never recomputes them.
HLL_ALPHAS = {16: 0.673, 64: 0.709, 256: 0.7213 / (1 + 1.079 / 256)}


def _hll_curve_numerator(m: int) -> float:
    """alpha_m * m^2 * 2^(W+1) with W = 60 - p the suffix width —
    the per-m scale that keeps the harmonic sum exact-integer until
    one final division (the single-config sketch's discipline)."""
    p = m.bit_length() - 1
    return HLL_ALPHAS[m] * m * m * float(2 ** (61 - p))


def _hll_curve_sql() -> str:
    num_case = " ".join(
        f"WHEN m = {m} THEN {_hll_curve_numerator(m)!r}"
        for m in HLL_M_GRID
    )
    mvals = ", ".join(f"({m})" for m in HLL_M_GRID)
    # suffix = h >> p; its width is 60 - p, bounded by 56 bits for the
    # smallest p in the grid — one fixed-width CASE bit-length chain
    # serves every m (values above a given m's width never occur)
    bitlen = _bitlen_case("(h >> (CASE " + " ".join(
        f"WHEN m = {m} THEN {m.bit_length() - 1}" for m in HLL_M_GRID
    ) + " END))", 56)
    p_case = "(CASE " + " ".join(
        f"WHEN m = {m} THEN {m.bit_length() - 1}" for m in HLL_M_GRID
    ) + " END)"
    return f"""
    WITH h AS (
      SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
      FROM events
    ),
    grid AS (SELECT m FROM (VALUES {mvals}) t(m)),
    rr AS (
      SELECT m, h % m AS idx,
             (61 - {p_case} - {bitlen}) AS rho
      FROM h, grid
    ),
    regs AS (SELECT m, idx, max(rho) AS reg FROM rr GROUP BY 1, 2),
    est AS (
      SELECT m, count(*) AS filled,
             sum(CAST(1 AS BIGINT) << (61 - {p_case} - reg))
               + (m - count(*))
                 * (CAST(1 AS BIGINT) << (61 - {p_case}))
               AS int_sum
      FROM regs GROUP BY m
    ),
    exact AS (
      SELECT count(DISTINCT user_id) AS exact_distinct FROM events
    ),
    raws AS (
      SELECT m, filled,
             (CASE {num_case} END) / int_sum AS raw
      FROM est
    )
    SELECT m::INTEGER AS m_registers,
           filled::BIGINT AS filled_registers,
           round(CASE WHEN raw <= 2.5 * m AND filled < m
                      THEN m * ln(m * 1.0 / (m - filled))
                      ELSE raw END, 1) AS hll_distinct,
           exact_distinct::BIGINT AS exact_distinct,
           round((CASE WHEN raw <= 2.5 * m AND filled < m
                       THEN m * ln(m * 1.0 / (m - filled))
                       ELSE raw END - exact_distinct)
                 / exact_distinct, 6) AS rel_error,
           round(1.04 / sqrt(m), 6) AS theoretical_rse
    FROM raws CROSS JOIN exact
    """


@query("sketch_hll_error_curve", oracle=_hll_curve_sql)
def sketch_hll_error_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sizing curve: the distinct-user estimate at m ∈ {16, 64,
    256} registers against the exact count, with the signed relative
    error beside the theoretical RSE (1.04/√m). The single-config
    sketch (``sketch_hll_distinct``, m=64) proves the register
    algebra; this is the table that picks p for a production sketch —
    the m=16 row shows what ±26% RSE means on real data, the m=256
    row what 4x the registers buys. Same md5-slice hash, same
    exact-integer harmonic sum (scaled per m so only the final
    division is float), same small-range linear-counting branch.

    Scale: the only data shuffle is the (m, idx) register groupBy —
    map-side combined max, at most Σm = 336 rows shipped per executor
    regardless of input; the exact column is the verification twin
    (one countDistinct) that production drops."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(md5_60("user_id").alias("h"))
    p_case = F.expr(
        "CASE "
        + " ".join(
            f"WHEN m = {m} THEN {m.bit_length() - 1}" for m in HLL_M_GRID
        )
        + " END"
    )
    fan = h.withColumn(
        "m", F.explode(F.array(*[F.lit(m) for m in HLL_M_GRID]))
    ).withColumn("p", p_case)
    bitlen = F.expr(_bitlen_case("(h >> p)", 56))
    rr = fan.select(
        "m",
        "p",
        (F.col("h") % F.col("m")).alias("idx"),
        (F.lit(61) - F.col("p") - bitlen).alias("rho"),
    )
    regs = rr.groupBy("m", "p", "idx").agg(F.max("rho").alias("reg"))
    est = regs.groupBy("m", "p").agg(
        F.count(F.lit(1)).alias("filled"),
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 61 - p - reg)"))
            + (F.col("m") - F.count(F.lit(1)))
            * F.expr("shiftleft(CAST(1 AS BIGINT), 61 - p)")
        ).alias("int_sum"),
    )
    exact = ev.agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    num = F.expr(
        "CASE "
        + " ".join(
            f"WHEN m = {m} THEN {_hll_curve_numerator(m)!r}D"
            for m in HLL_M_GRID
        )
        + " END"
    )
    raw = num / F.col("int_sum")
    corrected = F.when(
        (raw <= 2.5 * F.col("m")) & (F.col("filled") < F.col("m")),
        F.col("m")
        * F.log(F.col("m") * 1.0 / (F.col("m") - F.col("filled"))),
    ).otherwise(raw)
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            F.col("m").cast("int").alias("m_registers"),
            F.col("filled").cast("long").alias("filled_registers"),
            stable_round(corrected, 1).alias("hll_distinct"),
            "exact_distinct",
            stable_round(
                (corrected - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("rel_error"),
            stable_round(
                F.lit(1.04) / F.sqrt(F.col("m") * 1.0), 6
            ).alias("theoretical_rse"),
        )
    )
