"""Round-14 wave: estimator-fidelity curves and operational audits —
the tables that finish the sizing-curve family (MinHash width, sample
uniformity) and answer the day-2 operator questions (where does time
go between events, which hourly rates are anomalous, which routing
rule is dead weight, what does hash-bucketing actually prune).

* ``events_transition_dwell`` — per (previous event type -> event
  type) transition, how long users DWELL before the next action:
  count, mean, P50/P90 of the gap. ``events_transition_matrix``
  counts the edges; this prices them — the difference between a
  funnel that stalls and one that flows.

* ``events_rate_anomaly_mad`` — robust (median/MAD) anomaly screen of
  each event type's hourly arrival series on the full hour spine
  (zero-traffic hours included: a dead feed IS the anomaly).
  ``events_zscore_anomaly``'s mean/stddev flags wash out when the
  series itself is bursty; MAD is the monitor that survives its own
  outliers.

* ``privacy_t_closeness`` — the third rung of the privacy ladder
  (k-anonymity bounds WHO, l-diversity bounds WHAT VALUES,
  t-closeness bounds the DISTRIBUTION): per (lang, length-bin) QI
  class, the total-variation distance between the class's source
  distribution and the corpus's, counted against a threshold grid.
  The violation test cross-multiplies to integers so both engines
  compare exactly, never on rounded floats.

* ``sample_reservoir_uniformity`` — certification of the
  deterministic hash-rank sample (top-K by md5 of the key — the
  distributed TakeOrdered form of reservoir sampling): per stratum,
  population vs sample share and the chi-square contribution. The
  table a curation team reads before trusting any "representative
  sample" drawn by key hash.

* ``storage_bucket_pruning_audit`` — what hash-bucketing the fact on
  its join/lookup key buys: for each bucket count B, the share of
  rows a point-lookup workload still scans, the buckets it touches,
  and the bucket-size skew. The skipping/Z-order audits price RANGE
  predicates; this prices EQUALITY lookups — together they justify a
  table layout.

* ``route_rule_shadowing`` — first-match-wins forensics for the
  reference's router: per rule, how many messages match its pattern
  at all vs how many it actually WINS (an earlier rule absorbs the
  rest). A rule with high match count and zero wins is dead config —
  the YAML can drop it (or the order is wrong). Reference semantics:
  ordered scan, first hit routes (main.go:507-542).

* ``text_word_burstiness`` — per top-frequency word: document
  frequency, collection frequency, Katz's burstiness (cf/df) and the
  variance-to-mean ratio of its per-document counts (zeros
  included). Burstiness separates topical words (bursty: rare docs,
  many repeats) from function words (uniform) — a quality signal no
  single-document score sees.

* ``ann_metric_agreement`` — does the index's metric choice matter on
  THIS corpus: per fixed-panel query, the overlap between dot-product
  top-10 and cosine top-10 (and whether the single best neighbor
  agrees), beside the query vector's norm. If embeddings are nearly
  unit-norm the two rankings coincide and the cheaper dot suffices;
  this is the measurement, not the folklore.

* ``dedup_minhash_width_curve`` — the MinHash chapter of the sizing-
  curve family (Bloom m / CMS w / HLL p already measured): estimator
  bias and MAE on the SAME surfaced candidate pairs at signature
  width r = 1 / 2 / 4, i.e. what each signature byte actually buys.
  ``dedup_minhash_estimator_error`` fixes r = NUM_HASHES and sweeps
  similarity; this fixes the pairs and sweeps r.

Scale discipline (the r13 wave's, continued): every curve probes a
BOUNDED frame — transition/dwell aggregates collapse to the event-type
x event-type key domain, the anomaly screen to the hour spine, the
t-closeness classes to |lang| x length-bins x sources, bucket audits
to B rows per width, burstiness to a TakeOrdered top-N vocabulary,
the ANN panel to PANEL_MAX_ID, minhash widths to the capped candidate
frame. The only windows are partitioned by user (dwell lag) or query
id (panel rank); the reservoir sample is TakeOrderedAndProject, never
a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions import text as X
from kafka_go_streamer_spark.functions.hashing import md5_60
from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.plans.registry import query
from kafka_go_streamer_spark.plans.text import PREP_LANG
from kafka_go_streamer_spark.routing import split_condition_sql
from kafka_go_streamer_spark.sources.tables import load_table

#: Dwell percentiles reported per transition.
DWELL_PCTS = (0.5, 0.9)

#: Robust anomaly threshold: |count - median| > MAD_CUT_X * 1.4826 *
#: MAD (the 1.4826 makes MAD a consistent sigma estimate under
#: normality; 3x is the classic cut).
MAD_CUT_X = 3
#: The normal-consistency constant as an exact literal shared by both
#: engines (never recomputed).
MAD_SIGMA = 1.4826

#: t-closeness thresholds as exact rationals (numerator, denominator)
#: so the violation test stays integer on both engines.
T_CLOSE_GRID = ((1, 5), (1, 3), (1, 2))

#: Hash-rank sample size (top-K by md5 of the order key).
RESERVOIR_K = 500

#: Bucket-count grid for the pruning audit.
BUCKET_B_GRID = (16, 64, 256)
#: Point-lookup workload: every customer key divisible by this.
BUCKET_PANEL_MOD = 97

#: Burstiness vocabulary: the top-N words by collection frequency.
BURSTINESS_TOP_N = 20

#: Signature widths for the MinHash sizing curve (prefixes of the
#: deployed NUM_HASHES-wide signature, same hash family). Widths
#: beyond NUM_HASHES have no signature column to read (both engines).
MINHASH_R_GRID = (1, 2, 4)

from kafka_go_streamer_spark.operators.dedup import (  # noqa: E402
    NUM_HASHES as _DEDUP_NUM_HASHES,
)

# A plain `if` (not `assert`): this guard must survive `python -O`,
# which strips assert statements.
if max(MINHASH_R_GRID) > _DEDUP_NUM_HASHES:
    raise ValueError(
        f"MINHASH_R_GRID tops out at {max(MINHASH_R_GRID)} but the deployed "
        f"signature is only {_DEDUP_NUM_HASHES} wide"
    )

#: KLL compactor-capacity grid for the sizing curve (the deployed
#: sketch_kll_quantiles runs k=256; the grid brackets it).
KLL_K_GRID = (32, 128, 512)
#: Certified rank-error envelope per k: ~4x the worst error measured
#: across sf0.001/0.01/0.1 at 4-64 partition layouts through the full
#: partial/merge tree (dev measurement, worst 0.0343 / 0.0103 /
#: 0.0027) — the query FAILS (within_bound=false => oracle hash
#: mismatch) if any width degrades past its envelope, and the
#: envelopes falling ~1/k IS the certified sizing curve.
KLL_EPS_BY_K = {32: 0.12, 128: 0.04, 512: 0.012}


def _md5long_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


# --------------------------------------------------- events_transition_dwell
@query(
    "events_transition_dwell",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER w AS prev_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dwell_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT prev_type, event_type AS next_type,
           count(*)::BIGINT AS n_transitions,
           round(sum(dwell_us) * 1.0 / count(*) / 1000000.0, 4)
             AS mean_dwell_s,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY dwell_us)
                 / 1000000.0, 4) AS p50_dwell_s,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY dwell_us)
                 / 1000000.0, 4) AS p90_dwell_s
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_transition_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell-time profile per user-journey transition: for each
    (previous type -> next type) edge, the count and the mean / P50 /
    P90 of the time users sit between the two events.
    ``events_transition_matrix`` says WHERE users go next; this says
    HOW LONG they take — the number that separates "error then
    instant retry" from "error then rage-quit overnight", and the
    input a session-timeout choice actually needs.

    Scale: one window (lag) partitioned by user — the same shuffle
    key the sessionize family already uses, bounded per-user state —
    then one aggregate onto the event-type x event-type key domain
    (tens of rows). Dwells are integer microseconds end to end;
    division happens once at the report edge."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = e.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
        (us - F.lag(us).over(w)).alias("dwell_us"),
    ).filter(F.col("prev_type").isNotNull())
    return seq.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        stable_round(
            F.sum("dwell_us") * 1.0 / F.count(F.lit(1)) / 1000000.0, 4
        ).alias("mean_dwell_s"),
        stable_round(
            F.percentile("dwell_us", F.lit(0.5)) / 1000000.0, 4
        ).alias("p50_dwell_s"),
        stable_round(
            F.percentile("dwell_us", F.lit(0.9)) / 1000000.0, 4
        ).alias("p90_dwell_s"),
    )


# ---------------------------------------------------- events_rate_anomaly_mad
@query(
    "events_rate_anomaly_mad",
    oracle=f"""
    WITH hrs AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h FROM events
    ),
    bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hrs),
    spine AS (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds),
    types AS (SELECT DISTINCT event_type FROM hrs),
    counts AS (SELECT event_type, h, count(*) AS c FROM hrs GROUP BY 1, 2),
    grid AS (
      SELECT t.event_type, s.h, coalesce(c.c, 0) AS c
      FROM spine s CROSS JOIN types t
      LEFT JOIN counts c ON c.event_type = t.event_type AND c.h = s.h
    ),
    med AS (
      SELECT event_type,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY c) AS med
      FROM grid GROUP BY 1
    ),
    dev AS (
      SELECT g.event_type, g.c, m.med, abs(g.c - m.med) AS ad
      FROM grid g JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY ad) AS mad
      FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           count(*)::BIGINT AS n_hours,
           round(max(d.med), 2) AS med_hourly,
           round(max(m.mad), 2) AS mad_hourly,
           sum(CASE WHEN CASE WHEN m.mad > 0
                         THEN d.ad > {MAD_CUT_X} * {MAD_SIGMA} * m.mad
                         ELSE d.c <> d.med END
                    THEN 1 ELSE 0 END)::BIGINT AS n_anomalous,
           round(sum(CASE WHEN CASE WHEN m.mad > 0
                               THEN d.ad > {MAD_CUT_X} * {MAD_SIGMA} * m.mad
                               ELSE d.c <> d.med END
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS anomaly_share,
           round(max(d.ad), 2) AS max_abs_dev
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY 1
    """,
)
def events_rate_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type rate monitor: each event type's hourly arrival
    counts on the FULL hour spine (a silent hour is data, not a gap),
    screened by the median/MAD rule — anomalous iff
    |count - median| > 3 x 1.4826 x MAD, falling back to
    "any deviation from the median" when MAD is zero (a perfectly
    regular feed). ``events_zscore_anomaly`` uses mean/stddev, which
    an incident itself inflates until the incident looks normal; the
    MAD screen keeps its yardstick when half the series is on fire —
    this is the pager rule, the z-score is the dashboard.

    Scale: the fact collapses to (type, hour) counts in one map-side-
    combined aggregate; the spine join, both medians, and the screen
    run on that types-x-hours frame (bounded by horizon, independent
    of event volume)."""
    e = load_table(spark, sf_dir, "events")
    hrs = e.select(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
    )
    bounds = hrs.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(F.explode(F.sequence("h0", "h1")).alias("h"))
    types = hrs.select("event_type").distinct()
    counts = hrs.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("c")
    )
    grid = (
        spine.crossJoin(F.broadcast(types))
        .join(counts, ["event_type", "h"], "left")
        .select(
            "event_type", "h", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    med = grid.groupBy("event_type").agg(
        F.percentile("c", F.lit(0.5)).alias("med")
    )
    dev = grid.join(F.broadcast(med), "event_type").select(
        "event_type",
        "c",
        "med",
        F.abs(F.col("c") - F.col("med")).alias("ad"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("ad", F.lit(0.5)).alias("mad")
    )
    j = dev.join(F.broadcast(mad), "event_type")
    anom = F.when(
        F.col("mad") > 0,
        F.col("ad") > F.lit(MAD_CUT_X) * F.lit(MAD_SIGMA) * F.col("mad"),
    ).otherwise(F.col("c") != F.col("med"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        stable_round(F.max("med"), 2).alias("med_hourly"),
        stable_round(F.max("mad"), 2).alias("mad_hourly"),
        F.sum(F.when(anom, 1).otherwise(0)).cast("long").alias(
            "n_anomalous"
        ),
        stable_round(
            F.sum(F.when(anom, 1).otherwise(0)) * 1.0 / F.count(F.lit(1)),
            6,
        ).alias("anomaly_share"),
        stable_round(F.max("ad"), 2).alias("max_abs_dev"),
    )


# ------------------------------------------------------- privacy_t_closeness
def _t_closeness_sql() -> str:
    from kafka_go_streamer_spark.plans.audit_ops import QI_LEN_BIN

    tvals = ", ".join(f"({n}, {d})" for n, d in T_CLOSE_GRID)
    return f"""
    WITH docs AS (
      SELECT lang, n_chars // {QI_LEN_BIN} AS len_bin, source
      FROM documents
    ),
    tot AS (SELECT count(*) AS n FROM docs),
    srcs AS (SELECT source, count(*) AS cnt_s FROM docs GROUP BY 1),
    classes AS (
      SELECT lang, len_bin, count(*) AS n_c FROM docs GROUP BY 1, 2
    ),
    cls_src AS (
      SELECT lang, len_bin, source, count(*) AS cnt_cs
      FROM docs GROUP BY 1, 2, 3
    ),
    full_grid AS (
      SELECT c.lang, c.len_bin, c.n_c, s.source, s.cnt_s,
             coalesce(x.cnt_cs, 0) AS cnt_cs
      FROM classes c CROSS JOIN srcs s
      LEFT JOIN cls_src x ON x.lang = c.lang AND x.len_bin = c.len_bin
                          AND x.source = s.source
    ),
    tv AS (
      SELECT lang, len_bin, max(n_c) AS n_c,
             sum(abs(cnt_cs * (SELECT n FROM tot) - cnt_s * n_c))
               AS tvnum
      FROM full_grid GROUP BY 1, 2
    ),
    grid AS (SELECT tn, td FROM (VALUES {tvals}) t(tn, td))
    SELECT round(tn * 1.0 / td, 4) AS t_threshold,
           sum(CASE WHEN tvnum * td > 2 * tn * n_c * (SELECT n FROM tot)
                    THEN 1 ELSE 0 END)::BIGINT AS n_classes_above,
           sum(CASE WHEN tvnum * td > 2 * tn * n_c * (SELECT n FROM tot)
                    THEN n_c ELSE 0 END)::BIGINT AS n_docs_above,
           round(sum(CASE WHEN tvnum * td
                               > 2 * tn * n_c * (SELECT n FROM tot)
                          THEN n_c ELSE 0 END) * 1.0
                 / (SELECT n FROM tot), 6) AS doc_share,
           round(max(tvnum * 1.0
                     / (2 * n_c * (SELECT n FROM tot))), 6) AS max_tv
    FROM tv CROSS JOIN grid
    GROUP BY tn, td
    """


@query("privacy_t_closeness", oracle=_t_closeness_sql)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness screen under the (lang, length-bin) quasi-identifier
    with ``source`` as the sensitive attribute: per threshold t, the
    equivalence classes whose source distribution sits further than t
    (total-variation distance) from the corpus-wide distribution, and
    the documents inside them. Completes the privacy ladder:
    ``privacy_k_anonymity`` bounds re-identification,
    ``privacy_l_diversity`` bounds value disclosure, and this bounds
    DISTRIBUTION disclosure — a class can be k-anonymous and
    l-diverse while still screaming "these are almost all src3 docs".

    Determinism: the violation test never compares floats — TV > t is
    cross-multiplied to `sum|cnt_cs*n - cnt_s*n_c| * t_den >
    2*t_num*n_c*n`, all BIGINT on both engines; only the REPORTED
    distances round.

    Scale: the corpus collapses to its QI classes and its source
    totals in two aggregates; the TV sum runs on the classes x
    sources frame (bounded by both domains' cardinality, broadcast);
    the t-grid fans that tiny frame only."""
    from kafka_go_streamer_spark.plans.audit_ops import QI_LEN_BIN

    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        (F.col("n_chars") / QI_LEN_BIN).cast("long").alias("len_bin"),
        "source",
    )
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    srcs = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt_s"))
    classes = d.groupBy("lang", "len_bin").agg(
        F.count(F.lit(1)).alias("n_c")
    )
    cls_src = d.groupBy("lang", "len_bin", "source").agg(
        F.count(F.lit(1)).alias("cnt_cs")
    )
    full_grid = (
        classes.crossJoin(F.broadcast(srcs))
        .join(cls_src, ["lang", "len_bin", "source"], "left")
        .select(
            "lang",
            "len_bin",
            "n_c",
            "cnt_s",
            F.coalesce(F.col("cnt_cs"), F.lit(0)).alias("cnt_cs"),
        )
        .crossJoin(F.broadcast(tot))
    )
    tv = full_grid.groupBy("lang", "len_bin").agg(
        F.max("n_c").alias("n_c"),
        F.max("n").alias("n"),
        F.sum(
            F.abs(F.col("cnt_cs") * F.col("n") - F.col("cnt_s") * F.col("n_c"))
        ).alias("tvnum"),
    )
    fan = tv.select(
        "n_c",
        "n",
        "tvnum",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(tn).alias("tn"), F.lit(td).alias("td"))
                    for tn, td in T_CLOSE_GRID
                ]
            )
        ).alias("t"),
    ).select("n_c", "n", "tvnum", "t.tn", "t.td")
    viol = F.col("tvnum") * F.col("td") > 2 * F.col("tn") * F.col(
        "n_c"
    ) * F.col("n")
    return fan.groupBy("tn", "td").agg(
        stable_round(F.max(F.col("tn") * 1.0 / F.col("td")), 4).alias(
            "t_threshold"
        ),
        F.sum(F.when(viol, 1).otherwise(0)).cast("long").alias(
            "n_classes_above"
        ),
        F.sum(F.when(viol, F.col("n_c")).otherwise(0)).cast("long").alias(
            "n_docs_above"
        ),
        stable_round(
            F.sum(F.when(viol, F.col("n_c")).otherwise(0))
            * 1.0
            / F.max("n"),
            6,
        ).alias("doc_share"),
        stable_round(
            F.max(F.col("tvnum") * 1.0 / (2 * F.col("n_c") * F.col("n"))),
            6,
        ).alias("max_tv"),
    ).drop("tn", "td")


# ------------------------------------------------- sample_reservoir_uniformity
@query(
    "sample_reservoir_uniformity",
    oracle=f"""
    WITH ranked AS (
      SELECT o_orderkey, o_orderpriority,
             md5(o_orderkey::VARCHAR) AS rk
      FROM orders
    ),
    samp AS (
      SELECT o_orderpriority FROM ranked
      ORDER BY rk, o_orderkey LIMIT {RESERVOIR_K}
    ),
    pop AS (
      SELECT o_orderpriority, count(*) AS n_pop FROM orders GROUP BY 1
    ),
    tot AS (SELECT count(*) AS n FROM orders),
    sc AS (
      SELECT o_orderpriority, count(*) AS n_samp FROM samp GROUP BY 1
    )
    SELECT p.o_orderpriority,
           p.n_pop::BIGINT AS n_pop,
           round(p.n_pop * 1.0 / t.n, 6) AS pop_share,
           coalesce(s.n_samp, 0)::BIGINT AS n_sample,
           round(coalesce(s.n_samp, 0) * 1.0 / {RESERVOIR_K}, 6)
             AS sample_share,
           round(coalesce(s.n_samp, 0) * 1.0 / {RESERVOIR_K}
                 - p.n_pop * 1.0 / t.n, 6) AS share_gap,
           round(pow(coalesce(s.n_samp, 0)
                     - {RESERVOIR_K} * p.n_pop * 1.0 / t.n, 2)
                 / ({RESERVOIR_K} * p.n_pop * 1.0 / t.n), 6)
             AS chi2_term
    FROM pop p CROSS JOIN tot t
    LEFT JOIN sc s USING (o_orderpriority)
    """,
)
def sample_reservoir_uniformity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Uniformity certification of the deterministic hash-rank sample:
    take the RESERVOIR_K orders with the smallest md5(key) — the
    shuffle-free distributed equivalent of a seeded reservoir sample
    (every row's rank is a pure function of its key, so any subset of
    workers agrees on the winners) — then compare each priority
    stratum's sample share against its population share, with the
    per-stratum chi-square contribution. Large chi2 terms mean the
    hash sample is NOT exchangeable with uniform for this stratification
    and downstream estimates need reweighting; small terms are the
    licence every "eval on a 0.1% sample" workflow silently assumes.

    Scale: the sample is TakeOrderedAndProject (per-partition top-K
    then a K-row driver merge — never a global sort); population
    shares are one map-side-combined aggregate; the report joins two
    few-row frames broadcast."""
    o = load_table(spark, sf_dir, "orders")
    ranked = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.md5(F.col("o_orderkey").cast("string")).alias("rk"),
    )
    samp = ranked.orderBy("rk", "o_orderkey").limit(RESERVOIR_K)
    sc = samp.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_samp")
    )
    pop = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_pop"))
    tot = o.agg(F.count(F.lit(1)).alias("n"))
    j = (
        pop.crossJoin(F.broadcast(tot))
        .join(F.broadcast(sc), "o_orderpriority", "left")
        .select(
            "o_orderpriority",
            "n_pop",
            "n",
            F.coalesce(F.col("n_samp"), F.lit(0)).alias("n_samp"),
        )
    )
    exp = F.lit(RESERVOIR_K) * F.col("n_pop") * 1.0 / F.col("n")
    return j.select(
        "o_orderpriority",
        F.col("n_pop").cast("long").alias("n_pop"),
        stable_round(F.col("n_pop") * 1.0 / F.col("n"), 6).alias(
            "pop_share"
        ),
        F.col("n_samp").cast("long").alias("n_sample"),
        stable_round(F.col("n_samp") * 1.0 / RESERVOIR_K, 6).alias(
            "sample_share"
        ),
        stable_round(
            F.col("n_samp") * 1.0 / RESERVOIR_K
            - F.col("n_pop") * 1.0 / F.col("n"),
            6,
        ).alias("share_gap"),
        stable_round(
            F.pow(F.col("n_samp") - exp, F.lit(2.0)) / exp, 6
        ).alias("chi2_term"),
    )


# --------------------------------------------------- storage_bucket_pruning
@query(
    "storage_bucket_pruning_audit",
    oracle=f"""
    WITH grid AS (
      SELECT b FROM (VALUES {", ".join(f"({b})" for b in BUCKET_B_GRID)})
      t(b)
    ),
    rows_b AS (
      SELECT b, {_md5long_sql("o_custkey::VARCHAR")} % b AS bucket,
             count(*) AS cnt
      FROM orders CROSS JOIN grid
      GROUP BY 1, 2
    ),
    tot AS (SELECT count(*) AS n FROM orders),
    panel AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_custkey % {BUCKET_PANEL_MOD} = 0
    ),
    hit AS (
      SELECT DISTINCT b, {_md5long_sql("o_custkey::VARCHAR")} % b AS bucket
      FROM panel CROSS JOIN grid
    ),
    np AS (SELECT count(*) AS n_keys FROM panel)
    SELECT r.b::INTEGER AS n_buckets,
           (SELECT n_keys FROM np)::BIGINT AS n_lookup_keys,
           count(DISTINCT CASE WHEN h.bucket IS NOT NULL
                               THEN r.bucket END)::BIGINT AS n_buckets_hit,
           sum(CASE WHEN h.bucket IS NOT NULL THEN r.cnt ELSE 0 END)::BIGINT
             AS rows_scanned,
           round(sum(CASE WHEN h.bucket IS NOT NULL THEN r.cnt ELSE 0 END)
                 * 1.0 / (SELECT n FROM tot), 6) AS scan_share,
           round(max(r.cnt) * r.b * 1.0 / (SELECT n FROM tot), 4)
             AS skew_max_x
    FROM rows_b r
    LEFT JOIN hit h ON h.b = r.b AND h.bucket = r.bucket
    GROUP BY r.b
    """,
)
def storage_bucket_pruning_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What hash-bucketing the orders fact on its customer key buys a
    point-lookup workload: per bucket count B, the buckets a fixed
    key panel touches, the share of the table those buckets hold
    (what a bucket-pruned scan still reads), and the worst bucket's
    size vs the uniform ideal. ``storage_skipping_minmax_audit`` and
    the Z-order audit price RANGE predicates on sort layouts; this
    prices EQUALITY lookups on hash layouts — at 16 buckets the panel
    touches nearly all of them (pruning buys little); at 256 the scan
    share approaches n_keys/B, the number that justifies bucketing
    the table (and pre-shuffling its joins) in the first place.

    Determinism: the bucket function is the md5-slice family every
    sketch query ships (never engine hash()); all counts integer.

    Scale: per width the bucket frame is <= B rows (one map-side-
    combined aggregate of the fact, constant-|grid| fan); the lookup
    panel collapses to DISTINCT keys before hashing; the audit join
    is bucket-frame x panel-bucket-frame — broadcast-bounded, no
    window, no sort, the fact scanned once."""
    o = load_table(spark, sf_dir, "orders")
    b_fan = F.explode(
        F.array(*[F.lit(b) for b in BUCKET_B_GRID])
    ).alias("b")
    bucket = md5_60("o_custkey") % F.col("b")
    rows_b = (
        o.select("o_custkey", b_fan)
        .select("b", bucket.alias("bucket"))
        .groupBy("b", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = o.agg(F.count(F.lit(1)).alias("n"))
    panel = (
        o.filter(F.col("o_custkey") % BUCKET_PANEL_MOD == 0)
        .select("o_custkey")
        .distinct()
    )
    np_ = panel.agg(F.count(F.lit(1)).alias("n_keys"))
    hit = (
        panel.select("o_custkey", b_fan)
        .select("b", bucket.alias("bucket"))
        .distinct()
        .withColumn("is_hit", F.lit(1))
    )
    j = (
        rows_b.join(F.broadcast(hit), ["b", "bucket"], "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(np_))
    )
    return j.groupBy("b").agg(
        F.max("b").cast("int").alias("n_buckets"),
        F.max("n_keys").cast("long").alias("n_lookup_keys"),
        F.countDistinct(
            F.when(F.col("is_hit").isNotNull(), F.col("bucket"))
        )
        .cast("long")
        .alias("n_buckets_hit"),
        F.sum(
            F.when(F.col("is_hit").isNotNull(), F.col("cnt")).otherwise(0)
        )
        .cast("long")
        .alias("rows_scanned"),
        stable_round(
            F.sum(
                F.when(F.col("is_hit").isNotNull(), F.col("cnt")).otherwise(
                    0
                )
            )
            * 1.0
            / F.max("n"),
            6,
        ).alias("scan_share"),
        stable_round(
            F.max("cnt") * F.max("b") * 1.0 / F.max("n"), 4
        ).alias("skew_max_x"),
    ).drop("b")


# ------------------------------------------------------- route_rule_shadowing
def _rule_shadowing_sql() -> str:
    from kafka_go_streamer_spark.plans.routing_queries import DOCS_SPLITER

    rules = DOCS_SPLITER.resolved_splits()
    conds = [split_condition_sql(rs, "text") for rs in rules]
    winner = "CASE " + " ".join(
        f"WHEN m{i} = 1 THEN {i}" for i in range(len(rules))
    ) + " ELSE -1 END"
    flags = ",\n             ".join(
        f"CASE WHEN {c} THEN 1 ELSE 0 END AS m{i}"
        for i, c in enumerate(conds)
    )
    sums = ",\n        ".join(
        f"sum(m{i}) AS t{i}, "
        f"sum(CASE WHEN win = {i} THEN 1 ELSE 0 END) AS w{i}"
        for i in range(len(rules))
    )
    fan = "\n    UNION ALL ".join(
        f"SELECT {i} AS rule_idx, "
        f"""'{rs.pattern.replace("'", "''")}' AS pattern, """
        + (
            f"""'{rs.topic.replace("'", "''")}'"""
            if rs.topic is not None
            else "'__drop__'"
        )
        + f" AS target, t{i}::BIGINT AS n_match, w{i}::BIGINT AS n_won, "
        f"(t{i} - w{i})::BIGINT AS n_shadowed, "
        f"round(CASE WHEN t{i} > 0 THEN (t{i} - w{i}) * 1.0 / t{i} END, 6)"
        f" AS shadow_share FROM agg"
        for i, rs in enumerate(rules)
    )
    return f"""
    WITH flags AS (
      SELECT {flags}
      FROM documents
    ),
    flagged AS (SELECT *, {winner} AS win FROM flags),
    agg AS (
      SELECT {sums}
      FROM flagged
    )
    {fan}
    """


@query("route_rule_shadowing", oracle=_rule_shadowing_sql)
def route_rule_shadowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-match-wins forensics for the docs routing program: per
    rule (YAML order), how many messages match its pattern at all
    (n_match), how many it actually wins under the reference's
    ordered scan (n_won, main.go:507-542), and how many an earlier
    rule absorbs (n_shadowed). A rule that matches plenty but wins
    nothing is dead config — either delete it or reorder it;
    ``route_rule_coverage_overlap`` counts pairwise overlap, this
    settles WHO EATS WHOM under the real priority semantics, per
    rule, with the share that never reaches it.

    Scale: one narrow projection computes every rule's flag and the
    winner index in a single codegen'd pass (the router's own
    case-when, zero shuffles); 2xR counters collapse in ONE aggregate
    row fanned to R output rows."""
    from kafka_go_streamer_spark.plans.routing_queries import DOCS_SPLITER
    from kafka_go_streamer_spark.routing import split_predicate

    rules = DOCS_SPLITER.resolved_splits()
    d = load_table(spark, sf_dir, "documents")
    val = F.col("text")
    preds = [split_predicate(rs, val) for rs in rules]
    win = F.lit(-1)
    for i in reversed(range(len(rules))):
        win = F.when(preds[i], F.lit(i)).otherwise(win)
    flagged = d.select(
        *[
            F.when(p, 1).otherwise(0).alias(f"m{i}")
            for i, p in enumerate(preds)
        ],
        win.alias("win"),
    )
    aggs = []
    for i in range(len(rules)):
        aggs.append(F.sum(f"m{i}").alias(f"t{i}"))
        aggs.append(
            F.sum(F.when(F.col("win") == i, 1).otherwise(0)).alias(f"w{i}")
        )
    one = flagged.agg(*aggs)
    fan = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("rule_idx"),
                        F.lit(rs.pattern).alias("pattern"),
                        F.lit(
                            rs.topic if rs.topic is not None else "__drop__"
                        ).alias("target"),
                        F.col(f"t{i}").alias("t"),
                        F.col(f"w{i}").alias("w"),
                    )
                    for i, rs in enumerate(rules)
                ]
            )
        ).alias("r")
    )
    return fan.select(
        F.col("r.rule_idx").cast("int").alias("rule_idx"),
        F.col("r.pattern").alias("pattern"),
        F.col("r.target").alias("target"),
        F.col("r.t").cast("long").alias("n_match"),
        F.col("r.w").cast("long").alias("n_won"),
        (F.col("r.t") - F.col("r.w")).cast("long").alias("n_shadowed"),
        F.when(
            F.col("r.t") > 0,
            stable_round(
                (F.col("r.t") - F.col("r.w")) * 1.0 / F.col("r.t"), 6
            ),
        ).alias("shadow_share"),
    )


# -------------------------------------------------------- text_word_burstiness
@query(
    "text_word_burstiness",
    oracle=f"""
    WITH w0 AS (
      SELECT doc_id, {X.words_sql('text')} AS w FROM documents
    ),
    n_docs AS (SELECT count(*) AS nd FROM documents),
    tok AS (SELECT doc_id, unnest(w) AS word FROM w0),
    wc AS (SELECT word, doc_id, count(*) AS c FROM tok GROUP BY 1, 2),
    tot AS (
      SELECT word, sum(c) AS cf, count(*) AS df, sum(c * c) AS ssq
      FROM wc GROUP BY 1
    ),
    top AS (
      SELECT word, cf, df, ssq FROM tot
      ORDER BY cf DESC, word ASC LIMIT {BURSTINESS_TOP_N}
    )
    SELECT word,
           cf::BIGINT AS cf,
           df::BIGINT AS df,
           round(cf * 1.0 / df, 4) AS katz_burstiness,
           round(cf * 1.0 / nd, 6) AS mean_per_doc,
           round((ssq * 1.0 / nd - (cf * 1.0 / nd) * (cf * 1.0 / nd))
                 / (cf * 1.0 / nd), 4) AS vmr
    FROM top CROSS JOIN n_docs
    """,
)
def text_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness over the corpus vocabulary's head: for each of
    the top-N words by collection frequency, document frequency,
    Katz's burstiness cf/df (mean repeats per document that uses the
    word) and the variance-to-mean ratio of its per-document counts
    with zero-count documents included (VMR = 1 is Poisson scatter;
    topical words run far over-dispersed, function words sit near
    uniform). Quality gates score documents one at a time; burstiness
    is a CORPUS-level lexical signal — a "top" word with low df and
    high VMR is boilerplate or spam template, not language.

    Determinism: cf, df and the sum of squares are integer
    aggregates; the mean/variance identities divide them once at the
    report edge — no per-engine summation-order drift.

    Scale: one shingle-free token explode into a map-side-combined
    (word, doc) count, one aggregate onto the vocabulary, a
    TakeOrdered top-N — the per-doc count matrix is never
    materialized wide, zeros enter via the closed-form identity
    (var = E[c^2] - E[c]^2 over all nd docs), not via a dense join."""
    from kafka_go_streamer_spark.sources.tables import fan_out

    d = load_table(spark, sf_dir, "documents")
    nd = d.agg(F.count(F.lit(1)).alias("nd"))
    tok = fan_out(d).select(
        "doc_id", F.explode(X.words(F.col("text"))).alias("word")
    )
    wc = tok.groupBy("word", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    tot = wc.groupBy("word").agg(
        F.sum("c").alias("cf"),
        F.count(F.lit(1)).alias("df"),
        F.sum(F.col("c") * F.col("c")).alias("ssq"),
    )
    top = tot.orderBy(F.col("cf").desc(), F.col("word").asc()).limit(
        BURSTINESS_TOP_N
    )
    mean = F.col("cf") * 1.0 / F.col("nd")
    return top.crossJoin(F.broadcast(nd)).select(
        "word",
        F.col("cf").cast("long").alias("cf"),
        F.col("df").cast("long").alias("df"),
        stable_round(F.col("cf") * 1.0 / F.col("df"), 4).alias(
            "katz_burstiness"
        ),
        stable_round(mean, 6).alias("mean_per_doc"),
        stable_round(
            (F.col("ssq") * 1.0 / F.col("nd") - mean * mean) / mean, 4
        ).alias("vmr"),
    )


# -------------------------------------------------------- ann_metric_agreement
def _metric_agreement_sql() -> str:
    from kafka_go_streamer_spark.functions.vectors import (
        cosine_sql,
        dot_sql,
        norm_sql,
    )
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    return f"""
    WITH qs AS (
      SELECT vec_id AS q_id, embedding AS qv
      FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < {PANEL_MAX_ID}
    ),
    scored AS (
      SELECT q.q_id, e.vec_id,
             round({dot_sql('e.embedding', 'q.qv')}, 6) AS dp,
             round({cosine_sql('e.embedding', 'q.qv')}, 6) AS cs
      FROM embeddings e CROSS JOIN qs q
      WHERE e.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY dp DESC, vec_id ASC) AS rn_dot,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cs DESC, vec_id ASC) AS rn_cos
      FROM scored
    )
    SELECT r.q_id,
           sum(CASE WHEN rn_dot <= 10 AND rn_cos <= 10
                    THEN 1 ELSE 0 END)::BIGINT AS n_overlap_10,
           round(sum(CASE WHEN rn_dot <= 10 AND rn_cos <= 10
                          THEN 1 ELSE 0 END) / 10.0, 2) AS overlap_at_10,
           max(CASE WHEN rn_dot = 1 AND rn_cos = 1
                    THEN 1 ELSE 0 END)::INTEGER AS top1_same,
           round(max({norm_sql('q.qv')}), 4) AS q_norm
    FROM ranked r JOIN qs q ON q.q_id = r.q_id
    GROUP BY r.q_id
    """


@query("ann_metric_agreement", oracle=_metric_agreement_sql)
def ann_metric_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the similarity METRIC matter on this corpus: per fixed-
    panel query, the overlap between the dot-product top-10 and the
    cosine top-10 (plus whether the single best neighbor agrees) and
    the query's norm. Dot is cheaper (no per-row norm) and some
    stores only index it; if embeddings are near unit-norm the two
    rankings coincide and the cheap path is safe — this table is that
    judgment measured per query instead of assumed, and the q_norm
    column points at exactly the queries whose scale breaks the
    equivalence.

    Scale: the same brute-force discipline as the recall family —
    corpus x FIXED panel (PANEL_MAX_ID) broadcast bind, similarities
    rounded then ranked per query (both windows share one q_id
    shuffle), per-query cut frames only."""
    from kafka_go_streamer_spark.functions.vectors import (
        cosine,
        dot,
        norm,
    )
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    from kafka_go_streamer_spark.sources.tables import fan_out

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < PANEL_MAX_ID)
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    scored = (
        fan_out(emb).crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            stable_round(dot(F.col("embedding"), F.col("qv")), 6).alias(
                "dp"
            ),
            stable_round(cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "cs"
            ),
        )
    )
    wq = Window.partitionBy("q_id")
    ranked = scored.select(
        "q_id",
        F.row_number()
        .over(wq.orderBy(F.col("dp").desc(), F.col("vec_id").asc()))
        .alias("rn_dot"),
        F.row_number()
        .over(wq.orderBy(F.col("cs").desc(), F.col("vec_id").asc()))
        .alias("rn_cos"),
    )
    agg = ranked.groupBy("q_id").agg(
        F.sum(
            F.when((F.col("rn_dot") <= 10) & (F.col("rn_cos") <= 10), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_overlap_10"),
        stable_round(
            F.sum(
                F.when(
                    (F.col("rn_dot") <= 10) & (F.col("rn_cos") <= 10), 1
                ).otherwise(0)
            )
            / 10.0,
            2,
        ).alias("overlap_at_10"),
        F.max(
            F.when((F.col("rn_dot") == 1) & (F.col("rn_cos") == 1), 1)
            .otherwise(0)
        )
        .cast("int")
        .alias("top1_same"),
    )
    return agg.join(
        F.broadcast(
            qs.select(
                "q_id", stable_round(norm(F.col("qv")), 4).alias("q_norm")
            )
        ),
        "q_id",
    )


# --------------------------------------------------- dedup_minhash_width_curve
def _minhash_width_sql() -> str:
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
    pair_cols = ",\n             ".join(
        f"sa.sig{k} AS sig{k}_a, sb.sig{k} AS sig{k}_b"
        for k in range(NUM_HASHES)
    )
    inter = "len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))"
    exact = f"{inter} * 1.0 / (len(sa.sh) + len(sb.sh) - {inter})"
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
      SELECT {pair_cols},
             {exact} AS exact
      FROM cand c
      JOIN sigs sa ON c.id_a = sa.id
      JOIN sigs sb ON c.id_b = sb.id
    ),
    fanned AS (
{_width_fan_sql()}
    )
    SELECT n_sigs::INTEGER AS n_sigs,
           count(*)::BIGINT AS n_pairs,
           round(avg(est), 4) AS mean_est,
           round(avg(exact), 4) AS mean_exact,
           round(avg(est - exact), 4) AS bias,
           round(avg(abs(est - exact)), 4) AS mae
    FROM fanned GROUP BY 1
    """


def _width_fan_sql() -> str:
    fan = []
    for r in MINHASH_R_GRID:
        agree = " + ".join(
            f"CASE WHEN sig{k}_a = sig{k}_b THEN 1 ELSE 0 END"
            for k in range(r)
        )
        fan.append(
            f"      SELECT {r} AS n_sigs, ({agree}) * 1.0 / {r} AS est,"
            " exact FROM pairs"
        )
    return "\n      UNION ALL\n".join(fan)


@query("dedup_minhash_width_curve", oracle=_minhash_width_sql)
def dedup_minhash_width_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash signature-width sizing curve: on the SAME capped-band
    candidate pairs the dedup pipeline surfaces, the Jaccard
    estimator's bias and MAE when only the first r of the NUM_HASHES
    signature components are used, r ∈ MINHASH_R_GRID. This is the
    missing chapter of the sizing-curve family (Bloom m, CMS w, HLL
    p, KLL k): each extra minhash costs 8 signature bytes per
    document THROUGH EVERY SHUFFLE of a 100 TB dedup run — the mae
    column is what those bytes buy (E[MAE] ~ sqrt(s(1-s)/r), so
    halving the error costs 4x the width).
    ``dedup_minhash_estimator_error`` fixes r and sweeps similarity;
    this fixes the pairs and sweeps r.

    Scale: signatures/banding/cap are the shared audited path
    (operators/dedup.py); the width fan is a constant |grid|
    multiplier on the CANDIDATE frame only; one |grid|-row
    aggregate."""
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
    pairs = (
        cand.join(side.alias("sa"), F.col("id_a") == F.col("sa.id"))
        .join(side.alias("sb"), F.col("id_b") == F.col("sb.id"))
        .select(
            *[
                F.when(
                    F.col(f"sa.sig{k}") == F.col(f"sb.sig{k}"), 1
                )
                .otherwise(0)
                .alias(f"ag{k}")
                for k in range(NUM_HASHES)
            ],
            jaccard(F.col("sa._shingles"), F.col("sb._shingles")).alias(
                "exact"
            ),
        )
    )
    fanned = pairs.select(
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("n_sigs"),
                        (
                            sum(F.col(f"ag{k}") for k in range(r))
                            * 1.0
                            / r
                        ).alias("est"),
                    )
                    for r in MINHASH_R_GRID
                ]
            )
        ).alias("f"),
    ).select(F.col("f.n_sigs").alias("n_sigs"), F.col("f.est").alias("est"), "exact")
    return fanned.groupBy("n_sigs").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        stable_round(F.avg("est"), 4).alias("mean_est"),
        stable_round(F.avg("exact"), 4).alias("mean_exact"),
        stable_round(F.avg(F.col("est") - F.col("exact")), 4).alias("bias"),
        stable_round(F.avg(F.abs(F.col("est") - F.col("exact"))), 4).alias(
            "mae"
        ),
    ).withColumn("n_sigs", F.col("n_sigs").cast("int"))


# ----------------------------------------------------- sketch_kll_error_curve
def _kll_grid_sketch(li: DataFrame) -> DataFrame:
    """All KLL_K_GRID sketches of ``li.v`` in ONE Arrow pass (each
    input batch updates every width's compactors), reduced through the
    shared bounded-fan-in merge tree keyed by (k, group) then k.
    Returned UNPINNED so tests can assert the one-pass plan shape;
    the query pins the few-hundred-row result before fanning
    consumers."""
    import pandas as pd

    from kafka_go_streamer_spark.operators.kll import KLLSketch
    from kafka_go_streamer_spark.plans.sketches import KLL_FANIN

    # NO fan_out: partial sketches build per SCAN partition — the
    # production shape (guide §2.3: aggregate before you shuffle; only
    # ~k·log(n/k) retained doubles ever cross the wire). The Python
    # compactor is ~0.3 s for the whole sf0.1 fact even single-task
    # (measured), so the round-robin exchange of the raw values cost
    # more than the serial build it parallelized.
    src = li.withColumn("pid", F.spark_partition_id())

    def build(batches):
        sks = {k: KLLSketch(k) for k in KLL_K_GRID}
        g = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            g = int(pdf["pid"].iloc[0]) % KLL_FANIN
            vals = pdf["v"].astype(float).tolist()
            for sk in sks.values():
                sk.update_many(vals)
        for k, sk in sks.items():
            if sk.n_retained():
                yield pd.DataFrame(
                    {
                        "k": [k] * len(sk.levels),
                        "g": [g] * len(sk.levels),
                        "level": list(range(len(sk.levels))),
                        "vals": [list(vs) for vs in sk.levels],
                    }
                )

    schema = "k INT, g INT, level INT, vals ARRAY<DOUBLE>"
    partials = src.mapInPandas(build, schema)

    def merge_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        k = int(pdf["k"].iloc[0])
        sk = KLLSketch(k)
        for lvl, vals in zip(pdf["level"], pdf["vals"]):
            lvl = int(lvl)
            while lvl >= len(sk.levels):
                sk.levels.append([])
            sk.levels[lvl].extend(float(v) for v in vals)
        sk._compress()
        return pd.DataFrame(
            {
                "k": [k] * len(sk.levels),
                "g": [0] * len(sk.levels),
                "level": list(range(len(sk.levels))),
                "vals": [list(vs) for vs in sk.levels],
            }
        )

    stage1 = partials.groupBy("k", "g").applyInPandas(merge_rows, schema)
    return stage1.groupBy("k").applyInPandas(merge_rows, schema).drop("g")


def _kll_curve_sql() -> str:
    from kafka_go_streamer_spark.plans.sketches import KLL_QUANTILES

    exact_union = " UNION ALL ".join(
        f"SELECT {q}::DOUBLE AS q, percentile_cont({q}) WITHIN GROUP "
        "(ORDER BY l_extendedprice) AS exact FROM lineitem"
        for q in KLL_QUANTILES
    )
    kvals = ", ".join(f"({k})" for k in KLL_K_GRID)
    eps = " ".join(
        f"WHEN k = {k} THEN {e}" for k, e in sorted(KLL_EPS_BY_K.items())
    )
    return f"""
    WITH exact AS ({exact_union}),
    grid AS (SELECT k FROM (VALUES {kvals}) t(k))
    SELECT k::INTEGER AS k, q, round(exact, 4) AS exact,
           (CASE {eps} END)::DOUBLE AS rank_eps,
           TRUE AS within_bound
    FROM exact CROSS JOIN grid
    """


@query("sketch_kll_error_curve", oracle=_kll_curve_sql)
def sketch_kll_error_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL compactor-capacity sizing curve — the quantile chapter of
    the measured-vs-analytic family (Bloom m, CMS w, HLL p, MinHash
    r): P50/P90/P99 of l_extendedprice estimated at k ∈ KLL_K_GRID,
    each CERTIFIED against the data the way ``sketch_kll_quantiles``
    certifies the deployed k=256 — the query recomputes every
    estimate's true rank and reports ``within_bound = |rank/n − q| <=
    ε_k`` with a per-k envelope that falls ~1/k (KLL_EPS_BY_K).
    A sketch regression at ANY width breaks the oracle hash; the
    envelope column is the sizing table — k=32 retains ~1/16 the
    doubles of k=512 and pays 10x the certified rank error, which is
    the trade a 100 TB percentile dashboard actually shops between.

    Scale: all |grid| sketches build in the SAME one-pass Arrow
    ``mapInPandas`` over the fact (the scan cost is paid once, not
    per k), reduce through the same bounded-fan-in merge tree keyed
    by (k, group), and certification is ONE conditional aggregate
    against the broadcast |grid|x|quantiles| estimate row."""
    from kafka_go_streamer_spark.operators.iterate import pinned
    from kafka_go_streamer_spark.plans.sketches import (
        KLL_QUANTILES,
        exact_value_percentiles,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("v")
    )
    final = pinned(_kll_grid_sketch(li))
    items = final.select(
        "k",
        "level",
        F.explode("vals").alias("v"),
        F.pow(F.lit(2.0), F.col("level")).cast("long").alias("w"),
    )
    n_row = items.groupBy("k").agg(F.sum("w").cast("long").alias("n"))
    # per-k window over the SKETCH frames (a few hundred rows each),
    # never the fact
    cum = items.select(
        "k",
        "v",
        F.sum("w")
        .over(
            Window.partitionBy("k")
            .orderBy("v", "level")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("cum"),
    )
    q_df = (
        n_row.select(
            "k",
            "n",
            F.explode(
                F.array(*[F.lit(float(q)) for q in KLL_QUANTILES])
            ).alias("q"),
        )
    )
    # rename the sketch side's k: both frames descend from `items`, so
    # an unaliased k == k would resolve to ONE attribute (trivially
    # true) and silently min() across widths
    cum_r = cum.withColumnRenamed("k", "ck")
    est = (
        q_df.join(
            F.broadcast(cum_r),
            (F.col("cum") >= F.col("q") * F.col("n"))
            & (F.col("k") == F.col("ck")),
        )
        .groupBy("k", "q")
        .agg(F.min("v").alias("est"))
    )
    cells = [(k, i, q) for k in KLL_K_GRID for i, q in enumerate(KLL_QUANTILES)]
    est_wide = est.agg(
        *[
            F.first(
                F.when(
                    (F.col("k") == k) & (F.col("q") == float(q)),
                    F.col("est"),
                ),
                ignorenulls=True,
            ).alias(f"est_{k}_{i}")
            for k, i, q in cells
        ]
    )
    # rank certification FOLDED into the exact picker's sizes pass
    # (VERDICT r16 #5, guide §1.2): all |grid|x|quantiles| conditional
    # rank counts ride the picker's range-partitioned sizes aggregate,
    # so the standalone certification scan of the fact is gone —
    # 3 fact scans (sketch, certify, picker) → 2. l_extendedprice is
    # non-nullable, so the picker's null-dropped n/rank counts equal
    # the old full-frame conditional aggregate.
    certified = exact_value_percentiles(
        li, "v", KLL_QUANTILES, certify=est_wide
    )
    return (
        certified.withColumnsRenamed(
            {f"rank_est_{k}_{i}": f"rank_{k}_{i}" for k, i, _ in cells}
        )
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("int").alias("k"),
                            F.lit(float(q)).alias("q"),
                            stable_round(F.col("ps").getItem(i), 4).alias(
                                "exact"
                            ),
                            F.lit(float(KLL_EPS_BY_K[k])).alias("rank_eps"),
                            (
                                F.abs(
                                    F.col(f"rank_{k}_{i}") / F.col("n")
                                    - F.lit(float(q))
                                )
                                <= F.lit(float(KLL_EPS_BY_K[k]))
                            ).alias("within_bound"),
                        )
                        for k, i, q in cells
                    ]
                )
            ).alias("s")
        )
        .select("s.k", "s.q", "s.exact", "s.rank_eps", "s.within_bound")
    )


# ========================================================== r14 wave 2

#: Word-count floors for the gate threshold sweep (the deployed
#: PREP_MIN_WORDS sits in the middle).
GATE_W_GRID = (10, 20, 40)
#: Alpha-ratio floors (deployed PREP_MIN_ALPHA in the middle).
GATE_A_GRID = (0.5, 0.6, 0.7)

#: QI length-bin width multipliers for the generalization curve
#: (×1 = the ladder queries' QI_LEN_BIN).
GEN_WIDTH_MULTS = (1, 2, 4)
#: The k-anonymity and l-diversity thresholds the curve reports
#: against (the ladder queries' middle rungs).
GEN_K = 5
GEN_L = 2

#: Centroid-count grid for the IVF nlist trade-off (the deployed
#: curve family uses the 4-centroid set; the grid brackets it).
NLIST_GRID = (2, 4, 8)

#: Horizon grid (hours) for the return-probability table.
RETURN_H_GRID = (1, 6, 24)

#: Shingle sizes for the selectivity audit (the deployed pipelines
#: use SHINGLE_SIZE = 3).
SHINGLE_K_GRID = (2, 3, 5)


# ----------------------------------------------- quality_gate_threshold_sweep
def _gate_sweep_sql() -> str:
    cells = []
    for w in GATE_W_GRID:
        for a in GATE_A_GRID:
            cond = (
                f"n_words >= {w} AND alpha_ratio > {a}"
                f" AND pred_lang = '{PREP_LANG}'"
            )
            cells.append(
                f"SELECT {w} AS min_words, {a} AS min_alpha,"
                f" sum(CASE WHEN {cond} THEN 1 ELSE 0 END)::BIGINT"
                f" AS n_survivors,"
                f" sum(CASE WHEN {cond} THEN n_tokens ELSE 0 END)::BIGINT"
                f" AS n_tokens,"
                f" round(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) * 1.0"
                f" / count(*), 6) AS doc_share,"
                f" round(sum(CASE WHEN {cond} THEN n_tokens ELSE 0 END)"
                f" * 1.0 / sum(n_tokens), 6) AS token_share"
                f" FROM scored"
            )
    body = "\n    UNION ALL ".join(cells)
    return f"""
    WITH scored AS (
      SELECT {X.word_count_sql('text')} AS n_words,
             {X.token_count_sql('text')} AS n_tokens,
             {X.alpha_ratio_sql('text')} AS alpha_ratio,
             {X.lang_id_sql('text')} AS pred_lang
      FROM documents
    )
    {body}
    """


@query("quality_gate_threshold_sweep", oracle=_gate_sweep_sql)
def quality_gate_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sensitivity sweep of the training-prep quality gates: surviving
    documents and tokens (count and share) at every (word-count floor
    x alpha-ratio floor) cell of a 3x3 grid centered on the DEPLOYED
    thresholds (the shared PREP_* constants — the sweep can never
    drift from the pipeline it prices). ``pipeline_gate_funnel`` says
    what today's gates cost; this is the table for the meeting where
    someone proposes changing them — each cell is the corpus you'd
    keep, priced in tokens, before anyone re-runs the pipeline.

    Scale: ONE scan of the corpus; all |grid|x2 counters plus the two
    totals fold in a single aggregate row (language gate shared by
    every cell), fanned to |grid| rows."""
    from kafka_go_streamer_spark.sources.tables import fan_out

    d = load_table(spark, sf_dir, "documents")
    scored = fan_out(d).select(
        X.word_count(F.col("text")).alias("n_words"),
        X.token_count(F.col("text")).alias("n_tokens"),
        X.alpha_ratio(F.col("text")).alias("alpha_ratio"),
        X.lang_id(F.col("text")).alias("pred_lang"),
    )
    cells = [(w, a) for w in GATE_W_GRID for a in GATE_A_GRID]
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("n_tokens").alias("tok"),
    ]
    for w, a in cells:
        cond = (
            (F.col("n_words") >= w)
            & (F.col("alpha_ratio") > a)
            & (F.col("pred_lang") == PREP_LANG)
        )
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"s_{w}_{int(a*10)}"))
        aggs.append(
            F.sum(F.when(cond, F.col("n_tokens")).otherwise(0)).alias(
                f"t_{w}_{int(a*10)}"
            )
        )
    one = scored.agg(*aggs)
    fan = one.select(
        "n",
        "tok",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(w).alias("min_words"),
                        F.lit(a).alias("min_alpha"),
                        F.col(f"s_{w}_{int(a*10)}").alias("s"),
                        F.col(f"t_{w}_{int(a*10)}").alias("t"),
                    )
                    for w, a in cells
                ]
            )
        ).alias("c"),
    )
    return fan.select(
        F.col("c.min_words").cast("int").alias("min_words"),
        F.col("c.min_alpha").alias("min_alpha"),
        F.col("c.s").cast("long").alias("n_survivors"),
        F.col("c.t").cast("long").alias("n_tokens"),
        stable_round(F.col("c.s") * 1.0 / F.col("n"), 6).alias("doc_share"),
        stable_round(F.col("c.t") * 1.0 / F.col("tok"), 6).alias(
            "token_share"
        ),
    )


# ------------------------------------------------ privacy_generalization_curve
def _generalization_sql() -> str:
    from kafka_go_streamer_spark.plans.audit_ops import QI_LEN_BIN

    blocks = []
    for m in GEN_WIDTH_MULTS:
        width = QI_LEN_BIN * m
        blocks.append(f"""
    SELECT {m} AS width_mult, {width} AS bin_chars,
           (SELECT count(*) FROM (
              SELECT 1 FROM documents
              GROUP BY lang, n_chars // {width}))::BIGINT AS n_classes,
           (SELECT round(coalesce(sum(n), 0) * 1.0 / (SELECT count(*) FROM documents), 6)
            FROM (SELECT count(*) AS n FROM documents
                  GROUP BY lang, n_chars // {width}) c
            WHERE n < {GEN_K}) AS kanon_doc_share,
           (SELECT round(coalesce(sum(n), 0) * 1.0 / (SELECT count(*) FROM documents), 6)
            FROM (SELECT count(*) AS n, count(DISTINCT source) AS l
                  FROM documents
                  GROUP BY lang, n_chars // {width}) c
            WHERE l < {GEN_L}) AS ldiv_doc_share,
           (SELECT round(max(tvnum * 1.0 / (2 * n_c * nn)), 6) FROM (
              SELECT g.lang, g.len_bin, max(g.n_c) AS n_c,
                     max(g.nn) AS nn,
                     sum(abs(g.cnt_cs * g.nn - g.cnt_s * g.n_c)) AS tvnum
              FROM (
                SELECT c.lang, c.len_bin, c.n_c, s.source, s.cnt_s,
                       coalesce(x.cnt_cs, 0) AS cnt_cs,
                       (SELECT count(*) FROM documents) AS nn
                FROM (SELECT lang, n_chars // {width} AS len_bin,
                             count(*) AS n_c
                      FROM documents GROUP BY 1, 2) c
                CROSS JOIN (SELECT source, count(*) AS cnt_s
                            FROM documents GROUP BY 1) s
                LEFT JOIN (SELECT lang, n_chars // {width} AS len_bin,
                                  source, count(*) AS cnt_cs
                           FROM documents GROUP BY 1, 2, 3) x
                  ON x.lang = c.lang AND x.len_bin = c.len_bin
                 AND x.source = s.source
              ) g GROUP BY 1, 2)) AS max_tv""")
    return "\n    UNION ALL".join(blocks)


@query("privacy_generalization_curve", oracle=_generalization_sql)
def privacy_generalization_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What GENERALIZING the quasi-identifier buys, across the whole
    privacy ladder at once: at length-bin widths x1/x2/x4 the ladder's
    QI_LEN_BIN, the class count, the k-anonymity exposure (share of
    docs in classes smaller than GEN_K), the l-diversity exposure
    (share in classes with fewer than GEN_L distinct sources) and the
    worst t-closeness distance. Coarser bins merge classes — exposure
    falls, information content falls with it; this curve is the
    release-design table that says WHICH width first clears all three
    screens (the single-width ladder queries certify the chosen
    point).

    Scale: per width everything collapses to the QI-class frame
    (aggregates; the TV term is the classes x sources broadcast
    frame); the |widths| blocks union bounded frames, the corpus is
    scanned a constant number of times."""
    from kafka_go_streamer_spark.plans.audit_ops import QI_LEN_BIN

    d = load_table(spark, sf_dir, "documents")
    tot = d.agg(F.count(F.lit(1)).alias("nn"))
    srcs = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt_s"))
    out = None
    for m in GEN_WIDTH_MULTS:
        width = QI_LEN_BIN * m
        cls = d.groupBy(
            "lang", (F.col("n_chars") / width).cast("long").alias("len_bin")
        ).agg(
            F.count(F.lit(1)).alias("n_c"),
            F.countDistinct("source").alias("l"),
        )
        cls_src = d.groupBy(
            "lang",
            (F.col("n_chars") / width).cast("long").alias("len_bin"),
            "source",
        ).agg(F.count(F.lit(1)).alias("cnt_cs"))
        tv = (
            cls.select("lang", "len_bin", "n_c")
            .crossJoin(F.broadcast(srcs))
            .join(cls_src, ["lang", "len_bin", "source"], "left")
            .crossJoin(F.broadcast(tot))
            .groupBy("lang", "len_bin")
            .agg(
                F.max("n_c").alias("n_c"),
                F.max("nn").alias("nn"),
                F.sum(
                    F.abs(
                        F.coalesce(F.col("cnt_cs"), F.lit(0)) * F.col("nn")
                        - F.col("cnt_s") * F.col("n_c")
                    )
                ).alias("tvnum"),
            )
            .agg(
                stable_round(
                    F.max(
                        F.col("tvnum") * 1.0 / (2 * F.col("n_c") * F.col("nn"))
                    ),
                    6,
                ).alias("max_tv")
            )
        )
        summary = (
            cls.crossJoin(F.broadcast(tot))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_classes"),
                stable_round(
                    F.sum(
                        F.when(F.col("n_c") < GEN_K, F.col("n_c")).otherwise(0)
                    )
                    * 1.0
                    / F.max("nn"),
                    6,
                ).alias("kanon_doc_share"),
                stable_round(
                    F.sum(
                        F.when(F.col("l") < GEN_L, F.col("n_c")).otherwise(0)
                    )
                    * 1.0
                    / F.max("nn"),
                    6,
                ).alias("ldiv_doc_share"),
            )
            .crossJoin(F.broadcast(tv))
            .select(
                F.lit(m).cast("int").alias("width_mult"),
                F.lit(width).cast("int").alias("bin_chars"),
                "n_classes",
                "kanon_doc_share",
                "ldiv_doc_share",
                "max_tv",
            )
        )
        out = summary if out is None else out.unionByName(summary)
    return out


# --------------------------------------------------------- ann_nlist_tradeoff
def _nlist_sql() -> str:
    from kafka_go_streamer_spark.functions.vectors import cosine_sql
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    asg_ctes = []
    fan_blocks = []
    for nl in NLIST_GRID:
        cent_ids = ", ".join(str(i) for i in range(1, nl + 1))
        asg_ctes.append(f"""
    asg{nl} AS (
      SELECT vec_id, cent_id AS cell FROM (
        SELECT e.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round({cosine_sql('e.embedding', 'c.cv')}, 6)
                   DESC, c.cent_id ASC) AS rn
        FROM embeddings e
        CROSS JOIN (SELECT vec_id AS cent_id, embedding AS cv
                    FROM embeddings
                    WHERE vec_id IN ({cent_ids})) c
      ) WHERE rn = 1
    ),
    cn{nl} AS (SELECT cell, count(*) AS cell_n FROM asg{nl} GROUP BY 1)""")
        fan_blocks.append(f"""
      SELECT {nl} AS nlist, s.q_id, s.vec_id, s.sim,
             cn.cell_n, t.nn
      FROM scored s
      JOIN asg{nl} a ON a.vec_id = s.vec_id
      JOIN asg{nl} qa ON qa.vec_id = s.q_id
      JOIN cn{nl} cn ON cn.cell = qa.cell
      CROSS JOIN (SELECT count(*) AS nn FROM embeddings) t
      WHERE a.cell = qa.cell""")
    ctes = ",".join(asg_ctes)
    body = "\n      UNION ALL".join(fan_blocks)
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
    ),{ctes},
    fanned AS ({body}),
    retrieved AS (
      SELECT nlist, q_id, vec_id, cell_n, nn FROM (
        SELECT nlist, q_id, vec_id, cell_n, nn,
               row_number() OVER (PARTITION BY nlist, q_id
                 ORDER BY sim DESC, vec_id ASC) AS rn
        FROM fanned) WHERE rn <= 10
    ),
    per_q AS (
      SELECT r.nlist, r.q_id,
             sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 10.0
               AS recall,
             max(r.cell_n) * 1.0 / max(r.nn) AS scan_share
      FROM retrieved r
      LEFT JOIN gt g ON g.q_id = r.q_id AND g.vec_id = r.vec_id
      GROUP BY 1, 2
    )
    SELECT nlist::INTEGER AS nlist,
           count(*)::BIGINT AS n_queries,
           round(avg(recall), 4) AS mean_recall_at_10,
           round(avg(scan_share), 6) AS mean_scan_share
    FROM per_q GROUP BY 1
    """


@query("ann_nlist_tradeoff", oracle=_nlist_sql)
def ann_nlist_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index's OTHER sizing axis: recall@10 and the share of
    the corpus a single-probe query scans, at nlist ∈ NLIST_GRID
    coarse centroids (deterministic bracketing of the deployed
    4-centroid family). ``ann_nprobe_recall_curve`` fixes the
    partitioning and sweeps probes; this fixes nprobe=1 and sweeps the
    PARTITIONING — more cells mean cheaper probes and lower recall,
    and the product of the two curves is the actual serving-cost
    model (scan_share ~ 1/nlist, recall decays as the true neighbors
    spread over more cells).

    Scale: ground truth computed ONCE against the fixed panel
    (PANEL_MAX_ID); the centroid sets are nested prefixes (ids 1..nl),
    so ONE corpus x max(nlist) broadcast cosine pass assigns every
    (vec, nlist) cell via prefix-restricted argmax, nlist rides as a
    data dimension (no per-nlist branch), and recall cuts re-rank the
    panel-sized candidate frames only."""
    from kafka_go_streamer_spark.functions.vectors import cosine
    from kafka_go_streamer_spark.operators.iterate import pinned
    from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID

    from kafka_go_streamer_spark.sources.tables import fan_out

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < PANEL_MAX_ID)
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    scored = pinned(
        fan_out(emb).crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            stable_round(cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "sim"
            ),
        )
    )
    wq = Window.partitionBy("q_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    gt = (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 10)
        .select("q_id", F.col("vec_id").alias("gt_id"))
    )
    tot = emb.agg(F.count(F.lit(1)).alias("nn"))

    # ONE corpus x max-nlist cosine pass instead of one per nlist (the
    # centroid sets are nested prefixes, ids 1..nl) and nlist as a DATA
    # dimension instead of |grid| unioned branches — same collapse as
    # ann_ivf_operating_surface (3 pinned passes -> 1, measured ~2x).
    max_nl = max(NLIST_GRID)
    cents = emb.filter(F.col("vec_id").isin(*range(1, max_nl + 1))).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
    )
    assign_all = pinned(
        fan_out(emb)
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "cent_id",
            stable_round(
                cosine(F.col("embedding"), F.col("cv")), 6
            ).alias("sim_c"),
        )
        .groupBy("vec_id")
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
    # renamed keys: cell_n and the query-side assignment share lineage
    # with `retrieved` (all descend from assign_all), so unaliased
    # cell == cell joins would be ambiguous/self-referential
    cell_n = assign_all.groupBy("nlist", "cell").agg(
        F.count(F.lit(1)).alias("cell_n")
    ).select(
        F.col("nlist").alias("cn_nlist"),
        F.col("cell").alias("cn_cell"),
        "cell_n",
    )
    wnq = Window.partitionBy("nlist", "q_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    retrieved = (
        scored.join(assign_all, "vec_id")
        .join(
            F.broadcast(
                assign_all.select(
                    F.col("vec_id").alias("q_id"),
                    F.col("nlist").alias("qnlist"),
                    F.col("cell").alias("qcell"),
                )
            ),
            "q_id",
        )
        .filter(
            (F.col("cell") == F.col("qcell"))
            & (F.col("nlist") == F.col("qnlist"))
        )
        .withColumn("rn", F.row_number().over(wnq))
        .filter(F.col("rn") <= 10)
    )
    per_q = (
        retrieved.join(
            gt.withColumnRenamed("q_id", "gq_id"),
            (F.col("q_id") == F.col("gq_id"))
            & (F.col("vec_id") == F.col("gt_id")),
            "left",
        )
        .join(
            F.broadcast(cell_n),
            (F.col("qcell") == F.col("cn_cell"))
            & (F.col("nlist") == F.col("cn_nlist")),
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("nlist", "q_id")
        .agg(
            (
                F.sum(
                    F.when(F.col("gt_id").isNotNull(), 1).otherwise(0)
                )
                / 10.0
            ).alias("recall"),
            (F.max("cell_n") * 1.0 / F.max("nn")).alias("scan_share"),
        )
    )
    return per_q.groupBy("nlist").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        stable_round(F.avg("recall"), 4).alias("mean_recall_at_10"),
        stable_round(F.avg("scan_share"), 6).alias("mean_scan_share"),
    ).select(
        F.col("nlist").cast("int").alias("nlist"),
        "n_queries",
        "mean_recall_at_10",
        "mean_scan_share",
    )


# --------------------------------------------------- events_return_probability
@query(
    "events_return_probability",
    oracle=f"""
    WITH seq AS (
      SELECT event_type,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) - epoch_us(ts) AS gap_us
      FROM events
    )
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           {", ".join(
             f"round(sum(CASE WHEN gap_us IS NOT NULL AND gap_us <= "
             f"{h} * 3600000000 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)"
             f" AS p_return_{h}h" for h in RETURN_H_GRID
           )},
           round(sum(CASE WHEN gap_us IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS censored_share
    FROM seq GROUP BY 1
    """,
)
def events_return_probability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Return hazard per event type: after a user fires this event,
    the probability their NEXT action (of any type) arrives within
    1 h / 6 h / 24 h, plus the censored share (no next event in the
    horizon — the sequence's right edge). ``events_transition_dwell``
    times each edge; this is the per-type comeback curve a
    notification/timeout policy reads ("after an error, 30% return
    within the hour; after a purchase, almost nobody does"), with
    censoring made explicit instead of silently counted as
    never-returned.

    Scale: the same single user-partitioned window the dwell/
    sessionize family shares (lead instead of lag); everything else
    is one conditional aggregate onto the event-type domain."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = e.select(
        "event_type", (F.lead(us).over(w) - us).alias("gap_us")
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_events")]
    for h in RETURN_H_GRID:
        aggs.append(
            stable_round(
                F.sum(
                    F.when(
                        F.col("gap_us").isNotNull()
                        & (F.col("gap_us") <= h * 3_600_000_000),
                        1,
                    ).otherwise(0)
                )
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias(f"p_return_{h}h")
        )
    aggs.append(
        stable_round(
            F.sum(F.when(F.col("gap_us").isNull(), 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("censored_share")
    )
    return seq.groupBy("event_type").agg(*aggs)


# ---------------------------------------------------- dedup_shingle_selectivity
def _shingle_k_sql(words_col: str, k: int) -> str:
    w = words_col
    joined = " || ' ' || ".join(f"{w}[i+{j}]" for j in range(k))
    return (
        f"CASE WHEN len({w}) >= {k} "
        f"THEN list_distinct(list_transform("
        f"range(1, len({w}) - {k - 2}), i -> {joined})) "
        f"ELSE [array_to_string({w}, ' ')] END"
    )


def _shingle_selectivity_sql() -> str:
    blocks = []
    for k in SHINGLE_K_GRID:
        blocks.append(f"""
      SELECT {k} AS shingle_k, doc_id,
             ('0x' || substr(md5(unnest({_shingle_k_sql('w', k)})), 1, 15))
               ::BIGINT AS sh
      FROM w0""")
    body = "\n      UNION ALL".join(blocks)
    return f"""
    WITH w0 AS (
      SELECT doc_id, {X.words_sql('text')} AS w FROM documents
    ),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    ex AS ({body}),
    df AS (
      SELECT shingle_k, sh, count(DISTINCT doc_id) AS df FROM ex
      GROUP BY 1, 2
    ),
    shared_docs AS (
      SELECT e.shingle_k, count(DISTINCT e.doc_id) AS n_docs_sharing
      FROM ex e JOIN df ON df.shingle_k = e.shingle_k AND df.sh = e.sh
      WHERE df.df > 1
      GROUP BY 1
    )
    SELECT d.shingle_k::INTEGER AS shingle_k,
           count(*)::BIGINT AS n_shingles,
           round(sum(df) * 1.0 / max(nd.n_docs), 4)
             AS mean_shingles_per_doc,
           round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS unique_share,
           max(df)::BIGINT AS max_df,
           round(coalesce(max(s.n_docs_sharing), 0) * 1.0
                 / max(nd.n_docs), 6)
             AS docs_sharing_share
    FROM df d
    CROSS JOIN nd
    LEFT JOIN shared_docs s ON s.shingle_k = d.shingle_k
    GROUP BY 1
    """


@query("dedup_shingle_selectivity", oracle=_shingle_selectivity_sql)
def dedup_shingle_selectivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blocking-key selectivity of the shingle size: at k ∈ {2, 3, 5}
    words (the deployed pipelines run k=3), the distinct-shingle
    vocabulary, shingles per document, the share of shingles unique
    to one document, the hottest shingle's document frequency, and
    the share of documents that share ANY shingle with another. This
    is the knob BEFORE the MinHash math: k=2 floods the banding with
    shared keys (candidates everywhere, the cap works overtime), k=5
    starves it (near-dups stop colliding) — the table picks the k at
    which "shares a shingle" means something.

    Scale: per k one explode into a map-side-combined (shingle, doc)
    distinct + a vocabulary-frame aggregate; the docs-sharing count
    joins the exploded frame back on the shingle equi-key (never
    doc x doc); the |k-grid| fan is a constant multiplier on one
    corpus scan."""
    from kafka_go_streamer_spark.functions.text import words
    from kafka_go_streamer_spark.operators.iterate import pinned
    from kafka_go_streamer_spark.sources.tables import fan_out

    d0 = load_table(spark, sf_dir, "documents")
    nd = d0.agg(F.count(F.lit(1)).alias("n_docs"))
    # the fixture parquet is one row group: without the fan the whole
    # 3-way shingle explode runs in ONE task (measured 120 s at sf1
    # single-threaded vs seconds fanned)
    d = fan_out(d0)

    def shingle_k_of(w, k):
        n = F.size(w)
        make = F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + j + 1) for j in range(k)]
            ),
        )
        return F.array_distinct(
            F.when(n >= k, make).otherwise(F.array(F.concat_ws(" ", w)))
        )

    # words bound ONCE in its own projection: inlining the split into
    # the transform re-evaluates it per element_at (see
    # operators/dedup.py shingle_stream_of; measured 3x on the explode).
    # ALL THREE k-grids build off that one binding in a single
    # projection (r17, guide §1.2): the old per-k UNION branches each
    # re-ran the scan + regex split — 3 text scans + 3 splits for one
    # corpus. Each k's shingles hash to 60-bit keys in-row, tag
    # themselves with k via a struct, and ONE explode of the
    # concatenated arrays replaces the union — 1 scan, 1 split.
    # (Checkpointing the word arrays instead measured ~1.5 s SLOWER
    # in r16: text-sized arrays serialize worse than re-splitting —
    # fusing in-row avoids both the pin and the re-splits.)
    dw = d.select("doc_id", words(F.col("text")).alias("_w"))
    harr = dw.select(
        "doc_id",
        *[
            F.transform(shingle_k_of(F.col("_w"), k), md5_60).alias(
                f"_h{k}"
            )
            for k in SHINGLE_K_GRID
        ],
    )
    def _tag(k: int):
        # NB: a single-arg lambda — a two-arg lambda (e.g. closing over
        # k via a default arg) is read by F.transform as (element,
        # index) and the tag silently becomes the array INDEX.
        return lambda x: F.struct(
            F.lit(k).alias("shingle_k"), x.alias("sh")
        )

    ex = harr.select(
        "doc_id",
        F.explode(
            F.concat(
                *[
                    F.transform(F.col(f"_h{k}"), _tag(k))
                    for k in SHINGLE_K_GRID
                ]
            )
        ).alias("_s"),
    ).select(F.col("_s.shingle_k").alias("shingle_k"), "doc_id", F.col("_s.sh").alias("sh"))
    from kafka_go_streamer_spark.operators.iterate import pinned

    ex = pinned(ex)
    df_frame = ex.groupBy("shingle_k", "sh").agg(
        F.countDistinct("doc_id").alias("df")
    )
    shared = (
        ex.join(
            df_frame.filter(F.col("df") > 1).select("shingle_k", "sh"),
            ["shingle_k", "sh"],
        )
        .groupBy("shingle_k")
        .agg(F.countDistinct("doc_id").alias("n_docs_sharing"))
    )
    return (
        df_frame.groupBy("shingle_k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum("df").alias("sum_df"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("uniq"),
            F.max("df").cast("long").alias("max_df"),
        )
        .join(F.broadcast(shared), "shingle_k", "left")
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("shingle_k").cast("int").alias("shingle_k"),
            "n_shingles",
            stable_round(
                F.col("sum_df") * 1.0 / F.col("n_docs"), 4
            ).alias("mean_shingles_per_doc"),
            stable_round(F.col("uniq") * 1.0 / F.col("n_shingles"), 6).alias(
                "unique_share"
            ),
            "max_df",
            stable_round(
                F.coalesce(F.col("n_docs_sharing"), F.lit(0))
                * 1.0
                / F.col("n_docs"),
                6,
            ).alias("docs_sharing_share"),
        )
    )


# ========================================================== r14 wave 3

#: Strong-pair threshold for the cross-source rollup (the LSH strict
#: banding's working definition of "near-duplicate").
CROSS_SOURCE_MIN_J = 0.5


# ------------------------------------------------------ text_oov_rate_heldout
@query(
    "text_oov_rate_heldout",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, source, text,
             substr(md5(doc_id::VARCHAR), 1, 1) IN
               ('0','1','2','3','4','5','6','7','8','9','a','b','c','d')
               AS is_train
      FROM documents
    ),
    train_vocab AS (
      SELECT DISTINCT unnest({X.words_sql('text')}) AS word
      FROM assigned WHERE is_train
    ),
    ev AS (
      SELECT source, doc_id, unnest({X.words_sql('text')}) AS word
      FROM assigned WHERE NOT is_train
    ),
    flagged AS (
      SELECT e.source, e.doc_id, e.word,
             CASE WHEN t.word IS NULL THEN 1 ELSE 0 END AS oov
      FROM ev e LEFT JOIN train_vocab t USING (word)
    )
    SELECT source,
           count(DISTINCT doc_id)::BIGINT AS n_eval_docs,
           count(*)::BIGINT AS n_tokens,
           sum(oov)::BIGINT AS n_oov,
           round(sum(oov) * 1.0 / count(*), 6) AS oov_rate,
           count(DISTINCT CASE WHEN oov = 1 THEN word END)::BIGINT
             AS n_oov_types
    FROM flagged GROUP BY source
    """,
)
def text_oov_rate_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate of the held-out split against the TRAIN
    split's vocabulary, per source — the tokenizer/vocab-design
    number: a vocabulary fit on train that leaves x% of eval tokens
    unseen understates eval loss by construction, and a SOURCE whose
    eval shard runs hot is drifting away from the training
    distribution. Reuses the exact hash-nibble split
    ``sample_split_train_eval`` ships (membership is a pure function
    of doc_id — the split never moves as the corpus grows), so this
    table stays consistent with every other split-derived artifact.

    Scale: the train vocabulary is a DISTINCT aggregate (vocab-sized,
    not corpus-sized); eval tokens left-join it on the word equi-key
    (broadcastable for real vocabularies); one rollup per source."""
    from kafka_go_streamer_spark.functions.text import words
    from kafka_go_streamer_spark.sources.tables import fan_out

    d = load_table(spark, sf_dir, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    assigned = fan_out(d).select(
        "doc_id",
        "source",
        "text",
        nib.isin(*"0123456789abcd").alias("is_train"),
    )
    train_vocab = (
        assigned.filter(F.col("is_train"))
        .select(F.explode(words(F.col("text"))).alias("word"))
        .distinct()
        .withColumn("known", F.lit(1))
    )
    ev = assigned.filter(~F.col("is_train")).select(
        "source", "doc_id", F.explode(words(F.col("text"))).alias("word")
    )
    flagged = ev.join(train_vocab, "word", "left").select(
        "source",
        "doc_id",
        "word",
        F.when(F.col("known").isNull(), 1).otherwise(0).alias("oov"),
    )
    return flagged.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_eval_docs"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov"),
        stable_round(F.sum("oov") * 1.0 / F.count(F.lit(1)), 6).alias(
            "oov_rate"
        ),
        F.countDistinct(
            F.when(F.col("oov") == 1, F.col("word"))
        )
        .cast("long")
        .alias("n_oov_types"),
    )


# --------------------------------------------------- dedup_cross_source_pairs
def _cross_source_pairs_sql() -> str:
    from kafka_go_streamer_spark.operators.dedup import minhash_lsh_pairs_sql

    return f"""
    WITH pairs AS (
      {minhash_lsh_pairs_sql("documents", "doc_id", "text",
                             min_intersection=2)}
    ),
    tagged AS (
      SELECT least(da.source, db.source) AS src_a,
             greatest(da.source, db.source) AS src_b,
             p.jaccard
      FROM pairs p
      JOIN documents da ON da.doc_id = p.id_a
      JOIN documents db ON db.doc_id = p.id_b
    )
    SELECT src_a, src_b,
           count(*)::BIGINT AS n_pairs,
           sum(CASE WHEN jaccard >= {CROSS_SOURCE_MIN_J}
                    THEN 1 ELSE 0 END)::BIGINT AS n_strong,
           round(avg(jaccard), 4) AS mean_jaccard,
           (src_a <> src_b) AS is_cross_source
    FROM tagged GROUP BY 1, 2
    """


@query("dedup_cross_source_pairs", oracle=_cross_source_pairs_sql)
def dedup_cross_source_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WHERE the near-duplicates come from: the verified MinHash-LSH
    candidate pairs rolled up by (source, source) — within-feed pairs
    are template reuse, CROSS-feed pairs are mirrors/syndication, and
    a hot cross pair is the evidence for deduplicating (or dropping)
    a whole feed rather than individual documents.
    ``text_cross_source_overlap`` compares feed VOCABULARIES; this
    counts actual near-duplicate documents crossing the boundary,
    with the strong-pair (Jaccard >= CROSS_SOURCE_MIN_J) share.

    Scale: rides the audited candidate path end to end (bounded
    banding, capped buckets, exact Jaccard only on candidates); the
    source tags join on doc_id equi-keys; the rollup frame is bounded
    by |sources|²."""
    from kafka_go_streamer_spark.operators.dedup import minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d.select("doc_id", "text"), "doc_id", "text", min_intersection=2
    )
    src = d.select("doc_id", "source")
    tagged = (
        pairs.join(
            src.withColumnsRenamed({"doc_id": "id_a", "source": "sa"}),
            "id_a",
        )
        .join(
            src.withColumnsRenamed({"doc_id": "id_b", "source": "sb"}),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
            "jaccard",
        )
    )
    return tagged.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.when(F.col("jaccard") >= CROSS_SOURCE_MIN_J, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_strong"),
        stable_round(F.avg("jaccard"), 4).alias("mean_jaccard"),
        (F.col("src_a") != F.col("src_b")).alias("is_cross_source"),
    )


# --------------------------------------------------------- pack_cap_sweep
#: Sequence-length caps for the packing sweep (the deployed packer
#: runs PACK_CAP = 256; the grid brackets it).
PACK_CAP_GRID = (128, 256, 512)


def _pack_cap_sweep_sql() -> str:
    from kafka_go_streamer_spark.plans.training_ops import PACK_SHARD_SPAN

    blocks = []
    for cap in PACK_CAP_GRID:
        blocks.append(f"""
    packed{cap} AS (
      SELECT doc_id, source, shard, n_tokens, rn,
             0 AS seq_id, n_tokens AS fill
      FROM toks WHERE rn = 1
      UNION ALL
      SELECT t.doc_id, t.source, t.shard, t.n_tokens, t.rn,
             CASE WHEN p.fill + t.n_tokens <= {cap}
                  THEN p.seq_id ELSE p.seq_id + 1 END,
             CASE WHEN p.fill + t.n_tokens <= {cap}
                  THEN p.fill + t.n_tokens ELSE t.n_tokens END
      FROM packed{cap} p
      JOIN toks t ON t.source = p.source AND t.shard = p.shard
                 AND t.rn = p.rn + 1
    ),
    seqs{cap} AS (
      SELECT source, shard, seq_id,
             sum(n_tokens) AS real_toks, count(*) AS n_docs
      FROM packed{cap} GROUP BY 1, 2, 3
    ),
    agg{cap} AS (
      SELECT {cap} AS cap,
             count(*)::BIGINT AS n_sequences,
             sum(real_toks)::BIGINT AS real_tokens,
             sum(CASE WHEN real_toks <= {cap}
                      THEN {cap} - real_toks ELSE 0 END)::BIGINT
               AS pad_tokens,
             round(sum(CASE WHEN real_toks <= {cap}
                            THEN {cap} - real_toks ELSE 0 END) * 1.0
                   / (count(*) * {cap}), 6) AS pad_share,
             round(sum(n_docs) * 1.0 / count(*), 4) AS mean_docs_per_seq,
             sum(CASE WHEN real_toks > {cap} THEN 1 ELSE 0 END)::BIGINT
               AS n_oversized
      FROM seqs{cap}
    )""")
    ctes = ",".join(blocks)
    body = "\n    UNION ALL ".join(
        f"SELECT * FROM agg{cap}" for cap in PACK_CAP_GRID
    )
    return f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, source, doc_id // {PACK_SHARD_SPAN} AS shard,
             {X.token_count_sql('text')} AS n_tokens,
             row_number() OVER (
               PARTITION BY source, doc_id // {PACK_SHARD_SPAN}
               ORDER BY doc_id) AS rn
      FROM documents
    ),{ctes}
    {body}
    """


@query("pack_cap_sweep", oracle=_pack_cap_sweep_sql)
def pack_cap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length sizing for the greedy packer: the SAME
    per-(source, shard) fold ``pack_sequences_greedy`` ships, replayed
    at cap ∈ PACK_CAP_GRID — sequences produced, real vs pad tokens,
    pad share, docs per sequence, and the documents too big for the
    cap at all. This is the last sizing curve the training-prep
    pipeline was missing: a short cap wastes compute on pad (every
    sequence pays the cap), a long cap packs tighter but changes the
    attention-window economics — the pad_share column is the number
    that prices the choice, per cap, on the real token distribution.

    Scale: token counting stays JVM-side; the |caps| folds share ONE
    shuffle of (id, source, tokens) triples onto the bounded
    (source, shard) groups (each fold is a linear Arrow pass over at
    most PACK_SHARD_SPAN docs); everything after is a seqs-frame
    aggregate. The oracle replays all three folds as recursive CTEs."""
    import pandas as pd

    from kafka_go_streamer_spark.plans.training_ops import (
        fold_packed,
        with_pack_shard,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", X.token_count(F.col("text")).alias("n_tokens")
    )
    sharded = with_pack_shard(d)

    # single-arg closure per cap: a two-parameter function would be
    # dispatched in applyInPandas' (key, pdf) form
    def make_fold(_cap: int):
        def pack_group_cap(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("doc_id").reset_index(drop=True)
            seq = fill = 0
            seq_ids, offsets = [], []
            for i, t in enumerate(pdf["n_tokens"]):
                if i > 0 and fill + t > _cap:
                    seq += 1
                    fill = 0
                seq_ids.append(seq)
                offsets.append(fill)
                fill += t
            pdf["seq_id"] = seq_ids
            pdf["seq_offset"] = offsets
            return pdf[
                [
                    "doc_id",
                    "source",
                    "shard",
                    "n_tokens",
                    "seq_id",
                    "seq_offset",
                ]
            ]

        return pack_group_cap

    out = None
    for cap in PACK_CAP_GRID:
        packed = fold_packed(sharded, fold=make_fold(cap))
        seqs = packed.groupBy("source", "shard", "seq_id").agg(
            F.sum("n_tokens").alias("real_toks"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        pad = F.when(
            F.col("real_toks") <= cap, F.lit(cap) - F.col("real_toks")
        ).otherwise(0)
        summary = seqs.agg(
            F.count(F.lit(1)).cast("long").alias("n_sequences"),
            F.sum("real_toks").cast("long").alias("real_tokens"),
            F.sum(pad).cast("long").alias("pad_tokens"),
            stable_round(
                F.sum(pad) * 1.0 / (F.count(F.lit(1)) * cap), 6
            ).alias("pad_share"),
            stable_round(
                F.sum("n_docs") * 1.0 / F.count(F.lit(1)), 4
            ).alias("mean_docs_per_seq"),
            F.sum(F.when(F.col("real_toks") > cap, 1).otherwise(0))
            .cast("long")
            .alias("n_oversized"),
        ).select(
            F.lit(cap).cast("int").alias("cap"),
            "n_sequences",
            "real_tokens",
            "pad_tokens",
            "pad_share",
            "mean_docs_per_seq",
            "n_oversized",
        )
        out = summary if out is None else out.unionByName(summary)
    return out
