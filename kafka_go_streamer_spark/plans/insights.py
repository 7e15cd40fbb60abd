"""Round-10 analytics wave: trend/effect-size/association statistics,
spectral & evaluation time-series diagnostics, retrieval-ranking
evaluation, and sampling diagnostics.

Like every query module here, this is north-star surface the reference
(a 655-line content-based Kafka router, /root/reference/main.go) never
had — the operators a training-data pipeline runs NEXT to routing:
"is this metric trending" (Mann-Kendall), "did the experiment move the
needle and by how much" (Cohen's d, Wilson CI, Beta posteriors), "did
the retrieval change hurt ranking" (MRR, MAP), "are my importance
weights degenerate" (effective sample size).

Every query follows the repo's scale discipline: collapse the fact to
a calendar/vocabulary/panel-sized frame FIRST, do the quadratic or
windowed part on that bounded frame, keep every join equi- or
broadcast, round shared doubles before cross-engine folds.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.plans.registry import query
from kafka_go_streamer_spark.sources.tables import load_table

# ----------------------------------------------------------- statistics

#: Wilson confidence level z (two-sided 95%).
WILSON_Z = 1.96
#: Success threshold for the per-type conversion proportion.
WILSON_CUT = 100.0
#: Kruskal-Wallis value binning scale (2 decimals bounds the rank
#: vocabulary regardless of fact size).
KW_SCALE = 2


@query(
    "stats_mann_kendall_trend",
    oracle="""
    WITH d AS (
      SELECT event_type,
             floor(epoch(ts) / 86400)::BIGINT AS day_idx,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             sum(CASE WHEN b.x > a.x THEN 1
                      WHEN b.x < a.x THEN -1 ELSE 0 END)::BIGINT AS s
      FROM d a JOIN d b
        ON b.event_type = a.event_type AND b.day_idx > a.day_idx
      GROUP BY 1
    ),
    t AS (
      SELECT event_type, sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie
      FROM (
        SELECT event_type, x, count(*)::BIGINT AS t
        FROM d GROUP BY 1, 2
      ) GROUP BY 1
    ),
    n AS (
      SELECT event_type, count(*)::BIGINT AS n FROM d GROUP BY 1
    ),
    v AS (
      SELECT n.event_type, n.n, s.s,
             (n.n * (n.n - 1) * (2 * n.n + 5) - t.tie) / 18.0 AS var_s
      FROM n JOIN s USING (event_type) JOIN t USING (event_type)
    )
    SELECT event_type, n AS n_days, s AS s_stat,
           round(var_s, 4) AS var_s,
           round(CASE WHEN s > 0 THEN (s - 1) / sqrt(nullif(var_s, 0))
                      WHEN s < 0 THEN (s + 1) / sqrt(nullif(var_s, 0))
                      ELSE 0.0 END, 4) AS z_stat
    FROM v
    """,
)
def stats_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type: S = Σ_{i<j}
    sign(x_j − x_i) over the DAILY value means with the tie-corrected
    normal approximation z = (S∓1)/√Var(S) — the nonparametric "is
    this metric trending" answer that needs no linearity or
    normality, the hypothesis-test companion to the Theil-Sen slope
    magnitude (``stats_theil_sen_slope`` — same day-rollup pairing).

    Scale: identical discipline to Theil-Sen — the fact collapses to
    the day rollup first (map-side combinable), so the pairwise join
    is rollup²-per-type, a few hundred pairs; S and the tie term are
    exact integer sums, so both engines agree before any float op.
    A zero-variance (all-tied) series reports NULL z via the nullif
    guard on both engines; S = 0 reports z = 0 exactly."""
    ev = load_table(spark, sf_dir, "events")
    from kafka_go_streamer_spark.operators.iterate import pinned

    d = pinned(
        ev.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400)
            .cast("long")
            .alias("day_idx"),
        ).agg(stable_round(F.avg("value"), 6).alias("x"))
    )
    a = d.select(
        "event_type", F.col("day_idx").alias("da"), F.col("x").alias("xa")
    )
    b = d.select(
        "event_type", F.col("day_idx").alias("db"), F.col("x").alias("xb")
    )
    s = (
        a.join(b, "event_type")
        .filter(F.col("db") > F.col("da"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    t = (
        d.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie")
        )
    )
    n = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    nn = F.col("n")
    var_s = (nn * (nn - 1) * (2 * nn + 5) - F.col("tie")) / 18.0
    sg = F.sqrt(F.nullif(F.col("var_s"), F.lit(0.0)))
    return (
        n.join(s, "event_type")
        .join(t, "event_type")
        .select("event_type", "n", "s", var_s.alias("var_s"))
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.col("s").alias("s_stat"),
            stable_round(F.col("var_s"), 4).alias("var_s"),
            stable_round(
                F.when(F.col("s") > 0, (F.col("s") - 1) / sg)
                .when(F.col("s") < 0, (F.col("s") + 1) / sg)
                .otherwise(F.lit(0.0)),
                4,
            ).alias("z_stat"),
        )
    )


@query(
    "stats_cramers_v",
    oracle="""
    WITH c AS (
      SELECT event_type, (floor(epoch(ts) / 86400)::BIGINT % 7) AS dow,
             count(*)::BIGINT AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, sum(o)::BIGINT AS r FROM c GROUP BY 1),
    ct AS (SELECT dow, sum(o)::BIGINT AS cl FROM c GROUP BY 1),
    n AS (
      SELECT sum(o)::BIGINT AS n,
             (SELECT count(*) FROM rt)::BIGINT AS n_rows,
             (SELECT count(*) FROM ct)::BIGINT AS n_cols
      FROM c
    ),
    chi AS (
      SELECT sum(pow(c.o - rt.r * ct.cl * 1.0 / n.n, 2)
                 / (rt.r * ct.cl * 1.0 / n.n)) AS chi2
      FROM c JOIN rt USING (event_type) JOIN ct USING (dow)
      CROSS JOIN n
    )
    SELECT n.n AS n_events, n.n_rows, n.n_cols,
           round(chi.chi2, 4) AS chi2,
           round(sqrt(chi.chi2 / (n.n * least(n.n_rows - 1,
                                              n.n_cols - 1))), 4)
             AS cramers_v
    FROM chi CROSS JOIN n
    """,
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between event type and
    day-of-week: the [0,1]-normalized effect size on top of the χ²
    independence statistic — the number that says HOW MUCH the
    categorical pair is associated where the χ² p-value only says
    whether (``stats_chi2_independence`` is the test; this is the
    magnitude, comparable across tables of different size/shape).
    Day-of-week is derived as epoch-day mod 7 so both engines bucket
    identically with no locale/week-start dependence.

    Scale: one map-side-combinable contingency count to a k×7 frame;
    marginals and the χ² contraction are arithmetic on that frame
    (row/column totals are exact integer sums, so expected counts
    fold identical doubles). Nothing downstream of the first
    aggregate scales with the fact."""
    ev = load_table(spark, sf_dir, "events")
    from kafka_go_streamer_spark.operators.iterate import pinned

    c = pinned(
        ev.groupBy(
            "event_type",
            (
                F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7
            ).alias("dow"),
        ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    rt = c.groupBy("event_type").agg(F.sum("o").cast("long").alias("r"))
    ct = c.groupBy("dow").agg(F.sum("o").cast("long").alias("cl"))
    n = c.agg(
        F.sum("o").cast("long").alias("n"),
        F.count_distinct("event_type").cast("long").alias("n_rows"),
        F.count_distinct("dow").cast("long").alias("n_cols"),
    )
    exp = F.col("r") * F.col("cl") * 1.0 / F.col("n")
    chi = (
        c.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
        .agg(F.sum(F.pow(F.col("o") - exp, 2) / exp).alias("chi2"))
    )
    return chi.crossJoin(F.broadcast(n)).select(
        F.col("n").alias("n_events"),
        "n_rows",
        "n_cols",
        stable_round(F.col("chi2"), 4).alias("chi2"),
        stable_round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n")
                    * F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
                )
            ),
            4,
        ).alias("cramers_v"),
    )


@query(
    "stats_cohens_d",
    oracle="""
    WITH g AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS grp,
             count(*)::BIGINT AS n, avg(value) AS m,
             var_samp(value) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    w AS (
      SELECT max(CASE WHEN grp = 'a' THEN n END) AS na,
             max(CASE WHEN grp = 'b' THEN n END) AS nb,
             max(CASE WHEN grp = 'a' THEN m END) AS ma,
             max(CASE WHEN grp = 'b' THEN m END) AS mb,
             max(CASE WHEN grp = 'a' THEN v END) AS va,
             max(CASE WHEN grp = 'b' THEN v END) AS vb
      FROM g
    ),
    s AS (
      SELECT na, nb, mb - ma AS diff,
             sqrt(((na - 1) * va + (nb - 1) * vb)
                  / (na + nb - 2)) AS sp
      FROM w
    )
    SELECT na AS n_a, nb AS n_b,
           round(diff, 6) AS mean_diff,
           round(sp, 6) AS pooled_sd,
           round(diff / sp, 4) AS cohens_d,
           round((diff / sp) * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0)),
                 4) AS hedges_g
    FROM s
    """,
)
def stats_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect size of the A/B cohort split on purchase
    value: Cohen's d = (m_b − m_a)/s_pooled plus Hedges' small-sample
    bias correction g — the number a decision memo quotes next to the
    Welch p-value (``stats_ab_welch_ttest``): significance says the
    difference is real, d says whether anyone should care.

    Scale: exactly the TOST/Welch shape — one map-side-combinable
    moment aggregate to two rows, pivoted to one row with a CASE
    contraction; everything after the first aggregate is constant
    work. Both engines fold the same doubles; outputs round via the
    shared epsilon so pooled-variance drift cannot flip a digit."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    g = ev.groupBy(
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("grp")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    pick = lambda col, grp: F.max(F.when(F.col("grp") == grp, F.col(col)))
    w = g.agg(
        pick("n", "a").alias("na"),
        pick("n", "b").alias("nb"),
        pick("m", "a").alias("ma"),
        pick("m", "b").alias("mb"),
        pick("v", "a").alias("va"),
        pick("v", "b").alias("vb"),
    )
    diff = F.col("mb") - F.col("ma")
    sp = F.sqrt(
        (
            (F.col("na") - 1) * F.col("va")
            + (F.col("nb") - 1) * F.col("vb")
        )
        / (F.col("na") + F.col("nb") - 2)
    )
    d = diff / sp
    return w.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        stable_round(diff, 6).alias("mean_diff"),
        stable_round(sp, 6).alias("pooled_sd"),
        stable_round(d, 4).alias("cohens_d"),
        stable_round(
            d * (1.0 - 3.0 / (4.0 * (F.col("na") + F.col("nb")) - 9.0)),
            4,
        ).alias("hedges_g"),
    )


@query(
    "stats_wilson_ci",
    oracle=f"""
    WITH g AS (
      SELECT event_type, count(*)::BIGINT AS n,
             sum(CASE WHEN value > {WILSON_CUT} THEN 1 ELSE 0
                 END)::BIGINT AS s
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT event_type, n, s, s * 1.0 / n AS p,
             {WILSON_Z} * {WILSON_Z} AS z2
      FROM g
    )
    SELECT event_type, n, s AS successes,
           round(p, 6) AS p_hat,
           round((p + z2 / (2 * n)
                  - {WILSON_Z} * sqrt(p * (1 - p) / n
                                      + z2 / (4.0 * n * n)))
                 / (1 + z2 / n), 6) AS wilson_lo,
           round((p + z2 / (2 * n)
                  + {WILSON_Z} * sqrt(p * (1 - p) / n
                                      + z2 / (4.0 * n * n)))
                 / (1 + z2 / n), 6) AS wilson_hi
    FROM w
    """,
)
def stats_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval for the per-type high-value proportion
    (share of events with value > {WILSON_CUT}): the proportion CI
    that behaves at the extremes where the naive Wald interval
    collapses (p̂ near 0/1, small n) — the right error bar for match
    rates, conversion shares, and quality-gate pass rates.

    Scale: one map-side-combinable (count, conditional-count)
    aggregate to |types| rows; the interval is closed-form arithmetic
    on those exact integers. Nothing scales past the first pass."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("value") > WILSON_CUT, 1).otherwise(0))
        .cast("long")
        .alias("s"),
    )
    p = F.col("s") * 1.0 / F.col("n")
    z2 = WILSON_Z * WILSON_Z
    center = p + z2 / (2 * F.col("n"))
    half = WILSON_Z * F.sqrt(
        p * (1 - p) / F.col("n") + z2 / (4.0 * F.col("n") * F.col("n"))
    )
    denom = 1 + z2 / F.col("n")
    return g.select(
        "event_type",
        "n",
        F.col("s").alias("successes"),
        stable_round(p, 6).alias("p_hat"),
        stable_round((center - half) / denom, 6).alias("wilson_lo"),
        stable_round((center + half) / denom, 6).alias("wilson_hi"),
    )


@query(
    "stats_kruskal_wallis",
    oracle=f"""
    WITH g AS (
      SELECT event_type, round(value, {KW_SCALE}) AS xr,
             count(*)::BIGINT AS c
      FROM events GROUP BY 1, 2
    ),
    v AS (
      SELECT xr, sum(c)::BIGINT AS t FROM g GROUP BY 1
    ),
    rk AS (
      SELECT xr, t,
             sum(t) OVER (ORDER BY xr
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) - t + (t + 1) / 2.0
               AS avg_rank
      FROM v
    ),
    grp AS (
      SELECT g.event_type, sum(g.c)::BIGINT AS nj,
             sum(g.c * rk.avg_rank) AS rj
      FROM g JOIN rk USING (xr) GROUP BY 1
    ),
    tot AS (
      SELECT sum(nj)::BIGINT AS n, count(*)::BIGINT AS k FROM grp
    ),
    tie AS (
      SELECT 1.0 - sum(v.t * 1.0 * v.t * v.t - v.t)
                   / (tot.n * 1.0 * tot.n * tot.n - tot.n) AS tie_c
      FROM v CROSS JOIN tot GROUP BY tot.n
    ),
    h AS (
      SELECT tot.n, tot.k,
             12.0 / (tot.n * (tot.n + 1.0))
               * sum(grp.rj * grp.rj / grp.nj)
               - 3.0 * (tot.n + 1.0) AS h_stat
      FROM grp CROSS JOIN tot GROUP BY tot.n, tot.k
    )
    SELECT h.n AS n_total, h.k AS k_groups,
           round(h.h_stat, 4) AS h_stat,
           round(h.h_stat / nullif(tie.tie_c, 0), 4) AS h_corrected
    FROM h CROSS JOIN tie
    """,
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank test across event types: does the VALUE
    distribution differ between the k groups, judged on ranks (the
    k-group generalization of ``stats_mannwhitney_u``, and the
    nonparametric sibling of ``stats_anova_oneway``), with the
    standard tie correction since binned values tie heavily.

    Scale: ranks are never assigned per row — values bin to
    {KW_SCALE} decimals first (vocabulary-bounded regardless of fact
    size), so the rank window runs over the DISTINCT-value frame
    (thousands of rows, one bounded partition) and per-row ranks are
    recovered exactly as c × average-rank products on the (type,
    value) count frame. The per-group rank sums and the H statistic
    are arithmetic on k rows. All counts are exact integers; the
    average ranks are exact halves, so both engines agree to the
    bit before the final division."""
    ev = load_table(spark, sf_dir, "events")
    from kafka_go_streamer_spark.operators.iterate import pinned

    g = pinned(
        ev.groupBy(
            "event_type",
            stable_round(F.col("value"), KW_SCALE).alias("xr"),
        ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    v = pinned(
        g.groupBy("xr").agg(F.sum("c").cast("long").alias("t"))
    )
    wr = Window.orderBy("xr").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rk = v.select(
        "xr",
        "t",
        (F.sum("t").over(wr) - F.col("t") + (F.col("t") + 1) / 2.0).alias(
            "avg_rank"
        ),
    )
    grp = (
        g.join(F.broadcast(rk), "xr")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("long").alias("nj"),
            F.sum(F.col("c") * F.col("avg_rank")).alias("rj"),
        )
    )
    tot = grp.agg(
        F.sum("nj").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    # Cubes run in DOUBLE on both engines (the `* 1.0` promotion the
    # assortativity query uses): t**3 / n**3 in 64-bit integer space
    # overflows beyond ~2.1M events (~sf2) — DuckDB would hard-error,
    # Spark would silently wrap (the recorded r7 OLS HUGEINT class).
    tie = v.crossJoin(F.broadcast(tot)).agg(
        (
            1.0
            - F.sum(
                F.col("t") * 1.0 * F.col("t") * F.col("t") - F.col("t")
            )
            / F.first(
                F.col("n") * 1.0 * F.col("n") * F.col("n") - F.col("n")
            )
        ).alias("tie_c")
    )
    h = (
        grp.crossJoin(F.broadcast(tot))
        .groupBy("n", "k")
        .agg(
            (
                12.0
                / (F.col("n") * (F.col("n") + 1.0))
                * F.sum(F.col("rj") * F.col("rj") / F.col("nj"))
                - 3.0 * (F.col("n") + 1.0)
            ).alias("h_stat")
        )
    )
    return h.crossJoin(F.broadcast(tie)).select(
        F.col("n").alias("n_total"),
        F.col("k").alias("k_groups"),
        stable_round(F.col("h_stat"), 4).alias("h_stat"),
        stable_round(
            F.col("h_stat") / F.nullif(F.col("tie_c"), F.lit(0.0)), 4
        ).alias("h_corrected"),
    )


@query(
    "quality_benford_first_digit",
    oracle="""
    WITH d AS (
      SELECT substr(cast(cast(floor(l_extendedprice) AS BIGINT)
                         AS VARCHAR), 1, 1)::INTEGER AS digit
      FROM lineitem WHERE l_extendedprice >= 1
    ),
    c AS (
      SELECT digit, count(*)::BIGINT AS n_obs FROM d GROUP BY 1
    ),
    t AS (SELECT sum(n_obs)::BIGINT AS n FROM c)
    SELECT c.digit, c.n_obs,
           round(c.n_obs * 1.0 / t.n, 6) AS obs_share,
           round(log10(1.0 + 1.0 / c.digit), 6) AS benford_share,
           round(t.n * pow(c.n_obs * 1.0 / t.n
                           - log10(1.0 + 1.0 / c.digit), 2)
                 / log10(1.0 + 1.0 / c.digit), 4) AS chi2_term
    FROM c CROSS JOIN t
    """,
)
def quality_benford_first_digit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benford's-law first-digit audit of lineitem extended prices:
    observed leading-digit shares vs log10(1+1/d) with per-digit χ²
    contributions — the classic fabricated-data / synthetic-leak
    detector for monetary-ish columns (hand-invented numbers
    over-sample middle digits; a spike in one digit's chi2_term
    points at the injection).

    Scale: the digit is extracted in-row from the integer part's
    decimal string (no log10-of-value boundary hazard: log10(1000)
    in binary floating point can land a hair below 3 and misbin a
    power of ten — string extraction cannot), then one
    map-side-combinable count to ≤9 rows; everything after is
    constant arithmetic against the broadcast total."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice") >= 1
    )
    d = li.select(
        F.substring(
            F.floor("l_extendedprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    # ≤9-row frame, pinned: the total and the final report both read
    # it — unpinned, each consumer re-plans the fact scan underneath
    c = pinned(
        d.groupBy("digit").agg(
            F.count(F.lit(1)).cast("long").alias("n_obs")
        )
    )
    t = c.agg(F.sum("n_obs").cast("long").alias("n"))
    ben = F.log10(1.0 + 1.0 / F.col("digit"))
    share = F.col("n_obs") * 1.0 / F.col("n")
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n_obs",
        stable_round(share, 6).alias("obs_share"),
        stable_round(ben, 6).alias("benford_share"),
        stable_round(
            F.col("n") * F.pow(share - ben, 2) / ben, 4
        ).alias("chi2_term"),
    )


@query(
    "stats_bayes_beta_ab",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS grp,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT grp, count(*)::BIGINT AS n, sum(conv)::BIGINT AS s
      FROM u GROUP BY 1
    ),
    w AS (
      SELECT max(CASE WHEN grp = 'a' THEN n END) AS na,
             max(CASE WHEN grp = 'b' THEN n END) AS nb,
             max(CASE WHEN grp = 'a' THEN s END) AS sa,
             max(CASE WHEN grp = 'b' THEN s END) AS sb
      FROM g
    ),
    p AS (
      SELECT na, nb, sa, sb,
             (1.0 + sa) / (2.0 + na) AS ma,
             (1.0 + sb) / (2.0 + nb) AS mb,
             (1.0 + sa) * (1.0 + na - sa)
               / (pow(2.0 + na, 2) * (3.0 + na)) AS va,
             (1.0 + sb) * (1.0 + nb - sb)
               / (pow(2.0 + nb, 2) * (3.0 + nb)) AS vb
      FROM w
    )
    SELECT na AS n_a, sa AS conv_a, nb AS n_b, sb AS conv_b,
           round(ma, 6) AS post_mean_a,
           round(mb, 6) AS post_mean_b,
           round((mb - ma) / sqrt(va + vb), 4) AS z_b_minus_a
    FROM p
    """,
)
def stats_bayes_beta_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B on per-user conversion with uniform Beta(1,1)
    priors: each cohort's posterior is Beta(1+s, 1+n−s) in closed
    form; reported are the posterior means and the normal-
    approximation z-score of the B−A difference (the moment-matched
    stand-in for P(B>A) — exact at these cohort sizes, and the same
    decision number with no special-function dependency in either
    engine). The Bayesian companion to ``stats_ab_welch_ttest``:
    no p-value, a direct posterior statement about the rates.

    Scale: one user-cardinality conversion collapse (the retention
    family's exact first shuffle), one 2-row cohort aggregate, then
    closed-form Beta moments on exact integers — constant work after
    the per-user pass."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("grp"),
    ).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    )
    g = u.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("s"),
    )
    pick = lambda col, grp: F.max(F.when(F.col("grp") == grp, F.col(col)))
    w = g.agg(
        pick("n", "a").alias("na"),
        pick("n", "b").alias("nb"),
        pick("s", "a").alias("sa"),
        pick("s", "b").alias("sb"),
    )
    ma = (1.0 + F.col("sa")) / (2.0 + F.col("na"))
    mb = (1.0 + F.col("sb")) / (2.0 + F.col("nb"))
    va = (
        (1.0 + F.col("sa"))
        * (1.0 + F.col("na") - F.col("sa"))
        / (F.pow(2.0 + F.col("na"), 2) * (3.0 + F.col("na")))
    )
    vb = (
        (1.0 + F.col("sb"))
        * (1.0 + F.col("nb") - F.col("sb"))
        / (F.pow(2.0 + F.col("nb"), 2) * (3.0 + F.col("nb")))
    )
    return w.select(
        F.col("na").alias("n_a"),
        F.col("sa").alias("conv_a"),
        F.col("nb").alias("n_b"),
        F.col("sb").alias("conv_b"),
        stable_round(ma, 6).alias("post_mean_a"),
        stable_round(mb, 6).alias("post_mean_b"),
        stable_round((mb - ma) / F.sqrt(va + vb), 4).alias(
            "z_b_minus_a"
        ),
    )


# ---------------------------------------------------------- time series

#: Candidate periods probed by the periodogram (hours): diurnal,
#: half-week, weekly.
PERIODOGRAM_PERIODS = (24, 84, 168)
#: Shared double literal for 2*pi (both engines fold the identical
#: constant; neither engine's pi() is used).
TWO_PI = 2.0 * math.pi
#: Historical VaR tail level.
VAR_ALPHA = 0.05


def _hourly_rollup(spark: SparkSession, sf_dir: str):
    """The shared fact collapse every ts_* diagnostic here starts
    from: (event_type, hour_idx, 6-rounded hourly mean), pinned."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    ev = load_table(spark, sf_dir, "events")
    return pinned(
        ev.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("long")
            .alias("hour_idx"),
        ).agg(stable_round(F.avg("value"), 6).alias("x"))
    )


_HOURLY_SQL = """
      SELECT event_type,
             floor(epoch(ts) / 3600)::BIGINT AS hour_idx,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
"""


@query(
    "ts_periodogram_power",
    oracle=f"""
    WITH h AS MATERIALIZED ({_HOURLY_SQL}),
    mu AS (
      SELECT event_type, round(avg(x), 6) AS mu FROM h GROUP BY 1
    ),
    p AS (SELECT unnest([{", ".join(str(p) for p in PERIODOGRAM_PERIODS)}])
            AS period),
    f AS (
      SELECT h.event_type, p.period,
             count(*)::BIGINT AS n_hours,
             sum((h.x - mu.mu)
                 * cos({TWO_PI!r} * (h.hour_idx % p.period)
                       / p.period)) AS c,
             sum((h.x - mu.mu)
                 * sin({TWO_PI!r} * (h.hour_idx % p.period)
                       / p.period)) AS s
      FROM h JOIN mu USING (event_type) CROSS JOIN p
      GROUP BY 1, 2
    )
    SELECT event_type, period::BIGINT AS period_hours, n_hours,
           round((c * c + s * s) / n_hours, 4) AS power
    FROM f
    """,
)
def ts_periodogram_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier periodogram power of the hourly value series
    at the candidate periods (24 h diurnal, 84 h half-week, 168 h
    weekly): power_P = (C² + S²)/n with C,S the centered cos/sin
    projections — the frequency-domain cousin of the lag-domain ACF
    (a lag-24 ACF spike and a 24 h periodogram peak are the same
    physics) and the principled input to "which seasonal period does
    the deseasonalizer use?".

    Scale: everything runs on the pinned calendar-sized hourly
    rollup; each period is one more term in a 3-row broadcast cross
    join, so the projection is a single grouped aggregate over
    rollup × 3 rows. The phase argument reduces hour_idx mod period
    in INTEGER space before the trig call, so both engines evaluate
    cos/sin on identical small angles in [0, 2π) — never on a
    100 000-radian argument where libm range-reduction could differ
    between Java and C runtimes."""
    h = _hourly_rollup(spark, sf_dir)
    mu = h.groupBy("event_type").agg(
        stable_round(F.avg("x"), 6).alias("mu")
    )
    p = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(int(v)) for v in PERIODOGRAM_PERIODS])
        ).alias("period")
    )
    ang = (
        F.lit(TWO_PI)
        * F.pmod(F.col("hour_idx"), F.col("period"))
        / F.col("period")
    )
    f = (
        h.join(F.broadcast(mu), "event_type")
        .crossJoin(F.broadcast(p))
        .groupBy("event_type", "period")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum((F.col("x") - F.col("mu")) * F.cos(ang)).alias("c"),
            F.sum((F.col("x") - F.col("mu")) * F.sin(ang)).alias("s"),
        )
    )
    return f.select(
        "event_type",
        F.col("period").cast("long").alias("period_hours"),
        "n_hours",
        stable_round(
            (F.col("c") * F.col("c") + F.col("s") * F.col("s"))
            / F.col("n_hours"),
            4,
        ).alias("power"),
    )


def _pacf_oracle() -> str:
    from kafka_go_streamer_spark.plans.registry import ORACLES

    acf = ORACLES["ts_autocorrelation_acf"]
    return f"""
    WITH acf AS MATERIALIZED ({acf}),
    w AS (
      SELECT event_type,
             max(CASE WHEN lag = 1 THEN acf END) AS r1,
             max(CASE WHEN lag = 2 THEN acf END) AS r2
      FROM acf WHERE lag <= 2 GROUP BY 1
    )
    SELECT event_type, r1, r2,
           round((r2 - r1 * r1) / nullif(1.0 - r1 * r1, 0), 4)
             AS pacf_lag2
    FROM w
    """


@query("ts_pacf_lag2", oracle=_pacf_oracle)
def ts_pacf_lag2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lag 2 via the Durbin-Levinson
    closed form φ₂₂ = (r₂ − r₁²)/(1 − r₁²), composed from the ACF
    query's own r₁, r₂ (so ACF and PACF can never disagree about the
    underlying correlations): the AR-order selector — r₂ large but
    φ₂₂ ≈ 0 means lag-2 correlation is just propagated lag-1, i.e.
    an AR(1) forecaster suffices; φ₂₂ far from 0 demands the second
    lag.

    Scale: the ACF subplan's audited shape (rollup + equi lag join)
    plus a k-row pivot; the Durbin-Levinson step is arithmetic on
    the PRE-ROUNDED r values, so both engines derive the identical
    φ₂₂ from identical inputs. A unit-root series (r₁ = ±1) reports
    NULL via the nullif guard on both engines."""
    from kafka_go_streamer_spark.plans.registry import QUERIES as _Q

    acf = _Q["ts_autocorrelation_acf"](spark, sf_dir).filter(
        F.col("lag") <= 2
    )
    w = acf.groupBy("event_type").agg(
        F.max(F.when(F.col("lag") == 1, F.col("acf"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("acf"))).alias("r2"),
    )
    return w.select(
        "event_type",
        "r1",
        "r2",
        stable_round(
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / F.nullif(1.0 - F.col("r1") * F.col("r1"), F.lit(0.0)),
            4,
        ).alias("pacf_lag2"),
    )


@query(
    "ts_ohlc_daily",
    oracle="""
    WITH r AS (
      SELECT event_type,
             floor(epoch(ts) / 86400)::BIGINT AS day_idx,
             value,
             row_number() OVER (
               PARTITION BY event_type, floor(epoch(ts) / 86400)
               ORDER BY ts ASC, event_id ASC) AS rn_a,
             row_number() OVER (
               PARTITION BY event_type, floor(epoch(ts) / 86400)
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, day_idx,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*)::BIGINT AS n_events
    FROM r GROUP BY 1, 2
    """,
)
def ts_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC candles per event type: open/close are the first/
    last value by (ts, event_id) within the day, high/low the
    extremes — the standard downsample-for-display and
    range-volatility primitive (close-to-close vs high-low range is
    the Parkinson volatility input).

    Scale: one window shuffle partitioned by (type, day) — the
    natural day-partitioned layout, each partition a single day of
    one type — carrying two row_number frames over the same sort
    order (one Exchange, one Sort, both numbered in one pass), then
    a map-side-combinable conditional aggregate. First/last are
    tie-broken by the unique event_id, so both engines pick the
    identical rows; all outputs are raw fact doubles (bit-equal from
    the same parquet), no rounding needed."""
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    wa = Window.partitionBy("event_type", "day_idx").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wd = Window.partitionBy("event_type", "day_idx").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = ev.select(
        "event_type", day.alias("day_idx"), "value", "ts", "event_id"
    ).select(
        "event_type",
        "day_idx",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return r.groupBy("event_type", "day_idx").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


@query(
    "ts_forecast_eval_mase",
    oracle=f"""
    WITH h AS MATERIALIZED ({_HOURLY_SQL})
    SELECT a.event_type,
           count(*)::BIGINT AS n_eval,
           round(avg(abs(a.x - b1.x)), 6) AS mae_naive,
           round(avg(abs(a.x - b24.x)), 6) AS mae_seasonal,
           round(avg(abs(a.x - b24.x))
                 / nullif(avg(abs(a.x - b1.x)), 0), 4) AS mase
    FROM h a
    JOIN h b1 ON b1.event_type = a.event_type
             AND b1.hour_idx = a.hour_idx - 1
    JOIN h b24 ON b24.event_type = a.event_type
              AND b24.hour_idx = a.hour_idx - 24
    GROUP BY 1
    """,
)
def ts_forecast_eval_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline evaluation per event type: MAE of the naive
    (previous hour) and seasonal-naive (same hour yesterday)
    forecasters over their common support, and their ratio — the
    MASE-style scaled error that answers "does the daily cycle
    actually help prediction here?" (< 1: use the seasonal-naive
    ``ts_forecast_seasonal_naive``; ≥ 1: the series isn't seasonal
    enough to bother). The measurement half of the forecaster the
    repo already ships.

    Scale: both baselines are EQUI-joins of the pinned hourly rollup
    with itself on (type, hour−k) — the ACF query's audited join
    shape, hash-planned with the calendar-sized right side broadcast
    — and one grouped aggregate; gaps in the hourly record drop out
    of the common support identically on both engines (inner joins
    on exact integer hour indexes)."""
    h = _hourly_rollup(spark, sf_dir)
    a = h.select("event_type", "hour_idx", F.col("x").alias("xa"))
    b1 = h.select(
        "event_type",
        (F.col("hour_idx") + 1).alias("hour_idx"),
        F.col("x").alias("x1"),
    )
    b24 = h.select(
        "event_type",
        (F.col("hour_idx") + 24).alias("hour_idx"),
        F.col("x").alias("x24"),
    )
    j = a.join(F.broadcast(b1), ["event_type", "hour_idx"]).join(
        F.broadcast(b24), ["event_type", "hour_idx"]
    )
    mae1 = F.avg(F.abs(F.col("xa") - F.col("x1")))
    mae24 = F.avg(F.abs(F.col("xa") - F.col("x24")))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        stable_round(mae1, 6).alias("mae_naive"),
        stable_round(mae24, 6).alias("mae_seasonal"),
        stable_round(mae24 / F.nullif(mae1, F.lit(0.0)), 4).alias(
            "mase"
        ),
    )


@query(
    "ts_var_cvar",
    oracle=f"""
    WITH h AS MATERIALIZED ({_HOURLY_SQL}),
    q AS (
      SELECT event_type, count(*)::BIGINT AS n_hours,
             round(percentile_cont({VAR_ALPHA}) WITHIN GROUP
                   (ORDER BY x), 6) AS var_q
      FROM h GROUP BY 1
    )
    SELECT h.event_type, q.n_hours, q.var_q AS var_5pct,
           round(avg(h.x), 6) AS cvar_5pct,
           count(*)::BIGINT AS n_tail
    FROM h JOIN q USING (event_type)
    WHERE h.x <= q.var_q
    GROUP BY 1, 2, 3
    """,
)
def ts_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical VaR and CVaR (expected shortfall) of the hourly
    value series per event type: the {VAR_ALPHA:.0%} quantile and
    the mean of everything at or below it — the tail-risk pair
    (CVaR is the coherent one; VaR alone hides how BAD the tail is)
    used to alert on metric collapses rather than mean drift.

    Scale: the quantile runs on the pinned calendar-sized hourly
    rollup (never the raw fact — at petabyte scale the rollup is
    what exists; a raw-value quantile would use the KLL sketch,
    operators/kll.py). The tail filter compares 6-ROUNDED x against
    the 6-ROUNDED interpolated quantile, so both engines admit the
    identical tail set; the conditional mean is one more aggregate
    of the same rollup."""
    h = _hourly_rollup(spark, sf_dir)
    q = h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        stable_round(
            F.percentile("x", F.lit(VAR_ALPHA)), 6
        ).alias("var_q"),
    )
    return (
        h.join(F.broadcast(q), "event_type")
        .filter(F.col("x") <= F.col("var_q"))
        .groupBy(
            "event_type",
            "n_hours",
            F.col("var_q").alias("var_5pct"),
        )
        .agg(
            stable_round(F.avg("x"), 6).alias("cvar_5pct"),
            F.count(F.lit(1)).cast("long").alias("n_tail"),
        )
    )


# ------------------------------------------- retrieval & embeddings

#: Ranking-eval geometry shared with the NDCG/P-R family: first
#: RET_QUERIES vectors are the query panel, label equality is
#: relevance, cutoff RET_K.
RET_QUERIES = 5
RET_K = 10


def _ranked_panel(spark: SparkSession, sf_dir: str):
    """(qid, qlabel, vec_id, label, rk) — the brute-force cosine
    ranking of the corpus for the pinned query panel, the shared
    front half of every retrieval_* evaluator (same geometry as
    ``retrieval_ndcg_eval``)."""
    from kafka_go_streamer_spark.functions.vectors import cosine
    from kafka_go_streamer_spark.operators.iterate import pinned

    emb = load_table(spark, sf_dir, "embeddings")
    q = pinned(
        emb.filter(F.col("vec_id") < RET_QUERIES).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("qlabel"),
        )
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            stable_round(
                cosine(F.col("embedding"), F.col("qv")), 6
            ).alias("cos_sim"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return scored.select(
        "qid",
        "qlabel",
        "label",
        F.row_number().over(wr).alias("rk"),
    )


def _ranked_panel_sql() -> str:
    from kafka_go_streamer_spark.functions.vectors import cosine_sql

    return f"""
    q AS (
      SELECT vec_id AS qid, embedding AS qv, label AS qlabel
      FROM embeddings WHERE vec_id < {RET_QUERIES}
    ),
    ranked AS MATERIALIZED (
      SELECT qid, qlabel, label,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY round({cosine_sql('e.embedding', 'q.qv')}, 6)
                        DESC, e.vec_id ASC
             ) AS rk
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    )"""


def _mrr_oracle() -> str:
    return f"""
    WITH {_ranked_panel_sql()}
    SELECT qid AS query_id,
           min(CASE WHEN label = qlabel THEN rk END)::BIGINT
             AS first_rel_rank,
           round(1.0 / min(CASE WHEN label = qlabel THEN rk END), 6)
             AS reciprocal_rank
    FROM ranked GROUP BY 1
    """


@query("retrieval_mrr", oracle=_mrr_oracle)
def retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the first relevant hit per panel query
    (label equality as relevance, same geometry as
    ``retrieval_ndcg_eval``): the metric for known-item /
    first-answer retrieval — NDCG grades the whole list, RR grades
    "how far down is THE answer", the number that tracks perceived
    latency in RAG pipelines (rank 1 vs rank 4 is the difference
    between the model quoting the right document and burying it).

    Scale: the panel broadcast + one corpus scan + the per-query
    rank window — the family's audited (panel × corpus) cap — then
    a k-row min aggregate. Ranks order by ROUNDED cosine with the
    vec_id tiebreak, so both engines agree on every rank; a query
    with no relevant document reports NULL on both engines."""
    ranked = _ranked_panel(spark, sf_dir)
    first = F.min(
        F.when(F.col("label") == F.col("qlabel"), F.col("rk"))
    )
    return ranked.groupBy(F.col("qid").alias("query_id")).agg(
        first.cast("long").alias("first_rel_rank"),
        stable_round(1.0 / first, 6).alias("reciprocal_rank"),
    )


def _map_oracle() -> str:
    return f"""
    WITH {_ranked_panel_sql()},
    nrel AS (
      SELECT qid,
             sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)::BIGINT
               AS n_rel
      FROM ranked GROUP BY 1
    ),
    cum AS (
      SELECT qid, rk,
             CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
             sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
               OVER (PARTITION BY qid ORDER BY rk
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS cum_rel
      FROM ranked WHERE rk <= {RET_K}
    )
    SELECT c.qid AS query_id,
           sum(c.rel)::BIGINT AS n_rel_at_k,
           round(sum(c.rel * c.cum_rel * 1.0 / c.rk)
                 / nullif(least(n.n_rel, {RET_K}), 0), 6) AS ap_at_k
    FROM cum c JOIN nrel n USING (qid)
    GROUP BY 1, n.n_rel
    """


@query("retrieval_average_precision", oracle=_map_oracle)
def retrieval_average_precision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Average precision at {RET_K} per panel query: AP = Σ rel_i ·
    P@i / min(R, k) — the area-under-PR-curve number whose panel
    mean is MAP, the metric that (unlike NDCG's graded discount)
    punishes EVERY relevant document ranked below an irrelevant
    one; the pair of them disagreeing localizes whether a ranking
    regression hurt the head or the tail.

    Scale: the shared panel ranking plus a cumulative window over
    the top-{RET_K} rows per query (k-row frames); the normalizer
    R comes from the corpus label histogram minus the query itself
    — the NDCG query's one-scan trick — never a second ranking
    pass. Integer cum-hits over integer ranks, one rounded sum."""
    ranked = _ranked_panel(spark, sf_dir)
    from kafka_go_streamer_spark.operators.iterate import pinned

    emb = load_table(spark, sf_dir, "embeddings")
    q = pinned(
        emb.filter(F.col("vec_id") < RET_QUERIES).select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
        )
    )
    lab = emb.groupBy(F.col("label").alias("qlabel")).agg(
        F.count(F.lit(1)).cast("long").alias("_cnt")
    )
    nrel = q.join(F.broadcast(lab), "qlabel").select(
        "qid", (F.col("_cnt") - 1).cast("long").alias("n_rel")
    )
    wc = Window.partitionBy("qid").orderBy("rk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rel = F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0)
    cum = ranked.filter(F.col("rk") <= RET_K).select(
        "qid",
        "rk",
        rel.alias("rel"),
        F.sum(rel).over(wc).alias("cum_rel"),
    )
    return (
        cum.join(F.broadcast(nrel), "qid")
        .groupBy(F.col("qid").alias("query_id"), F.col("n_rel"))
        .agg(
            F.sum("rel").cast("long").alias("n_rel_at_k"),
            # nullif guard (the mase/pacf/binseg convention): a panel
            # query whose label is unique has n_rel = 0, and 0/0 is
            # NaN in DuckDB but NULL in Spark — both report NULL now.
            stable_round(
                F.sum(F.col("rel") * F.col("cum_rel") * 1.0 / F.col("rk"))
                / F.nullif(
                    F.least(F.col("n_rel"), F.lit(RET_K)), F.lit(0)
                ),
                6,
            ).alias("ap_at_k"),
        )
        .drop("n_rel")
    )


def _isotropy_oracle() -> str:
    from kafka_go_streamer_spark.functions.vectors import dot_sql

    return f"""
    WITH ex AS (
      SELECT t.i AS dim, embedding[t.i]::DOUBLE AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    mu AS (
      SELECT dim, round(avg(val), 6) AS m FROM ex GROUP BY 1
    ),
    mn AS (SELECT round(sum(m * m), 6) AS mu_norm_sq,
                  count(*)::BIGINT AS n_dims FROM mu),
    nm AS (
      SELECT count(*)::BIGINT AS n_vecs,
             round(avg({dot_sql('embedding', 'embedding')}), 6)
               AS mean_norm_sq
      FROM embeddings
    )
    SELECT nm.n_vecs, mn.n_dims, nm.mean_norm_sq, mn.mu_norm_sq,
           round(1.0 - mn.mu_norm_sq / nm.mean_norm_sq, 6)
             AS isotropy
    FROM nm CROSS JOIN mn
    """


@query("embedding_isotropy_score", oracle=_isotropy_oracle)
def embedding_isotropy_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotropy of the embedding cloud: 1 − ‖μ‖²/E‖x‖², the share of
    mean squared norm NOT explained by the common mean vector —
    the one-number "is cosine similarity even meaningful here"
    check (anisotropic clouds, ‖μ‖² ≫ 0, make everything look
    similar to everything; the standard fix is mean-centering,
    whose benefit this number predicts). Complements the per-axis
    ``embedding_dim_variance`` and the directional
    ``embedding_top_pc_power_iter``.

    Scale: two corpus passes, both map-side combinable — a
    posexplode to d per-dimension means (d-row frame) and an
    in-row sequential-fold ‖x‖² average (the cosine family's
    audited fold, no explode); ‖μ‖² is a d-row contraction.
    Per-dim means and both norms round to 6 before the final
    ratio, so the engines divide identical doubles."""
    from kafka_go_streamer_spark.functions.vectors import as_double, dot

    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(as_double(F.col("embedding"))).alias("dim", "val")
    )
    mu = ex.groupBy("dim").agg(
        stable_round(F.avg("val"), 6).alias("m")
    )
    mn = mu.agg(
        stable_round(F.sum(F.col("m") * F.col("m")), 6).alias(
            "mu_norm_sq"
        ),
        F.count(F.lit(1)).cast("long").alias("n_dims"),
    )
    nm = emb.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        stable_round(
            F.avg(dot(F.col("embedding"), F.col("embedding"))), 6
        ).alias("mean_norm_sq"),
    )
    return nm.crossJoin(F.broadcast(mn)).select(
        "n_vecs",
        "n_dims",
        "mean_norm_sq",
        "mu_norm_sq",
        stable_round(
            1.0 - F.col("mu_norm_sq") / F.col("mean_norm_sq"), 6
        ).alias("isotropy"),
    )


# --------------------------------------- sessions, concentration, ESS

#: Session gap threshold (seconds) — same 30-minute convention as the
#: sessionizer family in analytics_ext / windows.
SESSION_GAP_SEC = 30 * 60
#: Importance-weight clip for the effective-sample-size diagnostic.
ESS_CLIP = 300


@query(
    "events_session_duration_stats",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, epoch(ts) AS sec,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                    > {SESSION_GAP_SEC}
                  OR lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                    IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sid AS (
      SELECT user_id, sec,
             sum(is_start) OVER (
               PARTITION BY user_id ORDER BY sec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_no
      FROM s
    ),
    d AS (
      SELECT user_id, session_no,
             max(sec) - min(sec) AS dur,
             count(*)::BIGINT AS n_events
      FROM sid GROUP BY 1, 2
    )
    SELECT count(*)::BIGINT AS n_sessions,
           round(avg(dur), 6) AS mean_sec,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY dur), 6)
             AS p50_sec,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY dur), 6)
             AS p90_sec,
           round(max(dur), 6) AS max_sec,
           round(avg(n_events), 4) AS mean_events
    FROM d
    """,
)
def events_session_duration_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session-duration distribution under the 30-minute-gap
    sessionizer: count, mean, p50/p90, max duration and mean
    events-per-session — the engagement summary on top of the
    session-id assigner (``events_sessionize_ids``; same gap rule,
    so the two can never disagree about what a session is).

    Scale: one per-user window shuffle (the sessionizer's exact
    shape: lag + running is_start sum in the same sort), a
    session-cardinality (user, session) aggregate, then one global
    distribution aggregate. The percentiles here run exact on the
    session frame; the raw-fact-scale variant would use the KLL
    sketch (operators/kll.py) — sessions, not events, bound this
    frame. Durations are exact epoch-microsecond differences, so
    both engines interpolate identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("double")
    s = ev.select(
        "user_id",
        "event_id",
        sec.alias("sec"),
        F.when(
            F.lag("ts").over(wl).isNull()
            | ((sec - F.lag(sec).over(wl)) > SESSION_GAP_SEC),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    # the running-sum order carries the event_id tiebreak: two same-
    # user events at the SAME timestamp must fold in one deterministic
    # order on both engines or the session numbering diverges at scale
    wc = Window.partitionBy("user_id").orderBy("sec", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sid = s.select(
        "user_id", "sec", F.sum("is_start").over(wc).alias("session_no")
    )
    d = sid.groupBy("user_id", "session_no").agg(
        (F.max("sec") - F.min("sec")).alias("dur"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        stable_round(F.avg("dur"), 6).alias("mean_sec"),
        stable_round(F.percentile("dur", F.lit(0.5)), 6).alias(
            "p50_sec"
        ),
        stable_round(F.percentile("dur", F.lit(0.9)), 6).alias(
            "p90_sec"
        ),
        stable_round(F.max("dur"), 6).alias("max_sec"),
        stable_round(F.avg("n_events"), 4).alias("mean_events"),
    )


@query(
    "events_lorenz_deciles",
    oracle="""
    WITH k AS (
      SELECT user_id, count(*)::BIGINT AS c FROM events GROUP BY 1
    ),
    d AS (
      SELECT c, ntile(10) OVER (ORDER BY c ASC, user_id ASC) AS decile
      FROM k
    ),
    g AS (
      SELECT decile, count(*)::BIGINT AS n_users,
             sum(c)::BIGINT AS n_events
      FROM d GROUP BY 1
    ),
    t AS (SELECT sum(n_events)::BIGINT AS tot FROM g)
    SELECT g.decile, g.n_users, g.n_events,
           round(g.n_events * 1.0 / t.tot, 6) AS events_share,
           round(sum(g.n_events) OVER (
                   ORDER BY g.decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) * 1.0 / t.tot, 6) AS cum_events_share
    FROM g CROSS JOIN t
    """,
)
def events_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of user activity in deciles: users sorted by
    event count into ten equal-population buckets, each bucket's
    share and cumulative share of all events — the curve whose area
    gap is the Gini the repo already reports as one number
    (``stats_gini_concentration``); the decile view shows WHERE the
    concentration lives ("top decile = 40% of traffic" vs a smooth
    slope), which is what capacity planning and bot triage read.

    Scale: the fact collapses to per-user counts first; the decile
    assignment is an ntile over that user-cardinality frame —
    deterministic via the (count, user_id) total order, identical
    bucket arithmetic in both engines. At petabyte user counts the
    ntile becomes a percentile-edge bucket join (the KLL path); the
    definitional form is kept because the frame is users, not
    events. Shares are exact-integer ratios rounded once."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    ev = load_table(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wd = Window.orderBy(F.col("c").asc(), F.col("user_id").asc())
    d = k.select("c", F.ntile(10).over(wd).alias("decile"))
    # 10-row frame, pinned: the total and the final report both read
    # it — unpinned, each consumer re-plans the per-user count and the
    # ntile sort underneath
    g = pinned(
        d.groupBy("decile").agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("c").cast("long").alias("n_events"),
        )
    )
    t = g.agg(F.sum("n_events").cast("long").alias("tot"))
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.crossJoin(F.broadcast(t)).select(
        "decile",
        "n_users",
        "n_events",
        stable_round(F.col("n_events") * 1.0 / F.col("tot"), 6).alias(
            "events_share"
        ),
        stable_round(
            F.sum("n_events").over(wcum) * 1.0 / F.col("tot"), 6
        ).alias("cum_events_share"),
    )


@query(
    "sample_effective_sample_size",
    oracle=f"""
    WITH w AS (
      SELECT source, n_chars::BIGINT AS w,
             least(n_chars, {ESS_CLIP})::BIGINT AS wc
      FROM documents
    )
    SELECT source, count(*)::BIGINT AS n_docs,
           round(pow(sum(w), 2) * 1.0 / sum(w * w), 4) AS ess,
           round(pow(sum(w), 2) * 1.0 / sum(w * w) / count(*), 6)
             AS ess_ratio,
           round(pow(sum(wc), 2) * 1.0 / sum(wc * wc), 4)
             AS ess_clipped,
           round(pow(sum(wc), 2) * 1.0 / sum(wc * wc) / count(*), 6)
             AS ess_clipped_ratio
    FROM w GROUP BY 1
    """,
)
def sample_effective_sample_size(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kish effective sample size of length-proportional document
    weights per source, raw and clipped at {ESS_CLIP} chars:
    ESS = (Σw)²/Σw² — the diagnostic that says how many EFFECTIVE
    documents a weighted sampler (length-, DSIR-, or
    temperature-weighted — ``sample_dsir_importance``,
    ``sample_temperature_mixture``) actually draws from; an
    ess_ratio near 1/n means one monster document dominates the
    source and the clip column shows exactly how much truncation
    repairs it. The standard pre-flight check before committing a
    mixture weighting to a training run.

    Scale: one map-side-combinable (Σw, Σw², count) aggregate per
    source over exact integer weights — closed form, nothing past
    the first pass. The clipped twin rides the same aggregate."""
    d = load_table(spark, sf_dir, "documents")
    w = F.col("n_chars").cast("long")
    wc = F.least(F.col("n_chars"), F.lit(ESS_CLIP)).cast("long")
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(w).alias("sw"),
        F.sum(w * w).alias("sww"),
        F.sum(wc).alias("swc"),
        F.sum(wc * wc).alias("swcc"),
    )
    ess = F.pow(F.col("sw"), 2) * 1.0 / F.col("sww")
    essc = F.pow(F.col("swc"), 2) * 1.0 / F.col("swcc")
    return g.select(
        "source",
        "n_docs",
        stable_round(ess, 4).alias("ess"),
        stable_round(ess / F.col("n_docs"), 6).alias("ess_ratio"),
        stable_round(essc, 4).alias("ess_clipped"),
        stable_round(essc / F.col("n_docs"), 6).alias(
            "ess_clipped_ratio"
        ),
    )


#: Two-sided 95% z for the Fisher correlation interval.
FISHER_Z = 1.96


@query(
    "stats_fisher_corr_ci",
    oracle=f"""
    WITH d AS (
      SELECT event_type,
             floor(epoch(ts) / 86400)::BIGINT AS day_idx,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, count(*)::BIGINT AS n,
             sum(day_idx * 1.0) AS sx, sum(x) AS sy,
             sum(day_idx * 1.0 * x) AS sxy,
             sum(day_idx * 1.0 * day_idx) AS sxx,
             sum(x * x) AS syy
      FROM d GROUP BY 1
    ),
    r AS (
      SELECT event_type, n,
             round((n * sxy - sx * sy)
                   / nullif(sqrt((n * sxx - sx * sx)
                                 * (n * syy - sy * sy)), 0), 6) AS r
      FROM m WHERE n > 3
    ),
    z AS (
      SELECT event_type, n, r,
             0.5 * ln((1 + r) / (1 - r)) AS fz,
             {FISHER_Z} / sqrt(n - 3.0) AS half
      FROM r WHERE abs(r) < 1
    )
    SELECT event_type, n AS n_days, r AS pearson_r,
           round((exp(2 * (fz - half)) - 1)
                 / (exp(2 * (fz - half)) + 1), 6) AS ci_lo,
           round((exp(2 * (fz + half)) - 1)
                 / (exp(2 * (fz + half)) + 1), 6) AS ci_hi
    FROM z
    """,
)
def stats_fisher_corr_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher-z confidence interval for the day-index/daily-mean
    Pearson correlation per event type (the trend correlation): r is
    variance-stabilized through atanh — written as ½ln((1+r)/(1−r))
    since neither engine ships atanh — the ±1.96/√(n−3) interval is
    taken in z-space, and both ends map back through tanh. The error
    bar that belongs NEXT to every correlation point estimate the
    repo reports (``stats_corr_matrix``, ``stats_groupwise_ols``):
    an r of 0.4 with a CI spanning zero is a non-finding.

    Scale: the fact collapses to the day rollup; the correlation
    folds from one grouped moment aggregate (six sums) on that
    calendar-sized frame. r rounds to 6 BEFORE the z transform, so
    both engines stabilize the identical value; |r| = 1 (perfectly
    collinear) and n ≤ 3 rows drop on both engines rather than
    dividing by zero."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400)
        .cast("long")
        .alias("day_idx"),
    ).agg(stable_round(F.avg("value"), 6).alias("x"))
    dx = F.col("day_idx") * 1.0
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dx).alias("sx"),
        F.sum("x").alias("sy"),
        F.sum(dx * F.col("x")).alias("sxy"),
        F.sum(dx * dx).alias("sxx"),
        F.sum(F.col("x") * F.col("x")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    r = (
        m.filter(F.col("n") > 3)
        .select(
            "event_type",
            "n",
            stable_round(num / F.nullif(den, F.lit(0.0)), 6).alias("r"),
        )
        .filter(F.abs(F.col("r")) < 1)
    )
    fz = 0.5 * F.log((1 + F.col("r")) / (1 - F.col("r")))
    half = FISHER_Z / F.sqrt(F.col("n") - 3.0)
    lo = (F.exp(2 * (fz - half)) - 1) / (F.exp(2 * (fz - half)) + 1)
    hi = (F.exp(2 * (fz + half)) - 1) / (F.exp(2 * (fz + half)) + 1)
    return r.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("r").alias("pearson_r"),
        stable_round(lo, 6).alias("ci_lo"),
        stable_round(hi, 6).alias("ci_hi"),
    )


@query(
    "ts_changepoint_binseg",
    oracle=f"""
    WITH h AS MATERIALIZED ({_HOURLY_SQL}),
    p AS (
      SELECT event_type, hour_idx, x,
             row_number() OVER w AS i,
             sum(x) OVER w AS s1,
             sum(x * x) OVER w AS s2,
             count(*) OVER (PARTITION BY event_type) AS n,
             sum(x) OVER (PARTITION BY event_type) AS t1,
             sum(x * x) OVER (PARTITION BY event_type) AS t2
      FROM h
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    g AS (
      SELECT event_type, hour_idx, n,
             t2 - t1 * t1 / n AS sse_total,
             round((t2 - t1 * t1 / n)
                   - ((s2 - s1 * s1 / i)
                      + ((t2 - s2) - (t1 - s1) * (t1 - s1) / (n - i))),
                   6) AS gain
      FROM p WHERE i < n
    ),
    best AS (
      SELECT event_type, hour_idx, n, sse_total, gain,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY gain DESC, hour_idx ASC) AS rk
      FROM g
    )
    SELECT event_type, n::BIGINT AS n_hours,
           hour_idx AS split_hour_idx,
           round(gain, 4) AS sse_gain,
           round(gain / nullif(sse_total, 0), 6) AS variance_explained
    FROM best WHERE rk = 1
    """,
)
def ts_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split binary-segmentation changepoint per event type:
    the hour that maximally reduces total SSE when the hourly series
    is split into two constant-mean segments — the level-SHIFT
    detector (argmax of SSE gain) complementing CUSUM's drift
    detector (argmax of cumulative deviation): CUSUM finds slow
    bleeds, binseg finds step changes; production recurses on the
    winning halves, each recursion this exact query on a sub-range.

    Scale: every candidate split is scored from PREFIX SUMS — one
    window pass (cumulative Σx, Σx² in the same frame as the totals)
    over the pinned calendar-sized hourly rollup, so the n-candidate
    search costs one shuffle and O(n) arithmetic, never n² segment
    re-aggregation. The gain rounds to 6 BEFORE the argmax ranking
    with an hour tiebreak, so both engines select the identical
    split even when two candidates differ by float dust; an all-
    constant series reports NULL variance_explained via the nullif
    guard on both engines."""
    h = _hourly_rollup(spark, sf_dir)
    wc = Window.partitionBy("event_type").orderBy("hour_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("event_type")
    p = h.select(
        "event_type",
        "hour_idx",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("hour_idx"))
        .alias("i"),
        F.sum("x").over(wc).alias("s1"),
        F.sum(F.col("x") * F.col("x")).over(wc).alias("s2"),
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum("x").over(wt).alias("t1"),
        F.sum(F.col("x") * F.col("x")).over(wt).alias("t2"),
    )
    sse_total = F.col("t2") - F.col("t1") * F.col("t1") / F.col("n")
    sse_left = F.col("s2") - F.col("s1") * F.col("s1") / F.col("i")
    sse_right = (F.col("t2") - F.col("s2")) - (
        F.col("t1") - F.col("s1")
    ) * (F.col("t1") - F.col("s1")) / (F.col("n") - F.col("i"))
    g = p.filter(F.col("i") < F.col("n")).select(
        "event_type",
        "hour_idx",
        "n",
        sse_total.alias("sse_total"),
        stable_round(sse_total - (sse_left + sse_right), 6).alias("gain"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("gain").desc(), F.col("hour_idx").asc()
    )
    return (
        g.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_hours"),
            F.col("hour_idx").alias("split_hour_idx"),
            stable_round(F.col("gain"), 4).alias("sse_gain"),
            stable_round(
                F.col("gain") / F.nullif(F.col("sse_total"), F.lit(0.0)),
                6,
            ).alias("variance_explained"),
        )
    )


#: Leave-one-out purity geometry: first KNN_PROBES vectors are probes,
#: each judged by its KNN_K nearest corpus neighbors.
KNN_PROBES = 20
KNN_K = 5


def _knn_purity_oracle() -> str:
    from kafka_go_streamer_spark.functions.vectors import cosine_sql

    return f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv, label AS qlabel
      FROM embeddings WHERE vec_id < {KNN_PROBES}
    ),
    ranked AS MATERIALIZED (
      SELECT qid, qlabel, label,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY round({cosine_sql('e.embedding', 'q.qv')}, 6)
                        DESC, e.vec_id ASC
             ) AS rk
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    p AS (
      SELECT qid, qlabel,
             sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)::BIGINT
               AS k_agree
      FROM ranked WHERE rk <= {KNN_K} GROUP BY 1, 2
    )
    SELECT qlabel AS label, count(*)::BIGINT AS n_probes,
           round(avg(k_agree * 1.0 / {KNN_K}), 6) AS mean_purity,
           sum(CASE WHEN k_agree * 2 > {KNN_K} THEN 1 ELSE 0
               END)::BIGINT AS majority_correct
    FROM p GROUP BY 1
    """


@query("embedding_knn_label_purity", oracle=_knn_purity_oracle)
def embedding_knn_label_purity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-one-out k-NN label purity per label: each probe vector's
    {KNN_K} nearest corpus neighbors (cosine, probe excluded) vote,
    and the label's mean agreement + majority-vote accuracy fall out
    — the classifier-free embedding-quality eval (a good embedding
    separates classes locally even when the global isotropy or PC
    diagnostics look fine), and the go/no-go read before trusting
    label propagation or k-NN weak supervision on the space.

    Scale: the probe panel is pinned and broadcast (the retrieval
    family's audited geometry — one corpus scan, per-probe rank
    window bounded by panel × corpus); neighbor votes rank on the
    ROUNDED cosine with a vec_id tiebreak, so both engines count the
    identical k-sets. Output is label-cardinality."""
    from kafka_go_streamer_spark.functions.vectors import cosine
    from kafka_go_streamer_spark.operators.iterate import pinned

    emb = load_table(spark, sf_dir, "embeddings")
    q = pinned(
        emb.filter(F.col("vec_id") < KNN_PROBES).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("qlabel"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    ranked = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "label",
            stable_round(
                cosine(F.col("embedding"), F.col("qv")), 6
            ).alias("cos_sim"),
            "vec_id",
        )
        .select(
            "qid", "qlabel", "label", F.row_number().over(wr).alias("rk")
        )
    )
    p = (
        ranked.filter(F.col("rk") <= KNN_K)
        .groupBy("qid", "qlabel")
        .agg(
            F.sum(
                F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0)
            )
            .cast("long")
            .alias("k_agree")
        )
    )
    return p.groupBy(F.col("qlabel").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        stable_round(
            F.avg(F.col("k_agree") * 1.0 / KNN_K), 6
        ).alias("mean_purity"),
        F.sum(F.when(F.col("k_agree") * 2 > KNN_K, 1).otherwise(0))
        .cast("long")
        .alias("majority_correct"),
    )


def _jsd_oracle() -> str:
    from kafka_go_streamer_spark.functions import text as X

    return f"""
    WITH w AS MATERIALIZED (
      SELECT source, unnest({X.words_sql('text')}) AS word
      FROM documents
    ),
    g AS MATERIALIZED (
      SELECT source, word, count(*)::BIGINT AS cs FROM w GROUP BY 1, 2
    ),
    ts AS (SELECT source, sum(cs)::BIGINT AS t FROM g GROUP BY 1),
    wq AS (SELECT word, sum(cs)::BIGINT AS cq FROM g GROUP BY 1),
    n AS (SELECT sum(cs)::BIGINT AS n FROM g),
    terms AS (
      SELECT g.source,
             g.cs * 1.0 / ts.t AS p,
             wq.cq * 1.0 / n.n AS q
      FROM g JOIN ts USING (source) JOIN wq USING (word) CROSS JOIN n
    ),
    agg AS (
      SELECT source, count(*)::BIGINT AS n_words,
             sum(p * ln(p / ((p + q) / 2))) AS part1,
             sum(q * ln(q / ((p + q) / 2))) AS part2_present,
             ln(2) * (1.0 - sum(q)) AS part2_absent
      FROM terms GROUP BY 1
    )
    SELECT a.source, a.n_words, ts.t AS n_tokens,
           round(0.5 * a.part1
                 + 0.5 * (a.part2_present + a.part2_absent), 6)
             AS jsd_nats,
           round((0.5 * a.part1
                  + 0.5 * (a.part2_present + a.part2_absent)) / ln(2),
                 6) AS jsd_normalized
    FROM agg a JOIN ts USING (source)
    """


@query("text_js_divergence_sources", oracle=_jsd_oracle)
def text_js_divergence_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    from the whole corpus: the bounded, symmetric "how different does
    this feed talk" number ([0,1] after /ln2) — the source-level
    complement of per-document DSIR importance, and the ranking that
    tells a mixture designer which sources actually add distributional
    diversity vs duplicate the corpus voice.

    Scale: everything runs on the SPARSE (source, word) count frame —
    the q-side sum over words ABSENT from a source (every word for
    every source in the dense form) collapses to the closed form
    ln2·(1 − Σ_present q_w), so no dense |sources|×|vocab| frame ever
    exists. p and q divide exact integer counts, so both engines fold
    identical doubles into the entropy terms (libm ln drift is ulp-
    scale and absorbed by the stabilized rounding); one explode pass,
    vocab-keyed equi-joins after."""
    from kafka_go_streamer_spark.functions import text as X
    from kafka_go_streamer_spark.operators.iterate import pinned

    d = load_table(spark, sf_dir, "documents")
    g = pinned(
        d.select(
            "source", F.explode(X.words(F.col("text"))).alias("word")
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("cs"))
    )
    ts = g.groupBy("source").agg(F.sum("cs").cast("long").alias("t"))
    wq = g.groupBy("word").agg(F.sum("cs").cast("long").alias("cq"))
    n = g.agg(F.sum("cs").cast("long").alias("n"))
    terms = (
        g.join(F.broadcast(ts), "source")
        .join(wq, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            (F.col("cs") * 1.0 / F.col("t")).alias("p"),
            (F.col("cq") * 1.0 / F.col("n")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    ln2 = float(math.log(2.0))
    agg = terms.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.col("p") * F.log(F.col("p") / m)).alias("part1"),
        F.sum(F.col("q") * F.log(F.col("q") / m)).alias("part2_present"),
        (ln2 * (1.0 - F.sum("q"))).alias("part2_absent"),
    )
    jsd = 0.5 * F.col("part1") + 0.5 * (
        F.col("part2_present") + F.col("part2_absent")
    )
    return agg.join(F.broadcast(ts), "source").select(
        "source",
        "n_words",
        F.col("t").alias("n_tokens"),
        stable_round(jsd, 6).alias("jsd_nats"),
        stable_round(jsd / ln2, 6).alias("jsd_normalized"),
    )
