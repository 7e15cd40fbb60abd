"""Time-series & statistics surface: marketing attribution, gap-fill
interpolation, z-score anomaly flags, and Welch's t-test.

These are the analytics a product/events pipeline runs next to the
training-data operators: all are built on the same shuffle-disciplined
primitives (as-of join, single-pass conditional aggregation, lead()
bigrams) and every float path is either exact-integer or rounded with
the eps stabilizer so the DuckDB oracle hashes identically. The
reference engine (p53/kafka-go-streamer) has no analytics surface
(SURVEY.md §2.1, main.go:348-651); this module is north-star surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.operators.asof import asof_join
from kafka_go_streamer_spark.plans.registry import query
from kafka_go_streamer_spark.sources.tables import load_table

#: Attribution lookback: a purchase is credited to the last click/view
#: touch within this many seconds; older (or absent) touches fall into
#: the 'direct' bucket.
ATTRIB_WINDOW_S = 24 * 3600


@query(
    "events_attribution_last_touch",
    oracle=f"""
    WITH t AS (
      SELECT user_id, ts, arg_max(event_type, event_id) AS touch_type
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY user_id, ts
    ),
    p AS (
      SELECT e.user_id, e.ts, e.event_id, e.value,
             CASE WHEN t.ts IS NOT NULL
                   AND date_diff('second', t.ts, e.ts) <= {ATTRIB_WINDOW_S}
                  THEN t.touch_type ELSE 'direct' END AS channel
      FROM (SELECT * FROM events WHERE event_type = 'purchase') e
      ASOF LEFT JOIN t ON e.user_id = t.user_id AND e.ts >= t.ts
    )
    SELECT channel,
           count(*) AS n_purchases,
           round(sum(value), 2) AS revenue
    FROM p GROUP BY 1
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent click/view within a 24 h lookback (else
    'direct'), then channels are rolled up to purchase counts and
    revenue — the classic attribution report.

    Scale: one as-of join (union + carry-forward window on user_id —
    operators/asof.py, no per-group pandas) plus a channel-cardinality
    aggregate. Touches are pre-deduplicated to one row per (user, ts)
    with arg_max(event_id) tie-breaking so both engines pick the same
    touch at identical timestamps."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    right = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", "ts")
        .agg(F.max_by("event_type", "event_id").alias("touch_type"))
    )
    out = asof_join(
        left, right, on="ts", by="user_id",
        tolerance_seconds=ATTRIB_WINDOW_S,
    )
    return (
        out.select(
            F.coalesce(F.col("touch_type_asof"), F.lit("direct")).alias(
                "channel"
            ),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            stable_round(F.sum("value"), 2).alias("revenue"),
        )
    )


#: Resample bucket width (4 h) for the gap-fill query: coarse enough
#: that the spine stays a small multiple of the observation count,
#: fine enough that most buckets are gaps and the interpolation path
#: is genuinely exercised.
RESAMPLE_S = 4 * 3600


@query(
    "ts_resample_interpolate",
    oracle=f"""
    WITH obs AS (
      SELECT user_id,
             (floor(epoch(ts) / {RESAMPLE_S}) * {RESAMPLE_S})::BIGINT
               AS bucket_s,
             avg(value) AS v
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ),
    span AS (
      SELECT user_id, min(bucket_s) AS b0, max(bucket_s) AS b1
      FROM obs GROUP BY 1
    ),
    spine AS (
      SELECT user_id,
             unnest(range(b0, b1 + {RESAMPLE_S}, {RESAMPLE_S})) AS bucket_s
      FROM span
    ),
    g AS (
      SELECT s.user_id, s.bucket_s, o.v
      FROM spine s LEFT JOIN obs o USING (user_id, bucket_s)
    ),
    f AS (
      SELECT user_id, bucket_s, v,
        last_value(v IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY bucket_s
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN bucket_s END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY bucket_s
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
        first_value(v IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY bucket_s
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN bucket_s END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY bucket_s
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      FROM g
    )
    SELECT user_id, bucket_s,
           round(CASE WHEN v IS NOT NULL THEN v
                      ELSE pv + (nv - pv) * (bucket_s - pb) / (nb - pb)
                 END, 4) AS v_interp,
           CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS is_observed
    FROM f
    """,
)
def ts_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with linear gap interpolation: per-user
    purchase values averaged into 4 h buckets, the bucket spine
    generated densely between each user's first and last observation,
    and empty buckets filled by linear interpolation between the
    neighboring observations — the standard time-series densification
    in front of forecasting / feature windows.

    Scale: the spine is generated IN-ROW (sequence/explode per user —
    never a cross join against a calendar table), buckets are exact
    integers (epoch div), and the fill is two carry-forward/backward
    windows over one user_id shuffle. Interpolation weights
    ``(t-prev)/(next-prev)`` are exact integer ratios; only the
    observed averages carry float rounding."""
    ev = load_table(spark, sf_dir, "events")
    obs = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            (
                F.floor(F.unix_timestamp("ts") / RESAMPLE_S) * RESAMPLE_S
            ).cast("long").alias("bucket_s"),
            "value",
        )
        .groupBy("user_id", "bucket_s")
        .agg(F.avg("value").alias("v"))
    )
    # Lead-pair form (round 8): ONE window shuffle builds each
    # observation's (next_bucket, next_value) pair, then every gap
    # bucket is generated AND interpolated in-row by exploding the
    # half-open range [bucket, next_bucket) with pv/pb = the row's own
    # observation. Replaces the r7 spine + left-join + two gap-fill
    # windows (the scale-up's worst ratio, ×7.97 at ×10 data): no join,
    # no carry-forward windows, and the interpolation arithmetic is
    # the identical expression tree the oracle's fill form computes,
    # so values hash-match unchanged.
    w = Window.partitionBy("user_id").orderBy("bucket_s")
    g = obs.select(
        "user_id",
        "bucket_s",
        "v",
        F.lead("bucket_s").over(w).alias("nb"),
        F.lead("v").over(w).alias("nv"),
    )
    rows = g.select(
        "user_id",
        "bucket_s",
        "v",
        "nb",
        "nv",
        F.explode(
            F.sequence(
                F.col("bucket_s"),
                F.coalesce(
                    F.col("nb") - RESAMPLE_S, F.col("bucket_s")
                ),
                F.lit(RESAMPLE_S).cast("long"),
            )
        ).alias("b"),
    )
    interp = F.when(F.col("b") == F.col("bucket_s"), F.col("v")).otherwise(
        F.col("v")
        + (F.col("nv") - F.col("v"))
        * (F.col("b") - F.col("bucket_s"))
        / (F.col("nb") - F.col("bucket_s"))
    )
    return rows.select(
        "user_id",
        F.col("b").alias("bucket_s"),
        stable_round(interp, 4).alias("v_interp"),
        F.when(F.col("b") == F.col("bucket_s"), 1)
        .otherwise(0)
        .alias("is_observed"),
    )


#: |z| threshold for the anomaly flag, applied to the ROUNDED z-score
#: so the knife-edge comparison is made on identical values in both
#: engines.
ZSCORE_THRESHOLD = 2.5

#: Shared variance formula (sum-of-squares form) so Spark and DuckDB
#: compute the same expression tree rather than their own streaming
#: stddev kernels; fine for well-scaled data, and cross-engine
#: reproducibility is the point here.
_VAR_SQL = "((sumsq - s * s / n) / (n - 1))"


@query(
    "events_zscore_anomaly",
    oracle=f"""
    WITH st AS (
      SELECT event_type, count(*) AS n, sum(value) AS s,
             sum(value * value) AS sumsq
      FROM events GROUP BY 1
    ),
    sc AS (
      SELECT e.event_id, e.event_type, e.value,
             round((e.value - st.s / st.n) /
                   sqrt({_VAR_SQL}), 3) AS z
      FROM events e JOIN st USING (event_type)
    )
    SELECT event_id, event_type, round(value, 2) AS value, z
    FROM sc
    WHERE z >= {ZSCORE_THRESHOLD} OR z <= -{ZSCORE_THRESHOLD}
    """,
)
def events_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier flags: events whose value deviates more than
    2.5 sample standard deviations from their event type's mean — the
    baseline anomaly screen over a metric stream.

    Scale: per-type stats are ONE map-side-combinable aggregate (type
    cardinality rows); the 5-row stats frame broadcasts back onto the
    scan, so flagging is a single pass with no second shuffle. The
    threshold compares the ROUNDED z so Spark and DuckDB agree even
    when their float sums differ in the last ulp."""
    ev = load_table(spark, sf_dir, "events")
    st = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("sumsq"),
    )
    sc = ev.join(F.broadcast(st), "event_type").select(
        "event_id",
        "event_type",
        "value",
        stable_round(
            (F.col("value") - F.col("s") / F.col("n"))
            / F.sqrt(F.expr(_VAR_SQL)),
            3,
        ).alias("z"),
    )
    return sc.filter(
        (F.col("z") >= ZSCORE_THRESHOLD) | (F.col("z") <= -ZSCORE_THRESHOLD)
    ).select(
        "event_id", "event_type", stable_round(F.col("value"), 2).alias("value"), "z"
    )


@query(
    "stats_ab_welch_ttest",
    oracle=f"""
    WITH st AS (
      SELECT
        sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
        sum(CASE WHEN user_id % 2 = 0 THEN value ELSE 0 END) AS s_a,
        sum(CASE WHEN user_id % 2 = 1 THEN value ELSE 0 END) AS s_b,
        sum(CASE WHEN user_id % 2 = 0 THEN value * value ELSE 0 END) AS q_a,
        sum(CASE WHEN user_id % 2 = 1 THEN value * value ELSE 0 END) AS q_b
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT n_a, n_b,
             s_a / n_a AS mean_a, s_b / n_b AS mean_b,
             ((q_a - s_a * s_a / n_a) / (n_a - 1)) / n_a AS va_n,
             ((q_b - s_b * s_b / n_b) / (n_b - 1)) / n_b AS vb_n
      FROM st
    )
    SELECT n_a, n_b,
           round(mean_a, 4) AS mean_a,
           round(mean_b, 4) AS mean_b,
           round((mean_a - mean_b) / sqrt(va_n + vb_n), 4) AS t_stat,
           round((va_n + vb_n) * (va_n + vb_n) /
                 (va_n * va_n / (n_a - 1) + vb_n * vb_n / (n_b - 1)),
                 2) AS welch_df
    FROM m
    """,
)
def stats_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two user cohorts (A =
    even user_id, B = odd) on purchase value: cohort sizes, means, the
    t statistic, and the Welch–Satterthwaite degrees of freedom — the
    A/B-experiment readout.

    Scale: the whole test is ONE conditional aggregate over the scan
    (six partial sums, map-side combinable) followed by scalar
    arithmetic on a single row — no shuffle of the data by cohort, no
    second pass, which is how experiment scorecards stay cheap at any
    event volume."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    a = F.col("user_id") % 2 == 0
    st = ev.agg(
        F.sum(F.when(a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~a, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(a, F.col("value")).otherwise(0.0)).alias("s_a"),
        F.sum(F.when(~a, F.col("value")).otherwise(0.0)).alias("s_b"),
        F.sum(F.when(a, F.col("value") * F.col("value")).otherwise(0.0)).alias("q_a"),
        F.sum(F.when(~a, F.col("value") * F.col("value")).otherwise(0.0)).alias("q_b"),
    )
    m = st.select(
        "n_a",
        "n_b",
        (F.col("s_a") / F.col("n_a")).alias("mean_a"),
        (F.col("s_b") / F.col("n_b")).alias("mean_b"),
        F.expr("((q_a - s_a * s_a / n_a) / (n_a - 1)) / n_a").alias("va_n"),
        F.expr("((q_b - s_b * s_b / n_b) / (n_b - 1)) / n_b").alias("vb_n"),
    )
    return m.select(
        "n_a",
        "n_b",
        stable_round(F.col("mean_a"), 4).alias("mean_a"),
        stable_round(F.col("mean_b"), 4).alias("mean_b"),
        stable_round(
            (F.col("mean_a") - F.col("mean_b"))
            / F.sqrt(F.col("va_n") + F.col("vb_n")),
            4,
        ).alias("t_stat"),
        stable_round(
            (F.col("va_n") + F.col("vb_n"))
            * (F.col("va_n") + F.col("vb_n"))
            / (
                F.col("va_n") * F.col("va_n") / (F.col("n_a") - 1)
                + F.col("vb_n") * F.col("vb_n") / (F.col("n_b") - 1)
            ),
            2,
        ).alias("welch_df"),
    )


#: Rolling-feature knobs: simple stats over the last ROLL_N events and
#: an exponentially-weighted average (decay EWMA_A) over the last
#: EWMA_N — the standard per-entity feature block in front of a model.
ROLL_N = 5
EWMA_N = 10
EWMA_A = 0.8


@query(
    "ts_rolling_features",
    oracle=f"""
    WITH w AS (
      SELECT user_id, ts, event_id, value,
        avg(value) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN {ROLL_N - 1} PRECEDING AND CURRENT ROW) AS roll_avg,
        max(value) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN {ROLL_N - 1} PRECEDING AND CURRENT ROW) AS roll_max,
        list(value) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN {EWMA_N - 1} PRECEDING AND CURRENT ROW) AS vs
      FROM events
    )
    SELECT user_id, event_id,
           round(roll_avg, 4) AS roll_avg,
           round(roll_max, 2) AS roll_max,
           round(
             list_sum(list_transform(range(1, len(vs) + 1),
               i -> vs[i] * pow({EWMA_A}, len(vs) - i)))
             / list_sum(list_transform(range(1, len(vs) + 1),
               i -> pow({EWMA_A}, len(vs) - i))), 4) AS ewma
    FROM w
    """,
)
def ts_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling feature block: trailing-5 mean and max plus an
    exponentially-weighted moving average (decay 0.8, depth 10) over
    each user's event-ordered value stream — the feature-engineering
    pass in front of per-entity models.

    Scale: ONE window shuffle on user_id serves all three features
    (identical partition/order spec, so the sort is shared); the EWMA
    is computed from a BOUNDED collected frame (<= 10 values) with an
    in-row weighted fold — per-row memory is constant, unlike the
    numerically explosive pow(a, -rownum) prefix trick, and there is
    no per-pair self-join. Weights are generated positionally so both
    engines fold in the same order."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLL_N - 1), 0)
    )
    we = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_N - 1), 0)
    )
    f = ev.select(
        "user_id",
        "event_id",
        F.avg("value").over(w).alias("roll_avg"),
        F.max("value").over(w).alias("roll_max"),
        F.collect_list("value").over(we).alias("vs"),
    )
    ewma = F.expr(
        f"aggregate(transform(sequence(1, size(vs)), "
        f"i -> element_at(vs, i) * pow({EWMA_A}D, size(vs) - i)), "
        "0D, (acc, x) -> acc + x) / "
        f"aggregate(transform(sequence(1, size(vs)), "
        f"i -> pow({EWMA_A}D, size(vs) - i)), "
        "0D, (acc, x) -> acc + x)"
    )
    return f.select(
        "user_id",
        "event_id",
        stable_round(F.col("roll_avg"), 4).alias("roll_avg"),
        stable_round(F.col("roll_max"), 2).alias("roll_max"),
        stable_round(ewma, 4).alias("ewma"),
    )


#: OLS time origin: 2024-01-01 UTC, the fixture's epoch start. Shifting
#: x to small integers keeps the normal-equation sums well inside
#: double precision.
OLS_X0 = 1704067200


@query(
    "stats_groupwise_ols",
    oracle=f"""
    WITH st AS (
      SELECT event_type,
             count(*) AS n,
             sum(x) AS sx, sum(value) AS sy,
             sum(x * value) AS sxy, sum(x * x) AS sxx
      FROM (
        SELECT event_type,
               ((floor(epoch(ts))::BIGINT - {OLS_X0}))::DOUBLE AS x, value
        FROM events
      ) GROUP BY 1
    )
    SELECT event_type, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400,
                 6) AS slope_per_day,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n, 4) AS intercept
    FROM st
    """,
)
def stats_groupwise_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise least-squares trend: per event type, the OLS slope
    (per day) and intercept of value against event time — the 'is this
    metric drifting' screen over a metric stream.

    Scale: the regression is ONE map-side-combinable aggregate (five
    sums per group) over the scan; the normal-equation solve is scalar
    arithmetic on the type-cardinality result. x is shifted to the
    fixture's epoch start so x² sums stay well inside double precision
    at any volume (the classic catastrophic-cancellation guard), and
    the sums run in DOUBLE on both engines — BIGINT x*x sums
    overflow long at ~10^5 rows of month-scale offsets (caught by
    the sf0.1 replica); DuckDB's HUGEINT escape hatch has no Spark
    twin."""
    ev = load_table(spark, sf_dir, "events")
    x = (F.unix_timestamp("ts") - OLS_X0).cast("double").alias("x")
    st = ev.select("event_type", x, "value").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("value").alias("sy"),
        F.sum(F.col("x") * F.col("value")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return st.select(
        "event_type",
        "n",
        stable_round(slope * 86400, 6).alias("slope_per_day"),
        stable_round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 4
        ).alias("intercept"),
    )


#: Column pairs for the correlation matrix over lineitem measures.
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_oracle() -> str:
    sums = ",\n             ".join(
        [f"sum({c}) AS s_{c}, sum({c} * {c}) AS q_{c}" for c in _CORR_COLS]
        + [
            f"sum({a} * {b}) AS x_{a}_{b}"
            for i, a in enumerate(_CORR_COLS)
            for b in _CORR_COLS[i + 1 :]
        ]
    )
    pairs = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            pairs.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"round((n * x_{a}_{b} - s_{a} * s_{b}) / "
                f"sqrt((n * q_{a} - s_{a} * s_{a}) * "
                f"(n * q_{b} - s_{b} * s_{b})), 6) AS corr FROM st"
            )
    return (
        "WITH st AS (\n"
        f"      SELECT count(*) AS n,\n             {sums}\n"
        "      FROM lineitem\n    )\n    "
        + "\n    UNION ALL ".join(pairs)
    )


@query("stats_corr_matrix", oracle=_corr_oracle())
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over the lineitem measures (all 6
    pairs of quantity/extendedprice/discount/tax) — the numeric-column
    profiling step that catches redundant features before training.

    Scale: every pairwise correlation reads the SAME single aggregate
    row (count + 4 sums + 4 square-sums + 6 cross-sums, all map-side
    combinable in one pass over one scan); the matrix itself is
    assembled by exploding a 6-element literal array over that
    broadcast row — one scan, one shuffle of one row, regardless of
    table size or pair count."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(c).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"q_{c}"))
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"x_{a}_{b}"))
    st = li.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                stable_round(
                    (
                        F.col("n") * F.col(f"x_{a}_{b}")
                        - F.col(f"s_{a}") * F.col(f"s_{b}")
                    )
                    / F.sqrt(
                        (
                            F.col("n") * F.col(f"q_{a}")
                            - F.col(f"s_{a}") * F.col(f"s_{a}")
                        )
                        * (
                            F.col("n") * F.col(f"q_{b}")
                            - F.col(f"s_{b}") * F.col(f"s_{b}")
                        )
                    ),
                    6,
                ).alias("corr"),
            )
            for i, a in enumerate(_CORR_COLS)
            for b in _CORR_COLS[i + 1 :]
        ]
    )
    return st.select(F.explode(pairs).alias("p")).select(
        "p.col_a", "p.col_b", "p.corr"
    )


#: Seasonal-naive forecasting period: one week of 4 h buckets.
FC_PERIOD_BUCKETS = 7 * 24 // 4


@query(
    "ts_forecast_seasonal_naive",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             (floor(epoch(ts) / {RESAMPLE_S}) * {RESAMPLE_S})::BIGINT
               AS bucket_s,
             sum(value) AS v
      FROM events GROUP BY 1, 2
    ),
    j AS (
      SELECT cur.event_type, cur.bucket_s, cur.v,
             prev.v AS forecast
      FROM b cur JOIN b prev
        ON cur.event_type = prev.event_type
       AND prev.bucket_s = cur.bucket_s - {FC_PERIOD_BUCKETS * RESAMPLE_S}
    )
    SELECT event_type,
           count(*) AS n_forecasts,
           round(avg(abs(v - forecast)), 4) AS mae,
           round(avg(abs(v - forecast)) / avg(abs(v)), 4) AS wape
    FROM j GROUP BY 1
    """,
)
def ts_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation: predict each 4 h bucket's
    per-type revenue as the SAME bucket one week earlier, then score
    MAE and WAPE per event type — the baseline every real forecasting
    model must beat, and the data-quality canary for seasonality
    drift.

    Scale: one bucketing aggregate (map-side combinable, bucket-
    cardinality output), then the forecast 'join to one week ago' is
    an equi-join of the bucket table WITH ITSELF on an exact shifted
    key — on bucket-cardinality frames, never on events; the error
    aggregate is type-cardinality. The classic window-lag alternative
    would also work, but the shifted equi-join stays correct when
    buckets are missing (a lag would silently forecast from the
    previous PRESENT bucket, not the seasonal one)."""
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.select(
            "event_type",
            (
                F.floor(F.unix_timestamp("ts") / RESAMPLE_S) * RESAMPLE_S
            ).cast("long").alias("bucket_s"),
            "value",
        )
        .groupBy("event_type", "bucket_s")
        .agg(F.sum("value").alias("v"))
    )
    cur, prev = b.alias("cur"), b.alias("prev")
    j = cur.join(
        prev,
        (F.col("cur.event_type") == F.col("prev.event_type"))
        & (
            F.col("prev.bucket_s")
            == F.col("cur.bucket_s") - FC_PERIOD_BUCKETS * RESAMPLE_S
        ),
    ).select(
        F.col("cur.event_type").alias("event_type"),
        F.col("cur.v").alias("v"),
        F.col("prev.v").alias("forecast"),
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_forecasts"),
        stable_round(F.avg(F.abs(F.col("v") - F.col("forecast"))), 4).alias(
            "mae"
        ),
        stable_round(
            F.avg(F.abs(F.col("v") - F.col("forecast")))
            / F.avg(F.abs(F.col("v"))),
            4,
        ).alias("wape"),
    )


#: Churn horizon: a user inactive for this long before the corpus
#: end is labeled churned. 12 h sits near the fixtures' 80th
#: percentile of end-gap (production would use days against a longer
#: horizon): both cohorts are populated at every SF, so the survival
#: comparison is non-vacuous.
CHURN_HORIZON_S = 12 * 3600


@query(
    "events_churn_survival",
    oracle=f"""
    WITH bounds AS (
      SELECT max(ts) AS tmax FROM events
    ),
    u AS (
      SELECT user_id,
             min(ts) AS first_ts,
             max(ts) AS last_ts,
             count(*) AS n_events
      FROM events GROUP BY 1
    ),
    lab AS (
      SELECT user_id, n_events,
             (date_diff('second', first_ts, last_ts)
               / 86400.0) AS lifetime_days,
             CASE WHEN date_diff('second', last_ts,
                                 (SELECT tmax FROM bounds))
                    > {CHURN_HORIZON_S}
                  THEN 1 ELSE 0 END AS churned
      FROM u
    )
    SELECT churned,
           count(*) AS n_users,
           round(avg(lifetime_days), 4) AS avg_lifetime_days,
           round(avg(n_events), 2) AS avg_events
    FROM lab GROUP BY 1
    """,
)
def events_churn_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn labeling + survival summary: a user is churned when their
    last event is more than CHURN_HORIZON_S (12 hours) before the
    corpus horizon; the
    report compares lifetime and activity between churned and retained
    cohorts — the label-generation step in front of every churn model
    (and the sanity check that churned users really do look different).

    Scale: one user-keyed aggregate builds first/last/count per user
    (map-side combinable), the corpus horizon rides as a broadcast
    1-row frame, and the final survival summary is a 2-row aggregate —
    the events table is scanned once and shuffled once, by user. The
    whole-second difference arithmetic matches DuckDB's date_diff for
    the fixtures' non-negative epochs (same precondition as
    operators/asof.py)."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.max("ts").alias("tmax"))
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )
    lab = u.crossJoin(F.broadcast(bounds)).select(
        "n_events",
        (
            (
                F.col("last_ts").cast("long")
                - F.col("first_ts").cast("long")
            )
            / 86400.0
        ).alias("lifetime_days"),
        F.when(
            (F.col("tmax").cast("long") - F.col("last_ts").cast("long"))
            > CHURN_HORIZON_S,
            1,
        )
        .otherwise(0)
        .alias("churned"),
    )
    return lab.groupBy("churned").agg(
        F.count(F.lit(1)).alias("n_users"),
        stable_round(F.avg("lifetime_days"), 4).alias("avg_lifetime_days"),
        stable_round(F.avg("n_events"), 2).alias("avg_events"),
    )


@query(
    "ts_seasonal_profile",
    oracle="""
    WITH st AS (
      SELECT event_type, sum(value) AS s, count(*) AS n
      FROM events GROUP BY 1
    ),
    hod AS (
      SELECT event_type, extract(hour FROM ts) AS hour_of_day,
             sum(value) AS hs, count(*) AS hn
      FROM events GROUP BY 1, 2
    )
    SELECT h.event_type, h.hour_of_day, h.hn AS n_events,
           round((h.hs / h.hn) / (st.s / st.n), 4) AS seasonal_index
    FROM hod h JOIN st USING (event_type)
    """,
)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile: per event type and hour, the
    ratio of that hour's mean value to the type's overall mean — the
    multiplicative seasonal index a forecaster divides out before
    modeling trend (and the input the seasonal-naive baseline
    implicitly assumes is stable week to week).

    Scale: two map-side-combinable aggregates over one scan shape
    (type- and type×24-cardinality outputs); the overall stats frame
    broadcasts into the hourly one. Nothing data-sized shuffles twice,
    and the index arithmetic is a single division per output row
    computed identically on both engines."""
    ev = load_table(spark, sf_dir, "events")
    st = ev.groupBy("event_type").agg(
        F.sum("value").alias("s"), F.count(F.lit(1)).alias("n")
    )
    hod = ev.groupBy(
        "event_type", F.hour("ts").alias("hour_of_day")
    ).agg(F.sum("value").alias("hs"), F.count(F.lit(1)).alias("hn"))
    return hod.join(F.broadcast(st), "event_type").select(
        "event_type",
        "hour_of_day",
        F.col("hn").alias("n_events"),
        stable_round(
            (F.col("hs") / F.col("hn")) / (F.col("s") / F.col("n")), 4
        ).alias("seasonal_index"),
    )


#: Iglewicz–Hoaglin modified z-score: |0.6745 (x − med) / MAD| above
#: this flags an outlier (the robust twin of the 3-sigma rule).
MAD_THRESHOLD = 3.5


@query(
    "stats_mad_outliers",
    oracle=f"""
    WITH med AS (
      SELECT event_type,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
      FROM events GROUP BY 1
    ),
    mad AS (
      SELECT e.event_type,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(e.value - m.med))
               AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY 1
    )
    SELECT e.event_type,
           count(*) AS n_events,
           round(m.med, 4) AS med,
           round(d.mad, 4) AS mad,
           sum(CASE WHEN abs(round(0.6745 * (e.value - m.med)
                                   / nullif(d.mad, 0), 3))
                      > {MAD_THRESHOLD}
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM events e
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    GROUP BY 1, m.med, d.mad
    """,
)
def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counting with the MEDIAN/MAD (modified z-score)
    rule: per event type, the median, the median absolute deviation,
    and how many events exceed |0.6745·(x−med)/MAD| > 3.5 — the
    Iglewicz–Hoaglin test that survives the heavy tails and anomalies
    that inflate a mean/σ z-score (``events_zscore_anomaly`` is the
    classical twin; a single extreme point can mask itself there by
    inflating σ, but cannot move a median).

    Scale: two passes over the fact, each ONE shuffle on event_type —
    exact percentiles per group are a sort-based aggregate whose output
    is group-cardinality; the tiny med/MAD frames broadcast back into
    the scan for the counting pass, which is a conditional aggregate
    (map-side combinable). No window over the raw data, no pair work.
    The z-ratio is stable-rounded at 3 before the threshold compare so
    both engines flag identical boundary points."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(
                F.abs(F.col("value") - F.col("med")), F.lit(0.5)
            ).alias("mad")
        )
    )
    # nullif guard on MAD: a group where >50% of values are identical
    # has mad=0; the ratio must be NULL (→ not an outlier) on BOTH
    # engines, never each engine's own division-by-zero/Inf semantics.
    rz = F.abs(
        stable_round(
            0.6745
            * (F.col("value") - F.col("med"))
            / F.nullif(F.col("mad"), F.lit(0.0)),
            3,
        )
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(rz > MAD_THRESHOLD, 1).otherwise(0)).alias(
                "n_outliers"
            ),
        )
        .select(
            "event_type",
            "n_events",
            stable_round(F.col("med"), 4).alias("med"),
            stable_round(F.col("mad"), 4).alias("mad"),
            "n_outliers",
        )
    )


@query(
    "stats_chi2_independence",
    oracle="""
    WITH obs AS (
      SELECT lang, source, count(*)::BIGINT AS o
      FROM documents GROUP BY 1, 2
    ),
    grid AS (
      SELECT l.lang, s.source, coalesce(o.o, 0) AS o
      FROM (SELECT DISTINCT lang FROM documents) l
      CROSS JOIN (SELECT DISTINCT source FROM documents) s
      LEFT JOIN obs o USING (lang, source)
    ),
    m AS (
      SELECT lang, source, o,
             sum(o) OVER (PARTITION BY lang) AS row_tot,
             sum(o) OVER (PARTITION BY source) AS col_tot,
             sum(o) OVER () AS n
      FROM grid
    )
    SELECT max(n)::BIGINT AS n_docs,
           count(DISTINCT lang)::BIGINT AS n_langs,
           count(DISTINCT source)::BIGINT AS n_sources,
           (count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1)
             AS dof,
           round(sum(pow(o - row_tot * col_tot / n, 2)
                     / (row_tot * col_tot / n)), 4) AS chi2,
           round(sqrt(sum(pow(o - row_tot * col_tot / n, 2)
                          / (row_tot * col_tot / n))
                      / (max(n) * least(count(DISTINCT lang) - 1,
                                        count(DISTINCT source) - 1))),
                 4) AS cramers_v
    FROM m
    """,
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between document language and
    source (is the lang mix the same across crawls?) plus Cramér's V
    effect size — the contingency-table check a corpus curator runs
    before assuming per-source language balance. Zero cells are kept
    in the grid (they still contribute their expected count to χ²).

    Scale: ONE aggregate over the corpus produces the lang×source
    contingency table (≤ |langs|·|sources| rows — constants); every
    margin, expected count, and the final statistic is computed on
    that tiny frame with windows over dozens of rows. The 100 TB cost
    is exactly one map-side-combinable count shuffle."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    d = load_table(spark, sf_dir, "documents")
    # margins derive from the contingency frame, NOT a corpus re-scan;
    # pin the tiny frame so its three consumers (grid + both distinct
    # lists) don't each re-derive the documents scan through lineage —
    # the corpus is read exactly once
    obs = pinned(
        d.groupBy("lang", "source").agg(
            F.count(F.lit(1)).cast("long").alias("o")
        )
    )
    langs = obs.select("lang").distinct()
    sources = obs.select("source").distinct()
    grid = (
        langs.crossJoin(F.broadcast(sources))
        .join(F.broadcast(obs), ["lang", "source"], "left")
        .select(
            "lang", "source", F.coalesce(F.col("o"), F.lit(0)).alias("o")
        )
    )
    m = grid.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(Window.partitionBy("lang")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("source")).alias("col_tot"),
        F.sum("o").over(
            Window.partitionBy()
        ).alias("n"),
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("n")
    chi2 = F.sum(F.pow(F.col("o") - e, F.lit(2)) / e)
    return m.agg(
        F.max("n").cast("long").alias("n_docs"),
        F.count_distinct(F.col("lang")).cast("long").alias("n_langs"),
        F.count_distinct(F.col("source")).cast("long").alias("n_sources"),
        (
            (F.count_distinct(F.col("lang")) - 1)
            * (F.count_distinct(F.col("source")) - 1)
        ).alias("dof"),
        stable_round(chi2, 4).alias("chi2"),
        stable_round(
            F.sqrt(
                chi2
                / (
                    F.max("n")
                    * F.least(
                        F.count_distinct(F.col("lang")) - 1,
                        F.count_distinct(F.col("source")) - 1,
                    )
                )
            ),
            4,
        ).alias("cramers_v"),
    )


@query(
    "stats_ks_drift",
    oracle="""
    WITH v AS (
      SELECT value,
             sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS cb
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    c AS (
      SELECT sum(ca) OVER (ORDER BY value) AS cum_a,
             sum(cb) OVER (ORDER BY value) AS cum_b,
             sum(ca) OVER () AS n_a,
             sum(cb) OVER () AS n_b
      FROM v
    )
    SELECT max(n_a)::BIGINT AS n_a,
           max(n_b)::BIGINT AS n_b,
           round(max(abs(cum_a::DOUBLE / n_a - cum_b::DOUBLE / n_b)), 6)
             AS ks_d,
           round(1.358 * sqrt((max(n_a) + max(n_b))::DOUBLE
                              / (max(n_a) * max(n_b))), 6) AS crit_95
    FROM c
    """,
)
def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic between the A/B
    cohorts' purchase-value distributions: D = max |F_A − F_B| over
    the pooled empirical CDFs, with the 95% critical value
    1.358·√((n_a+n_b)/(n_a·n_b)) alongside — the distribution-shape
    drift test that catches what a mean-only t-test (its twin
    ``stats_ab_welch_ttest``) cannot, and the standard gate for "did
    this feature's distribution move between corpus snapshots".

    Scale: one conditional aggregate collapses the corpus to
    VALUE-cardinality (cnt_a, cnt_b) rows; the ECDF cumsum is a window
    over that collapsed frame. A 100 TB deployment with unbounded
    distinct values swaps the exact frame for the 128-band histogram
    of ``sketch_quantile_bands`` (KS on binned ECDFs bounds D within
    one band mass); the exact form here doubles as that variant's
    verification twin. Ties collapse into one row by construction, so
    both engines see identical step functions."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    v = ev.groupBy("value").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    wc = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    c = v.select(
        F.sum("ca").over(wc).alias("cum_a"),
        F.sum("cb").over(wc).alias("cum_b"),
        F.sum("ca").over(wt).alias("n_a"),
        F.sum("cb").over(wt).alias("n_b"),
    )
    return c.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        stable_round(
            F.max(
                F.abs(
                    F.col("cum_a").cast("double") / F.col("n_a")
                    - F.col("cum_b").cast("double") / F.col("n_b")
                )
            ),
            6,
        ).alias("ks_d"),
        stable_round(
            1.358
            * F.sqrt(
                (F.max("n_a") + F.max("n_b")).cast("double")
                / (F.max("n_a") * F.max("n_b"))
            ),
            6,
        ).alias("crit_95"),
    )


@query(
    "stats_gini_concentration",
    oracle="""
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value) AS i
      FROM events
    )
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           round(2.0 * sum(i * value) / (count(*) * sum(value))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM r GROUP BY 1
    """,
)
def stats_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the value distribution per event type — how
    concentrated the mass is in few events (0 = uniform, →1 = one
    event carries everything), via the rank formula
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending values. The same
    statistic a data curator runs on per-domain token counts to see
    whether a corpus is dominated by a handful of sources.

    Scale: ONE window shuffle on event_type (the rank), then a
    same-keyed aggregate that reuses the partitioning — no second
    exchange, no join. Ranking ties (equal values) are order-ambiguous
    but the statistic is tie-invariant: within a tied block x is
    constant, so Σ(i·x) = x·Σ(i) regardless of which engine breaks the
    tie how."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    r = ev.select(
        "event_type", "value", F.row_number().over(w).alias("i")
    )
    n = F.count(F.lit(1))
    return r.groupBy("event_type").agg(
        n.cast("long").alias("n_events"),
        stable_round(
            2.0 * F.sum(F.col("i") * F.col("value")) / (n * F.sum("value"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


@query(
    "events_did_uplift",
    oracle="""
    WITH span AS (
      SELECT (epoch(min(ts))::BIGINT + epoch(max(ts))::BIGINT) // 2 AS cut
      FROM events WHERE event_type = 'purchase'
    ),
    cells AS (
      SELECT
        sum(CASE WHEN user_id % 2 = 0 AND epoch(ts) >= cut
                 THEN value END) AS s_tp,
        sum(CASE WHEN user_id % 2 = 0 AND epoch(ts) >= cut
                 THEN 1 ELSE 0 END)::BIGINT AS n_tp,
        sum(CASE WHEN user_id % 2 = 0 AND epoch(ts) < cut
                 THEN value END) AS s_t0,
        sum(CASE WHEN user_id % 2 = 0 AND epoch(ts) < cut
                 THEN 1 ELSE 0 END)::BIGINT AS n_t0,
        sum(CASE WHEN user_id % 2 = 1 AND epoch(ts) >= cut
                 THEN value END) AS s_cp,
        sum(CASE WHEN user_id % 2 = 1 AND epoch(ts) >= cut
                 THEN 1 ELSE 0 END)::BIGINT AS n_cp,
        sum(CASE WHEN user_id % 2 = 1 AND epoch(ts) < cut
                 THEN value END) AS s_c0,
        sum(CASE WHEN user_id % 2 = 1 AND epoch(ts) < cut
                 THEN 1 ELSE 0 END)::BIGINT AS n_c0
      FROM events CROSS JOIN span WHERE event_type = 'purchase'
    )
    SELECT n_tp, n_t0, n_cp, n_c0,
           round(s_tp / n_tp, 4) AS mean_treat_post,
           round(s_t0 / n_t0, 4) AS mean_treat_pre,
           round(s_cp / n_cp, 4) AS mean_ctrl_post,
           round(s_c0 / n_c0, 4) AS mean_ctrl_pre,
           round((s_tp / n_tp - s_t0 / n_t0)
                 - (s_cp / n_cp - s_c0 / n_c0), 4) AS did_estimate
    FROM cells
    """,
)
def events_did_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences uplift estimate: purchase-value means
    for treatment/control (the welch cohorts) before and after the
    corpus midpoint, and the DiD estimator
    (ΔTreat − ΔControl) — the workhorse quasi-experimental readout
    when assignment isn't randomized per-event.

    Scale: the period cut is a 1-row min/max aggregate that broadcasts;
    the four cell sums are ONE conditional aggregate over one scan
    (map-side combinable) — no shuffle by cohort, no join of pre
    against post. The estimator arithmetic runs on a single row,
    identically ordered in both engines."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    epoch = F.unix_timestamp("ts")
    span = pinned(
        ev.agg(
            F.floor(
                (F.min(epoch).cast("long") + F.max(epoch).cast("long")) / 2
            ).alias("cut")
        )
    )
    e = ev.crossJoin(F.broadcast(span))
    treat = F.col("user_id") % 2 == 0
    post = epoch >= F.col("cut")
    cells = e.agg(
        F.sum(F.when(treat & post, F.col("value"))).alias("s_tp"),
        F.sum(F.when(treat & post, 1).otherwise(0)).cast("long").alias("n_tp"),
        F.sum(F.when(treat & ~post, F.col("value"))).alias("s_t0"),
        F.sum(F.when(treat & ~post, 1).otherwise(0)).cast("long").alias("n_t0"),
        F.sum(F.when(~treat & post, F.col("value"))).alias("s_cp"),
        F.sum(F.when(~treat & post, 1).otherwise(0)).cast("long").alias("n_cp"),
        F.sum(F.when(~treat & ~post, F.col("value"))).alias("s_c0"),
        F.sum(F.when(~treat & ~post, 1).otherwise(0)).cast("long").alias("n_c0"),
    )
    m = lambda s, n: F.col(s) / F.col(n)  # noqa: E731
    return cells.select(
        "n_tp",
        "n_t0",
        "n_cp",
        "n_c0",
        stable_round(m("s_tp", "n_tp"), 4).alias("mean_treat_post"),
        stable_round(m("s_t0", "n_t0"), 4).alias("mean_treat_pre"),
        stable_round(m("s_cp", "n_cp"), 4).alias("mean_ctrl_post"),
        stable_round(m("s_c0", "n_c0"), 4).alias("mean_ctrl_pre"),
        stable_round(
            (m("s_tp", "n_tp") - m("s_t0", "n_t0"))
            - (m("s_cp", "n_cp") - m("s_c0", "n_c0")),
            4,
        ).alias("did_estimate"),
    )


#: Bootstrap geometry: replicate count and the Poisson(1) inverse-CDF
#: thresholds (P(X<=k), k=0..7) used to derive each row's replicate
#: weight from a uniform hash — the same double literals are embedded
#: in the Spark expressions and the DuckDB oracle, so the weights are
#: bit-identical across engines.
BOOT_B = 32
import math as _math  # noqa: E402

BOOT_CDF = [
    sum(_math.exp(-1.0) / _math.factorial(i) for i in range(k + 1))
    for k in range(8)
]


def _boot_w_sql(u: str) -> str:
    arms = " ".join(
        f"WHEN {u} < {BOOT_CDF[k]!r} THEN {k}" for k in range(len(BOOT_CDF))
    )
    return f"(CASE {arms} ELSE {len(BOOT_CDF)} END)"


@query(
    "stats_bootstrap_ci",
    oracle=f"""
    WITH reps AS (SELECT unnest(range(0, {BOOT_B})) AS b),
    w AS (
      SELECT r.b, e.value,
             {_boot_w_sql(
               "(('0x' || substr(md5(e.event_id::VARCHAR || '_' || "
               "r.b::VARCHAR), 1, 8))::BIGINT / 4294967296.0)"
             )} AS w
      FROM events e CROSS JOIN reps r
      WHERE e.event_type = 'purchase'
    ),
    means AS (
      SELECT b, sum(w * value) / sum(w) AS m FROM w GROUP BY 1
    )
    SELECT count(*)::BIGINT AS n_replicates,
           round(avg(m), 4) AS boot_mean,
           round(sqrt((sum(m * m) - sum(m) * sum(m) / count(*))
                      / (count(*) - 1)), 6) AS boot_se,
           round(percentile_cont(0.025) WITHIN GROUP (ORDER BY m), 4)
             AS ci_lo,
           round(percentile_cont(0.975) WITHIN GROUP (ORDER BY m), 4)
             AS ci_hi
    FROM means
    """,
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Poisson bootstrap: BOOT_B (32) resampled means of
    the purchase value, each replicate weighting every row by a
    DETERMINISTIC hash-derived Poisson(1) draw (the classic
    multinomial→Poisson approximation that makes the bootstrap
    embarrassingly parallel — no per-replicate shuffling of row
    indices), reported as bootstrap mean, standard error, and the
    2.5/97.5 percentile interval.

    Scale: the corpus is scanned once and fanned out ×B in-row (an
    explode against a constant replicate list); per-replicate weighted
    sums partial-aggregate map-side, so the shuffle carries B rows of
    state per partition — replicates never see each other until the
    B-row means frame. Weights come from md5(event_id, b) against
    embedded Poisson CDF literals, so both engines draw the identical
    resample."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    fan = ev.select(
        "event_id",
        "value",
        F.explode(F.array(*[F.lit(b) for b in range(BOOT_B)])).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_id").cast("string"),
                        F.lit("_"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    w = F.when(u < BOOT_CDF[0], 0)
    for k in range(1, len(BOOT_CDF)):
        w = w.when(u < BOOT_CDF[k], k)
    w = w.otherwise(len(BOOT_CDF))
    means = (
        fan.select("b", "value", w.alias("w"))
        .groupBy("b")
        .agg(
            (F.sum(F.col("w") * F.col("value")) / F.sum("w")).alias("m")
        )
    )
    n = F.count(F.lit(1))
    return means.agg(
        n.cast("long").alias("n_replicates"),
        stable_round(F.avg("m"), 4).alias("boot_mean"),
        stable_round(
            F.sqrt(
                (F.sum(F.col("m") * F.col("m")) - F.sum("m") * F.sum("m") / n)
                / (n - F.lit(1))
            ),
            6,
        ).alias("boot_se"),
        stable_round(F.percentile("m", F.lit(0.025)), 4).alias("ci_lo"),
        stable_round(F.percentile("m", F.lit(0.975)), 4).alias("ci_hi"),
    )


@query(
    "stats_mannwhitney_u",
    oracle="""
    WITH v AS (
      SELECT value,
             sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS cb
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    r AS (
      SELECT ca, cb, (ca + cb) AS t,
             sum(ca + cb) OVER (ORDER BY value)
               - (ca + cb) AS cum_before
      FROM v
    ),
    s AS (
      SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
             sum(ca * (cum_before + (t + 1) / 2.0)) AS rank_sum_a,
             sum(t * t * t - t) AS tie_term
      FROM r
    )
    SELECT n_a, n_b,
           round(rank_sum_a - n_a * (n_a + 1) / 2.0, 2) AS u_stat,
           round((rank_sum_a - n_a * (n_a + 1) / 2.0
                  - n_a * n_b / 2.0)
                 / sqrt((n_a * n_b / 12.0)
                        * ((n_a + n_b + 1.0)
                           - tie_term / ((n_a + n_b)
                                         * (n_a + n_b - 1.0)))),
                 4) AS z_score
    FROM s
    """,
)
def stats_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between the A/B cohorts'
    purchase values, with AVERAGE ranks for ties and the tie-corrected
    normal approximation — the nonparametric complement to the Welch
    t-test (``stats_ab_welch_ttest`` compares means and assumes
    rough normality; U compares whole distributions through ranks and
    survives the heavy tails purchase values actually have; the KS
    twin ``stats_ks_drift`` tests shape the same collapsed way).

    Scale: the corpus collapses to VALUE-cardinality (cnt_a, cnt_b)
    rows in one conditional aggregate; average ranks come from ONE
    cumulative window over that collapsed frame (ties collapse into a
    single row by construction, so both engines see identical rank
    blocks), and the statistic is a scalar aggregate — the corpus is
    never globally sorted row-by-row."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    v = ev.groupBy("value").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    wc = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    r = v.select(
        "ca",
        "cb",
        (F.col("ca") + F.col("cb")).alias("t"),
        (
            F.sum(F.col("ca") + F.col("cb")).over(wc)
            - (F.col("ca") + F.col("cb"))
        ).alias("cum_before"),
    )
    s = r.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(
            F.col("ca") * (F.col("cum_before") + (F.col("t") + 1) / 2.0)
        ).alias("rank_sum_a"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie_term"),
    )
    u = F.col("rank_sum_a") - F.col("n_a") * (F.col("n_a") + 1) / 2.0
    n = F.col("n_a") + F.col("n_b")
    var = (F.col("n_a") * F.col("n_b") / 12.0) * (
        (n + 1.0) - F.col("tie_term") / (n * (n - 1.0))
    )
    return s.select(
        "n_a",
        "n_b",
        stable_round(u, 2).alias("u_stat"),
        stable_round(
            (u - F.col("n_a") * F.col("n_b") / 2.0) / F.sqrt(var), 4
        ).alias("z_score"),
    )


# ----------------------------------------------------- round 9: stats
@query(
    "stats_anova_oneway",
    oracle="""
    WITH g AS (
      SELECT event_type, count(*)::BIGINT AS n,
             sum(value) AS s, sum(value * value) AS ss
      FROM events GROUP BY 1
    ),
    t AS (SELECT sum(n)::BIGINT AS nn, sum(s) AS gs,
                 count(*)::BIGINT AS k FROM g),
    c AS (
      SELECT t.k, t.nn,
             sum(g.n * pow(g.s / g.n - t.gs / t.nn, 2)) AS ssb,
             sum(g.ss - g.s * g.s / g.n) AS ssw
      FROM g CROSS JOIN t GROUP BY 1, 2
    )
    SELECT k AS k_groups, nn AS n_total,
           round((ssb / (k - 1)) / (ssw / (nn - k)), 4) AS f_stat,
           round(ssb / (ssb + ssw), 6) AS eta_squared
    FROM c
    """,
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-statistic across event types on ``value``
    (between-group over within-group variance) plus the eta-squared
    effect size — the k-group generalization of the Welch pair test:
    "does event type explain any of the value variance at all" is the
    screening question before per-pair testing.

    Scale: one map-side-combinable pass collapses the fact to k
    (n, Σx, Σx²) triples; every downstream term — grand mean, SSB,
    SSW — is arithmetic on that k-row frame. The decomposition
    SSW = Σ(Σx² − (Σx)²/n) avoids a second centered pass, and both
    engines share the identical expression tree before the stabilized
    rounds."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    t = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").alias("gs"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    c = (
        g.crossJoin(F.broadcast(t))
        .groupBy("k", "nn")
        .agg(
            F.sum(
                F.col("n")
                * F.pow(
                    F.col("s") / F.col("n") - F.col("gs") / F.col("nn"), 2
                )
            ).alias("ssb"),
            F.sum(
                F.col("ss") - F.col("s") * F.col("s") / F.col("n")
            ).alias("ssw"),
        )
    )
    return c.select(
        F.col("k").alias("k_groups"),
        F.col("nn").alias("n_total"),
        stable_round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("nn") - F.col("k"))),
            4,
        ).alias("f_stat"),
        stable_round(
            F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6
        ).alias("eta_squared"),
    )


#: Benjamini-Hochberg false-discovery-rate level.
BH_ALPHA = 0.05


@query(
    "stats_benjamini_hochberg",
    oracle=f"""
    WITH v AS (
      SELECT event_type, value,
             sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS cb
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type,
             sum(ca) OVER (PARTITION BY event_type ORDER BY value) AS cum_a,
             sum(cb) OVER (PARTITION BY event_type ORDER BY value) AS cum_b,
             sum(ca) OVER (PARTITION BY event_type) AS n_a,
             sum(cb) OVER (PARTITION BY event_type) AS n_b
      FROM v
    ),
    d AS (
      SELECT event_type, max(n_a)::BIGINT AS n_a, max(n_b)::BIGINT AS n_b,
             round(max(abs(cum_a::DOUBLE / n_a - cum_b::DOUBLE / n_b)), 6)
               AS ks_d
      FROM c GROUP BY 1
    ),
    p AS (
      SELECT event_type, n_a, n_b, ks_d,
             round(least(1.0,
               2.0 * exp(-2.0 * ks_d * ks_d * n_a * n_b / (n_a + n_b))),
               6) AS p_value
      FROM d
    ),
    r AS (
      SELECT *,
             row_number() OVER (ORDER BY p_value, event_type) AS rk,
             count(*) OVER () AS m
      FROM p
    ),
    k AS (
      SELECT coalesce(max(CASE WHEN p_value <= rk * {BH_ALPHA} / m
                               THEN rk END), 0) AS kstar
      FROM r
    )
    SELECT r.event_type, r.ks_d, r.p_value, r.rk::BIGINT AS rk,
           r.rk <= k.kstar AS reject
    FROM r CROSS JOIN k
    """,
)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control: per event type, a two-sample KS test
    between the A/B user cohorts' value distributions, the asymptotic
    Kolmogorov p-value p = min(1, 2·exp(−2d²·n_a·n_b/(n_a+n_b))), and
    the Benjamini–Hochberg step-up at α=0.05 — reject every hypothesis
    ranked at or below the largest k with p_(k) ≤ k·α/m. Running one
    drift test per feature across thousands of features is exactly the
    setting BH exists for; a per-test α would flag ~5% of clean
    features every snapshot.

    Scale: the per-type ECDFs ride the same value-cardinality collapse
    as ``stats_ks_drift`` (one conditional aggregate, windows over the
    collapsed frame); the BH step-up runs entirely on the m-row
    (feature-count) frame. The reject decision compares the ROUNDED
    p-value on both engines, so the boundary cannot flip on float
    dust."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("event_type")
    c = v.select(
        "event_type",
        F.sum("ca").over(wc).alias("cum_a"),
        F.sum("cb").over(wc).alias("cum_b"),
        F.sum("ca").over(wt).alias("n_a"),
        F.sum("cb").over(wt).alias("n_b"),
    )
    d = c.groupBy("event_type").agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        stable_round(
            F.max(
                F.abs(
                    F.col("cum_a").cast("double") / F.col("n_a")
                    - F.col("cum_b").cast("double") / F.col("n_b")
                )
            ),
            6,
        ).alias("ks_d"),
    )
    p = d.select(
        "event_type",
        "n_a",
        "n_b",
        "ks_d",
        stable_round(
            F.least(
                F.lit(1.0),
                2.0
                * F.exp(
                    -2.0
                    * F.col("ks_d")
                    * F.col("ks_d")
                    * F.col("n_a")
                    * F.col("n_b")
                    / (F.col("n_a") + F.col("n_b"))
                ),
            ),
            6,
        ).alias("p_value"),
    )
    wr = Window.orderBy("p_value", "event_type")
    r = p.select(
        "event_type",
        "ks_d",
        "p_value",
        F.row_number().over(wr).cast("long").alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    kstar = r.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_value") <= F.col("rk") * BH_ALPHA / F.col("m"),
                    F.col("rk"),
                )
            ),
            F.lit(0),
        ).alias("kstar")
    )
    return (
        r.crossJoin(F.broadcast(kstar))
        .select(
            "event_type",
            "ks_d",
            "p_value",
            "rk",
            (F.col("rk") <= F.col("kstar")).alias("reject"),
        )
    )


#: CUSUM drift threshold in (hourly-frame) standard deviations.
CUSUM_C = 3.0


@query(
    "ts_cusum_changepoint",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             floor(epoch(ts) / 3600)::BIGINT AS hour_idx,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, round(avg(x), 6) AS mu,
             round(stddev_samp(x), 6) AS sd,
             count(*)::BIGINT AS nh
      FROM h GROUP BY 1
    ),
    cs AS (
      SELECT h.event_type, h.hour_idx, st.nh, st.sd,
             sum(h.x - st.mu)
               OVER (PARTITION BY h.event_type ORDER BY h.hour_idx)
               AS cusum
      FROM h JOIN st USING (event_type)
    ),
    mx AS (
      SELECT event_type, nh, sd,
             max(abs(cusum)) AS s_max
      FROM cs GROUP BY 1, 2, 3
    ),
    cp AS (
      SELECT cs.event_type,
             min(cs.hour_idx) AS cp_hour_idx
      FROM cs JOIN mx ON mx.event_type = cs.event_type
                      AND abs(cs.cusum) = mx.s_max
      GROUP BY 1
    )
    SELECT m.event_type, m.nh AS n_hours,
           round(m.s_max, 4) AS max_cusum,
           c.cp_hour_idx,
           m.s_max > {CUSUM_C} * m.sd * sqrt(m.nh) AS drifted
    FROM mx m JOIN cp c USING (event_type)
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan per event type: cumulative sum of the
    hourly-mean deviations from the series mean, its maximum
    excursion, the earliest hour attaining it (the change-point
    candidate), and a drift flag at C·σ·√H — the classic
    sequential-drift detector a feature-pipeline monitor runs on every
    metric between corpus snapshots (Page's test in its offline
    max-excursion form).

    Scale: the fact collapses to the (type, hour) rollup in one
    map-side-combinable pass; every window and join below runs on that
    HOUR-cardinality frame. The rollup and the cusum series are
    PINNED: each has multiple consumers (stats + series; max +
    argmax + final), so unpinned the fact parquet is re-planned under
    every consumer (6 fact scans observed — pinned, exactly one).
    Both the hourly means and the per-series
    mean are rounded to 6 decimals BEFORE the cumulative sum, so both
    engines accumulate the identical sequence of doubles in the
    identical (hour) order — the cusum is bit-reproducible, and the
    argmax/threshold comparisons cannot flip on accumulation-order
    dust."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias(
            "hour_idx"
        ),
    ).agg(stable_round(F.avg("value"), 6).alias("x"))
    from kafka_go_streamer_spark.operators.iterate import pinned

    h = pinned(h)  # one fact scan feeds the stats and the series
    st = h.groupBy("event_type").agg(
        stable_round(F.avg("x"), 6).alias("mu"),
        stable_round(F.stddev_samp("x"), 6).alias("sd"),
        F.count(F.lit(1)).cast("long").alias("nh"),
    )
    wcs = (
        Window.partitionBy("event_type")
        .orderBy("hour_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cs = pinned(  # consumed by the max, the argmax, and the final join
        h.join(F.broadcast(st), "event_type").select(
            "event_type",
            "hour_idx",
            "nh",
            "sd",
            F.sum(F.col("x") - F.col("mu")).over(wcs).alias("cusum"),
        )
    )
    mx = cs.groupBy("event_type", "nh", "sd").agg(
        F.max(F.abs(F.col("cusum"))).alias("s_max")
    )
    cp = (
        cs.join(
            F.broadcast(mx.select("event_type", "s_max")), "event_type"
        )
        .filter(F.abs(F.col("cusum")) == F.col("s_max"))
        .groupBy("event_type")
        .agg(F.min("hour_idx").alias("cp_hour_idx"))
    )
    return mx.join(F.broadcast(cp), "event_type").select(
        "event_type",
        F.col("nh").alias("n_hours"),
        stable_round(F.col("s_max"), 4).alias("max_cusum"),
        "cp_hour_idx",
        (
            F.col("s_max") > CUSUM_C * F.col("sd") * F.sqrt(F.col("nh"))
        ).alias("drifted"),
    )


#: EWMA decay: weight (1-EWMA_ALPHA)^lag, truncated at EWMA_WINDOW
#: hourly lags (the truncation makes the smoother a bounded equi-join
#: instead of an unbounded sequential fold).
EWMA_ALPHA = 0.3
EWMA_WINDOW = 24


@query(
    "ts_ewma_smoothing",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             floor(epoch(ts) / 3600)::BIGINT AS hour_idx,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
    ),
    lag_join AS (
      SELECT cur.event_type, cur.hour_idx,
             sum(pow(1.0 - {EWMA_ALPHA}, cur.hour_idx - prev.hour_idx)
                 * prev.x) AS wx,
             sum(pow(1.0 - {EWMA_ALPHA}, cur.hour_idx - prev.hour_idx))
               AS wsum,
             count(*)::BIGINT AS n_lags
      FROM h cur
      JOIN h prev
        ON prev.event_type = cur.event_type
       AND prev.hour_idx BETWEEN cur.hour_idx - {EWMA_WINDOW - 1}
                             AND cur.hour_idx
      GROUP BY 1, 2
    )
    SELECT event_type, hour_idx, n_lags,
           round(wx / wsum, 4) AS ewma
    FROM lag_join
    """,
)
def ts_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average of the hourly
    value series per event type: weight (1−α)^lag over the last 24
    hourly buckets, normalized by the realized weight mass (so series
    heads and gap hours are unbiased) — the smoother dashboards and
    anomaly baselines actually ship, in the truncated form that is
    expressible as a BOUNDED join instead of an order-dependent
    recursive fold.

    Scale: the fact collapses to the hourly rollup first; the lag
    structure is an EQUI-join of that rollup with itself on
    (event_type, offset) — at most 24 matches per row, generated by
    offset explosion on the Spark side so the join never range-scans.
    Hourly means are pre-rounded so both engines weight identical
    inputs; gaps in the hour sequence shrink n_lags rather than
    shifting weights, because the weight is a function of the HOUR
    DISTANCE, not the row distance."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias(
            "hour_idx"
        ),
    ).agg(stable_round(F.avg("value"), 6).alias("x"))
    # offset explosion -> equi-join on (event_type, hour_idx - off):
    # Catalyst plans a hash join; the BETWEEN form would be a range
    # join (nested-loop at scale)
    offs = h.select(
        "event_type",
        "x",
        F.explode(
            F.sequence(F.lit(0), F.lit(EWMA_WINDOW - 1))
        ).alias("off"),
        F.col("hour_idx").alias("prev_idx"),
    ).select(
        "event_type",
        "x",
        "off",
        (F.col("prev_idx") + F.col("off")).alias("hour_idx"),
    )
    cur = h.select("event_type", "hour_idx")
    return (
        cur.join(offs, ["event_type", "hour_idx"])
        .groupBy("event_type", "hour_idx")
        .agg(
            F.sum(
                F.pow(F.lit(1.0 - EWMA_ALPHA), F.col("off")) * F.col("x")
            ).alias("wx"),
            F.sum(F.pow(F.lit(1.0 - EWMA_ALPHA), F.col("off"))).alias(
                "wsum"
            ),
            F.count(F.lit(1)).cast("long").alias("n_lags"),
        )
        .select(
            "event_type",
            "hour_idx",
            "n_lags",
            stable_round(F.col("wx") / F.col("wsum"), 4).alias("ewma"),
        )
    )


# ---------------------------------------------- round 9: quality/drift
#: PSI bin count (deciles), Laplace smoothing, and the industry alert
#: threshold (0.1 = monitor, 0.2 = investigate).
PSI_BINS = 10
PSI_SMOOTH = 0.5
PSI_ALERT = 0.2
#: Snapshot split point: first half of the event month is the
#: reference distribution, second half the comparison.
PSI_SPLIT = "2024-01-16"


def _psi_edges_sql() -> str:
    qs = [i / PSI_BINS for i in range(1, PSI_BINS)]
    cols = ", ".join(
        f"round(percentile_cont({q}) WITHIN GROUP (ORDER BY value), 6)"
        f" AS e{i}"
        for i, q in enumerate(qs, 1)
    )
    return cols


@query(
    "quality_psi_drift",
    oracle=f"""
    WITH v AS (
      SELECT event_type, value,
             sum(CASE WHEN ts < TIMESTAMP '{PSI_SPLIT}' THEN 1 ELSE 0
                 END)::BIGINT AS c1,
             sum(CASE WHEN ts >= TIMESTAMP '{PSI_SPLIT}' THEN 1 ELSE 0
                 END)::BIGINT AS c2
      FROM events GROUP BY 1, 2
    ),
    edges AS (
      SELECT event_type, {_psi_edges_sql()}
      FROM events WHERE ts < TIMESTAMP '{PSI_SPLIT}' GROUP BY 1
    ),
    binned AS (
      SELECT v.event_type,
             ({" + ".join(f"CASE WHEN v.value > e.e{i} THEN 1 ELSE 0 END"
                          for i in range(1, PSI_BINS))}) AS bin,
             sum(v.c1)::BIGINT AS n1, sum(v.c2)::BIGINT AS n2
      FROM v JOIN edges e USING (event_type)
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, sum(n1) AS t1, sum(n2) AS t2 FROM binned
      GROUP BY 1
    ),
    terms AS (
      SELECT b.event_type, t.t1::BIGINT AS n_ref, t.t2::BIGINT AS n_cur,
             ((b.n1 + {PSI_SMOOTH}) / (t.t1 + {PSI_SMOOTH * PSI_BINS}))
               AS p1,
             ((b.n2 + {PSI_SMOOTH}) / (t.t2 + {PSI_SMOOTH * PSI_BINS}))
               AS p2
      FROM binned b JOIN tot t USING (event_type)
    )
    SELECT event_type, n_ref, n_cur,
           round(sum((p2 - p1) * ln(p2 / p1)), 6) AS psi,
           round(sum((p2 - p1) * ln(p2 / p1)), 6) > {PSI_ALERT}
             AS drifted
    FROM terms GROUP BY 1, 2, 3
    """,
)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between the first and
    second half of the month: decile edges from the reference half,
    both halves binned against those edges, PSI = Σ(p₂−p₁)ln(p₂/p₁)
    with Laplace-smoothed proportions — the model-monitoring staple
    for "did this feature's distribution move", alerting at 0.2. The
    KS twin (``stats_ks_drift``) answers with a sup-norm; PSI weights
    the whole distribution and is what scorecard governance expects.

    Scale: one conditional aggregate collapses the fact to
    VALUE-cardinality (c_ref, c_cur) rows; decile edges are a
    per-type sort-aggregate over the reference half ROUNDED to 6 so
    both engines cut identical boundaries; binning joins the collapsed
    frame against the broadcast 9-edge frame; all PSI arithmetic runs
    on the (type × 10)-row frame. The drift verdict compares the
    ROUNDED psi, so the alert cannot flip on float dust."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(PSI_SPLIT).cast("timestamp")
    v = ev.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("ts") < split, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("ts") >= split, 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    qs = [i / PSI_BINS for i in range(1, PSI_BINS)]
    edges = (
        ev.filter(F.col("ts") < split)
        .groupBy("event_type")
        .agg(
            *[
                stable_round(
                    F.percentile("value", F.lit(q)), 6
                ).alias(f"e{i}")
                for i, q in enumerate(qs, 1)
            ]
        )
    )
    bin_expr = sum(
        F.when(F.col("value") > F.col(f"e{i}"), 1).otherwise(0)
        for i in range(1, PSI_BINS)
    )
    from kafka_go_streamer_spark.operators.iterate import pinned

    # type x 10 rows; pinned because BOTH the totals and the final PSI
    # read it — unpinned, each consumer re-plans the two fact scans
    # underneath (4 scans observed; pinned, the two genuine passes:
    # one for the value counts, one for the percentile edges)
    binned = pinned(
        v.join(F.broadcast(edges), "event_type")
        .groupBy("event_type", bin_expr.alias("bin"))
        .agg(
            F.sum("c1").cast("long").alias("n1"),
            F.sum("c2").cast("long").alias("n2"),
        )
    )
    tot = binned.groupBy("event_type").agg(
        F.sum("n1").alias("t1"), F.sum("n2").alias("t2")
    )
    sm, smb = PSI_SMOOTH, PSI_SMOOTH * PSI_BINS
    p1 = (F.col("n1") + sm) / (F.col("t1") + smb)
    p2 = (F.col("n2") + sm) / (F.col("t2") + smb)
    psi = stable_round(F.sum((p2 - p1) * F.log(p2 / p1)), 6)
    return (
        binned.join(F.broadcast(tot), "event_type")
        .groupBy(
            "event_type",
            F.col("t1").cast("long").alias("n_ref"),
            F.col("t2").cast("long").alias("n_cur"),
        )
        .agg(
            psi.alias("psi"),
            (psi > PSI_ALERT).alias("drifted"),
        )
    )


@query(
    "stats_theil_sen_slope",
    oracle="""
    WITH d AS (
      SELECT event_type,
             floor(epoch(ts) / 86400)::BIGINT AS day_idx,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             (b.x - a.x) / (b.day_idx - a.day_idx) AS slope
      FROM d a JOIN d b
        ON b.event_type = a.event_type AND b.day_idx > a.day_idx
    )
    SELECT event_type,
           count(*)::BIGINT AS n_pairs,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY slope), 6)
             AS theil_sen_slope
    FROM pairs GROUP BY 1
    """,
)
def stats_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimator per event type: the median of
    all pairwise slopes of the DAILY value means — the
    breakdown-point-29% answer to "is this metric trending" that a
    single outlier day cannot move (its OLS twin is
    ``stats_groupwise_ols``; one bad day swings that slope freely).

    Scale: the fact collapses to the DAY rollup first (one map-side
    combinable pass, ~30 rows per type per month), so the pairwise
    self-join is bounded at rollup²-per-type — a few hundred pairs —
    never a pair join over raw events; the median is a sort-aggregate
    over that pair frame. Daily means are pre-rounded so both engines
    difference identical doubles. For multi-year series, the same
    estimator runs per bounded window (e.g. quarter) and medians
    combine via the KLL sketch."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias(
            "day_idx"
        ),
    ).agg(stable_round(F.avg("value"), 6).alias("x"))
    a = d.select(
        "event_type",
        F.col("day_idx").alias("da"),
        F.col("x").alias("xa"),
    )
    b = d.select(
        "event_type",
        F.col("day_idx").alias("db"),
        F.col("x").alias("xb"),
    )
    pairs = a.join(b, "event_type").filter(
        F.col("db") > F.col("da")
    ).select(
        "event_type",
        (
            (F.col("xb") - F.col("xa")) / (F.col("db") - F.col("da"))
        ).alias("slope"),
    )
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        stable_round(
            F.percentile("slope", F.lit(0.5)), 6
        ).alias("theil_sen_slope"),
    )


#: TOST equivalence margin as a fraction of the pooled mean, and the
#: one-sided z critical value at alpha=0.05 (asymptotic: the cohort
#: sizes here are thousands, where t ~ z).
TOST_MARGIN_FRAC = 0.05
TOST_Z = 1.645


@query(
    "stats_tost_equivalence",
    oracle=f"""
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
      SELECT na, nb,
             mb - ma AS diff,
             {TOST_MARGIN_FRAC} * (na * ma + nb * mb) / (na + nb)
               AS margin,
             sqrt(va / na + vb / nb) AS se
      FROM w
    )
    SELECT na AS n_a, nb AS n_b,
           round(diff, 6) AS mean_diff,
           round(margin, 6) AS margin,
           round(se, 6) AS se,
           round((diff + margin) / se, 4) AS t_lower,
           round((margin - diff) / se, 4) AS t_upper,
           (round((diff + margin) / se, 4) > {TOST_Z}
            AND round((margin - diff) / se, 4) > {TOST_Z})
             AS equivalent
    FROM s
    """,
)
def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests) between the A/B
    cohorts' purchase values: is the mean difference PROVABLY inside
    ±5% of the pooled mean — the statistically sound way to certify
    "this change did nothing", which a non-significant Welch test
    (its twin ``stats_ab_welch_ttest``) can never do. Both one-sided
    statistics must clear the z critical value; the verdict compares
    ROUNDED statistics so the boundary cannot flip on float dust.

    Scale: one conditional-aggregate pass collapses the fact to two
    (n, mean, variance) rows; all TOST algebra runs on that 1-row
    pivot — the same sufficient-statistics discipline as Welch/ANOVA."""
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
    w = g.agg(
        *[
            F.max(F.when(F.col("grp") == grp, F.col(c))).alias(f"{c}{grp}")
            for c in ("n", "m", "v")
            for grp in ("a", "b")
        ]
    )
    diff = F.col("mb") - F.col("ma")
    margin = (
        TOST_MARGIN_FRAC
        * (F.col("na") * F.col("ma") + F.col("nb") * F.col("mb"))
        / (F.col("na") + F.col("nb"))
    )
    se = F.sqrt(F.col("va") / F.col("na") + F.col("vb") / F.col("nb"))
    t_lo = stable_round((diff + margin) / se, 4)
    t_hi = stable_round((margin - diff) / se, 4)
    return w.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        stable_round(diff, 6).alias("mean_diff"),
        stable_round(margin, 6).alias("margin"),
        stable_round(se, 6).alias("se"),
        t_lo.alias("t_lower"),
        t_hi.alias("t_upper"),
        ((t_lo > TOST_Z) & (t_hi > TOST_Z)).alias("equivalent"),
    )


#: Deseasonalized-anomaly report size.
DSA_TOP = 10


@query(
    "ts_deseasonalized_anomaly",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             floor(epoch(ts) / 3600)::BIGINT AS hour_idx,
             floor(epoch(ts) / 86400)::BIGINT AS day,
             (floor(epoch(ts) / 3600) % 24)::BIGINT AS hod,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2, 3, 4
    ),
    si AS (
      SELECT event_type, hod,
             round(avg(x), 6) AS hod_mean
      FROM h GROUP BY 1, 2
    ),
    tm AS (SELECT event_type, round(avg(x), 6) AS typ_mean FROM h
           GROUP BY 1),
    dl AS (
      SELECT event_type, day, round(avg(x), 6) AS day_level
      FROM h GROUP BY 1, 2
    ),
    res AS (
      SELECT h.event_type, h.hour_idx,
             round(h.x - dl.day_level * si.hod_mean / tm.typ_mean, 6)
               AS resid
      FROM h
      JOIN si ON si.event_type = h.event_type AND si.hod = h.hod
      JOIN dl ON dl.event_type = h.event_type AND dl.day = h.day
      JOIN tm ON tm.event_type = h.event_type
    ),
    st AS (
      SELECT event_type, round(avg(resid), 6) AS mu,
             round(stddev_samp(resid), 6) AS sd
      FROM res GROUP BY 1
    )
    SELECT r.event_type, r.hour_idx, r.resid,
           round((r.resid - st.mu) / st.sd, 4) AS resid_z
    FROM res r JOIN st USING (event_type)
    ORDER BY abs(round((r.resid - st.mu) / st.sd, 4)) DESC,
             r.event_type ASC, r.hour_idx ASC
    LIMIT {DSA_TOP}
    """,
)
def ts_deseasonalized_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly detection: expected hourly value =
    day level × hour-of-day index (the multiplicative decomposition of
    ``ts_seasonal_profile``), residual z-scores over the remainder,
    top-|{DSA_TOP}| excursions reported — the detector that does NOT
    fire every midnight like a raw z-score does on a diurnal metric
    (its naive twin is ``events_zscore_anomaly``).

    Scale: one pass collapses the fact to the hourly rollup, which is
    PINNED — the seasonal index, type mean, day level, residual join,
    and z-score stats all read the materialized rollup, so the fact
    parquet is scanned exactly once (unpinned, the four consumers
    re-derive it: 8 fact scans in the physical plan); residuals join
    the rollup against three broadcast frames. Every intermediate is
    pre-rounded, so both engines difference identical doubles and the
    top-k (ordered by the ROUNDED z with key tiebreaks) cuts
    identically."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias(
            "hour_idx"
        ),
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
        (F.floor(F.unix_timestamp("ts") / 3600) % 24)
        .cast("long")
        .alias("hod"),
    ).agg(stable_round(F.avg("value"), 6).alias("x"))
    h = pinned(h)  # one fact scan feeds all four consumers
    si = h.groupBy("event_type", "hod").agg(
        stable_round(F.avg("x"), 6).alias("hod_mean")
    )
    tm = h.groupBy("event_type").agg(
        stable_round(F.avg("x"), 6).alias("typ_mean")
    )
    dl = h.groupBy("event_type", "day").agg(
        stable_round(F.avg("x"), 6).alias("day_level")
    )
    res = (
        h.join(F.broadcast(si), ["event_type", "hod"])
        .join(F.broadcast(dl), ["event_type", "day"])
        .join(F.broadcast(tm), "event_type")
        .select(
            "event_type",
            "hour_idx",
            stable_round(
                F.col("x")
                - F.col("day_level")
                * F.col("hod_mean")
                / F.col("typ_mean"),
                6,
            ).alias("resid"),
        )
    )
    st = res.groupBy("event_type").agg(
        stable_round(F.avg("resid"), 6).alias("mu"),
        stable_round(F.stddev_samp("resid"), 6).alias("sd"),
    )
    z = stable_round((F.col("resid") - F.col("mu")) / F.col("sd"), 4)
    return (
        res.join(F.broadcast(st), "event_type")
        .select("event_type", "hour_idx", "resid", z.alias("resid_z"))
        .orderBy(
            F.abs(F.col("resid_z")).desc(),
            F.col("event_type").asc(),
            F.col("hour_idx").asc(),
        )
        .limit(DSA_TOP)
    )


@query(
    "stats_spearman_corr",
    oracle="""
    WITH r AS (
      SELECT event_type,
             rank() OVER (PARTITION BY event_type ORDER BY value)
               + (count(*) OVER (PARTITION BY event_type, value) - 1)
                 / 2.0 AS rv,
             rank() OVER (PARTITION BY event_type ORDER BY epoch(ts))
               + (count(*) OVER (PARTITION BY event_type, epoch(ts))
                  - 1) / 2.0 AS rt
      FROM events
    ),
    c AS (
      SELECT event_type,
             rv - (count(*) OVER (PARTITION BY event_type) + 1) / 2.0
               AS rvc,
             rt - (count(*) OVER (PARTITION BY event_type) + 1) / 2.0
               AS rtc
      FROM r
    )
    SELECT event_type,
           count(*)::BIGINT AS n,
           round(round(sum(rvc * rtc), 0)
                 / (sqrt(round(sum(rvc * rvc), 0))
                    * sqrt(round(sum(rtc * rtc), 0))), 6)
             AS spearman_rho
    FROM c GROUP BY 1
    """,
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between value and event time per
    event type (tie-averaged ranks): the monotone-trend test that sees
    ANY monotone drift — not just linear (Pearson/OLS) — and shrugs at
    outliers; ρ>0 means the metric is creeping up over the month in a
    way robust to scale and spikes. Completes the rank-statistics
    family (Mann–Whitney compares groups, Theil–Sen fits a slope,
    Spearman scores monotonicity).

    Scale: ONE window shuffle on event_type produces both tie-averaged
    rank columns (min-rank + half the tie-group size — identical
    semantics in both engines); the correlation is a
    sufficient-statistics aggregate of the ranked frame. At extreme
    per-type cardinalities the ranks come from the value-collapsed
    ECDF frame (the stats_ks_drift collapse) instead of a raw window,
    with the same downstream algebra."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    rv = (
        F.rank().over(
            Window.partitionBy("event_type").orderBy("value")
        )
        + (
            F.count(F.lit(1)).over(
                Window.partitionBy("event_type", "value")
            )
            - 1
        )
        / 2.0
    )
    # fractional-second epoch: unix_timestamp() truncates to whole
    # seconds, which collapses distinct event times into ties that
    # DuckDB's epoch() (microsecond fraction) keeps apart — the rank
    # key must carry the fraction on both engines
    et = F.col("ts").cast("double")
    rt = (
        F.rank().over(Window.partitionBy("event_type").orderBy(et))
        + (
            F.count(F.lit(1)).over(
                Window.partitionBy("event_type", et)
            )
            - 1
        )
        / 2.0
    )
    r = ev.select("event_type", rv.alias("rv"), rt.alias("rt"))
    # center by the exact mean rank (n+1)/2 BEFORE the product sums:
    # the uncentered E[XY]-E[X]E[Y] form cancels ~6 leading digits at
    # these rank magnitudes and the engines' sum orders diverge in the
    # residue (observed 1e-6 rho drift); centered products don't cancel
    nw = F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    c = r.select(
        "event_type",
        (F.col("rv") - (nw + 1) / 2.0).alias("rvc"),
        (F.col("rt") - (nw + 1) / 2.0).alias("rtc"),
    )
    # the three sufficient sums are rounded to INTEGERS before the
    # division: their accumulation-order drift (~1e-2 at these
    # magnitudes) vanishes against the 0.5 boundary gap, while the
    # integer quantization perturbs rho by < 1e-9 — so both engines
    # divide identical numbers
    return c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        stable_round(
            stable_round(F.sum(F.col("rvc") * F.col("rtc")), 0)
            / (
                F.sqrt(
                    stable_round(F.sum(F.col("rvc") * F.col("rvc")), 0)
                )
                * F.sqrt(
                    stable_round(F.sum(F.col("rtc") * F.col("rtc")), 0)
                )
            ),
            6,
        ).alias("spearman_rho"),
    )


#: ACF lags reported (hourly series).
ACF_MAX_LAG = 6


@query(
    "ts_autocorrelation_acf",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             floor(epoch(ts) / 3600)::BIGINT AS hour_idx,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, round(avg(x), 6) AS mu,
             sum(pow(x - (SELECT round(avg(x2.x), 6) FROM h x2
                          WHERE x2.event_type = h.event_type), 2))
               AS denom
      FROM h GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag),
    prod AS (
      SELECT a.event_type, l.lag,
             count(*)::BIGINT AS n_pairs,
             sum((a.x - st.mu) * (b.x - st.mu)) AS num
      FROM h a
      CROSS JOIN lags l
      JOIN h b ON b.event_type = a.event_type
              AND b.hour_idx = a.hour_idx + l.lag
      JOIN st ON st.event_type = a.event_type
      GROUP BY 1, 2
    )
    SELECT p.event_type, p.lag::BIGINT AS lag, p.n_pairs,
           round(p.num / st.denom, 6) AS acf
    FROM prod p JOIN st USING (event_type)
    """,
)
def ts_autocorrelation_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly value series per event
    type, lags 1..{ACF_MAX_LAG}: the diagnostic that separates
    white-noise metrics from sticky ones (high lag-1) and surfaces
    periodicity (a lag-24 spike = diurnal) — the first plot a
    forecaster draws, and the empirical justification for the EWMA
    smoother's decay choice.

    Scale: the fact collapses to the hourly rollup first; each lag's
    product sum is an EQUI-join of the rollup with itself on
    (event_type, hour+lag) — generated by a lag explode, never a
    range join — and the denominator is one aggregate of the same
    rollup. The rollup is bounded by |types| x |hours| (calendar-
    sized, independent of fact volume), so the un-exploded right side
    is broadcast: the lag join plans hash, not sort-merge, at any
    corpus size. Pre-rounded hourly means and mean make both engines
    multiply identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias(
            "hour_idx"
        ),
    ).agg(stable_round(F.avg("value"), 6).alias("x"))
    from kafka_go_streamer_spark.operators.iterate import pinned

    h = pinned(h)  # consumed by stats, left and right of the lag join
    mu = h.groupBy("event_type").agg(
        stable_round(F.avg("x"), 6).alias("mu")
    )
    st = (
        h.join(F.broadcast(mu), "event_type")
        .groupBy("event_type", "mu")
        .agg(F.sum(F.pow(F.col("x") - F.col("mu"), 2)).alias("denom"))
    )
    a = h.select(
        "event_type",
        "hour_idx",
        F.col("x").alias("xa"),
        F.explode(
            F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))
        ).alias("lag"),
    ).select(
        "event_type",
        "lag",
        (F.col("hour_idx") + F.col("lag")).alias("hour_idx"),
        "xa",
    )
    b = h.select(
        "event_type", "hour_idx", F.col("x").alias("xb")
    )
    return (
        a.join(F.broadcast(b), ["event_type", "hour_idx"])
        .join(F.broadcast(st), "event_type")
        .groupBy("event_type", F.col("lag").cast("long").alias("lag"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            stable_round(
                F.sum(
                    (F.col("xa") - F.col("mu"))
                    * (F.col("xb") - F.col("mu"))
                )
                / F.first("denom"),
                6,
            ).alias("acf"),
        )
    )


@query(
    "stats_jarque_bera",
    oracle="""
    WITH st AS (
      SELECT event_type, count(*)::BIGINT AS n,
             round(avg(value), 6) AS mu,
             round(stddev_samp(value), 6) AS sd
      FROM events GROUP BY 1
    ),
    z AS (
      SELECT e.event_type, s.n,
             round((e.value - s.mu) / s.sd, 6) AS z
      FROM events e JOIN st s USING (event_type)
    ),
    m AS (
      SELECT event_type, max(n)::BIGINT AS n,
             round(avg(z * z * z), 6) AS skew,
             round(avg(z * z * z * z) - 3.0, 6) AS ex_kurt
      FROM z GROUP BY 1
    )
    SELECT event_type, n, skew AS skewness, ex_kurt AS ex_kurtosis,
           round(n / 6.0 * (skew * skew + ex_kurt * ex_kurt / 4.0), 4)
             AS jb_stat
    FROM m ORDER BY event_type
    """,
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per event type: skewness and excess
    kurtosis of the standardized values, combined into the asymptotic
    chi-square(2) statistic n/6*(S^2 + K^2/4) — the screening question
    every parametric test in this family (Welch, ANOVA, OLS bands)
    silently assumes an answer to. A huge JB says "use the rank tests
    instead" (Mann-Whitney / Spearman live right here).

    Scale: two map-side-combinable passes, both keyed on event_type —
    one for (n, mean, sd), one for the standardized third/fourth
    moments; the k-row stats frame broadcasts back into the scan.
    Standardizing BEFORE the moment sums keeps every accumulator O(n)
    instead of O(max(x)^4·n), which is what makes the cross-engine
    rounding stable (raw fourth-power sums at 1e15 magnitudes drift
    past any fixed decimal)."""
    ev = load_table(spark, sf_dir, "events")
    st = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        stable_round(F.avg("value"), 6).alias("mu"),
        stable_round(F.stddev_samp("value"), 6).alias("sd"),
    )
    z = ev.join(F.broadcast(st), "event_type").select(
        "event_type",
        "n",
        stable_round(
            (F.col("value") - F.col("mu")) / F.col("sd"), 6
        ).alias("z"),
    )
    zc = F.col("z")
    m = z.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        stable_round(F.avg(zc * zc * zc), 6).alias("skewness"),
        stable_round(F.avg(zc * zc * zc * zc) - 3.0, 6).alias(
            "ex_kurtosis"
        ),
    )
    return m.select(
        "event_type",
        "n",
        "skewness",
        "ex_kurtosis",
        stable_round(
            F.col("n")
            / 6.0
            * (
                F.col("skewness") * F.col("skewness")
                + F.col("ex_kurtosis") * F.col("ex_kurtosis") / 4.0
            ),
            4,
        ).alias("jb_stat"),
    ).orderBy("event_type")


@query(
    "stats_levene_bf",
    oracle="""
    WITH med AS (
      SELECT event_type,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
      FROM events GROUP BY 1
    ),
    z AS (
      SELECT e.event_type,
             round(abs(e.value - m.med), 6) AS z
      FROM events e JOIN med m USING (event_type)
    ),
    g AS (
      SELECT event_type, count(*)::BIGINT AS n,
             sum(z) AS s, sum(z * z) AS ss
      FROM z GROUP BY 1
    ),
    t AS (SELECT sum(n)::BIGINT AS nn, sum(s) AS gs,
                 count(*)::BIGINT AS k FROM g),
    c AS (
      SELECT t.k, t.nn,
             sum(g.n * pow(g.s / g.n - t.gs / t.nn, 2)) AS ssb,
             sum(g.ss - g.s * g.s / g.n) AS ssw
      FROM g CROSS JOIN t GROUP BY 1, 2
    )
    SELECT k AS k_groups, nn AS n_total,
           round((ssb / (k - 1)) / (ssw / (nn - k)), 4) AS bf_stat
    FROM c
    """,
)
def stats_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene's test with the median center) for
    equality of variances across event types: one-way ANOVA run on the
    absolute deviations from each group's MEDIAN — the
    heteroscedasticity gate for the pooled tests, robust to the heavy
    tails that break the classic mean-centered Levene. Completes the
    assumption-checking pair with ``stats_jarque_bera`` (that one asks
    "is it normal", this one asks "are the spreads equal").

    Scale: the exact per-group median is ONE sort-based aggregate
    keyed on event_type (same primitive as ``stats_mad_outliers``);
    the deviations pass is a broadcast-join + map-side-combinable
    (n, sum, sumsq) collapse to k rows, and every downstream term is
    arithmetic on that k-row frame — identical shuffle discipline to
    ``stats_anova_oneway``, which shares its F-statistic algebra."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        stable_round(F.abs(F.col("value") - F.col("med")), 6).alias(
            "z"
        ),
    )
    from kafka_go_streamer_spark.operators.iterate import pinned

    # k rows; pinned because both the grand totals and the SSB/SSW
    # pass read it — unpinned, each re-plans the median + deviation
    # fact scans underneath (4 scans observed; pinned, exactly 2:
    # the genuine median pass and the deviation pass)
    g = pinned(
        z.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("z").alias("s"),
            F.sum(F.col("z") * F.col("z")).alias("ss"),
        )
    )
    t = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").alias("gs"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    c = (
        g.crossJoin(F.broadcast(t))
        .groupBy("k", "nn")
        .agg(
            F.sum(
                F.col("n")
                * F.pow(
                    F.col("s") / F.col("n")
                    - F.col("gs") / F.col("nn"),
                    2,
                )
            ).alias("ssb"),
            F.sum(
                F.col("ss") - F.col("s") * F.col("s") / F.col("n")
            ).alias("ssw"),
        )
    )
    return c.select(
        F.col("k").alias("k_groups"),
        F.col("nn").alias("n_total"),
        stable_round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("nn") - F.col("k"))),
            4,
        ).alias("bf_stat"),
    )


#: Kaplan-Meier censoring window: users whose LAST event falls within
#: this many seconds of the observation horizon are censored (still
#: active), not churned.
KM_CENSOR_S = 7 * 24 * 3600


@query(
    "events_kaplan_meier",
    oracle=f"""
    WITH u AS (
      SELECT user_id, min(epoch(ts)) AS first_s, max(epoch(ts)) AS last_s
      FROM events GROUP BY 1
    ),
    hz AS (SELECT max(last_s) AS horizon FROM u),
    lab AS (
      SELECT floor((u.last_s - u.first_s) / 86400.0)::BIGINT AS dur,
             CASE WHEN hz.horizon - u.last_s < {KM_CENSOR_S}
                  THEN 0 ELSE 1 END AS churned
      FROM u CROSS JOIN hz
    ),
    d AS (
      SELECT dur, sum(churned)::BIGINT AS n_events,
             sum(1 - churned)::BIGINT AS n_censored,
             count(*)::BIGINT AS n_at
      FROM lab GROUP BY 1
    ),
    tot AS (SELECT sum(n_at)::BIGINT AS n_users FROM d),
    r AS (
      SELECT dur, n_events, n_censored,
             (t.n_users - coalesce(sum(n_at) OVER (
                ORDER BY dur
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ), 0))::BIGINT AS n_risk
      FROM d CROSS JOIN tot t
    ),
    s AS (
      SELECT dur, n_risk, n_events, n_censored,
             sum(ln(greatest(
               1.0 - n_events * 1.0 / n_risk, 1e-12
             ))) OVER (ORDER BY dur) AS ls
      FROM r
    )
    SELECT dur AS duration_days, n_risk, n_events, n_censored,
           round(exp(ls), 6) AS survival
    FROM s ORDER BY duration_days
    """,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes (first event to
    last event, in days), with right-censoring for users whose last
    event falls inside the final week of the observation window — the
    estimator every churn analysis should use instead of the naive
    "fraction still here at day d" (which silently treats
    still-active users as churned; ``events_churn_survival`` is that
    naive cousin). S(d) is the product-limit over at-risk counts.

    Scale: the fact collapses to ONE user-keyed aggregate (first/last
    epoch), then to a DURATION-cardinality frame (days, dozens of
    rows) — the cumulative at-risk window and the product-limit
    (via exp-sum-log, zero-guarded identically on both engines) run
    on that tiny frame, never on events. The horizon is a broadcast
    1-row aggregate of the user frame, not a second fact scan."""
    ev = load_table(spark, sf_dir, "events")
    tsd = F.col("ts").cast("double")
    u = ev.groupBy("user_id").agg(
        F.min(tsd).alias("first_s"), F.max(tsd).alias("last_s")
    )
    from kafka_go_streamer_spark.operators.iterate import pinned

    u = pinned(u)  # consumed by horizon AND labels: one user collapse
    hz = u.agg(F.max("last_s").alias("horizon"))
    lab = u.crossJoin(F.broadcast(hz)).select(
        F.floor((F.col("last_s") - F.col("first_s")) / 86400.0)
        .cast("long")
        .alias("dur"),
        F.when(
            F.col("horizon") - F.col("last_s") < KM_CENSOR_S, 0
        )
        .otherwise(1)
        .alias("churned"),
    )
    d = lab.groupBy("dur").agg(
        F.sum("churned").cast("long").alias("n_events"),
        F.sum(1 - F.col("churned")).cast("long").alias("n_censored"),
        F.count(F.lit(1)).cast("long").alias("n_at"),
    )
    d = pinned(d)  # duration-cardinality; feeds total AND the curve
    tot = d.agg(F.sum("n_at").cast("long").alias("n_users"))
    wcum = (
        Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = d.crossJoin(F.broadcast(tot)).select(
        "dur",
        "n_events",
        "n_censored",
        (
            F.col("n_users")
            - F.coalesce(F.sum("n_at").over(wcum), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    wall = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ls = F.sum(
        F.log(
            F.greatest(
                1.0 - F.col("n_events") * 1.0 / F.col("n_risk"),
                F.lit(1e-12),
            )
        )
    ).over(wall)
    return r.select(
        F.col("dur").alias("duration_days"),
        "n_risk",
        "n_events",
        "n_censored",
        stable_round(F.exp(ls), 6).alias("survival"),
    ).orderBy("duration_days")


@query(
    "stats_kendall_tau_daily",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT a.event_type,
             sum(CASE WHEN b.x > a.x THEN 1 ELSE 0 END)::BIGINT
               AS concordant,
             sum(CASE WHEN b.x < a.x THEN 1 ELSE 0 END)::BIGINT
               AS discordant,
             sum(CASE WHEN b.x = a.x THEN 1 ELSE 0 END)::BIGINT AS tx
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.day < b.day
      GROUP BY 1
    ),
    n AS (SELECT event_type, count(*)::BIGINT AS n FROM d GROUP BY 1)
    SELECT p.event_type, n.n AS n_days, p.concordant, p.discordant,
           round((p.concordant - p.discordant)
                 / sqrt((n.n * (n.n - 1) / 2.0 - p.tx)
                        * (n.n * (n.n - 1) / 2.0)), 6) AS kendall_tau
    FROM p JOIN n USING (event_type) ORDER BY event_type
    """,
)
def stats_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between the DAILY mean value and calendar time,
    per event type: the pair-counting monotone-trend test that
    completes the rank family (Spearman correlates the ranks,
    Theil-Sen fits the slope, Kendall counts inversions — its tau has
    the cleanest interpretation: P(concordant) − P(discordant)).
    Days are distinct so time contributes no ties; value ties get the
    tau-b correction from the tied-pair count.

    Scale: pair counting is quadratic, so it runs on the DAY-grain
    rollup (one map-side-combinable shuffle collapses the fact to
    |types|×|days| rows), never on raw events — the self-join is a
    broadcast over a frame whose size is fixed by the calendar, not
    the data volume. Every accumulator is an integer until the final
    division, so the engines agree bit-for-bit before rounding."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(stable_round(F.avg("value"), 6).alias("x"))
    from kafka_go_streamer_spark.operators.iterate import pinned

    d = pinned(d)  # one day-rollup feeds both pair arms and the count
    a = d.select(
        "event_type", F.col("day").alias("da"), F.col("x").alias("xa")
    )
    b = d.select(
        "event_type", F.col("day").alias("db"), F.col("x").alias("xb")
    )
    p = (
        a.join(
            F.broadcast(b),
            ["event_type"],
        )
        .filter(F.col("da") < F.col("db"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1).otherwise(0)
            )
            .cast("long")
            .alias("concordant"),
            F.sum(
                F.when(F.col("xb") < F.col("xa"), 1).otherwise(0)
            )
            .cast("long")
            .alias("discordant"),
            F.sum(
                F.when(F.col("xb") == F.col("xa"), 1).otherwise(0)
            )
            .cast("long")
            .alias("tx"),
        )
    )
    n = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    n0 = F.col("n_days") * (F.col("n_days") - 1) / 2.0
    return (
        p.join(F.broadcast(n), "event_type")
        .select(
            "event_type",
            "n_days",
            "concordant",
            "discordant",
            stable_round(
                (F.col("concordant") - F.col("discordant"))
                / F.sqrt((n0 - F.col("tx")) * n0),
                6,
            ).alias("kendall_tau"),
        )
        .orderBy("event_type")
    )


def _ljung_box_oracle() -> str:
    from kafka_go_streamer_spark.plans.registry import ORACLES

    acf = ORACLES["ts_autocorrelation_acf"]
    return f"""
    WITH acf AS ({acf}),
    nn AS (
      SELECT event_type, count(*)::BIGINT AS n FROM (
        SELECT event_type, floor(epoch(ts) / 3600)::BIGINT AS hour_idx
        FROM events GROUP BY 1, 2
      ) GROUP BY 1
    )
    SELECT a.event_type, nn.n AS n_hours, count(*)::BIGINT AS m_lags,
           round(nn.n * (nn.n + 2.0)
                 * sum(a.acf * a.acf / (nn.n - a.lag)), 4) AS lb_stat
    FROM acf a JOIN nn USING (event_type)
    GROUP BY 1, 2 ORDER BY 1
    """


@query("stats_ljung_box", oracle=_ljung_box_oracle)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test per event type: Q = n(n+2) ·
    Σ_{{k=1..m}} ρ̂²_k/(n−k) over the hourly-series autocorrelations —
    the standard "is there ANY serial correlation left" diagnostic a
    forecaster runs on model residuals (large Q ⇒ the seasonal-naive /
    EWMA model is leaving structure on the table). Composes the ACF
    query's own output, so the two stay consistent by construction.

    Scale: the ACF subplan already collapses the fact to the
    calendar-sized hourly rollup; this adds one count of that rollup
    (n per series) and an aggregation over |types| × m_lags rows —
    constant-size work on top of the ACF's single fact shuffle. The
    rounded-ρ inputs make the Q statistic bit-stable across engines."""
    from kafka_go_streamer_spark.plans.registry import QUERIES as _Q

    acf = _Q["ts_autocorrelation_acf"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    nn = (
        ev.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("long")
            .alias("hour_idx"),
        )
        .agg(F.lit(1).alias("_one"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hours"))
    )
    return (
        acf.join(F.broadcast(nn), "event_type")
        .groupBy("event_type", "n_hours")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m_lags"),
            stable_round(
                F.col("n_hours")
                * (F.col("n_hours") + 2.0)
                * F.sum(
                    F.col("acf")
                    * F.col("acf")
                    / (F.col("n_hours") - F.col("lag"))
                ),
                4,
            ).alias("lb_stat"),
        )
        .orderBy("event_type")
    )


#: Rescaled-range block sizes for the Hurst estimate (points per
#: block; three octaves give the log-log fit its x-spread).
HURST_BLOCKS = (16, 32, 64)


@query(
    "ts_hurst_rs",
    oracle=f"""
    WITH h AS (
      SELECT event_type, floor(epoch(ts) / 3600)::BIGINT AS hour_idx,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
    ),
    rn AS (
      SELECT event_type, hour_idx, x,
             row_number() OVER (
               PARTITION BY event_type ORDER BY hour_idx
             ) AS rn
      FROM h
    ),
    ex AS (
      SELECT r.event_type, r.hour_idx, r.x, n.n,
             floor((r.rn - 1) / n.n)::BIGINT AS blk
      FROM rn r CROSS JOIN (
        SELECT unnest([{", ".join(str(n) for n in HURST_BLOCKS)}]) AS n
      ) n
    ),
    w AS (
      SELECT event_type, n, blk, hour_idx, x,
             count(*) OVER (PARTITION BY event_type, n, blk) AS cnt,
             round(avg(x) OVER (PARTITION BY event_type, n, blk), 6)
               AS m,
             round(stddev_pop(x) OVER (PARTITION BY event_type, n, blk),
                   6) AS s
      FROM ex
    ),
    z AS (
      SELECT event_type, n, blk, s,
             sum(x - m) OVER (
               PARTITION BY event_type, n, blk ORDER BY hour_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS zc
      FROM w WHERE cnt = n
    ),
    rs AS (
      SELECT event_type, n, blk,
             round((max(zc) - min(zc)) / max(s), 6) AS rs
      FROM z GROUP BY 1, 2, 3 HAVING max(s) > 0
    ),
    a AS (
      SELECT event_type, n, count(*)::BIGINT AS n_blocks,
             round(avg(rs), 6) AS avg_rs
      FROM rs GROUP BY 1, 2
    ),
    pts AS (
      SELECT event_type, n_blocks, ln(n * 1.0) AS lx, ln(avg_rs) AS ly
      FROM a
    )
    SELECT event_type,
           sum(n_blocks)::BIGINT AS n_blocks,
           count(*)::BIGINT AS n_sizes,
           round((count(*) * sum(lx * ly) - sum(lx) * sum(ly))
                 / (count(*) * sum(lx * lx) - sum(lx) * sum(lx)),
                 4) AS hurst_exponent
    FROM pts GROUP BY 1 ORDER BY 1
    """,
)
def ts_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent per event type by classic rescaled-range (R/S)
    analysis: split the hourly series into blocks of {HURST_BLOCKS}
    points, compute each block's range-of-cumulative-deviations over
    its standard deviation, average per block size, and fit the
    log-log slope — H≈0.5 is a random walk, H>0.5 long-range
    persistence (load trends), H<0.5 mean reversion. The diagnostic
    that says whether the EWMA/seasonal forecasters' assumptions hold
    at all.

    Scale: the fact collapses to the calendar-sized hourly rollup
    first (one map-side-combinable shuffle); the 3-way block-size
    explode and every window after run on that rollup, with window
    partitions bounded by the largest block (64 rows). The log-log
    OLS sees ≤3 points per series. Hourly means, block means/sds, and
    per-block R/S are all rounded to 6 before downstream arithmetic,
    and the cumulative deviation sums in identical hour order — both
    engines fold the identical doubles.

    The per-block cumulative-deviation window is the same in-block
    running-sum shape the CUSUM changepoint uses; blocks that would be
    partial at the tail (cnt < n) are dropped so every R/S sees a full
    window, and zero-variance blocks drop out before the ratio."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    ev = load_table(spark, sf_dir, "events")
    h = pinned(
        ev.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("long")
            .alias("hour_idx"),
        ).agg(stable_round(F.avg("value"), 6).alias("x"))
    )
    wrn = Window.partitionBy("event_type").orderBy("hour_idx")
    rn = h.select(
        "event_type",
        "hour_idx",
        "x",
        F.row_number().over(wrn).alias("rn"),
    )
    ex = rn.select(
        "event_type",
        "hour_idx",
        "x",
        F.explode(
            F.array(*[F.lit(n) for n in HURST_BLOCKS])
        ).alias("n"),
        F.col("rn").alias("rn"),
    ).select(
        "event_type",
        "hour_idx",
        "x",
        "n",
        F.floor((F.col("rn") - 1) / F.col("n")).cast("long").alias("blk"),
    )
    wb = Window.partitionBy("event_type", "n", "blk")
    w = ex.select(
        "event_type",
        "n",
        "blk",
        "hour_idx",
        "x",
        F.count(F.lit(1)).over(wb).alias("cnt"),
        stable_round(F.avg("x").over(wb), 6).alias("m"),
        stable_round(F.stddev_pop("x").over(wb), 6).alias("s"),
    )
    wz = (
        Window.partitionBy("event_type", "n", "blk")
        .orderBy("hour_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    z = w.filter(F.col("cnt") == F.col("n")).select(
        "event_type",
        "n",
        "blk",
        "s",
        F.sum(F.col("x") - F.col("m")).over(wz).alias("zc"),
    )
    rs = (
        z.groupBy("event_type", "n", "blk")
        .agg(
            F.max("s").alias("smax"),
            stable_round(
                (F.max("zc") - F.min("zc")) / F.max("s"), 6
            ).alias("rs"),
        )
        .filter(F.col("smax") > 0)
    )
    a = rs.groupBy("event_type", "n").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        stable_round(F.avg("rs"), 6).alias("avg_rs"),
    )
    pts = a.select(
        "event_type",
        "n_blocks",
        F.log(F.col("n") * 1.0).alias("lx"),
        F.log("avg_rs").alias("ly"),
    )
    cnt = F.count(F.lit(1))
    slope = (
        cnt * F.sum(F.col("lx") * F.col("ly")) - F.sum("lx") * F.sum("ly")
    ) / (
        cnt * F.sum(F.col("lx") * F.col("lx")) - F.sum("lx") * F.sum("lx")
    )
    return (
        pts.groupBy("event_type")
        .agg(
            F.sum("n_blocks").cast("long").alias("n_blocks"),
            cnt.cast("long").alias("n_sizes"),
            stable_round(slope, 4).alias("hurst_exponent"),
        )
        .orderBy("event_type")
    )


@query(
    "stats_runs_test",
    oracle="""
    WITH h AS (
      SELECT event_type, floor(epoch(ts) / 3600)::BIGINT AS hour_idx,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, round(avg(x), 6) AS mu FROM h GROUP BY 1
    ),
    sg AS (
      SELECT h.event_type, h.hour_idx,
             CASE WHEN h.x > st.mu THEN 1 ELSE 0 END AS s
      FROM h JOIN st USING (event_type)
    ),
    r AS (
      SELECT event_type, s,
             CASE WHEN lag(s) OVER (
                    PARTITION BY event_type ORDER BY hour_idx
                  ) IS DISTINCT FROM s THEN 1 ELSE 0 END AS strt
      FROM sg
    ),
    agg AS (
      SELECT event_type, count(*)::BIGINT AS n,
             sum(s)::BIGINT AS n_above,
             (count(*) - sum(s))::BIGINT AS n_below,
             sum(strt)::BIGINT AS n_runs
      FROM r GROUP BY 1
    )
    SELECT event_type, n AS n_hours, n_above, n_below, n_runs,
           CASE WHEN 2.0 * n_above * n_below > n THEN
             round((n_runs - (1.0 + 2.0 * n_above * n_below / n))
                   / sqrt(2.0 * n_above * n_below
                          * (2.0 * n_above * n_below - n)
                          / (n * n * (n - 1.0))), 4)
           END AS z_stat
    FROM agg ORDER BY 1
    """,
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the hourly series per event type:
    code each hour above/below the series mean, count the runs, and
    z-score against the exact null moments — too FEW runs means the
    hours cluster (regimes, trends the ACF quantifies), too MANY means
    oscillation. The nonparametric randomness check that needs no
    distributional assumption at all, complementing Ljung-Box (which
    assumes stationarity) and Hurst (which assumes scaling).

    Scale: the fact collapses to the calendar-sized hourly rollup; the
    run boundaries are one lag() window over it and the null moments
    are exact integer arithmetic on (n_above, n_below) — nothing after
    the rollup shuffle exceeds |types| × |hours| rows. The degenerate
    all-one-side case (variance term ≤ 0) reports NULL on both
    engines."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    ev = load_table(spark, sf_dir, "events")
    h = pinned(
        ev.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("long")
            .alias("hour_idx"),
        ).agg(stable_round(F.avg("value"), 6).alias("x"))
    )
    st = h.groupBy("event_type").agg(
        stable_round(F.avg("x"), 6).alias("mu")
    )
    sg = h.join(F.broadcast(st), "event_type").select(
        "event_type",
        "hour_idx",
        F.when(F.col("x") > F.col("mu"), 1).otherwise(0).alias("s"),
    )
    wl = Window.partitionBy("event_type").orderBy("hour_idx")
    r = sg.select(
        "event_type",
        "s",
        F.when(
            ~F.lag("s").over(wl).eqNullSafe(F.col("s")), 1
        )
        .otherwise(0)
        .alias("strt"),
    )
    agg = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("s").cast("long").alias("n_above"),
        (F.count(F.lit(1)) - F.sum("s")).cast("long").alias("n_below"),
        F.sum("strt").cast("long").alias("n_runs"),
    )
    two_ab = 2.0 * F.col("n_above") * F.col("n_below")
    return agg.select(
        "event_type",
        F.col("n").alias("n_hours"),
        "n_above",
        "n_below",
        "n_runs",
        F.when(
            two_ab > F.col("n"),
            stable_round(
                (F.col("n_runs") - (1.0 + two_ab / F.col("n")))
                / F.sqrt(
                    two_ab
                    * (two_ab - F.col("n"))
                    / (F.col("n") * F.col("n") * (F.col("n") - 1.0))
                ),
                4,
            ),
        ).alias("z_stat"),
    ).orderBy("event_type")


#: Variance-ratio horizon (hours): VR(k) compares k-step to 1-step
#: increment variance; 4 gives three overlapping lags of headroom.
VR_K = 4


@query(
    "ts_variance_ratio",
    oracle=f"""
    WITH h AS (
      SELECT event_type, floor(epoch(ts) / 3600)::BIGINT AS hour_idx,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT event_type,
             x - lag(x, 1) OVER (
               PARTITION BY event_type ORDER BY hour_idx
             ) AS d1,
             x - lag(x, {VR_K}) OVER (
               PARTITION BY event_type ORDER BY hour_idx
             ) AS dk
      FROM h
    ),
    v AS (
      SELECT event_type, count(d1)::BIGINT AS n_diffs,
             round(var_samp(d1), 6) AS v1,
             round(var_samp(dk), 6) AS vk
      FROM d GROUP BY 1
    )
    SELECT event_type, n_diffs,
           round(vk / ({VR_K} * nullif(v1, 0)), 4) AS variance_ratio,
           round((vk / ({VR_K} * nullif(v1, 0)) - 1.0)
                 / sqrt(2.0 * (2 * {VR_K} - 1) * ({VR_K} - 1)
                        / (3.0 * {VR_K} * n_diffs)), 4) AS z_stat
    FROM v ORDER BY 1
    """,
)
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test per event type: if the hourly
    series is a random walk, the variance of {VR_K}-hour increments is
    exactly {VR_K}× the 1-hour increment variance — VR < 1 flags mean
    reversion, VR > 1 momentum. The third leg of the random-walk
    triangle with Hurst (scaling) and the runs test (sign patterns),
    each making a different assumption.

    Scale: one fact collapse to the hourly rollup, two lag() windows
    over it (row-offset, gap-agnostic by construction — both engines
    difference the same row sequence), one variance aggregate per
    series. Increment variances are rounded to 6 before the ratio so
    both engines divide identical doubles; a zero 1-step variance
    yields NULL, not ±inf."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    ev = load_table(spark, sf_dir, "events")
    h = pinned(
        ev.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("long")
            .alias("hour_idx"),
        ).agg(stable_round(F.avg("value"), 6).alias("x"))
    )
    wl = Window.partitionBy("event_type").orderBy("hour_idx")
    d = h.select(
        "event_type",
        (F.col("x") - F.lag("x", 1).over(wl)).alias("d1"),
        (F.col("x") - F.lag("x", VR_K).over(wl)).alias("dk"),
    )
    v = d.groupBy("event_type").agg(
        F.count("d1").cast("long").alias("n_diffs"),
        stable_round(F.var_samp("d1"), 6).alias("v1"),
        stable_round(F.var_samp("dk"), 6).alias("vk"),
    )
    v1nz = F.when(F.col("v1") != 0, F.col("v1"))
    vr = F.col("vk") / (VR_K * v1nz)
    se = F.sqrt(
        F.lit(2.0 * (2 * VR_K - 1) * (VR_K - 1))
        / (3.0 * VR_K * F.col("n_diffs"))
    )
    return v.select(
        "event_type",
        "n_diffs",
        stable_round(vr, 4).alias("variance_ratio"),
        stable_round((vr - 1.0) / se, 4).alias("z_stat"),
    ).orderBy("event_type")


@query(
    "ts_seasonal_strength",
    oracle="""
    WITH h AS (
      SELECT event_type,
             floor(epoch(ts) / 3600)::BIGINT AS hour_idx,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, hour_idx % 24 AS hod,
             round(avg(x), 6) AS seasonal
      FROM h GROUP BY 1, 2
    ),
    r AS (
      SELECT h.event_type, h.x, h.x - s.seasonal AS resid
      FROM h JOIN s ON s.event_type = h.event_type
                   AND s.hod = h.hour_idx % 24
    ),
    v AS (
      SELECT event_type, count(*)::BIGINT AS n_hours,
             round(var_samp(x), 6) AS var_total,
             round(var_samp(resid), 6) AS var_resid
      FROM r GROUP BY 1
    )
    SELECT event_type, n_hours, var_total, var_resid,
           round(greatest(0.0, 1.0 - var_resid / nullif(var_total, 0)),
                 4) AS seasonal_strength
    FROM v ORDER BY event_type
    """,
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength of diurnal seasonality per event type (Hyndman's
    F_s = max(0, 1 − Var(remainder)/Var(series)) with the hour-of-day
    profile as the seasonal component): 0 means the daily shape
    explains nothing, →1 means the series IS its daily cycle. The
    one-number answer to "should this metric use the seasonal-naive
    forecaster or is the deseasonalized-anomaly detector just adding
    noise?" — the selector in front of both.

    Scale: one fact collapse to the calendar-sized hourly rollup
    (pinned: the 24-row profile AND the residual join both read it),
    a broadcast join of the 24×|types| profile, two variance
    aggregates. Profile means and variances are rounded to 6 before
    the ratio; for a constant series (zero variance) the nullif makes
    the ratio term NULL, and greatest() skips NULL arguments in both
    DuckDB 1.0 and Spark, so BOTH engines report strength 0.0 —
    never 0/0, never a divergence (contract corrected per ADVICE
    r9)."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    ev = load_table(spark, sf_dir, "events")
    h = pinned(
        ev.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("long")
            .alias("hour_idx"),
        ).agg(stable_round(F.avg("value"), 6).alias("x"))
    )
    s = h.groupBy(
        "event_type", (F.col("hour_idx") % 24).alias("hod")
    ).agg(stable_round(F.avg("x"), 6).alias("seasonal"))
    r = h.withColumn("hod", F.col("hour_idx") % 24).join(
        F.broadcast(s), ["event_type", "hod"]
    )
    v = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        stable_round(F.var_samp("x"), 6).alias("var_total"),
        stable_round(
            F.var_samp(F.col("x") - F.col("seasonal")), 6
        ).alias("var_resid"),
    )
    vt = F.when(F.col("var_total") != 0, F.col("var_total"))
    return v.select(
        "event_type",
        "n_hours",
        "var_total",
        "var_resid",
        stable_round(
            F.greatest(
                F.lit(0.0), 1.0 - F.col("var_resid") / vt
            ),
            4,
        ).alias("seasonal_strength"),
    ).orderBy("event_type")


@query(
    "ts_granger_lag_screen",
    oracle="""
    WITH h AS (
      SELECT event_type, floor(epoch(ts) / 3600)::BIGINT AS hour_idx,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
    ),
    j AS (
      SELECT b.event_type AS target, a.event_type AS driver,
             b.x AS y, bl.x AS x1, a.x AS x2
      FROM h b
      JOIN h bl ON bl.event_type = b.event_type
               AND bl.hour_idx = b.hour_idx - 1
      JOIN h a ON a.hour_idx = b.hour_idx - 1
              AND a.event_type <> b.event_type
    ),
    s AS (
      SELECT target, driver, count(*)::BIGINT AS n,
             avg(y) AS my, avg(x1) AS m1, avg(x2) AS m2,
             sum(y * y) AS syy_r, sum(x1 * x1) AS s11_r,
             sum(x2 * x2) AS s22_r, sum(x1 * y) AS s1y_r,
             sum(x2 * y) AS s2y_r, sum(x1 * x2) AS s12_r
      FROM j GROUP BY 1, 2
    ),
    c AS (
      SELECT target, driver, n,
             syy_r - n * my * my AS syy,
             s11_r - n * m1 * m1 AS s11,
             s22_r - n * m2 * m2 AS s22,
             s1y_r - n * m1 * my AS s1y,
             s2y_r - n * m2 * my AS s2y,
             s12_r - n * m1 * m2 AS s12
      FROM s
    ),
    m AS (
      SELECT target, driver, n, syy,
             syy - s1y * s1y / s11 AS rss_r,
             syy - ((s1y * s22 - s2y * s12)
                    / (s11 * s22 - s12 * s12)) * s1y
                 - ((s2y * s11 - s1y * s12)
                    / (s11 * s22 - s12 * s12)) * s2y AS rss_f
      FROM c
    )
    SELECT target, driver, n,
           round((rss_r - rss_f) / syy, 6) AS r2_gain,
           round((rss_r - rss_f) * (n - 3) / rss_f, 3) AS f_stat
    FROM m ORDER BY target, driver
    """,
)
def ts_granger_lag_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-style lag screening over every ordered series pair:
    does adding A's previous hour to B's own previous hour reduce B's
    residual variance? Closed-form two-regressor OLS via the normal
    equations — r2_gain is the incremental variance explained, f_stat
    the one-restriction F. The cross-metric early-warning screen
    ("errors lead purchases?") a forecaster runs before building any
    multivariate model; its own-lag baseline keeps the classic
    spurious-correlation trap (both series trending) out of the
    score.

    Scale: the fact collapses to the pinned calendar-sized hourly
    rollup; the lag alignment is two EQUI-joins of the rollup with
    itself on (type, hour−1) and (hour−1) — never a range join — and
    all |types|² models come from ONE grouped aggregate of raw sums
    (the groupwise-OLS discipline: no per-model passes). Everything
    after the rollup shuffle is |types|²·|hours| bounded."""
    from kafka_go_streamer_spark.operators.iterate import pinned

    ev = load_table(spark, sf_dir, "events")
    h = pinned(
        ev.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("long")
            .alias("hour_idx"),
        ).agg(stable_round(F.avg("value"), 6).alias("x"))
    )
    b = h.select(
        F.col("event_type").alias("target"),
        "hour_idx",
        F.col("x").alias("y"),
    )
    bl = h.select(
        F.col("event_type").alias("target"),
        (F.col("hour_idx") + 1).alias("hour_idx"),
        F.col("x").alias("x1"),
    )
    a = h.select(
        F.col("event_type").alias("driver"),
        (F.col("hour_idx") + 1).alias("hour_idx"),
        F.col("x").alias("x2"),
    )
    j = (
        b.join(F.broadcast(bl), ["target", "hour_idx"])
        .join(F.broadcast(a), "hour_idx")
        .filter(F.col("driver") != F.col("target"))
    )
    s = j.groupBy("target", "driver").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("y").alias("my"),
        F.avg("x1").alias("m1"),
        F.avg("x2").alias("m2"),
        F.sum(F.col("y") * F.col("y")).alias("syy_r"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11_r"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22_r"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y_r"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y_r"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12_r"),
    )
    n = F.col("n")
    syy = F.col("syy_r") - n * F.col("my") * F.col("my")
    s11 = F.col("s11_r") - n * F.col("m1") * F.col("m1")
    s22 = F.col("s22_r") - n * F.col("m2") * F.col("m2")
    s1y = F.col("s1y_r") - n * F.col("m1") * F.col("my")
    s2y = F.col("s2y_r") - n * F.col("m2") * F.col("my")
    s12 = F.col("s12_r") - n * F.col("m1") * F.col("m2")
    det = s11 * s22 - s12 * s12
    bhat = (s1y * s22 - s2y * s12) / det
    chat = (s2y * s11 - s1y * s12) / det
    rss_r = syy - s1y * s1y / s11
    rss_f = syy - bhat * s1y - chat * s2y
    return s.select(
        "target",
        "driver",
        "n",
        stable_round((rss_r - rss_f) / syy, 6).alias("r2_gain"),
        stable_round((rss_r - rss_f) * (n - 3) / rss_f, 3).alias(
            "f_stat"
        ),
    ).orderBy("target", "driver")
