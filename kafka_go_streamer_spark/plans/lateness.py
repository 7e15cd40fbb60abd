"""Round-13 wave 1: event-time lateness and watermark analytics over a
deterministic jittered-arrival derivation of the events table
(VERDICT r12 task 1 — the one §2.2 streaming behavior the shipped
fixtures could not prove).

The driver fixtures' ``events.ts`` is perfectly monotone in
``event_id`` (zero measured out-of-orderness), so any lateness
analytic over raw arrival order is degenerate all-zeros. These
queries therefore DERIVE an arrival time per event — seeded integer
jitter computed from ``md5(event_id)`` identically in Spark and
DuckDB (the ``sample_stratified_hash`` discipline: reproducible
across engines, clusters and runs; no RNG, no materialized fixture,
no writes anywhere) — and analyze the stream as if events arrived in
that order. The jitter is a body/tail mixture (7/8 of events within
60 s, 1/8 up to 1 h late), so the watermark-delay grid produces a
non-trivial lateness curve instead of a step.

The reference flushes on a hardcoded 10 s processing-time timer
(main.go:439) and has no event-time concept at all; these tables are
the event-time planning layer a Spark port of that router needs the
moment its input is replayed, partitioned, or multi-source — i.e.,
the moment arrival order stops matching event order.

* ``events_lateness_watermark_grid`` — for each (watermark delay x
  window size): events arriving behind the watermark, events DROPPED
  (their window already closed when they arrived), and the windows
  made incomplete by those drops. The continuous-watermark
  simulation: wm at an event's arrival = max event time of everything
  that arrived strictly before it, minus the delay — the limit a real
  micro-batch stream approaches as triggers shrink (per-batch
  watermarks lag it, so real drops are a subset; the grid is the
  conservative planning number).

* ``events_arrival_delay_profile`` — per event type: arrival-delay
  quantiles and the out-of-orderness measurements (share of events
  arriving after a later-timestamped event, worst time-behind-
  frontier). The table that picks the watermark delay in the first
  place.

* ``events_watermark_dedup_audit`` — duplicate-delivery leakage vs
  ``dropDuplicatesWithinWatermark`` state retention: deterministic
  RE-STAMPED redeliveries (1/4 of events, up to 2 h later, carrying
  the redelivery time as event time — the only duplicate shape that
  can reach downstream twice; a same-timestamp dup is always caught
  by the late filter once its state expires, verified empirically)
  against the delay grid — how many arrive after the original's state
  expired (wm > first_ts + delay, the documented eviction rule) and
  so get delivered again. The at-least-once delivery audit (the
  reference's own producer is at-least-once on retry, main.go
  batching).

* ``events_watermark_open_state`` — end-of-stream state sizing per
  (delay x window): open (unemitted) windows, rows buffered in them,
  and live dedup keys. The memory-budget worksheet for
  withWatermark: state is bounded by what the watermark has not yet
  released, and this measures exactly that on real data.

Scale discipline — the running watermark needs a prefix max over
arrival order, and the r12 verdict BANNED single-task global sorts:
``with_running_max`` is a two-level distributed prefix scan instead.
Arrivals bucket into fixed 6 h slices; per-bucket maxima collapse to
a ~120-row bucket frame (map-side combinable); the cross-bucket
prefix max is a window over THAT tiny frame; each event then combines
the broadcast bucket prefix with an in-bucket running max
(``Window.partitionBy(bucket)`` — a partition-bounded sort, the
sessionize-within-partition pattern, never a global one). At cluster
scale the bucket width is the tunable that bounds partition size; the
plan shape is width-independent. Everything downstream of the
per-event frame is a constant 8-cell grid fan + one hash aggregate.
Plan-asserted: no unpartitioned Window over the fact
(tests/test_plan_shapes.py).

Streaming twins: tests/test_streaming_lateness.py replays the SAME
jittered arrivals through real ``withWatermark`` windowed
aggregation and ``dropDuplicatesWithinWatermark`` with pinned batch
boundaries and asserts the engine's drops/leaks match the pure-Python
prediction from the documented per-batch watermark semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.hashing import md5_60
from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.plans.registry import query
from kafka_go_streamer_spark.sources.tables import load_table

#: 1-in-TAIL_MOD events get tail jitter (straggler sources, replays);
#: the rest get body jitter (normal transport skew).
TAIL_MOD = 8
#: Body jitter: uniform integer microseconds in [0, 60 s].
BODY_MAX_US = 60_000_000
#: Tail jitter: uniform integer microseconds in [0, 1 h].
TAIL_MAX_US = 3_600_000_000

#: Bucket width for the two-level prefix scan (6 h -> ~120 buckets on
#: the 30-day fixtures at every SF; at cluster scale this constant is
#: sized to the shuffle-partition row budget).
ARRIVAL_BUCKET_US = 21_600_000_000

#: Watermark delay grid (seconds) — brackets the jitter mixture:
#: 30 s cuts into the body, 1 h covers the whole tail.
WM_DELAYS_S = (30, 300, 1800, 3600)
#: Event-time window sizes (seconds) for the lateness grid.
WM_WINDOWS_S = (3600, 21600)

#: 1-in-DUP_MOD events are redelivered (at-least-once duplicates).
DUP_MOD = 4
#: Redelivery gap: uniform integer microseconds in [0, 2 h] after the
#: original's (jittered) arrival.
DUP_GAP_MAX_US = 7_200_000_000


# --------------------------------------------------------------- helpers
def _h60_sql(salt: str) -> str:
    """SQL twin of ``md5_60(event_id || salt)``."""
    return f"('0x' || substr(md5(event_id::VARCHAR || '{salt}'), 1, 15))::BIGINT"


def jitter_us(col: Column) -> Column:
    """Seeded arrival jitter in integer microseconds: body/tail mixture
    keyed only on the event id (salts 'lt'/'lm')."""
    key = col.cast("string")
    mag = md5_60(F.concat(key, F.lit("lm")))
    return F.when(
        md5_60(F.concat(key, F.lit("lt"))) % TAIL_MOD == 0,
        mag % (TAIL_MAX_US + 1),
    ).otherwise(mag % (BODY_MAX_US + 1))


_JITTER_SQL = (
    f"CASE WHEN ({_h60_sql('lt')}) % {TAIL_MOD} = 0 "
    f"THEN ({_h60_sql('lm')}) % {TAIL_MAX_US + 1} "
    f"ELSE ({_h60_sql('lm')}) % {BODY_MAX_US + 1} END"
)

#: Shared oracle CTE: the jittered base frame.
_BASE_CTE = f"""base AS (
      SELECT event_id, event_type, epoch_us(ts) AS us,
             epoch_us(ts) + ({_JITTER_SQL}) AS arrival_us
      FROM events
    )"""


def jittered_arrivals(e: DataFrame) -> DataFrame:
    """The derived arrival frame: (event_id, event_type, ts, us,
    arrival_us). Pure row-local arithmetic — pushes into the scan."""
    return e.select(
        "event_id",
        "event_type",
        "ts",
        F.unix_micros("ts").alias("us"),
        (F.unix_micros("ts") + jitter_us(F.col("event_id"))).alias(
            "arrival_us"
        ),
    )


def with_running_max(
    df: DataFrame,
    contrib: str = "us",
    order: tuple[str, ...] = ("arrival_us", "event_id"),
    out: str = "run_max_us",
) -> DataFrame:
    """Running max of ``contrib`` over everything that arrived STRICTLY
    before each row (the continuous watermark's event-time frontier),
    as a two-level distributed prefix scan — never a global sort:

    1. bucket arrivals into fixed ``ARRIVAL_BUCKET_US`` slices;
    2. per-bucket max -> tiny bucket frame; prefix max over THAT frame
       (window over ~120 rows);
    3. per-event: greatest(broadcast prefix of earlier buckets,
       in-bucket running max over a PARTITION-BOUNDED window).

    -1 stands in for "no prior arrival" (all real values are positive
    epoch microseconds), so downstream watermark arithmetic needs no
    null branches. NULL ``contrib`` rows (the dedup audit's probe
    rows) take part in ordering but contribute nothing — max skips
    nulls in both engines."""
    b = df.withColumn("_bkt", F.expr(f"arrival_us div {ARRIVAL_BUCKET_US}"))
    bf = b.groupBy("_bkt").agg(F.max(contrib).alias("_bmax"))
    pf = bf.select(
        "_bkt",
        F.max("_bmax")
        .over(
            Window.orderBy("_bkt").rowsBetween(
                Window.unboundedPreceding, -1
            )
        )
        .alias("_pre"),
    )
    run_ib = F.max(contrib).over(
        Window.partitionBy("_bkt")
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        b.join(F.broadcast(pf), "_bkt")
        .withColumn(
            out,
            F.greatest(
                F.coalesce(F.col("_pre"), F.lit(-1)),
                F.coalesce(run_ib, F.lit(-1)),
            ),
        )
        .drop("_bkt", "_pre")
    )


#: Shared oracle CTE chain: base + the two-level running max (mirrors
#: ``with_running_max`` exactly — same bucket width, same -1 sentinel,
#: same (arrival_us, event_id) tie order).
_EV_CTES = f"""{_BASE_CTE},
    bkts AS (
      SELECT *, arrival_us // {ARRIVAL_BUCKET_US} AS bkt FROM base
    ),
    bf AS (SELECT bkt, max(us) AS bmax FROM bkts GROUP BY bkt),
    pf AS (
      SELECT bkt, max(bmax) OVER (ORDER BY bkt
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pre_max
      FROM bf
    ),
    ev AS (
      SELECT b.event_id, b.event_type, b.us, b.arrival_us,
             greatest(coalesce(p.pre_max, -1),
                      coalesce(max(b.us) OVER (
                          PARTITION BY b.bkt
                          ORDER BY b.arrival_us, b.event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), -1)) AS run_max_us
      FROM bkts b JOIN pf p USING (bkt)
    )"""


def _values(vals: tuple[int, ...]) -> str:
    return ", ".join(f"({v})" for v in vals)


def _grid_fan(ev: DataFrame) -> DataFrame:
    """Fan the per-event frame by the constant (delay x window) grid."""
    return ev.withColumn(
        "delay_s", F.explode(F.array(*[F.lit(d) for d in WM_DELAYS_S]))
    ).withColumn(
        "window_s", F.explode(F.array(*[F.lit(w) for w in WM_WINDOWS_S]))
    )


_WEND = (
    "((us div (cast(window_s AS BIGINT) * 1000000)) + 1)"
    " * (cast(window_s AS BIGINT) * 1000000)"
)


# --------------------------------------------------------------- queries
@query(
    "events_lateness_watermark_grid",
    oracle=f"""
    WITH {_EV_CTES},
    grid AS (
      SELECT d.delay_s, w.window_s
      FROM (VALUES {_values(WM_DELAYS_S)}) d(delay_s),
           (VALUES {_values(WM_WINDOWS_S)}) w(window_s)
    ),
    fan AS (
      SELECT g.delay_s, g.window_s, ev.us, ev.run_max_us,
             ((ev.us // (g.window_s::BIGINT * 1000000)) + 1)
               * (g.window_s::BIGINT * 1000000) AS wend
      FROM ev CROSS JOIN grid g
    ),
    flags AS (
      SELECT delay_s, window_s, wend,
             CASE WHEN run_max_us - delay_s::BIGINT * 1000000 > us
                  THEN 1 ELSE 0 END AS late,
             CASE WHEN run_max_us - delay_s::BIGINT * 1000000 >= wend
                  THEN 1 ELSE 0 END AS dropped
      FROM fan
    )
    SELECT delay_s, window_s,
           count(*)::BIGINT AS n_events,
           sum(late)::BIGINT AS n_late,
           sum(dropped)::BIGINT AS n_dropped,
           round(sum(dropped) * 1.0 / count(*), 6) AS drop_share,
           count(DISTINCT wend)::BIGINT AS n_windows,
           count(DISTINCT CASE WHEN dropped = 1 THEN wend END)::BIGINT
             AS n_windows_dirty
    FROM flags
    GROUP BY delay_s, window_s
    """,
)
def events_lateness_watermark_grid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark planning grid: for each (delay, window) cell, how many
    events arrive behind the watermark (``n_late`` — candidates for
    allowed-lateness handling), how many arrive after their window
    already closed (``n_dropped`` — lost under ``withWatermark`` +
    append output), and how many windows those drops dirty. An event
    is dropped when the event-time frontier of everything that
    arrived before it, minus the delay, has passed its window end —
    the continuous limit of Spark's per-batch watermark (real
    micro-batch drops are a subset; this is the conservative planning
    bound). Reading the grid column-wise prices delay against
    completeness: the cell where drop_share hits 0 is the cheapest
    safe watermark for that window size.

    Scale: jitter is row-local scan arithmetic; the running frontier
    is the two-level prefix scan (module docstring — bucket frame +
    partition-bounded windows, NO global sort); the grid fan is a
    constant 8x on the narrow per-event frame. The aggregate runs in
    TWO levels keyed on the window end first: a count-distinct over
    the fanned fact would plan an Expand (x3 replicas — one per
    distinct column group plus the plain sums), so the first level
    collapses the fan to (grid cell x wend) rows — bounded by
    span/window, not by events, and map-side combinable — and the
    8-group grid cell level computes the window counts as plain
    count/sum over that tiny frame (no Expand anywhere)."""
    ev = with_running_max(
        jittered_arrivals(load_table(spark, sf_dir, "events"))
    )
    fan = _grid_fan(ev).withColumn("wend", F.expr(_WEND))
    wm = F.col("run_max_us") - F.col("delay_s").cast("long") * 1_000_000
    late = wm > F.col("us")
    dropped = wm >= F.col("wend")
    per_wend = fan.groupBy("delay_s", "window_s", "wend").agg(
        F.count(F.lit(1)).alias("w_n"),
        F.sum(F.when(late, 1).otherwise(0)).alias("w_late"),
        F.sum(F.when(dropped, 1).otherwise(0)).alias("w_dropped"),
    )
    return (
        per_wend.groupBy("delay_s", "window_s")
        .agg(
            F.sum("w_n").cast("long").alias("n_events"),
            F.sum("w_late").cast("long").alias("n_late"),
            F.sum("w_dropped").cast("long").alias("n_dropped"),
            stable_round(
                F.sum("w_dropped") * 1.0 / F.sum("w_n"),
                6,
            ).alias("drop_share"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum(F.when(F.col("w_dropped") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_windows_dirty"),
        )
    )


@query(
    "events_arrival_delay_profile",
    oracle=f"""
    WITH {_EV_CTES}
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           round(avg((arrival_us - us) * 1.0 / 1000000), 4)
             AS mean_delay_s,
           round(percentile_cont(0.5) WITHIN GROUP
                 (ORDER BY (arrival_us - us) * 1.0 / 1000000), 4)
             AS p50_delay_s,
           round(percentile_cont(0.95) WITHIN GROUP
                 (ORDER BY (arrival_us - us) * 1.0 / 1000000), 4)
             AS p95_delay_s,
           round(max(arrival_us - us) * 1.0 / 1000000, 4) AS max_delay_s,
           round(sum(CASE WHEN run_max_us > us THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS ooo_share,
           round(max(greatest(run_max_us - us, 0)) * 1.0 / 1000000, 4)
             AS max_behind_s
    FROM ev GROUP BY event_type
    """,
)
def events_arrival_delay_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event-type arrival-delay profile: delay quantiles
    (mean/p50/p95/max seconds between event time and arrival) plus the
    two out-of-orderness measurements that actually size a watermark —
    ``ooo_share`` (share of events arriving after a later-timestamped
    event already arrived) and ``max_behind_s`` (the worst observed
    gap between the event-time frontier and an arriving event's own
    timestamp: the smallest delay with zero loss). This is the table
    an operator reads BEFORE picking a cell in the lateness grid; on
    the raw fixtures it is degenerate all-zeros, which is exactly the
    gap the jittered derivation closes.

    Scale: delay quantiles are one hash aggregate per type;
    out-of-orderness reuses the two-level prefix frontier (no global
    sort); output is type-cardinality rows."""
    ev = with_running_max(
        jittered_arrivals(load_table(spark, sf_dir, "events"))
    )
    delay_s = (F.col("arrival_us") - F.col("us")) * 1.0 / 1_000_000
    behind = F.greatest(
        F.col("run_max_us") - F.col("us"), F.lit(0)
    )
    return (
        ev.withColumn("delay_sec", delay_s)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            stable_round(F.avg("delay_sec"), 4).alias("mean_delay_s"),
            stable_round(F.percentile("delay_sec", F.lit(0.5)), 4).alias(
                "p50_delay_s"
            ),
            stable_round(F.percentile("delay_sec", F.lit(0.95)), 4).alias(
                "p95_delay_s"
            ),
            stable_round(F.max("delay_sec"), 4).alias("max_delay_s"),
            stable_round(
                F.sum(
                    F.when(F.col("run_max_us") > F.col("us"), 1).otherwise(0)
                )
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("ooo_share"),
            stable_round(F.max(behind) * 1.0 / 1_000_000, 4).alias(
                "max_behind_s"
            ),
        )
    )


@query(
    "events_watermark_dedup_audit",
    oracle=f"""
    WITH {_BASE_CTE},
    probes AS (
      SELECT event_id, us, arrival_us, 0 AS kind, us AS contrib,
             CAST(NULL AS BIGINT) AS gap_us
      FROM base
      UNION ALL
      SELECT event_id, us,
             arrival_us + ({_h60_sql('dg')}) % {DUP_GAP_MAX_US + 1},
             1 AS kind,
             arrival_us + ({_h60_sql('dg')}) % {DUP_GAP_MAX_US + 1}
               AS contrib,
             ({_h60_sql('dg')}) % {DUP_GAP_MAX_US + 1} AS gap_us
      FROM base WHERE ({_h60_sql('df')}) % {DUP_MOD} = 0
    ),
    pb AS (
      SELECT *, arrival_us // {ARRIVAL_BUCKET_US} AS bkt FROM probes
    ),
    pbf AS (SELECT bkt, max(contrib) AS bmax FROM pb GROUP BY bkt),
    ppf AS (
      SELECT bkt, max(bmax) OVER (ORDER BY bkt
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pre_max
      FROM pbf
    ),
    runs AS (
      SELECT b.event_id, b.us, b.kind, b.gap_us, b.contrib,
             greatest(coalesce(p.pre_max, -1),
                      coalesce(max(b.contrib) OVER (
                          PARTITION BY b.bkt
                          ORDER BY b.arrival_us, b.kind, b.event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), -1)) AS run_max_us
      FROM pb b JOIN ppf p USING (bkt)
    ),
    pairs AS (
      SELECT d.us, d.contrib - d.us AS et_gap_us,
             d.run_max_us AS rm_dup, o.run_max_us AS rm_orig
      FROM (SELECT * FROM runs WHERE kind = 1) d
      JOIN (SELECT * FROM runs WHERE kind = 0) o USING (event_id)
    ),
    grid AS (SELECT delay_s FROM (VALUES {_values(WM_DELAYS_S)}) d(delay_s))
    SELECT delay_s,
           count(*)::BIGINT AS n_dups,
           sum(CASE WHEN et_gap_us <= delay_s::BIGINT * 1000000
                    THEN 1 ELSE 0 END)::BIGINT AS n_within_delay,
           sum(CASE WHEN rm_orig - delay_s::BIGINT * 1000000 > us
                    THEN 1 ELSE 0 END)::BIGINT AS n_orig_late,
           sum(CASE WHEN rm_orig - delay_s::BIGINT * 1000000 <= us
                     AND rm_dup - delay_s::BIGINT * 1000000
                         > us + delay_s::BIGINT * 1000000
                    THEN 1 ELSE 0 END)::BIGINT AS n_leaked,
           round(sum(CASE WHEN rm_orig - delay_s::BIGINT * 1000000 <= us
                           AND rm_dup - delay_s::BIGINT * 1000000
                               > us + delay_s::BIGINT * 1000000
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS leak_share
    FROM pairs CROSS JOIN grid
    GROUP BY delay_s
    """,
)
def events_watermark_dedup_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-leakage audit for ``dropDuplicatesWithinWatermark``:
    1-in-4 events is REDELIVERED up to 2 h after its original's
    arrival, re-stamped with the redelivery time as its event time —
    the at-least-once shape that can actually leak. (A redelivery
    carrying the ORIGINAL timestamp can never reach downstream twice:
    once its state expires the watermark has necessarily passed its
    event time, so the operator's late filter removes it — verified
    empirically against Spark's operator and pinned in
    tests/test_streaming_lateness.py. Leakage is therefore exactly
    the re-stamped case.)

    Per candidate delay D, a redelivery is DELIVERED AGAIN iff (a) the
    original was accepted (not behind the watermark at its own
    arrival: frontier(orig) - D <= ts) and (b) its dedup state was
    already evicted when the redelivery arrived — the watermark passed
    ts + D, the operator's documented retention rule:
    frontier(dup) - D > ts + D. ``n_within_delay`` counts redeliveries
    inside the operator's hard guarantee zone — EVENT-TIME gap
    (re-stamped time minus original time) <= D, which provably cannot
    leak: the frontier before the dup is below its own re-stamped
    time, so it cannot have passed ts + 2D. ``n_orig_late`` counts
    duplicated events whose
    ORIGINAL was itself late-dropped (the dup becomes the only copy —
    not a duplicate downstream). ``leak_share`` is the duplicate rate
    the pipeline accepts at delay D — priced against state size
    (events_watermark_open_state) and drop share (lateness grid).

    Scale: originals + redeliveries form ONE union probe frame; both
    kinds contribute their event time to the frontier (re-stamped
    redeliveries advance the watermark exactly as they do in the real
    stream); the shared two-level prefix scan prices the frontier at
    every arrival with no global sort; the orig/dup pairing is ONE
    conditional aggregation over event_id (the orig and dup rows of a
    key meet in one hash-aggregate group — no self-join, so the runs
    frame has a single consumer and needs no checkpoint barrier); the
    delay grid fans only the dup-pair frame (1/4 of events x 4) into
    a 4-row aggregate."""
    base = jittered_arrivals(load_table(spark, sf_dir, "events"))
    eid = F.col("event_id").cast("string")
    gap = md5_60(F.concat(eid, F.lit("dg"))) % (DUP_GAP_MAX_US + 1)
    origs = base.select(
        "event_id",
        "us",
        "arrival_us",
        F.lit(0).alias("kind"),
        F.col("us").alias("contrib"),
        F.lit(None).cast("long").alias("gap_us"),
    )
    dups = (
        base.filter(md5_60(F.concat(eid, F.lit("df"))) % DUP_MOD == 0)
        .select(
            "event_id",
            "us",
            (F.col("arrival_us") + gap).alias("arrival_us"),
            F.lit(1).alias("kind"),
            (F.col("arrival_us") + gap).alias("contrib"),
            gap.alias("gap_us"),
        )
    )
    # single consumer (the event_id aggregate below) — no pin needed:
    # the prefix-scan pipeline is evaluated exactly once
    runs = with_running_max(
        origs.unionByName(dups),
        contrib="contrib",
        order=("arrival_us", "kind", "event_id"),
    )
    # orig and dup rows of an event_id meet in one hash-aggregate
    # group; conditional maxes replace the former self-join (one
    # exchange + aggregate instead of two exchanges + join), and the
    # NULL dup side filters the 3/4 of events with no redelivery
    pairs = (
        runs.groupBy("event_id")
        .agg(
            F.max("us").alias("us"),
            F.max(
                F.when(
                    F.col("kind") == 1, F.col("contrib") - F.col("us")
                )
            ).alias("et_gap_us"),
            F.max(
                F.when(F.col("kind") == 1, F.col("run_max_us"))
            ).alias("rm_dup"),
            F.max(
                F.when(F.col("kind") == 0, F.col("run_max_us"))
            ).alias("rm_orig"),
        )
        .filter(F.col("rm_dup").isNotNull())
    )
    fan = pairs.withColumn(
        "delay_s", F.explode(F.array(*[F.lit(d) for d in WM_DELAYS_S]))
    )
    d_us = F.col("delay_s").cast("long") * 1_000_000
    orig_late = F.col("rm_orig") - d_us > F.col("us")
    leaked = (~orig_late) & (
        F.col("rm_dup") - d_us > F.col("us") + d_us
    )
    return fan.groupBy("delay_s").agg(
        F.count(F.lit(1)).cast("long").alias("n_dups"),
        F.sum(F.when(F.col("et_gap_us") <= d_us, 1).otherwise(0))
        .cast("long")
        .alias("n_within_delay"),
        F.sum(F.when(orig_late, 1).otherwise(0))
        .cast("long")
        .alias("n_orig_late"),
        F.sum(F.when(leaked, 1).otherwise(0)).cast("long").alias("n_leaked"),
        stable_round(
            F.sum(F.when(leaked, 1).otherwise(0)) * 1.0 / F.count(F.lit(1)),
            6,
        ).alias("leak_share"),
    )


@query(
    "events_watermark_open_state",
    oracle=f"""
    WITH base AS (SELECT epoch_us(ts) AS us FROM events),
    bounds AS (SELECT max(us) AS mx FROM base),
    grid AS (
      SELECT d.delay_s, w.window_s
      FROM (VALUES {_values(WM_DELAYS_S)}) d(delay_s),
           (VALUES {_values(WM_WINDOWS_S)}) w(window_s)
    ),
    fan AS (
      SELECT g.delay_s, g.window_s, b.us, bo.mx,
             ((b.us // (g.window_s::BIGINT * 1000000)) + 1)
               * (g.window_s::BIGINT * 1000000) AS wend
      FROM base b CROSS JOIN bounds bo CROSS JOIN grid g
    )
    SELECT delay_s, window_s,
           count(DISTINCT CASE WHEN wend > mx - delay_s::BIGINT * 1000000
                               THEN wend END)::BIGINT AS n_open_windows,
           sum(CASE WHEN wend > mx - delay_s::BIGINT * 1000000
                    THEN 1 ELSE 0 END)::BIGINT AS n_buffered_events,
           round(sum(CASE WHEN wend > mx - delay_s::BIGINT * 1000000
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS buffered_share,
           sum(CASE WHEN us >= mx - 2 * delay_s::BIGINT * 1000000
                    THEN 1 ELSE 0 END)::BIGINT AS n_dedup_keys_live
    FROM fan GROUP BY delay_s, window_s
    """,
)
def events_watermark_open_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-of-stream state sizing for the watermark grid: with the
    final watermark at (max event time - delay), how many event-time
    windows are still OPEN (unemitted in append mode — their aggregate
    rows live in the state store), how many input rows those windows
    buffer, and how many ``dropDuplicatesWithinWatermark`` keys are
    still retained (event time within 2xdelay of the frontier — the
    eviction rule from events_watermark_dedup_audit). Multiply by
    bytes-per-row and this is the executor-memory line item a delay
    choice costs; together with drop_share (grid) and leak_share
    (dedup audit) it completes the three-way watermark trade.

    Scale: one scalar max broadcast against the fact, constant grid
    fan, one 8-group aggregate — no window functions at all (the
    watermark at end-of-stream needs only the global frontier, not
    the running one)."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(F.unix_micros("ts").alias("us"))
    bounds = base.agg(F.max("us").alias("mx"))
    fan = (
        base.crossJoin(F.broadcast(bounds))
        .withColumn(
            "delay_s", F.explode(F.array(*[F.lit(d) for d in WM_DELAYS_S]))
        )
        .withColumn(
            "window_s", F.explode(F.array(*[F.lit(w) for w in WM_WINDOWS_S]))
        )
        .withColumn("wend", F.expr(_WEND))
    )
    wm = F.col("mx") - F.col("delay_s").cast("long") * 1_000_000
    open_w = F.col("wend") > wm
    key_live = F.col("us") >= F.col("mx") - 2 * F.col("delay_s").cast(
        "long"
    ) * 1_000_000
    return fan.groupBy("delay_s", "window_s").agg(
        F.countDistinct(F.when(open_w, F.col("wend")))
        .cast("long")
        .alias("n_open_windows"),
        F.sum(F.when(open_w, 1).otherwise(0))
        .cast("long")
        .alias("n_buffered_events"),
        stable_round(
            F.sum(F.when(open_w, 1).otherwise(0)) * 1.0 / F.count(F.lit(1)),
            6,
        ).alias("buffered_share"),
        F.sum(F.when(key_live, 1).otherwise(0))
        .cast("long")
        .alias("n_dedup_keys_live"),
    )


#: Trigger intervals (seconds) for the batch-watermark drop matrix.
TRIGGER_GRID_S = (60, 600, 3600)
#: Delay grid for the matrix — the continuous grid's delays minus the
#: 1 h anchor (whose continuous drop count is zero by the jitter
#: bound, which would make the capture ratio degenerate).
MATRIX_DELAYS_S = (30, 300, 1800)
#: Fixed window size for the matrix (one cell of the lateness grid).
MATRIX_WINDOW_S = 3600


@query(
    "events_lateness_trigger_matrix",
    oracle=f"""
    WITH {_EV_CTES},
    tg AS (SELECT t FROM (VALUES {_values(TRIGGER_GRID_S)}) x(t)),
    fanned AS (
      SELECT ev.us, ev.arrival_us, ev.run_max_us, tg.t,
             ev.arrival_us // (tg.t::BIGINT * 1000000) AS tb
      FROM ev CROSS JOIN tg
    ),
    bframe AS (
      SELECT t, tb, max(us) AS bmax FROM fanned GROUP BY 1, 2
    ),
    bprev AS (
      SELECT t, tb, max(bmax) OVER (PARTITION BY t ORDER BY tb
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM bframe
    ),
    ev2 AS (
      SELECT f.t, f.us, f.run_max_us, coalesce(p.prev_max, -1) AS bwm
      FROM fanned f JOIN bprev p ON f.t = p.t AND f.tb = p.tb
    ),
    dg AS (SELECT d FROM (VALUES {_values(MATRIX_DELAYS_S)}) x(d)),
    flags AS (
      SELECT t, d,
             CASE WHEN bwm - d::BIGINT * 1000000 >=
                  ((us // {MATRIX_WINDOW_S * 1_000_000}) + 1)
                    * {MATRIX_WINDOW_S * 1_000_000}
                  THEN 1 ELSE 0 END AS drop_batch,
             CASE WHEN run_max_us - d::BIGINT * 1000000 >=
                  ((us // {MATRIX_WINDOW_S * 1_000_000}) + 1)
                    * {MATRIX_WINDOW_S * 1_000_000}
                  THEN 1 ELSE 0 END AS drop_cont
      FROM ev2 CROSS JOIN dg
    )
    SELECT t::INTEGER AS trigger_s, d::INTEGER AS delay_s,
           count(*)::BIGINT AS n_events,
           sum(drop_batch)::BIGINT AS n_dropped_batch,
           sum(drop_cont)::BIGINT AS n_dropped_continuous,
           round(sum(drop_batch) * 1.0 / count(*), 6) AS drop_share_batch,
           round(CASE WHEN sum(drop_cont) > 0
                      THEN sum(drop_batch) * 1.0 / sum(drop_cont)
                 END, 4) AS capture_ratio
    FROM flags GROUP BY 1, 2
    """,
)
def events_lateness_trigger_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How trigger interval buys back late data: the lateness grid's
    drop rule re-evaluated under PER-BATCH watermarks (the semantics
    tests/test_streaming_lateness.py pinned against the engine: the
    watermark an event faces is the max event time of earlier
    BATCHES, batch = its arrival's trigger slot) at trigger ∈
    {{60 s, 600 s, 1 h}} × delay ∈ {{30 s, 300 s, 1800 s}}, window
    fixed at 1 h. ``n_dropped_continuous`` is the continuous-limit
    bound (the registered grid's rule); ``capture_ratio`` =
    batch/continuous is the share of the bound a real micro-batch
    stream actually drops — coarser triggers hold the watermark back,
    so they DROP LESS but buffer more (events_watermark_open_state
    prices that side). The two tables together turn "pick a trigger"
    into arithmetic.

    Scale: the batch-watermark frame is per (trigger, slot) —
    bounded by horizon/trigger rows, independent of data volume —
    with its prefix max PARTITIONED by trigger; the continuous
    frontier reuses the two-level prefix scan; both bind back by
    equi-join/broadcast. Constant 3x3 grid fan, one 9-row
    aggregate."""
    base = jittered_arrivals(load_table(spark, sf_dir, "events"))
    ev = with_running_max(base)
    fanned = ev.withColumn(
        "t", F.explode(F.array(*[F.lit(t) for t in TRIGGER_GRID_S]))
    ).withColumn(
        "tb", F.expr("arrival_us div (cast(t as bigint) * 1000000)")
    )
    # the per-batch max needs only (t, tb, us) — derive it from the
    # CHEAP base projection, not from `fanned`: routing it through ev
    # evaluated the whole two-level prefix scan a second time for the
    # broadcast side (the running max plays no part in bmax)
    bframe = (
        base.withColumn(
            "t", F.explode(F.array(*[F.lit(t) for t in TRIGGER_GRID_S]))
        )
        .withColumn(
            "tb", F.expr("arrival_us div (cast(t as bigint) * 1000000)")
        )
        .groupBy("t", "tb")
        .agg(F.max("us").alias("bmax"))
    )
    bprev = bframe.select(
        "t",
        "tb",
        F.max("bmax")
        .over(
            Window.partitionBy("t")
            .orderBy("tb")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        .alias("prev_max"),
    )
    ev2 = fanned.join(F.broadcast(bprev), ["t", "tb"]).select(
        "t",
        "us",
        "run_max_us",
        F.coalesce(F.col("prev_max"), F.lit(-1)).alias("bwm"),
    )
    flags = ev2.withColumn(
        "d", F.explode(F.array(*[F.lit(d) for d in MATRIX_DELAYS_S]))
    )
    w_us = MATRIX_WINDOW_S * 1_000_000
    wend = F.expr(f"((us div {w_us}) + 1) * {w_us}")
    d_us = F.col("d").cast("long") * 1_000_000
    drop_b = F.when(F.col("bwm") - d_us >= wend, 1).otherwise(0)
    drop_c = F.when(F.col("run_max_us") - d_us >= wend, 1).otherwise(0)
    return (
        flags.groupBy(
            F.col("t").cast("int").alias("trigger_s"),
            F.col("d").cast("int").alias("delay_s"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(drop_b).cast("long").alias("n_dropped_batch"),
            F.sum(drop_c).cast("long").alias("n_dropped_continuous"),
            stable_round(
                F.sum(drop_b) * 1.0 / F.count(F.lit(1)), 6
            ).alias("drop_share_batch"),
            stable_round(
                F.when(
                    F.sum(drop_c) > 0,
                    F.sum(drop_b) * 1.0 / F.sum(drop_c),
                ),
                4,
            ).alias("capture_ratio"),
        )
    )
