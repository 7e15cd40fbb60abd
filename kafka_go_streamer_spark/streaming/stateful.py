"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference is stateless per message (its only state is the
uncommitted producer batch, reference main.go:373-375); these operators
are the Spark-native extension for per-key running state: the state
store is checkpointed with the query, partitioned by the grouping key,
and survives restarts — semantics the reference's in-memory batches
could never give.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_SCHEMA = "user_id bigint, n_events bigint, total_value double"
_STATE_SCHEMA = "n bigint, total double"


def _running_totals(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_totals_per_user(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum) maintained in the state store across
    micro-batches. Input needs ``user_id`` and ``value`` columns.

    Scale: state is hash-partitioned by user_id exactly like a streaming
    aggregation; each micro-batch touches only keys present in the batch.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals,
        outputStructType=RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: Streaming twin of plans/analytics_ext.py:merge_upsert_user_state —
#: the per-key terminal state an SCD-1 MERGE maintains, kept in the
#: state store instead of recomputed per run.
UPSERT_SCHEMA = (
    "user_id bigint, last_ts timestamp, last_event_type string, "
    "last_value double, op string"
)
_UPSERT_STATE = "ts_ns bigint, etype string, value double"


def _latest_state(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    had = state.exists
    if had:
        ts_ns, etype, value = state.get
    else:
        ts_ns = -(1 << 62)
        etype, value = None, None
    for pdf in pdfs:
        if not len(pdf):
            continue
        # terminal event of this batch for the key: max ts wins (ties
        # impossible — (user_id, ts) unique in the changelog, the same
        # precondition the batch twin documents)
        ns = pdf["ts"].astype("int64")
        i = int(ns.idxmax())
        if int(ns.loc[i]) > ts_ns:
            ts_ns = int(ns.loc[i])
            etype = pdf["event_type"].loc[i]
            value = float(pdf["value"].loc[i])
    state.update((ts_ns, etype, value))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "last_ts": [pd.Timestamp(ts_ns)],
            "last_event_type": [etype],
            "last_value": [value],
            "op": ["update" if had else "insert"],
        }
    )


def latest_state_per_user(events: DataFrame) -> DataFrame:
    """Streaming MERGE/upsert (SCD type 1): per-user terminal
    (ts, event_type, value) maintained in the state store across
    micro-batches, each emission labeled 'insert' (key unseen before
    this batch) or 'update' — the streaming twin of the batch
    ``merge_upsert_user_state`` query, with the state table replacing
    the batch query's pre-cutoff scan. Out-of-order events cannot
    regress state: a batch only advances a key when it carries a newer
    ts (max_by semantics, matching the batch twin exactly).

    Input needs ``user_id``, ``ts``, ``event_type``, ``value``.

    Scale: state is hash-partitioned by user_id like any streaming
    aggregation — per-key payload is one (ts, enum, double) tuple, and
    each micro-batch touches only the keys present in it."""
    return events.groupBy("user_id").applyInPandasWithState(
        _latest_state,
        outputStructType=UPSERT_SCHEMA,
        stateStructType=_UPSERT_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: Streaming twin of plans/fidelity.py:events_return_probability — the
#: (predecessor type, inter-event gap) pairs that query derives with a
#: lead() window, produced incrementally from a per-user last-event
#: register.
RETURN_GAPS_SCHEMA = "event_type string, gap_us bigint"
_RETURN_STATE = "last_us bigint, last_type string"


def _return_gaps(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        last_us, last_type = state.get
    else:
        last_us, last_type = None, None
    types: list = []
    gaps: list = []
    # concatenate the WHOLE batch before sorting: a >maxRecordsPerBatch
    # group arrives as several Arrow chunks, and chunk-local sorts
    # would interleave out-of-order (negative gaps, wrong predecessor
    # attribution) — same reassembly rule as fold_packed
    frames = [pdf for pdf in pdfs if len(pdf)]
    if frames:
        batch = pd.concat(frames, ignore_index=True).sort_values(
            ["us", "event_id"]
        )
        for us, et in zip(
            batch["us"].astype("int64"), batch["event_type"]
        ):
            if last_us is not None:
                types.append(last_type)
                gaps.append(int(us) - int(last_us))
            last_us, last_type = int(us), str(et)
    if last_us is not None:
        state.update((int(last_us), last_type))
    yield pd.DataFrame(
        {
            "event_type": pd.Series(types, dtype="object"),
            "gap_us": pd.Series(gaps, dtype="int64"),
        }
    )


def return_gaps_stream(events: DataFrame) -> DataFrame:
    """Per-user session-gap state machine: for each event after a
    user's first, emit (type of the PREVIOUS event, gap to it in µs) —
    the incremental form of ``events_return_probability``'s
    lead() window. A user's last-seen (us, type) is the whole state;
    the batch query's "censored" rows are exactly the registers still
    held when the feed ends (one per user), so stream-side counts per
    type plus the leftover state reproduce the batch hazard table.

    Input needs ``user_id``, ``event_id``, ``us`` (epoch micros),
    ``event_type``. Precondition: the feed delivers each user's events
    in event-time order across batches (the fixture's arrival order; a
    real deployment fronts this with a watermark-bounded sorter, the
    lateness family's territory) — within a batch the operator sorts,
    across batches the state register only ever moves forward.

    Scale: state is one (long, enum) pair per user, hash-partitioned
    like any streaming aggregation; each micro-batch touches only the
    users present in it."""
    return events.groupBy("user_id").applyInPandasWithState(
        _return_gaps,
        outputStructType=RETURN_GAPS_SCHEMA,
        stateStructType=_RETURN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hll_registers_stream(events: DataFrame) -> DataFrame:
    """Streaming HyperLogLog: maintain the per-(event_type, register)
    max-rho table over an unbounded event stream — the streaming twin
    of the batch ``sketch_hll_distinct`` build, made by the same
    ``plans/sketches.hll_ranks`` / ``hll_registers`` helpers.

    max() is associative and commutative, so the register table is
    EXACTLY mergeable across micro-batches: after any prefix of the
    stream the state equals the batch build over the same rows (the
    sketch property the batch query proves across partitions, proven
    here across TIME — tests/test_streaming.py). State size is bounded
    by types x HLL_M rows regardless of stream volume, so this runs in
    complete/update mode forever without watermark eviction; the
    distinct-count estimate is read off the registers at any moment
    with the batch query's estimate arithmetic."""
    from kafka_go_streamer_spark.plans.sketches import hll_ranks, hll_registers

    return hll_registers(hll_ranks(events, "event_type"), "event_type")


def histogram_bands_stream(
    events: DataFrame,
    lo: float,
    hi: float,
    value_col: str = "value",
    bins: int | None = None,
) -> DataFrame:
    """Streaming equi-width histogram: maintain the per-band count
    table over an unbounded stream — the streaming twin of the batch
    ``sketch_quantile_bands`` build (plans/sketches.py), sharing its
    binning arithmetic. Band edges come from an OFFLINE min/max pass
    (passed in as ``lo``/``hi``), the same offline-train / online-fold
    split the IVF store uses for its quantizer; out-of-range stream
    values clamp into the edge bands rather than being dropped, so the
    total count stays exact.

    count() is associative and commutative, so after any stream prefix
    the state equals the batch histogram over the same rows, and any
    quantile is read off the bands at any moment with the batch
    query's interpolation arithmetic (tests/test_streaming.py proves
    both). State is at most ``bins`` rows regardless of volume — runs
    in complete mode forever with no watermark eviction."""
    from kafka_go_streamer_spark.plans.sketches import QB_BINS

    b = bins or QB_BINS
    width = (hi - lo) / b
    raw_bin = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast(
        "long"
    )
    bin_col = F.greatest(
        F.least(raw_bin, F.lit(b - 1)), F.lit(0)
    )
    return (
        events.select(bin_col.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def tws_available() -> bool:
    """True when ``transformWithStateInPandas`` can run here: its
    Python driver worker speaks protobuf to the JVM state server, so
    the ``google.protobuf`` package must be importable (this container
    ships without it — the operator is environment-gated exactly like
    the Kafka broker path)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum) on the ``transformWithState``
    API (Spark 4) — the successor of ``applyInPandasWithState`` used
    by :func:`running_totals_per_user`: state lives in NAMED typed
    handles (here one ValueState) instead of a single tuple, and the
    processor object carries init/close lifecycle plus timer support.
    Kept as a twin of the legacy-API operator so the suite proves both
    stateful surfaces produce identical state evolution. Requires the
    RocksDB state store provider AND a protobuf-capable Python
    environment (gate on :func:`tws_available`).

    Scale: identical physics to the legacy form — state hash-partitioned
    by user_id, each micro-batch touches only its keys, Arrow-batched
    pandas on the Python side."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n bigint, total double"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._totals.exists():
                n, total = self._totals.get()
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningTotals(),
        outputStructType=RUNNING_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def cms_grid_stream(events: DataFrame) -> DataFrame:
    """Streaming Count-Min sketch: maintain the 4×256 counter grid
    over an unbounded event stream — the streaming twin of the batch
    ``sketch_countmin_heavy_users`` build (plans/sketches.py), sharing
    its bucket-hash expressions verbatim.

    Sum is associative and commutative, so the grid is EXACTLY
    mergeable across micro-batches: after any stream prefix the state
    equals the batch grid over the same rows, and any key's frequency
    estimate (min over the key's D cells) reads off the live grid with
    the batch probe arithmetic. State is bounded at D×W rows forever —
    complete/update mode with no watermark eviction, like the HLL and
    histogram register streams."""
    from kafka_go_streamer_spark.plans.sketches import _cms_cells

    cells = events.select(_cms_cells("user_id").alias("c")).select(
        "c.d", "c.bucket"
    )
    return cells.groupBy("d", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


#: Streaming KLL quantile sketch (twin of plans/sketches.py
#: sketch_kll_quantiles): per-event-type compactor levels live in the
#: state store as (level, values[]) arrays.
KLL_STREAM_SCHEMA = (
    "event_type string, total_weight bigint, n_retained bigint, "
    "p50 double, p90 double, p99 double"
)
_KLL_STATE = "levels array<array<double>>"


def _kll_update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    from kafka_go_streamer_spark.operators.kll import KLLSketch
    from kafka_go_streamer_spark.plans.sketches import KLL_K

    sk = KLLSketch(KLL_K)
    if state.exists:
        (levels,) = state.get
        for lvl, vals in enumerate(levels):
            while lvl >= len(sk.levels):
                sk.levels.append([])
            sk.levels[lvl].extend(float(v) for v in vals)
    for pdf in pdfs:
        if len(pdf):
            sk.update_many(pdf["value"].astype(float).tolist())
    state.update(([list(vs) for vs in sk.levels],))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "total_weight": [sk.total_weight()],
            "n_retained": [sk.n_retained()],
            "p50": [sk.quantile(0.5)],
            "p90": [sk.quantile(0.9)],
            "p99": [sk.quantile(0.99)],
        }
    )


def kll_quantiles_stream(events: DataFrame) -> DataFrame:
    """Streaming KLL rank-quantile sketch: per-event-type compactor
    levels maintained in the state store across micro-batches — the
    streaming twin of the batch ``sketch_kll_quantiles`` build,
    sharing its compaction core (operators/kll.py) verbatim.

    The KLL merge is associative but NOT order-invariant (compaction
    keeps a pseudo-random half), so unlike the HLL/CMS register
    streams the streamed sketch is not bit-equal to the batch build —
    the invariants that ARE exact, and that the tests assert, are (a)
    total_weight equals the true row count after any stream prefix
    (odd-item retention conserves weight through every compaction and
    restart) and (b) every reported quantile's true rank stays inside
    the certified KLL_EPS bound. State is O(k·log(n/k)) doubles per
    key forever — no watermark eviction needed, same bounded-state
    contract as the register streams."""
    return events.groupBy("event_type").applyInPandasWithState(
        _kll_update,
        outputStructType=KLL_STREAM_SCHEMA,
        stateStructType=_KLL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: Streaming Misra-Gries top-k (deterministic heavy hitters): counter
#: budget per event type.
MG_K = 8
MG_STREAM_SCHEMA = (
    "event_type string, user_id bigint, est bigint, "
    "max_err bigint, n_total bigint"
)
_MG_STATE = "items array<long>, counts array<long>, n bigint"


def _mg_update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    from kafka_go_streamer_spark.operators.topk import MisraGries

    mg = MisraGries(MG_K)
    if state.exists:
        items, counts, n = state.get
        mg.counters = {
            int(i): int(c) for i, c in zip(items, counts)
        }
        mg.n = int(n)
    for pdf in pdfs:
        if len(pdf):
            mg.update_many(int(u) for u in pdf["user_id"])
    state.update(
        (
            list(mg.counters.keys()),
            [int(c) for c in mg.counters.values()],
            mg.n,
        )
    )
    err = mg.max_error()
    items = sorted(
        mg.counters.items(), key=lambda kv: (-kv[1], kv[0])
    )
    yield pd.DataFrame(
        {
            "event_type": [key[0]] * len(items),
            "user_id": [i for i, _ in items],
            "est": [c for _, c in items],
            "max_err": [err] * len(items),
            "n_total": [mg.n] * len(items),
        }
    )


def mg_topk_stream(events: DataFrame) -> DataFrame:
    """Streaming Misra-Gries heavy hitters: the k-counter deterministic
    top-k summary per event type, carried through the state store —
    the undercounting, hash-free counterpart of the Count-Min grid
    stream (which overcounts and needs a D×W grid). State is EXACTLY
    k counters + one total per key forever.

    The decrement step makes the summary order-sensitive (like KLL's
    compaction), so bit-equality with a batch pass is not the
    contract; the invariants that ARE exact after any stream prefix —
    and that the tests assert against true batch counts — are
    (a) n_total equals the true per-type row count, (b) every
    estimate undercounts its true count by at most max_err =
    (n − Σ counts)/(k+1), and (c) any item with true count >
    n/(k+1) is retained. Those bounds survive micro-batch boundaries
    and restarts because the state IS the summary and the summary is
    mergeable."""
    return events.groupBy("event_type").applyInPandasWithState(
        _mg_update,
        outputStructType=MG_STREAM_SCHEMA,
        stateStructType=_MG_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
