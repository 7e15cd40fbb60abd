"""Streaming observability: a StreamingQueryListener that captures
per-query throughput, the Spark-native answer to the reference's
observability hooks (pprof profile dump on SIGUSR1 + zap debug logging,
reference main.go:124-161, 189-195).

Where the reference exposes process-level profiles, Spark's runtime
already meters every micro-batch; this listener surfaces the subset the
reference's operators would have wanted — rows in, rows/sec, batch
latency and its phases (``durationMs``: latestOffset, getBatch,
queryPlanning, addBatch, walCommit, commitOffsets, ...) — keyed by query
name, so a fleet of per-spliter routers (streaming/router.py) reports
like the reference's per-spliter goroutine pairs.

Zero overhead on the data path: listeners run on the driver's listener
bus thread; nothing is added to the executor-side plan.
"""

from __future__ import annotations

import threading
from collections import deque
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

#: Per-batch phase maps kept per query, like Spark's own
#: ``StreamingQuery.recentProgress`` (``numRecentProgressUpdates`` = 100):
#: a router that runs for days must not grow without bound. The per-phase
#: totals cover every batch.
RECENT_BATCHES = 100


@dataclass
class QueryStats:
    """Rolled-up progress for one streaming query."""

    name: str
    batches: int = 0
    total_input_rows: int = 0
    last_rows_per_sec: float = 0.0
    peak_rows_per_sec: float = 0.0
    #: Summed ``durationMs`` over every batch, per phase.
    phase_ms: dict[str, int] = field(default_factory=dict)
    #: The last ``RECENT_BATCHES`` batches' full ``durationMs`` maps.
    recent_durations: deque = field(default_factory=lambda: deque(maxlen=RECENT_BATCHES))

    @property
    def avg_phase_ms(self) -> dict[str, float]:
        return {k: v / self.batches for k, v in self.phase_ms.items()} if self.batches else {}

    @property
    def avg_batch_ms(self) -> float:
        return self.avg_phase_ms.get("triggerExecution", 0.0)


class RouterMetricsListener(StreamingQueryListener):
    """Collects per-query rows/sec + batch-duration stats, phase by
    phase, from the driver's progress events.

    Usage::

        listener = RouterMetricsListener()
        spark.streams.addListener(listener)
        ... run queries ...
        listener.stats["my_query_name"].total_input_rows

    Thread-safe: progress events arrive on the listener-bus thread
    while tests/operators read from the main thread.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._changed = threading.Condition(self._lock)
        self.stats: dict[str, QueryStats] = {}
        self.terminated: list[str] = []

    # -- StreamingQueryListener interface -------------------------------
    def onQueryStarted(self, event) -> None:
        name = event.name or str(event.id)
        with self._lock:
            self.stats.setdefault(name, QueryStats(name=name))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        name = p.name or str(p.id)
        rps = p.processedRowsPerSecond or 0.0
        durations = dict(p.durationMs or {})
        with self._lock:
            st = self.stats.setdefault(name, QueryStats(name=name))
            st.batches += 1
            st.total_input_rows += p.numInputRows
            st.last_rows_per_sec = rps
            st.peak_rows_per_sec = max(st.peak_rows_per_sec, rps)
            for phase, ms in durations.items():
                st.phase_ms[phase] = st.phase_ms.get(phase, 0) + ms
            st.recent_durations.append(durations)
            self._changed.notify_all()

    def onQueryIdle(self, event) -> None:  # pragma: no cover - no-op
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.append(str(event.id))

    # -- reporting ------------------------------------------------------
    def wait_for_rows(self, name: str, rows: int, timeout: float = 60.0) -> bool:
        """Block until ``name`` has accumulated >= ``rows`` input rows.
        Progress events are delivered on the listener bus AFTER the
        batch commits, so callers that just awaited termination must
        rendezvous here before reading stats."""
        import time

        deadline = time.monotonic() + timeout
        with self._changed:
            while True:
                st = self.stats.get(name)
                if st and st.total_input_rows >= rows and st.batches >= 1:
                    return True
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    return False
                self._changed.wait(remaining)

    def snapshot(self) -> dict[str, dict]:
        """Point-in-time copy safe to read while queries run."""
        with self._lock:
            return {
                n: {
                    "batches": s.batches,
                    "total_input_rows": s.total_input_rows,
                    "last_rows_per_sec": s.last_rows_per_sec,
                    "peak_rows_per_sec": s.peak_rows_per_sec,
                    "avg_batch_ms": s.avg_batch_ms,
                    "avg_phase_ms": s.avg_phase_ms,
                    "recent_durations": [dict(d) for d in s.recent_durations],
                }
                for n, s in self.stats.items()
            }
