"""Shared machinery: the Spark session the workloads run on, the span
recorder of the traced run, percentiles, and the Spark event-log and
block-manager readers behind the execution-layer metrics."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

import numpy as np


# Set-up is repeated this many times in a run, and its median reported.
SETUP_REPS = 5


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def median(values) -> float:
    return pct(values, 50)


class Tracer:
    """Spans kept in memory: (name, start, end, parent, run ID). With
    ``enabled`` false, ``span`` records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a span whose times were measured elsewhere (e.g. a
        micro-batch phase taken from a Spark progress event)."""
        sid = len(self.spans)
        if self.enabled:
            self.spans.append({"id": sid, "name": name, "parent": parent, "run": self.run_id,
                               "start": start, "end": end, **attrs})
        return sid

    def durations(self, name: str) -> list[float]:
        """Durations in seconds of every closed span called ``name``."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def start_spark(workdir: str, n_cpus: int, event_log: bool, app: str = "perfbench"):
    """A ``get_spark`` session whose scratch and warehouse files stay
    under ``workdir``."""
    from kafka_go_streamer_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }
    if event_log:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark(app, cpus=n_cpus, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (it quits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def storage_mem_mb(spark) -> float:
    """Block-manager storage memory in use across executors, in MB."""
    jvm = spark.sparkContext._jvm
    status = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    )
    used = sum(v._1() - v._2() for v in status.values())
    return used / 2**20


def read_event_log(workdir: str) -> dict:
    """Per job group: jobs, stages, tasks, job seconds, shuffle bytes,
    spill bytes and GC ms, from the local event log(s) under
    ``workdir/eventlog``. Jobs with no group fall under ``""``."""
    agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(workdir, "eventlog", "*")):
        job_group: dict[int, str] = {}
        stage_group: dict[int, str] = {}
        job_start: dict[int, float] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"]
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    agg[g]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    g = job_group.get(jid, "")
                    agg[g]["job_s"] += (ev["Completion Time"] - job_start.get(jid, ev["Completion Time"])) / 1000
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    agg[stage_group.get(sid, "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"], "")
                    m = ev.get("Task Metrics") or {}
                    a = agg[g]
                    a["tasks"] += 1
                    a["gc_ms"] += m.get("JVM GC Time", 0)
                    a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    r = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
    return agg

