"""The two router workloads.

``router-drain`` (closed loop): a staged message log is drained with
``availableNow`` at a fixed ``maxFilesPerTrigger``: file source ->
``route_microbatch`` -> checkpointed parquet sink, the exactly-once path
of ``start_checkpointed_file_router``.

``router-steady`` (open loop): ``feeder.py`` writes message files on a
fixed schedule while the router runs ``DOCS_SPLITER`` on a short
processing-time trigger into the same kind of sink. A message's latency
runs from the time it was due to the commit of its batch, which is the
mtime of the sink's ``_spark_metadata/<batchId>`` entry.

Both check the sink against DuckDB (RE2) evaluating
``routing.routing_case_sql`` over the same input.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import data
from common import SETUP_REPS, Tracer, median, pct

MSG_SCHEMA = "key string, value string"

# router-drain: the staged log, and how it is drained.
DRAIN_FILES = 32
DRAIN_ROWS_PER_FILE = 6_000
FILES_PER_TRIGGER = 4
MIN_DRAINS = 3  # a fixed floor, so the median does not hinge on how many fit
BASELINE_FILES = 12  # drained on local[1] in the traced run

# router-steady: the offered load.
RATE = 2000  # messages per second
FILE_MS = 100
TRIGGER_MS = 500
WARMUP_S = 5.0  # fed but left out of the latency figures

# Micro-batch phases as Spark reports them, in the order a batch runs
# them, with the span name each is recorded under.
PHASES = [
    ("latestOffset", "source.latest_offset"),
    ("walCommit", "router.wal_commit"),
    ("getBatch", "source.get_batch"),
    ("queryPlanning", "router.query_planning"),
    ("addBatch", "router.add_batch"),
    ("commitOffsets", "router.commit_offsets"),
]


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batches(query, tracer: Tracer) -> list[dict]:
    """The query's progress events that moved rows, as dicts; with the
    tracer on, each becomes a ``router.batch`` span with one child span
    per phase, laid end to end in run order."""
    out = []
    for p in query.recentProgress:
        if not p.numInputRows:
            continue
        rec = {"batch": p.batchId, "rows": p.numInputRows, "start": _epoch(p.timestamp),
               "ms": dict(p.durationMs)}
        out.append(rec)
        if tracer.enabled:
            t = rec["start"]
            parent = tracer.add("router.batch", t, t + rec["ms"]["triggerExecution"] / 1e3,
                                rows=rec["rows"], batch=rec["batch"])
            for key, name in PHASES:
                d = rec["ms"].get(key, 0) / 1e3
                tracer.add(name, t, t + d, parent=parent)
                t += d
    return out


def routed_counts(spliter, glob_path: str) -> dict[str, int]:
    """Per-topic counts by DuckDB (RE2) over the router's input; the
    ``None`` key counts dropped messages."""
    case = oracle_case(spliter)
    rows = duckdb.sql(
        f"SELECT {case} AS t, count(*) FROM read_parquet('{glob_path}') GROUP BY t"
    ).fetchall()
    return {t: n for t, n in rows}


def oracle_case(spliter) -> str:
    from kafka_go_streamer_spark.routing import routing_case_sql

    return routing_case_sql(spliter, "value")


def sink_counts(sink: str) -> tuple[dict[str, int], int]:
    """Per-topic row counts in a parquet sink, and how many rows repeat
    an earlier key."""
    rows = duckdb.sql(
        f"SELECT topic, count(*), count(*) - count(DISTINCT key) "
        f"FROM read_parquet('{sink}/*.parquet') GROUP BY topic"
    ).fetchall()
    return {t: n for t, n, _ in rows}, sum(d for _, _, d in rows)


def count_errors(expected: dict, got: dict) -> int:
    want = {t: n for t, n in expected.items() if t is not None}
    return sum(abs(want.get(t, 0) - got.get(t, 0)) for t in set(want) | set(got))


def sink_size(sink: str) -> tuple[int, int]:
    files = [f for f in os.listdir(sink) if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(os.path.join(sink, f)) for f in files)


def load_spliter(tracer: Tracer, b64: str):
    from kafka_go_streamer_spark.config import load_split_conf_b64

    with tracer.span("config.load"):
        return load_split_conf_b64(b64).spliters[0]


# ---------------------------------------------------------------- drain


def stage_drain_log(seed: int, tracer: Tracer, log_dir: str) -> None:
    with tracer.span("stage.log"):
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        corpus = data.documents_text(np.random.default_rng(seed), 5000)
        log = data.message_log(seed, corpus, DRAIN_FILES * DRAIN_ROWS_PER_FILE)
        for i in range(DRAIN_FILES):
            pq.write_table(log.slice(i * DRAIN_ROWS_PER_FILE, DRAIN_ROWS_PER_FILE),
                           os.path.join(log_dir, f"part-{i:04d}.parquet"))


def first_files(log_dir: str, n: int) -> str:
    """A copy of the log's first ``n`` files, in a directory of its own."""
    out = f"{log_dir}-first{n}"
    os.makedirs(out)
    for i in range(n):
        name = f"part-{i:04d}.parquet"
        shutil.copy(os.path.join(log_dir, name), os.path.join(out, name))
    return out


def drain(spark, spliter, log_dir: str, out_dir: str, fmt: str = "parquet") -> dict:
    """One availableNow drain of ``log_dir`` into a fresh sink."""
    from kafka_go_streamer_spark.streaming.router import route_microbatch

    shutil.rmtree(out_dir, ignore_errors=True)
    stream = (spark.readStream.schema(MSG_SCHEMA)
              .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER)).parquet(log_dir))
    writer = (route_microbatch(stream, spliter).writeStream.format(fmt)
              .option("checkpointLocation", os.path.join(out_dir, "ckpt"))
              .trigger(availableNow=True))
    if fmt == "parquet":
        writer = writer.option("path", os.path.join(out_dir, "sink"))
    t0 = time.perf_counter()
    q = writer.start()
    q.awaitTermination()
    wall = time.perf_counter() - t0
    return {"query": q, "wall": wall, "sink": os.path.join(out_dir, "sink"), "run_id": str(q.runId)}


def run_drain(ctx) -> dict:
    """Set up SETUP_REPS times, drain the log once to warm up, then drain
    it again, each time into a fresh checkpoint and sink, until the
    measured window is spent and at least MIN_DRAINS times."""
    tr: Tracer = ctx.tracer
    log_dir = os.path.join(ctx.workdir, "log")
    setups = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        spliter = load_spliter(tr, data.SPLIT_CONF_B64)
        stage_drain_log(ctx.seed, tr, log_dir)
        setups.append(time.perf_counter() - t0)
    spark = ctx.spark()
    # a whole untimed drain first: the JIT is still compiling the route
    # and write paths during the first few hundred thousand rows
    drain(spark, spliter, log_dir, os.path.join(ctx.workdir, "warm"))
    expected = routed_counts(spliter, os.path.join(log_dir, "*.parquet"))
    n_msgs = DRAIN_FILES * DRAIN_ROWS_PER_FILE

    def measure(tracer: Tracer, label: str) -> dict:
        runs = []
        t_end = time.perf_counter() + ctx.seconds
        while len(runs) < MIN_DRAINS or time.perf_counter() < t_end:
            with tracer.span("router.drain", rows=n_msgs):
                d = drain(spark, spliter, log_dir, os.path.join(ctx.workdir, f"{label}{len(runs)}"))
            d["batches"] = batches(d["query"], tracer)
            runs.append(d)
        return {"runs": runs, "work_s": median([d["wall"] for d in runs]),
                "batch_ms": [b["ms"]["triggerExecution"] for d in runs for b in d["batches"]]}

    failed = 0
    if tr.enabled:
        base = measure(Tracer(tr.run_id, False), "untraced")
        res = measure(tr, "traced")
    else:
        res = measure(tr, "drain")
    topics: dict[str, int] = {}
    for d in res["runs"]:
        got, dups = sink_counts(d["sink"])
        failed += count_errors(expected, got) + dups
        topics = got
    attempted = n_msgs * len(res["runs"])
    rows_per_s = n_msgs / res["work_s"]
    out = {
        "attempted": attempted, "failed": failed,
        "metrics": {
            "setup_s": median(setups),
            "latency_ms_p50": pct(res["batch_ms"], 50),
            "latency_ms_p90": pct(res["batch_ms"], 90),
            "work_s": res["work_s"],
        },
        "summary": {
            "rows_per_s": (rows_per_s, "1/s"),
            "batch_ms_p50": (pct(res["batch_ms"], 50), "ms"),
            "batch_ms_p90": (pct(res["batch_ms"], 90), "ms"),
            "batches": (len(res["batch_ms"]), "count"),
            "drains": (len(res["runs"]), "count"),
        },
    }
    if tr.enabled:
        out["layers"] = drain_layers(ctx, spark, spliter, log_dir, res, base, expected, topics)
    return out


def drain_layers(ctx, spark, spliter, log_dir, res, base, expected, topics) -> dict:
    """Per-layer figures of the traced drain: the twins that price match
    and sink, and the single-core baseline."""
    from kafka_go_streamer_spark.streaming.router import route_microbatch

    tr = ctx.tracer
    n_msgs = DRAIN_FILES * DRAIN_ROWS_PER_FILE
    # match: route() over the cached log into noop, minus a projection twin
    staged = spark.read.schema(MSG_SCHEMA).parquet(log_dir).cache()
    staged.count()
    twin = {}
    for name, frame in (("routing.route_noop", route_microbatch(staged, spliter)),
                        ("routing.project_noop", staged.select("key", "value"))):
        for _ in range(3):
            with tr.span(name):
                frame.write.format("noop").mode("overwrite").save()
        twin[name] = median(tr.durations(name))
    staged.unpersist()
    # sink: the same drain into the noop sink, compared by addBatch time
    with tr.span("router.drain_noop"):
        noop = drain(spark, spliter, log_dir, os.path.join(ctx.workdir, "noop"), fmt="noop")
    noop_add = sum(b["ms"]["addBatch"] for b in batches(noop["query"], Tracer(tr.run_id, False)))
    last = res["runs"][-1]
    parquet_add = sum(b["ms"]["addBatch"] for b in last["batches"])
    files, nbytes = sink_size(last["sink"])
    committed = sum(topics.values())
    unmatched = topics.get(spliter.unmatched_topic, 0)
    dropped = expected.get(None, 0)
    run_ids = {d["run_id"] for d in res["runs"]}
    layers = router_phase_layers(tr)
    layers.update({
        "routing.match_ns_per_row": (twin["routing.route_noop"] - twin["routing.project_noop"]) / n_msgs * 1e9,
        "sink.write_ns_per_row": (parquet_add - noop_add) / 1e3 / n_msgs * 1e9,
        "sink.bytes_written": nbytes,
        "sink.files_written": files,
        "routing.routed_share": committed / n_msgs,
        "routing.match_share": (committed - unmatched + dropped) / n_msgs,
        "trace.overhead_pct": (res["work_s"] - base["work_s"]) / base["work_s"] * 100,
    })
    ctx.topics = topics
    ctx.job_kind = lambda group: "exec" if group in run_ids else None
    ctx.after_stop = lambda: single_core_rows_per_s(ctx, spliter, log_dir)
    return layers


def single_core_rows_per_s(ctx, spliter, log_dir) -> dict:
    """The same drain on ``local[1]``, over the first few files."""
    from common import start_spark, stop_spark

    small = first_files(log_dir, BASELINE_FILES)
    spark = start_spark(ctx.workdir, 1, event_log=False, app="perfbench-1cpu")
    try:
        drain(spark, spliter, small, os.path.join(ctx.workdir, "1cpu-warm"))
        d = drain(spark, spliter, small, os.path.join(ctx.workdir, "1cpu"))
    finally:
        stop_spark(spark)
    return {"router.rows_per_s_1cpu": BASELINE_FILES * DRAIN_ROWS_PER_FILE / d["wall"]}


def router_phase_layers(tr: Tracer) -> dict:
    def ms(name):
        return median(tr.durations(name)) * 1e3

    rows = [s["rows"] for s in tr.spans if s["name"] == "router.batch"]
    return {
        "config.load_ms": ms("config.load"),
        **{f"{name}_ms": ms(name) for _, name in PHASES},
        "router.batches": len(rows),
        "router.rows_per_batch": median(rows),
    }


# --------------------------------------------------------------- steady


def commit_times(sink: str) -> dict[str, float]:
    """Sink file name -> commit time of its batch: the mtime of the
    ``_spark_metadata`` entry that first lists the file (``.compact``
    entries repeat the files of earlier batches)."""
    meta = os.path.join(sink, "_spark_metadata")
    entries = sorted((int(f.split(".")[0]), f) for f in os.listdir(meta) if f[0].isdigit())
    out: dict[str, float] = {}
    for _, f in entries:
        path = os.path.join(meta, f)
        when = os.stat(path).st_mtime_ns / 1e9
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:
                name = os.path.basename(json.loads(line)["path"])
                out.setdefault(name, when)
    return out


def start_steady_query(spark, spliter, src: str, out_dir: str):
    from kafka_go_streamer_spark.streaming.router import route_microbatch

    stream = spark.readStream.schema(MSG_SCHEMA).parquet(src)
    return (route_microbatch(stream, spliter).writeStream.format("parquet")
            .option("path", os.path.join(out_dir, "sink"))
            .option("checkpointLocation", os.path.join(out_dir, "ckpt"))
            .trigger(processingTime=f"{TRIGGER_MS} milliseconds")
            .start())


def steady(ctx, spark, spliter, tracer: Tracer, label: str, query=None) -> dict:
    """Feed the router for the warm-up plus the measured window, let it
    catch up, stop it, and measure and check what it committed."""
    src = os.path.join(ctx.workdir, label, "src")
    out_dir = os.path.join(ctx.workdir, label)
    sink = os.path.join(out_dir, "sink")
    os.makedirs(src, exist_ok=True)
    q = query or start_steady_query(spark, spliter, src, out_dir)
    start_ns = time.time_ns() + 1_000_000_000
    feed_s = WARMUP_S + ctx.seconds
    here = os.path.dirname(os.path.abspath(__file__))
    with tracer.span("router.steady_feed"):
        with subprocess.Popen(
            [sys.executable, os.path.join(here, "feeder.py"), src, str(ctx.seed), str(RATE),
             str(feed_s), str(FILE_MS), str(start_ns)],
            stdout=subprocess.PIPE, text=True,
        ) as feeder:
            out, _ = feeder.communicate(timeout=feed_s + 60)
        if feeder.returncode != 0:
            raise RuntimeError(f"feeder exited with {feeder.returncode}")
        gen = json.loads(out.strip().splitlines()[-1])
        q.processAllAvailable()
    q.stop()
    batch_recs = batches(q, tracer)

    start = start_ns / 1e9
    warm_end = start + WARMUP_S
    commits = commit_times(sink)
    lat, due_all, commit_all = [], [], []
    for name, when in commits.items():
        keys = pq.read_table(os.path.join(sink, name), columns=["key"]).column(0).to_pylist()
        for k in keys:
            due = int(k.split(":")[1]) / 1e6
            due_all.append(due)
            commit_all.append(when)
            if due >= warm_end:
                lat.append((when - due) * 1e3)
    # exactly once, by key: every generated, non-dropped message once
    case = oracle_case(spliter)
    failed = duckdb.sql(f"""
        WITH want AS (SELECT key, t FROM (SELECT key, {case} AS t
                      FROM read_parquet('{src}/part-*.parquet')) WHERE t IS NOT NULL),
             got AS (SELECT key, any_value(topic) AS t, count(*) AS n
                     FROM read_parquet('{sink}/*.parquet') GROUP BY key)
        SELECT count(*) FROM want FULL OUTER JOIN got USING (key)
        WHERE want.key IS NULL OR got.key IS NULL OR want.t <> got.t OR got.n <> 1
    """).fetchone()[0]
    # backlog at each batch commit: messages due by then, not yet committed
    backlog = 0
    for c in sorted(set(commit_all)):
        if c < warm_end:
            continue
        due_n = min(gen["messages"], int((c - start) * RATE) + 1)
        backlog = max(backlog, due_n - sum(1 for x in commit_all if x <= c))
    return {
        "query": q, "gen": gen, "lat": lat, "failed": failed, "sink": sink, "src": src,
        "work_s": max(commit_all) - min(due_all), "batches": batch_recs, "backlog": backlog,
    }


def run_steady(ctx) -> dict:
    from kafka_go_streamer_spark.plans.routing_queries import DOCS_SPLITER

    tr: Tracer = ctx.tracer
    spark = ctx.spark()
    setups, query, spliter = [], None, None
    for _ in range(SETUP_REPS):
        if query is not None:
            query.stop()
        out_dir = os.path.join(ctx.workdir, "steady")
        shutil.rmtree(out_dir, ignore_errors=True)
        t0 = time.perf_counter()
        spliter = load_spliter(tr, data.DOCS_CONF_B64)
        os.makedirs(os.path.join(out_dir, "src"))
        query = start_steady_query(spark, spliter, os.path.join(out_dir, "src"), out_dir)
        setups.append(time.perf_counter() - t0)
    failed = int(spliter.resolved_splits() != DOCS_SPLITER.resolved_splits()
                 or spliter.unmatched_topic != DOCS_SPLITER.unmatched_topic)
    if tr.enabled:
        base = steady(ctx, spark, spliter, Tracer(tr.run_id, False), "steady", query)
        res = steady(ctx, spark, spliter, tr, "steady-traced")
    else:
        res = steady(ctx, spark, spliter, tr, "steady", query)
    failed += res["failed"]
    p50, p90 = pct(res["lat"], 50), pct(res["lat"], 90)
    out = {
        "attempted": res["gen"]["messages"], "failed": failed,
        "metrics": {"setup_s": median(setups), "latency_ms_p50": p50,
                    "latency_ms_p90": p90, "work_s": res["work_s"]},
        "summary": {
            "latency_ms_p50": (p50, "ms"), "latency_ms_p90": (p90, "ms"),
            "latency_samples": (len(res["lat"]), "count"),
            "rate": (RATE, "1/s"), "batches": (len(res["batches"]), "count"),
        },
    }
    if tr.enabled:
        got, _ = sink_counts(res["sink"])
        expected = routed_counts(spliter, os.path.join(res["src"], "part-*.parquet"))
        n = res["gen"]["messages"]
        files, nbytes = sink_size(res["sink"])
        layers = router_phase_layers(tr)
        layers.update({
            "sink.bytes_written": nbytes,
            "sink.files_written": files,
            "routing.routed_share": sum(got.values()) / n,
            "routing.match_share": (sum(got.values()) - got.get(spliter.unmatched_topic, 0)
                                    + expected.get(None, 0)) / n,
            "router.backlog_rows_max": res["backlog"],
            "gen.late_ms_p99": pct(res["gen"]["late_ms"], 99),
            "trace.overhead_pct": (p50 - pct(base["lat"], 50)) / pct(base["lat"], 50) * 100,
        })
        out["layers"] = layers
        ctx.topics = got
        run_id = str(res["query"].runId)
        ctx.job_kind = lambda group: "exec" if group == run_id else None
    return out
