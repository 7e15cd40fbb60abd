"""The ``analytics-mixed`` workload: a fixed list of registry queries,
each built and then executed, for one cold pass and then warm passes in
one session. A query's time is its build (the query function, with its
eager ``pinned()`` jobs and ``load_table`` reads) plus its execution
(collecting the result through Arrow). Every execution's row count and
order-independent fingerprint must equal those of the query's DuckDB
oracle over the same generated tables.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import os
import sys
import time

import duckdb

import data
from common import SETUP_REPS, Tracer, median, pct, storage_mem_mb

SF = 0.01

# Pin-loop and construction-heavy; join- and shuffle-heavy; per-byte
# text; two short scans. Heavier registry queries (for example
# pipeline_pretraining_full, events_hits_hubs) are not in the list: with
# them, five warm passes do not fit in a run of under a minute.
SUITE = [
    "dedup_connected_components",
    "tpch_q21_suppliers_kept_waiting",
    "text_char_entropy",
    "agg_pricing_summary",
    "route_documents",
]
MIN_WARM_PASSES = 5
SHORT = ("agg_pricing_summary", "route_documents")
CATALYST_PHASES = ("analysis", "optimization", "planning")


def _canon(v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, decimal.Decimal):
        v = int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def fingerprint(table) -> tuple[int, int]:
    """Row count and a sum of per-row hashes over the sorted columns:
    equal for equal multisets of rows, whatever their order."""
    cols = sorted(table.column_names)
    total = 0
    for row in table.select(cols).to_pylist():
        line = "\x1f".join(_canon(row[c]) for c in cols)
        total += int.from_bytes(hashlib.blake2b(line.encode(), digest_size=8).digest(), "big")
    return table.num_rows, total % 2**64


def oracle_fingerprints(sf_dir: str) -> dict[str, tuple[int, int]]:
    from kafka_go_streamer_spark.plans import ORACLES
    from kafka_go_streamer_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return {q: fingerprint(con.execute(ORACLES[q]).arrow()) for q in SUITE}


def trace_load_table(tracer: Tracer) -> None:
    """Wrap ``sources.tables.load_table`` wherever the plan modules
    imported it, so each call becomes a span."""
    from kafka_go_streamer_spark.sources import tables

    original = tables.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("sources.load_table", table=name):
            return original(spark, sf_dir, name)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("kafka_go_streamer_spark") and \
                getattr(mod, "load_table", None) is original:
            mod.load_table = load_table


def traced_job_kind(group: str) -> str | None:
    """``build`` or ``exec`` for the jobs of a traced execution, which
    run under the job group ``<phase>|<pass>|1|<query>``."""
    parts = group.split("|")
    return parts[0] if len(parts) == 4 and parts[2] == "1" else None


def run_analytics(ctx) -> dict:
    tr: Tracer = ctx.tracer
    sf_dir = os.path.join(ctx.workdir, "tables")
    setups = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        with tr.span("stage.tables"):
            data.write_tables(data.make_tables(ctx.seed, SF), sf_dir)
        setups.append(time.perf_counter() - t0)

    spark = ctx.spark()
    sc = spark.sparkContext
    from kafka_go_streamer_spark.plans import QUERIES

    if tr.enabled:
        trace_load_table(tr)
    results: list[tuple[str, tuple[int, int]]] = []

    def run_query(q: str, tag: str, tracer: Tracer) -> float:
        with tracer.span("analytics.query", query=q):
            t0 = time.perf_counter()
            sc.setJobGroup(f"build|{tag}|{q}", q)
            with tracer.span("plans.build", query=q):
                df = QUERIES[q](spark, sf_dir)
            sc.setJobGroup(f"exec|{tag}|{q}", q)
            with tracer.span("exec.query", query=q):
                table = df.toArrow()
            wall = time.perf_counter() - t0
        results.append((q, fingerprint(table)))
        if tracer.enabled and q in SHORT:
            phases = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                df._jdf.queryExecution().tracker().phases())
            ms = sum(phases.get(p).durationMs() for p in CATALYST_PHASES if phases.containsKey(p))
            tracer.add("catalyst.plan", t0, t0 + ms / 1e3, query=q)
        return wall

    off = Tracer(tr.run_id, False)
    for q in SUITE:  # cold pass: warms the JVM and the Python workers
        run_query(q, "cold", off)
    warm: dict[str, list[float]] = {q: [] for q in SUITE}
    base: dict[str, list[float]] = {q: [] for q in SUITE}
    mem_mb = []
    t_end = time.perf_counter() + ctx.seconds
    n_pass = 0
    while n_pass < MIN_WARM_PASSES or time.perf_counter() < t_end:
        for i, q in enumerate(SUITE):
            if tr.enabled:
                # untraced and traced twins, alternating which goes first
                order = [(off, base), (tr, warm)][:: 1 if (i + n_pass) % 2 == 0 else -1]
                for tracer, into in order:
                    into[q].append(run_query(q, f"{n_pass}|{int(tracer.enabled)}", tracer))
            else:
                warm[q].append(run_query(q, f"{n_pass}|0", tr))
        mem_mb.append(storage_mem_mb(spark))
        n_pass += 1
        if tr.enabled:
            break

    expected = oracle_fingerprints(sf_dir)
    failed = sum(fp != expected[q] for q, fp in results)
    suite_s = sum(median(v) for v in warm.values())
    samples = [t * 1e3 for v in warm.values() for t in v]
    out = {
        "attempted": len(results), "failed": failed,
        "metrics": {"setup_s": median(setups), "latency_ms_p50": pct(samples, 50),
                    "latency_ms_p90": pct(samples, 90), "work_s": suite_s},
        "summary": {"suite_s": (suite_s, "s"), "warm_passes": (n_pass, "count"),
                    "query_samples": (len(samples), "count"),
                    **{f"{q}_s": (median(v), "s") for q, v in warm.items()}},
    }
    if tr.enabled:
        base_s = sum(median(v) for v in base.values())
        loads = tr.durations("sources.load_table")
        out["layers"] = {
            "plans.build_s": sum(tr.durations("plans.build")),
            "sources.load_table_calls": len(loads),
            "sources.load_table_s": sum(loads),
            "catalyst.plan_ms": sum(tr.durations("catalyst.plan")) * 1e3,
            "storage.mem_mb_after_pass": mem_mb[-1],
            "trace.overhead_pct": (suite_s - base_s) / base_s * 100,
        }
        ctx.job_kind = traced_job_kind
    return out
