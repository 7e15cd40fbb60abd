"""Benchmark harness: runs the headline queries (the keys of
FLOORS.json's ``floors``, in file order) at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints TWO JSON lines — the
per-query detail first, then a SHORT final headline line the driver's
tail-capture always lands on:

    {"metric": "headline_queries_detail", "unit": "sec",
     "queries": {"name": sec, ...}, "sf": <float>}
    {"metric": "headline_queries_total_sec", "value": <total sec>,
     "unit": "sec", "n": <count>, "sf": <float>,
     "calibration_query": <name>, "calibration_sec": [4 samples],
     "calibration_median_sec": <float>, "probe_ratio": <float>,
     "gate_breaches": [names], "normalized_total_sec": <float>,
     "codegen_passes": [3 x {"compiles", "compile_ms", "metaspace_mb",
                             "metaspace_grow_mb"}]}

The calibration samples time one FIXED canonical query at the start,
between passes, and at the end: uniform inflation of the calibration
median vs prior rounds = machine contention during the bench window
(divide the totals by the ratio before comparing); flat calibration
with one slow query = a real plan regression.

Self-normalizing perf gate (VERDICT r12 #2): FLOORS.json carries each
headline query's fastest-ever recorded sf0.1 time (with documented
workload revisions overriding raw minima) plus ``probe_ref_sec``, the
fastest recorded calibration median. At sf0.1 this script emits, per
query, the NOMINAL ratio (sec / floor) and the CALIBRATION-NORMALIZED
ratio (nominal / probe_ratio, where probe_ratio = this window's
calibration median / probe_ref_sec — how much slower the box is than
the floor-setting windows), and a ``gate_breaches`` list of queries
whose normalized ratio exceeds 2x. A slow machine window inflates
nominal ratios uniformly AND inflates the probe by the same factor,
so the normalized ratios stay comparable round over round without a
judge-side re-measure. New raw minima auto-tighten FLOORS.json.

Results are materialized through the noop sink (full execution, no
driver-side collect cost)."""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.session import (
    cpu_count,
    get_spark,
    sf_dir,
    warm_python_workers,
)

#: Fixed machine-state probe (never changes round over round): timed
#: before/between/after the headline passes so a reader can tell
#: external contention (uniform calibration inflation) from a plan
#: regression (calibration flat, one query slow).
CALIBRATION_QUERY = "agg_pricing_summary"

FLOORS_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "FLOORS.json"
)
with open(FLOORS_PATH) as _f:
    FLOORS_DOC = json.load(_f)

#: Headline set and pass order: the keys of FLOORS.json's ``floors``,
#: in file order — one representative per operator family, weighted
#: toward the scale-sensitive ones (joins, windows, LSH, similarity).
HEADLINE = list(FLOORS_DOC["floors"])


def codegen_stats(spark) -> dict[str, float]:
    """Janino compiles and their total ms so far in this JVM, and its
    Metaspace MB. Per-pass deltas show a generated-code cache that
    thrashes: a warm pass that still compiles is evicting."""
    jvm = spark._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    metaspace = sum(
        p.getUsage().getUsed() for p in pools if p.getName() == "Metaspace"
    )
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "compiles": metrics.METRIC_COMPILATION_TIME().getCount(),
        "compile_ms": codegen.compileTime() / 1e6,
        "metaspace_mb": round(metaspace / 2**20, 1),
    }


def main() -> None:
    target = sf_dir()
    m = re.search(r"sf([0-9.]+)", target)
    sf = float(m.group(1)) if m else -1.0
    cpus = cpu_count()
    spark = get_spark("kgs-bench")
    # session warmup: JVM codegen paths + Python worker daemons, so the
    # per-query numbers measure the queries rather than session spin-up
    warm_python_workers(spark)
    spark.read.parquet(f"{target}/region.parquet").count()

    # Calibration probe: ONE canonical constant query timed before the
    # first pass, between passes, and after the last — four samples of
    # the same plan spread across the whole bench window. The probe's
    # plan never changes round over round, so its times attribute
    # machine state: if this round's calibration median is ~2x a prior
    # round's, the box was contended for the whole window and every
    # per-query number should be normalized by the calibration ratio
    # before cross-round comparison (the r8 driver record was uniformly
    # ~x2 a same-machine builder run for exactly this reason — see
    # COVERAGE.md "Bench calibration").
    def _calibrate() -> float:
        t0 = time.perf_counter()
        QUERIES[CALIBRATION_QUERY](spark, target).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(time.perf_counter() - t0, 3)

    calibration: list[float] = [_calibrate()]

    # min over 3 INTERLEAVED full passes: this box is shared with the
    # driver harness, and external CPU bursts last seconds — back-to-back
    # repeats of one query share the same burst, while passes separated
    # by the rest of the suite don't, so the per-query minimum across
    # passes reflects the plan's actual cost
    timings: dict[str, float] = {name: float("inf") for name in HEADLINE}
    codegen_passes: list[dict[str, float]] = []
    for _ in range(3):
        before = codegen_stats(spark)
        for name in HEADLINE:
            t0 = time.perf_counter()
            QUERIES[name](spark, target).write.format("noop").mode(
                "overwrite"
            ).save()
            timings[name] = min(timings[name], time.perf_counter() - t0)
        after = codegen_stats(spark)
        codegen_passes.append(
            {
                "compiles": after["compiles"] - before["compiles"],
                "compile_ms": round(after["compile_ms"] - before["compile_ms"]),
                "metaspace_mb": after["metaspace_mb"],
                "metaspace_grow_mb": round(
                    after["metaspace_mb"] - before["metaspace_mb"], 1
                ),
            }
        )
        calibration.append(_calibrate())
    timings = {name: round(t, 3) for name, t in timings.items()}

    total = round(sum(timings.values()), 3)
    # Per-query detail FIRST, then a SHORT final line: the driver
    # captures the tail of stdout and parses the LAST JSON line — the
    # 66-query single-line record overflowed that window in round 7
    # (BENCH_r07.json "parsed": null), so the parseable headline must
    # be small and last.
    print(
        json.dumps(
            {
                "metric": "headline_queries_detail",
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )
    calib_sorted = sorted(calibration)
    # Persist the full per-query detail to the repo as well: the driver
    # records only the TAIL of stdout, so r9/r10's BENCH_r*.json lost
    # the first half of the detail line (VERDICT r10 "What's wrong" #2).
    # The repo file makes every recorded bench round self-sufficient.
    mid = len(calib_sorted) // 2
    calib_median = round(
        (calib_sorted[mid - 1] + calib_sorted[mid]) / 2
        if len(calib_sorted) % 2 == 0
        else calib_sorted[mid],
        3,
    )
    summary = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "n": len(timings),
        "sf": sf,
        "cpus": cpus,
        "calibration_query": CALIBRATION_QUERY,
        "calibration_sec": calibration,
        "calibration_median_sec": calib_median,
        "codegen_passes": codegen_passes,
    }

    # ---- calibration-normalized perf gate vs FLOORS.json (sf0.1 only:
    # floors are recorded at the driver's bench scale) ----
    ratios: dict[str, dict[str, float]] = {}
    if sf == 0.1:
        floors = FLOORS_DOC["floors"]
        probe_ref = FLOORS_DOC.get("probe_ref_sec") or calib_median
        probe_ratio = round(calib_median / probe_ref, 3)
        revised = set(FLOORS_DOC.get("revisions", {}))
        breaches = []
        tightened = False
        for name, t in timings.items():
            fl = floors[name]
            nominal = round(t / fl, 3)
            normalized = round(nominal / max(probe_ratio, 1.0), 3)
            ratios[name] = {
                "sec": t,
                "floor_sec": fl,
                "nominal_x": nominal,
                "normalized_x": normalized,
            }
            if normalized > 2.0:
                breaches.append(name)
            # auto-tighten: a new minimum becomes the floor,
            # normalized by the window's speed when the window ran
            # FASTER than the probe reference — otherwise a lucky
            # fast window records a floor that permanently inflates
            # later rounds' normalized ratios (ADVICE r13). Slow
            # windows keep the raw reading (already conservative).
            # Never tightens below a documented workload revision.
            # Rewriting keeps the key order, i.e. the headline order.
            cand = round(t / probe_ratio, 3) if probe_ratio < 1.0 else t
            if cand < fl and name not in revised:
                floors[name] = cand
                tightened = True
        if tightened:
            with open(FLOORS_PATH, "w") as f:
                json.dump(FLOORS_DOC, f, indent=1)
        summary["probe_ratio"] = probe_ratio
        summary["gate_breaches"] = sorted(breaches)
        summary["normalized_total_sec"] = round(
            total / max(probe_ratio, 1.0), 3
        )
    # Keyed by (sf, cpus) — VERDICT r16 #2: the driver's low-core
    # scaling sweep at the same sf used to clobber the 32-core record
    # (the pre-r17 layout keyed only by sf), losing the only complete
    # per-query record of the round. Both dimensions now persist;
    # legacy sf-only keys are left in place untouched.
    detail_path = os.path.join(os.path.dirname(__file__), "BENCH_DETAIL.json")
    detail: dict = {}
    try:
        with open(detail_path) as f:
            detail = json.load(f)
    except (OSError, ValueError):
        pass
    key = f"{sf}|c{cpus}"
    detail[key] = {**summary, "queries": timings}
    if ratios:
        detail[key]["floor_ratios"] = ratios
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
