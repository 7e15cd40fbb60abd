"""Benchmark entry point.

``python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1``

Run from the repository root. Workloads: ``router-drain``,
``router-steady``, ``analytics-mixed`` (see perfbench/README.md). The run
builds its inputs from the seed under ``.perfbench_tmp/``, measures for
S seconds on ``local[<cores>]``, checks the program's outputs, and prints
a summary line and then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics, and the spans of the traced run go
to ``.perfbench_out/``. A run whose check fails exits with code 1; a
run that cannot import the program exits with code 2 and prints no
result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Layers the workload does not run read 0 in its traced result.
EXEC_LAYERS = {
    "exec.s": "job_s", "exec.jobs": "jobs", "exec.stages": "stages", "exec.tasks": "tasks",
}
SHARED_LAYERS = {
    "shuffle.write_bytes": "shuffle_write_bytes", "shuffle.read_bytes": "shuffle_read_bytes",
    "exec.spill_bytes": "spill_bytes", "exec.gc_ms": "gc_ms",
}


class Context:
    """What a workload gets: its seed, window and scratch directory, the
    tracer, and a lazily started Spark session. A traced workload leaves
    here which Spark job groups are its own (``job_kind``), its per-topic
    counts, and work to run once the session has stopped."""

    def __init__(self, args, workdir: str, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.workdir = workdir
        self.tracer = tracer
        self.job_kind = lambda group: None
        self.topics: dict = {}
        self.after_stop = None
        self._spark = None

    def spark(self):
        if self._spark is None:
            from common import cpus, start_spark

            self._spark = start_spark(self.workdir, cpus(), event_log=self.tracer.enabled)
        return self._spark

    def stop(self) -> None:
        if self._spark is not None:
            from common import stop_spark

            stop_spark(self._spark)
            self._spark = None


def isolate(workdir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``workdir``, and let Python workers import the program."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, HERE]


def exec_layers(ctx) -> dict:
    from common import read_event_log

    agg = read_event_log(ctx.workdir)
    totals = {"build": {}, "exec": {}}
    for group, values in agg.items():
        kind = ctx.job_kind(group)
        if kind in totals:
            for k, v in values.items():
                totals[kind][k] = totals[kind].get(k, 0) + v
    layers = {name: totals["exec"].get(key, 0) for name, key in EXEC_LAYERS.items()}
    layers.update({name: totals["exec"].get(key, 0) + totals["build"].get(key, 0)
                   for name, key in SHARED_LAYERS.items()})
    layers["plans.build_jobs"] = totals["build"].get("jobs", 0)
    return layers


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["router-drain", "router-steady", "analytics-mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    workdir = os.path.join(ROOT, ".perfbench_tmp", run_id)
    os.makedirs(workdir)
    ctx = None
    try:
        isolate(workdir)
        try:
            import kafka_go_streamer_spark  # noqa: F401
            import pyspark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
            return 2
        from analytics import run_analytics
        from common import Tracer
        from router import run_drain, run_steady

        ctx = Context(args, workdir, Tracer(run_id, bool(args.trace)))
        run = {"router-drain": run_drain, "router-steady": run_steady,
               "analytics-mixed": run_analytics}[args.workload]
        t0 = time.perf_counter()
        res = run(ctx)
        if args.trace:
            from common import storage_mem_mb

            res["layers"].setdefault("storage.mem_mb_after_pass", storage_mem_mb(ctx.spark()))
        ctx.stop()
        values = res["metrics"]
        if args.trace:
            values = {**res["layers"], **exec_layers(ctx)}
            if ctx.after_stop:
                values.update(ctx.after_stop())
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.dump(os.path.join(out_dir, f"spans-{run_id}.jsonl"))
        summary = " ".join(f"{k}={v:.6g} {u}" for k, (v, u) in res["summary"].items())
        print(f"{args.workload} seed={args.seed} wall={time.perf_counter() - t0:.1f}s {summary}")
        if ctx.topics:
            print("topics " + " ".join(f"{t}={n}" for t, n in sorted(ctx.topics.items())))
        result = {
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {m["name"]: {"value": float(values.get(m["name"], 0)), "unit": m["unit"]}
                        for m in wanted},
        }
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        if ctx is not None:
            ctx.stop()
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(workdir))


if __name__ == "__main__":
    sys.exit(main())
