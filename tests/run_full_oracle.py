"""Drive every registered query/oracle pair exactly like the driver does.

Uses a deliberately conf-less SparkSession (UTC and 8 shuffle
partitions only; default parquet TIMESTAMP_NTZ inference and
generated-code cache) to prove the package is self-sufficient under a
session it did not configure, then twin-checks each query against its
DuckDB oracle at the given scale factor via
tests.oracle_harness.compare.

Usage: python tests/run_full_oracle.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

# This checkout, so a second copy of the repo runs its own code.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from tests.oracle_harness import compare, duck_connection


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = (
        SparkSession.builder.master("local[8]")
        # Driver-parity: ONLY the confs the driver is known to set.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("full-oracle")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    df = entrymod.entry(spark)
    n = df.count()
    print(f"entry(): rows={n} schema={df.schema.simpleString()[:120]}", flush=True)
    assert n >= 0

    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    con = duck_connection(sf_dir)

    results: dict[str, dict] = {}
    t_all = time.time()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
            if name in osql:
                ddf = con.execute(osql[name]).df()
                problems = compare(spdf, ddf)
                status = "OK" if not problems else "MISMATCH"
                results[name] = {
                    "status": status,
                    "spark_rows": len(spdf),
                    "oracle_rows": len(ddf),
                    "problems": problems[:3],
                }
            else:
                results[name] = {
                    "status": "ROWS_ONLY",
                    "spark_rows": len(spdf),
                }
        except Exception:
            results[name] = {
                "status": "ERR",
                "problems": traceback.format_exc().splitlines()[-3:],
            }
        dt = time.time() - t0
        r = results[name]
        print(f"{r['status']:9s} {name:40s} {dt:6.2f}s "
              f"{r.get('spark_rows', '')}", flush=True)
        if r["status"] in ("MISMATCH", "ERR"):
            for p in r.get("problems", []):
                print(f"    {p}", flush=True)

    bad = {k: v for k, v in results.items() if v["status"] in ("MISMATCH", "ERR")}
    ok = sum(1 for v in results.values() if v["status"] == "OK")
    rows_only = sum(1 for v in results.values() if v["status"] == "ROWS_ONLY")
    print(
        f"\nTOTAL {len(results)} queries: {ok} OK, {rows_only} rows-only, "
        f"{len(bad)} bad in {time.time() - t_all:.1f}s",
        flush=True,
    )
    if bad:
        print(json.dumps(bad, indent=2, default=str))
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
