#!/usr/bin/env python
"""Single-query isolation harness for the optimization rounds (guide §1).

Times one or more registry queries through the noop sink, interleaved with a
fixed map-bound probe so a contended box's drift is visible next to every
sample, and writes `.explain("formatted")` to plans/<tag>/<name>_<suffix>.txt.

Usage:
    python tools/isolate.py --runs 5 --suffix before --plandir plans/r15 q1 q2 ...

Prints one JSON line per query:
    {"query": ..., "p50": ..., "samples": [...], "probe": [...], "plan": path}
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY  # noqa: E402
from airflow_cms_inpatient_etl_spark.session import get_spark  # noqa: E402
from airflow_cms_inpatient_etl_spark.sources.registry import release_snapshots  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--suffix", default=None, help="write plan as <name>_<suffix>.txt")
    ap.add_argument("--plandir", default=None)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark(app_name="isolate")
    spark.sparkContext.setLogLevel("ERROR")
    probe_df = spark.range(200_000_000).selectExpr("sum(id * 2 + 1) AS s")

    def noop(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    noop(probe_df)  # codegen warm
    warm_dir = "/root/testdata/sf0.001"
    for name in args.queries:
        try:
            noop(QUERY_REGISTRY[name].fn(spark, warm_dir))
        except Exception as e:
            print(f"# warm-up failed for {name}: {e}", file=sys.stderr)
        release_snapshots(spark)

    for name in args.queries:
        fn = QUERY_REGISTRY[name].fn
        plan_path = None
        if args.plandir and args.suffix:
            os.makedirs(os.path.join(REPO, args.plandir), exist_ok=True)
            plan_path = os.path.join(REPO, args.plandir, f"{name}_{args.suffix}.txt")
            df = fn(spark, args.sf_dir)
            jvm = spark.sparkContext._jvm
            with open(plan_path, "w") as f:
                f.write(jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            release_snapshots(spark)
        samples, probes = [], []
        for _ in range(args.runs):
            probes.append(round(noop(probe_df), 4))
            spark.sparkContext.setJobDescription(f"isolate: {name}")
            # timer starts BEFORE fn() — iterative queries do eager work
            # (snapshots, convergence counts) at build time, exactly as
            # bench.py charges them
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 4))
            spark.sparkContext.setJobDescription(None)
            release_snapshots(spark)
        probes.append(round(noop(probe_df), 4))
        print(json.dumps({
            "query": name,
            "p50": round(statistics.median(samples), 4),
            "samples": samples,
            "probe": probes,
            "plan": plan_path and os.path.relpath(plan_path, REPO),
        }), flush=True)


if __name__ == "__main__":
    main()
