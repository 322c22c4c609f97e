"""Per-query optimization profiler (measure before changing a plan).

For each headline query (or --only name,name):
  - time DataFrame construction (plan build, includes parquet footer reads)
  - save .explain('formatted') to <out_dir>/<name>_<tag>.txt
  - count Exchange / BroadcastExchange / *EvalPython nodes
  - time N runs of .count() (the bench methodology) and of the noop sink
    (computes every column, isolates computation from action pruning),
    cache cleared between runs
  - write the per-query figures to <out_dir>/profile_<tag>.json.

Relative paths resolve against the repo root.
Usage: python tools/query_profile.py <out_dir> [--tag before|after] [--only a,b] [--runs 3]
"""
from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser(description="per-query build/count/noop profile")
    ap.add_argument("out_dir", help="plan and profile output directory")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--only", help="comma-separated query names (default: bench.HEADLINE)")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()
    out_dir = os.path.join(REPO, args.out_dir)
    from pyspark.sql import SparkSession

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("clickhouse_sinker_spark-profile")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import bench
    from clickhouse_sinker_spark.plans.queries import QUERIES

    names = args.only.split(",") if args.only else list(bench.HEADLINE)

    os.makedirs(out_dir, exist_ok=True)
    # warm-up at sf0.001 (same as bench.py)
    warm = "/root/testdata/sf0.001"
    for n in names:
        QUERIES[n](spark, warm).count()

    out = {}
    for n in names:
        spark.sparkContext.setJobDescription(f"profile:{n}")
        t0 = time.monotonic()
        df = QUERIES[n](spark, sf_dir)
        t_build = time.monotonic() - t0
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{n}_{args.tag}.txt"), "w") as f:
            f.write(plan)
        nodes = {
            "Exchange": len(re.findall(r"\bExchange\b", plan)),
            "BroadcastExchange": len(re.findall(r"BroadcastExchange", plan)),
            "SortMergeJoin": len(re.findall(r"SortMergeJoin", plan)),
            "BroadcastHashJoin": len(re.findall(r"BroadcastHashJoin", plan)),
            "ShuffledHashJoin": len(re.findall(r"ShuffledHashJoin", plan)),
            "BatchEvalPython": len(re.findall(r"BatchEvalPython", plan)),
            "ArrowEvalPython": len(re.findall(r"ArrowEvalPython", plan)),
            "CartesianProduct": len(re.findall(r"CartesianProduct", plan)),
        }
        counts, noops = [], []
        for _ in range(args.runs):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            QUERIES[n](spark, sf_dir).count()
            counts.append(round(time.monotonic() - t0, 3))
        for _ in range(args.runs):
            spark.catalog.clearCache()
            df2 = QUERIES[n](spark, sf_dir)
            t0 = time.monotonic()
            df2.write.format("noop").mode("overwrite").save()
            noops.append(round(time.monotonic() - t0, 3))
        out[n] = {
            "build_s": round(t_build, 3),
            "count_runs": counts,
            "count_min": min(counts),
            "noop_runs": noops,
            "noop_min": min(noops),
            "nodes": nodes,
        }
        print(json.dumps({n: out[n]}), flush=True)
    with open(os.path.join(out_dir, f"profile_{args.tag}.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print("TOTAL count_min:", round(sum(v["count_min"] for v in out.values()), 3))
    print("TOTAL noop_min:", round(sum(v["noop_min"] for v in out.values()), 3))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
