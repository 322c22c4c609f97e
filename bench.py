#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

value = total wall-clock of the headline query set (lower is better).
Each query is fully materialized via count() on the result (no collect of
payload — mirrors the reference's sink-side accounting, where throughput
is rows landed per second, docs/dev/introduction.md:59-94).

Absolute numbers are only comparable on one host on one day: host speed
drifts (an unchanged checkout re-benched +54% on identical code and data),
so the ``env`` block in BENCH_DETAIL records the host load.  Comparing two
checkouts is perfbench's job (``perfbench/run.py``, run on both in
alternating pairs), not this harness's.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

HEADLINE = [
    "tpch_q1_pricing",
    "tpch_q3_topk",
    "tpch_q5_region_revenue",
    "tpch_q9_profit",
    "agg_cube_orders",
    "window_topk_per_customer",
    "window_tumbling_1h",
    "range_join_recent_events",
    "etl_parse_project",
    "etl_dedup_offsets",
    "series_latest_per_key",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "text_langid",
    "knn_cosine_topk",
    # r11 flagship: the fused end-to-end curation plan (gate → exact dedup
    # → MinHash near-dedup → quality → split → chunk stats in one pass)
    "pipeline_full_curation",
]


def _etl_pipeline_bench(spark: SparkSession, sf_dir: str, copies: int = 10) -> float:
    """Full sinker hot path (SURVEY §3.2 steps 2-7) over sf events × copies:
    serialize to JSON bytes (the Kafka payload), then parse → project with
    clamping/default casts → hash-shard → shard-partitioned parquet write.
    Returns wall seconds; rows/s = (n_events × copies) / value."""
    from clickhouse_sinker_spark.operators.project import ColumnSpec, apply_projection
    from clickhouse_sinker_spark.operators.sharding import ShardingPolicy, add_shard_column
    from clickhouse_sinker_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    payload = (
        events.withColumn("__copy", F.explode(F.array(*[F.lit(i) for i in range(copies)])))
        .select(F.to_json(F.struct("event_id", "ts", "user_id", "event_type", "value", "props")).alias("value"))
    )
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )
    specs = [
        ColumnSpec("event_id", "Int64", not_nullable=True),
        ColumnSpec("time", "DateTime", source="ts"),
        ColumnSpec("name", "String", source="event_type"),
        ColumnSpec("value", "Nullable(Float32)", source="value"),
        ColumnSpec("v8", "UInt8", source="value"),
        ColumnSpec("k", "Nullable(Int64)", source="k_raw"),
        ColumnSpec("env", "String", constant="bench"),
    ]
    work = tempfile.mkdtemp(prefix="bench_etl_")
    try:
        # stage the JSON payloads first — the reference benchmark measures
        # steady-state sink throughput with messages already in Kafka; stage
        # one file per core (≙ Kafka partitions sized to consumer parallelism)
        # so the timed parse isn't throttled by input file count
        payload.repartition(spark.sparkContext.defaultParallelism).write.mode(
            "overwrite"
        ).parquet(f"{work}/in")
        staged = spark.read.parquet(f"{work}/in")
        t0 = time.monotonic()
        parsed = staged.select(F.from_json("value", schema).alias("m")).select("m.*")
        parsed = parsed.withColumn("k_raw", F.get_json_object("props", "$.k"))
        projected = apply_projection(parsed, specs)
        sharded = add_shard_column(projected, ShardingPolicy(key="name", policy="hash"), 8)
        # local sort by shard → dynamic-partition writer streams one shard
        # dir per task (no shuffle, no concurrent-writer fallback): 4× vs
        # writing unsorted, measured at sf0.1
        sharded.sortWithinPartitions("__shard").write.mode("overwrite").partitionBy(
            "__shard"
        ).parquet(f"{work}/out")
        return time.monotonic() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _host_cpu_snapshot() -> tuple[float, float]:
    """(host_busy_jiffies, self+children_jiffies) from /proc — the delta
    across the bench separates our own CPU use from other load on a shared
    host (the r5→r4 +8% question was exactly this ambiguity)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    # fields: user nice system idle iowait irq softirq steal [guest ...];
    # guest/guest_nice are ALREADY counted inside user/nice — summing them
    # again would double-count VM time, so only the first 8 fields count
    vals = [float(x) for x in parts[:8]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0.0)  # idle + iowait
    busy = sum(vals) - idle
    t = os.times()
    self_j = (t.user + t.system + t.children_user + t.children_system) * float(
        os.sysconf("SC_CLK_TCK")
    )
    return busy, self_j


def _env_stats(start_loadavg, start_snap, start_wall) -> dict:
    """Environment block for the bench JSON: load averages at start/end and
    the average count of busy host cores over the whole bench window.  If
    host_cores_busy_avg materially exceeds what this bench itself can use
    (bounded by SPARK_GRAFT_CPUS), other load shared the host and the
    timings carry that noise — the r4→r5 +8% question made this
    distinction mandatory (VERDICT r5 item 3)."""
    busy0, _self0 = start_snap
    busy1, _self1 = _host_cpu_snapshot()
    wall = max(time.monotonic() - start_wall, 1e-9)
    tck = float(os.sysconf("SC_CLK_TCK"))
    return {
        "loadavg_start": [round(x, 2) for x in start_loadavg],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "host_cpus": os.cpu_count() or 1,
        "host_cores_busy_avg": round((busy1 - busy0) / tck / wall, 2),
        "bench_wall_s": round(wall, 1),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    start_loadavg = os.getloadavg()
    start_snap = _host_cpu_snapshot()
    start_wall = time.monotonic()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("clickhouse_sinker_spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from clickhouse_sinker_spark.plans.queries import QUERIES

    # Warm-up (untimed): run every headline query once at sf0.001 so each
    # plan's codegen / higher-order-function machinery is compiled before
    # timing — the reference's numbers are steady-state rows/s after warm-up
    # (docs/dev/introduction.md:59-94), so timed runs measure execution, not
    # one-time Janino compilation.  The warm-up scale is 100× smaller than
    # the measured scale, so no data-level caching carries over.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE:
        QUERIES[name](spark, warm_dir).count()
    QUERIES["tpch_q1_pricing"](spark, sf_dir).count()  # warm sf_dir file listing

    # Each query timed twice, min reported: the reference's numbers are
    # steady-state (docs/dev/introduction.md:59-94), and min-of-N removes
    # host-level noise without letting data caching help (clearCache between
    # runs; plan-identical persisted intermediates would otherwise survive).
    timings: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            QUERIES[name](spark, sf_dir).count()
            best = min(best, time.monotonic() - t0)
        timings[name] = round(best, 3)
    spark.catalog.clearCache()

    # The reference's headline metric is streaming-ETL rows/s (142K rows/s
    # on 11 cpu — BASELINE.md).  Reproduce the full hot path at 1M rows:
    # JSON bytes → parse → reference-semantics cast projection → shard
    # route → parquet write (the sink stand-in), timed end to end.
    # Report BOTH regimes honestly: run five times; run 1 is the cold
    # number (C2 JIT warms over ~3 full-size runs).  The headline is the
    # MIN of the warm runs (2-5): VERDICT r8 order #1 — the r8 data
    # falsified the old "runs 3-5 = steady state" median assumption (run
    # 2 at 3.1 s beat runs 3-5 at 9.0/9.2/6.0 s on untouched code: the
    # HOST throttles mid-array, so the median measures the host, not the
    # engine; min-of-warm is the capability number).  The full run array
    # and the old median ship alongside for drift visibility.
    etl_runs = [round(_etl_pipeline_bench(spark, sf_dir, copies=10), 3) for _ in range(5)]
    timings["etl_pipeline_1m"] = min(etl_runs[1:])

    total = round(sum(timings.values()), 3)
    # The stdout line must stay small (under 1 KB) so bounded log capture
    # keeps it whole: it carries only the contract keys
    # (metric/value/unit/queries/sf).  Methodology prose, the env block and
    # the etl run arrays ship as a second JSON line on STDERR
    # ("BENCH_DETAIL ...").  Query keys may be added, never removed.
    payload = {
        "metric": "headline_query_set_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    detail = {
        "etl_pipeline_1m_runs": etl_runs,
        "etl_pipeline_1m_cold": etl_runs[0],
        "etl_pipeline_1m_median35": sorted(etl_runs[2:])[len(etl_runs[2:]) // 2],
        "methodology": (
            "queries: min of 2 post-warmup runs (cache cleared between); "
            "etl_pipeline_1m: MIN of warm runs 2-5 of 5 (the capability "
            "number; the r8 run array falsified the median-of-3-5 "
            "steady-state assumption -- the host throttles mid-array), "
            "cold first run and the old median reported separately in "
            "etl_pipeline_1m_cold/_median35/_runs"
        ),
        "env": _env_stats(start_loadavg, start_snap, start_wall),
    }
    spark.stop()
    # leading \n: Spark's stderr progress bar ends with a bare \r, which
    # would otherwise glue this onto its line and break startswith filters
    print("\nBENCH_DETAIL " + json.dumps(detail), file=sys.stderr)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
