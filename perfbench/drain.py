"""``drain`` and ``drain_daynames``: a pre-staged backlog through the
CLI's ``--once`` path.

file_source → build_pipeline (hash sharding over ``SHARDS`` shards) →
Pipeline.run_available → ParquetSink, closed loop.  Every row is due when
the pass starts, so a row's latency is the time until the sink call that
landed its micro-batch returned.  The two workloads differ only in the
layout family of ``ts``: RFC3339, which ``parse_datetime_any`` takes on its
fast path, or day-name layouts, which take its normalising fallback."""

from __future__ import annotations

import os
import time

import gen
from common import Tracer, dir_bytes, median, tree_cpu_s, weighted_quantile

LAYOUTS = {"drain": "rfc3339", "drain_daynames": "dayname"}
SHARDS = 4
BACKLOG_FILES = 2
# drain: two files of ~8 MB, so each micro-batch spans two splits.
# drain_daynames: a day-name row costs ~9x an RFC3339 one, so a backlog
# whose pass fits the window three times is two files of ~0.5 MB, one split
# (one task) each.
BACKLOG_ROWS = {"drain": 120_000, "drain_daynames": 8_000}
# untimed drains of the backlog before the window: in a fresh JVM the
# first drains are mostly compiling.  In some runs the pass time is still
# falling at the fifth, but a third warm-up pass does not fit the run budget.
WARM_PASSES = 2
PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch",
          "commitOffsets", "triggerExecution")


class TimedSink:
    """Wraps a foreachBatch sink; records when each call started and ended."""

    def __init__(self, inner, tracer: Tracer, name: str, trace: str):
        self.inner, self.tracer, self.name, self.trace = inner, tracer, name, trace
        self.calls: list[tuple[int, float, float]] = []

    def __call__(self, batch, epoch_id: int) -> None:
        t0 = time.monotonic()
        with self.tracer.span(self.name, trace=f"{self.trace}/batch{epoch_id}"):
            self.inner(batch, epoch_id)
        self.calls.append((epoch_id, t0, time.monotonic()))


def drain_task():
    from clickhouse_sinker_spark.config import TaskConfig, normalize_tasks
    from clickhouse_sinker_spark.sources.schema import json_parse_schema, specs_from_task

    task = normalize_tasks([TaskConfig(name="drain", table_name="events", dims=gen.DRAIN_DIMS,
                                       sharding_key="event_id")])[0]
    specs = specs_from_task(task)
    return task, specs, json_parse_schema(specs, parser=task.parser)


def phase_medians(progress: list[dict]) -> dict[str, float]:
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {"pipeline.batches": float(len(batches)),
           "pipeline.rows_per_batch": median([p["numInputRows"] for p in batches]) if batches else 0.0}
    for ph in PHASES:
        vals = [p["durationMs"].get(ph, 0) for p in batches]
        out[f"pipeline.{ph}_ms"] = float(median(vals)) if vals else 0.0
    return out


def check_landed(spark, out_root: str, passes: int, exp: dict) -> dict[int, list[str]]:
    """Compare what each pass landed under ``out_root/pass=<i>`` with the
    generator's typed values, in one query over every pass.  The landed
    count and the id checksum over the valid rows also catch a dropped
    valid line or a landed malformed one."""
    from pyspark.sql import functions as F

    got = {r["pass"]: r for r in spark.read.parquet(out_root).groupBy("pass").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_id"),
        F.sum(F.col("user_id").cast("long")).alias("sum_user"),
        F.sum(F.col("event_id") * F.col("user_id").cast("long")).alias("sum_id_user"),
        F.sum(F.unix_timestamp("time")).alias("sum_time"),
    ).collect()}
    errors: dict[int, list[str]] = {}
    for i in range(passes):
        r = got.get(i)
        if r is None:
            errors[i] = ["landed nothing"]
            continue
        errs = []
        if r["n"] != exp["valid"]:
            errs.append(f"landed {r['n']} rows, generated {exp['valid']} valid")
        for k in ("sum_id", "sum_user", "sum_id_user", "sum_time"):
            if r[k] != exp[k]:
                errs.append(f"{k} {r[k]} != {exp[k]}")
        if errs:
            errors[i] = errs
    return errors


def run(ctx) -> None:
    from clickhouse_sinker_spark.streaming.pipeline import build_pipeline, file_source
    from clickhouse_sinker_spark.streaming.sink import ParquetSink

    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    src = os.path.join(work, "backlog")
    exp = gen.drain_backlog(src, ctx.seed, BACKLOG_ROWS[ctx.workload], BACKLOG_FILES,
                            LAYOUTS[ctx.workload])
    task, specs, schema = drain_task()
    ctx.mark("inputs")

    # set-up: three pipeline builds (median) and the warm-up drains
    builds, pipe = [], None
    for rep in range(3):
        t0 = time.monotonic()
        with tracer.span("pipeline.build", trace=f"setup{rep}"):
            pipe = build_pipeline(file_source(spark, src), task, specs, schema, shards=SHARDS)
        builds.append(time.monotonic() - t0)
    t0 = time.monotonic()
    for w in range(WARM_PASSES):
        pipe.run_available(ParquetSink(os.path.join(work, f"warm_out{w}"), shards=SHARDS),
                           os.path.join(work, f"warm_ck{w}"))
    ctx.setup_done(median(builds) + time.monotonic() - t0)
    ctx.layer["pipeline.build_s"] = median(builds)

    # the window: back-to-back drains of the backlog, each to its own
    # output; the outputs are checked after the window
    out_root = os.path.join(work, "out")
    passes = []
    t_start = time.monotonic()
    while not passes or time.monotonic() - t_start < ctx.seconds or (ctx.trace and len(passes) < 2):
        i = len(passes)
        out, ck = os.path.join(out_root, f"pass={i}"), os.path.join(work, f"ck{i}")
        traced = ctx.trace and i % 2 == 1  # traced runs alternate spans off / on
        tracer.enabled = traced
        sink = TimedSink(ParquetSink(out, shards=SHARDS), tracer, "sink.parquet.call", f"pass{i}")
        c0, t0 = tree_cpu_s(), time.monotonic()
        with tracer.span("drain.run_available", trace=f"pass{i}"):
            q = pipe.run_available(sink, ck)
        wall, cpu = time.monotonic() - t0, tree_cpu_s() - c0
        tracer.enabled = ctx.trace
        progress = list(q.recentProgress)
        rows_in = {p["batchId"]: p["numInputRows"] for p in progress}
        lat = [(end - t0, rows_in.get(epoch, 0)) for epoch, _s, end in sink.calls]
        passes.append({"wall": wall, "cpu": cpu, "rows_per_s": exp["valid"] / wall,
                       "rows_per_cpu_s": exp["valid"] / cpu, "traced": traced,
                       "p50": weighted_quantile(lat, 0.5), "p90": weighted_quantile(lat, 0.9),
                       "progress": progress, "calls": sink.calls, "out": out,
                       "batches": len(sink.calls)})
    ctx.mark("window")
    ctx.attempted += len(passes)
    for i, errs in sorted(check_landed(spark, out_root, len(passes), exp).items()):
        ctx.fail("drain pass %d: %s" % (i, "; ".join(errs)))

    timed = [p for p in passes if not p["traced"]]
    ctx.e2e["rows_per_s"] = median([p["rows_per_s"] for p in timed])
    ctx.side(median([p["rows_per_cpu_s"] for p in timed]), median([p["p50"] for p in timed]),
             median([p["p90"] for p in timed]))
    ctx.detail["drain"] = {"layouts": LAYOUTS[ctx.workload],
                           "passes": [{k: p[k] for k in ("wall", "cpu", "rows_per_s", "traced", "batches")}
                                      for p in passes],
                           "expected": exp, "latency_samples_batches": sum(p["batches"] for p in timed)}

    last = passes[-1]
    ctx.layer.update(phase_medians(last["progress"]))
    ctx.layer["sink.parquet.call_s"] = median([e - s for _ep, s, e in last["calls"]])
    ctx.layer["sink.parquet.bytes_per_row"] = dir_bytes(last["out"], ".parquet") / exp["valid"]
    if ctx.trace:
        on = [p["wall"] for p in passes if p["traced"]]
        ctx.layer["trace.overhead_pct"] = 100.0 * (median(on) / median([p["wall"] for p in timed]) - 1.0)
        etl_layers(ctx, src, specs, schema, task)


def etl_layers(ctx, src: str, specs, schema, task) -> None:
    """The noop-prefix decomposition on the drain input's first file: each prefix of
    scan → parse → project → shard → ParquetSink is run to completion, and
    a layer's cost is its prefix's time minus the previous prefix's.  The
    projection is also split one column at a time."""
    from pyspark.sql import functions as F

    from clickhouse_sinker_spark.operators.project import apply_projection
    from clickhouse_sinker_spark.operators.sharding import ShardingPolicy, add_shard_column
    from clickhouse_sinker_spark.streaming.pipeline import parse_stream
    from clickhouse_sinker_spark.streaming.sink import ParquetSink

    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    # the batch form of file_source: same columns over the same files
    raw = spark.read.text(os.path.join(src, "part-0000.json")).select(
        F.lit("file").alias("topic"), F.spark_partition_id().alias("partition"),
        F.xxhash64(F.col("value")).alias("offset"), F.lit(None).cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"), F.current_timestamp().alias("timestamp"))
    parsed = parse_stream(raw, schema, parser=task.parser, fields=task.fields)
    projected = apply_projection(parsed, specs, parser=task.parser)
    policy = ShardingPolicy(key=task.sharding_key, policy="hash")
    sharded = add_shard_column(projected, policy, SHARDS)

    def noop(df, name: str) -> float:
        t0 = time.monotonic()
        with tracer.span(name, trace="etl"):
            df.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    t = {
        "scan": noop(raw, "etl.scan"),
        "parse": noop(parsed, "etl.parse"),
        "project": noop(projected, "etl.project"),
        "shard": noop(sharded, "etl.shard"),
    }
    t0 = time.monotonic()
    with tracer.span("etl.sink", trace="etl"):
        ParquetSink(os.path.join(work, "etl_out"), shards=SHARDS)(sharded, 0)
    t["sink"] = time.monotonic() - t0
    ctx.layer["etl.scan_s"] = t["scan"]
    prev = t["scan"]
    for k in ("parse", "project", "shard", "sink"):
        ctx.layer[f"etl.{k}_s"] = t[k] - prev
        prev = t[k]
    ctx.layer["etl.parse.rows_dropped"] = float(raw.count() - parsed.count())
    for s in specs:
        dt = noop(apply_projection(parsed, [s], parser=task.parser), f"project.col.{s.name}")
        ctx.layer[f"project.col.{s.name}_s"] = dt - t["parse"]
