"""``tail``: live ingest, open loop.

The load helper (its own process) writes a file of
``gen.TAIL_PER_TICK`` messages every ``gen.TAIL_TICK`` seconds, each
stamped with its due time.  The sinker runs build_pipeline →
Pipeline.start (the task's 1 s processing-time trigger) → NativeHttpSink,
which POSTs Native blocks to the helper's loopback ClickHouse stand-in.  A row's latency is its
block's arrival time at the receiver minus its due stamp."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import urllib.request

import gen
from common import BENCH_DIR, ROOT, median, quantile, tree_cpu_s
from drain import TimedSink, phase_medians

GRACE_S = 20.0  # after the last file: how long rows may take to land
PROBE_S = 6.0  # open-loop length when run as a probe inside another workload


def tail_task():
    from clickhouse_sinker_spark.config import TaskConfig, normalize_tasks
    from clickhouse_sinker_spark.sources.schema import json_parse_schema, specs_from_task

    # flush_interval 1 s: the smallest trigger normalize_tasks allows
    task = normalize_tasks([TaskConfig(name="tail", table_name="tail", dims=gen.TAIL_DIMS,
                                       flush_interval=1)])[0]
    specs = specs_from_task(task)
    return task, specs, json_parse_schema(specs, parser=task.parser)


class Helper:
    """The load helper process: started here, always stopped and waited for."""

    def __init__(self, src: str, seed: int, seconds: float):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "loadhelper.py"), "--dir", src,
             "--seed", str(seed), "--seconds", str(seconds)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "port":
            self.close()
            raise RuntimeError("load helper did not start")
        self.port = int(line[1])

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def status(self) -> dict:
        with urllib.request.urlopen(f"http://127.0.0.1:{self.port}/status", timeout=10) as r:
            return json.loads(r.read())

    def wait_received(self, rows: int, timeout: float) -> bool:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if self.status()["received"] >= rows:
                return True
            time.sleep(0.05)
        return False

    def finish(self) -> dict:
        self.send("finish")
        out = self.proc.stdout.readline()
        self.proc.wait(timeout=60)
        return json.loads(out)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait(timeout=30)


def run(ctx, probe: bool = False) -> None:
    """The workload; with ``probe`` a short run inside another workload's
    traced run, which keeps only the load helper's and NativeHttpSink's
    layer metrics."""
    from clickhouse_sinker_spark.config import ClickHouseConfig
    from clickhouse_sinker_spark.streaming.pipeline import build_pipeline, file_source
    from clickhouse_sinker_spark.streaming.sink import NativeHttpSink

    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    seconds = PROBE_S if probe else ctx.seconds
    layer = {}
    src = os.path.join(work, "tail_src")
    task, specs, schema = tail_task()
    helper = Helper(src, ctx.seed, seconds)
    ctx.rss.exclude.add(helper.proc.pid)
    query = None
    try:
        ch = ClickHouseConfig(hosts=(f"127.0.0.1:{helper.port}",), url_format="http://{host}")
        builds, pipe = [], None
        for rep in range(1 if probe else 3):
            t0 = time.monotonic()
            with tracer.span("pipeline.build", trace=f"setup{rep}"):
                # every pending file in each trigger: a file source reading one
                # file per trigger could not keep up with a file per tick
                pipe = build_pipeline(file_source(spark, src, max_files=1000), task, specs, schema)
            builds.append(time.monotonic() - t0)
        layer["pipeline.build_s"] = median(builds)
        sink = TimedSink(NativeHttpSink(ch, task.table_name), tracer, "sink.native_http.call", "tail")
        t0 = time.monotonic()
        query = pipe.start(sink, os.path.join(work, "tail_ck"))
        if not helper.wait_received(gen.TAIL_WARM_ROWS, 120):
            raise RuntimeError("warm-up rows never reached the receiver")
        setup_s = median(builds) + time.monotonic() - t0
        warm_calls = len(sink.calls)

        tracer.enabled = False  # traced runs: spans off for the first half
        helper.send("go")
        c0, t_go = tree_cpu_s({helper.proc.pid}), time.monotonic()
        half = t_go + seconds / 2
        while time.monotonic() < t_go + seconds + gen.TAIL_TICK:
            if ctx.trace and time.monotonic() >= half:
                tracer.enabled = True
            time.sleep(0.05)
        tracer.enabled = ctx.trace
        ctx.mark("open_loop")
        # every generated row has arrived (duplicates count too) and the
        # query has no batch running or pending
        deadline = time.monotonic() + GRACE_S
        helper.wait_received(gen.TAIL_WARM_ROWS + seconds / gen.TAIL_TICK * gen.TAIL_PER_TICK, GRACE_S)
        while time.monotonic() < deadline and (query.status["isTriggerActive"]
                                               or query.status["isDataAvailable"]):
            time.sleep(0.05)
        cpu = tree_cpu_s({helper.proc.pid}) - c0
        ctx.mark("landed")
        query.stop()
        progress = list(query.recentProgress)
        query = None
        res = helper.finish()
    finally:
        if query is not None:
            query.stop()
        helper.close()

    missing = res["generated"] - res["distinct_landed"]
    ctx.attempted += res["generated"]
    for n, what in ((missing, "rows never landed"), (res["bad_due"], "rows with a wrong due stamp"),
                    (res["unexpected"], "rows with an unknown id")):
        if n:
            ctx.fail(f"tail: {n} {what}", n)
    lat = res["latencies"]
    posts = res["posts"]
    if not lat:
        raise RuntimeError("no rows landed")
    calls = sink.calls[warm_calls:]
    warm_epochs = {epoch for epoch, _s, _e in sink.calls[:warm_calls]}
    batches = [p for p in progress if p.get("numInputRows", 0) > 0 and p["batchId"] not in warm_epochs]
    ctx.detail["tail_probe" if probe else "tail"] = {
        "generated": res["generated"], "distinct_landed": res["distinct_landed"],
        "duplicates": res["duplicates"], "posts": len(posts), "latency_samples_batches": len(batches),
        "loadgen_late_p50_s": res["late_p50_s"], "loadgen_late_max_s": res["late_max_s"]}
    layer.update(phase_medians(batches))
    layer["loadgen.late_p50_s"] = res["late_p50_s"]
    layer["loadgen.late_max_s"] = res["late_max_s"]
    layer["sink.native_http.call_s"] = median([e - s for _ep, s, e in calls]) if calls else 0.0
    layer["sink.native_http.posts_per_batch"] = len(posts) / max(len(calls), 1)
    layer["sink.native_http.bytes_per_row"] = res["bytes"] / max(res["rows"], 1)
    if probe:
        ctx.layer.update({k: v for k, v in layer.items() if k.startswith(("loadgen.", "sink.native_http."))})
        return
    ctx.e2e["setup_s"] = ctx.session_s + setup_s
    ctx.e2e["rows_per_s"] = res["distinct_landed"] / (max(p["arrived"] for p in posts) - res["first_due"])
    ctx.side(res["distinct_landed"] / cpu, quantile(lat, 0.5), quantile(lat, 0.9))
    ctx.layer.update(layer)
    if ctx.trace:
        # posts of the first half (spans off) against the second (spans on)
        split = posts[0]["arrived"] + seconds / 2 if posts else 0.0
        off = [p["lat_sum"] / p["rows"] for p in posts if p["rows"] and p["arrived"] < split]
        on = [p["lat_sum"] / p["rows"] for p in posts if p["rows"] and p["arrived"] >= split]
        if off and on:
            ctx.layer["trace.overhead_pct"] = 100.0 * (median(on) / median(off) - 1.0)


def sink_schema(spark, work: str):
    """The schema the tail pipeline hands NativeHttpSink."""
    from clickhouse_sinker_spark.streaming.pipeline import build_pipeline, file_source

    empty = os.path.join(work, "empty_src")
    os.makedirs(empty, exist_ok=True)
    task, specs, schema = tail_task()
    return build_pipeline(file_source(spark, empty), task, specs, schema).transformed.schema


ENCODE_ROWS = 20_000
ENCODE_S = 1.0


def encode_rate(schema) -> float:
    """chproto.encode_block_arrow, repeated for ``ENCODE_S`` seconds on a
    fixed ``ENCODE_ROWS``-row Arrow batch of ``schema``'s columns, typed as
    NativeHttpSink types them."""
    import random

    import pyarrow as pa

    from clickhouse_sinker_spark.chproto import encode_block_arrow
    from clickhouse_sinker_spark.sources.systemviews import spark_to_ch_type

    rng, rows = random.Random(7), ENCODE_ROWS
    fields, cols = [], {}
    for f in schema.fields:
        ch_t = spark_to_ch_type(f.dataType, f.nullable, "DateTime64(6)")
        fields.append((f.name, ch_t))
        t = f.dataType.typeName()
        if t == "string":
            cols[f.name] = pa.array([gen.EVENT_TYPES[rng.randrange(5)] for _ in range(rows)])
        elif t in ("float", "double"):
            cols[f.name] = pa.array([rng.random() * 400 for _ in range(rows)],
                                    pa.float32() if t == "float" else pa.float64())
        elif t == "timestamp":
            cols[f.name] = pa.array([gen.T0_2024 * 10**6 + rng.randrange(10**12) for _ in range(rows)], pa.int64())
        else:
            ty = {"integer": pa.int32(), "short": pa.int16(), "byte": pa.int8()}.get(t, pa.int64())
            cols[f.name] = pa.array([rng.randrange(60000) for _ in range(rows)]).cast(ty)
    batch = pa.table(cols).combine_chunks()
    n, t0 = 0, time.monotonic()
    while time.monotonic() - t0 < ENCODE_S:
        encode_block_arrow(fields, batch)
        n += rows
    return n / (time.monotonic() - t0)
