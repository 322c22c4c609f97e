#!/usr/bin/env python3
"""The sinker benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload {drain,drain_daynames,tail,query_mix} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  Inputs come from ``--seed`` alone.  The
last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones.  Details
(passes, check failures, host load) go to standard error; a traced run
also writes its spans and self times under ``.bench_build/perfbench/``.
See perfbench/README.md for the workloads and metrics."""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

import common  # noqa: E402

WORKLOADS = ("drain", "drain_daynames", "tail", "query_mix")
E2E_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
# Companions of the end-to-end throughput: on the detail line of every run,
# and per-layer metrics of a traced run.
SIDE_UNITS = {"rows_per_cpu_s": "rows/cpu-s", "wall.latency_p50_s": "s", "wall.latency_p90_s": "s"}


def layer_units() -> dict[str, str]:
    import gen
    from drain import PHASES
    from query_mix import QUERY_SET

    u = {"pipeline.batches": "count", "pipeline.rows_per_batch": "rows", "pipeline.build_s": "s"}
    u.update({f"pipeline.{ph}_ms": "ms" for ph in PHASES})
    u.update({"etl.scan_s": "s", "etl.parse_s": "s", "etl.parse.rows_dropped": "count",
              "etl.project_s": "s", "etl.shard_s": "s", "etl.sink_s": "s"})
    u.update({f"project.col.{name}_s": "s" for name, _t, _src in gen.DRAIN_DIMS})
    u.update({"sink.parquet.call_s": "s", "sink.parquet.bytes_per_row": "B",
              "sink.native_http.call_s": "s", "sink.native_http.posts_per_batch": "count",
              "sink.native_http.bytes_per_row": "B", "chproto.encode_rows_per_s": "rows/s"})
    for q in QUERY_SET:
        u.update({f"query.{q}.build_s": "s", f"query.{q}.exec_s": "s", f"query.{q}.exchanges": "count"})
    u.update(SIDE_UNITS)
    u.update({"query_mix.pass_s": "s", "loadgen.late_p50_s": "s", "loadgen.late_max_s": "s",
              "host.cores_busy_avg": "cores", "host.calib_ms": "ms", "trace.overhead_pct": "%"})
    return u


class Context:
    """What a workload reads (name, seed, seconds, session) and fills in."""

    def __init__(self, args, work: str, rss: common.RssSampler):
        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.trace = args.seconds, bool(args.trace)
        self.work, self.rss = work, rss
        self.tracer = common.Tracer(self.trace)
        self.spark = None
        self.session_s = 0.0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.attempted = 0
        self.failed = 0

    def setup_done(self, repeated_setup_s: float) -> None:
        """Set-up = session start (once) + the median of the workload's
        repeated build and warm-up."""
        self.e2e["setup_s"] = self.session_s + repeated_setup_s
        self.mark("setup")

    def side(self, rows_per_cpu_s: float, p50: float, p90: float) -> None:
        w = {"rows_per_cpu_s": rows_per_cpu_s, "wall.latency_p50_s": p50, "wall.latency_p90_s": p90}
        self.layer.update(w)
        self.detail.update(w)

    def mark(self, name: str) -> None:
        """Note how far into the process a phase ended (for the detail line)."""
        self.detail.setdefault("marks_s", {})[name] = round(time.monotonic() - T_START, 3)

    def fail(self, msg: str, n: int = 1) -> None:
        self.failed += n
        print("FAILED " + msg, file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(common.ROOT, "clickhouse_sinker_spark")):
        print("perfbench: no clickhouse_sinker_spark package beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, common.ROOT)

    work = os.path.join(common.WORK_ROOT, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    host = common.HostMeter()
    rss = common.RssSampler()
    rss.start()
    ctx = Context(args, work, rss)
    try:
        ctx.spark = common.spark_session(work, f"perfbench-{args.workload}")
        ctx.session_s = time.monotonic() - T_START
        ctx.mark("session")
        if args.workload in ("drain", "drain_daynames"):
            import drain as mod
        elif args.workload == "tail":
            import tail as mod
        else:
            import query_mix as mod
        mod.run(ctx)
        ctx.mark("workload")
        if ctx.trace:
            import tail

            # the layers of the workloads BENCHMARK.json does not list:
            # NativeHttpSink and the load helper (tail), the registered
            # queries (query_mix)
            if args.workload == "drain":
                tail.run(ctx, probe=True)
            elif args.workload == "drain_daynames":
                import query_mix

                query_mix.probe(ctx)
            ctx.layer["chproto.encode_rows_per_s"] = tail.encode_rate(tail.sink_schema(ctx.spark, work))
    finally:
        if ctx.spark is not None:
            common.stop_spark(ctx.spark)
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        ctx.mark("stopped")

    ctx.layer["host.cores_busy_avg"] = host.cores_busy()
    ctx.layer["host.calib_ms"] = common.median(common.calibrate())  # after the JVM has exited
    for k in ("host.cores_busy_avg", "host.calib_ms"):
        ctx.detail[k] = ctx.layer[k]
    ctx.e2e["peak_rss_mb"] = peak_mb
    if ctx.trace:
        spans = os.path.join(common.WORK_ROOT, f"spans-{args.workload}-seed{args.seed}.json")
        ctx.tracer.write(spans)
        ctx.detail["spans"] = spans
        ctx.detail["self_s"] = ctx.tracer.self_times()
        units = layer_units()
        values = {k: ctx.layer.get(k, 0.0) for k in units}  # a layer this workload never enters: 0
    else:
        units = E2E_UNITS
        values = ctx.e2e
    missing = [k for k in units if k not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({"workload": args.workload, "seed": args.seed, **ctx.detail}), file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
