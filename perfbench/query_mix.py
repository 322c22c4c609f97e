"""``query_mix``: four headline queries, one client, closed loop.

Each query is built with ``QUERIES[name]`` and materialised to a ``noop``
sink, so column pruning cannot hide work; the seed permutes the order.
The tables come from ``gen.query_tables`` at ``SF`` (generated once per
checkout, untimed).  A query's latency is its build plus its execution."""

from __future__ import annotations

import os
import random
import re
import time

import gen
from common import WORK_ROOT, median, quantile, tree_cpu_s

# Four of bench.py's sixteen headline queries: those the ROADMAP's
# execution items act on (joins for runtime bloom filters, JSON extraction
# shared with drain's casts, the LSH band join, the fused curation plan).
# A fresh JVM needs five passes before a pass's time settles; with more
# queries those passes do not fit the run budget (README.md).
QUERY_SET = ("tpch_q9_profit", "etl_parse_project", "dedup_minhash_lsh", "pipeline_full_curation")
# untimed noop passes after the collected one, before the window
WARM_PASSES = 4
SF = 0.02  # 120 K lineitem rows
DATA_VERSION = 1  # bump when gen.query_tables changes


def data_dir() -> str:
    d = os.path.join(WORK_ROOT, f"qdata-sf{SF:g}-v{DATA_VERSION}")
    if not os.path.isdir(d):
        os.makedirs(WORK_ROOT, exist_ok=True)
        gen.query_tables(d, SF)
    return d


class Collected:
    """A collected result in the shape ``tests.oracle_util.compare`` reads,
    so the oracle check reuses the rows the warm-up already collected."""

    def __init__(self, schema, pdf):
        self.schema, self._pdf = schema, pdf

    def toPandas(self):  # noqa: N802
        return self._pdf


def exchanges(df) -> int:
    plan = df.sparkSession._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return len(re.findall(r"^\(\d+\) \w*Exchange", plan, flags=re.M))


def run(ctx) -> None:
    from clickhouse_sinker_spark.plans.queries import ORACLES, QUERIES
    from tests.oracle_util import compare

    spark, tracer = ctx.spark, ctx.tracer
    d = data_dir()
    order = list(QUERY_SET)
    random.Random(ctx.seed).shuffle(order)

    # set-up: one pass that builds and collects every result (the oracle
    # check reads the collected rows), then WARM_PASSES noop passes; every
    # set-up pass times its builds, and set-up counts their median
    builds, warm, result_rows, checks = [0.0], 0.0, {}, {}
    for name in order:
        t0 = time.monotonic()
        try:
            df = QUERIES[name](spark, d)
            t1 = time.monotonic()
            pdf = df.toPandas()
        except Exception as e:  # noqa: BLE001 — a failing query is a failed operation
            checks[name] = (False, f"{type(e).__name__}: {e}")
            continue
        builds[0] += t1 - t0
        warm += time.monotonic() - t1
        result_rows[name] = len(pdf)
        checks[name] = Collected(df.schema, pdf)
    ctx.mark("collected")
    for rep in range(1, WARM_PASSES + 1):
        builds.append(0.0)
        with tracer.span("query_mix.warm", trace=f"setup{rep}"):
            for name in result_rows:
                t0 = time.monotonic()
                df = QUERIES[name](spark, d)
                t1 = time.monotonic()
                df.write.format("noop").mode("overwrite").save()
                builds[rep] += t1 - t0
                warm += time.monotonic() - t1
    ctx.setup_done(median(builds) + warm)
    for name in order:  # the oracle comparison: untimed
        c = checks[name]
        ok, msg = c if isinstance(c, tuple) else compare(c, ORACLES[name], d)
        ctx.attempted += 1
        if not ok:
            ctx.fail(f"query_mix oracle {name}: {msg[:300]}")

    ctx.mark("oracle")
    passes = []
    t_start = time.monotonic()
    while not passes or time.monotonic() - t_start < ctx.seconds or (ctx.trace and len(passes) < 2):
        i = len(passes)
        traced = ctx.trace and i % 2 == 1
        tracer.enabled = traced
        per, wall, c0 = {}, 0.0, tree_cpu_s()
        with tracer.span("query_mix.pass", trace=f"pass{i}"):
            for name in order:
                t0 = time.monotonic()
                ctx.attempted += 1
                try:
                    with tracer.span(f"query.{name}.build"):
                        df = QUERIES[name](spark, d)
                    t1 = time.monotonic()
                    with tracer.span(f"query.{name}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 — a failing query is a failed operation
                    ctx.fail(f"query_mix {name}: {type(e).__name__}: {str(e)[:300]}")
                    continue
                t2 = time.monotonic()
                per[name] = (t1 - t0, t2 - t1)
                wall += t2 - t0
        tracer.enabled = ctx.trace
        passes.append({"wall": wall, "cpu": tree_cpu_s() - c0, "per": per, "traced": traced})

    # a pass's time is taken as the sum of each query's median latency over
    # the window, so a stall in one query of one pass does not set it
    timed = [p for p in passes if not p["traced"]]
    lat = [b + e for p in timed for b, e in p["per"].values()]
    rows = sum(result_rows.values())
    per_query = {name: median([sum(p["per"][name]) for p in timed if name in p["per"]])
                 for name in order if any(name in p["per"] for p in timed)}
    pass_s = sum(per_query.values())
    ctx.e2e["rows_per_s"] = rows / pass_s
    ctx.side(median([rows / p["cpu"] for p in timed]), quantile(lat, 0.5), quantile(lat, 0.9))
    ctx.detail["query_mix"] = {"sf": SF, "order": order,
                               "passes": [{"wall": p["wall"], "cpu": p["cpu"]} for p in passes],
                               "result_rows": sum(result_rows.values()), "latency_samples": len(lat),
                               "per_query_s": per_query}
    for name in order:
        ts = [p["per"][name] for p in timed if name in p["per"]]
        if ts:
            ctx.layer[f"query.{name}.build_s"] = median([b for b, _e in ts])
            ctx.layer[f"query.{name}.exec_s"] = median([e for _b, e in ts])
    ctx.layer["query_mix.pass_s"] = pass_s
    if ctx.trace:
        on = [p["wall"] for p in passes if p["traced"]]
        ctx.layer["trace.overhead_pct"] = 100.0 * (median(on) / median([p["wall"] for p in timed]) - 1.0)
        for name in order:
            ctx.layer[f"query.{name}.exchanges"] = float(exchanges(QUERIES[name](spark, d)))


PROBE_PASSES = 3


def probe(ctx) -> None:
    """The ``plans.queries`` layer for a traced run of another workload:
    every query built and executed ``PROBE_PASSES`` times, the first pass
    (cold) left out of the medians."""
    from clickhouse_sinker_spark.plans.queries import QUERIES

    spark, tracer, d = ctx.spark, ctx.tracer, data_dir()
    per: dict[str, list[tuple[float, float]]] = {name: [] for name in QUERY_SET}
    for i in range(PROBE_PASSES):
        for name in QUERY_SET:
            ctx.attempted += 1
            try:
                t0 = time.monotonic()
                with tracer.span(f"query.{name}.build", trace=f"probe{i}"):
                    df = QUERIES[name](spark, d)
                t1 = time.monotonic()
                with tracer.span(f"query.{name}.exec", trace=f"probe{i}"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — a failing query is a failed operation
                ctx.fail(f"query probe {name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            per[name].append((t1 - t0, time.monotonic() - t1))
    for name, ts in per.items():
        warm = ts[1:] or ts
        if warm:
            ctx.layer[f"query.{name}.build_s"] = median([b for b, _e in warm])
            ctx.layer[f"query.{name}.exec_s"] = median([e for _b, e in warm])
            ctx.layer[f"query.{name}.exchanges"] = float(exchanges(QUERIES[name](spark, d)))
    ctx.layer["query_mix.pass_s"] = sum(ctx.layer.get(f"query.{n}.build_s", 0.0)
                                        + ctx.layer.get(f"query.{n}.exec_s", 0.0) for n in QUERY_SET)
