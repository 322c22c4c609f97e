"""CLI runner (C1 ≙ cmd/clickhouse_sinker/main.go:145-284, Spark-style):

    python -m clickhouse_sinker_spark --config task.hjson \
        [--source-path dir_of_topic_dirs] [--sink-path out_dir] [--once]

Loads a reference-compatible config (hjson/json), builds one pipeline per
task, and runs them.  Without ClickHouse/Kafka endpoints reachable (the
usual test setup), ``--source-path``/``--sink-path`` swap in the file
source and shard-partitioned parquet sink — the same pipeline graph with
the transport exchanged, which is the Spark-idiomatic seam the tests use.
In file mode each task reads ``<source-path>/<topic>/``, as each task
consumes only its own topic from Kafka; with ``--once`` each topic's
available files drain as one epoch (one micro-batch over all their splits).
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import SparkSession

from .config_io import load_config
from .streaming.pipeline import file_source, kafka_source
from .streaming.sink import JdbcSink, ParquetSink


def _session(master: str, app_name: str) -> SparkSession:
    """The CLI's SparkSession: UTC session time zone, adaptive execution."""
    return (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )


def _run_query(args) -> None:
    """Ad-hoc ClickHouse-dialect query over a directory of parquet tables
    — the clickhouse-client seam for this engine: a reference user's CH
    SQL runs unchanged (functions/chdialect.py subset), semantic deltas
    are printed as notes on stderr."""
    import glob
    import os
    import sys

    from .functions.chdialect import spark_catalog_info, translate_ch_sql
    from .sources.tables import load_table

    spark = _session(args.master, "clickhouse_sinker_spark_query")
    # Arrow-UDF scalar tier (base58/punycode/NFC/Jaro…) — the translator
    # emits ch_* names for them
    from .functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    views = []
    for f in sorted(glob.glob(os.path.join(args.data_dir, "*.parquet"))):
        name = os.path.splitext(os.path.basename(f))[0]
        load_table(spark, args.data_dir, name).createOrReplaceTempView(name)
        views.append(name)
    # --final-key table:k1,k2:v1,v2 → ReplacingMergeTree merge-on-read
    # config for FROM t FINAL (sorting key + ordered version columns)
    table_keys = None
    for spec in args.final_key or []:
        parts = spec.split(":")
        if len(parts) != 3:
            raise SystemExit(
                f"--final-key {spec!r}: expected table:key1,key2:ver1,ver2"
            )
        table_keys = table_keys or {}
        table_keys[parts[0]] = (
            [c for c in parts[1].split(",") if c],
            [c for c in parts[2].split(",") if c],
        )
    # system.* emulation: the reference's schema/discovery SQL
    # (output/clickhouse.go:41-58, discovery/discovery.go:15) and users'
    # DESCRIBE/SHOW habits work against the registered views
    from .sources.systemviews import register_system_views

    sorting_keys = {t: k for t, (k, _v) in (table_keys or {}).items()}
    register_system_views(spark, views, sorting_keys=sorting_keys)

    import re as _re

    q = args.query.strip().rstrip(";")
    # clickhouse-client multi-statement form: leading `SET name = value;`
    # statements are acknowledged (CH applies them to the session; a
    # fresh --query process has no session to persist into, so each is
    # surfaced as a note) and the remaining statement runs
    from .functions.chdialect import _in_string as _lit_in_string

    stmts, depth, start = [], 0, 0
    for i, ch in enumerate(q):
        if ch == "(" and not _lit_in_string(q, i):
            depth += 1
        elif ch == ")" and not _lit_in_string(q, i):
            depth -= 1
        elif ch == ";" and depth == 0 and not _lit_in_string(q, i):
            stmts.append(q[start:i])
            start = i + 1
    stmts.append(q[start:])
    stmts = [s.strip() for s in stmts if s.strip()]
    for s in stmts[:-1]:
        sm = _re.fullmatch(r"(?is)SET\s+(\w+)\s*=\s*(.+)", s)
        if not sm:
            raise SystemExit(
                "only SET statements may precede the query in "
                "multi-statement --query input"
            )
        print(
            f"-- note: SET {sm.group(1)} acknowledged (ClickHouse session "
            "settings have no Spark equivalent in a one-shot query)",
            file=sys.stderr,
        )
    q = stmts[-1] if stmts else ""
    sm = _re.fullmatch(r"(?is)SET\s+(\w+)\s*=\s*(.+)", q)
    if sm:
        print(
            f"-- note: SET {sm.group(1)} acknowledged",
            file=sys.stderr,
        )
        return
    # SELECT … INTO OUTFILE 'path' (clickhouse-client writes the result
    # to a local file) — honored with the --query-format serialization
    outfile = None
    om = next(
        (
            m
            for m in _re.finditer(
                r"(?is)\bINTO\s+OUTFILE\s+'([^']+)'", q
            )
            if not _lit_in_string(q, m.start())
        ),
        None,
    )
    if om:
        outfile = om.group(1)
        q = (q[: om.start()] + q[om.end() :]).strip()
    # clickhouse-client conveniences: SHOW TABLES / SHOW CREATE TABLE /
    # DESCRIBE / EXPLAIN [SYNTAX]
    if _re.fullmatch(r"(?is)SHOW\s+DATABASES", q):
        print("default")
        return
    # OPTIMIZE TABLE t [FINAL]: the ReplacingMergeTree background-merge
    # trigger — unnecessary here because FROM t FINAL is rewritten as a
    # merge-on-read survivor plan, so queries already see merged state
    opt = _re.fullmatch(
        r"(?is)OPTIMIZE\s+TABLE\s+(\w+)(\s+FINAL)?(\s+DEDUPLICATE)?", q
    )
    if opt:
        t = opt.group(1)
        if t not in views:
            raise SystemExit(f"unknown table {t!r} (have: {', '.join(views)})")
        print(
            f"-- note: OPTIMIZE {t} acknowledged as a no-op — FROM {t} "
            "FINAL already reads merged (survivor-per-key) state",
            file=sys.stderr,
        )
        return
    ex = _re.fullmatch(r"(?is)EXISTS\s+(?:TABLE\s+)?(\w+)", q)
    if ex:
        print(1 if ex.group(1) in views else 0)
        return
    if _re.fullmatch(r"(?is)SHOW\s+TABLES", q):
        q = "SELECT name FROM system.tables ORDER BY name"
    sc = _re.fullmatch(r"(?is)SHOW\s+CREATE\s+(?:TABLE\s+)?(\w+)", q)
    if sc:
        t = sc.group(1)
        if t not in views:
            raise SystemExit(f"unknown table {t!r} (have: {', '.join(views)})")
        from .sources.systemviews import spark_to_ch_type

        cols = ",\n    ".join(
            f"`{f.name}` {spark_to_ch_type(f.dataType, f.nullable)}"
            for f in spark.table(t).schema.fields
        )
        keys, vers = (table_keys or {}).get(t, (None, None))
        order = ", ".join(keys) if keys else "tuple()"
        # ReplacingMergeTree takes ONE version column; the first configured
        # version is it (later entries are engine-side tie-breaks only)
        engine = (
            f"ReplacingMergeTree({vers[0]})" if keys and vers
            else "ReplacingMergeTree" if keys
            else "MergeTree"
        )
        print(
            f"CREATE TABLE {t}\n(\n    {cols}\n)\n"
            f"ENGINE = {engine}\nORDER BY ({order})"
        )
        return
    dm = _re.fullmatch(r"(?is)(?:DESCRIBE|DESC)(?:\s+TABLE)?\s+(\w+)", q)
    if dm:
        q = (
            "SELECT name, type, default_kind FROM system.columns "
            f"WHERE table = '{dm.group(1)}' ORDER BY position"
        )
    explain = syntax_only = False
    em = _re.match(
        r"(?is)^EXPLAIN\s+(SYNTAX\s+|PLAN\s+)?(SELECT\b.*)$", q, _re.DOTALL
    )
    if em:
        explain, q = True, em.group(2)
        # EXPLAIN SYNTAX: CH prints the rewritten query — here, the
        # translated Spark SQL (the most useful translation-debug view)
        syntax_only = (em.group(1) or "").strip().upper() == "SYNTAX"

    _arr_cols, _tbl_cols, _str_cols = spark_catalog_info(spark, views)
    translated, notes = translate_ch_sql(
        q,
        table_keys=table_keys,
        array_columns=_arr_cols,
        table_columns=_tbl_cols,
        string_columns=_str_cols,
    )
    for n in notes:
        print(f"-- note: {n}", file=sys.stderr)
    if explain and syntax_only:
        print(translated)
        return
    df = spark.sql(translated)
    if explain:
        df.explain(mode="formatted")
        return
    out_fh = open(outfile, "w") if outfile else None
    try:
        if args.query_format == "json":
            dest = out_fh or sys.stdout
            for line in df.toJSON().collect():
                print(line, file=dest)
        elif args.query_format == "csv" or out_fh is not None:
            # INTO OUTFILE with the default format serializes as CSV
            # (files want a parseable format, not the table renderer)
            import csv

            w = csv.writer(out_fh or sys.stdout)
            cols = df.columns
            w.writerow(cols)
            for row in df.collect():
                w.writerow(["" if row[c] is None else row[c] for c in cols])
        else:
            df.show(100, truncate=False)
    finally:
        if out_fh is not None:
            out_fh.close()
            print(f"-- wrote {outfile}", file=sys.stderr)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="clickhouse_sinker_spark")
    ap.add_argument("--config", help="hjson/json task config (reference-compatible); omit in --nacos-addr mode")
    ap.add_argument(
        "--source-path",
        help="read JSONL files from <dir>/<task topic>/ instead of Kafka",
    )
    ap.add_argument("--sink-path", help="write shard-partitioned parquet here instead of JDBC")
    ap.add_argument("--checkpoint", default="/tmp/sinker_ckpt", help="checkpoint root")
    ap.add_argument("--master", default="local[*]")
    ap.add_argument(
        "--once",
        action="store_true",
        help="drain available input, then exit (file mode: a topic's files drain as one epoch)",
    )
    ap.add_argument(
        "--watch",
        action="store_true",
        help="poll --config for changes and hot-apply the diff (C2)",
    )
    # Registry mode (cmd/clickhouse_sinker/main.go:103-110 flag parity):
    # with --nacos-addr set, --config is ignored — the config document and
    # the task-assignment map come from the registry, and this instance
    # runs only its published share.
    ap.add_argument("--nacos-addr", help="comma-separated nacos server addresses")
    ap.add_argument("--nacos-username", default="nacos")
    ap.add_argument("--nacos-password", default="nacos")
    ap.add_argument("--nacos-namespace-id", default="")
    ap.add_argument("--nacos-group", default="DEFAULT_GROUP")
    ap.add_argument("--nacos-dataid", default="")
    ap.add_argument("--nacos-service-name", default="clickhouse_sinker")
    ap.add_argument("--instance-ip", default="127.0.0.1", help="registry instance ip")
    ap.add_argument("--instance-port", type=int, default=2112, help="registry instance port")
    # observability (cmd/clickhouse_sinker/main.go:97-100 flag parity)
    # ad-hoc query mode: the clickhouse-client replacement for this engine
    ap.add_argument("--query", metavar="SQL",
                    help="run a ClickHouse-dialect query against --data-dir "
                         "parquet tables and print the result, then exit")
    ap.add_argument("--data-dir", default=".",
                    help="directory of <table>.parquet files for --query mode")
    ap.add_argument("--query-format", choices=("table", "json", "csv"),
                    default="table", help="--query output format")
    ap.add_argument("--final-key", action="append", metavar="TBL:KEYS:VERS",
                    help="table:key1,key2:ver1,ver2 — sorting key + ordered "
                         "version columns enabling FROM t FINAL merge-on-read "
                         "in --query mode (repeatable)")
    ap.add_argument("-e", "--encrypt", metavar="PASSWORD",
                    help="print the gosypt ENC(...) form of PASSWORD and exit "
                         "(cmd/clickhouse_sinker/main.go:94)")
    ap.add_argument("--http-port", type=int, default=0,
                    help="serve / /state /ready /live /metrics on this port (0 = off)")
    ap.add_argument("--metric-push-gateway-addrs",
                    help="comma-separated prometheus pushgateway addresses")
    ap.add_argument("--push-interval", type=int, default=10, help="push interval seconds")
    args = ap.parse_args(argv)

    if args.encrypt:
        from .gosypt import aes_encrypt_ecb

        print(f"ENC({aes_encrypt_ecb(args.encrypt)})")
        return

    if args.query:
        _run_query(args)
        return

    rcm = None
    if args.nacos_addr:
        from .registry import NacosConfManager

        rcm = NacosConfManager()
        rcm.init(
            {
                "serverAddrs": args.nacos_addr,
                "username": args.nacos_username,
                "password": args.nacos_password,
                "namespaceId": args.nacos_namespace_id,
                "group": args.nacos_group,
                "dataId": args.nacos_dataid,
                "serviceName": args.nacos_service_name,
            }
        )
        rcm.register(args.instance_ip, args.instance_port)
        # From here on a failure must still deregister: an exception after
        # register() (config not yet published, registry blip, bad config)
        # would otherwise leave a ghost ephemeral instance kept alive by
        # run()'s heartbeats until the registry times it out.
        try:
            rcm.run()  # scheduler loop: leader publishes assignments
            # Wait for this instance to appear in the published assignment
            # map (the leader's loop may not have re-assigned yet).  ALWAYS
            # filter to the published share — running unassigned tasks would
            # consume the same data as the instance they are assigned to.
            # Assignment changes after startup require a restart (the
            # reference restarts affected tasks via its config listener; see
            # control.SinkerApp for the in-process diff/hot-apply seam).
            import time as _time

            cfg_doc, mine = None, set()
            deadline = _time.monotonic() + 60
            while _time.monotonic() < deadline:
                try:
                    cfg_doc = rcm.get_config()
                except Exception:
                    # config not yet published / transient registry error —
                    # retryable within the startup window, not a crash
                    cfg_doc = None
                if cfg_doc is not None:
                    asg_map = (cfg_doc.get("assignment") or {}).get("map", {})
                    if rcm.instance in asg_map:
                        mine = set(asg_map[rcm.instance])
                        break
                _time.sleep(1.0)
            if cfg_doc is None:
                raise RuntimeError(
                    "no config published under "
                    f"dataId={args.nacos_dataid!r} within 60s"
                )
            cfg = load_config(cfg_doc)
            cfg.tasks = [t for t in cfg.tasks if t.name in mine]
        except BaseException:
            rcm.stop()
            rcm.deregister(args.instance_ip, args.instance_port)
            raise
    else:
        if not args.config:
            ap.error("--config is required unless --nacos-addr is set")
        cfg = load_config(args.config)
    try:
        health = pusher = None
        if args.watch and not args.config:
            ap.error("--watch polls a --config file; in --nacos-addr mode the "
                     "registry loop already re-assigns on config change")
        spark = _session(args.master, "clickhouse_sinker_spark")

        def source_factory(sp, task, c):
            return (
                file_source(sp, os.path.join(args.source_path, task.topic))
                if args.source_path
                else kafka_source(
                    sp,
                    c.kafka,
                    task.topic,
                    earliest=task.earliest,
                    max_offsets_per_trigger=task.buffer_size,
                )
            )

        def sink_factory(task, c):
            return (
                ParquetSink(f"{args.sink_path}/{task.table_name}", shards=c.clickhouse.shards)
                if args.sink_path
                else JdbcSink(c.clickhouse, task.table_name, shards=c.clickhouse.shards)
            )

        if args.http_port or args.metric_push_gateway_addrs:
            from .assignment import task_lags_from_progress
            from .streaming.http_health import HealthServer, MetricsPusher, prometheus_text
            from .streaming.metrics import CounterListener

            listener = CounterListener()
            spark.streams.addListener(listener)

            def state_fn():
                qs = getattr(state_fn, "queries", {})
                lags = task_lags_from_progress(
                    {n: (q.lastProgress or {}) for n, q in qs.items()}
                )
                return {
                    n: {"state": "RUN" if q.isActive else "DEAD", "lag": lags.get(n, 0)}
                    for n, q in qs.items()
                }

            if args.http_port:
                health = HealthServer(listener.snapshot, state_fn, port=args.http_port)
                health.start()
            if args.metric_push_gateway_addrs:
                pusher = MetricsPusher(
                    args.metric_push_gateway_addrs.split(","),
                    args.push_interval,
                    f"{args.instance_ip}:{args.instance_port}",
                    lambda: prometheus_text(listener.snapshot()),
                )
                pusher.start()

        from .control import SinkerApp

        app = SinkerApp(
            spark=spark,
            checkpoint_root=args.checkpoint,
            source_factory=source_factory,
            sink_factory=sink_factory,
        )
        if args.once:
            for task in cfg.tasks:
                pipe, sink, checkpoint = app.build_task(task, cfg)
                pipe.run_available(sink, checkpoint)
            return
        app.apply_config(cfg)
        if health is not None or pusher is not None:
            state_fn.queries = app.queries  # live view for /state and /ready
        if args.watch:  # C2 hot reload (task/sinker.go:340-519)
            app.watch(args.config)
        for q in list(app.queries.values()):
            q.awaitTermination()
    finally:
        if pusher is not None:
            pusher.stop()
        if health is not None:
            health.stop()
        if rcm is not None:  # graceful dereg (cmd/clickhouse_sinker/main.go)
            rcm.stop()
            rcm.deregister(args.instance_ip, args.instance_port)


if __name__ == "__main__":
    main()
