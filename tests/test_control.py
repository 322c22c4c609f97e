"""C2 config hot-reload (task/sinker.go:340-519) and C5 encrypted
credentials (util/gosypt.go, util/aes.go)."""

from __future__ import annotations

import json
import threading
import time

from pyspark.sql import functions as F

from clickhouse_sinker_spark.config_io import load_config
from clickhouse_sinker_spark.control import SinkerApp, diff_tasks
from clickhouse_sinker_spark.gosypt import (
    aes_decrypt_ecb,
    aes_encrypt_ecb,
    ensure_password,
    unmarshal,
)
from clickhouse_sinker_spark.streaming.pipeline import file_source
from clickhouse_sinker_spark.streaming.sink import ParquetSink


# --- C5: gosypt / AES-ECB credentials ---------------------------------------


def test_gosypt_reference_golden_vector():
    """util/aes.go:11: aes_encrypt('123456', unhex('656f6974656b')) ==
    E310E892E56801CED9ED98AA177F18E6 (MySQL-compatible semantics)."""
    assert aes_encrypt_ecb("123456") == "E310E892E56801CED9ED98AA177F18E6"
    assert aes_decrypt_ecb("E310E892E56801CED9ED98AA177F18E6") == "123456"


def test_gosypt_roundtrip_and_wrapping():
    for pw in ("x", "123456", "a" * 16, "a" * 17, "pw!@# $%", "ü 密码"):
        assert aes_decrypt_ecb(aes_encrypt_ecb(pw)) == pw
    assert ensure_password("ENC(" + aes_encrypt_ecb("s3cret") + ")") == "s3cret"
    assert ensure_password("plaintext") == "plaintext"  # no ENC() → passthrough
    assert ensure_password("") == ""


def test_config_decrypts_enc_password():
    """load_config applies gosypt to the clickhouse section, matching
    applyConfig (task/sinker.go:345-349)."""
    enc = aes_encrypt_ecb("topsecret")
    cfg = load_config(
        {
            "clickhouse": {"hosts": [["h0"]], "password": f"ENC({enc})", "username": "u"},
            "kafka": {"brokers": "b:9092"},
            "task": {"name": "t1", "topic": "tp"},
        }
    )
    assert cfg.clickhouse.password == "topsecret"
    assert cfg.clickhouse.username == "u"
    # unmarshal also walks plain dict/list graphs
    d = unmarshal({"a": [f"ENC({enc})"], "b": "x"})
    assert d == {"a": ["topsecret"], "b": "x"}


# --- C2: hot reload ----------------------------------------------------------


def _cfg_dict(tasks):
    return {
        "clickhouse": {"hosts": [["h0"]]},
        "kafka": {"brokers": "b:9092"},
        "tasks": tasks,
    }


def _task_dict(name, flush=1, topic=None):
    return {
        "name": name,
        "topic": topic or name,
        "consumerGroup": name,
        "parser": "json",
        "flushInterval": flush,
        "dims": [
            {"name": "name", "type": "String"},
            {"name": "value", "type": "Nullable(Float64)"},
        ],
    }


def test_diff_tasks_classification():
    old = load_config(_cfg_dict([_task_dict("a"), _task_dict("b")]))
    new = load_config(_cfg_dict([_task_dict("a"), _task_dict("b", flush=7), _task_dict("c")]))
    d = diff_tasks(old, new)
    assert d["added"] == ["c"] and d["changed"] == ["b"] and d["unchanged"] == ["a"]
    assert d["removed"] == [] and d["full_restart"] == []
    # removed
    d2 = diff_tasks(old, load_config(_cfg_dict([_task_dict("b")])))
    assert d2["removed"] == ["a"] and d2["unchanged"] == ["b"]
    # transport change → full restart of everything
    changed_transport = _cfg_dict([_task_dict("a"), _task_dict("b")])
    changed_transport["kafka"] = {"brokers": "other:9092"}
    d3 = diff_tasks(old, load_config(changed_transport))
    assert d3["full_restart"] == ["a", "b"]
    # first apply: everything is "added"
    d4 = diff_tasks(None, old)
    assert d4["added"] == ["a", "b"] and d4["full_restart"] == []


def _mk_app(spark, tmp_path):
    (tmp_path / "in").mkdir(exist_ok=True)

    def source_factory(sp, task, cfg):
        return file_source(sp, str(tmp_path / "in"))

    def sink_factory(task, cfg):
        return ParquetSink(str(tmp_path / "out" / task.table_name))

    return SinkerApp(
        spark=spark,
        checkpoint_root=str(tmp_path / "ckpt"),
        source_factory=source_factory,
        sink_factory=sink_factory,
    )


def _write_rows(tmp_path, fname, n, start=0):
    (tmp_path / "in").mkdir(exist_ok=True)
    with open(tmp_path / "in" / fname, "w") as f:
        for i in range(start, start + n):
            f.write(json.dumps({"name": f"n{i}", "value": float(i)}) + "\n")


def _await(pred, timeout=60):
    t0 = time.time()
    while time.time() - t0 < timeout:
        if pred():
            return True
        time.sleep(0.5)
    return False


def test_hot_reload_restarts_only_affected(spark, tmp_path):
    """applyAnotherConfig task-diff path: changed task restarts (new query
    id), unchanged task keeps its query object, added task starts,
    removed task stops."""
    _write_rows(tmp_path, "w0.jsonl", 10)
    app = _mk_app(spark, tmp_path)
    try:
        cfg1 = load_config(_cfg_dict([_task_dict("ta"), _task_dict("tb")]))
        d1 = app.apply_config(cfg1)
        assert sorted(d1["added"]) == ["ta", "tb"]
        qa1, qb1 = app.queries["ta"], app.queries["tb"]
        assert _await(lambda: all(q.isActive for q in app.queries.values()))

        # reload: tb changed, tc added, ta unchanged
        cfg2 = load_config(
            _cfg_dict([_task_dict("ta"), _task_dict("tb", flush=5), _task_dict("tc")])
        )
        d2 = app.apply_config(cfg2)
        assert d2["changed"] == ["tb"] and d2["added"] == ["tc"] and d2["unchanged"] == ["ta"]
        assert app.queries["ta"] is qa1  # untouched query object
        assert app.queries["tb"] is not qb1 and not qb1.isActive  # restarted
        assert app.queries["tb"].isActive is not None
        assert set(app.queries) == {"ta", "tb", "tc"}

        # reload: ta removed
        cfg3 = load_config(_cfg_dict([_task_dict("tb", flush=5), _task_dict("tc")]))
        d3 = app.apply_config(cfg3)
        assert d3["removed"] == ["ta"]
        assert not qa1.isActive and set(app.queries) == {"tb", "tc"}

        # data still flows into the surviving tasks after the reloads
        _write_rows(tmp_path, "w1.jsonl", 10, start=100)
        out_dir = tmp_path / "out" / "table"  # default tableName is "table"
        assert _await(
            lambda: (tmp_path / "out").exists()
            and any((tmp_path / "out").rglob("*.parquet")),
            timeout=90,
        )
    finally:
        app.stop_all()


def test_hot_reload_transport_change_restarts_all(spark, tmp_path):
    """applyAnotherConfig full-restart path: kafka/clickhouse section
    change stops and restarts every task."""
    _write_rows(tmp_path, "w0.jsonl", 5)
    app = _mk_app(spark, tmp_path)
    try:
        app.apply_config(load_config(_cfg_dict([_task_dict("ta"), _task_dict("tb")])))
        qa1, qb1 = app.queries["ta"], app.queries["tb"]
        new = _cfg_dict([_task_dict("ta"), _task_dict("tb")])
        new["clickhouse"] = {"hosts": [["h0"], ["h1"]]}  # shard topology changed
        d = app.apply_config(load_config(new))
        assert d["full_restart"] == ["ta", "tb"]
        assert app.queries["ta"] is not qa1 and app.queries["tb"] is not qb1
        assert not qa1.isActive and not qb1.isActive
    finally:
        app.stop_all()


def test_hot_reload_watch_thread(spark, tmp_path):
    """File-watch loop: rewriting the config file triggers apply_config."""
    _write_rows(tmp_path, "w0.jsonl", 5)
    app = _mk_app(spark, tmp_path)
    cfg_path = tmp_path / "sinker.json"
    cfg_path.write_text(json.dumps(_cfg_dict([_task_dict("ta")])))
    stop = threading.Event()
    try:
        t = app.watch(str(cfg_path), interval_s=0.5, stop_event=stop)
        assert _await(lambda: "ta" in app.queries, timeout=30)
        cfg_path.write_text(json.dumps(_cfg_dict([_task_dict("ta"), _task_dict("tb")])))
        assert _await(lambda: "tb" in app.queries, timeout=30)
        assert t.is_alive()
    finally:
        stop.set()
        app.stop_all()


def test_watchdog_restarts_failed_query(spark, tmp_path):
    """W7: a query that dies with an exception is restarted from its
    checkpoint; after the transient fault clears, data flows again."""
    _write_rows(tmp_path, "w0.jsonl", 10)
    fail = {"on": True}

    def flaky_sink(task, cfg):
        inner = ParquetSink(str(tmp_path / "out" / task.table_name))

        def sink(batch, epoch_id):
            if fail["on"]:
                raise RuntimeError("transient sink outage")
            inner(batch, epoch_id)

        return sink

    def source_factory(sp, task, cfg):
        return file_source(sp, str(tmp_path / "in"))

    app = SinkerApp(
        spark=spark,
        checkpoint_root=str(tmp_path / "ckpt"),
        source_factory=source_factory,
        sink_factory=flaky_sink,
    )
    stop = threading.Event()
    try:
        app.apply_config(load_config(_cfg_dict([_task_dict("ta")])))
        app.watchdog(interval_s=0.5, stop_event=stop, backoff_s=0.2)
        # the first batches fail -> query dies -> watchdog restarts it
        assert _await(lambda: app.restarts.get("ta", 0) >= 1, timeout=60)
        fail["on"] = False  # outage over; a restarted incarnation drains
        assert _await(
            lambda: any((tmp_path / "out").rglob("*.parquet")), timeout=90
        )
        q = app.queries["ta"]
        assert _await(lambda: q.isActive or app.queries["ta"] is not q, timeout=30)
    finally:
        stop.set()
        app.stop_all()


def test_cli_once_drains_every_task(spark, tmp_path):
    """`python -m clickhouse_sinker_spark --config … --source-path …
    --sink-path … --once`: every configured task drains its own topic's
    backlog (``<source-path>/<topic>/``) into its own table, laid out by
    shard (two hosts = two shards)."""
    from clickhouse_sinker_spark.__main__ import main

    staged = {"ta": range(40), "tb": range(100, 125)}
    for topic, ids in staged.items():
        (tmp_path / "in" / topic).mkdir(parents=True)
        _write_rows(tmp_path, f"{topic}/w0.jsonl", len(ids), start=ids[0])
    tasks = [
        dict(_task_dict(name), tableName=f"tbl_{name}", shardingKey="name")
        for name in ("ta", "tb")
    ]
    cfg = _cfg_dict(tasks)
    cfg["clickhouse"] = {"hosts": [["h0"], ["h1"]]}
    cfg_path = tmp_path / "sinker.json"
    cfg_path.write_text(json.dumps(cfg))
    main([
        "--config", str(cfg_path),
        "--source-path", str(tmp_path / "in"),
        "--sink-path", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--master", "local[4]",
        "--once",
    ])
    for name in ("ta", "tb"):
        table = tmp_path / "out" / f"tbl_{name}"
        out = spark.read.parquet(str(table))
        assert sorted(r.name for r in out.select("name").collect()) == sorted(
            f"n{i}" for i in staged[name]
        )
        assert sorted(p.name for p in table.glob("__shard=*")) == [
            "__shard=0",
            "__shard=1",
        ]
