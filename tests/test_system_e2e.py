"""Whole-control-plane system test: registry-published config → leader
assignment → SinkerApp pipelines (file source → parquet sink) → health
endpoints → metrics push — every C-family component composed the way the
reference's daemon composes them (cmd/clickhouse_sinker/main.go:145-284)."""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from http.server import ThreadingHTTPServer

import pytest

from clickhouse_sinker_spark.config_io import load_config
from clickhouse_sinker_spark.control import SinkerApp
from clickhouse_sinker_spark.registry import NacosConfManager
from clickhouse_sinker_spark.streaming.http_health import (
    HealthServer,
    MetricsPusher,
    prometheus_text,
)
from clickhouse_sinker_spark.streaming.metrics import CounterListener
from clickhouse_sinker_spark.streaming.pipeline import file_source
from clickhouse_sinker_spark.streaming.sink import ParquetSink

from .test_http_health import _FakeGateway
from .test_registry import _FakeNacosHandler


def _await(pred, timeout=90):
    t0 = time.time()
    while time.time() - t0 < timeout:
        if pred():
            return True
        time.sleep(0.5)
    return False


@pytest.fixture()
def registry_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _FakeNacosHandler)
    srv.state = {"configs": {}, "instances": {}, "beats": 0, "logins": 0}
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        yield srv
    finally:
        srv.shutdown()
        srv.server_close()


def test_registry_to_pipeline_to_health(spark, tmp_path, registry_server):
    # --- publish the task config through the registry (C2/C3) ------------
    rcm = NacosConfManager()
    rcm.init(
        {
            "serverAddrs": f"127.0.0.1:{registry_server.server_address[1]}",
            "group": "sinker",
            "dataId": "tasks.hjson",
            "serviceName": "clickhouse_sinker",
        }
    )
    rcm.register("10.0.0.1", 2112)
    conf = {
        "clickhouse": {"hosts": [["h0"]]},
        "kafka": {"brokers": "b:9092"},
        "tasks": [
            {
                "name": n,
                "topic": n,
                "tableName": n,
                "consumerGroup": n,
                "parser": "json",
                "flushInterval": 1,
                "dims": [
                    {"name": "name", "type": "String"},
                    {"name": "value", "type": "Nullable(Float64)"},
                ],
            }
            for n in ("alpha", "beta")
        ],
    }
    rcm.publish_config(conf)
    published = rcm.assign_once()
    assert published["assignment"]["map"]["10.0.0.1:2112"] == ["alpha", "beta"]

    # --- this instance reads back its share and starts pipelines (C1) ----
    mine = set(rcm.assigned_tasks())
    cfg = load_config(rcm.get_config())
    cfg.tasks = [t for t in cfg.tasks if t.name in mine]
    assert {t.name for t in cfg.tasks} == {"alpha", "beta"}

    (tmp_path / "in").mkdir()
    with open(tmp_path / "in" / "rows.jsonl", "w") as f:
        for i in range(50):
            f.write(json.dumps({"name": f"n{i}", "value": float(i)}) + "\n")

    listener = CounterListener()
    spark.streams.addListener(listener)
    app = SinkerApp(
        spark=spark,
        checkpoint_root=str(tmp_path / "ckpt"),
        source_factory=lambda sp, task, c: file_source(sp, str(tmp_path / "in")),
        sink_factory=lambda task, c: ParquetSink(str(tmp_path / "out" / task.table_name)),
    )
    try:
        app.apply_config(cfg)
        assert set(app.queries) == {"alpha", "beta"}

        # --- health endpoints reflect live queries (C6) ------------------
        def state_fn():
            return {
                n: {"state": "RUN" if q.isActive else "DEAD", "lag": 0}
                for n, q in app.queries.items()
            }

        health = HealthServer(listener.snapshot, state_fn)
        health.start()
        try:
            with urllib.request.urlopen(
                f"http://127.0.0.1:{health.port}/ready?full=1"
            ) as r:
                body = json.loads(r.read())
            assert body["status"] == "ok" and set(body["tasks"]) == {"alpha", "beta"}

            # rows flow to both sinks
            def rows_out(table):
                try:
                    return spark.read.parquet(
                        str(tmp_path / "out" / table)
                    ).count()
                except Exception:
                    return 0

            assert _await(lambda: rows_out("alpha") >= 50 and rows_out("beta") >= 50)

            # metrics: listener saw progress; text renders; pusher delivers
            assert _await(lambda: bool(listener.snapshot()["progress"]))
            gw = ThreadingHTTPServer(("127.0.0.1", 0), _FakeGateway)
            gw.calls = []
            threading.Thread(target=gw.serve_forever, daemon=True).start()
            try:
                pusher = MetricsPusher(
                    [f"127.0.0.1:{gw.server_address[1]}"],
                    9999,
                    "10.0.0.1:2112",
                    lambda: prometheus_text(listener.snapshot()),
                )
                assert pusher.push_once() is True
                put_body = gw.calls[0][2]
                assert "clickhouse_sinker_num_input_rows" in put_body
            finally:
                gw.shutdown()
                gw.server_close()

            # stop the app: tasks leave the state map → empty assignment
            # reports ready (documented HealthServer semantics; the DEAD →
            # 503 path is covered in test_http_health), live stays ok
            app.stop_all()
            with urllib.request.urlopen(f"http://127.0.0.1:{health.port}/state") as r:
                assert json.loads(r.read()) == {}
            with urllib.request.urlopen(f"http://127.0.0.1:{health.port}/live") as r:
                assert r.status == 200
        finally:
            health.stop()
    finally:
        app.stop_all()
        spark.streams.removeListener(listener)
        rcm.deregister("10.0.0.1", 2112)


def test_flush_triggers_and_watchdog_restart(spark, tmp_path):
    """W1 both flush triggers + W7 watchdog (VERDICT r5 item 8):

    * count cap — ``file_source(max_files=1)`` (the file-source analogue
      of ``maxOffsetsPerTrigger``; uncapped by default) splits a 3-file
      backlog into ≥3 batches;
    * time trigger — a file arriving AFTER the backlog drains is picked up
      by a later processing-time tick (its own epoch);
    * watchdog — an injected sink failure kills the query; the watchdog
      restarts it from the checkpoint and the replayed batch lands
      (at-least-once → rows complete, restart counter advances).
    """
    from clickhouse_sinker_spark.control import SinkerApp

    cfg = load_config({
        "clickhouse": {"hosts": [["h0"]]},
        "kafka": {"brokers": "b:9092"},
        "tasks": [{
            "name": "gamma", "topic": "gamma", "tableName": "gamma",
            "consumerGroup": "g", "parser": "json", "flushInterval": 1,
            "dims": [
                {"name": "name", "type": "String"},
                {"name": "value", "type": "Nullable(Float64)"},
            ],
        }],
    })
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_file(idx: int, n: int = 5) -> None:
        with open(in_dir / f"f{idx}.jsonl", "w") as f:
            for i in range(n):
                f.write(json.dumps({"name": f"f{idx}-r{i}", "value": float(i)}) + "\n")

    for i in range(3):  # backlog: 3 files before start
        write_file(i)

    out = str(tmp_path / "out" / "gamma")
    base_sink = ParquetSink(out)
    fail_next = {"n": 1}
    epochs: list[int] = []

    def failing_sink(batch, epoch_id):
        if fail_next["n"] > 0:
            fail_next["n"] -= 1
            raise RuntimeError("injected sink failure (W7 drill)")
        epochs.append(epoch_id)
        base_sink(batch, epoch_id)

    app = SinkerApp(
        spark=spark,
        checkpoint_root=str(tmp_path / "ckpt"),
        source_factory=lambda sp, task, c: file_source(sp, str(in_dir), max_files=1),
        sink_factory=lambda task, c: failing_sink,
    )
    wd = None
    try:
        app.apply_config(cfg)
        wd = app.watchdog(interval_s=1.0, backoff_s=0.2)

        def distinct_rows():
            try:
                return (
                    spark.read.parquet(out).select("name").distinct().count()
                )
            except Exception:
                return 0

        # watchdog revived the query after the injected failure, and the
        # count cap split the 3-file backlog into ≥3 sink epochs
        assert _await(lambda: distinct_rows() >= 15)
        assert app.restarts.get("gamma", 0) >= 1
        assert _await(lambda: len(set(epochs)) >= 3)

        # time trigger: a late file gets its own later tick
        seen = len(set(epochs))
        write_file(9)
        assert _await(lambda: distinct_rows() >= 20)
        assert len(set(epochs)) > seen
    finally:
        if wd is not None:
            wd.stop_event.set()
        for q in list(app.queries.values()):
            try:
                q.stop()
            except Exception:
                pass
