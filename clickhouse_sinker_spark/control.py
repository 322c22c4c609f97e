"""Run-loop control plane: multi-task lifecycle + config hot-reload
(C2 ≙ Sinker.applyConfig / applyAnotherConfig, task/sinker.go:340-519).

The reference polls its config source, diffs the new config against the
running one, and restarts only what changed:

- kafka or clickhouse section changed → stop everything, start everything
  (task/sinker.go:396-443 full restart path);
- tasks changed → per-task diff: removed tasks stop, changed tasks stop
  and restart with the new config, added tasks start, untouched tasks
  keep running (task/sinker.go:444-519);
- credentials are decrypted before the diff (task/sinker.go:345-349 —
  done in ``load_config``).

Spark mapping: a "task" is a streaming query; stop = ``query.stop()``
(graceful — the current micro-batch completes and its offsets commit, the
engine's equivalent of the reference's drain-then-commit stop); restart
reuses the per-task checkpoint directory, so a restarted task resumes
from its committed offsets — no data loss, no replay beyond the
at-least-once contract.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field as dc_field
from typing import Callable

from pyspark.sql import SparkSession

from .config_io import SinkerConfig, load_config
from .sources.schema import json_parse_schema, specs_from_task
from .streaming.pipeline import Pipeline, build_pipeline

__all__ = ["SinkerApp", "diff_tasks"]


def diff_tasks(old: SinkerConfig | None, new: SinkerConfig) -> dict[str, list[str]]:
    """Classify tasks by name: added / removed / changed / unchanged, plus
    the transport verdict (``full_restart`` non-empty when the kafka or
    clickhouse section differs — the reference's applyAnotherConfig
    branch split)."""
    if old is None:
        return {
            "added": [t.name for t in new.tasks],
            "removed": [],
            "changed": [],
            "unchanged": [],
            "full_restart": [],
        }
    old_by = {t.name: t for t in old.tasks}
    new_by = {t.name: t for t in new.tasks}
    transport_changed = old.kafka != new.kafka or old.clickhouse != new.clickhouse
    if transport_changed:
        return {
            "added": [n for n in new_by if n not in old_by],
            "removed": [n for n in old_by if n not in new_by],
            "changed": [],
            "unchanged": [],
            "full_restart": sorted(set(old_by) | set(new_by)),
        }
    return {
        "added": [n for n in new_by if n not in old_by],
        "removed": [n for n in old_by if n not in new_by],
        "changed": [n for n in new_by if n in old_by and new_by[n] != old_by[n]],
        "unchanged": [n for n in new_by if n in old_by and new_by[n] == old_by[n]],
        "full_restart": [],
    }


@dataclass
class SinkerApp:
    """Owns the running streaming queries and applies config diffs.

    ``source_factory(spark, task, cfg)`` and ``sink_factory(task, cfg)``
    supply the transport (Kafka+JDBC in deployment; file+parquet or
    file+Derby in tests) — the control flow is identical either way.
    Which tasks run here is decided before ``apply_config``: with several
    instances, the CLI's registry mode passes only this instance's
    published share (registry.py).
    """

    spark: SparkSession
    checkpoint_root: str
    source_factory: Callable
    sink_factory: Callable
    cfg: SinkerConfig | None = None
    queries: dict = dc_field(default_factory=dict)  # task name -> StreamingQuery

    def build_task(self, task, cfg: SinkerConfig) -> tuple[Pipeline, Callable, str]:
        """Task → (pipeline, sink, checkpoint dir): the one place a
        configured task becomes a query plan.  The caller picks the
        trigger: ``Pipeline.start`` for a long-running task,
        ``Pipeline.run_available`` to drain and exit."""
        specs = specs_from_task(task)
        schema = json_parse_schema(specs, parser=task.parser)
        raw = self.source_factory(self.spark, task, cfg)
        pipe = build_pipeline(raw, task, specs, schema, shards=cfg.clickhouse.shards)
        return pipe, self.sink_factory(task, cfg), f"{self.checkpoint_root}/{task.name}"

    def _start_task(self, task, cfg: SinkerConfig) -> None:
        pipe, sink, checkpoint = self.build_task(task, cfg)
        self.queries[task.name] = pipe.start(sink, checkpoint)

    def _stop_task(self, name: str) -> None:
        q = self.queries.pop(name, None)
        if q is not None:
            q.stop()  # graceful: in-flight batch commits, then the query ends

    def apply_config(self, new_cfg: SinkerConfig | str | dict) -> dict[str, list[str]]:
        """Diff + restart-affected (C2).  Returns the applied diff."""
        if not isinstance(new_cfg, SinkerConfig):
            new_cfg = load_config(new_cfg)
        diff = diff_tasks(self.cfg, new_cfg)
        if diff["full_restart"]:
            # transport changed: stop all, start all (task/sinker.go:396-443)
            for name in list(self.queries):
                self._stop_task(name)
            for t in new_cfg.tasks:
                self._start_task(t, new_cfg)
        else:
            for name in diff["removed"] + diff["changed"]:
                self._stop_task(name)
            new_by = {t.name: t for t in new_cfg.tasks}
            for name in diff["changed"] + diff["added"]:
                self._start_task(new_by[name], new_cfg)
        self.cfg = new_cfg
        return diff

    def stop_all(self) -> None:
        for name in list(self.queries):
            self._stop_task(name)

    def watchdog(
        self,
        interval_s: float = 5.0,
        stop_event: threading.Event | None = None,
        backoff_s: float = 1.0,
    ) -> threading.Thread:
        """Auto-restart dead tasks (W7 ≙ the reference's run-loop guard:
        a consumer that dies from a transient failure is restarted rather
        than silently staying down).  A query that terminated WITH an
        exception restarts from its checkpoint (at-least-once resume); a
        query stopped cleanly (query.stop(), e.g. by apply_config) is
        left alone.  Restart counts are kept in ``self.restarts``."""
        stop = stop_event or threading.Event()
        self.restarts: dict[str, int] = getattr(self, "restarts", {})

        def loop():
            while not stop.is_set():
                cfg = self.cfg
                if cfg is not None:
                    by_name = {t.name: t for t in cfg.tasks}
                    for name, q in list(self.queries.items()):
                        try:
                            dead = not q.isActive and q.exception() is not None
                        except Exception:
                            dead = True
                        if dead and name in by_name:
                            self.restarts[name] = self.restarts.get(name, 0) + 1
                            try:
                                self._start_task(by_name[name], cfg)
                            except Exception:
                                pass  # next tick retries
                            stop.wait(backoff_s)
                stop.wait(interval_s)

        t = threading.Thread(target=loop, daemon=True, name="query-watchdog")
        t.stop_event = stop  # type: ignore[attr-defined]
        t.start()
        return t

    def watch(
        self,
        config_path: str,
        interval_s: float = 5.0,
        stop_event: threading.Event | None = None,
    ) -> threading.Thread:
        """Poll a config file and hot-apply on content change (the local-
        file analogue of the reference's Nacos polling loop,
        cmd/clickhouse_sinker/main.go config-reload goroutine).  Returns
        the daemon thread; set ``stop_event`` to end it."""
        stop = stop_event or threading.Event()
        last: list[str] = [""]

        def loop():
            while not stop.is_set():
                try:
                    with open(config_path) as f:
                        text = f.read()
                    if text != last[0]:
                        last[0] = text
                        self.apply_config(text)
                except Exception:
                    pass  # transient read/parse error: keep current config
                stop.wait(interval_s)

        t = threading.Thread(target=loop, daemon=True, name="config-watch")
        t.stop_event = stop  # type: ignore[attr-defined]
        t.start()
        return t
