"""R7 task assignment: snake distribution, lag rebalance and progress-based
lag extraction (pure-Python tests, no Spark)."""

from __future__ import annotations

import random

from clickhouse_sinker_spark.assignment import (
    assign_tasks,
    scheduler_instance,
    snake_assign,
    task_lags_from_progress,
)


def test_scheduler_is_lexicographic_first():
    assert scheduler_instance(["b:9100", "a:9100", "c:9100"]) == "a:9100"
    assert scheduler_instance([]) is None


def test_snake_pattern():
    out = snake_assign(["t0", "t1", "t2", "t3", "t4"], ["i0", "i1"])
    # pass 0 forward (t0→i0, t1→i1), pass 1 reversed (t2→i1, t3→i0),
    # pass 2 forward (t4→i0)
    assert out == {"i0": ["t0", "t3", "t4"], "i1": ["t1", "t2"]}


def test_snake_three_instances():
    out = snake_assign([f"t{i}" for i in range(7)], ["a", "b", "c"])
    assert out == {"a": ["t0", "t5", "t6"], "b": ["t1", "t4"], "c": ["t2", "t3"]}


def test_assign_partition_property():
    """Every task exactly once, every instance present, deterministic."""
    tasks = [f"t{i}" for i in range(13)]
    insts = ["i2", "i0", "i1"]
    lags = {t: (i * 37) % 11 for i, t in enumerate(tasks)}
    a = assign_tasks(tasks, insts, lags)
    b = assign_tasks(list(reversed(tasks)), sorted(insts), dict(lags))
    assert a == b  # lag mode is input-order-insensitive
    assert sorted(x for ts in a.values() for x in ts) == sorted(tasks)
    assert set(a) == set(insts)


def test_lag_rebalance_shrinks_gap():
    """One huge task + many small ones: the balance loop must offload the
    small tasks from the instance stuck with the huge one."""
    lags = {"big": 1000, **{f"s{i}": 10 for i in range(8)}}
    plan = assign_tasks(sorted(lags), ["i0", "i1"], lags)
    load = {i: sum(lags[t] for t in ts) for i, ts in plan.items()}
    # snake alone leaves ~ (1000+4·10) vs (4·10); balanced must push ALL
    # small tasks to the other instance
    assert load[max(load, key=load.get)] == 1000
    assert sorted(plan[min(load, key=load.get)]) == sorted(f"s{i}" for i in range(8))


def test_lag_rebalance_never_loops_forever_and_is_stable():
    rng = random.Random(7)
    for _ in range(25):
        n_tasks = rng.randint(1, 20)
        n_inst = rng.randint(1, 5)
        tasks = [f"t{i}" for i in range(n_tasks)]
        lags = {t: rng.randint(0, 100) for t in tasks}
        insts = [f"i{i}" for i in range(n_inst)]
        p1 = assign_tasks(tasks, insts, lags)
        p2 = assign_tasks(tasks, insts, lags)
        assert p1 == p2
        assert sorted(x for ts in p1.values() for x in ts) == sorted(tasks)


def test_no_lag_mode_keeps_config_order():
    """Without lags the reference distributes in config order — t0 and t2
    land per snake position, not name-balanced."""
    out = assign_tasks(["z", "a", "m"], ["i0", "i1"])
    # z→i0 (pass 0), a→i1, m→i1 (pass 1 reversed); lists name-sorted
    assert out == {"i0": ["z"], "i1": ["a", "m"]}


def test_task_lags_from_progress():
    prog = {
        "kafka_task": {
            "sources": [
                {
                    "latestOffset": '{"topic": {"0": 1000, "1": 500}}',
                    "endOffset": '{"topic": {"0": 900, "1": 450}}',
                }
            ]
        },
        "file_task": {"sources": [{"latestOffset": 42, "endOffset": 40}]},
        "idle_task": {"sources": []},
        "fresh_task": {},
    }
    lags = task_lags_from_progress(prog)
    assert lags == {"kafka_task": 150, "file_task": 2, "idle_task": 0, "fresh_task": 0}


def test_task_lags_never_negative():
    prog = {"t": {"sources": [{"latestOffset": 10, "endOffset": 25}]}}
    assert task_lags_from_progress(prog) == {"t": 0}
