"""Differential collect: the same rows from two physical shapes of one
operation, under one session setting (modelled on spark-rapids'
``assert_gpu_and_cpu_are_equal_collect``).  ``build_a``/``build_b`` take the
SparkSession and return a DataFrame; rows are compared as multisets, with
NULL equal to NULL (``eqNullSafe``), so neither row order nor partitioning
matters."""

from __future__ import annotations

from collections import Counter
from contextlib import contextmanager


@contextmanager
def session_conf(spark, conf: dict[str, str]):
    """Set ``conf`` on the session for the block, then restore each key."""
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def assert_equal_collect(spark, build_a, build_b, conf: dict[str, str] | None = None):
    """Collect both shapes under ``conf`` and assert the same rows; the
    message lists up to 10 rows found on one side only."""
    with session_conf(spark, conf or {}):
        a = Counter(tuple(r) for r in build_a(spark).collect())
        b = Counter(tuple(r) for r in build_b(spark).collect())
    only_a, only_b = a - b, b - a
    assert not only_a and not only_b, (
        f"{sum(only_a.values())} rows differ under {conf}; "
        f"only in a: {list(only_a)[:10]}; only in b: {list(only_b)[:10]}"
    )
