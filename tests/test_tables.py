"""Loader-level runtime-conf pinning (sources/tables.py)."""
import pyspark.errors.utils as _eu
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_load_table_pins_dataframe_debugging_off(spark):
    """r14 (guide §5): PySpark's per-Column-op call-site capture costs
    ~3 ms per wrapped API call and made plan construction 1.5-3.4x
    slower; load_table syncs pyspark's module-global flag off (the conf
    is STATIC, so the cache is the only runtime lever) unless the user
    explicitly chose at session build.  Diagnostics-only: errors must
    still raise normally with the capture disabled."""
    from clickhouse_sinker_spark.sources.tables import (
        _apply_debugging_cache,
        load_table,
    )

    # fresh-session state: cache undecided, conf not explicitly set
    _eu._enable_debugging_cache = None
    df = load_table(spark, SF_DIR, "events")
    assert _eu._enable_debugging_cache is False
    # errors still raise cleanly without the call-site capture
    with pytest.raises(Exception):
        df.select(F.col("no_such_column")).collect()
    # an EXPLICIT session-build choice is respected, either way
    _apply_debugging_cache("true")
    assert _eu._enable_debugging_cache is True
    _apply_debugging_cache("false")
    assert _eu._enable_debugging_cache is False
    _apply_debugging_cache(None)
    assert _eu._enable_debugging_cache is False
    # end-to-end again: the loader leaves the pinned state stable
    load_table(spark, SF_DIR, "events")
    assert _eu._enable_debugging_cache is False


def test_pyspark_debugging_cache_pin_target_exists():
    """The pin writes pyspark's private ``_enable_debugging_cache``.  It
    must exist on a fresh import (checked in a new interpreter, since the
    pin itself creates the attribute when missing) and must be what
    ``is_debugging_enabled`` reads; a PySpark upgrade that renames it
    fails here instead of silently un-pinning the capture."""
    import subprocess
    import sys

    probe = (
        "import pyspark.errors.utils as u\n"
        "assert hasattr(u, '_enable_debugging_cache')\n"
        "for v in (False, True):\n"
        "    u._enable_debugging_cache = v\n"
        "    assert u.is_debugging_enabled() is v\n"
    )
    subprocess.run([sys.executable, "-c", probe], check=True, timeout=120)
