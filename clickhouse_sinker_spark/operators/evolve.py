"""Dynamic schema evolution (≙ D4/D5/D6: parser/fastjson.go:512-536,623-658;
output/clickhouse.go:550-659; task/task.go:142-159,198-219).

The reference restarts the consumer when a message carries unknown keys,
issues ``ALTER TABLE ADD COLUMN IF NOT EXISTS`` with an inferred type, and
re-projects.  In Spark we detect new keys *inside the batch* (no restart):
``json_object_keys`` diff against the known column set, white/black regex
filters, MaxDims guard, then the caller widens the destination (DDL via JDBC;
parquet needs none, its readers pass mergeSchema) and rebuilds the
projection for the same batch.

Type inference mirrors fjDetectType (parser/fastjson.go:623-658): Bool,
Int64, Float64, DateTime (string that parses as datetime), String; arrays
deeper than 1 level and objects are ignored (depth guard) — FIXTURES.md F2.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["detect_new_keys", "infer_key_types", "evolve_specs"]

from .project import ColumnSpec


def detect_new_keys(
    df: DataFrame,
    json_col: str,
    known: set[str],
    white_regex: str | None = None,
    black_regex: str | None = None,
    max_dims: int = 0,
) -> list[str]:
    """Distinct keys present in the JSON column but not in ``known``.

    One distinct-aggregate over exploded key sets (map-side partial agg —
    the shuffle carries only distinct key strings, tiny at any scale).
    White/black regex and MaxDims guard per config/config.go:169-181 and
    task/task.go:142-159 (dirty-data attack guard).
    """
    keys = (
        df.select(F.explode(F.json_object_keys(F.col(json_col))).alias("k"))
        .filter(~F.col("k").isin(list(known)))
        .distinct()
    )
    out = [r.k for r in keys.collect()]
    if white_regex:
        out = [k for k in out if re.search(white_regex, k)]
    if black_regex:
        out = [k for k in out if not re.search(black_regex, k)]
    out.sort()
    if max_dims > 0:
        room = max_dims - len(known)
        out = out[: max(room, 0)]
    return out


def infer_key_types(df: DataFrame, json_col: str, new_keys: list[str], sample: int = 100) -> dict[str, str]:
    """Infer a ClickHouse type string per new key from observed values
    (≙ fjDetectType, parser/fastjson.go:623-658).

    Dispatches on the actual JSON value KIND, like the reference: the raw
    message sample is json-parsed driver-side, so a QUOTED scalar ("123",
    "true", "1.5") stays String/DateTime — ``get_json_object`` would strip
    the quotes and mistype it as Int64/Bool/Float64, corrupting e.g.
    zero-padded string IDs.  The sample is bounded (``limit(sample)``), so
    this never scales with data size.  Objects/arrays → excluded (depth
    guard, FIXTURES.md F2 phases 3-4).
    """
    if not new_keys:
        return {}
    import json

    rows = df.select(F.col(json_col).cast("string").alias("__raw")).limit(sample).collect()
    out: dict[str, str] = {}
    remaining = set(new_keys)
    for r in rows:
        if not remaining:
            break
        try:
            obj = json.loads(r["__raw"]) if r["__raw"] else None
        except (ValueError, TypeError):
            continue
        if not isinstance(obj, dict):
            continue
        for k in list(remaining):
            if k not in obj or obj[k] is None:
                continue
            v = obj[k]
            remaining.discard(k)
            if isinstance(v, bool):  # before int: bool is an int subclass
                out[k] = "Nullable(Bool)"
            elif isinstance(v, int):
                out[k] = "Nullable(Int64)"
            elif isinstance(v, float):
                out[k] = "Nullable(Float64)"
            elif isinstance(v, str):
                out[k] = "Nullable(DateTime64(3))" if _looks_datetime(v) else "Nullable(String)"
            # dict/list: excluded (depth guard) — key stays un-typed
    return out


_DT_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2}(\.\d+)?([+-]\d{2}:?\d{2}|Z)?)?$"
)


def _looks_datetime(v: str) -> bool:
    return bool(_DT_RE.match(v))


def evolve_specs(
    specs: list[ColumnSpec],
    df: DataFrame,
    json_col: str,
    white_regex: str | None = None,
    black_regex: str | None = None,
    max_dims: int = 0,
) -> tuple[list[ColumnSpec], dict[str, str]]:
    """Full evolution step: detect → infer → widened spec list.

    Returns (new_specs, added {name: ch_type}).  The caller applies DDL to
    the destination (ALTER ... ADD COLUMN IF NOT EXISTS — idempotent like
    output/clickhouse.go:550-659) and re-projects the SAME batch with the
    widened specs — cleaner than the reference's consumer restart because
    nothing was committed yet.
    """
    known = {s.name for s in specs} | {s.source for s in specs if s.source}
    new_keys = detect_new_keys(df, json_col, known, white_regex, black_regex, max_dims)
    inferred = infer_key_types(df, json_col, new_keys)
    new_specs = list(specs) + [ColumnSpec(k, t, source=k) for k, t in sorted(inferred.items())]
    return new_specs, inferred
