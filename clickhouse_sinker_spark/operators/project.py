"""Projection builder — the per-row "SELECT list" (≙ metric2Row,
task/task.go:236-321 + GetValueByType, model/value.go:108-159).

Given a destination schema (list of ``ColumnSpec``), build the list of cast
expressions that turns a parsed message DataFrame into destination rows with
reference semantics:

- source-name mapping (ColumnWithType.SourceName, model/metric.go:57-62)
- saturating integer casts / float clamp (P7)
- default-on-bad-data vs NULL by nullability (P8)
- datetime layouts + epoch scaling (P9/P10)
- IP validation (P12)
- Kafka metadata columns ``__kafka*`` (P6, task/task.go:285-298)
- constant-field injection (P5, parser/parser.go:82-86)
- null-reject filter on non-nullable columns (P16, task/task.go:303-314)

Everything is a Column expression — one ``select`` (after the narrow
pre-projections of any DateTime layout parse) that whole-stage codegen fuses
into a single stage; at 100 TB this is a pure map, no shuffle.
"""

from __future__ import annotations

import functools
import operator
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as ST

from ..typemap import CHType, parse_ch_type, to_spark_type
from ..functions.casts import (
    DateTimeStages,
    cast_with_default,
    default_literal,
    epoch_to_timestamp,
    parse_datetime_any,
    saturating_cast,
    saturating_cast_float32,
    valid_ip_or_default,
)

__all__ = [
    "ColumnSpec",
    "build_projection",
    "apply_projection",
    "source_col",
    "gjson_segments",
    "KAFKA_META_COLUMNS",
]


def gjson_segments(path: str) -> list[str]:
    """Split a gjson path on unescaped dots; ``\\.`` addresses a key that
    literally contains a dot (P2, util/common.go:90-97)."""
    return [s.replace("\\.", ".") for s in re.split(r"(?<!\\)\.", path)]


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def int_literal_predicate(s: Column) -> Column:
    """``s rlike '^-?\\d+$'`` without per-row regex machinery (r13), exactly:
    strip all digits with ``translate``; an integer literal leaves "" (all
    digits, non-empty) or exactly a leading "-" with ≥1 digit.  Java's
    non-MULTILINE ``$`` also matches just before ONE final line terminator
    (\\n, \\r\\n, \\r, \\u0085, \\u2028, \\u2029), so '123\\n' was accepted
    by the regex — replicate by dropping one trailing terminator before the
    residue test (r14, ADVICE fix: '288...747\\n' previously took the exact
    decimal path and must keep doing so)."""
    slen = F.length(s)
    tail1 = s.substr(slen, F.lit(1))
    tail2 = s.substr(slen - F.lit(1), F.lit(2))
    core = (
        F.when(tail2 == "\r\n", s.substr(F.lit(1), slen - F.lit(2)))
        .when(
            tail1.isin("\n", "\r", "\u0085", "\u2028", "\u2029"),
            s.substr(F.lit(1), slen - F.lit(1)),
        )
        .otherwise(s)
    )
    residue = F.translate(core, "0123456789", "")
    return ((residue == "") & (core != "")) | (
        (residue == "-") & core.startswith("-") & (F.length(core) >= 2)
    )


def source_col(name: str, parser: str = "fastjson") -> Column:
    """Source-field access with the parser's path semantics.

    - fastjson (P1): ``v.Get(key)`` — the source name is ONE literal key,
      dots included (parser/fastjson.go:69-127); backtick-quote it so
      Spark does not treat dots as struct access.
    - gjson (P2): path syntax (parser/gjson.go:42-58) — plain dots
      descend into objects, integer segments index arrays (0-based),
      ``\\.`` escapes a literal dot inside a key (util/common.go:90-97).
    """
    if parser != "gjson":
        return F.col(_quote(name))
    segs = gjson_segments(name)
    col = F.col(_quote(segs[0]))
    for seg in segs[1:]:
        col = F.get(col, F.lit(int(seg))) if seg.isdigit() else col.getItem(seg)
    return col


def _resolve_src_type(
    schema: ST.StructType | None, name: str, parser: str
) -> ST.DataType | None:
    """Walk the parsed-message schema along the source path to find the
    leaf type (drives the static DateTime/numeric dispatch in _cast_expr)."""
    if schema is None:
        return None
    if parser != "gjson":
        for f in schema.fields:
            if f.name == name:
                return f.dataType
        return None
    t: ST.DataType | None = schema
    for seg in gjson_segments(name):
        if isinstance(t, ST.ArrayType) and seg.isdigit():
            t = t.elementType
            continue
        if isinstance(t, ST.MapType):
            t = t.valueType
            continue
        if isinstance(t, ST.StructType):
            t = next((f.dataType for f in t.fields if f.name == seg), None)
            if t is None:
                return None
            continue
        return None
    return t

# Kafka metadata pseudo-columns (task/task.go:285-298): dest column name →
# Kafka-source column.  Spark's Kafka source exposes exactly the fields the
# reference's InputMessage carries (model/message.go:10-17).  parse_stream
# emits them under the dest names, so they never clash with message keys.
KAFKA_META_COLUMNS = {
    "__kafka_topic": "topic",
    "__kafka_partition": "partition",
    "__kafka_offset": "offset",
    "__kafka_key": "key",
    "__kafka_timestamp": "timestamp",
}


@dataclass
class ColumnSpec:
    """≙ ColumnWithType (model/metric.go:57-62)."""

    name: str
    ch_type: str  # ClickHouse type string, parsed via typemap
    source: str | None = None  # source field name; default = name
    not_nullable: bool = False
    constant: object = None  # constant-field injection (P5) when set
    time_unit: float = 1.0  # epoch scaling for DateTime targets

    @property
    def parsed(self) -> CHType:
        return parse_ch_type(self.ch_type)


def _cast_expr(
    src: Column,
    t: CHType,
    not_nullable: bool,
    time_unit: float,
    src_type: ST.DataType | None = None,
    stages: DateTimeStages | None = None,
) -> Column:
    """Build the reference-semantics cast from a source column to a CH type.

    ``src_type`` (when the source DataFrame schema is known) picks the
    DateTime path statically — native timestamp passthrough vs epoch
    scaling vs layout parsing — mirroring how the reference dispatches on
    the parsed JSON value kind (parser/fastjson.go:457-510).  ``stages``
    collects the helper columns of a top-level layout parse (see
    ``parse_datetime_any``); element casts inside lambdas pass none.
    """
    nullable = t.nullable and not not_nullable
    name = t.name

    if t.array:
        # per-element coercion with the same clamping (parser/fastjson.go:212-325)
        elem_t = CHType(**{**t.__dict__, "array": False})
        arr = src.try_cast("array<string>")
        # element coercion always default-fills (parser/fastjson.go:212-325);
        # the row-level NOT-NULL reject (P16) applies to the column, not
        # inside the array
        return F.transform(arr, lambda e: _cast_expr(e, elem_t, False, time_unit))

    if name in ("Int8", "Int16", "Int32", "Int64", "UInt8", "UInt16", "UInt32", "UInt64"):
        # The reference parses plain integer literals losslessly but routes
        # fractional / scientific-notation numbers through float64
        # (parser/fastjson.go:129-151 Int64() vs Float64() fallback).
        if src_type is not None and isinstance(src_type, ST.NumericType):
            # Native numeric source: saturating_cast alone is already exact
            # for integral types and truncate-toward-zero / ±inf-clamping
            # for floats — no string inspection in the hot path.  Pass the
            # source Spark type so the clamp takes the decimal-free fast
            # path (bit-identical; see saturating_cast docstring).
            hint = (
                src_type.simpleString()
                if isinstance(src_type, (ST.IntegralType, ST.FloatType, ST.DoubleType))
                else None
            )
            out = saturating_cast(src, name, src_type=hint)
        elif isinstance(src_type, ST.BooleanType):
            out = saturating_cast(src.cast("int"), name, src_type="int")
        else:
            # String (or unknown) source: only a plain integer literal earns
            # the exact decimal path (lossless at 2^63/2^64 where a double
            # would round); everything else (incl. 0.9999999999999999,
            # which decimal(38,9) would round up before truncation could
            # see it) goes through the double.
            #
            # r14 fast path (guide §4, measured: the k column cost 2.09 s
            # of etl_parse_project's 2.28 s noop at sf1): an int literal
            # within long range parses with the cheap long parser and
            # clamps in long arithmetic — bit-identical to the decimal
            # route because decimal(38,9) holds any long-range literal
            # exactly and both clamps are exact (r13's
            # test_fast_paths_match_general).  The decimal parse now runs
            # only for rows whose long parse nulls (beyond ±2^63 — where
            # the decimal path is still needed for exact UInt64/clamp
            # semantics) instead of for EVERY row: CaseWhen evaluates
            # branch conditions in order.  try_cast('long') trims
            # whitespace (a superset of the predicate's one-terminator
            # allowance), so it never nulls on a predicate-accepted
            # literal in range.  Parity across the seam is pinned by
            # tests/test_casts.py::test_string_cast_long_fast_path_matches_decimal_path.
            dec = src.try_cast("decimal(38,9)")
            is_int_literal = int_literal_predicate(src.cast("string"))
            lng = src.try_cast("long")
            out = (
                F.when(
                    lng.isNotNull() & is_int_literal,
                    saturating_cast(lng, name, src_type="bigint"),
                )
                .when(dec.isNotNull() & is_int_literal, saturating_cast(dec, name))
                .otherwise(
                    saturating_cast(src.try_cast("double"), name, src_type="double")
                )
            )
    elif name == "Float32":
        out = saturating_cast_float32(src.try_cast("double"))
    elif name == "Float64":
        out = src.try_cast("double")
    elif name == "Bool":
        # accept true/false and 0/1 (parser/fastjson.go:134-138,730-737)
        out = F.coalesce(src.try_cast("boolean"), (src.try_cast("double") != 0.0))
    elif name == "Decimal":
        out = src.try_cast(f"decimal({t.decimal_precision},{t.decimal_scale})")
    elif name == "DateTime":
        unit = time_unit if t.datetime_precision == 0 else 10.0 ** (-t.datetime_precision)
        if isinstance(src_type, (ST.TimestampType, ST.TimestampNTZType, ST.DateType)):
            out = src.cast("timestamp")  # native timestamp passthrough
        elif isinstance(src_type, ST.NumericType):
            out = epoch_to_timestamp(src, unit)  # epoch scaled (P10)
        elif isinstance(src_type, ST.StringType):
            out = parse_datetime_any(src, stages)  # layout detection (P9)
        else:
            num = src.try_cast("double")
            out = F.coalesce(
                F.when(num.isNotNull(), epoch_to_timestamp(num, unit)),
                parse_datetime_any(src.cast("string"), stages),
            )
    elif name == "IPv4":
        out = valid_ip_or_default(src.cast("string"), v6=False)
    elif name == "IPv6":
        out = valid_ip_or_default(src.cast("string"), v6=True)
    elif name == "Map":
        # Maps arrive from from_json with STRING keys (JSON object keys);
        # P14 (parser/fastjson.go:336-406): keys cast to the target key
        # type with reference semantics — a bad key becomes the type
        # default, never null (Spark maps cannot hold null keys) — and
        # values recursively coerced.
        out = src
        if t.map_key is not None and t.map_value is not None:
            key_t = to_spark_type(t.map_key).simpleString()
            if key_t != "string":
                out = F.transform_keys(
                    out, lambda k, v: _cast_expr(k.cast("string"), t.map_key, False, time_unit)
                )
            # values always re-coerced: even when the parsed type matches,
            # a JSON null under a non-nullable value type must default-fill
            out = F.transform_values(
                out, lambda k, v: _cast_expr(v, t.map_value, False, time_unit)
            )
    elif name == "Object":
        out = src.try_cast("map<string,string>")
    else:  # String family
        out = src.cast("string")

    if nullable or name in ("Map",):
        return out
    if not_nullable:
        # NOT-NULL-inferred column (P16): keep the null so apply_projection
        # / validate_rows can REJECT the row (task/task.go:303-314) — the
        # reference drops these rows, it does not default-fill them
        return out
    spark_t = to_spark_type(t).simpleString()
    return F.coalesce(out, default_literal(spark_t))


def build_projection(
    specs: list[ColumnSpec],
    schema: ST.StructType | None = None,
    parser: str = "fastjson",
    stages: DateTimeStages | None = None,
) -> list[Column]:
    """One aliased Column per destination column.  With ``stages``, the
    DateTime layout parses read helper columns that ``stages.bind(df)``
    must add before the select (``apply_projection`` does both)."""
    cols: list[Column] = []
    for s in specs:
        if s.constant is not None:  # P5 constant-field injection
            cols.append(F.lit(s.constant).alias(s.name))
            continue
        if s.name in KAFKA_META_COLUMNS:  # P6: parse_stream emits it by name
            cols.append(F.col(s.name))
            continue
        src_name = s.source or s.name
        src = source_col(src_name, parser)
        src_type = _resolve_src_type(schema, src_name, parser)
        cols.append(
            _cast_expr(src, s.parsed, s.not_nullable, s.time_unit, src_type, stages).alias(
                s.name
            )
        )
    return cols


def apply_projection(
    df: DataFrame,
    specs: list[ColumnSpec],
    null_reject: bool = True,
    parser: str = "fastjson",
) -> DataFrame:
    """select(cast exprs) + null-reject filter on NOT-NULL columns
    (task/task.go:303-314: a null in a non-nullable column drops the row).
    DateTime-from-string columns get their parse's helper columns in narrow
    pre-projections; the select drops them, and the filter stays above it
    (``DateTimeStages.filter``)."""
    out, stages = _project(df, specs, parser)
    keep = [F.col(s.name).isNotNull() for s in specs if s.not_nullable and s.constant is None]
    if null_reject and keep:
        out = stages.filter(out, functools.reduce(operator.and_, keep))
    return out


def _project(df: DataFrame, specs: list[ColumnSpec], parser: str):
    """The projected DataFrame and the DateTimeStages its parses bound."""
    stages = DateTimeStages()
    cols = build_projection(specs, df.schema, parser, stages)
    return stages.bind(df).select(*cols), stages


def validate_rows(df: DataFrame, specs: list[ColumnSpec], parser: str = "fastjson"):
    """Bad-row isolation, Spark-style (W5 ≙ pool/ck_cli.go:126-236).

    The reference writes a batch, collects per-row Append failures in a
    bitmap, and re-sends the batch without them.  Here casts are total
    functions (clamp/default), so a row can only be "bad" by violating a
    NOT-NULL contract after projection — detectable BEFORE the sink.
    Returns ``(good, bad)``: ``bad`` carries a ``__reject_reason`` column
    naming the violated columns.  Both splits come from one projection —
    at scale this is a predicate fork, not a second pass.
    """
    projected, stages = _project(df, specs, parser)
    required = [s.name for s in specs if s.not_nullable]
    if not required:
        return projected, projected.limit(0).withColumn("__reject_reason", F.lit(""))
    reason = F.concat_ws(
        ",",
        *[F.when(F.col(c).isNull(), F.lit(c)) for c in required],
    )
    flagged = projected.withColumn("__reject_reason", reason)
    good = stages.filter(flagged, F.col("__reject_reason") == "").drop("__reject_reason")
    bad = stages.filter(flagged, F.col("__reject_reason") != "")
    return good, bad
