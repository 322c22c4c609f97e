"""Schema discovery (≙ S8/S9: output/clickhouse_util.go:17-67,
output/clickhouse.go:41-58,472-488 AutoSchema).

The reference fetches the destination table's columns from
``system.columns`` and infers NOT-NULL-ness from DEFAULT-expression
self-references; it then builds the projection from that schema.  Here:

- ``system_columns_sql`` reproduces the exact discovery SQL (so a JDBC
  read against ClickHouse returns the same rows the reference consumes).
- ``specs_from_columns`` turns (name, type, default_kind) rows into
  ColumnSpecs, applying the exclude/materialized rules (D7).
- ``specs_from_parquet`` is the lakehouse-native AutoSchema: read the
  destination parquet's StructType directly.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.project import ColumnSpec
from ..typemap import parse_ch_type

__all__ = [
    "system_columns_sql",
    "specs_from_columns",
    "specs_from_parquet",
]


def system_columns_sql(database: str, table: str) -> str:
    """Discovery query ≙ the reference's template (output/clickhouse.go:41-58):
    name, type, default_kind per column, ordered by position."""
    return (
        "SELECT name, type, default_kind "
        "FROM system.columns "
        f"WHERE database = '{database}' AND table = '{table}' "
        "ORDER BY position"
    )


def specs_from_columns(
    rows: list[tuple[str, str, str]],
    exclude: tuple[str, ...] = (),
    source_names: dict[str, str] | None = None,
) -> list[ColumnSpec]:
    """(name, ch_type, default_kind) rows → ColumnSpecs.

    Skips excluded and MATERIALIZED/ALIAS columns (D7,
    output/clickhouse_util.go:49, config/config.go:163); non-Nullable
    types become not_nullable specs (null-reject P16)."""
    specs: list[ColumnSpec] = []
    src = source_names or {}
    for name, ch_type, default_kind in rows:
        if name in exclude or default_kind in ("MATERIALIZED", "ALIAS"):
            continue
        t = parse_ch_type(ch_type)
        specs.append(
            ColumnSpec(
                name,
                ch_type,
                source=src.get(name, name),
                not_nullable=not t.nullable,
            )
        )
    return specs


_SPARK_TO_CH = {
    "tinyint": "Int8",
    "smallint": "Int16",
    "int": "Int32",
    "bigint": "Int64",
    "float": "Float32",
    "double": "Float64",
    "string": "String",
    "boolean": "Bool",
    "timestamp": "DateTime",
    "timestamp_ntz": "DateTime",
    "date": "Date",
    "binary": "String",
}


def specs_from_parquet(spark: SparkSession, path: str) -> list[ColumnSpec]:
    """AutoSchema from an existing parquet destination: StructType →
    ColumnSpecs (the lakehouse analogue of reading system.columns)."""
    schema = spark.read.parquet(path).schema
    specs = []
    for f in schema.fields:
        simple = f.dataType.simpleString()
        ch = _SPARK_TO_CH.get(simple)
        if ch is None:
            if simple.startswith("decimal"):
                p, s = simple[8:-1].split(",")
                ch = f"Decimal({p},{s})"
            elif simple.startswith("array<") or simple.startswith("map<"):
                # recursive types: keep as string passthrough spec
                ch = "String"
            else:
                ch = "String"
        if f.nullable:
            ch = f"Nullable({ch})"
        specs.append(ColumnSpec(f.name, ch, not_nullable=not f.nullable))
    return specs


def specs_from_task(task) -> list[ColumnSpec]:
    """TaskConfig.dims → ColumnSpecs (the fixed-schema path, config
    Dims — config/config.go:164-168).  Each dim is (name, ch_type,
    source_name|None)."""
    return [
        ColumnSpec(name, ch_type, source=src or name, not_nullable=not parse_ch_type(ch_type).nullable)
        for (name, ch_type, src) in task.dims
        if name not in task.exclude_columns
    ]


def _merge_types(a, b):
    """Structurally merge two inferred parse types (shared gjson path
    prefixes); scalar conflicts resolve first-wins."""
    from pyspark.sql import types as T

    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        out = {f.name: f.dataType for f in a.fields}
        for f in b.fields:
            out[f.name] = _merge_types(out[f.name], f.dataType) if f.name in out else f.dataType
        return T.StructType([T.StructField(k, v, True) for k, v in out.items()])
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_merge_types(a.elementType, b.elementType))
    return a


def json_parse_schema(specs: list[ColumnSpec], parser: str = "fastjson"):
    """The permissive source-message schema to hand from_json for a given
    projection: datetimes arrive as strings (25-layout auto-detection
    happens in the cast layer, P9), numerics as doubles (clamping cast
    narrows them, P7), everything else at its natural type.  Source-name
    keyed — one struct field per distinct source field.

    With ``parser="gjson"``, a source name is a gjson PATH (P2): plain
    dots build nested struct fields, integer segments build arrays, and
    ``\\.`` keeps a literal dot inside one key (util/common.go:90-97).
    fastjson source names are single literal keys, dots included."""
    from pyspark.sql import types as T

    from ..operators.project import KAFKA_META_COLUMNS, gjson_segments
    from ..typemap import to_spark_type

    fields: dict[str, T.DataType] = {}
    for s in specs:
        if s.name in KAFKA_META_COLUMNS:  # Kafka metadata, not a message key
            continue
        t = s.parsed
        if t.name in ("DateTime", "DateTime64", "Date"):
            dt: T.DataType = T.StringType()
        elif t.name in ("IPv4", "IPv6", "String", "FixedString", "UUID", "Enum8", "Enum16"):
            dt = T.StringType()
        elif t.name == "Bool":
            dt = T.BooleanType()
        elif t.map_key is not None:
            # from_json only accepts STRING map keys (JSON object keys are
            # strings); typed keys (P14, parser/fastjson.go:336-406) are
            # produced by the projection's transform_keys cast.
            dt = T.MapType(T.StringType(), to_spark_type(t.map_value))
        elif t.array or t.name == "Object":  # Object('json') is a loose map<string,string>
            dt = to_spark_type(t)
        else:
            dt = T.DoubleType()
        if t.array and t.name not in ("Map",):
            dt = T.ArrayType(dt) if not isinstance(dt, T.ArrayType) else dt
        src = s.source or s.name
        if parser == "gjson":
            segs = gjson_segments(src)
            # fold the path right-to-left into nested structs/arrays
            for seg in reversed(segs[1:]):
                dt = T.ArrayType(dt) if seg.isdigit() else T.StructType(
                    [T.StructField(seg, dt, True)]
                )
            head = segs[0]
            fields[head] = _merge_types(fields[head], dt) if head in fields else dt
        else:
            fields.setdefault(src, dt)
    return T.StructType([T.StructField(k, v, True) for k, v in fields.items()])
