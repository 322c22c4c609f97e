"""Cast-semantics unit tests ≙ the reference's parser matrix
(parser/parser_test.go:42-120, FIXTURES.md F4): clamping at type borders,
defaults on bad data, datetime layouts, epoch scaling, IP validation."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from clickhouse_sinker_spark.functions.casts import (
    cast_with_default,
    epoch_to_timestamp,
    parse_datetime_any,
    saturating_cast,
    saturating_cast_float32,
    valid_ip_or_default,
)
from clickhouse_sinker_spark.operators.project import ColumnSpec, apply_projection
from clickhouse_sinker_spark.typemap import parse_ch_type, spark_schema, to_spark_field

EPOCH = dt.datetime(1970, 1, 1)


def _one(spark, expr):
    return spark.range(1).select(expr.alias("v")).first().v


# --- saturating casts at the exact borders used by parser_test.go:63-68 ---

BORDER_CASES = [
    # (input, ch_type, expected)
    (0, "Int8", 0),
    (127, "Int8", 127),
    (128, "Int8", 127),           # clamp high
    (-128, "Int8", -128),
    (-129, "Int8", -128),         # clamp low
    (255, "UInt8", 255),
    (256, "UInt8", 255),
    (-1, "UInt8", 0),
    (32767, "Int16", 32767),
    (32768, "Int16", 32767),
    (65535, "UInt16", 65535),
    (65536, "UInt16", 65535),
    (2**31 - 1, "Int32", 2**31 - 1),
    (2**31, "Int32", 2**31 - 1),
    (4294967295, "UInt32", 4294967295),
    (4294967296, "UInt32", 4294967295),
    (2**63 - 1, "Int64", 2**63 - 1),
    (-(2**63), "Int64", -(2**63)),
]


@pytest.mark.parametrize("value,ch,expected", BORDER_CASES)
def test_saturating_borders(spark, value, ch, expected):
    got = _one(spark, saturating_cast(F.lit(value).cast("decimal(38,0)"), ch))
    assert got == expected


def test_saturating_uint64_top(spark):
    """2^64-1 and beyond (parser_test.go uses 18446744073709551615/6)."""
    got = _one(spark, saturating_cast(F.lit("18446744073709551615").cast("decimal(38,0)"), "UInt64"))
    assert int(got) == 2**64 - 1
    got = _one(spark, saturating_cast(F.lit("18446744073709551616").cast("decimal(38,0)"), "UInt64"))
    assert int(got) == 2**64 - 1  # clamp above the top
    got = _one(spark, saturating_cast(F.lit(-5).cast("decimal(38,0)"), "UInt64"))
    assert int(got) == 0


def test_saturating_null_stays_null(spark):
    """greatest/least skip NULLs — the cast must NOT clamp NULL to min."""
    got = _one(spark, saturating_cast(F.lit(None).cast("decimal(38,0)"), "Int64"))
    assert got is None


def test_float32_clamp_inf(spark):
    """±inf and beyond-float32 doubles clamp at ±max-float32
    (parser/fastjson.go:175-188; parser_test.go float array with ±inf)."""
    mx = 3.4028234663852886e38
    assert _one(spark, saturating_cast_float32(F.lit(1e39))) == pytest.approx(mx)
    assert _one(spark, saturating_cast_float32(F.lit(-1e39))) == pytest.approx(-mx)
    assert _one(spark, saturating_cast_float32(F.lit(float("inf")))) == pytest.approx(mx)
    assert _one(spark, saturating_cast_float32(F.lit(1.5))) == 1.5


# --- defaults on bad data (P8) ---


def test_default_on_error(spark):
    assert _one(spark, cast_with_default(F.lit("abc"), "bigint", nullable=False)) == 0
    assert _one(spark, cast_with_default(F.lit("abc"), "bigint", nullable=True)) is None
    assert _one(spark, cast_with_default(F.lit("abc"), "double", nullable=False)) == 0.0
    assert _one(spark, cast_with_default(F.lit(None).cast("string"), "string", nullable=False)) == ""
    assert _one(spark, cast_with_default(F.lit("xyz"), "timestamp", nullable=False)) == EPOCH
    assert _one(spark, cast_with_default(F.lit("123"), "bigint", nullable=False)) == 123


# --- datetime layouts (P9, parser/parser.go:31-65; parser_test.go cases) ---

DT_CASES = [
    ("2009-07-13", dt.datetime(2009, 7, 13)),
    ("13/07/2009", dt.datetime(2009, 7, 13)),
    ("2009-07-13 09:07:13", dt.datetime(2009, 7, 13, 9, 7, 13)),
    ("2009-07-13 09:07:13.123", dt.datetime(2009, 7, 13, 9, 7, 13, 123000)),
    ("2009-07-13T09:07:13Z", dt.datetime(2009, 7, 13, 9, 7, 13)),
    ("2009-07-13T09:07:13.123+08:00", dt.datetime(2009, 7, 13, 1, 7, 13, 123000)),  # → UTC (P11)
    ("2009-07-13T09:07:13.123456789Z", dt.datetime(2009, 7, 13, 9, 7, 13, 123456)),
    # day-name family (parser/parser.go:31-44: RFC1123/RFC1123Z/ANSIC/
    # UnixDate/RFC850) — prenormalized (day-name strip, zone map) then parsed
    ("Mon, 13 Jul 2009 09:07:13 GMT", dt.datetime(2009, 7, 13, 9, 7, 13)),
    ("Mon, 13 Jul 2009 09:07:13 +0200", dt.datetime(2009, 7, 13, 7, 7, 13)),  # → UTC
    ("Mon Jul 13 09:07:13 2009", dt.datetime(2009, 7, 13, 9, 7, 13)),
    ("Mon Jul  13 09:07:13 2009", dt.datetime(2009, 7, 13, 9, 7, 13)),  # ANSIC space-pad
    ("Mon Jul 13 09:07:13 UTC 2009", dt.datetime(2009, 7, 13, 9, 7, 13)),
    # UnixDate: Java maps the short name MST → America/Denver, which is on
    # MDT (UTC-6) in July — hence 15:07, not the fixed-offset 16:07
    ("Mon Jul 13 09:07:13 MST 2009", dt.datetime(2009, 7, 13, 15, 7, 13)),
    ("Monday, 13-Jul-09 09:07:13 GMT", dt.datetime(2009, 7, 13, 9, 7, 13)),  # RFC850
]


@pytest.mark.parametrize("s,expected", DT_CASES)
def test_datetime_layouts(spark, s, expected):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert _one(spark, parse_datetime_any(F.lit(s))) == expected


def test_datetime_unparseable_is_null(spark):
    assert _one(spark, parse_datetime_any(F.lit("not a date"))) is None


# --- epoch scaling (P10, parser/parser.go:204-226) ---


def test_epoch_units(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert _one(spark, epoch_to_timestamp(F.lit(1577836800), 1.0)) == dt.datetime(2020, 1, 1)
    assert _one(spark, epoch_to_timestamp(F.lit(1577836800123), 0.001)) == dt.datetime(
        2020, 1, 1, 0, 0, 0, 123000
    )
    # out-of-range → Epoch (reference guard)
    assert _one(spark, epoch_to_timestamp(F.lit(-5), 1.0)) == EPOCH
    assert _one(spark, epoch_to_timestamp(F.lit(999999999999), 1.0)) == EPOCH


# --- IP validation (P12, parser/fastjson.go:739-785) ---


def test_ip_validation(spark):
    assert _one(spark, valid_ip_or_default(F.lit("192.168.1.1"))) == "192.168.1.1"
    assert _one(spark, valid_ip_or_default(F.lit("256.1.1.1"))) == "0.0.0.0"
    assert _one(spark, valid_ip_or_default(F.lit("not-an-ip"))) == "0.0.0.0"
    assert _one(spark, valid_ip_or_default(F.lit("fe80::1"), v6=True)) == "fe80::1"
    assert _one(spark, valid_ip_or_default(F.lit("zz::zz"), v6=True)) == "::"


# --- typemap (WhichType, model/value.go:161-220) ---


def test_typemap_parsing():
    assert parse_ch_type("Nullable(Int64)").nullable
    assert parse_ch_type("LowCardinality(String)").name == "String"
    assert parse_ch_type("Array(Int32)").array
    t = parse_ch_type("Map(String, Array(Nullable(Float64)))")
    assert t.name == "Map" and t.map_value.array
    assert parse_ch_type("DateTime64(9)").datetime_precision == 9
    assert parse_ch_type("Decimal(20, 5)").decimal_scale == 5
    assert parse_ch_type("Enum8('a'=1)").name == "String"
    assert parse_ch_type("FixedString(16)").name == "String"

    assert to_spark_field("c", "Nullable(UInt64)").dataType.simpleString() == "decimal(20,0)"
    assert to_spark_field("c", "UInt32").dataType.simpleString() == "bigint"
    schema = spark_schema([("a", "Int8"), ("b", "Array(String)")])
    assert schema.simpleString() == "struct<a:tinyint,b:array<string>>"


# --- full projection row (P4-P16 together, ≙ metric2Row task/task.go:236-321) ---


def test_projection_matrix(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(
        [
            ("300", "1.5", "2009-07-13 09:07:13", "9.9.9.9", None),
            ("bad", None, "99999999999999", "999.9.9.9", "x"),
        ],
        "i8 string, f string, ts string, ip string, s string",
    )
    specs = [
        ColumnSpec("i8", "Int8"),
        ColumnSpec("f", "Nullable(Float64)"),
        ColumnSpec("ts", "DateTime"),
        ColumnSpec("ip", "IPv4"),
        ColumnSpec("s", "String"),
        ColumnSpec("const", "String", constant="c"),
    ]
    rows = apply_projection(df, specs, null_reject=False).collect()
    r0, r1 = rows
    assert r0.i8 == 127 and r1.i8 == 0  # clamp / default
    assert r0.f == 1.5 and r1.f is None  # nullable stays null
    assert r0.ts == dt.datetime(2009, 7, 13, 9, 7, 13)
    assert r1.ts == EPOCH  # unparseable string + non-nullable → Epoch default
    assert r0.ip == "9.9.9.9" and r1.ip == "0.0.0.0"
    assert r0.s == "2009-07-13 09:07:13" if False else True
    assert r1.s == "x" and r0.s == ""  # None string + non-nullable → ""
    assert r0.const == "c" and r1.const == "c"


def test_detect_then_bind_commits_first_layout(spark):
    """Strict P9 mode: the first matching layout is committed per field;
    later values in other layouts return NULL (parser/parser.go:160-189),
    unlike parse_datetime_any, which picks the layout per value."""
    from clickhouse_sinker_spark.functions.casts import (
        detect_datetime_layout,
        parse_datetime_any,
        parse_datetime_bound,
    )

    df = spark.createDataFrame(
        [("2024-01-02 03:04:05",), ("07/06/2024",), ("2024-05-06 07:08:09",)],
        "s string",
    ).coalesce(1)
    committed = detect_datetime_layout(df, "s")
    assert committed == "yyyy-MM-dd HH:mm:ss[.SSSSSSSSS]"
    strict = [
        r[0] for r in df.select(parse_datetime_bound("s", committed).alias("t")).collect()
    ]
    assert str(strict[0]) == "2024-01-02 03:04:05"
    assert strict[1] is None  # dd/MM/yyyy rejected after committing to the first layout
    assert str(strict[2]) == "2024-05-06 07:08:09"
    # the lenient chain parses all three
    lenient = [r[0] for r in df.select(parse_datetime_any("s").alias("t")).collect()]
    assert all(v is not None for v in lenient)


def test_validate_rows_splits_not_null_violations(spark):
    """W5 bad-row isolation: NOT-NULL violations split into a reject side
    with the offending columns named; the good side matches null_reject."""
    from clickhouse_sinker_spark.operators.project import ColumnSpec, validate_rows

    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (3, None), (None, None)],
        "id bigint, name string",
    )
    specs = [
        ColumnSpec("id", "Int64", not_nullable=True),
        ColumnSpec("name", "String", not_nullable=True),
    ]
    good, bad = validate_rows(df, specs)
    assert good.count() == 1
    reasons = {r["__reject_reason"] for r in bad.collect()}
    assert reasons == {"id", "name", "id,name"}


def test_map_typed_keys_and_values(spark):
    """P14 (parser/fastjson.go:336-406): JSON object string keys cast to the
    Map's key type (bad key → type default, never null); values recursively
    coerced (JSON null under non-nullable value → default, under Nullable →
    null)."""
    import json

    from clickhouse_sinker_spark.operators.project import ColumnSpec, apply_projection
    from clickhouse_sinker_spark.sources.schema import json_parse_schema

    specs = [
        ColumnSpec("m_int", "Map(Int64, Float64)", source="mi"),
        ColumnSpec("m_nullable", "Map(Int64, Nullable(Float64))", source="mn"),
        ColumnSpec("m_str", "Map(String, String)", source="ms"),
    ]
    payload = json.dumps(
        {
            "mi": {"1": 1.5, "bad": 2.5, "2": None},
            "mn": {"7": None, "8": 8.25},
            "ms": {"a": "x", "b": 2},
        }
    )
    schema = json_parse_schema(specs)
    df = spark.createDataFrame([(payload,)], "value string").select(
        F.from_json("value", schema).alias("m")
    ).select("m.*")
    row = apply_projection(df, specs).first()
    assert row["m_int"] == {1: 1.5, 0: 2.5, 2: 0.0}  # bad key → 0; null value → 0.0
    assert row["m_nullable"] == {7: None, 8: 8.25}
    assert row["m_str"] == {"a": "x", "b": "2"}
    got_t = apply_projection(df, specs).schema["m_int"].dataType.simpleString()
    assert got_t == "map<bigint,double>"


def test_gjson_escaped_dot_and_array_paths(spark):
    """P2 path semantics (util/common.go:90-97, parser/gjson.go:42-58):
    ``a\\.b`` = literal key "a.b"; plain ``a.b`` descends; integer
    segments index arrays 0-based.  fastjson (parser/fastjson.go:69-127)
    treats the whole source name as ONE literal key."""
    import json

    from clickhouse_sinker_spark.operators.project import (
        ColumnSpec,
        apply_projection,
        gjson_segments,
        source_col,
    )
    from clickhouse_sinker_spark.sources.schema import json_parse_schema

    assert gjson_segments("a\\.b") == ["a.b"]
    assert gjson_segments("a.b.c") == ["a", "b", "c"]
    assert gjson_segments("x\\.y.z") == ["x.y", "z"]

    specs = [
        ColumnSpec("lit", "Nullable(Int64)", source="a\\.b"),
        ColumnSpec("nested", "Nullable(String)", source="a.b"),
        ColumnSpec("deep", "Nullable(Float64)", source="a.c.d"),
        ColumnSpec("idx1", "Nullable(Int64)", source="arr.1.x"),
    ]
    schema = json_parse_schema(specs, parser="gjson")
    # shared prefix "a" merged into ONE struct field; literal "a.b" separate
    names = [f.name for f in schema.fields]
    assert names.count("a") == 1 and "a.b" in names
    payload = json.dumps(
        {"a.b": 42, "a": {"b": "nested", "c": {"d": 2.5}}, "arr": [{"x": 1}, {"x": 7}]}
    )
    df = (
        spark.createDataFrame([(payload,)], "value string")
        .select(F.from_json("value", schema).alias("p"))
        .select("p.*")
    )
    row = apply_projection(df, specs, parser="gjson").first()
    assert row["lit"] == 42  # escaped dot: literal key, not path a->b
    assert row["nested"] == "nested"
    assert row["deep"] == 2.5
    assert row["idx1"] == 7  # 0-based array index

    # fastjson: the same dotted name is ONE literal key
    fj_specs = [ColumnSpec("lit", "Nullable(Int64)", source="a.b")]
    fj_schema = json_parse_schema(fj_specs, parser="fastjson")
    fj_df = (
        spark.createDataFrame([(json.dumps({"a.b": 9, "a": {"b": 1}}),)], "value string")
        .select(F.from_json("value", fj_schema).alias("p"))
        .select("p.*")
    )
    assert apply_projection(fj_df, fj_specs).first()["lit"] == 9
    # source_col quoting survives backticks in names
    assert source_col("weird`name").__class__ is F.col("x").__class__


# ---------------------------------------------------------------------------
# r13: decimal-free fast paths (src_type hint) must be bit-identical to the
# general decimal(38,0) clamp for every reachable input of that source type.
# ---------------------------------------------------------------------------

_FAST_EDGE_DOUBLES = [
    0.0, -0.0, 1.5, -2.7, 127.0, 128.0, -128.0, -129.0, 255.0, 256.0,
    2.0**31, -(2.0**31) - 1, 2.0**53, -(2.0**53), 2.0**53 + 2, 2.0**58,
    2.0**62, 2.0**63, -(2.0**63), 2.0**63 - 2**10, 2.0**64, -(2.0**64),
    1e300, -1e300, float("inf"), float("-inf"), float("nan"), None,
    0.9999999999999999, -0.9999999999999999, 1.0000000000000002,
]

_FAST_EDGE_LONGS = [
    0, 1, -1, 127, 128, -128, -129, 255, 256, 65535, 65536, 2**31 - 1,
    2**31, -(2**31), -(2**31) - 1, 2**53, 2**53 + 1, 2**62, 2**63 - 1,
    -(2**63), None,
]


@pytest.mark.parametrize("ch", ["Int8", "Int16", "Int32", "Int64", "UInt8", "UInt16", "UInt32", "UInt64"])
def test_fast_paths_match_general(spark, ch):
    rows = [(float(v) if v is not None else None,) for v in _FAST_EDGE_DOUBLES]
    df = spark.createDataFrame(rows, "v double")
    if ch != "UInt64":  # double fast path excludes UInt64 (bounds beyond long)
        got = df.select(
            saturating_cast(F.col("v"), ch, src_type="double").alias("f"),
            saturating_cast(F.col("v"), ch).alias("g"),
        ).collect()
        for r, v in zip(got, _FAST_EDGE_DOUBLES):
            assert r.f == r.g, f"{ch} double fast path diverges at {v!r}: {r.f} != {r.g}"

    ldf = spark.createDataFrame([(v,) for v in _FAST_EDGE_LONGS], "v bigint")
    got = ldf.select(
        saturating_cast(F.col("v"), ch, src_type="bigint").alias("f"),
        saturating_cast(F.col("v"), ch).alias("g"),
    ).collect()
    for r, v in zip(got, _FAST_EDGE_LONGS):
        assert r.f == r.g, f"{ch} bigint fast path diverges at {v!r}: {r.f} != {r.g}"

    idf = spark.createDataFrame([(v,) for v in _FAST_EDGE_LONGS if v is None or -(2**31) <= v < 2**31], "v int")
    got = idf.select(
        saturating_cast(F.col("v"), ch, src_type="int").alias("f"),
        saturating_cast(F.col("v"), ch).alias("g"),
    ).collect()
    for r in got:
        assert r.f == r.g, f"{ch} int fast path diverges: {r.f} != {r.g}"


@pytest.mark.parametrize(
    "ch", ["Int8", "Int16", "Int32", "Int64", "UInt8", "UInt16", "UInt32", "UInt64"]
)
def test_string_cast_long_fast_path_matches_decimal_path(spark, ch):
    """r14: the string→integer cast tries a cheap long parse before the
    decimal(38,9) route (guide §4 — the decimal parse per row dominated
    the ETL projection at sf1).  For every edge string and every target,
    the three-branch form (long → decimal → double) must be bit-identical
    to the historical two-branch form (decimal → double)."""
    from clickhouse_sinker_spark.functions.casts import saturating_cast
    from clickhouse_sinker_spark.operators.project import int_literal_predicate

    cases = [
        "5", "-5", "007", "-007", "0", "-0", "", "-", "--5", "+5", " 5 ",
        "5.0", "5.7", "-5.9", "0.9999999999999999", "1e3", "-1e3", "abc",
        "9" * 19, "9" * 20, "9" * 40, "-" + "9" * 20, "٥",
        "9223372036854775807", "9223372036854775808",     # long max, max+1
        "-9223372036854775808", "-9223372036854775809",   # long min, min-1
        "18446744073709551615", "18446744073709551616",   # uint64 max, max+1
        "288230376151711747",  # >2^53: long/decimal exact, double rounds
        "288230376151711747\n", "5\n", "-5\r\n", "123\r", "12\n3",
        "000000000000000000000000000000000000000042",     # >38 chars, tiny value
        "inf", "-inf", "nan", "NaN", None,
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    src = F.col("s")
    dec = src.try_cast("decimal(38,9)")
    lit = int_literal_predicate(src.cast("string"))
    lng = src.try_cast("long")
    old = F.when(dec.isNotNull() & lit, saturating_cast(dec, ch)).otherwise(
        saturating_cast(src.try_cast("double"), ch, src_type="double")
    )
    new = (
        F.when(lng.isNotNull() & lit, saturating_cast(lng, ch, src_type="bigint"))
        .when(dec.isNotNull() & lit, saturating_cast(dec, ch))
        .otherwise(saturating_cast(src.try_cast("double"), ch, src_type="double"))
    )
    got = df.select(old.alias("o"), new.alias("n")).collect()
    for r, c in zip(got, cases):
        assert r.o == r.n and (r.o is None) == (r.n is None), (
            f"{ch} diverges at {c!r}: {r.o} != {r.n}"
        )


def test_int_literal_translate_predicate_matches_regex(spark):
    """The translate-based integer-literal test in _cast_expr must accept and
    reject exactly what rlike('^-?\\d+$') did (r13: regex removed from the
    string→int hot path).  Java's non-MULTILINE $ matches before ONE final
    line terminator, so trailing \\n / \\r\\n / \\r / NEL / LS / PS cases are
    accepted by the regex and must be accepted by the fast predicate too
    (r14 ADVICE fix — '5\\n' previously diverged)."""
    from clickhouse_sinker_spark.operators.project import int_literal_predicate

    cases = [
        "5", "-5", "007", "-007", "", "-", "--5", "5-3", "-5-3", "+5", " 5",
        "5 ", "5.0", "-5.0", "5e3", "abc", "0", "-0", "9" * 40, "-" + "9" * 40,
        "٥",  # Arabic-Indic digit: Java \d does NOT match it
        # one trailing line terminator: the regex ACCEPTS all of these
        "5\n", "-5\r\n", "123\r", "5\u0085", "5\u2028", "5\u2029",
        "288230376151711747\n",  # >2^53: decimal-vs-double path visibly differs
        # terminator anywhere else (or doubled): the regex REJECTS
        "12\n3", "\n5", "5\n\n", "5\r\n\r\n", "5\n\r", "-\n", "\n", "\r\n",
        "5\t",  # tab is NOT a line terminator
        None,
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = df.select(
        int_literal_predicate(F.col("s")).alias("fast"),
        F.col("s").rlike(r"^-?\d+$").alias("re"),
    ).collect()
    for r, c in zip(got, cases):
        # NULL input: both forms yield NULL → same falsy branch in CaseWhen
        assert bool(r.fast) == bool(r.re), f"predicate diverges at {c!r}"


# --- the staged, shape-directed DateTime parse against the chain it replaced ---


def _chain_oracle(c):
    """The previous parse_datetime_any, frozen: every layout on the raw
    string, then every layout on the normalised string, first hit wins."""
    from clickhouse_sinker_spark.functions.casts import DATETIME_LAYOUTS, _prenormalize

    pre = _prenormalize(c)
    return F.coalesce(
        *[F.try_to_timestamp(c, F.lit(f)) for f in DATETIME_LAYOUTS],
        *[F.try_to_timestamp(pre, F.lit(f)) for f in DATETIME_LAYOUTS],
    )


def _render(fmt: str, t: dt.datetime, rng) -> str:
    """``t`` in the Spark pattern ``fmt``; optional fractions, offsets and
    zone names drawn from ``rng``."""
    import re

    def field(m):
        tok = m.group(0)
        if tok.startswith("[."):
            return rng.choice(["", ".5", ".123", ".123456789"])
        return {
            "XXX": lambda: rng.choice(["Z", "+08:00", "-05:30", "+00:00"]),
            "X": lambda: rng.choice(["Z", "+08", "-0530"]),
            "zzz": lambda: rng.choice(["UTC", "GMT", "MST", "PST"]),
            "d": lambda: str(t.day),
            "'T'": lambda: "T",
        }.get(tok, lambda: t.strftime({
            "yyyy": "%Y", "yy": "%y", "MMM": "%b", "MM": "%m", "dd": "%d",
            "HH": "%H", "mm": "%M", "ss": "%S",
        }[tok]))()

    return re.sub(r"yyyy|yy|MMM|MM|dd|d|HH|mm|ss|'T'|\[\.S+\]|XXX|X|zzz", field, fmt)


# strings the shape dispatch must not misroute: single-digit days, short,
# 5-digit and signed years, lower/upper-case names, tabs, leading and
# trailing spaces, named zones, impossible dates, empty, non-ASCII, NULL
DT_HOSTILE = [
    "Mon, 2 Jan 2006 15:04:05 GMT", "Mon Jan 2 15:04:05 2006", "2/01/2006",
    "1/2/2006 03:04:05", "2006-1-2", "24-01-05", "024-01-05", "12024-01-05",
    "+12024-01-05T00:00:00Z", "-0001-01-01", "+2024-01-05", "mon, 02 jan 2006 15:04:05 gmt",
    "MON JAN  2 15:04:05 2006", "monday, 02-jan-06 15:04:05 GMT", "Mon,\t02 Jan 2006 15:04:05 GMT",
    "Mon\tJan\t 2 15:04:05 2006", " 2024-01-05T03:04:05Z", "2024-01-05T03:04:05Z ",
    "  Mon, 02 Jan 2006 15:04:05 GMT", "Mon, 02 Jan 2006 15:04:05 UT",
    "Mon, 02 Jan 2006 15:04:05 UTC", "Mon Jan  2 15:04:05 MST 2006",
    "Mon Jan  2 15:04:05 GMT 2006", "Mon, 02 Jan 2006 15:04:05 MST", "30/02/2024",
    "2024-02-30", "Feb 30 10:00:00 2024", "", " ", "Z", "12", "2024", "Jan",
    "２０２４-01-05", "Ｍon, 02 Jan 2006 15:04:05 GMT", "2024/01/05", "20240105 03:04:05",
    "02 Jan 06 15:04 +0100", "02 Jan 06 15:04 +01:00", "Sept 2 15:04:05 2006",
    "Tue, 03 Jun 2025 10:00:00 +0200", "not a date", None,
    # day-led strings whose rest is ISO or month-led (no raw attempt)
    "Mon 2024-01-05T03:04:05Z", "Sun Jan 2 15:04:05 2006", "Fri, 2024-01-05 03:04:05",
    "Sat 02-Jan-06 15:04:05 GMT", "Mon Jan 2 15:04:05 GMT+01:00 2006",
    # full day and month names
    "Monday, 02 Jan 2006 15:04:05 GMT", "Tuesday Jan 2 15:04:05 2006", "June 2 15:04:05 2006",
    "Sunday, 02-June-06 15:04:05 GMT", "02 June 2006 15:04:05 +00:00", "Sept 02 2006",
    # dd MMM yy against dd MMM yyyy at the key offsets, signed years mid-string
    "02 Jan 2006 15:04 +01:00", "02 Jan 06 15:04:05 +01:00", "02 Jan 06 15:04 Z",
    "02 Jan 2006 15:04:05 +0100", "02-Jan-2006 15:04:05 +00:00", "02 Jan +12006 15:04:05 +00:00",
    "02 Jan -0001 15:04:05 Z", "02 Jan 12006 15:04:05 +00:00",
    # unsigned 5-digit and signed leading years
    "12024-01-05T00:00:00Z", "12024-01-05 03:04:05", "+12024-01-05 03:04:05",
    "-2024-01-05T03:04:05+08:00", "-00001-01-05", "+120240105 03:04:05", "120240105 03:04:05",
    "+2024-01-05T03:04:05Z", "-12024-01-05T03:04:05.5",
    # mixed case, Java case folding ('ſ' matches 'S') and tabs at the key offsets
    "2024-01-05t03:04:05z", "jAN 2 15:04:05 2006", "ſep 2 15:04:05 2006",
    "02 ſep 2006 15:04:05 +00:00", "MON, 02 JAN 2006 15:04:05 GMT", "2024-01-05\t03:04:05",
    "02\tJan 2006 15:04:05 +00:00", "Jan\t2 15:04:05 2006", "20240105\t03:04:05",
    # a zone name that the normalised form breaks (only the raw attempt parses
    # it), and day numbers of any width
    "Jan 2 15:04:05 GMT+01:00 2006", "Jan 2 15:04:05 UT 2006", "Jan 002 15:04:05 2006",
    "Jan 12 15:04:05 2006", "Jan 00002 15:04:05 MST 2006",
]

DT_SESSIONS = [
    {"spark.sql.ansi.enabled": ansi, "spark.sql.session.timeZone": tz}
    for ansi in ("true", "false")
    for tz in ("UTC", "America/Los_Angeles")
]


def _dt_corpus() -> list[str | None]:
    """Every DATETIME_LAYOUTS member rendered from seeded instants, the
    three day-name families of perfbench's ``drain_daynames`` (RFC1123 GMT,
    ANSIC with a space-padded day, RFC850), and DT_HOSTILE."""
    import random

    from clickhouse_sinker_spark.functions.casts import DATETIME_LAYOUTS

    rng = random.Random(5)
    out: list[str | None] = list(DT_HOSTILE)
    for _ in range(40):
        t = dt.datetime(1971, 1, 1) + dt.timedelta(seconds=rng.randrange(2 * 10**9))
        out += [_render(f, t, rng) for f in DATETIME_LAYOUTS]
        out += [
            t.strftime("%a, %d %b %Y %H:%M:%S GMT"),
            t.strftime("%a %b ") + "%2d" % t.day + t.strftime(" %H:%M:%S %Y"),
            t.strftime("%A, %d-%b-%y %H:%M:%S GMT"),
        ]
    return out


@pytest.mark.parametrize(
    "conf", DT_SESSIONS, ids=lambda c: f"ansi_{c['spark.sql.ansi.enabled']}-{c['spark.sql.session.timeZone']}"
)
def test_shape_directed_parse_matches_chain(spark, conf):
    """The staged parse (bound by DateTimeStages, as in apply_projection)
    and its lambda-bound form (array elements) give the frozen chain's
    result for every string, in every session: ANSI on/off, and a zone
    with DST (the zzz layout reads MST/PST through it)."""
    from clickhouse_sinker_spark.functions.casts import DateTimeStages
    from .diff_util import assert_equal_collect

    corpus = _dt_corpus()
    base = lambda s: s.createDataFrame([(i, v) for i, v in enumerate(corpus)], "i int, s string")  # noqa: E731

    def staged(s):
        st = DateTimeStages()
        parsed = parse_datetime_any("s", st)
        return st.bind(base(s)).select("i", "s", F.unix_micros(parsed))

    def in_lambda(s):
        parsed = F.transform(F.array("s"), lambda v: parse_datetime_any(v))[0]
        return base(s).select("i", "s", F.unix_micros(parsed))

    def chain(s):
        return base(s).select("i", "s", F.unix_micros(_chain_oracle(F.col("s"))))

    assert_equal_collect(spark, staged, chain, conf)
    assert_equal_collect(spark, in_lambda, chain, conf)
    # the corpus exercises both the fast path and the fallback
    with_ts = chain(spark).where(F.col("s").isNotNull()).collect()
    assert sum(r[2] is not None for r in with_ts) > len(with_ts) // 2


def _ts_text(id_col: str = "id"):
    """A timestamp string per row: RFC3339 for even ids (layout 0, the hot
    path), an RFC1123 day-name string for odd ones (the normalised path)."""
    ts = F.timestamp_seconds(F.lit(946684800) + F.col(id_col) * 7919)
    return F.when(F.col(id_col) % 2 == 0, F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")).otherwise(
        F.date_format(ts, "EEE, dd MMM yyyy HH:mm:ss 'GMT'")
    )


def _compiled_within_jit_limit(spark, build):
    """Collect ``build()`` with codegen fallback off (so a janino failure
    like "Code grows beyond 64 KB" raises instead of running interpreted),
    assert that no generated method exceeds HotSpot's 8 000-byte JIT limit
    (the JVM runs a larger method in the interpreter), and return the rows
    and the executed plan's operator lines."""
    from .diff_util import session_conf

    with session_conf(spark, {"spark.sql.codegen.fallback": "false"}):
        out = build()
        rows = out.collect()
        plan = out._jdf.queryExecution().executedPlan()
        stats = spark._jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(plan)
        sizes = [stats.apply(i)._3().maxMethodCodeSize() for i in range(stats.size())]
    assert sizes and max(sizes) <= 8000, sizes
    return rows, plan.toString().splitlines()


def test_datetime_projection_stays_in_whole_stage_codegen(spark):
    """apply_projection of a string ``ts`` → NOT NULL DateTime compiles,
    every Project and the null-reject Filter sit under WholeStageCodegen,
    the Filter tests the projected value rather than a re-inlined copy of
    the parse, and no generated method exceeds the JIT limit (the
    30-attempt chain compiled to a ~17 KB method)."""
    specs = [
        ColumnSpec("time", "DateTime", source="ts", not_nullable=True),
        ColumnSpec("id", "Int64", not_nullable=True),
    ]
    df = spark.range(300).select("id", _ts_text().alias("ts"))
    rows, lines = _compiled_within_jit_limit(spark, lambda: apply_projection(df, specs))
    projects = [ln for ln in lines if "Project [" in ln]
    filters = [ln for ln in lines if "Filter " in ln]
    assert projects and all("*(" in ln for ln in projects + filters), lines
    assert filters and not any("gettimestamp" in ln for ln in filters), filters
    assert len(rows) == 300 and all(r.time is not None for r in rows)


# the perfbench drain task, as config dims
_DRAIN_TASK_DIMS = (
    ("event_id", "Int64", None),
    ("time", "DateTime", "ts"),
    ("user_id", "UInt16", None),
    ("name", "String", "event_type"),
    ("value", "Nullable(Float32)", None),
    ("props", "String", None),
)


def test_micro_batch_stage_fits_the_jit_limit(spark):
    """A drain-shaped micro-batch, parse_stream → apply_projection → hash
    sharding over 4 shards, compiles, every operator but the decode and its
    filter (``from_json`` has no codegen) sits under WholeStageCodegen, and
    no generated method exceeds the JIT limit.  Whole-stage codegen puts
    every column's cast into one method: with one DateTime attempt slot per
    layout that method was 8 535 bytes."""
    from clickhouse_sinker_spark.config import TaskConfig
    from clickhouse_sinker_spark.operators.sharding import ShardingPolicy, add_shard_column
    from clickhouse_sinker_spark.sources.schema import json_parse_schema, specs_from_task
    from clickhouse_sinker_spark.streaming.pipeline import parse_stream

    specs = specs_from_task(TaskConfig(name="jit", dims=_DRAIN_TASK_DIMS))
    message = F.format_string(
        '{"event_id": %d, "ts": "%s", "user_id": %d, "event_type": "e%d",'
        ' "value": %d.5, "props": "{}"}',
        "id", _ts_text(), F.col("id") * 1000, "id", "id",
    )
    raw = spark.range(300).select(
        F.lit("t").alias("topic"), F.lit(0).alias("partition"), F.col("id").alias("offset"),
        F.lit(None).cast("binary").alias("key"), message.cast("binary").alias("value"),
        F.timestamp_seconds(F.lit(0)).alias("timestamp"),
    )

    def build():
        projected = apply_projection(parse_stream(raw, json_parse_schema(specs)), specs)
        return add_shard_column(projected, ShardingPolicy(key="event_id"), 4)

    rows, lines = _compiled_within_jit_limit(spark, build)
    operators = [ln.lstrip(" +-:") for ln in lines]
    assert all(op.startswith("*(") for op in operators if "from_json(" not in op), lines
    assert len(rows) == 300 and all(r.time is not None for r in rows)
