"""End-to-end streaming tests (FIXTURES.md F1/F2/F3 translated to file
streams): source → parse → project → shard → foreachBatch sink, schema
evolution mid-stream, stateful series dedup."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_sinker_spark.config import TaskConfig
from clickhouse_sinker_spark.operators.evolve import evolve_specs
from clickhouse_sinker_spark.operators.project import ColumnSpec, apply_projection
from clickhouse_sinker_spark.streaming.pipeline import build_pipeline, file_source
from clickhouse_sinker_spark.streaming.sink import ParquetSink
from clickhouse_sinker_spark.streaming.state import (
    dedup_offsets_stream,
    series_dedup_batch_join,
    series_dedup_stream,
)


@pytest.fixture()
def workdir(tmp_path):
    (tmp_path / "in").mkdir()
    (tmp_path / "out").mkdir()
    (tmp_path / "ckpt").mkdir()
    return tmp_path


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


F1_SCHEMA = T.StructType(
    [
        T.StructField("time", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("price", T.DoubleType()),
    ]
)

F1_SPECS = [
    ColumnSpec("time", "DateTime", source="time"),
    ColumnSpec("name", "String", source="name", not_nullable=True),
    ColumnSpec("value", "Nullable(Float32)", source="value"),
    ColumnSpec("price", "Decimal(9,3)", source="price"),
]


def test_f1_fixed_schema_end_to_end(spark, workdir):
    """F1 (go.test.sh:5-15): typed sink, golden row count + values."""
    n = 500
    _write_jsonl(
        workdir / "in" / "a.jsonl",
        [
            {"time": "2024-01-01T00:00:00Z", "name": f"name{i}", "value": i, "price": i / 1000}
            for i in range(1, n + 1)
        ],
    )
    raw = file_source(spark, str(workdir / "in"))
    task = TaskConfig(name="f1", sharding_key="name", flush_interval=1)
    pipe = build_pipeline(raw, task, F1_SPECS, F1_SCHEMA, shards=4)
    sink = ParquetSink(str(workdir / "out" / "t"), shards=4)
    pipe.run_available(sink, str(workdir / "ckpt" / "f1"))

    out = spark.read.parquet(str(workdir / "out" / "t"))
    assert out.count() == n  # golden count (go.test.sh:57-59)
    row = out.filter(F.col("name") == "name42").first()
    assert float(row.value) == 42.0
    assert float(row.price) == pytest.approx(0.042)
    assert str(row.time) == "2024-01-01 00:00:00"
    # shard routing is deterministic on the key
    assert out.select("__shard").distinct().count() <= 4


def test_f1_restart_resumes_from_checkpoint(spark, workdir):
    """S7 commit barrier: a second run with the same checkpoint must not
    re-deliver already-committed files (engine-managed offsets)."""
    _write_jsonl(workdir / "in" / "a.jsonl", [{"time": "2024-01-01T00:00:00Z", "name": "x", "value": 1, "price": 1.0}])
    raw = file_source(spark, str(workdir / "in"))
    task = TaskConfig(name="f1r", flush_interval=1)
    pipe = build_pipeline(raw, task, F1_SPECS, F1_SCHEMA)
    sink = ParquetSink(str(workdir / "out" / "t"))
    pipe.run_available(sink, str(workdir / "ckpt" / "f1r"))
    # new data arrives; restart with same checkpoint
    _write_jsonl(workdir / "in" / "b.jsonl", [{"time": "2024-01-01T00:00:01Z", "name": "y", "value": 2, "price": 2.0}])
    raw2 = file_source(spark, str(workdir / "in"))
    pipe2 = build_pipeline(raw2, task, F1_SPECS, F1_SCHEMA)
    pipe2.run_available(sink, str(workdir / "ckpt" / "f1r"))
    out = spark.read.parquet(str(workdir / "out" / "t"))
    assert out.count() == 2  # no duplicates from the first file
    assert {r.name for r in out.collect()} == {"x", "y"}


def test_parse_error_filter_and_constant_fields(spark, workdir):
    """P17: unparseable messages dropped; P5: constants override keys."""
    with open(workdir / "in" / "a.jsonl", "w") as f:
        f.write(json.dumps({"time": "2024-01-01T00:00:00Z", "name": "ok", "value": 1, "price": 1.0}) + "\n")
        f.write("this is not json\n")
        f.write(json.dumps({"time": "2024-01-01T00:00:00Z", "name": "will_be_overridden", "value": 2, "price": 2.0}) + "\n")
    raw = file_source(spark, str(workdir / "in"))
    task = TaskConfig(name="perr", fields={"name": "const"})
    pipe = build_pipeline(raw, task, F1_SPECS, F1_SCHEMA)
    sink = ParquetSink(str(workdir / "out" / "t"))
    pipe.run_available(sink, str(workdir / "ckpt" / "perr"))
    out = spark.read.parquet(str(workdir / "out" / "t"))
    rows = out.collect()
    assert len(rows) == 2  # bad line dropped
    assert {r.name for r in rows} == {"const"}  # P5: fields win over message


def test_run_available_drains_backlog_in_one_epoch(spark, workdir):
    """W1 in file mode: with no ``max_files`` cap, ``run_available`` admits
    every staged file at its one trigger, so a 3-file backlog lands as one
    epoch (a one-file cap would make it three)."""
    for k in range(3):
        _write_jsonl(
            workdir / "in" / f"f{k}.jsonl",
            [{"time": "2024-01-01T00:00:00Z", "name": f"f{k}-{i}", "value": i, "price": 1.0}
             for i in range(20)],
        )
    epochs = []
    pipe = build_pipeline(file_source(spark, str(workdir / "in")), TaskConfig(name="one_epoch"),
                          F1_SPECS, F1_SCHEMA)
    pipe.run_available(lambda batch, epoch_id: epochs.append((epoch_id, batch.count())),
                       str(workdir / "ckpt" / "one_epoch"))
    assert [n for _, n in epochs if n] == [60]


_DAYNAME_TS = ("Mon, 01 Jan 2024 10:00:00 GMT", "Tue Jan  2 11:30:00 2024",
               "Wednesday, 03-Jan-24 12:00:00 GMT")


def test_drain_one_epoch_equals_file_per_epoch(spark, workdir):
    """Differential: the drain backlog (events dims, RFC3339 and day-name
    ``ts``, malformed lines) lands the same rows, ``__shard`` included,
    whether ``file_source`` admits one file per trigger or every file."""
    from clickhouse_sinker_spark.config import normalize_tasks
    from clickhouse_sinker_spark.sources.schema import json_parse_schema, specs_from_task

    from .diff_util import assert_equal_collect

    for k in range(4):
        lines = []
        for i in range(k * 50, (k + 1) * 50):
            ts = (f"2024-01-{1 + i % 28:02d}T{i % 24:02d}:00:00Z" if i % 2
                  else _DAYNAME_TS[i % 3])
            lines.append(json.dumps({"event_id": i, "ts": ts, "user_id": i * 700 - 2000,
                                     "event_type": f"t{i % 5}", "value": i / 4,
                                     "props": f'{{"k": {i}}}'}))
            if i % 7 == 0:
                lines.append('{"event_id": %d, "ts": "2024' % i)  # truncated
            if i % 11 == 0:
                lines.append(f"garbage {i}")
        (workdir / "in" / f"part-{k}.json").write_text("\n".join(lines) + "\n")
    task = normalize_tasks([TaskConfig(
        name="drain", table_name="events", sharding_key="event_id",
        dims=(("event_id", "Int64", None), ("time", "DateTime", "ts"),
              ("user_id", "UInt16", None), ("name", "String", "event_type"),
              ("value", "Nullable(Float32)", None), ("props", "String", None)),
    )])[0]
    specs = specs_from_task(task)
    schema = json_parse_schema(specs, parser=task.parser)

    def drain(label, max_files):
        epochs, out = [], str(workdir / "out" / label)
        sink = ParquetSink(out, shards=2)

        def counting_sink(batch, epoch_id):
            epochs.append(epoch_id)
            sink(batch, epoch_id)

        raw = file_source(spark, str(workdir / "in"), max_files=max_files)
        build_pipeline(raw, task, specs, schema, shards=2).run_available(
            counting_sink, str(workdir / "ckpt" / label))
        return out, len(epochs)

    per_file, n_per_file = drain("per_file", 1)
    whole, n_whole = drain("whole", None)
    assert n_per_file >= 4 and n_whole == 1
    landed = spark.read.parquet(whole)
    assert landed.count() == 200
    assert landed.filter(F.year("time") != 2024).count() == 0  # every ts layout parsed
    assert_equal_collect(spark, lambda s: s.read.parquet(per_file),
                         lambda s: s.read.parquet(whole))


# The drain task's dims (perfbench's DRAIN_DIMS), and a gjson task whose
# parse schema nests an array, a map, an Object('json') and a path.
_DRAIN_DIMS = (("event_id", "Int64", None), ("time", "DateTime", "ts"),
               ("user_id", "UInt16", None), ("name", "String", "event_type"),
               ("value", "Nullable(Float32)", None), ("props", "String", None))
_NESTED_DIMS = (("tags", "Array(String)", None), ("attrs", "Map(String, Int64)", None),
                ("doc", "Object('json')", None), ("city", "String", "user.address.city"),
                ("event_id", "Int64", None))

# Every shape a message can take that parse_stream must land or drop exactly
# as the map probe does.  Keys unknown to one schema are known to the other.
_HOSTILE = [
    '{"event_id": 1, "ts": "2024-01-01T00:00:00Z", "user_id": 7, "event_type": "click", '
    '"value": 1.5, "props": "{\\"k\\": 1}"}',
    '{"tags": ["a", "b"], "attrs": {"k": 1}, "doc": {"a": "b"}, '
    '"user": {"address": {"city": "Oslo"}}, "event_id": 2}',
    "{}",
    "[]", '[{"event_id": 1}]', '[{"event_id": 1}, {"event_id": 2}]',
    "1", '"s"', "true", "null",
    "", " ", "\t", "\n", "\r\n", "\x0b", "\x0c", "\xa0", "\u3000", "\u2028", "\x00", "\ufeff",
    '{"event_id": 3, "ts": "2024', "garbage", "{", "}",
    '{"event_id": "abc"}', '{"value": {"a": 1}}', '{"value": [1]}',
    '{"tags": "x"}', '{"attrs": {"k": "v"}}', '{"user": {"address": "Oslo"}}',
    '{"event_id": 4, "event_id": 5}', '{"event_id": 6} trailing', '{"event_id": 7}{"event_id": 8}',
    "{'event_id': 9}", "{event_id: 10}", '{"event_id": 11 /* c */}', '{"event_id": 12,}',
    '{"event_id": 013}', '{"event_type": "\\q"}', '{"x": "\\q"}', '{"x": 014}',
    '{"event_id": NaN}', '{"x": NaN}', '{"event_id": "abc", "x": NaN}',
    '{"event_type": "a\x01b"}', '{"x": "a\x01b"}', '{"x": {"y": ["a\x1fb"]}}',
    '{"user": {"address": {"zip": "\x02"}}}', '{"event_id": 15, "x": "\tb"}',
    '{"__corrupt_record": "z", "event_id": 16}',
    None,
]


def _hostile_raw(spark):
    """The corpus as a source frame: one message per offset, fixed metadata."""
    rows = [(i, None if m is None else bytearray(m.encode("utf-8"))) for i, m in enumerate(_HOSTILE)]
    return spark.createDataFrame(rows, "offset bigint, value binary").select(
        F.lit("t").alias("topic"), F.lit(0).alias("partition"), "offset",
        F.lit(None).cast("binary").alias("key"), "value",
        F.timestamp_seconds(F.lit(0)).alias("timestamp"))


def _probe_rule(raw, schema):
    """The oracle: the map-probe rule applied directly, to every message (a
    struct decode, kept iff the map probe is not null and the message is
    not blank)."""
    from clickhouse_sinker_spark.operators.project import KAFKA_META_COLUMNS

    s = F.col("value").cast("string")
    kept = raw.withColumn("__parsed", F.from_json(s, schema)).filter(
        F.from_json(s, "map<string,string>").isNotNull() & (F.trim(s) != ""))
    return kept.select(*[F.col(src).alias(meta) for meta, src in KAFKA_META_COLUMNS.items()],
                       "__parsed.*")


def _as_json(df):
    """One JSON string per row, so map values compare as multiset keys."""
    return df.select(F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns])))


@pytest.mark.parametrize("ansi", ["true", "false"])
@pytest.mark.parametrize("dims,parser", [(_DRAIN_DIMS, "fastjson"), (_NESTED_DIMS, "gjson")],
                         ids=["drain", "nested"])
def test_parse_stream_keeps_the_map_probe_rule(spark, dims, parser, ansi):
    """Differential: parse_stream, which decodes each message once and
    probes only the decodes it flags, lands the same messages with the same
    decoded and projected values as the map-probe rule, over a hostile
    corpus and with ANSI on and off."""
    from clickhouse_sinker_spark.sources.schema import json_parse_schema, specs_from_task
    from clickhouse_sinker_spark.streaming.pipeline import parse_stream

    from .diff_util import assert_equal_collect, session_conf

    specs = specs_from_task(TaskConfig(name="hostile", parser=parser, dims=dims))
    schema = json_parse_schema(specs, parser=parser)
    conf = {"spark.sql.ansi.enabled": ansi}

    def once(s):
        return parse_stream(_hostile_raw(s), schema, parser=parser)

    def probed(s):
        return _probe_rule(_hostile_raw(s), schema)

    assert_equal_collect(spark, lambda s: _as_json(once(s)), lambda s: _as_json(probed(s)), conf)
    assert_equal_collect(
        spark,
        lambda s: _as_json(apply_projection(once(s), specs, parser=parser)),
        lambda s: _as_json(apply_projection(probed(s), specs, parser=parser)),
        conf,
    )
    with session_conf(spark, conf):
        landed = {r[0] for r in once(spark).select("__kafka_offset").collect()}
    # the probe lands the objects the decode flags (a type mismatch, NaN
    # after one); a key named like the marker does not flag its message
    objects = {_HOSTILE.index(m) for m in ('{"event_id": "abc"}', '{"event_id": "abc", "x": NaN}',
                                            '{"__corrupt_record": "z", "event_id": 16}')}
    assert objects <= landed and 0 < len(landed) < len(_HOSTILE)


def test_parse_stream_decodes_each_message_once(spark):
    """The executed plan of parse_stream → apply_projection decodes the
    message once (one struct from_json, one map probe behind it), with the
    drain dims and with a projection without DateTime columns whose NOT NULL
    filter Catalyst pushes into the parse filter; CSV decodes once too and
    keeps its rule."""
    from clickhouse_sinker_spark.sources.schema import json_parse_schema, specs_from_task
    from clickhouse_sinker_spark.streaming.pipeline import parse_stream

    from .diff_util import assert_equal_collect

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    narrow = (("user_id", "UInt16", None), ("name", "String", "event_type"))
    for dims in (_DRAIN_DIMS, narrow):
        specs = specs_from_task(TaskConfig(name="once", dims=dims))
        parsed = parse_stream(_hostile_raw(spark), json_parse_schema(specs))
        p = plan(apply_projection(parsed, specs))
        assert p.count("from_json(StructField") == 1, p
        assert p.count("from_json(MapType") == 1, p

    csv_schema = T.StructType([T.StructField("a", T.IntegerType()),
                               T.StructField("b", T.StringType())])

    def csv_raw(s):
        lines = ["1,x", "2", "", "  ", "abc,y", "3,z,extra", None]
        return s.createDataFrame([(i, v) for i, v in enumerate(lines)], "offset bigint, v string") \
            .select(F.lit("t").alias("topic"), F.lit(0).alias("partition"), "offset",
                    F.lit(None).cast("binary").alias("key"), F.col("v").cast("binary").alias("value"),
                    F.timestamp_seconds(F.lit(0)).alias("timestamp"))

    csv = parse_stream(csv_raw(spark), csv_schema, parser="csv")
    assert plan(csv).count("from_csv(") == 1, plan(csv)

    def csv_rule(s):
        v = F.col("value").cast("string")
        parsed = F.from_csv(v, csv_schema.simpleString(), {"sep": ","})
        return csv_raw(s).withColumn("p", parsed).filter(parsed.isNotNull() & (F.trim(v) != "")) \
            .select(F.col("offset").alias("__kafka_offset"), "p.*")

    assert_equal_collect(spark, lambda s: parse_stream(csv_raw(s), csv_schema, parser="csv")
                         .select("__kafka_offset", "a", "b"), csv_rule)


@pytest.mark.xfail(strict=True, reason="json_parse_schema decodes integer dims as double")
def test_int64_ids_above_2_pow_53_land_exactly(spark):
    """An Int64 dim lands the message's integer literal exactly, as the
    reference's ``Int64()`` parse does (parser/fastjson.go).  Known defect:
    ``json_parse_schema`` decodes every integer dim as a double, so ids
    above 2^53 round (9007199254740993 lands as …992)."""
    from clickhouse_sinker_spark.sources.schema import json_parse_schema, specs_from_task
    from clickhouse_sinker_spark.streaming.pipeline import parse_stream

    ids = [9007199254740993, 1234567890123456789, -9007199254740995]
    raw = spark.createDataFrame([(i, bytearray(f'{{"id": {v}}}'.encode())) for i, v in enumerate(ids)],
                                "offset bigint, value binary").select(
        F.lit("t").alias("topic"), F.lit(0).alias("partition"), "offset",
        F.lit(None).cast("binary").alias("key"), "value", F.timestamp_seconds(F.lit(0)).alias("timestamp"))
    specs = specs_from_task(TaskConfig(name="ids", dims=(("id", "Int64", None),)))
    got = apply_projection(parse_stream(raw, json_parse_schema(specs)), specs).orderBy("id").collect()
    assert [r.id for r in got] == sorted(ids)


def test_f2_dynamic_schema_evolution(spark, workdir):
    """F2 (go.test.sh:20-45): new keys appear mid-stream; schema widens with
    inferred types; object/array keys ignored; old rows read as NULL."""
    phase1 = [{"time": "2024-01-01T00:00:00Z", "name": f"p1-{i}", "value": i, "price": 0.1} for i in range(10)]
    phase2 = [
        {
            "time": "2024-01-01T01:00:00Z",
            "name": f"p2-{i}",
            "value": i,
            "price": 0.2,
            "newkey00": False,
            "newkey01": 7,
            "newkey02": 1.5,
            "newkey03": "s",
            "newkey04": "2024-05-06 07:08:09",
            "newkey05": {"k1": 1},
            "newkey06": [1, 2],
        }
        for i in range(10)
    ]
    _write_jsonl(workdir / "in" / "p1.jsonl", phase1)
    _write_jsonl(workdir / "in" / "p2.jsonl", phase2)

    # batch-side evolution exactly as foreachBatch would do it:
    batch = spark.read.text(str(workdir / "in")).select(F.col("value").alias("raw"))
    specs, added = evolve_specs(F1_SPECS, batch, "raw")
    assert added == {
        "newkey00": "Nullable(Bool)",
        "newkey01": "Nullable(Int64)",
        "newkey02": "Nullable(Float64)",
        "newkey03": "Nullable(String)",
        "newkey04": "Nullable(DateTime64(3))",
    }  # objects/arrays ignored (FIXTURES.md F2 phases 3-4)

    # re-project the SAME batch with the widened schema (no restart — §3.3)
    wide_schema = T.StructType(
        F1_SCHEMA.fields
        + [
            T.StructField("newkey00", T.BooleanType()),
            T.StructField("newkey01", T.LongType()),
            T.StructField("newkey02", T.DoubleType()),
            T.StructField("newkey03", T.StringType()),
            T.StructField("newkey04", T.StringType()),
        ]
    )
    parsed = batch.select(F.from_json("raw", wide_schema).alias("m")).select("m.*")
    out = apply_projection(parsed, specs)
    assert out.count() == 20
    p1 = out.filter(F.col("name").startswith("p1-"))
    assert p1.filter(F.col("newkey01").isNull()).count() == 10  # pre-evolution rows NULL
    p2 = out.filter(F.col("name").startswith("p2-")).first()
    assert p2.newkey01 == 7 and p2.newkey00 is False
    assert str(p2.newkey04) == "2024-05-06 07:08:09"


def test_f3_series_dedup_stream(spark, workdir):
    """F3 (go.metrictest.sh): 100 datapoints over 10 series → 10 series rows
    on first sight; mid change re-emits; steady state emits nothing."""
    rows = [
        {"__series_id__": i % 10, "__mgmt_id__": 1, "v": float(i)} for i in range(100)
    ]
    _write_jsonl(workdir / "in" / "a.jsonl", rows)
    schema = "``__series_id__`` long, ``__mgmt_id__`` long, v double".replace("``", "`")
    raw = (
        spark.readStream.format("text").load(str(workdir / "in"))
        .select(F.from_json("value", "__series_id__ long, __mgmt_id__ long, v double").alias("m"))
        .select("m.*")
    )
    dedup = series_dedup_stream(raw, "__series_id__ long, __mgmt_id__ long, v double")
    q = (
        dedup.writeStream.format("parquet")
        .option("path", str(workdir / "out" / "series"))
        .option("checkpointLocation", str(workdir / "ckpt" / "f3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(str(workdir / "out" / "series"))
    assert out.count() == 10  # one row per series (go.metrictest.sh: series count)
    # phase 2: same series, changed mgmt id → re-emitted once per series
    _write_jsonl(
        workdir / "in" / "b.jsonl",
        [{"__series_id__": i % 10, "__mgmt_id__": 2, "v": 0.0} for i in range(50)],
    )
    q2 = (
        dedup.writeStream.format("parquet")
        .option("path", str(workdir / "out" / "series"))
        .option("checkpointLocation", str(workdir / "ckpt" / "f3"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    out2 = spark.read.parquet(str(workdir / "out" / "series"))
    assert out2.count() == 20
    assert out2.filter(F.col("__mgmt_id__") == 2).count() == 10


def test_series_dedup_batch_join(spark):
    """D1 batch form: new sid or changed mid inserted, unchanged skipped."""
    batch = spark.createDataFrame(
        [(1, 10, "a"), (1, 11, "b"), (2, 20, "c"), (3, 30, "d")],
        "__series_id__ long, __mgmt_id__ long, labels string",
    )
    existing = spark.createDataFrame([(1, 11), (2, 19)], "__series_id__ long, __mgmt_id__ long")
    out = series_dedup_batch_join(batch, existing).collect()
    got = {(r["__series_id__"], r["__mgmt_id__"]) for r in out}
    # sid 1 latest mid=11 unchanged → skip; sid 2 changed 19→20; sid 3 new
    assert got == {(2, 20), (3, 30)}


def test_dedup_offsets_stream(spark, workdir):
    """W8: replayed (topic, partition, offset) collapse within watermark."""
    rows = [
        {"topic": "t", "partition": 0, "offset": i % 5, "ts": "2024-01-01 00:00:00", "v": i}
        for i in range(10)
    ]
    _write_jsonl(workdir / "in" / "a.jsonl", rows)
    raw = (
        spark.readStream.format("text").load(str(workdir / "in"))
        .select(F.from_json("value", "topic string, partition int, offset long, ts string, v long").alias("m"))
        .select("m.*")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    dd = dedup_offsets_stream(raw, "ts")
    q = (
        dd.writeStream.format("parquet")
        .option("path", str(workdir / "out" / "dd"))
        .option("checkpointLocation", str(workdir / "ckpt" / "dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(str(workdir / "out" / "dd"))
    assert out.count() == 5


def test_watermarked_tumbling_agg_drops_late(spark, workdir):
    """Streaming windowed aggregation with watermark (SURVEY §2.7 /
    W1): tumbling 1-minute windows in update-less append mode; an event
    older than the watermark after the stream has advanced past it is
    dropped, on-time events aggregate per window."""
    _write_jsonl(
        workdir / "in" / "a.jsonl",
        [
            {"time": "2024-01-01T00:00:10Z", "name": "a", "value": 1, "price": 0.0},
            {"time": "2024-01-01T00:00:50Z", "name": "a", "value": 2, "price": 0.0},
            {"time": "2024-01-01T00:01:10Z", "name": "a", "value": 4, "price": 0.0},
            # advance event time far enough that watermark (10s) passes
            # the first window completely
            {"time": "2024-01-01T00:10:00Z", "name": "a", "value": 8, "price": 0.0},
        ],
    )
    out_path = str(workdir / "out" / "agg")

    def run_batch(in_dir, ckpt):
        raw = file_source(spark, in_dir)
        parsed = raw.select(
            F.from_json(F.col("value").cast("string"), F1_SCHEMA).alias("m")
        ).select(
            F.to_timestamp("m.time").alias("ts"),
            F.col("m.name").alias("name"),
            F.col("m.value").alias("value"),
        )
        agg = (
            parsed.withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "1 minute").alias("w"), "name")
            .agg(F.sum("value").alias("total"))
            .select(F.col("w.start").alias("w_start"), "name", "total")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch(str(workdir / "in"), str(workdir / "ckpt" / "agg"))
    # late event for the long-closed first window arrives in a second batch
    _write_jsonl(
        workdir / "in" / "b.jsonl",
        [{"time": "2024-01-01T00:00:59Z", "name": "a", "value": 100, "price": 0.0}],
    )
    run_batch(str(workdir / "in"), str(workdir / "ckpt" / "agg"))

    out = spark.read.parquet(out_path)
    rows = {str(r.w_start): r.total for r in out.filter(F.col("name") == "a").collect()}
    # first window closed with only the on-time rows; late +100 was dropped
    assert rows.get("2024-01-01 00:00:00") == 3.0
    assert rows.get("2024-01-01 00:01:00") == 4.0


def test_route_by_table_header_and_topic(spark):
    """R6 message→task routing: Kafka header __table_name wins, topic is
    the fallback (task/consumer.go:233-255)."""
    from clickhouse_sinker_spark.streaming.pipeline import route_by_table

    rows = [
        ("topic_a", [{"key": "__table_name", "value": bytearray(b"t_override")}]),
        ("topic_a", []),
        ("topic_b", None),
    ]
    df = spark.createDataFrame(
        rows,
        "topic string, headers array<struct<key:string,value:binary>>",
    )
    routed = route_by_table(df)
    got = [r["__route"] for r in routed.select("__route").collect()]
    assert got == ["t_override", "topic_a", "topic_b"]

    # without a headers column at all → pure topic routing
    routed2 = route_by_table(df.select("topic"))
    assert [r["__route"] for r in routed2.collect()] == ["topic_a", "topic_a", "topic_b"]


def test_config_to_pipeline_switchover(spark, workdir):
    """The reference-user switchover path end to end: an UNCHANGED
    reference-style hjson task file → load_config → dims → parse schema →
    pipeline → sharded sink.  (Kafka source swapped for the file source —
    same message bytes.)"""
    from clickhouse_sinker_spark.config_io import load_config
    from clickhouse_sinker_spark.sources.schema import json_parse_schema, specs_from_task

    hjson = """
    {
        clickhouse: {
            hosts: [ [ 127.0.0.1 ] ]
            port: 59000
            db: default
        }
        kafka: {
            brokers: 127.0.0.1:9093
        }
        task: {
            name: test_fixed_schema
            topic: topic1
            consumerGroup: test_fixed_schema
            earliest: true
            parser: json
            tableName: test_fixed_schema
            dims: [
                {
                    name: time
                    type: DateTime
                }
                {
                    name: name
                    type: String
                }
                {
                    name: value
                    type: Float32
                }
            ]
            shardingKey: name
            bufferSize: 50000
        }
    }
    """
    cfg = load_config(hjson)
    task = cfg.tasks[0]
    specs = specs_from_task(task)
    schema = json_parse_schema(specs)

    _write_jsonl(
        workdir / "in" / "a.jsonl",
        [
            {"time": "2024-01-01 00:00:00", "name": f"n{i}", "value": i + 0.5}
            for i in range(100)
        ],
    )
    raw = file_source(spark, str(workdir / "in"))
    pipe = build_pipeline(raw, task, specs, schema, shards=cfg.clickhouse.shards)
    sink = ParquetSink(str(workdir / "out" / task.table_name), shards=cfg.clickhouse.shards)
    pipe.run_available(sink, str(workdir / "ckpt" / task.name))

    out = spark.read.parquet(str(workdir / "out" / task.table_name))
    assert out.count() == 100
    assert set(out.columns) >= {"time", "name", "value", "__shard"}
    row = out.filter(F.col("name") == "n7").first()
    assert float(row.value) == 7.5


def test_message_keys_named_like_kafka_metadata(spark, workdir):
    """Message keys named timestamp/offset/topic/partition/key map through
    ordinary dims, while __kafka_* dims still read the source metadata."""
    from clickhouse_sinker_spark.sources.schema import json_parse_schema, specs_from_task

    rows = [
        {"timestamp": f"2024-01-01 00:00:{i:02d}", "offset": 1000 + i, "topic": "msg_topic",
         "partition": i % 3, "key": f"k{i}", "v": i}
        for i in range(20)
    ]
    _write_jsonl(workdir / "in" / "a.jsonl", rows)
    task = TaskConfig(
        name="meta_keys",
        dims=(
            ("timestamp", "DateTime", None), ("offset", "Int64", None),
            ("topic", "String", None), ("partition", "Int32", None),
            ("key", "String", None), ("v", "Int64", None),
            ("__kafka_offset", "Int64", None), ("__kafka_topic", "String", None),
        ),
    )
    specs = specs_from_task(task)
    raw = file_source(spark, str(workdir / "in"))
    pipe = build_pipeline(raw, task, specs, json_parse_schema(specs))
    pipe.run_available(ParquetSink(str(workdir / "out" / "t")), str(workdir / "ckpt" / "m"))

    got = {r.v: r for r in spark.read.parquet(str(workdir / "out" / "t")).collect()}
    assert sorted(got) == list(range(20))
    for i, r in got.items():
        assert str(r.timestamp) == f"2024-01-01 00:00:{i:02d}"
        assert (r.offset, r.topic, r.partition, r.key) == (1000 + i, "msg_topic", i % 3, f"k{i}")
        assert r["__kafka_topic"] == "file"  # file_source's metadata, not the message's
    line_hashes = {
        r[0]
        for r in spark.read.text(str(workdir / "in")).select(F.xxhash64("value")).collect()
    }
    assert {r["__kafka_offset"] for r in got.values()} == line_hashes


def test_stream_static_enrichment_join(spark, workdir):
    """Stream-static join (SURVEY §2.7): the parsed stream enriched with a
    static dimension table inside the same micro-batch plan — the Spark
    answer to the reference's series-id → labels lookup."""
    dim = spark.createDataFrame(
        [("n1", "tier-a"), ("n2", "tier-b")], "name string, tier string"
    )
    _write_jsonl(
        workdir / "in" / "a.jsonl",
        [
            {"time": "2024-01-01 00:00:00", "name": "n1", "value": 1.0, "price": 0.0},
            {"time": "2024-01-01 00:00:01", "name": "n2", "value": 2.0, "price": 0.0},
            {"time": "2024-01-01 00:00:02", "name": "n3", "value": 3.0, "price": 0.0},
        ],
    )
    raw = file_source(spark, str(workdir / "in"))
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), F1_SCHEMA).alias("m")
    ).select("m.name", "m.value")
    enriched = parsed.join(F.broadcast(dim), "name", "left")

    out_path = str(workdir / "out" / "enriched")
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(workdir / "ckpt" / "enr"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["name"]: r["tier"] for r in spark.read.parquet(out_path).collect()}
    assert got == {"n1": "tier-a", "n2": "tier-b", "n3": None}


def test_multi_task_demux_one_source(spark, workdir):
    """C3/R6: tasks sharing a consumer group = ONE source stream demuxed to
    per-table sinks inside a single foreachBatch (the reference's
    task-routing, task/consumer.go:233-255, without a second Kafka
    consumer)."""
    rows_a = [{"time": "2024-01-01 00:00:00", "name": f"a{i}", "value": 1.0, "price": 0.0} for i in range(5)]
    rows_b = [{"time": "2024-01-01 00:00:00", "name": f"b{i}", "value": 2.0, "price": 0.0} for i in range(7)]
    with open(workdir / "in" / "a.jsonl", "w") as f:
        for r in rows_a:
            f.write(json.dumps({"topic": "topic_a", **r}) + "\n")
        for r in rows_b:
            f.write(json.dumps({"topic": "topic_b", **r}) + "\n")

    raw = file_source(spark, str(workdir / "in"))
    schema = T.StructType([T.StructField("topic", T.StringType())] + list(F1_SCHEMA.fields))
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("m")
    ).select("m.*")

    out_root = workdir / "out"

    def demux_sink(batch, epoch_id):
        routed = batch.persist()
        try:
            for topic, table in [("topic_a", "table_a"), ("topic_b", "table_b")]:
                routed.filter(F.col("topic") == topic).drop("topic").write.mode(
                    "append"
                ).parquet(str(out_root / table))
        finally:
            routed.unpersist()

    q = (
        parsed.writeStream.foreachBatch(demux_sink)
        .option("checkpointLocation", str(workdir / "ckpt" / "demux"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    a = spark.read.parquet(str(out_root / "table_a"))
    b = spark.read.parquet(str(out_root / "table_b"))
    assert a.count() == 5 and b.count() == 7
    assert all(r["name"].startswith("a") for r in a.collect())


def test_streaming_session_window(spark, workdir):
    """Session windows in Structured Streaming (gap-based, the streaming
    form of sessionize): two bursts for one key separated by more than the
    gap close as two sessions once the watermark passes them."""
    _write_jsonl(
        workdir / "in" / "a.jsonl",
        [
            {"time": "2024-01-01T00:00:00Z", "name": "u1", "value": 1, "price": 0.0},
            {"time": "2024-01-01T00:00:30Z", "name": "u1", "value": 1, "price": 0.0},
            # > 5 min gap → new session
            {"time": "2024-01-01T00:10:00Z", "name": "u1", "value": 1, "price": 0.0},
            # sentinel far ahead pushes the watermark past both sessions
            {"time": "2024-01-01T02:00:00Z", "name": "wm", "value": 0, "price": 0.0},
        ],
    )
    raw = (
        spark.readStream.format("text").load(str(workdir / "in"))
        .select(F.from_json("value", F1_SCHEMA).alias("m")).select("m.*")
        .withColumn("ts", F.col("time").cast("timestamp"))
    )
    agg = (
        raw.withWatermark("ts", "10 seconds")
        .groupBy(F.session_window("ts", "5 minutes").alias("sw"), "name")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("name", F.col("sw.start").alias("start"), "n")
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", str(workdir / "out" / "sess"))
        .option("checkpointLocation", str(workdir / "ckpt" / "sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["name"], str(r["start"])): r["n"]
        for r in spark.read.parquet(str(workdir / "out" / "sess")).collect()
    }
    assert got == {
        ("u1", "2024-01-01 00:00:00"): 2,
        ("u1", "2024-01-01 00:10:00"): 1,
    }, got


def test_f3_series_dedup_transform_with_state(spark, workdir):
    """Same F3 contract on the transformWithStateInPandas API (Spark 4
    stateful processor + RocksDB state store): 100 datapoints over 10
    series → 10 rows; a mid change re-emits each series once across a
    checkpointed restart of the query.

    The API's state-server protocol needs protobuf, which this container
    does not ship — skipped here, exercised wherever protobuf exists
    (same gated-contract pattern as the PIL/librosa decoders)."""
    pytest.importorskip("google.protobuf")
    from clickhouse_sinker_spark.streaming.state import series_dedup_stream_tws

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rows = [
            {"__series_id__": i % 10, "__mgmt_id__": 1, "v": float(i)}
            for i in range(100)
        ]
        _write_jsonl(workdir / "in" / "a.jsonl", rows)
        raw = (
            spark.readStream.format("text").load(str(workdir / "in"))
            .select(F.from_json("value", "__series_id__ long, __mgmt_id__ long, v double").alias("m"))
            .select("m.*")
        )
        dedup = series_dedup_stream_tws(
            raw, "__series_id__ long, __mgmt_id__ long, v double"
        )

        def run_once():
            q = (
                dedup.writeStream.format("parquet")
                .option("path", str(workdir / "out" / "series_tws"))
                .option("checkpointLocation", str(workdir / "ckpt" / "f3tws"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once()
        out = spark.read.parquet(str(workdir / "out" / "series_tws"))
        assert out.count() == 10
        # mid change re-emits once per series, state survives the restart
        _write_jsonl(
            workdir / "in" / "b.jsonl",
            [{"__series_id__": i % 10, "__mgmt_id__": 2, "v": 0.0} for i in range(50)],
        )
        run_once()
        out2 = spark.read.parquet(str(workdir / "out" / "series_tws"))
        assert out2.count() == 20
        assert out2.filter(F.col("__mgmt_id__") == 2).count() == 10
        # steady state: replaying unchanged mids emits nothing
        _write_jsonl(
            workdir / "in" / "c.jsonl",
            [{"__series_id__": i % 10, "__mgmt_id__": 2, "v": 1.0} for i in range(30)],
        )
        run_once()
        assert spark.read.parquet(str(workdir / "out" / "series_tws")).count() == 20
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_stream_interval_join(spark, workdir):
    """Stream-stream inner join with an event-time interval: purchases
    correlated to the user's clicks at most 5 minutes earlier.  Both sides
    are watermarked so the join state is bounded — the Spark-native
    operator for cross-stream correlation (no reference counterpart: the
    sinker delegates joins to ClickHouse; this is part of owning the
    relational layer natively)."""
    (workdir / "in2").mkdir()
    clicks = [
        {"user": 1, "ts": "2024-01-01 00:00:00", "page": "a"},
        {"user": 1, "ts": "2024-01-01 00:07:00", "page": "b"},
        {"user": 2, "ts": "2024-01-01 00:01:00", "page": "c"},
    ]
    purchases = [
        {"user": 1, "pts": "2024-01-01 00:04:00", "amount": 10.0},  # joins click a
        {"user": 1, "pts": "2024-01-01 00:20:00", "amount": 20.0},  # too late for a/b
        {"user": 2, "pts": "2024-01-01 00:03:00", "amount": 30.0},  # joins click c
    ]
    _write_jsonl(workdir / "in" / "clicks.jsonl", clicks)
    _write_jsonl(workdir / "in2" / "purchases.jsonl", purchases)

    c = (
        spark.readStream.format("text").load(str(workdir / "in"))
        .select(F.from_json("value", "user long, ts string, page string").alias("m"))
        .select("m.user", F.col("m.ts").cast("timestamp").alias("ts"), "m.page")
        .withWatermark("ts", "10 minutes")
    )
    p = (
        spark.readStream.format("text").load(str(workdir / "in2"))
        .select(F.from_json("value", "user long, pts string, amount double").alias("m"))
        .select(
            F.col("m.user").alias("puser"),
            F.col("m.pts").cast("timestamp").alias("pts"),
            "m.amount",
        )
        .withWatermark("pts", "10 minutes")
    )
    joined = c.join(
        p,
        (F.col("user") == F.col("puser"))
        & (F.col("pts") >= F.col("ts"))
        & (F.col("pts") <= F.col("ts") + F.expr("INTERVAL 5 MINUTES")),
    ).select("user", "page", "amount")

    out_path = str(workdir / "out" / "ssjoin")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(workdir / "ckpt" / "ssj"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["user"], r["page"], r["amount"]) for r in spark.read.parquet(out_path).collect()}
    assert got == {(1, "a", 10.0), (2, "c", 30.0)}


def test_manifest_sink_exactly_once_on_replay(spark, tmp_path):
    """ManifestParquetSink (S7→exactly-once upgrade): a replayed epoch —
    Structured Streaming's re-delivery after a crash between sink write
    and checkpoint commit — must be a no-op, and uncommitted crash debris
    must be invisible to readers."""
    from clickhouse_sinker_spark.streaming.sink import ManifestParquetSink

    sink = ManifestParquetSink(str(tmp_path / "land"))
    df1 = spark.range(100).withColumn("__shard", (F.col("id") % 4).cast("int"))
    sink(df1, epoch_id=0)
    sink(df1, epoch_id=0)  # replay: same epoch re-delivered → skipped
    assert sink.read_committed(spark).count() == 100

    # second epoch lands additively
    df2 = spark.range(100, 150).withColumn("__shard", (F.col("id") % 4).cast("int"))
    sink(df2, epoch_id=1)
    got = sink.read_committed(spark)
    assert got.count() == 150
    assert {r[0] for r in got.select("id").collect()} == set(range(150))

    # crash debris: an epoch dir WITHOUT a manifest is not readable
    df3 = spark.range(150, 160).withColumn("__shard", F.lit(0))
    df3.write.mode("overwrite").parquet(str(tmp_path / "land" / "epoch=2"))
    assert sink.read_committed(spark).count() == 150

    # ...and a later successful write of that epoch commits it exactly once
    sink(df3, epoch_id=2)
    assert sink.read_committed(spark).count() == 160


def test_streaming_pipeline_into_manifest_sink(spark, tmp_path):
    """Full streaming path into the exactly-once sink: file-stream source →
    parse → project → shard → foreachBatch(ManifestParquetSink), then the
    same source replayed against the same checkpoint adds nothing — and a
    FRESH checkpoint replaying the same data also adds nothing, because
    the epoch manifest (not just the offset log) dedups the re-delivery."""
    import json

    from pyspark.sql import types as T

    from clickhouse_sinker_spark.config import TaskConfig
    from clickhouse_sinker_spark.operators.project import ColumnSpec
    from clickhouse_sinker_spark.streaming.pipeline import build_pipeline, file_source
    from clickhouse_sinker_spark.streaming.sink import ManifestParquetSink

    (tmp_path / "in").mkdir()
    with open(tmp_path / "in" / "a.jsonl", "w") as f:
        for i in range(120):
            f.write(json.dumps({"name": f"n{i}", "value": float(i)}) + "\n")

    schema = T.StructType(
        [T.StructField("name", T.StringType()), T.StructField("value", T.DoubleType())]
    )
    specs = [
        ColumnSpec("name", "String", source="name", not_nullable=True),
        ColumnSpec("value", "Nullable(Float64)", source="value"),
    ]
    task = TaskConfig(name="manifest_e2e", sharding_key="name", flush_interval=1)
    sink = ManifestParquetSink(str(tmp_path / "land"))

    pipe = build_pipeline(file_source(spark, str(tmp_path / "in")), task, specs, schema, shards=2)
    pipe.run_available(sink, str(tmp_path / "ckpt"))
    assert sink.read_committed(spark).count() == 120

    # replay 1: same checkpoint — engine offset log skips the batch
    pipe2 = build_pipeline(file_source(spark, str(tmp_path / "in")), task, specs, schema, shards=2)
    pipe2.run_available(sink, str(tmp_path / "ckpt"))
    assert sink.read_committed(spark).count() == 120

    # replay 2: FRESH checkpoint — epoch 0 re-delivered; manifest dedups it
    pipe3 = build_pipeline(file_source(spark, str(tmp_path / "in")), task, specs, schema, shards=2)
    pipe3.run_available(sink, str(tmp_path / "ckpt2"))
    assert sink.read_committed(spark).count() == 120


def test_manifest_sink_midepoch_crash_retry_exact(spark, tmp_path):
    """A crash AFTER partial epoch data landed but BEFORE the manifest
    commit: the retry of the same epoch must overwrite the debris and the
    committed view must hold exactly the batch — the manifest (not the
    data files) is the commit point."""
    from clickhouse_sinker_spark.streaming.sink import ManifestParquetSink

    sink = ManifestParquetSink(str(tmp_path / "land"))
    df = spark.range(80).withColumn("__shard", (F.col("id") % 4).cast("int"))

    # simulate the crash: partial data for epoch 0 lands, no manifest
    df.limit(30).write.mode("overwrite").parquet(str(tmp_path / "land" / "epoch=0"))
    with pytest.raises(FileNotFoundError):
        sink.read_committed(spark)  # zero committed epochs → explicit error

    sink(df, epoch_id=0)  # re-delivery of the full epoch
    got = sink.read_committed(spark)
    assert got.count() == 80
    assert {r[0] for r in got.select("id").collect()} == set(range(80))


def test_manifest_sink_uses_hadoop_fs_not_local_paths(spark, tmp_path):
    """ADVICE r4: manifest I/O must resolve through the Hadoop FileSystem
    of the DATA path, not driver-local os.path — otherwise an HDFS/S3
    deployment silently degrades to at-least-once.  Drive the sink through
    an explicit file:// URI (a non-local scheme string that os.path would
    treat as a relative path and mis-handle) and prove commit + replay
    dedup + read-back all work through the FS API."""
    from clickhouse_sinker_spark.streaming.sink import ManifestParquetSink

    sink = ManifestParquetSink(f"file://{tmp_path}/land_uri")
    df = spark.range(40).withColumn("__shard", (F.col("id") % 2).cast("int"))
    sink(df, epoch_id=0)
    sink(df, epoch_id=0)  # replay skipped via fs.exists on the URI
    assert sink.read_committed(spark).count() == 40
    # the manifest physically exists under the URI's local mapping
    import os

    assert os.path.exists(f"{tmp_path}/land_uri/_manifests/0.json")
