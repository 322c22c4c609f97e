"""Streaming pipeline assembly (≙ the reference hot path, SURVEY §3.2):

    source (Kafka / file-stream) → parse → project/cast → shard →
    foreachBatch sink → checkpoint commit

Each step maps 1:1 onto the reference:

- ``kafka_source``: S1/S2 — the Spark Kafka source already exposes the
  exact ``InputMessage`` shape (topic, partition, offset, key, value,
  timestamp — model/message.go:10-17); ``maxOffsetsPerTrigger`` ≈
  MaxFetchSize/BufferSize (W1/W2 backpressure), ``startingOffsets`` ≈
  earliest/latest, security options are passthrough config.
- ``parse_stream``: P1/P2/P3 — one from_json / from_csv decode of the value
  column; constant-field injection (P5); parse-error filter (P17): a JSON
  message lands iff it is a JSON object, tested from the decode's
  corrupt-record marker, with the exact map probe run only for the
  messages the decode flags.
- projection: operators/project.py (P4-P16).
- trigger(processingTime=FlushInterval) ≙ W1's count-or-time flush window
  (the count half is maxOffsetsPerTrigger; in file mode it is
  ``file_source``'s ``max_files``, off by default, so a trigger takes every
  file available and ``run_available`` drains a backlog as one epoch).
- checkpointing ≙ S7's commit barrier — offsets commit only after the
  foreachBatch sink returns, same at-least-once contract, engine-managed
  (task/sinker.go:521-559 hand-rolls this).

Multi-task demux (R6, task/consumer.go:233-255): one source stream feeds
several sinks by topic filter / ``__table_name`` header routing.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import KafkaConfig, TaskConfig
from ..functions.casts import filter_above
from ..operators.project import KAFKA_META_COLUMNS, ColumnSpec, apply_projection
from ..operators.sharding import ShardingPolicy, add_shard_column

__all__ = ["kafka_source", "file_source", "parse_stream", "build_pipeline", "route_by_table"]


def kafka_source(
    spark: SparkSession,
    kafka: KafkaConfig,
    topics: str,
    earliest: bool = True,
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka consumer-group source (S1, input/kafka_franz.go:75-239).

    Returns the raw stream with the InputMessage columns.  Offset commit /
    rebalance / liveness (S7, W6, W7) are engine-managed via checkpointing.
    """
    reader = (
        spark.readStream.format("kafka")
        .options(**kafka.spark_options())
        .option("subscribe", topics)
        .option("startingOffsets", "earliest" if earliest else "latest")
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()


def file_source(spark: SparkSession, path: str, max_files: int | None = None) -> DataFrame:
    """File-stream stand-in for Kafka (FIXTURES.md, the CLI's --source-path):
    text files of JSON lines, shaped like the Kafka source output (value +
    metadata).  Each trigger admits every new file (one scan over all their
    splits) unless ``max_files`` caps it, as ``maxOffsetsPerTrigger`` caps a
    Kafka trigger."""
    reader = spark.readStream.format("text")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    raw = reader.load(path)
    # pseudo-offset: content hash (monotonic ids are not allowed in streams)
    return raw.select(
        F.lit("file").alias("topic"),
        F.spark_partition_id().alias("partition"),
        F.xxhash64(F.col("value")).alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.current_timestamp().alias("timestamp"),
    )


def parse_stream(
    raw: DataFrame,
    schema: T.StructType,
    parser: str = "fastjson",
    csv_format: list[str] | None = None,
    delimiter: str = ",",
    fields: dict | None = None,
) -> DataFrame:
    """Parse the ``value`` column (P1 fastjson / P2 gjson / P3 csv).

    fastjson and gjson differ only in path syntax in the reference — with a
    nested StructType schema Spark's from_json covers both (dot access ≙
    gjson paths).  CSV uses from_csv with the csvFormat title list
    (parser/csv.go:46-63).  ``fields`` constants override message keys (P5,
    parser/parser.go:82-86 — note reference semantics: fields WIN over
    message content).  Unparseable messages are dropped and countable via
    ``observe`` (P17, task/task.go:178-186).

    Each message is decoded once, like the reference's one fastjson parse.
    The JSON decode adds a corrupt-record marker field to ``schema``; a
    message lands iff it parses as a JSON object, i.e. iff
    ``from_json(value, 'map<string,string>')`` is not null.  That probe
    runs only on messages whose decode sets the marker (arrays, scalars,
    malformed text, a type mismatch in a known field); a null decode is a
    blank message and an unflagged one is an object already.  The filter
    sits above the decode (``filter_above``), so it, and any NOT NULL
    filter a projection pushes into it, reads the decoded struct instead
    of decoding again.  CSV lands a non-blank line whose ``from_csv`` is
    not null.
    """
    s = F.col("value").cast("string")
    p = F.col("__parsed")
    if parser == "csv":
        cols = csv_format or [f.name for f in schema.fields]
        csv_schema = T.StructType([next(f for f in schema.fields if f.name == c) for c in cols])
        parsed = F.from_csv(s, csv_schema.simpleString(), {"sep": delimiter})
        valid = p.isNotNull() & (F.trim(s) != "")
        marker = None
    else:
        marker = "__corrupt_record"
        while marker in schema.fieldNames():
            marker += "_"
        with_marker = T.StructType([*schema.fields, T.StructField(marker, T.StringType())])
        parsed = F.from_json(s, with_marker, {"columnNameOfCorruptRecord": marker})
        # A null decode is a null or blank message.  An unflagged decode
        # went through the probe's tokenizer over the whole object (unknown
        # fields are skipped, but their strings are still checked), so it
        # is an object by the probe's rule too.  A flagged one holds the
        # whole message in the marker (a message key named like the marker
        # is not read into it), so the probe reads the marker and the raw
        # value is not carried past the decode.
        flagged = p[marker]
        valid = p.isNotNull() & (
            flagged.isNull() | F.from_json(flagged, "map<string,string>").isNotNull()
        )
    out = filter_above(raw.withColumn("__parsed", parsed), valid)
    # metadata under its __kafka_* dim names, so message keys named topic,
    # partition, offset, key or timestamp map through ordinary dims
    out = out.select(
        *[F.col(src).alias(meta) for meta, src in KAFKA_META_COLUMNS.items()], "__parsed.*"
    )
    if marker:
        out = out.drop(marker)
    for k, v in (fields or {}).items():  # constants override message keys (P5)
        out = out.withColumn(k, F.lit(v))
    return out


def route_by_table(raw: DataFrame) -> DataFrame:
    """Message→task routing key (R6): Kafka header ``__table_name`` if
    present, else the topic (task/consumer.go:233-255).  Requires the source
    to be read with includeHeaders=true; falls back to topic if absent."""
    if "headers" in raw.columns:
        # get() is null-safe on the empty array (no header present) where
        # [0] would raise under ANSI mode
        hdr = F.expr(
            "get(filter(headers, h -> h.key = '__table_name'), 0).value"
        ).cast("string")
        return raw.withColumn("__route", F.coalesce(hdr, F.col("topic")))
    return raw.withColumn("__route", F.col("topic"))


@dataclass
class Pipeline:
    """A runnable task pipeline: transform + sink + trigger wiring."""

    task: TaskConfig
    specs: list[ColumnSpec]
    transformed: DataFrame

    def _writer(self, sink_fn, checkpoint: str):
        """foreachBatch(sink_fn) with checkpointed offsets (S7 — commit
        happens after sink_fn returns, at-least-once); ``start`` and
        ``run_available`` add only their trigger and, for ``start``, the
        query name."""
        return self.transformed.writeStream.foreachBatch(sink_fn).option(
            "checkpointLocation", checkpoint
        )

    def start(self, sink_fn, checkpoint: str):
        """Start the streaming query, named after the task, with the task's
        flush interval as the processing-time trigger (W1)."""
        return (
            self._writer(sink_fn, checkpoint)
            .trigger(processingTime=f"{self.task.flush_interval} seconds")
            .queryName(self.task.name)
            .start()
        )

    def run_available(self, sink_fn, checkpoint: str):
        """Drain everything currently available then stop (the CLI's
        --once, backfill, tests): trigger(availableNow), same sink path as
        production."""
        q = self._writer(sink_fn, checkpoint).trigger(availableNow=True).start()
        q.awaitTermination()
        return q


def build_pipeline(
    raw: DataFrame,
    task: TaskConfig,
    specs: list[ColumnSpec],
    parse_schema: T.StructType,
    shards: int = 0,
) -> Pipeline:
    """Assemble: parse → project/cast → shard column.  Declarative end to
    end — Catalyst fuses parse+project+shard into one codegen stage; the
    only exchange is the sink-side repartition (if sharded)."""
    parsed = parse_stream(
        raw,
        parse_schema,
        parser=task.parser,
        csv_format=list(task.csv_format) or None,
        delimiter=task.delimiter,
        fields=task.fields,
    )
    projected = apply_projection(parsed, specs, parser=task.parser)
    if shards > 0:
        policy = ShardingPolicy(
            key=task.sharding_key or None,
            policy="stripe" if task.sharding_stripe else ("hash" if task.sharding_key else "none"),
            stripe=task.sharding_stripe or 1,
        )
        projected = add_shard_column(projected, policy, shards)
    return Pipeline(task=task, specs=specs, transformed=projected)
