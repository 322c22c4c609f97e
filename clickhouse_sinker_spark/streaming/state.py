"""Stateful streaming operators (≙ D1/D2: series dedup with warm start,
output/clickhouse.go:163-228, task/sinker.go:561-718; W8 offset dedup).

The reference keeps an in-memory ``BmSeries`` map (sid → mid) shared per
series table, writes a series row only when the sid is new or its mid
changed, and warm-loads the map from ClickHouse at start.

Spark-first re-expressions, strongest first:

1. ``series_dedup_stream``: ``applyInPandasWithState`` keyed by sid; state
   holds the last mid; emits only new/changed rows.  State lives in the
   state store (RocksDB/HDFS-backed at scale) — survives restarts via the
   checkpoint, which replaces the reference's reload timer (D2).  TTL via
   GroupStateTimeout ≙ ActiveSeriesRange eviction.
2. ``series_dedup_batch_join``: inside foreachBatch, anti/changed-join the
   micro-batch against the destination series table — the warm start IS
   the destination read (task/sinker.go:41-47's warm-up SELECT DISTINCT),
   no separate cache to manage.  This is the closest to the reference's
   semantics and works with any sink.
3. ``dedup_offsets_stream``: dropDuplicatesWithinWatermark on
   (topic, partition, offset) — the W8 exactly-once contract when the
   sink is not a ReplacingMergeTree.

The quota (16384 changed series per 10s, output/clickhouse.go:175-193) is
an OOM guard for ClickHouse, not semantics — intentionally dropped (the
state store does not have the same failure mode); documented delta.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from ..operators.series import dedup_series_latest

__all__ = [
    "series_dedup_stream",
    "series_dedup_stream_tws",
    "series_dedup_batch_join",
    "dedup_offsets_stream",
]

_STATE_SCHEMA = StructType([StructField("mid", LongType())])


def _transitions(
    pdfs: Iterator[pd.DataFrame], last_mid: int | None
) -> tuple[list[pd.DataFrame], int | None]:
    """One series' (sid, mid) transitions vs the stored ``last_mid`` (D1):
    the rows to emit and the mid to store next."""
    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values("__mgmt_id__")
        changed = pdf[pdf["__mgmt_id__"] != last_mid] if last_mid is not None else pdf
        # within a batch keep only transitions (first occurrence per new mid)
        changed = changed.drop_duplicates(subset=["__mgmt_id__"], keep="first")
        if len(changed):
            last_mid = int(changed["__mgmt_id__"].iloc[-1])
            out.append(changed)
    return out, last_mid


def _dedup_fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    """Emit rows whose (sid, mid) is new or changed vs state (D1)."""
    out, last_mid = _transitions(pdfs, state.get[0] if state.exists else None)
    if last_mid is not None:
        state.update((last_mid,))
    if out:
        yield pd.concat(out)


def series_dedup_stream(df: DataFrame, output_schema: str | StructType) -> DataFrame:
    """Streaming series dedup: one output row per (sid, mid) transition.

    ``df`` must carry ``__series_id__`` and ``__mgmt_id__``.  Arrow-batched
    state function; the per-key state is one long — at 100 TB the state
    store shards by sid across executors (the same partitioning R4 gives
    the sink), so this scales horizontally with no broadcast.
    """
    return df.groupBy("__series_id__").applyInPandasWithState(
        _dedup_fn,
        outputStructType=output_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def series_dedup_stream_tws(
    df: DataFrame,
    output_schema: str | StructType,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Series dedup on the ``transformWithStateInPandas`` API (Spark 4's
    successor to ``applyInPandasWithState``): same (sid, mid)-transition
    semantics as :func:`series_dedup_stream`, plus native per-state TTL —
    the direct analogue of the reference's ActiveSeriesRange eviction
    (task/sinker.go:561-718) without a timer loop: pass ``ttl_ms`` and the
    state store expires idle series itself, so a series returning after
    the window re-emits (exactly the reference's re-announce behavior).

    Requires the RocksDB state store provider (the scale-path provider
    anyway: changelog-checkpointed, spills to disk, per-key TTL is O(1))
    and the ``protobuf`` package (the API's state-server wire protocol) —
    a gated contract in containers without it, same pattern as the
    optional multimodal decoders; :func:`series_dedup_stream` is the
    always-available fallback with identical transition semantics.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _SeriesDedup(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._mid = handle.getValueState("mid", _STATE_SCHEMA, ttlDurationMs=ttl_ms)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            prior = self._mid.get()
            out, last_mid = _transitions(rows, prior[0] if prior is not None else None)
            if last_mid is not None:
                self._mid.update((last_mid,))
            if out:
                yield pd.concat(out)

        def close(self) -> None:
            pass

    return df.groupBy("__series_id__").transformWithStateInPandas(
        statefulProcessor=_SeriesDedup(),
        outputStructType=output_schema,
        outputMode="append",
        timeMode="ProcessingTime" if ttl_ms is not None else "None",
    )


def series_dedup_batch_join(batch: DataFrame, existing: DataFrame) -> DataFrame:
    """foreachBatch series dedup with destination warm start (D1+D2).

    ``existing``: (sid, mid) pairs currently in the series table — read
    once per batch via JDBC (the reference instead caches + reloads hourly;
    reading the sink keeps one source of truth).  Returns rows to insert:
    latest per sid in this batch, minus unchanged ones.  Broadcast when the
    active-series set is small; shuffle-join on sid otherwise (co-located
    under R4 sharding).
    """
    latest = dedup_series_latest(batch)
    ex = existing.select(
        F.col("__series_id__").alias("__ex_sid"), F.col("__mgmt_id__").alias("__ex_mid")
    )
    return (
        latest.join(ex, latest["__series_id__"] == ex["__ex_sid"], "left")
        .filter(F.col("__ex_mid").isNull() | (F.col("__ex_mid") != F.col("__mgmt_id__")))
        .drop("__ex_sid", "__ex_mid")
    )


def dedup_offsets_stream(df: DataFrame, watermark_col: str, delay: str = "10 minutes") -> DataFrame:
    """Streaming exactly-once dedup on (topic, partition, offset) with a
    bounded state via watermark (W8) — for sinks without merge-dedup."""
    return df.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        ["topic", "partition", "offset"]
    )
