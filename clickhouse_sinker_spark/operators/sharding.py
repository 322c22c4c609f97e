"""Sharding / routing operators (≙ task/sharding.go, output/clickhouse.go:724-799).

The reference buffers rows per shard and writes each shard's batch on its own
connection.  In Spark the same physics is ``withColumn(shard) →
repartition(n, shard)``: the shuffle IS the shard fan-out, and the sink
writes each partition in parallel.  At 100 TB the key property is that the
shard expression is deterministic on row content (not offset), so replays
co-locate duplicates and ReplacingMergeTree-style dedup stays local.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import shard_hash, shard_stripe, sorting_key_shard

__all__ = ["SHARD_COL", "ShardingPolicy", "add_shard_column", "route_to_shards"]

# the shard-id column the pipeline adds and every sink partitions by
SHARD_COL = "__shard"


@dataclass
class ShardingPolicy:
    """≙ config ShardingKey/ShardingStripe (config/config.go:164-168 area,
    task/sharding.go:128-145)."""

    key: str | None = None  # column name; None → round-robin
    policy: str = "hash"  # "hash" | "stripe" | "sortingkey" | "none"
    stripe: int = 1
    sorting_keys: tuple[str, ...] = ()


def add_shard_column(df: DataFrame, policy: ShardingPolicy, shards: int, col_name: str = SHARD_COL) -> DataFrame:
    """Attach the shard id column per policy.

    - hash:   xxhash64(key) % shards        (task/sharding.go:104-117)
    - stripe: (key/stripe) % shards         (task/sharding.go:61-103)
    - sortingkey: xxhash64(concat(keys)) % shards persisted as
      ``__shardingkey`` (output/clickhouse.go:724-799) so duplicates
      co-locate across replays.
    - none:   spark partition id (≙ the reference's offset-based default,
      task/task.go:228 — arbitrary but stable spread).
    """
    if policy.policy == "stripe":
        return df.withColumn(col_name, shard_stripe(policy.key, policy.stripe, shards))
    if policy.policy == "hash":
        return df.withColumn(col_name, shard_hash(policy.key, shards))
    if policy.policy == "sortingkey":
        return df.withColumn(col_name, sorting_key_shard(list(policy.sorting_keys), shards))
    return df.withColumn(col_name, F.pmod(F.spark_partition_id(), F.lit(shards)))


def route_to_shards(df: DataFrame, policy: ShardingPolicy, shards: int) -> DataFrame:
    """Shard column + repartition so each output partition holds exactly one
    shard's rows (≙ Sharder.Flush fan-out, task/sharding.go:159-195).  The
    sink then writes partitions in parallel — same parallelism model as the
    reference's per-shard worker pool (output/clickhouse.go:139-161)."""
    with_shard = add_shard_column(df, policy, shards)
    return with_shard.repartition(shards, F.col(SHARD_COL))
