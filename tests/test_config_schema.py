"""Control-plane units: schema discovery (S8/D7), config normalization (C4),
Kafka security passthrough (S2), JDBC endpoint rotation (S5), write retry
(W4)."""

from __future__ import annotations

import pytest

from clickhouse_sinker_spark.config import (
    ClickHouseConfig,
    KafkaConfig,
    TaskConfig,
    normalize_tasks,
)
from clickhouse_sinker_spark.sources.schema import specs_from_columns, system_columns_sql
from clickhouse_sinker_spark.streaming.sink import with_retry
from clickhouse_sinker_spark.typemap import parse_ch_type


def test_system_columns_sql_shape():
    sql = system_columns_sql("db1", "t1")
    assert "system.columns" in sql
    assert "database = 'db1'" in sql and "table = 't1'" in sql
    assert "default_kind" in sql and "ORDER BY position" in sql


def test_specs_from_columns_rules():
    rows = [
        ("id", "Int64", ""),
        ("name", "Nullable(String)", ""),
        ("mat", "Float64", "MATERIALIZED"),
        ("ali", "Float64", "ALIAS"),
        ("skipme", "String", ""),
        ("ts", "DateTime64(3)", "DEFAULT"),
    ]
    specs = specs_from_columns(rows, exclude=("skipme",), source_names={"name": "src_name"})
    got = {s.name: s for s in specs}
    # MATERIALIZED/ALIAS and excluded columns are dropped (D7)
    assert set(got) == {"id", "name", "ts"}
    # non-Nullable → null-reject spec (P16); Nullable stays nullable
    assert got["id"].not_nullable and not got["name"].not_nullable
    assert got["name"].source == "src_name" and got["id"].source == "id"


def test_normalize_implication_chain():
    t = TaskConfig(prometheus_schema=True, flush_interval=0, buffer_size=3000)
    (t,) = normalize_tasks([t])
    # Prometheus ⇒ Dynamic ⇒ Auto (config/config.go:259-445)
    assert t.dynamic_schema and t.auto_schema
    assert t.flush_interval == 1  # clamped to [1, 600]
    assert t.buffer_size == 4096  # next power of two
    big = TaskConfig(buffer_size=(1 << 30))
    (big,) = normalize_tasks([big])
    assert big.buffer_size == 1 << 27  # hard cap (W1)


def test_kafka_security_passthrough():
    k = KafkaConfig(brokers="b:9092", security={"security.protocol": "SASL_SSL"})
    opts = k.spark_options()
    assert opts["kafka.bootstrap.servers"] == "b:9092"
    assert opts["kafka.security.protocol"] == "SASL_SSL"


def test_jdbc_url_rotates_hosts():
    ch = ClickHouseConfig(hosts=("h0:8123", "h1:8123"), database="d")
    assert ch.replica_urls(0)[0].endswith("h0:8123/d")
    assert ch.replica_urls(1)[0].endswith("h1:8123/d")
    assert ch.replica_urls(2)[0].endswith("h0:8123/d")


def test_with_retry_succeeds_after_failures():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    assert with_retry(flaky, retry_times=5, base_sleep=0.0) == "ok"
    assert calls["n"] == 3


def test_with_retry_logs_each_retried_attempt(caplog):
    """One structured warning per failed attempt that is retried: two
    failures, two records, then the return value."""
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] <= 2:
            raise ConnectionError(f"refused {calls['n']}")
        return "ok"

    with caplog.at_level("WARNING", logger="clickhouse_sinker_spark.streaming.sink"):
        assert with_retry(flaky, retry_times=5, base_sleep=0.001) == "ok"
    recs = [r for r in caplog.records if r.name == "clickhouse_sinker_spark.streaming.sink"]
    assert [(r.attempt, r.retry_times, r.sleep_s) for r in recs] == [(1, 5, 0.001), (2, 5, 0.002)]
    assert [r.error for r in recs] == ["ConnectionError: refused 1", "ConnectionError: refused 2"]
    assert all(r.levelname == "WARNING" and r.error in r.getMessage() for r in recs)


def test_with_retry_exhausts():
    def always_fail():
        raise RuntimeError("down")

    with pytest.raises(RuntimeError):
        with_retry(always_fail, retry_times=2, base_sleep=0.0)


def test_parse_ch_type_matrix():
    cases = {
        "Int8": ("Int8", False, False),
        "Nullable(UInt64)": ("UInt64", True, False),
        "Array(Nullable(Float32))": ("Float32", True, True),
        "LowCardinality(String)": ("String", False, False),
    }
    for s, (base, nullable, is_array) in cases.items():
        t = parse_ch_type(s)
        assert t.name == base and t.nullable == nullable and t.array == is_array


HJSON_SAMPLE = """
{
    # cluster config
    clickhouse: {
        hosts: [
            [
                10.0.0.1
                10.0.0.2
            ]
            [
                10.0.0.3
            ]
        ]
        port: 59000
        db: metrics
        username: ""
        retryTimes: 2
    }
    kafka: {
        brokers: broker1:9092,broker2:9092
        version: 2.5.0
        security.protocol: SASL_SSL
    }
    task: {
        name: t1
        topic: topic1
        consumerGroup: cg1
        earliest: true
        parser: json
        tableName: dst
        dims: [
            {
                name: time
                type: DateTime
            }
            {
                name: val
                type: Float32
                sourceName: v
            }
        ]
        fields: {"env": "prod", "dc": 3}
        shardingKey: val
        bufferSize: 50000
        PrometheusSchema: true
        DynamicSchema: {
            Enable: true
            MaxDims: 100
            whiteList: ^(key_[0-9]?|value[1-4]?)$
            blackList: ^(key_3)$
      }
    }
    logLevel: info
}
"""


def test_load_reference_style_hjson():
    from clickhouse_sinker_spark.config_io import load_config

    cfg = load_config(HJSON_SAMPLE)
    # shards = outer hosts list; replicas joined into one endpoint string
    assert cfg.clickhouse.shards == 2
    assert cfg.clickhouse.hosts[0] == "10.0.0.1:59000,10.0.0.2:59000"
    assert cfg.clickhouse.database == "metrics"
    assert cfg.clickhouse.retry_times == 2
    assert cfg.kafka.brokers == "broker1:9092,broker2:9092"
    assert cfg.kafka.spark_options()["kafka.security.protocol"] == "SASL_SSL"

    (t,) = cfg.tasks
    assert t.name == "t1" and t.parser == "fastjson" and t.table_name == "dst"
    assert t.dims == (("time", "DateTime", None), ("val", "Float32", "v"))
    assert t.fields == {"env": "prod", "dc": 3}
    assert t.sharding_key == "val"
    # quoteless regex values keep their [ ] ( ) $ characters intact
    assert t.white_list == "^(key_[0-9]?|value[1-4]?)$"
    assert t.black_list == "^(key_3)$"
    assert t.max_dims == 100
    # normalization chain applied: Prometheus => Dynamic => Auto
    assert t.prometheus_schema and t.dynamic_schema and t.auto_schema
    assert t.buffer_size == 65536  # next power of two from 50000


def test_jdbc_sink_options():
    from clickhouse_sinker_spark.streaming.sink import JdbcSink

    ch = ClickHouseConfig(hosts=("h0:8123", "h1:8123"), database="db", username="u",
                          password="p", shards=2, retry_times=1)
    sink = JdbcSink(ch, table="t", shards=2, batch_size=4096, async_insert=True)
    o0 = sink.jdbc_options(ch.replica_urls(0)[0])
    o1 = sink.jdbc_options(ch.replica_urls(1)[0])
    assert o0["url"].endswith("h0:8123/db") and o1["url"].endswith("h1:8123/db")
    assert o0["dbtable"] == "t" and o0["batchsize"] == "4096"
    assert "async_insert=1" in o0["sessionInitStatement"]  # S4 passthrough


def test_replica_urls_and_failover_fencing():
    from clickhouse_sinker_spark.streaming.sink import ShardReplicas

    # one shard, two replicas (pool/conn.go topology: inner list = replicas)
    ch = ClickHouseConfig(hosts=("r0:8123,r1:8123",), database="db", shards=1)
    assert ch.replica_urls(0) == [
        "jdbc:clickhouse://r0:8123/db",
        "jdbc:clickhouse://r1:8123/db",
    ]
    reps = ShardReplicas(ch)
    url0, ver0 = reps.current(0)
    assert url0.startswith("jdbc:clickhouse://r0") and ver0 == 0
    # two writers saw version 0; both report failure — only ONE advance
    # happens (failure-version fencing, pool/conn.go:83-136)
    url1, ver1 = reps.next_good_replica(0, failed_ver=ver0)
    assert url1.startswith("jdbc:clickhouse://r1") and ver1 == 1
    url2, ver2 = reps.next_good_replica(0, failed_ver=ver0)  # stale failure
    assert url2 == url1 and ver2 == 1  # fenced: no double-advance
    # a failure at the CURRENT version does advance (wraps to r0)
    url3, ver3 = reps.next_good_replica(0, failed_ver=ver1)
    assert url3.startswith("jdbc:clickhouse://r0") and ver3 == 2
