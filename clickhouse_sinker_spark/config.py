"""Task/pipeline configuration layer (≙ config/config.go).

Mirrors the reference's config surface — kafka source, clickhouse sink,
task (topic, parser, dims, sharding, flush) — with the same defaults and
normalization rules (config/config.go:259-522 ``Normallize``):

- flush interval default 10s, capped at 600s (config/config.go:431-438 area)
- buffer size default 2^18, rounded to a power of two
- timeUnit default 1.0 (seconds), timezone default local→UTC
- PrometheusSchema ⇒ DynamicSchema ⇒ AutoSchema implication chain
  (config/config.go:441-468 area)
- tasks sharing a consumer group share one source (C3,
  config/config.go:366-401): in Spark, one readStream feeding N sinks.

Kafka security options (TLS/SASL/GSSAPI — S2) are passthrough strings: the
Spark Kafka source accepts ``kafka.security.protocol``/``kafka.sasl.*``
directly (input/kafka_franz.go:125-187 builds the same client options in
code; here it's config, not code).  Set ``normalize_security=True`` to run
the reference's convertKfkSecurity semantics instead (security.py):
JKS stores convert to PEM and a missing ``sasl.jaas.config`` is
synthesized from the mechanism + credentials (config/config.go:525-567,
util/common.go:168-213).
"""

from __future__ import annotations

from dataclasses import dataclass, field

__all__ = ["KafkaConfig", "ClickHouseConfig", "TaskConfig", "normalize_tasks"]


@dataclass
class KafkaConfig:
    """≙ KafkaConfig (config/config.go:62-107)."""

    brokers: str = "localhost:9092"
    # security passthrough → spark options `kafka.*`
    security: dict[str, str] = field(default_factory=dict)
    # run convertKfkSecurity-style normalization (JKS→PEM, jaas synthesis)
    normalize_security: bool = False

    def spark_options(self) -> dict[str, str]:
        opts = {"kafka.bootstrap.servers": self.brokers}
        if self.normalize_security:
            from .security import kafka_security_options

            opts.update(kafka_security_options(self.security))
            return opts
        for k, v in self.security.items():
            opts[k if k.startswith("kafka.") else f"kafka.{k}"] = v
        return opts


@dataclass
class ClickHouseConfig:
    """≙ ClickHouseConfig (config/config.go:109-135): JDBC endpoint family.

    ``hosts`` carries one entry per shard; an entry may be a comma-separated
    replica list (pool/conn.go topology: outer = shards, inner = replicas).
    ``url_format`` / ``driver`` let tests and non-ClickHouse deployments
    point the same sink at any JDBC engine (the smoke tests use Spark's
    bundled embedded Derby).
    """

    hosts: tuple[str, ...] = ("localhost:8123",)
    database: str = "default"
    username: str = "default"
    password: str = ""
    shards: int = 1
    retry_times: int = 3  # ≙ RetryTimes (W4)
    url_format: str = "jdbc:clickhouse://{host}/{db}"
    driver: str = ""  # optional JDBC driver class override

    def replica_urls(self, shard: int = 0) -> list[str]:
        """One URL per replica of the shard (pool/conn.go:83-136 picks a
        single replica at a time and fails over; we do the same)."""
        entry = self.hosts[shard % len(self.hosts)]
        return [
            self.url_format.format(host=h.strip(), db=self.database)
            for h in entry.split(",")
            if h.strip()
        ]


@dataclass
class TaskConfig:
    """≙ TaskConfig (config/config.go:137-231)."""

    name: str = "task"
    topic: str = "topic"
    consumer_group: str = "group"
    earliest: bool = True
    parser: str = "fastjson"  # fastjson | gjson | csv
    csv_format: tuple[str, ...] = ()
    delimiter: str = ","
    table_name: str = "table"
    # dims: [(name, ch_type, source_name?)] — None → AutoSchema from sink
    dims: tuple[tuple, ...] = ()
    auto_schema: bool = False
    dynamic_schema: bool = False
    prometheus_schema: bool = False
    exclude_columns: tuple[str, ...] = ()
    series_table_name: str = ""
    white_list: str = ""
    black_list: str = ""
    max_dims: int = 0
    sharding_key: str = ""
    sharding_stripe: int = 0
    flush_interval: int = 10  # seconds (W1)
    buffer_size: int = 1 << 18  # rows per micro-batch target (W1/W2)
    time_unit: float = 1.0
    timezone: str = "UTC"
    fields: dict = field(default_factory=dict)  # constant-field injection (P5)


def normalize_tasks(tasks: list[TaskConfig]) -> list[TaskConfig]:
    """Apply the reference's default/implication chain (Normallize,
    config/config.go:259-445): Prometheus ⇒ Dynamic ⇒ Auto schema; flush
    interval clamp [1, 600]; buffer size to a power of two ≥ 2^10."""
    for t in tasks:
        if t.prometheus_schema:
            t.dynamic_schema = True
        if t.dynamic_schema:
            t.auto_schema = True
        t.flush_interval = min(max(t.flush_interval, 1), 600)
        size = 1 << 10
        while size < min(t.buffer_size, 1 << 27):  # cap 1<<27 (W1)
            size <<= 1
        t.buffer_size = size
        if t.time_unit <= 0:
            t.time_unit = 1.0
    return tasks
