"""Connector sources beyond the filesystem.

Descriptor semantics mirror the reference connectors; the planner maps each
to the idiomatic Spark reader:

- KafkaSource (reference feature_tables/sources/kafka_source.py:25-100):
  batch (bounded) → ``spark.read.format("kafka")`` with
  startingOffsets/endingOffsets; streaming → ``spark.readStream``; the
  value payload is parsed per ``value_format`` (json/csv) against the
  declared schema.
- JdbcSource / MySQLSource (mysql_source.py:22): ``spark.read.format("jdbc")``.
- HiveSource (hive_source.py:47): ``spark.table(db.tbl)`` (needs
  enableHiveSupport).
- RedisSource (redis_source.py:23-110): a KV lookup table; batch mapping is
  a snapshot DataFrame provided by the caller (broadcast-joined), since core
  Spark has no Redis connector.
- MemoryStoreSource (memory_store_source.py:24): a table in the in-process
  MemoryOnlineStore → ``spark.createDataFrame``.
"""

from __future__ import annotations

from datetime import timedelta
from typing import Optional, Sequence

from feathub_spark.common.exceptions import FeathubError, PlanError
from feathub_spark.table.schema import Schema
from feathub_spark.feature_tables.feature_table import FeatureTable


class KafkaSource(FeatureTable):
    def __init__(
        self,
        name: str,
        bootstrap_server: str,
        topic: str,
        schema: Schema,
        key_format: str = "json",
        value_format: str = "json",
        consumer_group: str = "feathub",
        keys: Optional[Sequence[str]] = None,
        timestamp_field: Optional[str] = None,
        timestamp_format: str = "epoch",
        startup_mode: str = "group-offsets",
        startup_datetime=None,
        max_out_of_orderness: timedelta = timedelta(0),
        is_bounded: bool = False,
    ) -> None:
        super().__init__(
            name,
            system_name="kafka",
            schema=schema,
            keys=keys,
            timestamp_field=timestamp_field,
            timestamp_format=timestamp_format,
        )
        self.bootstrap_server = bootstrap_server
        self.topic = topic
        self.key_format = key_format
        self.value_format = value_format
        self.consumer_group = consumer_group
        if startup_mode not in (
            "earliest-offset", "latest-offset", "group-offsets", "timestamp"
        ):
            raise FeathubError(
                f"Invalid startup_mode {startup_mode!r}; valid values: "
                "earliest-offset, latest-offset, group-offsets, timestamp."
            )
        if startup_mode == "timestamp" and startup_datetime is None:
            # reference kafka_source.py:129 validates the same way
            raise FeathubError(
                "startup_datetime is required when startup_mode is timestamp."
            )
        self.startup_mode = startup_mode
        self.startup_datetime = startup_datetime
        self.max_out_of_orderness = max_out_of_orderness
        self._is_bounded = is_bounded

    def is_bounded(self) -> bool:
        return self._is_bounded

    def get_bounded_view(self) -> "KafkaSource":
        if self._is_bounded:
            return self
        import copy

        bounded = copy.copy(self)
        bounded._is_bounded = True
        return bounded

    def starting_offset_options(self, streaming: bool = False) -> dict:
        """Reader options selecting the start position.  The timestamp
        mode uses ``startingTimestamp`` (applies to every partition) —
        feeding a millisecond timestamp into ``startingOffsets`` would be
        read as a partition OFFSET json, seeking ~1.7e12 records past the
        log end and failing on any multi-partition topic.

        ``group-offsets`` (the reference default) has no literal Spark
        equivalent — Spark tracks positions in the query checkpoint, not
        the Kafka consumer group.  For STREAMING reads the checkpoint IS
        the committed position (startingOffsets only governs the very
        first start), so earliest is the faithful mapping.  For BATCH
        reads there is no checkpoint: mapping to earliest silently
        re-reads the whole topic on every run (duplicate feature writes
        downstream), so it raises and the user picks an explicit
        position."""
        if self.startup_mode == "latest-offset":
            return {"startingOffsets": "latest"}
        if self.startup_mode == "timestamp":
            ts_ms = int(self.startup_datetime.timestamp() * 1000)
            return {"startingTimestamp": str(ts_ms)}
        if self.startup_mode == "group-offsets" and not streaming:
            raise PlanError(
                "startup_mode='group-offsets' has no batch-read Spark "
                "equivalent (Spark tracks offsets in the streaming query "
                "checkpoint, not the consumer group). Use "
                "'earliest-offset', 'latest-offset' or 'timestamp' for "
                "bounded reads."
            )
        return {"startingOffsets": "earliest"}


class JdbcSource(FeatureTable):
    def __init__(
        self,
        name: str,
        url: str,
        table: str,
        schema: Optional[Schema] = None,
        driver: Optional[str] = None,
        username: Optional[str] = None,
        password: Optional[str] = None,
        keys: Optional[Sequence[str]] = None,
        timestamp_field: Optional[str] = None,
        timestamp_format: str = "epoch",
        partition_column: Optional[str] = None,
        num_partitions: int = 32,
        lower_bound=None,
        upper_bound=None,
    ) -> None:
        super().__init__(
            name,
            system_name="jdbc",
            schema=schema,
            keys=keys,
            timestamp_field=timestamp_field,
            timestamp_format=timestamp_format,
        )
        self.url = url
        self.table = table
        self.driver = driver
        self.username = username
        self.password = password
        # partition_column enables parallel JDBC reads — required for any
        # non-toy table: a single-connection scan cannot feed a cluster.
        # Explicit lower/upper bounds skip the min/max probe query.
        self.partition_column = partition_column
        self.num_partitions = num_partitions
        self.lower_bound = lower_bound
        self.upper_bound = upper_bound


class MySQLSource(JdbcSource):
    def __init__(
        self,
        name: str,
        database: str,
        table: str,
        host: str,
        port: int = 3306,
        username: Optional[str] = None,
        password: Optional[str] = None,
        schema: Optional[Schema] = None,
        keys: Optional[Sequence[str]] = None,
        timestamp_field: Optional[str] = None,
        timestamp_format: str = "epoch",
    ) -> None:
        super().__init__(
            name,
            url=f"jdbc:mysql://{host}:{port}/{database}",
            table=table,
            schema=schema,
            driver="com.mysql.cj.jdbc.Driver",
            username=username,
            password=password,
            keys=keys,
            timestamp_field=timestamp_field,
            timestamp_format=timestamp_format,
        )


class HiveSource(FeatureTable):
    def __init__(
        self,
        name: str,
        database: str,
        table: str,
        schema: Optional[Schema] = None,
        keys: Optional[Sequence[str]] = None,
        timestamp_field: Optional[str] = None,
        timestamp_format: str = "epoch",
    ) -> None:
        super().__init__(
            name,
            system_name="hive",
            schema=schema,
            keys=keys,
            timestamp_field=timestamp_field,
            timestamp_format=timestamp_format,
        )
        self.database = database
        self.table = table


class RedisSource(FeatureTable):
    """KV lookup table previously written by RedisSink.  Core Spark has no
    Redis connector: batch plans join against a snapshot DataFrame loaded
    via the (optional) ``redis`` client at plan-build time, broadcast to
    executors; streaming enrichment would use foreachBatch."""

    def __init__(
        self,
        name: str,
        schema: Schema,
        keys: Sequence[str],
        host: str,
        port: int = 6379,
        mode: str = "standalone",
        db_num: int = 0,
        namespace: str = "default",
        key_expr: Optional[str] = None,
    ) -> None:
        super().__init__(
            name, system_name="redis", schema=schema, keys=keys
        )
        self.host = host
        self.port = port
        self.mode = mode
        self.db_num = db_num
        self.namespace = namespace
        self.key_expr = key_expr


class MemoryStoreSource(FeatureTable):
    def __init__(
        self,
        name: str,
        keys: Sequence[str],
        table_name: str,
        schema: Optional[Schema] = None,
    ) -> None:
        super().__init__(name, system_name="memory", schema=schema, keys=keys)
        self.table_name = table_name

    def get_output_schema(self) -> Schema:
        if self.schema is None:
            import pandas as pd

            from feathub_spark.common import types as t
            from feathub_spark.online_stores.memory_online_store import (
                MemoryOnlineStore,
            )

            pdf = MemoryOnlineStore.get_instance().snapshot(self.table_name)
            names, dtypes = [], []
            for col, dt in zip(pdf.columns, pdf.dtypes):
                names.append(col)
                s = str(dt)
                if s.startswith("int"):
                    dtypes.append(t.Int64)
                elif s.startswith("float"):
                    dtypes.append(t.Float64)
                elif s.startswith("datetime"):
                    dtypes.append(t.Timestamp)
                elif s == "bool":
                    dtypes.append(t.Bool)
                else:
                    dtypes.append(t.String)
            self.schema = Schema(names, dtypes)
        return self.schema
