"""Source loading and sink writing for the Spark planner.

Batch reads use ``spark.read`` with declared schemas so Catalyst can push
filters/column pruning into the scan; the event-time metadata column is
derived per the descriptor's timestamp_field/format
(reference spark/dataframe_builder/source_sink_utils.py:52-125).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from feathub_spark.common.exceptions import PlanError
from feathub_spark.common.time_utils import event_time_sql
from feathub_spark.feature_tables.sinks.file_system_sink import FileSystemSink
from feathub_spark.feature_tables.sinks.misc_sinks import (
    BlackHoleSink,
    MemoryStoreSink,
    PrintSink,
)
from feathub_spark.feature_tables.sources.file_system_source import FileSystemSource
from feathub_spark.processors.spark.constants import EVENT_TIME_COL
from feathub_spark.table.table_descriptor import TableDescriptor


def append_event_time(df: DataFrame, descriptor: TableDescriptor) -> DataFrame:
    if descriptor.timestamp_field is None:
        return df
    from feathub_spark.common.time_utils import NATIVE
    from pyspark.sql import types as T

    field = descriptor.timestamp_field
    if descriptor.timestamp_format == NATIVE and isinstance(
        df.schema[field].dataType, T.LongType
    ):
        # Parquet TIMESTAMP(NANOS) read as bigint via nanosAsLong.
        return df.withColumn(
            EVENT_TIME_COL, F.expr(f"timestamp_micros(`{field}` div 1000)")
        )
    return df.withColumn(
        EVENT_TIME_COL,
        F.expr(event_time_sql(field, descriptor.timestamp_format)),
    )


# Inferred parquet schemas, keyed by file-content fingerprint + the session
# confs that shape inference: schema inference is a driver-side footer read
# costing ~70 ms per spark.read (~80% of the plan-build cost of a scan),
# paid again on EVERY get_table compile of the same source.  Applicability
# is deliberately NARROW so a cache hit is always sound:
# - local[*] masters only — on a cluster, a scheme-less path resolves
#   against the DEFAULT filesystem (HDFS/S3A) while os.stat sees the
#   driver's local disk, so the key could fingerprint a different file
#   than the one read (a metastore owns schemas in those deployments);
# - a regular file, or a single-level directory of regular files (the
#   shape Spark writes) — the key folds every direct entry's
#   (name, mtime_ns, size), so replacing part-files invalidates; nested/
#   partitioned layouts (date=*/...) skip the cache because their root
#   stat cannot see deep rewrites;
# - no reader options — pathGlobFilter/mergeSchema/recursiveFileLookup
#   change what inference would return (enforced at the call site);
# - the inference-shaping session confs ride inside the key so sessions
#   with different settings never share entries.
# Bounded FIFO (rewrites mint new keys forever on a long-lived driver).
_PARQUET_SCHEMA_CACHE: dict = {}
_PARQUET_SCHEMA_CACHE_MAX = 256

_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.timestampType",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)


def _cached_parquet_schema(spark: SparkSession, path: str):
    import os
    import re

    try:
        master = spark.conf.get("spark.master", "")
    except Exception:
        master = ""
    if not master.startswith("local"):
        return None
    p = path[7:] if path.startswith("file://") else path
    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", p):
        return None

    def _fingerprint():
        try:
            st = os.stat(p)
            if os.path.isdir(p):
                entries = []
                with os.scandir(p) as it:
                    for de in it:
                        if not de.is_file():
                            return None  # nested layout — stat can't be sound
                        est = de.stat()
                        entries.append((de.name, est.st_mtime_ns, est.st_size))
                return tuple(sorted(entries))
            return (st.st_mtime_ns, st.st_size)
        except OSError:
            return None

    fingerprint = _fingerprint()
    if fingerprint is None:
        return None
    try:
        confs = tuple(
            spark.conf.get(c, "") or "" for c in _INFERENCE_CONFS
        )
    except Exception:
        return None
    key = (os.path.abspath(p), fingerprint, confs)
    schema = _PARQUET_SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        # close the stat->infer TOCTOU window: a concurrent writer
        # replacing the files mid-inference would otherwise cache the NEW
        # file's schema under the OLD fingerprint; only cache when the
        # fingerprint is unchanged (the schema itself is still returned —
        # it reflects the data the reader will see next anyway)
        if _fingerprint() == fingerprint:
            if len(_PARQUET_SCHEMA_CACHE) >= _PARQUET_SCHEMA_CACHE_MAX:
                _PARQUET_SCHEMA_CACHE.pop(next(iter(_PARQUET_SCHEMA_CACHE)))
            _PARQUET_SCHEMA_CACHE[key] = schema
    return schema


def get_source_dataframe(spark: SparkSession, source: TableDescriptor) -> DataFrame:
    if isinstance(source, FileSystemSource):
        if source.data_format == "protobuf":
            from feathub_spark.processors.spark.protobuf_io import (
                read_protobuf_files,
            )

            return append_event_time(read_protobuf_files(spark, source), source)
        reader = spark.read.format(source.data_format)
        if source.schema is not None and getattr(source, "schema_declared", True):
            reader = reader.schema(source.schema.to_spark_struct())
        elif source.data_format == "parquet" and not source.data_format_props:
            # options (pathGlobFilter, mergeSchema, recursiveFileLookup...)
            # change what inference returns — never serve a bare-read
            # schema for an optioned source
            cached = _cached_parquet_schema(spark, source.path)
            if cached is not None:
                reader = reader.schema(cached)
        for k, v in source.data_format_props.items():
            reader = reader.option(k, v)
        if source.data_format == "csv":
            reader = reader.option("header", source.data_format_props.get("header", "true"))
        df = reader.load(source.path)
        return append_event_time(df, source)

    from feathub_spark.feature_tables.sources.datagen_source import DataGenSource

    if isinstance(source, DataGenSource):
        return append_event_time(source.to_dataframe(spark), source)

    from feathub_spark.feature_tables.sources.connector_sources import (
        HiveSource,
        JdbcSource,
        KafkaSource,
        MemoryStoreSource,
        RedisSource,
    )

    if isinstance(source, KafkaSource):
        if not source.is_bounded():
            raise PlanError(
                f"KafkaSource {source.name!r} is unbounded; use the streaming "
                "builder (get_stream_dataframe) or get_bounded_view()."
            )
        from feathub_spark.processors.spark.kafka_python_source import (
            kafka_format_for,
        )

        # "kafka" (JVM connector) when the jar is on the classpath, else
        # the pure-Python "kafka_py" data source — identical options and
        # output schema, so everything downstream is format-agnostic.
        reader = (
            spark.read.format(kafka_format_for(spark))
            .option("kafka.bootstrap.servers", source.bootstrap_server)
            .option("subscribe", source.topic)
            .option("endingOffsets", "latest")
        )
        for k, v in source.starting_offset_options().items():
            reader = reader.option(k, v)
        raw = reader.load()
        return append_event_time(_parse_kafka_value(raw, source), source)

    if isinstance(source, JdbcSource):
        reader = (
            spark.read.format("jdbc")
            .option("url", source.url)
            .option("dbtable", source.table)
        )
        if source.driver:
            reader = reader.option("driver", source.driver)
        if source.username:
            reader = reader.option("user", source.username)
        if source.password:
            reader = reader.option("password", source.password)
        if source.partition_column:
            # Parallel scan.  Spark REQUIRES partitionColumn, lowerBound,
            # upperBound, and numPartitions as a foursome (it does NOT
            # probe min/max itself).  Explicit bounds on the descriptor
            # skip the probe (one less round-trip, and at scale the user
            # usually knows the id range); otherwise fetch them with one
            # 1-row scalar query over the same connection options, and
            # fall back to the single-connection read on an empty table.
            col = source.partition_column
            lo, hi = source.lower_bound, source.upper_bound
            if lo is None or hi is None:
                # Spark's own JDBCRelation resolves partitionColumn
                # case-insensitively against the table schema BEFORE
                # quoting, so a Derby/Oracle table storing the column
                # uppercase works with a lowercase descriptor.  Mirror
                # that: resolve against the reader schema (a WHERE 1=0
                # metadata query — no data scan), exact match first,
                # then quote the STORED spelling; quoting the descriptor
                # spelling verbatim would miss the column entirely.
                try:
                    names = reader.load().schema.names
                except Exception:
                    names = []
                if col not in names:
                    folded = [n for n in names if n.lower() == col.lower()]
                    if len(folded) == 1:
                        col = folded[0]
                qcol = (
                    f"`{col}`"
                    if source.url.startswith("jdbc:mysql:")
                    else f'"{col}"'
                )
                bounds_reader = (
                    spark.read.format("jdbc")
                    .option("url", source.url)
                    .option(
                        "dbtable",
                        f"(SELECT MIN({qcol}) AS lo, MAX({qcol}) AS hi "
                        f"FROM {source.table}) feathub_bounds",
                    )
                )
                if source.driver:
                    bounds_reader = bounds_reader.option("driver", source.driver)
                if source.username:
                    bounds_reader = bounds_reader.option("user", source.username)
                if source.password:
                    bounds_reader = bounds_reader.option(
                        "password", source.password
                    )
                # positional access: Derby/Oracle report the aliases
                # uppercased (LO/HI) and Row lookup is case-sensitive
                row = bounds_reader.load().first()
                if row is not None and row[0] is not None:
                    lo, hi = row[0], row[1]
            if lo is not None and hi is not None:
                reader = (
                    reader.option("partitionColumn", col)
                    .option("lowerBound", str(lo))
                    .option("upperBound", str(hi))
                    .option("numPartitions", str(source.num_partitions))
                )
        return append_event_time(reader.load(), source)

    if isinstance(source, HiveSource):
        return append_event_time(
            spark.table(f"{source.database}.{source.table}"), source
        )

    if isinstance(source, MemoryStoreSource):
        from feathub_spark.online_stores.memory_online_store import MemoryOnlineStore

        pdf = MemoryOnlineStore.get_instance().snapshot(source.table_name)
        return append_event_time(spark.createDataFrame(pdf), source)

    if isinstance(source, RedisSource):
        return append_event_time(load_redis_snapshot(spark, source), source)

    raise PlanError(f"Unsupported source type {type(source).__name__}.")


def load_redis_snapshot(spark: SparkSession, source) -> DataFrame:
    """Batch snapshot of a RedisSource: SCAN the namespace's keys and
    HGETALL each hash through the redis client (import-gated), decode the
    RedisSink hash-field JSON codec, and build a DataFrame with the
    declared schema.

    Scale contract: the scan runs client-side at plan-build time because a
    Redis lookup table is by construction the SMALL side (the reference
    reads Redis only as a lookup source, redis_source.py:23-110 — the big
    side streams past it); the snapshot feeds broadcast/lookup joins.  A
    KV table too large to snapshot on the driver belongs in parquet, not
    Redis.  Timestamp-typed fields round-trip through the codec's
    ISO-string form; Bytes fields are not representable in the JSON hash
    codec and are rejected by RedisSink at write time.
    """
    try:
        import redis
    except ImportError as e:
        raise PlanError(
            "RedisSource requires the 'redis' package, which is not installed."
        ) from e

    import datetime as _dt

    from feathub_spark.online_stores.redis_client import decode_field

    client = redis.Redis(host=source.host, port=source.port, db=source.db_num)
    if source.key_expr:
        pattern = (
            source.key_expr.replace("__NAMESPACE__", source.namespace)
            .replace("__KEYS__", "*")
            .replace("__FEATURE_NAME__", "*")
        )
    else:
        pattern = f"{source.namespace}:*"
    names = list(source.schema.field_names)
    ts_fields = {
        n
        for n, t in zip(source.schema.field_names, source.schema.field_types)
        if getattr(t, "basic_dtype", None) is not None
        and t.basic_dtype.name == "TIMESTAMP"
    }
    rows = []
    for key in client.scan_iter(match=pattern):
        raw = client.hgetall(key)
        if not raw:
            # key deleted between SCAN and HGETALL — skip instead of
            # fabricating an all-NULL row
            continue
        rec = {}
        for c, v in raw.items():
            name = c.decode("utf-8") if isinstance(c, (bytes, bytearray)) else c
            if name not in names:
                continue
            val = decode_field(v)
            if name in ts_fields and isinstance(val, str):
                val = _dt.datetime.fromisoformat(val)
            rec[name] = val
        rows.append(tuple(rec.get(n) for n in names))
    struct = source.schema.to_spark_struct()
    return spark.createDataFrame(rows, struct)


def _parse_kafka_value(raw: DataFrame, source) -> DataFrame:
    struct = source.schema.to_spark_struct()
    if source.value_format == "json":
        return raw.select(
            F.from_json(F.col("value").cast("string"), struct).alias("v")
        ).select("v.*")
    if source.value_format == "csv":
        return raw.select(
            F.from_csv(F.col("value").cast("string"), struct.simpleString()).alias("v")
        ).select("v.*")
    if source.value_format == "protobuf":
        from feathub_spark.processors.spark.protobuf_io import (
            decode_protobuf_column,
        )

        return decode_protobuf_column(
            raw, "value", source.schema, getattr(source, "data_format_props", None)
        )
    raise PlanError(f"Unsupported Kafka value_format {source.value_format!r}.")


def insert_into_sink(df: DataFrame, sink, descriptor: TableDescriptor = None) -> None:
    if isinstance(sink, FileSystemSink):
        if sink.data_format == "protobuf":
            from feathub_spark.processors.spark.protobuf_io import (
                write_protobuf_files,
            )

            write_protobuf_files(
                df, sink.path, getattr(sink, "data_format_props", None)
            )
            return
        if sink.bucket_by:
            # External bucketed table: the catalog records the hash layout,
            # so scans report HashPartitioning(bucket_by) and keyed
            # joins/aggs/windows downstream skip their Exchange.
            writer = (
                df.write.format(sink.data_format)
                .options(**sink.data_format_props)
                .option("path", sink.path)
                .bucketBy(sink.n_buckets, *sink.bucket_by)
            )
            if sink.partition_by:
                writer = writer.partitionBy(*sink.partition_by)
            if sink.sort_by:
                writer = writer.sortBy(*sink.sort_by)
            writer.mode("overwrite").saveAsTable(sink.table_name)
            return
        # data_format_props reach the writer (compression codec, csv
        # header...) — they were silently dropped on this path before
        writer = df.write.format(sink.data_format).options(
            **sink.data_format_props
        )
        if sink.partition_by:
            # directory layout path/col=value/ -> partition pruning on
            # downstream scans filtered by the partition columns
            writer = writer.partitionBy(*sink.partition_by)
        writer.mode("overwrite").save(sink.path)
        return
    if isinstance(sink, PrintSink):
        df.show(sink.num_rows, truncate=False)
        return
    if isinstance(sink, BlackHoleSink):
        df.write.format("noop").mode("overwrite").save()
        return
    if isinstance(sink, MemoryStoreSink):
        from feathub_spark.online_stores.memory_online_store import MemoryOnlineStore

        MemoryOnlineStore.get_instance().put(
            sink.table_name,
            df,
            key_fields=descriptor.keys if descriptor is not None else None,
            timestamp_field=(
                descriptor.timestamp_field if descriptor is not None else None
            ),
        )
        return

    from feathub_spark.feature_tables.sinks.connector_sinks import (
        HiveSink,
        JdbcSink,
        KafkaSink,
        PrometheusSink,
        RedisSink,
    )

    if isinstance(sink, KafkaSink):
        keys = descriptor.keys if descriptor is not None else None
        value = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
        out = df.select(value.alias("value"))
        if keys:
            out = df.select(
                F.to_json(F.struct(*[F.col(k) for k in keys])).alias("key"),
                value.alias("value"),
            )
        from feathub_spark.processors.spark.kafka_python_source import (
            kafka_format_for,
        )

        (
            out.write.format(kafka_format_for(df.sparkSession))
            .option("kafka.bootstrap.servers", sink.bootstrap_server)
            .option("topic", sink.topic)
            .mode("append")  # both connectors treat Kafka writes as append
            .save()
        )
        return
    if isinstance(sink, JdbcSink):
        if sink.upsert_keys:
            _write_jdbc_upsert(df, sink, descriptor)
            return
        writer = (
            df.write.format("jdbc")
            .option("url", sink.url)
            .option("dbtable", sink.table)
            .mode("append")
        )
        if sink.driver:
            writer = writer.option("driver", sink.driver)
        if sink.username:
            writer = writer.option("user", sink.username)
        if sink.password:
            writer = writer.option("password", sink.password)
        writer.save()
        return
    if isinstance(sink, HiveSink):
        df.write.mode("append").saveAsTable(f"{sink.database}.{sink.table}")
        return
    if isinstance(sink, RedisSink):
        _write_redis(df, sink, descriptor)
        return
    if isinstance(sink, PrometheusSink):
        _write_prometheus(df, sink)
        return
    raise PlanError(f"Unsupported sink type {type(sink).__name__}.")


def upsert_sql(url: str, table: str, staging: str, cols, keys) -> str:
    """Dialect-specific key-upsert statement moving ``staging`` into
    ``table`` — the SQL half of JdbcSink's ``upsert_keys`` contract,
    factored out so the statement is unit-testable without a live DB.

    MySQL: INSERT ... ON DUPLICATE KEY UPDATE (requires a UNIQUE/PK on
    the upsert keys, the standard CDC table shape); PostgreSQL:
    INSERT ... ON CONFLICT (keys) DO UPDATE.  Other dialects raise —
    appending silently where the user declared upsert semantics would
    duplicate rows per key."""
    cols = list(cols)
    keys = list(keys)
    non_keys = [c for c in cols if c not in keys]
    col_list = ", ".join(cols)
    if url.startswith("jdbc:mysql:"):
        updates = ", ".join(
            f"{c} = VALUES({c})" for c in non_keys
        ) or f"{keys[0]} = {table}.{keys[0]}"
        return (
            f"INSERT INTO {table} ({col_list}) "
            f"SELECT {col_list} FROM {staging} "
            f"ON DUPLICATE KEY UPDATE {updates}"
        )
    if url.startswith("jdbc:postgresql:"):
        conflict = ", ".join(keys)
        updates = ", ".join(
            f"{c} = EXCLUDED.{c}" for c in non_keys
        ) or f"{keys[0]} = EXCLUDED.{keys[0]}"
        return (
            f"INSERT INTO {table} ({col_list}) "
            f"SELECT {col_list} FROM {staging} "
            f"ON CONFLICT ({conflict}) DO UPDATE SET {updates}"
        )
    if url.startswith("jdbc:derby:"):
        # ANSI MERGE (Derby >= 10.11).  Derby ships inside pyspark's jars,
        # so this dialect lets the full staged-upsert path run end-to-end
        # against a live embedded database in environments with no
        # external MySQL/PostgreSQL service.  Column identifiers are
        # double-quoted: Spark's JDBC writer CREATEs them quoted-lowercase,
        # and Derby folds an unquoted reference to uppercase — a miss.
        def q(c):
            return f'"{c}"'

        on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)
        updates = ", ".join(f"{q(c)} = s.{q(c)}" for c in non_keys)
        qcol_list = ", ".join(q(c) for c in cols)
        insert_vals = ", ".join(f"s.{q(c)}" for c in cols)
        matched = f"WHEN MATCHED THEN UPDATE SET {updates} " if non_keys else ""
        return (
            f"MERGE INTO {table} t USING {staging} s ON {on} "
            f"{matched}"
            f"WHEN NOT MATCHED THEN INSERT ({qcol_list}) "
            f"VALUES ({insert_vals})"
        )
    raise PlanError(
        f"JdbcSink upsert_keys is supported for mysql/postgresql/derby "
        f"URLs, not {url.split(':', 2)[:2]}; drop upsert_keys for plain "
        f"append."
    )


def dedupe_for_upsert(df: DataFrame, keys, timestamp_field=None) -> DataFrame:
    """One row per upsert key: a batch holding several versions of a key
    (the normal shape for windowed feature output) would make PostgreSQL's
    ON CONFLICT DO UPDATE abort with 'cannot affect row a second time' and
    leave MySQL's winner nondeterministic.  The survivor is the latest row
    by the descriptor's timestamp field when one exists; otherwise the
    ordering falls back to every non-key column so the pick is at least
    deterministic across runs."""
    keys = list(keys)

    def _orderable(dt) -> bool:
        # MapType (VALUE_COUNTS features) and anything containing one is
        # not orderable in Spark — ordering by it throws at analysis
        from pyspark.sql import types as T

        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    if timestamp_field and timestamp_field in df.columns:
        order = [F.col(timestamp_field).desc_nulls_last()]
    else:
        order = [
            F.col(f.name).desc_nulls_last()
            for f in df.schema.fields
            if f.name not in keys and _orderable(f.dataType)
        ] or [F.lit(1)]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__fh_upsert_rn", F.row_number().over(w))
        .filter(F.col("__fh_upsert_rn") == 1)
        .drop("__fh_upsert_rn")
    )


def _write_jdbc_upsert(df: DataFrame, sink, descriptor=None) -> None:
    """Key-upsert write: stage the batch via the parallel JDBC writer
    (overwrite), then one driver-side statement merges the staging table
    into the target — the executors never hold row-level upsert logic,
    and the merge is a single set-based statement on the database.

    The staging table name carries a per-call unique suffix (two
    concurrent upsert jobs into one target must not overwrite each
    other's staging mid-merge).  The merge statement is built BEFORE the
    staging write (an unsupported dialect fails fast, before any table
    exists) and the staging table is dropped in a finally once the merge
    connection is open — residue is possible only if the database
    becomes unreachable between the staged write and the merge, where no
    drop can run either."""
    ts_field = getattr(descriptor, "timestamp_field", None)
    df = dedupe_for_upsert(df, sink.upsert_keys, ts_field)
    staging = f"{sink.table}_feathub_stage_{uuid.uuid4().hex[:12]}"
    stmt = upsert_sql(sink.url, sink.table, staging, df.columns, sink.upsert_keys)
    writer = (
        df.write.format("jdbc")
        .option("url", sink.url)
        .option("dbtable", staging)
        .mode("overwrite")
    )
    if sink.driver:
        writer = writer.option("driver", sink.driver)
    if sink.username:
        writer = writer.option("user", sink.username)
    if sink.password:
        writer = writer.option("password", sink.password)
    writer.save()
    spark = df.sparkSession
    jvm = spark._sc._jvm
    if sink.driver:
        # DriverManager can't see drivers shipped via --jars (they load in
        # Spark's mutable classloader, not the system one) — mirror Spark's
        # own DriverRegistry workaround before falling back.
        try:
            jvm.org.apache.spark.sql.execution.datasources.jdbc.DriverRegistry.register(
                sink.driver
            )
        except Exception:
            jvm.java.lang.Class.forName(sink.driver)
    conn = jvm.java.sql.DriverManager.getConnection(
        sink.url, sink.username or "", sink.password or ""
    )
    try:
        st = conn.createStatement()
        try:
            st.executeUpdate(stmt)
        finally:
            try:
                if sink.url.startswith("jdbc:derby:"):
                    # Derby has no DROP TABLE IF EXISTS clause
                    try:
                        st.executeUpdate(f"DROP TABLE {staging}")
                    except Exception:
                        pass  # staging already gone — nothing to clean
                else:
                    st.executeUpdate(f"DROP TABLE IF EXISTS {staging}")
            finally:
                st.close()
    finally:
        conn.close()


def _write_redis(df: DataFrame, sink, descriptor) -> None:
    """Per-partition upsert through the redis client (import-gated)."""
    try:
        import redis  # noqa: F401
    except ImportError as e:
        raise PlanError(
            "RedisSink requires the 'redis' package, which is not installed."
        ) from e
    keys = descriptor.keys if descriptor is not None else None
    if not keys:
        raise PlanError("RedisSink requires the table to declare keys.")
    host, port, db_num, namespace = sink.host, sink.port, sink.db_num, sink.namespace
    key_expr = getattr(sink, "key_expr", None)
    columns = df.columns

    def write_partition(rows):
        import redis as redis_mod

        from feathub_spark.online_stores.redis_client import (
            build_redis_key,
            encode_field,
        )

        client = redis_mod.Redis(host=host, port=port, db=db_num)
        pipe = client.pipeline()
        for row in rows:
            d = row.asDict()
            # key_expr rides into the executor closure: the sink and the
            # RedisSource/RedisOnlineStore reader share one key scheme —
            # a sink writing 'ns:1' while the client reads 'ns#1' makes
            # every lookup silently miss
            key = build_redis_key(namespace, [d[k] for k in keys], key_expr)
            pipe.hset(
                key,
                mapping={c: encode_field(d[c]) for c in columns},
            )
        pipe.execute()

    df.foreachPartition(write_partition)


def _push_prometheus_partition(
    rows, host_url: str, job_name: str, prom_mod=None
) -> None:
    """Build one registry from an iterator of Rows and push it as the
    job's single metric group.  Runs on an executor inside
    foreachPartition; ``prom_mod`` is injectable for tests."""
    if prom_mod is None:
        import prometheus_client as prom_mod  # noqa: F811

    registry = prom_mod.CollectorRegistry()
    gauges = {}
    any_row = False
    for row in rows:
        any_row = True
        for col, val in row.asDict().items():
            if isinstance(val, (int, float)):
                if col not in gauges:
                    gauges[col] = prom_mod.Gauge(col, col, registry=registry)
                gauges[col].set(val)  # last row wins
    if not any_row:
        return
    prom_mod.push_to_gateway(host_url, job=job_name, registry=registry)


def _write_prometheus(df: DataFrame, sink) -> None:
    """Executor-side push to the gateway — no driver-side collect().

    A Prometheus gauge is one value per metric name, so the frame is
    reduced to a single partition (repartition keeps the upstream stages
    parallel; only the final push task is serial) and pushed as ONE
    metric group: dashboards read a defined latest value, and a rerun
    with different parallelism can never leave stale per-partition groups
    behind on the Pushgateway.  The serial tail is not a scale ceiling:
    the gateway ingests one value per metric name per push, so any frame
    worth pushing is already a small aggregate."""
    try:
        import prometheus_client  # noqa: F401
    except ImportError as e:
        raise PlanError(
            "PrometheusSink requires 'prometheus_client', which is not installed."
        ) from e
    host_url, job_name = sink.host_url, sink.job_name

    def push_partition(rows):
        _push_prometheus_partition(rows, host_url, job_name)

    # "last row wins" must be DETERMINISTIC: repartition(1) alone shuffles
    # rows into arbitrary order.  With an event time, the latest row is
    # the defined winner; otherwise a total sort over the (tiny metric)
    # frame fixes the order run-to-run.
    if EVENT_TIME_COL in df.columns:
        df = df.orderBy(F.col(EVENT_TIME_COL).desc()).limit(1)
    else:
        df = df.repartition(1).sortWithinPartitions(*df.columns)

    df.foreachPartition(push_partition)
