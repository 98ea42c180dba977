"""Processing-time lookup joins (reference join_utils.py:185-222,
``FOR SYSTEM_TIME AS OF proctime`` against a KV store).

Spark has no streaming lookup-join primitive, so the engine provides the two
idiomatic realizations:

- **batch**: LEFT broadcast-join against a snapshot DataFrame of the KV
  store taken at plan time (the snapshot is small by definition — it is a
  per-key latest-row table);
- **streaming**: foreachBatch enrichment — every micro-batch is joined
  against the CURRENT store contents, giving true processing-time semantics
  (each batch sees the store as of its own execution).

``MemoryLookup`` adapts the in-process MemoryOnlineStore; a Redis adapter
plugs in the same interface (import-gated, per-partition pipelined mget).
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from feathub_spark.common.exceptions import PlanError


class MemoryLookup:
    """Snapshot provider over MemoryOnlineStore.

    ``schema`` (a feathub Schema or a Spark StructType) makes empty-store
    snapshots TYPE-STABLE: without it, a 0-row table synthesizes
    all-string columns, so enrichment dtypes would flip once the store
    fills — fatal for schema-checked streaming sinks — and a table that
    has never been written cannot be snapshotted at all (its columns are
    unknown)."""

    def __init__(
        self,
        table_name: str,
        feature_names: Optional[Sequence[str]] = None,
        schema=None,
    ):
        self.table_name = table_name
        self.feature_names = list(feature_names) if feature_names else None
        self.schema = schema

    def _struct(self):
        if self.schema is None:
            return None
        if hasattr(self.schema, "to_spark_struct"):
            return self.schema.to_spark_struct()
        return self.schema

    def snapshot(self, spark: SparkSession) -> DataFrame:
        from feathub_spark.online_stores.memory_online_store import MemoryOnlineStore

        store = MemoryOnlineStore.get_instance()
        struct = self._struct()
        if self.table_name not in store.all_tables():
            # never-written table: the documented empty-store behavior is
            # left-join NULL enrichment, which needs a declared schema —
            # the store has no column names to synthesize from
            if struct is None:
                raise PlanError(
                    f"Lookup table {self.table_name!r} has never been "
                    "written and MemoryLookup has no declared schema; pass "
                    "schema= for NULL enrichment before the first put()."
                )
            return spark.createDataFrame([], struct)
        pdf = store.snapshot(self.table_name, self.feature_names)
        if len(pdf) == 0:
            if struct is not None:
                from pyspark.sql.types import StructType

                kept = [f for f in struct.fields if f.name in pdf.columns]
                return spark.createDataFrame([], StructType(kept))
            # schema inference fails on a 0-row object-dtype frame; an
            # empty store must still produce the documented left-join
            # NULL-enrichment, so synthesize an all-NULL-string schema
            # from the column names (declare schema= for stable dtypes)
            from pyspark.sql.types import StringType, StructField, StructType

            return spark.createDataFrame(
                [], StructType([StructField(c, StringType()) for c in pdf.columns])
            )
        out = spark.createDataFrame(pdf)
        if struct is not None:
            by_name = {f.name: f.dataType for f in struct.fields}
            out = out.select(
                *[
                    F.col(c).cast(by_name[c]).alias(c) if c in by_name else F.col(c)
                    for c in out.columns
                ]
            )
        return out


class RedisLookup:
    """Snapshot provider over a RedisSource: plan-time SCAN snapshot via
    load_redis_snapshot (import-gated redis client).  The snapshot is the
    per-key latest-row table RedisSink maintains — small by construction,
    so lookup_join broadcasts it; dtypes come from the source's declared
    schema, stable even when the namespace is empty."""

    def __init__(self, source) -> None:
        self.source = source

    def snapshot(self, spark: SparkSession) -> DataFrame:
        from feathub_spark.processors.spark.source_sink_utils import (
            load_redis_snapshot,
        )

        snap = load_redis_snapshot(spark, self.source)
        if self.source.keys:
            # defensive latest-wins dedup: HSET upserts keep one hash per
            # key, so duplicates only appear if key_expr fans out — keep
            # the join 1:1 regardless
            snap = snap.dropDuplicates(list(self.source.keys))
        return snap


def lookup_join(
    left: DataFrame,
    lookup,
    keys: Sequence[str],
    spark: Optional[SparkSession] = None,
) -> DataFrame:
    """Batch processing-time lookup join: LEFT join against a broadcast
    snapshot of the KV table (the snapshot is tiny relative to the fact
    side, so the fact side is never shuffled)."""
    spark = spark or left.sparkSession
    snap = lookup.snapshot(spark) if hasattr(lookup, "snapshot") else lookup
    return left.join(F.broadcast(snap), on=list(keys), how="left")


def streaming_lookup_enrich(
    stream_df: DataFrame,
    lookup,
    keys: Sequence[str],
    sink_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: Optional[str] = None,
    query_name: Optional[str] = None,
):
    """Streaming lookup join via foreachBatch: each micro-batch is joined
    against the store contents AT BATCH TIME (processing-time semantics),
    then handed to ``sink_fn(batch_df, batch_id)``."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        enriched = lookup_join(batch_df, lookup, keys, batch_df.sparkSession)
        sink_fn(enriched, batch_id)

    writer = stream_df.writeStream.foreachBatch(process).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if query_name:
        writer = writer.queryName(query_name)
    return writer.start()
