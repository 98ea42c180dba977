"""SparkProcessor: compiles descriptors and executes them on a SparkSession.

Mirrors the responsibilities of the reference SparkProcessor
(processors/spark/spark_processor.py:75-99): session-level config (UTC
session timezone so epoch-aligned windows and timestamp parsing are engine-
independent), descriptor compilation, key/time-range filtered reads, and
sink materialization.
"""

from __future__ import annotations

from datetime import datetime
from typing import Optional, Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from feathub_spark.processors.spark.constants import EVENT_TIME_COL, METADATA_COLS
from feathub_spark.processors.spark.dataframe_builder import SparkDataFrameBuilder
from feathub_spark.registries.registry import LocalRegistry
from feathub_spark.table.table import Table
from feathub_spark.table.table_descriptor import TableDescriptor


def default_spark_session(app_name: str = "feathub_spark", cpus: int = 0) -> SparkSession:
    """SparkSession tuned for this engine: UTC session tz (window alignment +
    timestamp parsing are timezone-dependent), AQE on (runtime re-plan, skew
    join handling), non-ANSI mode (NULL-on-error semantics like x[missing]).

    Shuffle width: batch exchanges start 32 wide and AQE coalesces them.
    A new streaming query records ``spark.sql.shuffle.partitions`` as its
    number of state partitions, and runs its micro-batches without AQE, so
    that setting is the master's core count: one state-store task per
    core.  ``SPARK_SHUFFLE_PARTITIONS``, when set, sets both widths."""
    import os

    master = f"local[{cpus}]" if cpus > 0 else "local[*]"
    partitions = os.environ.get("SPARK_SHUFFLE_PARTITIONS")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", master))
        .config("spark.sql.session.timeZone", "UTC")
        # under AQE this, not spark.sql.shuffle.partitions, sets the width
        # of a batch exchange before coalescing
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                partitions or "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan (coalesce, broadcast) around cached intermediates;
        # without it every register_cache() subtree pins its static 32/64-
        # partition exchanges — measured 2x wall on cache-heavy graph plans
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.legacy.sizeOfNull", "false")
        # Parquet TIMESTAMP(NANOS) columns (unsupported by Spark natively)
        # surface as bigint nanos; append_event_time converts them.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # UI off by default (test/bench startup cost); SPARK_UI_ENABLED=true
        # turns it on for tools that read stage metrics over the REST API
        # (tools/scale_study.py's spill capture)
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
    )
    spark = builder.getOrCreate()
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        partitions or str(spark.sparkContext.defaultParallelism),
    )
    return spark


class SparkProcessor:
    def __init__(
        self,
        spark: SparkSession,
        registry: Optional[LocalRegistry] = None,
        over_window_salt_chunk_ms=None,
        asof_salt_chunk_ms=None,
    ) -> None:
        self.spark = spark
        self.registry = registry or LocalRegistry()
        # Hot-key mitigation for unbounded over-windows and as-of joins
        # (docs/SCALE.md).  Each accepts an explicit chunk_ms int, or
        # "auto" / an AutoSalt policy: the plan-time skew probe
        # (skew_probe.py) then picks the salted plan only when it detects a
        # hot key worth splitting.
        self.over_window_salt_chunk_ms = over_window_salt_chunk_ms
        self.asof_salt_chunk_ms = asof_salt_chunk_ms
        # salt decisions from the most recent get_table() compile — plan
        # tests read this to assert which physical strategy was chosen.
        self.last_salt_decisions: list = []
        # long-lived skew-probe memoization shared by every builder this
        # processor creates — the probe's "pay once" contract
        self._skew_probe_cache: dict = {}
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        try:
            spark.conf.set("spark.sql.ansi.enabled", "false")
        except Exception:
            pass

    def get_table(
        self,
        descriptor: TableDescriptor,
        keys: Union[pd.DataFrame, DataFrame, TableDescriptor, None] = None,
        start_datetime: Optional[datetime] = None,
        end_datetime: Optional[datetime] = None,
    ) -> Table:
        if not descriptor.is_resolved():
            descriptor = self.registry.build_features(descriptor)[0]
        builder = SparkDataFrameBuilder(
            self.spark, self.registry, self.over_window_salt_chunk_ms,
            self.asof_salt_chunk_ms,
            probe_cache=self._skew_probe_cache,
        )
        df = builder.build_with_event_time(descriptor)
        self.last_salt_decisions = builder.salt_decisions

        if start_datetime is not None or end_datetime is not None:
            # event_time >= start AND event_time < end
            # (reference spark_dataframe_builder.py:360-382)
            if EVENT_TIME_COL not in df.columns:
                raise ValueError(
                    "start/end_datetime filters require a timestamp_field."
                )
            # naive datetimes are UTC wall times (the engine pins
            # spark.sql.session.timeZone=UTC and parses event times as
            # UTC) — a bare F.lit(naive) would go through the DRIVER's
            # local timezone and shift the range by its UTC offset
            def _as_utc(dt):
                from datetime import timezone as _tz

                return dt.replace(tzinfo=_tz.utc) if dt.tzinfo is None else dt

            if start_datetime is not None:
                df = df.filter(
                    F.col(EVENT_TIME_COL) >= F.lit(_as_utc(start_datetime))
                )
            if end_datetime is not None:
                df = df.filter(
                    F.col(EVENT_TIME_COL) < F.lit(_as_utc(end_datetime))
                )

        if keys is not None:
            key_df = self._to_key_dataframe(keys, builder)
            key_cols = list(key_df.columns)
            missing = [k for k in key_cols if k not in df.columns]
            if missing:
                raise ValueError(f"Key fields {missing} not in table output.")
            # left_semi keeps rows whose keys appear in the keys table
            # (reference spark_dataframe_builder.py:136-148).  A pandas
            # key set is driver-resident and therefore small — broadcast
            # it so the fact side never shuffles.  A DataFrame or
            # TableDescriptor key set may be arbitrarily large: forcing a
            # broadcast there OOMs on a big key table, so leave the
            # strategy to Catalyst/AQE (which still broadcasts small
            # sides from runtime stats).
            key_set = key_df.distinct()
            if isinstance(keys, pd.DataFrame):
                key_set = F.broadcast(key_set)
            df = df.join(key_set, on=key_cols, how="left_semi")

        df = df.drop(*[c for c in df.columns if c in METADATA_COLS])
        return Table(df, descriptor, self)

    def _to_key_dataframe(self, keys, builder: SparkDataFrameBuilder) -> DataFrame:
        if isinstance(keys, pd.DataFrame):
            return self.spark.createDataFrame(keys)
        if isinstance(keys, DataFrame):
            return keys
        if isinstance(keys, TableDescriptor):
            d = keys if keys.is_resolved() else self.registry.build_features(keys)[0]
            return builder.build(d)
        raise ValueError(f"Unsupported keys type {type(keys).__name__}.")

    def materialize_features(self, descriptor: TableDescriptor, sink) -> None:
        table = self.get_table(descriptor)
        table.execute_insert(sink)

    # -- streaming -------------------------------------------------------
    def get_stream_dataframe(self, descriptor: TableDescriptor) -> DataFrame:
        """Compile to a Structured Streaming DataFrame (stream-batch
        unification: same descriptors, streaming physical plan)."""
        from feathub_spark.streaming.stream_builder import SparkStreamBuilder

        if not descriptor.is_resolved():
            descriptor = self.registry.build_features(descriptor)[0]
        return SparkStreamBuilder(self.spark, self.registry).build(descriptor)

    def materialize_stream(
        self,
        descriptor: TableDescriptor,
        sink,
        checkpoint_dir=None,
        query_name=None,
        output_mode: str = "append",
    ):
        from feathub_spark.streaming.stream_builder import write_stream

        if not descriptor.is_resolved():
            descriptor = self.registry.build_features(descriptor)[0]
        df = self.get_stream_dataframe(descriptor)
        # batch materialization drops the timestamp field when the sink
        # declares keep_timestamp_field=False — the streaming path must
        # agree or the same sink gets two output schemas
        if (
            not getattr(sink, "keep_timestamp_field", True)
            and descriptor.timestamp_field
            and descriptor.timestamp_field in df.columns
        ):
            df = df.drop(descriptor.timestamp_field)
        return write_stream(
            df, sink, descriptor, checkpoint_dir, query_name, output_mode
        )


class FeathubClient:
    """Small façade mirroring the reference client entry points
    (feathub_client.py:54-155)."""

    def __init__(
        self, spark: Optional[SparkSession] = None, metric_store=None
    ) -> None:
        self.spark = spark or default_spark_session()
        self.registry = LocalRegistry()
        self.processor = SparkProcessor(self.spark, self.registry)
        self.metric_store = metric_store

    def build_features(self, descriptors) -> list:
        return self.registry.build_features(descriptors)

    def get_features(
        self,
        features: TableDescriptor,
        keys=None,
        start_datetime: Optional[datetime] = None,
        end_datetime: Optional[datetime] = None,
    ) -> Table:
        return self.processor.get_table(features, keys, start_datetime, end_datetime)

    def materialize_features(self, features: TableDescriptor, sink) -> None:
        self.processor.materialize_features(features, sink)
        # metric piggybacking (reference metric_store.py:89-140): features
        # declaring metrics get a sliding metric view written to the metric
        # store's sink as part of the same materialization call
        if self.metric_store is not None:
            resolved = (
                features
                if features.is_resolved()
                else self.registry.get_features(features.name)
            )
            metrics_by_feature = {
                f.name: f.metrics
                for f in getattr(resolved, "get_resolved_features", list)()
                if getattr(f, "metrics", None)
            }
            if metrics_by_feature:
                self.metric_store.materialize(
                    self.processor, features, metrics_by_feature
                )
