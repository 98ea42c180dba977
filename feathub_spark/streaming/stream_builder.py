"""Structured Streaming compilation path.

Stream-batch unification: ``SparkStreamBuilder`` is the batch
``SparkDataFrameBuilder`` with a streaming physical layer.  The phase order
of a view compile, its per-row lowering (expressions and Python UDFs),
validations, filter and output projection are the batch builder's; this
subclass overrides only what runs differently on a stream:

- sources → ``spark.readStream`` (file directory, Kafka, rate for datagen)
  with watermark = event_time - (max_out_of_orderness + 1ms), mirroring
  source_sink_utils_common.py:95-103; nothing is registered as a temp view,
  so batch ``SqlFeatureView`` consumers keep reading batch tables;
- as-of joins → ``stateful_asof_join``;
- over windows → ``stateful_over_window``, one operator per group_by_keys;
- sliding windows → the stateful over-window operator for infinite
  windows; ``stateful_sliding_window`` for empty-window defaults, skip-same
  output, ``limit``, VALUE_COUNTS, and several window sizes whose largest
  spans more than ``_NATIVE_MULTI_SIZE_MAX_STEPS`` steps; otherwise Spark's
  native windowed aggregation over the largest window, every smaller size
  gated in the same pass, in append or complete mode.

The stateful operators are folds of one keyed-state driver
(``keyed_state.py``).  A streaming view may hold one of them: a second one
in the same plan raises ``PlanError`` at compile time, since Spark would
refuse to start the query; such a view needs the batch path.

Sinks → native streaming writers where they exist (kafka, file, noop),
``foreachBatch`` + the batch sink writer otherwise.
"""

from __future__ import annotations

import os
from datetime import timedelta
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, functions as F

from feathub_spark.common.exceptions import PlanError
from feathub_spark.common.time_utils import timedelta_ms
from feathub_spark.common.types import to_spark_type
from feathub_spark.feature_tables.sources.connector_sources import KafkaSource
from feathub_spark.feature_tables.sources.datagen_source import DataGenSource
from feathub_spark.feature_tables.sources.file_system_source import FileSystemSource
from feathub_spark.feature_views.derived_feature_view import DerivedFeatureView
from feathub_spark.feature_views.feature import Feature
from feathub_spark.feature_views.feature_view import FeatureView
from feathub_spark.feature_views.sliding_feature_view import SlidingFeatureView
from feathub_spark.feature_views.transforms.agg_func import AggFunc
from feathub_spark.feature_views.transforms.over_window_transform import (
    OverWindowTransform,
)
from feathub_spark.feature_views.transforms.python_udf_transform import (
    PythonUdfTransform,
)
from feathub_spark.processors.spark.agg_table import (
    LOWERINGS,
    gated_sql,
    single_phase,
    with_empty_default,
)
from feathub_spark.processors.spark.constants import EVENT_TIME_COL, WINDOW_TIME_MS_COL
from feathub_spark.processors.spark.dataframe_builder import SparkDataFrameBuilder
from feathub_spark.processors.spark.over_window_utils import (
    _array_agg_sql,
    _sort_pairs_sql,
)
from feathub_spark.processors.spark.sliding_window_utils import SlidingAggField
from feathub_spark.processors.spark.source_sink_utils import (
    _parse_kafka_value,
    append_event_time,
)
from feathub_spark.streaming.stateful_asof_join import stateful_asof_join
from feathub_spark.streaming.stateful_over import stateful_over_window
from feathub_spark.streaming.stateful_sliding import stateful_sliding_window
from feathub_spark.table.table_descriptor import TableDescriptor


def _watermark_delay_ms(descriptor: TableDescriptor) -> int:
    """max_out_of_orderness + 1ms of a source, or of a view's source."""
    if isinstance(descriptor, FeatureView):
        descriptor = descriptor.get_resolved_source()
    ooo = getattr(descriptor, "max_out_of_orderness", None) or timedelta(0)
    return timedelta_ms(ooo) + 1


def _watermarked(df: DataFrame, delay_ms: int) -> DataFrame:
    """``df`` with a watermark on its event-time column.  ``withWatermark``
    tags the column's metadata with ``spark.watermarkDelayMs``; a stateful
    operator's output column no longer carries the tag (yet a following
    native windowed aggregation needs a watermarked input; a following
    stateful operator is refused by ``keyed_state``), and re-watermarking
    a tagged column fails ("Redefining watermark is disallowed").  So the
    tag alone decides."""
    if (
        EVENT_TIME_COL not in df.columns
        or "spark.watermarkDelayMs" in df.schema[EVENT_TIME_COL].metadata
    ):
        return df
    return df.withWatermark(EVENT_TIME_COL, f"{delay_ms} milliseconds")


class SparkStreamBuilder(SparkDataFrameBuilder):
    def _register_temp_view(self, name: str, df: DataFrame) -> None:
        pass

    def _read_source(self, source: TableDescriptor) -> DataFrame:
        if isinstance(source, FileSystemSource):
            if source.schema is None:
                raise PlanError("Streaming file sources need a declared schema.")
            reader = (
                self._spark.readStream.format(source.data_format)
                .schema(source.schema.to_spark_struct())
            )
            for k, v in source.data_format_props.items():
                reader = reader.option(k, v)
            if source.data_format == "csv":
                # default only — a user-supplied header=false must win
                # (the batch path already defaults the same way)
                reader = reader.option(
                    "header", source.data_format_props.get("header", "true")
                )
            df = reader.load(source.path)
        elif isinstance(source, KafkaSource):
            from feathub_spark.processors.spark.kafka_python_source import (
                kafka_format_for,
            )

            kreader = (
                self._spark.readStream.format(kafka_format_for(self._spark))
                .option("kafka.bootstrap.servers", source.bootstrap_server)
                .option("subscribe", source.topic)
            )
            for k, v in source.starting_offset_options(streaming=True).items():
                kreader = kreader.option(k, v)
            df = _parse_kafka_value(kreader.load(), source)
        elif isinstance(source, DataGenSource):
            # rand(seed) is nondeterministic per micro-batch; field_columns
            # derives every value from the row id instead
            rate = (
                self._spark.readStream.format("rate")
                .option("rowsPerSecond", str(source.rows_per_second))
                .load()
            )
            df = rate.select(F.col("value").alias("id"))
            if source.number_of_rows is not None:
                df = df.filter(F.col("id") < source.number_of_rows)
            df = df.select(*source.field_columns())
        else:
            raise PlanError(
                f"{type(source).__name__} {source.name!r} has no streaming "
                "reader; it needs the batch path."
            )
        df = append_event_time(df, source)
        return _watermarked(df, _watermark_delay_ms(source))

    def _join(
        self,
        df: DataFrame,
        view: DerivedFeatureView,
        right_desc: TableDescriptor,
        keys: List[str],
        right_fields: Dict[str, str],
        features: List[Feature],
    ) -> DataFrame:
        # the union feeding applyInPandasWithState needs BOTH sides
        # watermarked or Spark rejects the event-time timeout plan
        right_df = self._get_df(right_desc)
        return stateful_asof_join(
            _watermarked(df, _watermark_delay_ms(view)),
            _watermarked(right_df, _watermark_delay_ms(right_desc)),
            keys,
            right_fields,
        )

    def _over_windows(
        self, df: DataFrame, view: DerivedFeatureView, features: List[Feature]
    ) -> DataFrame:
        groups: Dict[tuple, List[Feature]] = {}
        for f_ in features:
            groups.setdefault(tuple(f_.transform.group_by_keys), []).append(f_)
        for group in groups.values():
            df = _watermarked(df, _watermark_delay_ms(view))
            df = stateful_over_window(df, group)
        return df

    def _sliding_window(self, df: DataFrame, view: SlidingFeatureView) -> DataFrame:
        df = _watermarked(df, _watermark_delay_ms(view))
        sliding = view.sliding_features()
        if any(f_.transform.is_infinite for f_ in sliding):
            # window_size == step_size == 0: infinite window, one emission
            # per input row → the stateful over-window operator with
            # unbounded frames (same mapping as the batch planner).
            over_features = [
                Feature(
                    f_.name,
                    transform=OverWindowTransform(
                        f_.transform.expr,
                        f_.transform.agg_func,
                        group_by_keys=f_.transform.group_by_keys,
                        filter_expr=f_.transform.filter_expr,
                        limit=f_.transform.limit,
                    ),
                    dtype=f_.dtype,
                )
                for f_ in sliding
            ]
            return stateful_over_window(df, over_features).withColumn(
                WINDOW_TIME_MS_COL, F.unix_millis(F.col(EVENT_TIME_COL))
            )
        fields = [SlidingAggField.from_feature(f_) for f_ in sliding]
        max_steps = max(f_.window_ms for f_ in fields) // view.step_size_ms
        if (
            view.enable_empty_window_output
            or view.skip_same_window_output
            or any(f_.limit is not None for f_ in fields)
            or any(f_.agg_func == AggFunc.VALUE_COUNTS for f_ in fields)
            or (
                len({f_.window_ms for f_ in fields}) > 1
                and max_steps > _NATIVE_MULTI_SIZE_MAX_STEPS
            )
        ):
            # Emission flags, LIMIT, VALUE_COUNTS, and several sizes over
            # too many steps → the custom stateful operator.
            out = stateful_sliding_window(df, view)
            if any(
                isinstance(f_.transform, PythonUdfTransform)
                for f_ in view.get_resolved_features()
            ):
                # an Arrow UDF's input must be UnsafeRows, which the
                # stateful operator does not emit: a column the optimizer
                # cannot fold away (the emitted window time is never NULL)
                # puts a projection in between
                out = out.withColumn(
                    WINDOW_TIME_MS_COL,
                    F.coalesce(F.col(WINDOW_TIME_MS_COL), F.lit(0).cast("bigint")),
                )
            return out
        return _native_sliding_window(
            df, view.group_by_keys, view.step_size_ms, fields
        )


# A multi-size view runs natively only while its largest window spans at
# most this many steps: Spark's sliding window expands every input row into
# max_window / step copies and keeps one state row per (key, open window),
# while the stateful operator keeps one history row per key.  Measured on
# 4 cores with 4 state partitions (6k events, 150 keys over 30 days, three
# files, SUM over one step + COUNT over 7 days, availableNow, noop sink),
# native / stateful wall seconds: 2.6 / 4.8 at 7 steps, 2.6 / 4.8 at 56,
# 3.3 / 5.5 at 96, 4.4 / 5.8 at 140, 4.2 / 5.3 at 168, 19.6 / 6.6 at 336,
# 34.4 / 6.8 at 672; native state grew to 13 MB at 96 steps against 0.3 MB.
_NATIVE_MULTI_SIZE_MAX_STEPS = 96


def _native_sliding_window(
    df: DataFrame, keys: List[str], step_ms: int, fields: List[SlidingAggField]
) -> DataFrame:
    """No emission flags: Spark's own windowed aggregation, with the
    aggregate table's one-pass lowering and empty-window defaults
    (agg_table.py).  All fields share one window over the
    largest size; a smaller field's row gate also keeps only the rows in
    the last ``window_ms`` of it, so every size is computed in one pass and
    a window is emitted when its largest size holds a row, as in batch."""
    ms_sql = f"unix_millis(`{EVENT_TIME_COL}`)"
    max_window = max(f_.window_ms for f_ in fields)
    # a projected column: a window built in groupBy cannot be referenced in
    # an aggregate (LATERAL_COLUMN_ALIAS_IN_AGGREGATE_FUNC)
    df = df.withColumn(
        "__w__",
        F.window(
            F.col(EVENT_TIME_COL),
            f"{max_window} milliseconds",
            f"{step_ms} milliseconds",
        ),
    )
    aggs = []
    for f_ in fields:
        if f_.window_ms < max_window:
            gate = f"{ms_sql} >= unix_millis(`__w__`.end) - {f_.window_ms}"
            if f_.filter_sql is not None:
                gate = f"({f_.filter_sql}) AND {gate}"
            f_ = f_._replace(filter_sql=gate)
        a = f_.agg_func
        lowering = LOWERINGS.get(a)
        if lowering is None:  # COLLECT_LIST
            # struct-wrapped so NULL VALUES survive (collect_list drops
            # bare NULL elements; batch semantics include them), sorted
            # by event time for a deterministic order; NULL, not an empty
            # list, when no row of the window passes the gates
            pair = f"struct({ms_sql} AS t, ({f_.expr_sql}) AS v)"
            pair = gated_sql(pair, f_.filter_sql)
            pairs = _sort_pairs_sql(f"collect_list({pair})", a, f_.dtype)
            col = F.expr(
                _array_agg_sql(f"transform({pairs}, s -> s.v)", a, f_.dtype)
            )
        elif lowering.pick is not None:
            # FIRST/LAST keep their own form, which the state-store schema
            # depends on: the ORDERING key is gated, not the value —
            # min_by/max_by ignore NULL-ordered rows, so a filtered-out row
            # never wins the slot and emits NULL where batch emits the
            # first/last PASSING value
            by = gated_sql(ms_sql, f_.filter_sql)
            col = F.expr(f"{lowering.pick}_by({f_.expr_sql}, {by})")
        else:
            col = single_phase(a, f_.expr_sql, f_.filter_sql, ms_sql, True)
        col = with_empty_default(a, col, f_.dtype).cast(to_spark_type(f_.dtype))
        aggs.append(col.alias(f_.name))

    return (
        df.groupBy(F.col("__w__"), *[F.col(k) for k in keys])
        .agg(*aggs)
        .withColumn(
            WINDOW_TIME_MS_COL, F.unix_millis(F.col("__w__.end")) - F.lit(1)
        )
        .drop("__w__")
    )


def _default_stream_checkpoint_dir(query_name, ident: str) -> str:
    """Shared derivation for sinks that require a checkpoint: stable path
    for NAMED queries (restart-resume), unique mkdtemp for unnamed ones
    (no identity -> nothing safe to resume by).  See the Kafka docstring
    below for the full rationale."""
    import hashlib
    import re as _re
    import tempfile

    if not query_name:
        slug = _re.sub(r"[^A-Za-z0-9_.-]+", "_", ident)[:40]
        return tempfile.mkdtemp(prefix=f"feathub_ckpt_{slug}_")
    # The digest covers BOTH the name and the sink identity: a named
    # FileSystemSink query and a named KafkaSink query that happen to share
    # a query_name must not share (and corrupt) one checkpoint directory.
    slug = _re.sub(r"[^A-Za-z0-9_.-]+", "_", query_name)[:80]
    digest = hashlib.sha256(f"{query_name}\x00{ident}".encode()).hexdigest()[:12]
    path = os.path.join(
        tempfile.gettempdir(), "feathub_spark_ckpt", f"{slug}_{digest}"
    )
    # One-time migration: earlier builds derived the digest from the name
    # ALONE, so a named query deployed on that layout would silently start
    # from scratch here (replaying from startingOffsets) instead of
    # resuming its offsets/state.  If the legacy path still holds a
    # checkpoint and the new path doesn't exist yet, move it into place.
    # Caveat: two same-named queries on different sinks shared (and
    # corrupted) the legacy path by construction; the first to restart
    # claims it.
    legacy_digest = hashlib.sha256(query_name.encode()).hexdigest()[:12]
    legacy = os.path.join(
        tempfile.gettempdir(), "feathub_spark_ckpt", f"{slug}_{legacy_digest}"
    )
    if (
        legacy != path
        and not os.path.exists(path)
        and os.path.isdir(os.path.join(legacy, "offsets"))
    ):
        os.rename(legacy, path)
    prior = _ACTIVE_DEFAULT_CKPTS.get(path)
    if prior is not None:
        try:
            prior_active = prior.isActive
        except Exception:
            prior_active = False  # dead session/JVM — the path is free
        if prior_active:
            raise PlanError(
                f"A live streaming query already uses the default "
                f"checkpoint {path!r} (query_name collision). Pass an "
                f"explicit checkpoint_dir or a distinct query_name."
            )
        del _ACTIVE_DEFAULT_CKPTS[path]  # dead claim — don't hold the ref
    os.makedirs(path, exist_ok=True)
    return path


def _default_kafka_checkpoint_dir(query_name, sink) -> str:
    """Default checkpoint path for a Kafka sink.  A NAMED query gets a
    STABLE path derived from its name — a fresh mkdtemp per start() meant
    a restarted query never resumed its prior offsets/state (it silently
    replayed from startingOffsets, re-emitting or skipping data) and
    leaked one temp dir per start.  An UNNAMED query keeps the unique
    mkdtemp: with no user-chosen identity there is nothing safe to resume
    by, and a topic-derived path would make two independent unnamed
    writers to one topic share (and corrupt) a checkpoint.

    Starting a SECOND live query onto the same derived path is refused.
    The liveness guard is per-process (this engine runs one driver JVM);
    cross-process isolation for named queries is the caller's contract —
    a query name identifies ONE logical query, same as Spark's own
    checkpointLocation semantics."""
    return _default_stream_checkpoint_dir(
        query_name, f"{sink.topic}@{sink.bootstrap_server}"
    )


# default-checkpoint path -> the StreamingQuery that last claimed it
_ACTIVE_DEFAULT_CKPTS: dict = {}


def write_stream(
    df: DataFrame,
    sink,
    descriptor: TableDescriptor = None,
    checkpoint_dir: Optional[str] = None,
    query_name: Optional[str] = None,
    output_mode: str = "append",
):
    """Start a streaming write to any engine sink.  Native writers for
    kafka/file/noop; everything else goes through foreachBatch reusing the
    batch sink writer (exactly-once per batch where the sink allows)."""
    from feathub_spark.feature_tables.sinks.connector_sinks import KafkaSink
    from feathub_spark.feature_tables.sinks.file_system_sink import FileSystemSink
    from feathub_spark.feature_tables.sinks.misc_sinks import BlackHoleSink
    from feathub_spark.processors.spark.source_sink_utils import insert_into_sink

    if isinstance(sink, KafkaSink):
        # keyed records like the batch Kafka writer (key-based
        # partitioning / log compaction must survive a batch->streaming
        # switch)
        keys = descriptor.keys if descriptor is not None else None
        value = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
        if keys:
            key = F.to_json(F.struct(*[F.col(k) for k in keys]))
            df = df.select(key.alias("key"), value.alias("value"))
        else:
            df = df.select(value.alias("value"))

    writer = df.writeStream.outputMode(output_mode)
    if query_name:
        writer = writer.queryName(query_name)
    derived_ckpt = None
    if checkpoint_dir is None and isinstance(sink, (FileSystemSink, KafkaSink)):
        # file and Kafka sinks REQUIRE a checkpointLocation (Spark only
        # auto-creates temp checkpoints for console/noop/memory/
        # foreachBatch): named-stable / unnamed-unique default, and a
        # second live named query onto a derived path is refused
        if isinstance(sink, KafkaSink):
            checkpoint_dir = _default_kafka_checkpoint_dir(query_name, sink)
        else:
            checkpoint_dir = _default_stream_checkpoint_dir(
                query_name, f"file_{sink.path}"
            )
        if query_name:
            derived_ckpt = checkpoint_dir
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)

    if isinstance(sink, FileSystemSink):
        writer = writer.format(sink.data_format).option("path", sink.path)
        for k, v in getattr(sink, "data_format_props", {}).items():
            writer = writer.option(k, v)
        if getattr(sink, "partition_by", None):
            writer = writer.partitionBy(*sink.partition_by)
    elif isinstance(sink, BlackHoleSink):
        writer = writer.format("noop")
    elif isinstance(sink, KafkaSink):
        from feathub_spark.processors.spark.kafka_python_source import (
            kafka_format_for,
        )

        writer = (
            writer.format(kafka_format_for(df.sparkSession))
            .option("kafka.bootstrap.servers", sink.bootstrap_server)
            .option("topic", sink.topic)
        )
    else:

        def write_batch(batch_df, batch_id):
            insert_into_sink(batch_df, sink, descriptor)

        writer = writer.foreachBatch(write_batch)
    query = writer.start()
    if derived_ckpt is not None:
        _ACTIVE_DEFAULT_CKPTS[derived_ckpt] = query
    return query
