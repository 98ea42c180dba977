"""Descriptor tree → Spark DataFrame compiler.

Replicates the reference's compilation shape
(processors/spark/dataframe_builder/spark_dataframe_builder.py:79-358):
build-once memoization per named view; per view the phase order is

  DerivedFeatureView: per-row transforms before the first join/window
  → joins grouped by (right_table, keys)
  → over-windows grouped by OverWindowDescriptor
  → remaining per-row transforms
  → filter_expr
  → output projection;

  SlidingFeatureView: pre-window per-row transforms
  → sliding window
  → window-time column
  → post-window per-row transforms
  → filter_expr
  → output projection.

The streaming compiler (streaming/stream_builder.py) is a subclass that
keeps this order and overrides only the physical operators: ``_read_source``,
``_join``, ``_over_windows``, ``_sliding_window`` and the temp-view
registration.

Everything is declarative DataFrame API so Catalyst supplies predicate
pushdown, column pruning, constant folding and AQE; the only hand-built
fusions are the by-construction ones (join grouping, window grouping,
memoized subplans — reference §4 rows 1, 2, 7).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from feathub_spark.common.exceptions import PlanError
from feathub_spark.common.time_utils import event_time_sql
from feathub_spark.common.types import DType, to_spark_type
from feathub_spark.dsl.parser import to_spark_sql
from feathub_spark.feature_views.derived_feature_view import DerivedFeatureView
from feathub_spark.feature_views.feature import Feature
from feathub_spark.feature_views.feature_view import FeatureView
from feathub_spark.feature_views.sliding_feature_view import SlidingFeatureView
from feathub_spark.feature_views.sql_feature_view import SqlFeatureView
from feathub_spark.feature_views.transforms.expression_transform import (
    ExpressionTransform,
)
from feathub_spark.feature_views.transforms.join_transform import JoinTransform
from feathub_spark.feature_views.transforms.over_window_transform import (
    OverWindowTransform,
)
from feathub_spark.feature_views.transforms.python_udf_transform import (
    PythonUdfTransform,
)
from feathub_spark.feature_views.transforms.sliding_window_transform import (
    SlidingWindowTransform,
)
from feathub_spark.processors.spark.agg_table import SALTED
from feathub_spark.processors.spark.constants import (
    EVENT_TIME_COL,
    METADATA_COLS,
    WINDOW_TIME_MS_COL,
)
from feathub_spark.processors.spark.join_utils import temporal_join
from feathub_spark.processors.spark.over_window_utils import (
    AggField,
    OverWindowDescriptor,
    evaluate_over_window,
    evaluate_salted_bounded_over_window,
    evaluate_salted_over_window,
)
from feathub_spark.processors.spark.sliding_window_utils import (
    SlidingAggField,
    evaluate_sliding_window,
)
from feathub_spark.processors.spark.skew_probe import resolve_salt_chunk_ms
from feathub_spark.processors.spark.source_sink_utils import get_source_dataframe
from feathub_spark.table.table_descriptor import TableDescriptor


class SparkDataFrameBuilder:
    def __init__(
        self,
        spark: SparkSession,
        registry,
        over_window_salt_chunk_ms: int = None,
        asof_salt_chunk_ms: int = None,
        probe_cache: Dict[object, Optional[int]] = None,
    ) -> None:
        self._spark = spark
        self._registry = registry
        self._built: Dict[str, DataFrame] = {}
        # Hot-key mitigation: unbounded decomposable over-windows use the
        # two-phase chunked plan (evaluate_salted_over_window); as-of joins
        # use the analogous time-chunked fill (_chunked_asof_fill).
        # Accepts an explicit chunk_ms int, or "auto"/AutoSalt to let the
        # skew probe pick per descriptor (skew_probe.py).
        self._salt_chunk_ms = over_window_salt_chunk_ms
        self._asof_salt_chunk_ms = asof_salt_chunk_ms
        # probe memoization: the PROCESSOR passes its long-lived dict so
        # the "pay once" contract survives across get_table calls — a
        # per-builder dict re-ran the eager full-scan probe per compile
        self._skew_probe_cache: Dict[object, Optional[int]] = (
            probe_cache if probe_cache is not None else {}
        )
        # (descriptor kind, keys, chosen chunk_ms or None) — plan tests
        # assert the auto probe picked the salted plan on skewed input.
        self.salt_decisions: list = []

    # -- public ----------------------------------------------------------
    def build(self, descriptor: TableDescriptor) -> DataFrame:
        """Compile to a DataFrame with metadata columns dropped."""
        df = self._get_df(descriptor)
        return df.drop(*[c for c in df.columns if c in METADATA_COLS])

    def build_with_event_time(self, descriptor: TableDescriptor) -> DataFrame:
        return self._get_df(descriptor)

    # -- memoized compile -------------------------------------------------
    def _get_df(self, descriptor: TableDescriptor) -> DataFrame:
        if descriptor.name in self._built:
            return self._built[descriptor.name]
        if isinstance(descriptor, SlidingFeatureView):
            df = self._build_sliding_feature_view(descriptor)
        elif isinstance(descriptor, DerivedFeatureView):
            df = self._build_derived_feature_view(descriptor)
        else:
            df = self._read_source(descriptor)
        self._built[descriptor.name] = df
        self._register_temp_view(descriptor.name, df)
        return df

    def _read_source(self, descriptor: TableDescriptor) -> DataFrame:
        if isinstance(descriptor, SqlFeatureView):
            return self._build_sql_feature_view(descriptor)
        return get_source_dataframe(self._spark, descriptor)

    def _register_temp_view(self, name: str, df: DataFrame) -> None:
        """Register for SqlFeatureView consumers."""
        df = df.drop(*[c for c in df.columns if c in METADATA_COLS])
        df.createOrReplaceTempView(name)

    def _apply_row_feature(self, df: DataFrame, feature: Feature) -> DataFrame:
        """Apply a per-row (expression / pandas-UDF) feature.  Any other
        transform kind is a wiring error at this point — raising beats
        the silent fall-through that let an unsupported transform with a
        declared dtype vanish from the output."""
        tr = feature.transform
        if isinstance(tr, ExpressionTransform):
            return df.withColumn(
                feature.name,
                F.expr(to_spark_sql(tr.expr)).cast(to_spark_type(feature.dtype)),
            )
        if isinstance(tr, PythonUdfTransform):
            return self._apply_python_udf(df, feature.name, tr, feature.dtype)
        raise PlanError(
            f"Feature {feature.name!r}: transform {type(tr).__name__} is not "
            "a per-row transform."
        )

    # -- udf ----------------------------------------------------------------
    def _apply_python_udf(
        self, df: DataFrame, name: str, tr: PythonUdfTransform, dtype: DType
    ) -> DataFrame:
        from pyspark.sql.functions import pandas_udf

        spark_t = to_spark_type(dtype)
        udf_f = tr.udf
        fail = tr.fail_on_exception
        fallback = tr.value_on_exception
        input_cols = [c for c in df.columns if c not in METADATA_COLS]

        def batch_fn(batch: pd.DataFrame) -> pd.Series:
            out = []
            for row in batch.itertuples(index=False):
                row_dict = pd.Series(dict(zip(batch.columns, row)))
                try:
                    out.append(udf_f(row_dict))
                except Exception:
                    if fail:
                        raise
                    out.append(fallback)
            return pd.Series(out, dtype=object)

        wrapped = pandas_udf(spark_t)(
            lambda *cols: batch_fn(pd.concat(cols, axis=1, keys=input_cols))
        )
        return df.withColumn(name, wrapped(*[F.col(c) for c in input_cols]))

    # -- derived feature view ---------------------------------------------
    def _build_derived_feature_view(self, view: DerivedFeatureView) -> DataFrame:
        source = view.get_resolved_source()
        df = self._get_df(source)

        joins: Dict[Tuple[str, Tuple[str, ...]], List[Feature]] = {}
        windows: List[Feature] = []
        late_features: List[Feature] = []

        for feature in view.get_resolved_features():
            tr = feature.transform
            if isinstance(tr, (ExpressionTransform, PythonUdfTransform)):
                if joins or windows:
                    late_features.append(feature)
                else:
                    df = self._apply_row_feature(df, feature)
            elif isinstance(tr, JoinTransform):
                if not feature.keys:
                    raise PlanError(
                        f"Join feature {feature.name!r} needs keys to join on."
                    )
                joins.setdefault((tr.table_name, tuple(feature.keys)), []).append(
                    feature
                )
            elif isinstance(tr, OverWindowTransform):
                windows.append(feature)
            else:
                raise PlanError(
                    f"DerivedFeatureView does not support {type(tr).__name__}."
                )

        # joins, grouped per (right table, keys) — one as-of pass each
        if joins and df.schema and EVENT_TIME_COL not in df.columns:
            # without a left event time the union+last_value plan would
            # sort every left row before every right row (NULLs first)
            # and return all-NULL joined features — fail loudly instead
            raise PlanError(
                f"Point-in-time join features in {view.name!r} require the "
                "source to declare a timestamp_field."
            )
        for (table_name, keys), features in joins.items():
            right_desc = self._registry.get_features(table_name)
            if right_desc.timestamp_field is None:
                raise PlanError(
                    f"Cannot point-in-time join with {table_name!r}: "
                    "right table has no timestamp field."
                )
            # keyed by OUTPUT name: two features may read the same right
            # column (e.g. map-entry joins under different keys)
            right_fields: Dict[str, str] = {}
            map_entries: Dict[str, object] = {}
            for f_ in features:
                if f_.name in right_fields:
                    raise PlanError(
                        f"Two join features produce the column {f_.name!r}; "
                        "give them distinct names."
                    )
                right_fields[f_.name] = f_.transform.feature_name
                if f_.transform.map_key is not None:
                    map_entries[f_.name] = f_.transform.map_key
            df = self._join(df, view, right_desc, list(keys), right_fields, features)
            for out_name, key in map_entries.items():
                df = df.withColumn(out_name, F.col(out_name)[F.lit(key)])

        if windows:
            if df.schema and EVENT_TIME_COL not in df.columns:
                raise PlanError(
                    f"Over-window features in {view.name!r} require the source "
                    "to declare a timestamp_field."
                )
            df = self._over_windows(df, view, windows)

        for feature in late_features:
            df = self._apply_row_feature(df, feature)
        return self._filter_and_project(df, view)

    def _join(
        self,
        df: DataFrame,
        view: DerivedFeatureView,
        right_desc: TableDescriptor,
        keys: List[str],
        right_fields: Dict[str, str],
        features: List[Feature],
    ) -> DataFrame:
        """Point-in-time join of ``right_fields`` (output name -> right
        column) from ``right_desc`` onto ``df``."""
        if view.is_bounded() and not right_desc.is_bounded():
            raise PlanError(
                "Joining a bounded left table with an unbounded right table "
                "is not supported."
            )
        right_df = self._get_df(right_desc)
        valid_time_ms, defaults = _expiry_of(right_desc, features)
        return temporal_join(
            df,
            right_df,
            keys,
            right_fields,
            valid_time_ms=valid_time_ms,
            defaults=defaults,
            salt_chunk_ms=self._asof_salt_chunk_ms,
            probe_cache=self._skew_probe_cache,
            decisions=self.salt_decisions,
        )

    def _over_windows(
        self, df: DataFrame, view: DerivedFeatureView, features: List[Feature]
    ) -> DataFrame:
        """Over-window features, grouped per descriptor — one WindowSpec
        each."""
        windows: Dict[OverWindowDescriptor, List[Feature]] = {}
        for f_ in features:
            windows.setdefault(
                OverWindowDescriptor.from_transform(f_.transform), []
            ).append(f_)
        for desc, group in windows.items():
            fields = [AggField.from_feature(f_) for f_ in group]
            decomposable = all(f_.agg_func in SALTED for f_ in fields)
            chunk_ms = None
            if self._salt_chunk_ms is not None and desc.limit is None and decomposable:
                chunk_ms = resolve_salt_chunk_ms(
                    self._salt_chunk_ms,
                    df,
                    desc.group_by_keys,
                    EVENT_TIME_COL,
                    window_ms=desc.window_size_ms,
                    cache=self._skew_probe_cache,
                )
            # record the EFFECTIVE decision: an explicit chunk smaller
            # than a bounded window still falls back to the plain plan,
            # and the recorded decision must say so (plan tests read it)
            salted = chunk_ms is not None and (
                desc.window_size_ms is None or desc.window_size_ms <= chunk_ms
            )
            self.salt_decisions.append(
                ("over_window", desc.group_by_keys, chunk_ms if salted else None)
            )
            if salted and desc.window_size_ms is None:
                df = evaluate_salted_over_window(df, desc, fields, chunk_ms)
            elif salted:
                df = evaluate_salted_bounded_over_window(
                    df, desc, fields, chunk_ms
                )
            else:
                df = evaluate_over_window(df, desc, fields)
            for f_ in group:
                df = df.withColumn(
                    f_.name, F.col(f_.name).cast(to_spark_type(f_.dtype))
                )
        return df

    # -- sliding feature view ---------------------------------------------
    def _build_sliding_feature_view(self, view: SlidingFeatureView) -> DataFrame:
        source = view.get_resolved_source()
        df = self._get_df(source)
        if EVENT_TIME_COL not in df.columns:
            raise PlanError(
                f"SlidingFeatureView {view.name!r} requires the source to "
                "declare a timestamp_field."
            )

        for feature in view.pre_sliding_features():
            df = self._apply_row_feature(df, feature)

        df = self._sliding_window(df, view)

        # window_time feature per the view's timestamp_format.
        df = df.withColumn(
            view.timestamp_field, _window_time_col(view.timestamp_format)
        )

        for feature in view.post_sliding_features():
            df = self._apply_row_feature(df, feature)
        return self._filter_and_project(df, view)

    def _sliding_window(self, df: DataFrame, view: SlidingFeatureView) -> DataFrame:
        """The view's sliding features per (keys, window end), with
        WINDOW_TIME_MS_COL set."""
        fields = [SlidingAggField.from_feature(f_) for f_ in view.sliding_features()]
        return evaluate_sliding_window(
            df,
            view.group_by_keys,
            view.step_size_ms,
            fields,
            view.enable_empty_window_output,
            view.skip_same_window_output,
        )

    def _filter_and_project(self, df: DataFrame, view: FeatureView) -> DataFrame:
        if view.filter_expr is not None:
            df = df.filter(F.expr(to_spark_sql(view.filter_expr)))
        keep = [c for c in df.columns if c in METADATA_COLS]
        return df.select(*view.get_output_fields(), *keep)

    # -- sql feature view --------------------------------------------------
    def _build_sql_feature_view(self, view: SqlFeatureView) -> DataFrame:
        df = self._spark.sql(view.sql_statement)
        if view.timestamp_field is not None:
            df = df.withColumn(
                EVENT_TIME_COL,
                F.expr(event_time_sql(view.timestamp_field, view.timestamp_format)),
            )
        return df


def _window_time_col(timestamp_format: str):
    ms = F.col(WINDOW_TIME_MS_COL)
    if timestamp_format == "epoch_millis":
        return ms
    if timestamp_format == "epoch":
        return F.floor(ms / 1000).cast("bigint")
    from feathub_spark.common.time_utils import NATIVE, to_java_date_format

    if timestamp_format == NATIVE:
        return F.timestamp_millis(ms)
    return F.date_format(
        F.timestamp_millis(ms), to_java_date_format(timestamp_format)
    )


def _expiry_of(right_desc: TableDescriptor, features: List[Feature]):
    """valid_time_interval expiry when the right table is a SlidingFeatureView
    with empty-window output disabled (reference join_utils.py:57-142)."""
    if (
        isinstance(right_desc, SlidingFeatureView)
        and not right_desc.enable_empty_window_output
    ):
        valid_time_ms = right_desc.step_size_ms
        defaults: Dict[str, object] = {}
        for f_ in features:
            right_feature = None
            for rf in right_desc.get_resolved_features():
                if rf.name == f_.transform.feature_name:
                    right_feature = rf
                    break
            if right_feature is not None and isinstance(
                right_feature.transform, SlidingWindowTransform
            ):
                defaults[f_.name] = right_feature.transform.agg_func.empty_window_default()
        return valid_time_ms, defaults
    return None, None
