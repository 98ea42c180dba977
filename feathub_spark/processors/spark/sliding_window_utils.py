"""Batch sliding-window evaluation on Spark.

Golden semantics are the reference local two-pointer sweep
(processors/local/sliding_window_utils.py:116-327):

- windows align to the epoch: a row at time t belongs to windows ending at
  ``wend = floor(t/step)*step + step + k*step`` for k in 0..window/step-1;
  the window ending at ``wend`` covers [wend - window_size, wend);
- emissions carry ``window_time = wend - 1ms``;
- with ``enable_empty_window_output`` the per-key step grid extends to the
  first fully-empty window end (last_step_end + max_window), emitting 0 for
  SUM/COUNT and NULL otherwise;
- with ``skip_same_window_output`` a step row is dropped when every feature
  value equals the previous step's.

Physical strategy (2-stage, mirroring the shape of the reference Flink
runtime SlidingWindowUtils.java:76-186 but batch-declarative):

1. partial-aggregate per (group_by_keys, step_end) — map-side combinable,
   one shuffle on the group keys;
2. explode each partial into the k = 0..max_window/step-1 window ends it
   contributes to and re-aggregate per (keys, wend); a field with a smaller
   window only merges contributions with k < window_i/step.  State is shared
   across window sizes by construction (the reference's headline
   optimization, docs/content/deep-dive/optimizations.md:10-33): partials are
   computed once, reused by every window size;
3. per-key step grid via sequence()+explode, left-joined (co-partitioned on
   keys) to realize empty windows; lag() over (keys, wend) to skip unchanged
   emissions.

The functions of the aggregate table (``agg_table.LOWERINGS``) use its
constant-size states: stage 1 builds each state's partial, stage 2 merges
it, and the table's final expression gives the feature.
VALUE_COUNTS/COLLECT_LIST and any field with ``limit`` carry
(time, value) struct arrays.
"""

from __future__ import annotations

from typing import List, NamedTuple, Optional

from pyspark.sql import Column, DataFrame, Window, functions as F

from feathub_spark.common import types as t
from feathub_spark.common.types import to_spark_type
from feathub_spark.dsl.parser import to_spark_sql
from feathub_spark.feature_views.feature import Feature
from feathub_spark.feature_views.transforms.agg_func import AggFunc
from feathub_spark.processors.spark.agg_table import (
    LOWERINGS,
    is_orderable,
    keep_last_sql,
    with_empty_default,
)
from feathub_spark.processors.spark.constants import EVENT_TIME_COL, WINDOW_TIME_MS_COL
from feathub_spark.processors.spark.over_window_utils import (
    _array_agg_sql,
    _sort_pairs_sql,
)

_MS = "__ms__"
_STEP_END = "__step_end__"
_WEND = "__wend__"
_K = "__k__"


class SlidingAggField(NamedTuple):
    name: str
    expr_sql: str
    agg_func: AggFunc
    dtype: t.DType
    window_ms: int
    filter_sql: Optional[str]
    limit: Optional[int]
    # original (un-lowered) filter expr, needed when delegating to the
    # over-window evaluator which lowers filter_expr itself
    filter_raw: Optional[str] = None

    @staticmethod
    def from_feature(feature: Feature) -> "SlidingAggField":
        tr = feature.transform
        return SlidingAggField(
            feature.name,
            to_spark_sql(tr.expr),
            tr.agg_func,
            feature.dtype,
            tr.window_size_ms,
            to_spark_sql(tr.filter_expr) if tr.filter_expr else None,
            tr.limit,
            tr.filter_expr,
        )

    @property
    def vc_distributive(self) -> bool:
        """VALUE_COUNTS without limit merges per-step count MAPS instead of
        per-row arrays: partial size is bounded by distinct values per step,
        not rows per step — the scale-safe shape for hot keys."""
        return self.agg_func == AggFunc.VALUE_COUNTS and self.limit is None

    @property
    def uses_array(self) -> bool:
        if self.vc_distributive:
            return False
        return self.limit is not None or self.agg_func in (
            AggFunc.VALUE_COUNTS,
            AggFunc.COLLECT_LIST,
        )


def evaluate_sliding_window(
    df: DataFrame,
    keys: List[str],
    step_ms: int,
    fields: List[SlidingAggField],
    enable_empty_window_output: bool,
    skip_same_window_output: bool,
) -> DataFrame:
    """Returns a DataFrame with columns: keys + WINDOW_TIME_MS_COL +
    EVENT_TIME_COL + one column per field (cast to its dtype)."""
    if any(f.window_ms == 0 for f in fields):
        return _evaluate_infinite_window(df, keys, fields)

    max_m = max(f.window_ms // step_ms for f in fields)

    base = df.withColumn(_MS, F.unix_millis(F.col(EVENT_TIME_COL))).withColumn(
        _STEP_END,
        (F.floor(F.col(_MS) / F.lit(step_ms)).cast("bigint") + 1) * F.lit(step_ms),
    )

    # ---- stage 1: partial accumulators per (keys, step_end) -------------
    partial_aggs: List[Column] = []
    for i, f_ in enumerate(fields):
        p = f"__p{i}_"
        a = f_.agg_func
        if f_.vc_distributive:
            continue  # per-step count map, joined onto the partials below
        if f_.uses_array:
            # filter gates the ROW (slot); a null value on a passing row
            # still occupies a limit slot.
            base_pair = f"struct(`{_MS}` AS t, {f_.expr_sql} AS v)"
            pair = (
                f"CASE WHEN {f_.filter_sql} THEN {base_pair} END"
                if f_.filter_sql is not None
                else base_pair
            )
            arr = _sort_pairs_sql(f"collect_list({pair})", a, f_.dtype)
            if f_.limit is not None:
                arr = keep_last_sql(arr, f_.limit)
            partial_aggs.append(F.expr(arr).alias(p + "arr"))
            continue
        orderable = is_orderable(f_.dtype)
        for s in LOWERINGS[a].states:
            sql = s.partial_sql(f_.expr_sql, f_.filter_sql, f"`{_MS}`", orderable)
            partial_aggs.append(F.expr(sql).alias(p + s.name))

    if not partial_aggs:
        # every field is distributive VALUE_COUNTS: keep one placeholder so
        # the partials table still enumerates every (keys, step) with rows
        partial_aggs.append(F.count(F.lit(1)).alias("__step_rows__"))
    partials = base.groupBy(*[F.col(k) for k in keys], F.col(_STEP_END)).agg(
        *partial_aggs
    )

    # ---- distributive VALUE_COUNTS partials: per-step (value, count) ----
    # groupBy (keys, step, value) is map-side combinable and its partial is
    # bounded by distinct values per step, never rows per step.  The rows
    # stay RELATIONAL through the merge (explode steps into window ends,
    # re-groupBy, assemble the map per window) — an in-array merge would
    # cost O(d²) per window in the distinct-value count, pathological for
    # high-cardinality value columns.
    vc_step_counts = {}
    for i, f_ in enumerate(fields):
        if not f_.vc_distributive:
            continue
        vc_rows = base
        if f_.filter_sql is not None:
            vc_rows = vc_rows.filter(F.expr(f_.filter_sql))
        vc_rows = vc_rows.withColumn("__vcv__", F.expr(f_.expr_sql)).filter(
            F.col("__vcv__").isNotNull()
        )
        vc_step_counts[i] = (
            vc_rows.groupBy(
                *[F.col(k) for k in keys], F.col(_STEP_END), F.col("__vcv__")
            ).agg(F.count(F.lit(1)).alias("__vcc__"))
        )

    # ---- stage 2: explode into contributing window ends and merge -------
    exploded = partials.withColumn(
        _K, F.explode(F.sequence(F.lit(0), F.lit(max_m - 1)))
    ).withColumn(_WEND, F.col(_STEP_END) + F.col(_K) * F.lit(step_ms))

    merge_aggs: List[Column] = []
    for i, f_ in enumerate(fields):
        p = f"__p{i}_"
        guard = f"`{_K}` < {f_.window_ms // step_ms}"

        def g(name: str) -> str:
            return f"CASE WHEN {guard} THEN `{p}{name}` END"

        if f_.vc_distributive:
            continue  # merged relationally below, not through the agg
        if f_.uses_array:
            merge_aggs.append(
                F.expr(f"flatten(collect_list({g('arr')})) ").alias(p + "arr")
            )
            continue
        orderable = is_orderable(f_.dtype)
        for s in LOWERINGS[f_.agg_func].states:
            merge = s.merge_sql(g(s.name), orderable)
            merge_aggs.append(F.expr(merge).alias(p + s.name))

    if not merge_aggs:
        # every field is distributive VALUE_COUNTS: placeholder keeps the
        # (keys, wend) emission grid enumerated
        merge_aggs.append(F.count(F.lit(1)).alias("__win_steps__"))
    merged = exploded.groupBy(*[F.col(k) for k in keys], F.col(_WEND)).agg(*merge_aggs)

    # ---- step grid for empty-window emission ---------------------------
    if enable_empty_window_output:
        max_window = max_m * step_ms
        bounds = base.groupBy(*[F.col(k) for k in keys]).agg(
            F.min(_STEP_END).alias("__first_wend__"),
            F.max(_STEP_END).alias("__last_wend__"),
        )
        grid = bounds.select(
            *[F.col(k) for k in keys],
            F.explode(
                F.sequence(
                    F.col("__first_wend__"),
                    F.col("__last_wend__") + F.lit(max_window),
                    F.lit(step_ms),
                )
            ).alias(_WEND),
        )
        # eqNullSafe: a NULL group-by key is a real group for groupBy, so
        # the grid join must match it — plain `=` silently replaced every
        # NULL-keyed group's aggregates with empty-window defaults
        g = grid.alias("g")
        mg = merged.alias("mg")
        cond = [g[k].eqNullSafe(mg[k]) for k in keys]
        cond.append(F.col(f"g.{_WEND}") == F.col(f"mg.{_WEND}"))
        result = g.join(mg, on=cond, how="left").select(
            *[F.col(f"g.`{k}`") for k in keys],
            F.col(f"g.{_WEND}"),
            *[
                F.col(f"mg.`{c}`")
                for c in merged.columns
                if c not in keys and c != _WEND
            ],
        )
    else:
        result = merged

    # ---- finalize feature values ---------------------------------------
    out_cols = {}
    for i, f_ in enumerate(fields):
        p = f"__p{i}_"
        a = f_.agg_func
        if f_.vc_distributive:
            continue  # joined in below as a ready-made map column
        if f_.uses_array:
            arr = _sort_pairs_sql(f"`{p}arr`", a, f_.dtype)
            if f_.limit is not None:
                arr = keep_last_sql(arr, f_.limit)
            # materialize the sorted/sliced composite ONCE as a column:
            # _array_agg_sql references its input several times (incl.
            # inside a transform lambda for VALUE_COUNTS, where
            # subexpression elimination cannot hoist), so inlining would
            # re-sort the merged array per referenced occurrence
            vals_col = f"__svals_{i}__"
            result = result.withColumn(
                vals_col, F.expr(f"transform({arr}, s -> s.v)")
            )
            col = F.expr(_array_agg_sql(f"`{vals_col}`", a, f_.dtype))
        else:
            col = LOWERINGS[a].result(lambda name: F.col(p + name))
        # empty-window defaults: ONLY COUNT and SUM are 0 in the reference
        # (aggregation_utils.get_default_value_and_type); ROW_NUMBER is
        # NULL like every other func
        out_cols[f_.name] = with_empty_default(a, col, f_.dtype).cast(
            to_spark_type(f_.dtype)
        )

    result = result.withColumns(out_cols)
    result = result.drop(
        *[c for c in result.columns if c.startswith("__svals_")]
    )

    # ---- distributive VALUE_COUNTS merge: explode steps -> window ends,
    # re-groupBy (keys, wend, value), assemble the map, join back ---------
    for i, f_ in enumerate(fields):
        if not f_.vc_distributive:
            continue
        m_i = f_.window_ms // step_ms
        exp = (
            vc_step_counts[i]
            .withColumn(_K, F.explode(F.sequence(F.lit(0), F.lit(m_i - 1))))
            .withColumn(_WEND, F.col(_STEP_END) + F.col(_K) * F.lit(step_ms))
        )
        vmaps = (
            exp.groupBy(*[F.col(k) for k in keys], F.col(_WEND), F.col("__vcv__"))
            .agg(F.sum("__vcc__").alias("__vcn__"))
            .groupBy(*[F.col(k) for k in keys], F.col(_WEND))
            .agg(
                F.map_from_entries(
                    F.collect_list(
                        F.struct(F.col("__vcv__"), F.col("__vcn__").cast("bigint"))
                    )
                ).alias(f_.name)
            )
        )
        # eqNullSafe like the grid join above: NULL-keyed groups must get
        # their VALUE_COUNTS map too
        r = result.alias("r")
        vm = vmaps.alias("vm")
        cond = [r[k].eqNullSafe(vm[k]) for k in keys]
        cond.append(F.col(f"r.{_WEND}") == F.col(f"vm.{_WEND}"))
        result = r.join(vm, on=cond, how="left").select(
            *[F.col(f"r.`{c}`") for c in result.columns],
            F.col(f"vm.`{f_.name}`").cast(to_spark_type(f_.dtype)).alias(
                f_.name
            ),
        )

    # ---- skip-same-window output ---------------------------------------
    if skip_same_window_output:
        # struct equality (<=>) needs an orderable type: MAP columns
        # (VALUE_COUNTS) are compared as key-sorted entry arrays — also the
        # canonical form the streaming operator uses, so suppression agrees
        # across both paths regardless of map entry order.
        def _cmp_col(f_: SlidingAggField) -> Column:
            if isinstance(f_.dtype, t.MapType):
                return F.array_sort(F.map_entries(F.col(f_.name)))
            return F.col(f_.name)

        cur = F.struct(*[_cmp_col(f_) for f_ in fields])
        w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(F.col(_WEND))
        result = (
            result.withColumn("__prev__", F.lag(cur).over(w))
            .filter(~cur.eqNullSafe(F.col("__prev__")))
            .drop("__prev__")
        )

    result = result.withColumn(
        WINDOW_TIME_MS_COL, F.col(_WEND) - F.lit(1)
    ).withColumn(EVENT_TIME_COL, F.timestamp_millis(F.col(WINDOW_TIME_MS_COL)))
    return result.select(
        *[F.col(k) for k in keys],
        F.col(WINDOW_TIME_MS_COL),
        F.col(EVENT_TIME_COL),
        *[F.col(f_.name) for f_ in fields],
    )


def _evaluate_infinite_window(
    df: DataFrame, keys: List[str], fields: List[SlidingAggField]
) -> DataFrame:
    """window_size == step_size == 0: infinite window, one emission per input
    row (reference GlobalWindowKeyedProcessFunction semantics)."""
    from feathub_spark.processors.spark.over_window_utils import (
        AggField,
        OverWindowDescriptor,
        evaluate_over_window,
    )

    out = df.withColumn("__ms0__", F.unix_millis(F.col(EVENT_TIME_COL)))
    # fuse fields sharing (filter, limit) into ONE descriptor per group —
    # evaluate_over_window plans a single WindowSpec per call, so a
    # field-per-call loop built N subplans where one suffices
    groups: dict = {}
    for f_ in fields:
        groups.setdefault((f_.filter_raw, f_.limit), []).append(f_)
    for (filter_raw, limit), grp in groups.items():
        # The descriptor carries the ORIGINAL filter expression so that
        # filter+limit takes the collect path with row-slot semantics
        # (a filtered-out row must not occupy a limit slot).
        desc = OverWindowDescriptor(None, tuple(keys), filter_raw, limit)
        afs = [
            AggField(f_.name, f_.expr_sql, f_.agg_func, f_.dtype)
            for f_ in grp
        ]
        out = evaluate_over_window(out, desc, afs)
    out = out.withColumn(WINDOW_TIME_MS_COL, F.col("__ms0__")).drop("__ms0__")
    return out.select(
        *[F.col(k) for k in keys],
        F.col(WINDOW_TIME_MS_COL),
        F.col(EVENT_TIME_COL),
        *[F.col(f_.name) for f_ in fields],
    )
