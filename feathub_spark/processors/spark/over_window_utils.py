"""Over-window (per-row trailing window) aggregation on Spark.

Golden semantics are the reference local loop
(processors/local/local_processor.py:525-603): for each row at t0 in its
group_by_keys partition, aggregate rows with event time in
[t0 - window_size, t0] — both endpoints inclusive, ties included — filtered
by filter_expr, keeping only the ``limit`` most recent rows.

Physical strategy (all JVM-side, no Python UDFs):

- unbounded / window_size only → RANGE frame over unix_millis(event_time)
  (a range frame, unlike ROWS, includes all rows tied on the boundary);
- limit only                   → ROWS frame (1-limit .. current);
- limit with window_size and/or filter_expr, and VALUE_COUNTS/COLLECT_LIST →
  collect_list(struct(ts, value)) over the range frame, then array_sort /
  slice / higher-order-function aggregation, entirely in Catalyst
  expressions.

Each frame aggregate of the other functions is the aggregate table's
(``agg_table.LOWERINGS``) one-pass lowering.  The hot-key salted plans
(``evaluate_salted_over_window`` and its bounded twin) take the table's
``SALTED`` functions: they build its states per time chunk and combine
them with the previous chunks' prefix or suffix.

This closes the reference Spark processor's gaps (its
over_window_utils.py:86-173 rejects filter_expr, window_size+limit, and
VALUE_COUNTS/COLLECT_LIST).  Aggregations sharing one OverWindowDescriptor
are computed over a single WindowSpec so Catalyst plans one WindowExec per
descriptor (over-window fusion, reference flink_table_builder.py:300-305).
"""

from __future__ import annotations

from typing import NamedTuple, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Window, WindowSpec, functions as F

from feathub_spark.common import types as t
from feathub_spark.common.exceptions import PlanError
from feathub_spark.common.types import to_spark_sql_type_name
from feathub_spark.dsl.parser import to_spark_sql
from feathub_spark.feature_views.feature import Feature
from feathub_spark.feature_views.transforms.agg_func import AggFunc
from feathub_spark.feature_views.transforms.over_window_transform import (
    OverWindowTransform,
)
from feathub_spark.processors.spark.agg_table import (
    LOWERINGS,
    check_salted,
    combine_parts,
    filtered_value_sql,
    is_orderable,
    keep_last_sql,
    single_phase,
    with_empty_default,
)
from feathub_spark.processors.spark.constants import EVENT_TIME_COL

_ORDER_MS = "unix_millis(`" + EVENT_TIME_COL + "`)"


class OverWindowDescriptor(NamedTuple):
    """Grouping key for over-window fusion (reference
    spark/dataframe_builder/over_window_utils.py:31-77 includes limit and
    filter_expr in the key)."""

    window_size_ms: Optional[int]
    group_by_keys: Tuple[str, ...]
    filter_expr: Optional[str]
    limit: Optional[int]

    @staticmethod
    def from_transform(tr: OverWindowTransform) -> "OverWindowDescriptor":
        return OverWindowDescriptor(
            tr.window_size_ms, tuple(tr.group_by_keys), tr.filter_expr, tr.limit
        )


class AggField(NamedTuple):
    name: str
    expr_sql: str      # Spark SQL for the aggregated value expression
    agg_func: AggFunc
    dtype: t.DType

    @staticmethod
    def from_feature(feature: Feature) -> "AggField":
        tr = feature.transform
        return AggField(
            feature.name, to_spark_sql(tr.expr), tr.agg_func, feature.dtype
        )


def _sort_pairs_sql(pairs_sql: str, agg: AggFunc, dtype: t.DType) -> str:
    """``array_sort`` of an array of ``struct(t, v)`` rows for a field of
    ``agg`` and output ``dtype``: by (t, v) when the value is orderable, by
    ``t`` alone otherwise — Spark rejects map-typed values in struct
    comparisons, so tied times then keep no value order, as FIRST/LAST over
    maps already do."""
    if agg == AggFunc.VALUE_COUNTS and isinstance(dtype, t.MapType):
        dtype = dtype.key_dtype  # the output map is keyed by the value
    if is_orderable(dtype):
        return f"array_sort({pairs_sql})"
    return (
        f"array_sort({pairs_sql}, (a, b) -> "
        "CASE WHEN a.t < b.t THEN -1 WHEN a.t > b.t THEN 1 ELSE 0 END)"
    )


def _window_spec(
    desc: OverWindowDescriptor, fields: Sequence["AggField"] = (),
) -> WindowSpec:
    if desc.limit is not None and desc.window_size_ms is None and desc.filter_expr is None:
        # A ROWS frame decides MEMBERSHIP of the limit slots, so tied
        # event times need a deterministic order or which rows enter the
        # frame varies run to run.  Secondary sort on the fused fields'
        # value expressions (for one field this equals the collect path's
        # struct(t, v) tie order); range frames below need no tiebreak —
        # ties are frame PEERS there and all enter the frame.  Map-typed
        # exprs are skipped — Spark rejects them as ordering expressions,
        # and they are only along for the tiebreak.
        order = [F.expr(_ORDER_MS)] + [
            F.expr(f.expr_sql) for f in fields if is_orderable(f.dtype)
        ]
        w = Window.partitionBy(
            *[F.col(k) for k in desc.group_by_keys]
        ).orderBy(*order)
        return w.rowsBetween(1 - desc.limit, Window.currentRow)
    w = Window.partitionBy(*[F.col(k) for k in desc.group_by_keys]).orderBy(
        F.expr(_ORDER_MS)
    )
    if desc.window_size_ms is not None:
        return w.rangeBetween(-desc.window_size_ms, Window.currentRow)
    return w.rangeBetween(Window.unboundedPreceding, Window.currentRow)


def _needs_collect(desc: OverWindowDescriptor, agg: AggFunc) -> bool:
    if agg not in LOWERINGS:  # VALUE_COUNTS, COLLECT_LIST
        return True
    if LOWERINGS[agg].pick and desc.filter_expr:
        # positional first/last INCLUDING null values (reference l[0]/l[-1]):
        # with a filter, "row filtered out" and "row passing with NULL value"
        # are indistinguishable to first()/last(), so collect the rows.
        return True
    return desc.limit is not None and (
        desc.window_size_ms is not None or desc.filter_expr is not None
    )


def _array_agg_sql(vals: str, agg: AggFunc, dtype: t.DType) -> str:
    """Aggregate a time-sorted value array with higher-order functions.
    ``vals`` is a SQL expression of type array<V> holding one element per
    WINDOW ROW (after filter and limit); null elements are rows whose value
    expression is NULL.  Reference semantics (local aggregation_utils.py):
    COUNT/ROW_NUMBER = len(l) and FIRST/LAST = l[0]/l[-1] INCLUDING null
    values; COLLECT_LIST keeps null elements (NULL only for zero rows);
    SUM/AVG/MIN/MAX/VALUE_COUNTS skip null values."""
    # NULL-array guard: a grid-joined empty window arrives as a NULL
    # array, and size(NULL) is conf-dependent (-1 under legacy
    # sizeOfNull) — coalesce so counts are 0 there on ANY session
    raw = f"coalesce({vals}, array())"
    vals = f"filter({raw}, x -> x IS NOT NULL)"
    if agg == AggFunc.SUM:
        acc_t = to_spark_sql_type_name(dtype)
        return (
            f"CASE WHEN size({vals}) > 0 THEN "
            f"aggregate({vals}, CAST(0 AS {acc_t}), (a, x) -> a + x) "
            f"ELSE CAST(0 AS {acc_t}) END"
        )
    if agg == AggFunc.AVG:
        return (
            f"CASE WHEN size({vals}) > 0 THEN "
            f"aggregate({vals}, CAST(0 AS DOUBLE), (a, x) -> a + x) / size({vals}) "
            f"END"
        )
    if agg == AggFunc.MAX:
        return f"array_max({vals})"
    if agg == AggFunc.MIN:
        return f"array_min({vals})"
    if agg == AggFunc.FIRST_VALUE:
        return f"element_at({raw}, 1)"
    if agg == AggFunc.LAST_VALUE:
        return f"element_at({raw}, -1)"
    if agg in (AggFunc.COUNT, AggFunc.ROW_NUMBER):
        return f"size({raw})"
    if agg == AggFunc.COLLECT_LIST:
        return f"CASE WHEN size({raw}) > 0 THEN {raw} END"
    if agg == AggFunc.VALUE_COUNTS:
        # map value → occurrence count; empty → NULL.
        entries = (
            f"transform(array_distinct({vals}), "
            f"d -> struct(d AS k, CAST(size(filter({vals}, x -> x <=> d)) AS BIGINT) AS v))"
        )
        return f"CASE WHEN size({vals}) > 0 THEN map_from_entries({entries}) END"
    raise PlanError(f"Unsupported agg {agg} over collected array.")


def evaluate_salted_over_window(
    df: DataFrame,
    desc: OverWindowDescriptor,
    fields: Sequence[AggField],
    chunk_ms: int,
) -> DataFrame:
    """Hot-key-safe unbounded over-window for decomposable aggregations.

    A plain ``Window.partitionBy(key)`` serializes each key into one task: a
    key holding billions of rows becomes the straggler at 100 TB.  This
    two-phase plan splits every key by time chunk:

      1. partial per (keys, chunk = floor(ms/chunk_ms)) — map-side combine;
      2. exclusive prefix of partials over chunks per key (tiny table:
         one row per key x chunk);
      3. within-chunk running aggregate, partitioned by (keys, chunk) —
         the hot key now parallelizes across its chunks;
      4. combine prefix + within-chunk value per row.

    Supports the functions of ``agg_table.SALTED`` (+ filter_expr),
    unbounded frames only — exactly the shape of "lifetime stats per
    entity" that hits the hot-key wall first.  Other shapes fall back to
    the standard plan.
    """
    assert desc.window_size_ms is None and desc.limit is None
    filter_sql = to_spark_sql(desc.filter_expr) if desc.filter_expr else None
    keys = list(desc.group_by_keys)

    base = df.withColumn("__ow_ms__", F.expr(_ORDER_MS)).withColumn(
        "__ow_chunk__", F.floor(F.col("__ow_ms__") / F.lit(chunk_ms))
    )

    check_salted(fields, "Salted over-window")
    partial_aggs = [
        F.expr(st.partial_sql(f_.expr_sql, filter_sql)).alias(f"__owp{i}_{st.name}")
        for i, f_ in enumerate(fields)
        for st in LOWERINGS[f_.agg_func].states
    ]

    partials = base.groupBy(
        *[F.col(k) for k in keys], F.col("__ow_chunk__")
    ).agg(*partial_aggs)

    # exclusive prefix over the (small) per-key chunk table
    wprev = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy(F.col("__ow_chunk__"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix_cols = {
        f"__owp{i}_p{st.name}": (
            F.expr(st.merge_sql(f"`__owp{i}_{st.name}`")).over(wprev)
        )
        for i, f_ in enumerate(fields)
        for st in LOWERINGS[f_.agg_func].states
    }
    prefixes = partials.withColumns(prefix_cols).select(
        *keys, "__ow_chunk__", *prefix_cols.keys()
    ).alias("pf")

    # eqNullSafe: groupBy/partitionBy keep NULL as a real group, so the
    # prefix join must too — plain `=` silently dropped every prior-chunk
    # contribution for NULL-keyed groups
    b = base.alias("b")
    cond = [b[k].eqNullSafe(prefixes[k]) for k in keys]
    cond.append(F.col("b.__ow_chunk__") == F.col("pf.__ow_chunk__"))
    joined = b.join(prefixes, on=cond, how="left").select(
        *[F.col(f"b.`{c}`") for c in base.columns],
        *[F.col(f"pf.`{c}`") for c in prefix_cols.keys()],
    )

    # within-chunk running aggregate: partitions are (keys, chunk)
    wchunk = (
        Window.partitionBy(*[F.col(k) for k in keys], F.col("__ow_chunk__"))
        .orderBy(F.col("__ow_ms__"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out_cols = {
        f_.name: combine_parts(
            f_.agg_func,
            lambda st: F.expr(st.partial_sql(f_.expr_sql, filter_sql)).over(wchunk),
            lambda st: F.col(f"__owp{i}_p{st.name}"),
        ).cast(t.to_spark_type(f_.dtype))
        for i, f_ in enumerate(fields)
    }

    joined = joined.withColumns(out_cols)
    drop = ["__ow_ms__", "__ow_chunk__"] + [
        c for c in joined.columns if c.startswith("__owp")
    ]
    return joined.drop(*drop)


def evaluate_salted_bounded_over_window(
    df: DataFrame,
    desc: OverWindowDescriptor,
    fields: Sequence[AggField],
    chunk_ms: int,
) -> DataFrame:
    """Hot-key-safe BOUNDED over-window ([t-W, t] range frames) for
    decomposable aggregations — closes the bounded half of the salted plan
    (the unbounded half is evaluate_salted_over_window).

    With ``chunk_ms >= window_ms``, a row's window spans at most its own
    time chunk and the previous one, so the per-key serial window becomes:

      1. within-chunk contribution: RANGE [-W, 0] window partitioned by
         (keys, chunk) — the hot key parallelizes across its chunks;
      2. previous-chunk contribution: per-event suffix aggregates
         (RANGE [ms, chunk_end] via a descending-order running frame), then
         an as-of lookup of the suffix at the window boundary b = t - W
         using the union + forward first_value trick — one shuffle on
         (keys, chunk).  Windows that don't reach back into the previous
         chunk find no event at ms >= b there and combine with NULL/0;
      3. combine (each state's agg_table combine) + join back on
         (keys, ms) — results depend only on (keys, ms), so rows tied on
         the timestamp share one computed result.

    Supports the functions of ``agg_table.SALTED`` with filter_expr; limit
    and collect-path aggs fall back to the standard plan.
    """
    assert desc.window_size_ms is not None and desc.limit is None
    window_ms = desc.window_size_ms
    if chunk_ms < window_ms:
        raise PlanError(
            f"salt chunk_ms ({chunk_ms}) must be >= window_size_ms "
            f"({window_ms}) so a window spans at most two chunks."
        )
    filter_sql = to_spark_sql(desc.filter_expr) if desc.filter_expr else None
    keys = list(desc.group_by_keys)

    base = df.withColumn("__ob_ms__", F.expr(_ORDER_MS)).withColumn(
        "__ob_chunk__", F.floor(F.col("__ob_ms__") / F.lit(chunk_ms))
    )

    # -- 1. within-chunk running contribution ------------------------------
    wchunk = (
        Window.partitionBy(*[F.col(k) for k in keys], F.col("__ob_chunk__"))
        .orderBy(F.col("__ob_ms__"))
        .rangeBetween(-window_ms, Window.currentRow)
    )
    cur_cols = {}
    suffix_specs = []  # (suffix col name, event-side Column)
    wsuf = (
        Window.partitionBy(*[F.col(k) for k in keys], F.col("__ob_chunk__"))
        .orderBy(F.col("__ob_ms__").desc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    check_salted(fields, "Salted bounded over-window")
    for i, f_ in enumerate(fields):
        for st in LOWERINGS[f_.agg_func].states:
            partial = F.expr(st.partial_sql(f_.expr_sql, filter_sql))
            cur_cols[f"__ob{i}_c{st.name}"] = partial.over(wchunk)
            suffix_specs.append((f"__ob{i}_s{st.name}", partial.over(wsuf)))

    base = base.withColumns(cur_cols)

    # -- 2. suffix series + boundary as-of lookup --------------------------
    suffix_names = [name for name, _ in suffix_specs]
    events = base.withColumns(dict(suffix_specs)).select(
        *keys, "__ob_chunk__", "__ob_ms__",
        F.lit(1).alias("__ob_tag__"),
        F.lit(None).cast("bigint").alias("__ob_orig_ms__"),
        *suffix_names,
    )
    queries = (
        base.select(*keys, "__ob_ms__").distinct()
        .select(
            *keys,
            F.floor((F.col("__ob_ms__") - window_ms) / F.lit(chunk_ms))
            .alias("__ob_chunk__"),
            (F.col("__ob_ms__") - window_ms).alias("__ob_ms__"),
            F.lit(0).alias("__ob_tag__"),
            F.col("__ob_ms__").alias("__ob_orig_ms__"),
        )
        # only boundaries that actually reach into an earlier chunk need a
        # lookup; same-chunk boundaries are fully covered by the RANGE frame
        .filter(
            F.col("__ob_chunk__")
            < F.floor(F.col("__ob_orig_ms__") / F.lit(chunk_ms))
        )
        .withColumns(
            {name: F.lit(None).cast(events.schema[name].dataType)
             for name in suffix_names}
        )
        .select(*events.columns)
    )
    wfwd = (
        Window.partitionBy(*[F.col(k) for k in keys], F.col("__ob_chunk__"))
        .orderBy(F.col("__ob_ms__").asc(), F.col("__ob_tag__").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    looked = (
        events.unionByName(queries)
        .withColumns(
            {
                f"__p_{name}": F.first(F.col(name), ignorenulls=True).over(wfwd)
                for name in suffix_names
            }
        )
        .filter(F.col("__ob_tag__") == 0)
    )
    prev = looked.select(
        *keys,
        F.col("__ob_orig_ms__").alias("__ob_ms__"),
        *[F.col(f"__p_{name}").alias(f"__p_{name}") for name in suffix_names],
    ).alias("p")

    # -- 3. combine + join back on (keys, ms) ------------------------------
    b = base.alias("b")
    cond = [b[k].eqNullSafe(prev[k]) for k in keys]
    cond.append(F.col("b.__ob_ms__") == F.col("p.__ob_ms__"))
    joined = b.join(prev, on=cond, how="left").select(
        *[F.col(f"b.`{c}`") for c in base.columns],
        *[F.col(f"p.`__p_{name}`") for name in suffix_names],
    )

    out_cols = {
        f_.name: combine_parts(
            f_.agg_func,
            lambda st: F.col(f"__ob{i}_c{st.name}"),
            lambda st: F.col(f"__p___ob{i}_s{st.name}"),
        ).cast(t.to_spark_type(f_.dtype))
        for i, f_ in enumerate(fields)
    }

    joined = joined.withColumns(out_cols)
    return joined.drop(
        *[
            c for c in joined.columns
            if c.startswith("__ob") or c.startswith("__p___ob")
        ]
    )


def _unbounded_value_counts(
    df: DataFrame,
    desc: OverWindowDescriptor,
    field: AggField,
    filter_sql: Optional[str],
) -> DataFrame:
    """Scale-safe unbounded VALUE_COUNTS: running per-(key,value) counts +
    map assembly, instead of collecting the whole history into a per-row
    array (which gives row i an i-element array — O(n²) cells on a
    long-lived key).

    Plan (all Catalyst, every intermediate bounded by the OUTPUT size):
      1. occurrence events: one row per (keys, value, ts) with the
         cumulative count of that value — window over (keys, value), O(1)
         state, hot keys parallelize across their values;
      2. query timestamps: distinct (keys, ts) — rows tied on ts share one
         identical map (range-frame tie semantics);
      3. (query, value) pairs for every value first seen at or before the
         query ts — the irreducible set of output map entries;
      4. as-of lookup of the cumulative count per pair via the union +
         last_value trick (one shuffle on (keys, value));
      5. map_from_entries per (keys, ts), left-joined back to the rows.
    """
    keys = list(desc.group_by_keys)
    base = df.withColumn("__vc_ms__", F.expr(_ORDER_MS))

    occ_rows = base if filter_sql is None else base.filter(F.expr(filter_sql))
    occ_rows = occ_rows.withColumn("__vc_v__", F.expr(field.expr_sql)).filter(
        F.col("__vc_v__").isNotNull()
    )
    occ = occ_rows.groupBy(*keys, "__vc_v__", "__vc_ms__").agg(
        F.count(F.lit(1)).alias("__vc_c__")
    )
    wkv = (
        Window.partitionBy(*keys, "__vc_v__")
        .orderBy("__vc_ms__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    events = occ.withColumn("__vc_cum__", F.sum("__vc_c__").over(wkv))

    firsts = events.groupBy(*keys, "__vc_v__").agg(
        F.min("__vc_ms__").alias("__vc_first__")
    )
    queries = base.select(*keys, "__vc_ms__").distinct().alias("q")
    fr = firsts.alias("f")
    pair_cond = [queries[k].eqNullSafe(fr[k]) for k in keys]
    pair_cond.append(F.col("f.__vc_first__") <= F.col("q.__vc_ms__"))
    pairs = queries.join(fr, on=pair_cond).select(
        *[queries[k] for k in keys], F.col("q.__vc_ms__").alias("__vc_ms__"),
        F.col("f.__vc_v__").alias("__vc_v__"),
    )

    ev = events.select(
        *keys, "__vc_v__", "__vc_ms__", "__vc_cum__",
        F.lit(0).alias("__vc_q__"),
    )
    qr = pairs.select(
        *keys, "__vc_v__", "__vc_ms__",
        F.lit(None).cast("bigint").alias("__vc_cum__"),
        F.lit(1).alias("__vc_q__"),
    )
    wlast = (
        Window.partitionBy(*keys, "__vc_v__")
        .orderBy("__vc_ms__", "__vc_q__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    entries = (
        ev.unionByName(qr)
        .withColumn("__vc_cum2__", F.last("__vc_cum__", ignorenulls=True).over(wlast))
        .filter(F.col("__vc_q__") == 1)
    )
    maps = entries.groupBy(*keys, "__vc_ms__").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("__vc_v__").alias("k"),
                    F.col("__vc_cum2__").cast("bigint").alias("v"),
                )
            )
        ).alias("__vc_map__")
    ).alias("m")

    b = base.alias("b")
    join_cond = [b[k].eqNullSafe(maps[k]) for k in keys]
    join_cond.append(F.col("b.__vc_ms__") == F.col("m.__vc_ms__"))
    out = b.join(maps, on=join_cond, how="left").select(
        *[F.col(f"b.`{c}`") for c in base.columns],
        F.col("m.__vc_map__").cast(t.to_spark_type(field.dtype)).alias(field.name),
    )
    return out.drop("__vc_ms__")


def _bounded_value_counts(
    df: DataFrame,
    desc: OverWindowDescriptor,
    field: AggField,
    filter_sql: Optional[str],
) -> DataFrame:
    """Scale-safe BOUNDED ([t-W, t]) VALUE_COUNTS — the distributive
    counterpart of :func:`_unbounded_value_counts`.  The collect path would
    materialize a per-row array of every in-window occurrence — O(rows x
    window) cells on a hot key — and a naive occurrence-x-query interval
    join re-creates exactly that many matched rows.  This plan's work is
    O(occurrences + output entries) instead:

      1. occurrence events: one row per (keys, value, ts) with its
         occurrence count — map-side combinable;
      2. candidate (query, value) pairs from the DISTINCT value list per
         (keys, W-sized chunk): with chunk == W a window spans exactly the
         query's chunk c and chunk c-1, so each per-chunk value row is
         expanded to (chunk, chunk+1) and equi-joined to the distinct
         query timestamps of the bucket — fan-out is the candidate-entry
         set (~ the output size), never occurrences x window;
      3. count per candidate = suffix-count of chunk c-1 at ms >= qt-W
         plus prefix-count of chunk c at ms <= qt, each resolved with one
         union + running-last as-of lookup partitioned by (keys, value,
         chunk) — state bounded per chunk, hot keys parallelize across
         values AND chunks; candidates whose two lookups sum to zero (the
         value lives in the chunks but outside the window) are dropped;
      4. map_from_entries per (keys, ts), left-joined back to the rows
         (rows tied on ts share one map; windows with no qualifying
         values get NULL, matching the collect path).
    """
    keys = list(desc.group_by_keys)
    window_ms = desc.window_size_ms
    base = df.withColumn("__vb_ms__", F.expr(_ORDER_MS))

    occ_rows = base if filter_sql is None else base.filter(F.expr(filter_sql))
    occ_rows = occ_rows.withColumn("__vb_v__", F.expr(field.expr_sql)).filter(
        F.col("__vb_v__").isNotNull()
    )
    occ = (
        occ_rows.groupBy(*keys, "__vb_v__", "__vb_ms__")
        .agg(F.count(F.lit(1)).alias("__vb_c__"))
        .withColumn("__vb_chunk__", F.floor(F.col("__vb_ms__") / F.lit(window_ms)))
    )

    # -- 2. candidate (query, value) pairs via per-chunk value lists ------
    qkeys = [f"__vb_qk{i}__" for i in range(len(keys))]
    queries = (
        base.select(
            *[F.col(k).alias(qk) for k, qk in zip(keys, qkeys)],
            F.col("__vb_ms__").alias("__vb_qms__"),
        )
        .distinct()
        .withColumn("__vb_qchunk__", F.floor(F.col("__vb_qms__") / F.lit(window_ms)))
    )
    chunk_values = (
        occ.select(*keys, "__vb_v__", "__vb_chunk__")
        .distinct()
        .withColumn(
            "__vb_serves__",
            F.explode(F.array(F.col("__vb_chunk__"), F.col("__vb_chunk__") + 1)),
        )
        .select(*keys, "__vb_v__", "__vb_serves__")
        .distinct()
    )
    cand_cond = [F.col(k).eqNullSafe(F.col(qk)) for k, qk in zip(keys, qkeys)]
    cand_cond.append(F.col("__vb_serves__") == F.col("__vb_qchunk__"))
    cand = chunk_values.join(queries, on=cand_cond).select(
        *qkeys, "__vb_v__", "__vb_qms__", "__vb_qchunk__"
    )

    # -- 3a. prefix lookup: chunk c occurrences with ms <= qt -------------
    wpre = (
        Window.partitionBy(*keys, "__vb_v__", "__vb_chunk__")
        .orderBy(F.col("__vb_ms__").asc(), F.col("__vb_q__").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre_events = occ.select(
        *keys, "__vb_v__", "__vb_chunk__", "__vb_ms__", "__vb_c__",
        F.lit(0).alias("__vb_q__"),
        F.lit(None).cast("bigint").alias("__vb_qms0__"),
    )
    pre_queries = cand.select(
        *[F.col(qk).alias(k) for k, qk in zip(keys, qkeys)],
        "__vb_v__",
        F.col("__vb_qchunk__").alias("__vb_chunk__"),
        F.col("__vb_qms__").alias("__vb_ms__"),
        F.lit(None).cast("bigint").alias("__vb_c__"),
        F.lit(1).alias("__vb_q__"),
        F.col("__vb_qms__").alias("__vb_qms0__"),
    )
    prefix = (
        pre_events.unionByName(pre_queries)
        .withColumn("__vb_cum__", F.sum("__vb_c__").over(wpre))
        .filter(F.col("__vb_q__") == 1)
        .select(
            *keys, "__vb_v__",
            F.col("__vb_qms0__").alias("__vb_qms__"),
            F.coalesce(F.col("__vb_cum__"), F.lit(0)).alias("__vb_pre__"),
        )
    )

    # -- 3b. suffix lookup: chunk c-1 occurrences with ms >= qt - W -------
    wsuf = (
        Window.partitionBy(*keys, "__vb_v__", "__vb_chunk__")
        .orderBy(F.col("__vb_ms__").desc(), F.col("__vb_q__").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    suf_queries = cand.select(
        *[F.col(qk).alias(k) for k, qk in zip(keys, qkeys)],
        "__vb_v__",
        (F.col("__vb_qchunk__") - 1).alias("__vb_chunk__"),
        (F.col("__vb_qms__") - window_ms).alias("__vb_ms__"),
        F.lit(None).cast("bigint").alias("__vb_c__"),
        F.lit(1).alias("__vb_q__"),
        F.col("__vb_qms__").alias("__vb_qms0__"),
    )
    suffix = (
        pre_events.unionByName(suf_queries)
        .withColumn("__vb_cum__", F.sum("__vb_c__").over(wsuf))
        .filter(F.col("__vb_q__") == 1)
        .select(
            *keys, "__vb_v__",
            F.col("__vb_qms0__").alias("__vb_qms__"),
            F.coalesce(F.col("__vb_cum__"), F.lit(0)).alias("__vb_suf__"),
        )
    )

    # combine via union + groupBy (not a join): NULL group keys group
    # together under GROUP BY, and one shuffle replaces a join's two
    counts = (
        prefix.select(
            *keys, "__vb_v__", "__vb_qms__",
            F.col("__vb_pre__").alias("__vb_part__"),
        )
        .unionByName(
            suffix.select(
                *keys, "__vb_v__", "__vb_qms__",
                F.col("__vb_suf__").alias("__vb_part__"),
            )
        )
        .groupBy(*keys, "__vb_v__", "__vb_qms__")
        .agg(F.sum("__vb_part__").alias("__vb_n__"))
        .filter(F.col("__vb_n__") > 0)
        .select(
            *[F.col(k).alias(qk) for k, qk in zip(keys, qkeys)],
            "__vb_qms__", "__vb_v__", "__vb_n__",
        )
    )
    maps = counts.groupBy(*qkeys, "__vb_qms__").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("__vb_v__").alias("k"),
                    F.col("__vb_n__").cast("bigint").alias("v"),
                )
            )
        ).alias("__vb_map__")
    )
    join_cond = [
        F.col(k).eqNullSafe(F.col(qk)) for k, qk in zip(keys, qkeys)
    ]
    join_cond.append(F.col("__vb_ms__") == F.col("__vb_qms__"))
    out = base.join(maps, on=join_cond, how="left").select(
        *base.columns,
        F.col("__vb_map__").cast(t.to_spark_type(field.dtype)).alias(field.name),
    )
    return out.drop("__vb_ms__")


def evaluate_over_window(
    df: DataFrame,
    desc: OverWindowDescriptor,
    fields: Sequence[AggField],
) -> DataFrame:
    """Append one column per AggField, all over a single WindowSpec."""
    spec = _window_spec(desc, fields)
    filter_sql = to_spark_sql(desc.filter_expr) if desc.filter_expr else None
    out_cols = {}

    # Unbounded VALUE_COUNTS gets the distributive running-count plan — the
    # collect path would give row i an i-element array (O(n²) cells on a
    # long-lived key).
    vc_unbounded = [
        f for f in fields
        if f.agg_func == AggFunc.VALUE_COUNTS
        and desc.window_size_ms is None
        and desc.limit is None
    ]
    # Bounded VALUE_COUNTS gets the distributive chunked-interval-join plan
    # for the same reason (per-row in-window history arrays on a hot key).
    vc_bounded = [
        f for f in fields
        if f.agg_func == AggFunc.VALUE_COUNTS
        and desc.window_size_ms is not None
        and desc.window_size_ms > 0
        and desc.limit is None
    ]
    collect_fields = [
        f for f in fields
        if _needs_collect(desc, f.agg_func)
        and f not in vc_unbounded
        and f not in vc_bounded
    ]
    direct_fields = [f for f in fields if not _needs_collect(desc, f.agg_func)]

    for f_ in direct_fields:
        # FIRST/LAST: filter_sql is None here (_needs_collect).  The window
        # orders by event time only, so tied times would make first()/
        # last() run-dependent — min/max over struct(t, v) pins the collect
        # path's (t, v) tie rule for orderable types
        col = single_phase(
            f_.agg_func, f_.expr_sql, filter_sql, _ORDER_MS,
            is_orderable(f_.dtype), over=lambda c: c.over(spec),
        )
        col = with_empty_default(f_.agg_func, col, f_.dtype)
        out_cols[f_.name] = col.cast(t.to_spark_type(f_.dtype))

    if collect_fields:
        # Materialize the sorted (and sliced) value array per field ONCE as a
        # column, so the aggregation expression references it instead of
        # re-inlining (and re-sorting) the collected array several times.
        for f_ in collect_fields:
            vals_col = f"__vals_{f_.name}__"
            if f_.agg_func == AggFunc.VALUE_COUNTS and desc.limit is None:
                # multiset semantics: no time ordering needed — collect the
                # (filtered) values directly, skipping struct build + sort
                value_sql = filtered_value_sql(f_.expr_sql, filter_sql)
                df = df.withColumn(
                    vals_col, F.expr(f"collect_list({value_sql})").over(spec)
                )
            else:
                # The filter gates whether a ROW enters the window (and
                # occupies a limit slot); a NULL value on a passing row
                # still takes a slot (reference local_processor.py:592-600
                # slices rows, not values).
                base_pair = f"struct({_ORDER_MS} AS t, {f_.expr_sql} AS v)"
                pair = (
                    f"CASE WHEN {filter_sql} THEN {base_pair} END"
                    if filter_sql is not None
                    else base_pair
                )
                collected = F.expr(f"collect_list({pair})").over(spec)
                tmp = f"__collect_{f_.name}__"
                df = df.withColumn(tmp, collected)
                sorted_vals = (
                    f"transform({_sort_pairs_sql(f'`{tmp}`', f_.agg_func, f_.dtype)}, "
                    "s -> s.v)"
                )
                if desc.limit is not None:
                    sorted_vals = keep_last_sql(sorted_vals, desc.limit, f"`{tmp}`")
                df = df.withColumn(vals_col, F.expr(sorted_vals))
            agg_sql = _array_agg_sql(f"`{vals_col}`", f_.agg_func, f_.dtype)
            out_cols[f_.name] = F.expr(agg_sql).cast(t.to_spark_type(f_.dtype))

    df = df.withColumns(out_cols)
    df = df.drop(
        *[
            c
            for c in df.columns
            if c.startswith("__collect_") or c.startswith("__vals_")
        ]
    )
    for f_ in vc_unbounded:
        df = _unbounded_value_counts(df, desc, f_, filter_sql)
    for f_ in vc_bounded:
        df = _bounded_value_counts(df, desc, f_, filter_sql)
    return df
