"""Window aggregation over a stateful operator's row history.

The over-window and sliding-window folds keep history rows as
``[ms, v0..vn, f0..fn]``: per field a value (None for a NULL value) and a
filter flag.  Both aggregate a field over an inclusive integer range of
event-time millis with the batch evaluator's golden semantics.
"""

from __future__ import annotations

import math
from typing import Any, List, Optional

from pyspark.sql import Column, functions as F

from feathub_spark.common.exceptions import PlanError
from feathub_spark.dsl.parser import to_spark_sql
from feathub_spark.feature_views.transforms.agg_func import AggFunc


def value_flag_columns(transforms: list) -> List[Column]:
    """The ``__v{i}__`` value and ``__f{i}__`` filter-flag columns of each
    window transform, so expressions stay JVM-side.  The flag is separate
    from the value: a filtered-out row never enters the window, while a
    passing row with a NULL value still occupies a limit slot."""
    values = [
        F.expr(to_spark_sql(tr.expr)).alias(f"__v{i}__")
        for i, tr in enumerate(transforms)
    ]
    flags = [
        (
            F.expr(f"coalesce({to_spark_sql(tr.filter_expr)}, false)")
            if tr.filter_expr
            else F.lit(True)
        ).alias(f"__f{i}__")
        for i, tr in enumerate(transforms)
    ]
    return values + flags


def _agg_pandas(agg: AggFunc, values: List[Any]) -> Any:
    """``values`` has one element per filter-passing WINDOW ROW (None for
    rows whose value expression is null).  Reference semantics (local
    aggregation_utils.py): COUNT/ROW_NUMBER = len(l), FIRST/LAST =
    l[0]/l[-1], COLLECT_LIST = list(l) — all INCLUDING null values;
    SUM/AVG/MIN/MAX/VALUE_COUNTS skip null values."""
    vals = [v for v in values if v is not None and not (isinstance(v, float) and math.isnan(v))]
    if agg == AggFunc.SUM:
        return sum(vals) if vals else 0
    if agg == AggFunc.COUNT or agg == AggFunc.ROW_NUMBER:
        return len(values)
    if agg == AggFunc.AVG:
        return (sum(vals) / len(vals)) if vals else None
    if agg == AggFunc.MAX:
        return max(vals) if vals else None
    if agg == AggFunc.MIN:
        return min(vals) if vals else None
    if agg == AggFunc.FIRST_VALUE:
        return values[0] if values else None
    if agg == AggFunc.LAST_VALUE:
        return values[-1] if values else None
    if agg == AggFunc.COLLECT_LIST:
        return list(values) if values else None
    if agg == AggFunc.VALUE_COUNTS:
        if not vals:
            return None
        out = {}
        for v in vals:
            out[v] = out.get(v, 0) + 1
        return out
    raise PlanError(f"Unsupported streaming window agg {agg}.")


def window_agg(
    history: List[list],
    i: int,
    n_fields: int,
    lo: Optional[int],
    hi: int,
    agg: AggFunc,
    limit: Optional[int],
) -> Any:
    """``agg`` of field ``i`` over the history rows with ``lo <= ms <= hi``
    (``lo`` None: unbounded) that pass the field's filter, optionally only
    the last ``limit`` of them; an empty window gives the agg's default."""
    in_win = [
        r[1 + i]
        for r in history
        if r[0] <= hi and (lo is None or r[0] >= lo) and r[1 + n_fields + i]
    ]
    if limit is not None:
        in_win = in_win[-limit:]
    v = _agg_pandas(agg, in_win)
    return agg.empty_window_default() if v is None else v
