"""The one lowering table of the decomposable aggregations on Spark.

FeatHub writes each aggregation function once, as a class with accumulate,
merge and result steps that every window runtime reuses.  :data:`LOWERINGS`
is that table for the Spark plans: for each of SUM, COUNT, ROW_NUMBER, AVG,
MIN, MAX, FIRST_VALUE and LAST_VALUE it declares the partial states (each
an aggregate over the field's gated value, its row gate or, for FIRST/LAST,
a ``struct(t, v)`` of a passing row), the aggregate that merges each state,
the two-column combine of the salted plans and the final expression over
the states.  The batch sliding window, the two salted over-window plans and
the single-phase over-window frame and stream window read it; the stream
window keeps its own FIRST/LAST (``min_by``/``max_by`` of the value on the
gated time), which its state-store schema depends on.  VALUE_COUNTS,
COLLECT_LIST and ``limit`` fields collect (time, value) rows instead
(over_window_utils._array_agg_sql).
"""

from __future__ import annotations

from typing import Callable, Mapping, NamedTuple, Optional, Sequence, Tuple

from pyspark.sql import Column, functions as F

from feathub_spark.common import types as t
from feathub_spark.common.exceptions import PlanError
from feathub_spark.common.types import to_spark_type
from feathub_spark.feature_views.transforms.agg_func import AggFunc

States = Callable[[str], Column]  # state name -> its column


def filtered_value_sql(value_sql: str, filter_sql: Optional[str]) -> str:
    if filter_sql is None:
        return value_sql
    return f"CASE WHEN {filter_sql} THEN {value_sql} END"


def is_orderable(dtype: t.DType) -> bool:
    """Spark rejects map types in ordering expressions (and in struct
    comparisons), including maps nested in arrays; everything else the
    engine emits is orderable.  (For COLLECT_LIST fields the OUTPUT
    dtype is the vector of the value expr's type, so unwrapping vectors
    also answers for the underlying value expression.)"""
    if isinstance(dtype, t.MapType):
        return False
    if isinstance(dtype, t.VectorType):
        return is_orderable(dtype.dtype)
    return True


def keep_last_sql(arr: str, limit: int, size_of: Optional[str] = None) -> str:
    """The last ``limit`` elements of the time-sorted array ``arr``;
    ``size_of`` is an array of the same length that is cheaper to size."""
    return (
        f"slice({arr}, greatest(1, size({size_of or arr}) + 1 - {limit}), "
        f"{limit})"
    )


def gated_sql(sql: str, filter_sql: Optional[str]) -> str:
    """``sql`` on the rows that pass the filter, NULL elsewhere."""
    if filter_sql is None:
        return sql
    return f"CASE WHEN {filtered_value_sql('1', filter_sql)} IS NOT NULL THEN {sql} END"


class State(NamedTuple):
    """One partial state: ``partial`` aggregates rows into it, ``merge``
    aggregates partials.  ``of`` names what ``partial`` reads: the gated
    ``value``, the row ``gate`` (counts include rows whose value is NULL,
    reference len(l)) or the ``row`` as ``struct(t, v)``."""

    name: str
    partial: str
    of: str
    merge: str

    def partial_sql(
        self, expr_sql: str, filter_sql: Optional[str], time_sql: str = "",
        orderable: bool = True,
    ) -> str:
        if self.of == "value":
            return f"{self.partial}({filtered_value_sql(expr_sql, filter_sql)})"
        if self.of == "gate":
            return f"{self.partial}({filtered_value_sql('1', filter_sql)})"
        # min/max(struct(t, v)): the earliest/latest ROW, including rows
        # whose value is NULL (reference l[0]/l[-1]), ties broken by value.
        # Struct comparison rejects map-typed values, so those pick by the
        # time alone (deterministic up to timestamp ties, which maps
        # cannot tiebreak anyway)
        row = gated_sql(f"struct({time_sql} AS t, {expr_sql} AS v)", filter_sql)
        if orderable:
            return f"{self.partial}({row})"
        return f"{self.partial}_by({row}, {gated_sql(time_sql, filter_sql)})"

    def merge_sql(self, state_sql: str, orderable: bool = True) -> str:
        if self.of == "row" and not orderable:
            return f"{self.merge}_by({state_sql}, ({state_sql}).t)"
        return f"{self.merge}({state_sql})"

    def combine(self, a: Column, b: Column) -> Column:
        if self.merge == "sum":
            return F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
        return F.greatest(a, b) if self.merge == "max" else F.least(a, b)


class Lowering(NamedTuple):
    states: Tuple[State, ...]
    # the final expression over the states; None: the one state itself
    final: Optional[Callable[[States], Column]] = None
    # ``final`` over coalesce-added states (the salted plans), where an
    # empty window's states are 0 rather than NULL
    combined_final: Optional[Callable[[States], Column]] = None
    # the one-pass aggregate of the gated value that single-phase windows
    # emit instead of ``final`` over the partials
    single: Optional[str] = None

    @property
    def pick(self) -> Optional[str]:
        """``min``/``max`` for FIRST/LAST, which pick one row."""
        state = self.states[0]
        return state.merge if state.of == "row" else None

    def result(self, states: States, combined: bool = False) -> Column:
        final = (combined and self.combined_final) or self.final
        return final(states) if final else states(self.states[0].name)


_SUM = State("sum", "sum", "value", "sum")
_ROWS = Lowering((State("cnt", "count", "gate", "sum"),))


def _avg(s: States) -> Column:
    return s("sum") / s("cnt")


def _pick(name: str, fn: str) -> Lowering:
    return Lowering((State(name, fn, "row", fn),), lambda s: s(name).getField("v"))


LOWERINGS: Mapping[AggFunc, Lowering] = {
    AggFunc.SUM: Lowering((_SUM,)),
    AggFunc.COUNT: _ROWS,
    AggFunc.ROW_NUMBER: _ROWS,
    AggFunc.AVG: Lowering(
        (_SUM, State("cnt", "count", "value", "sum")),
        _avg,
        combined_final=lambda s: F.when(s("cnt") > 0, _avg(s)),
        single="avg",
    ),
    AggFunc.MAX: Lowering((State("max", "max", "value", "max"),)),
    AggFunc.MIN: Lowering((State("min", "min", "value", "min"),)),
    AggFunc.FIRST_VALUE: _pick("first", "min"),
    AggFunc.LAST_VALUE: _pick("last", "max"),
}

# the salted plans combine two partial columns with least/greatest, which
# reject map-typed FIRST/LAST structs: those stay on the standard plan
SALTED = frozenset(a for a, lowering in LOWERINGS.items() if lowering.pick is None)


def check_salted(fields: Sequence, plan: str) -> None:
    for f_ in fields:
        if f_.agg_func not in SALTED:
            raise PlanError(f"{plan} does not support {f_.agg_func}.")


def combine_parts(
    agg: AggFunc,
    part_a: Callable[[State], Column],
    part_b: Callable[[State], Column],
) -> Column:
    """``agg`` over a window split in two parts (the salted plans), from
    each part's column of every state."""
    lowering = LOWERINGS[agg]
    cols = {s.name: s.combine(part_a(s), part_b(s)) for s in lowering.states}
    return lowering.result(cols.__getitem__, combined=True)


def single_phase(
    agg: AggFunc,
    expr_sql: str,
    filter_sql: Optional[str],
    time_sql: str,
    orderable: bool,
    over: Callable[[Column], Column] = lambda c: c,
) -> Column:
    """``agg`` in one pass over a frame or a group: the final expression
    over the partial aggregates, each passed through ``over`` (e.g. a
    window spec).  In a time-ordered frame, FIRST/LAST of an unorderable
    value is positional: ``first``/``last`` of the frame."""
    lowering = LOWERINGS[agg]
    if lowering.single is not None:
        value = filtered_value_sql(expr_sql, filter_sql)
        return over(F.expr(f"{lowering.single}({value})"))
    if lowering.pick is not None and not orderable:
        fn = "first" if lowering.pick == "min" else "last"
        return over(F.expr(f"{fn}({filtered_value_sql(expr_sql, filter_sql)}, false)"))
    cols = {
        s.name: over(F.expr(s.partial_sql(expr_sql, filter_sql, time_sql)))
        for s in lowering.states
    }
    return lowering.result(cols.__getitem__)


def with_empty_default(agg: AggFunc, col: Column, dtype: t.DType) -> Column:
    """``col`` with an empty window's value: 0 for SUM/COUNT, else NULL
    (AggFunc.empty_window_default)."""
    default = agg.empty_window_default()
    if default is None:
        return col
    return F.coalesce(col, F.lit(default).cast(to_spark_type(dtype)))
