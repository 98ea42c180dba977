"""One event-time keyed-state driver for the streaming stateful operators.

The as-of join, over window, sliding window, SCD2 and funnel operators are
per-key folds that Spark runs with ``applyInPandasWithState`` in append mode
under an event-time timeout.  The driver owns what they share:

- the input projection: rows with a NULL event time are dropped (they have
  no event-time position and would reach pandas as NaN), ``__ms__`` holds
  the event time in epoch millis, and the watermarked column stays in the
  projection, as the event-time timeout requires;
- refusing a second stateful stage in one plan, which Spark compiles but
  refuses to start ("Multiple applyInPandasWithStates are not supported");
- per key: loading and storing state, ingesting rows (NaN becomes None),
  reading the watermark, releasing buffered rows the watermark has passed,
  removing a drained key, and the timer;
- the emission frame, and restoring ``to_json`` payloads with ``from_json``.

A :class:`KeyedFold` owns its state struct and its fold: the window emission
loop, the as-of match, the SCD2 interval walk or the funnel chain step.

Timer policy: a key is woken ``tick_ms`` past the watermark only while it
buffers rows the watermark has not passed, or while a bounded history can
still be pruned or drained (:meth:`KeyedFold.wake`).  A key keeping only
what later input needs (an unbounded over-window history, an as-of value,
an open SCD2 interval, a finished funnel) sleeps until that input arrives.
"""

from __future__ import annotations

import math
from functools import reduce
from typing import Callable, Dict, Iterator, List, Optional, Sequence, Tuple

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from feathub_spark.common.exceptions import PlanError
from feathub_spark.processors.spark.constants import EVENT_TIME_COL
from feathub_spark.streaming._state_json import dumps_state, loads_state

MS = "__ms__"


class KeyedFold:
    """One stateful operator's per-key fold.

    ``state_schema`` is the operator's state struct; by default each field
    holds a JSON blob (:mod:`._state_json`), NULL for None.  A fold that
    buffers rows until the watermark keeps them in its last field and
    releases them with :func:`release`.  ``out_fields`` are the emitted
    columns after the grouping keys."""

    name: str
    state_schema: T.StructType
    out_fields: List[T.StructField]
    tick_ms = 1

    def empty(self) -> list:
        raise NotImplementedError

    def step(self, st: list, rows: List[list], wm: int) -> List[list]:
        """Fold the key's new rows (``[ms, *columns]``, arrival order) into
        ``st`` in place; returns the rows to emit, without the key."""
        raise NotImplementedError

    def load(self, stored: tuple) -> list:
        return [None if v is None else loads_state(v) for v in stored]

    def store(self, st: list) -> tuple:
        return tuple(None if v is None else dumps_state(v) for v in st)

    def drained(self, st: list) -> bool:
        return st == self.empty()

    def wake(self, st: list) -> bool:
        return bool(st[-1])


def release(
    st: list, rows: List[list], wm: int, order: Optional[Callable] = None
) -> List[list]:
    """Buffers ``rows`` in the pending list ``st[-1]`` and returns the
    pending rows at or before the watermark, sorted by ``order`` (event time
    by default); later rows stay pending."""
    pending = st[-1] + rows
    st[-1] = [p for p in pending if p[0] > wm]
    return sorted((p for p in pending if p[0] <= wm), key=order or (lambda p: p[0]))


def _stateful_stage(df: DataFrame) -> Optional[str]:
    """Name of a pandas stateful stage already in ``df``'s plan, if any."""
    nodes = [df._jdf.queryExecution().analyzed()]
    while nodes:
        node = nodes.pop()
        if node.nodeName() == "FlatMapGroupsInPandasWithState":
            return node.functionExpr().name()
        children = node.children()
        nodes.extend(children.apply(i) for i in range(children.size()))
    return None


def keyed_state(
    sides: Sequence[Tuple[DataFrame, Sequence[Column]]],
    keys: Sequence[str],
    fold: KeyedFold,
    event_time_col: str = EVENT_TIME_COL,
    payloads: Optional[Dict[str, T.StructType]] = None,
) -> DataFrame:
    """Runs ``fold`` per key over the union of ``sides``.  Each side is a
    streaming DataFrame with a watermark on ``event_time_col`` and the
    columns its rows carry after ``__ms__``; the sides share column names.
    Returns the keys, the fold's ``out_fields``, and each JSON column named
    in ``payloads`` restored to its struct."""
    for df, _ in sides:
        upstream = _stateful_stage(df)
        if upstream is not None:
            raise PlanError(
                f"{fold.name} reads the output of {upstream}: a streaming "
                "view may hold one stateful stage (as-of join, over window "
                "or stateful sliding window), and Spark refuses to start a "
                "query with two. Compute this view on the batch path "
                "(get_features / get_table)."
            )
    et = F.col(event_time_col)
    prepared = reduce(
        DataFrame.unionByName,
        [
            df.filter(et.isNotNull()).select(
                *keys, F.unix_millis(et).alias(MS), *cols, et
            )
            for df, cols in sides
        ],
    )
    out_schema = T.StructType(
        [T.StructField(k, prepared.schema[k].dataType) for k in keys]
        + list(fold.out_fields)
    )
    names = out_schema.fieldNames()
    nk = len(keys)

    def process_key(
        key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = fold.load(state.get) if state.exists else fold.empty()
        rows = [
            [int(r[nk])]
            + [
                None if isinstance(v, float) and math.isnan(v) else v
                for v in r[nk + 1 : -1]
            ]
            for pdf in pdf_iter
            for r in pdf.itertuples(index=False)
        ]
        wm = state.getCurrentWatermarkMs()
        emissions = fold.step(st, rows, wm)
        if fold.drained(st):
            state.remove()
        else:
            stored = fold.store(st)
            if not state.exists or stored != tuple(state.get):
                state.update(stored)
            if fold.wake(st):
                state.setTimeoutTimestamp(max(wm + fold.tick_ms, 1))
        if emissions:
            yield pd.DataFrame([list(key) + e for e in emissions], columns=names)

    # the UDF name is what a later stage's refusal reports
    process_key.__name__ = fold.name
    out = prepared.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
        process_key,
        outputStructType=out_schema,
        stateStructType=fold.state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    for name, struct in (payloads or {}).items():
        out = out.withColumn(name, F.from_json(F.col(name), struct))
    return out
