"""Streaming over-windows (per-row trailing aggregation) as a stateful
operator.

The batch evaluator (processors/spark/over_window_utils.py) cannot run on a
stream — Spark forbids window functions over streaming DataFrames — so this
operator reproduces its golden semantics as a fold of the keyed-state driver
(``keyed_state.py``; the Spark analog of Flink's event-time Over window,
which the reference uses: processors/flink/table_builder/over_window_utils.py:70-196).
The driver buffers rows per key until the watermark passes their event time
(so every earlier row has arrived); the fold owns the rest:

- emit exactly one output row per released input row, aggregating history
  in [t - window, t] (ties included), optionally the most recent ``limit``
  matching rows;
- prune history to watermark - max_window; an unbounded window keeps it
  whole, and such a key is woken only while it buffers rows;
- the full input row rides through state as a JSON payload generated
  JVM-side (to_json) and restored with from_json, so arbitrary column types
  survive without Python-side serialization rules.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from feathub_spark.common.types import to_spark_type
from feathub_spark.feature_views.feature import Feature
from feathub_spark.processors.spark.constants import EVENT_TIME_COL
from feathub_spark.streaming._window_agg import value_flag_columns, window_agg
from feathub_spark.streaming.keyed_state import MS, KeyedFold, keyed_state, release

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("history", T.StringType()),   # [[ms, v0..vn], ...]
        T.StructField("pending", T.StringType()),   # [[ms, v0..vn, row_json], ...]
    ]
)


class _OverFold(KeyedFold):
    name = "stateful_over_window"
    state_schema = _STATE_SCHEMA

    def __init__(self, features: List[Feature]) -> None:
        transforms = [f.transform for f in features]
        self.windows_ms = [tr.window_size_ms for tr in transforms]
        # Any unbounded field forbids pruning: history must be kept whole.
        self.max_window = (
            None if any(w is None for w in self.windows_ms) else max(self.windows_ms)
        )
        self.aggs = [tr.agg_func for tr in transforms]
        self.limits = [tr.limit for tr in transforms]
        self.out_fields = [
            T.StructField(MS, T.LongType()),
            T.StructField("__row__", T.StringType()),
        ] + [T.StructField(f.name, to_spark_type(f.dtype)) for f in features]

    def empty(self) -> list:
        return [[], []]

    def wake(self, st: list) -> bool:
        history, pending = st
        return bool(pending) or (self.max_window is not None and bool(history))

    def step(self, st: list, rows: List[list], wm: int) -> List[list]:
        n_fields = len(self.aggs)
        ready = release(st, rows, wm)
        history = st[0]
        emissions = []
        if ready:
            history.extend([p[: 1 + 2 * n_fields] for p in ready])
            history.sort(key=lambda r: r[0])
            for p in ready:
                t0 = p[0]
                out_vals = [
                    window_agg(
                        history, i, n_fields, None if w is None else t0 - w, t0,
                        agg, limit,
                    )
                    for i, (w, agg, limit) in enumerate(
                        zip(self.windows_ms, self.aggs, self.limits)
                    )
                ]
                emissions.append([t0, p[1 + 2 * n_fields]] + out_vals)

        if self.max_window is not None and history:
            # lazy grace-period prune (reference prunes only every
            # maxWindow/10, SlidingWindowKeyedProcessFunction.java:76-105):
            # O(1) staleness probe on the sorted history, O(n) rebuild only
            # once per grace interval; grace-band rows are already outside
            # every [t0 - w, t0] membership test, so emissions don't change
            horizon = wm - self.max_window
            if history[0][0] < horizon - max(1, self.max_window // 10):
                st[0] = [r for r in history if r[0] >= horizon]
        return emissions


def stateful_over_window(df: DataFrame, features: List[Feature]) -> DataFrame:
    """``features`` carry OverWindowTransforms sharing group_by_keys.
    Returns the original columns plus one column per feature."""
    transforms = [f.transform for f in features]
    keys = list(transforms[0].group_by_keys)
    assert all(list(tr.group_by_keys) == keys for tr in transforms)

    orig_cols = [c for c in df.columns if c != EVENT_TIME_COL]
    row_struct = T.StructType([df.schema[c] for c in orig_cols])
    row_json = F.to_json(F.struct(*[F.col(c) for c in orig_cols])).alias("__row__")
    restored = keyed_state(
        [(df, value_flag_columns(transforms) + [row_json])], keys, _OverFold(features),
        payloads={"__row__": row_struct},
    )
    feature_names = [f.name for f in features]
    passthrough = [c for c in orig_cols if c not in feature_names]
    return restored.select(
        *[F.col(f"__row__.{c}").alias(c) for c in passthrough],
        F.timestamp_millis(F.col(MS)).alias(EVENT_TIME_COL),
        *[F.col(n) for n in feature_names],
    )
