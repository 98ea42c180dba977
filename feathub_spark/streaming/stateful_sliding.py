"""Full-semantics streaming sliding windows: a custom stateful operator.

This is the engine's one genuinely custom physical operator, the Spark
analog of the reference's SlidingWindowKeyedProcessFunction
(java/feathub-udf/.../SlidingWindowKeyedProcessFunction.java:51-64 +
SlidingWindowUtils.java:63-186), run as a fold of the keyed-state driver
(``keyed_state.py``), which owns the input projection, the state
lifecycle and the timer.  The fold owns the window emission loop:

- per-key state holds the raw (ms, value...) history for the LARGEST window
  size only — all window sizes share it (the reference's headline state
  optimization, docs/content/deep-dive/optimizations.md:10-33);
- on every trigger, all step windows whose end <= watermark are emitted in
  order: empty windows emit 0 for SUM/COUNT and NULL otherwise
  (enable_empty_window_output), and emissions equal to the previous step are
  suppressed (skip_same_window_output);
- the key is woken every step until the last window containing data has
  closed, then dropped;
- history older than (watermark - max_window) is pruned each trigger.

Aggregations are computed in pandas per (key, window) — the same golden
semantics as the batch evaluator, verified against it in tests.
"""

from __future__ import annotations

import json
from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from feathub_spark.common.types import to_spark_type
from feathub_spark.feature_views.sliding_feature_view import SlidingFeatureView
from feathub_spark.processors.spark.constants import WINDOW_TIME_MS_COL
from feathub_spark.streaming._state_json import dumps_state, loads_state
from feathub_spark.streaming._window_agg import value_flag_columns, window_agg
from feathub_spark.streaming.keyed_state import KeyedFold, keyed_state

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("history", T.StringType()),     # json [[ms, v0, v1...], ...]
        T.StructField("last_wend", T.LongType()),      # last processed step end
        T.StructField("last_values", T.StringType()),  # json of last emission
        T.StructField("drain_wend", T.LongType()),     # first fully-empty wend
    ]
)


class _SlidingFold(KeyedFold):
    name = "stateful_sliding_window"
    state_schema = _STATE_SCHEMA

    def __init__(self, view: SlidingFeatureView) -> None:
        sliding = view.sliding_features()
        self.step_ms = self.tick_ms = view.step_size_ms
        self.windows_ms = [f.transform.window_size_ms for f in sliding]
        self.max_window = max(self.windows_ms)
        self.aggs = [f.transform.agg_func for f in sliding]
        self.limits = [f.transform.limit for f in sliding]
        self.enable_empty = view.enable_empty_window_output
        self.skip_same = view.skip_same_window_output
        self.out_fields = [T.StructField(WINDOW_TIME_MS_COL, T.LongType())] + [
            T.StructField(f.name, to_spark_type(f.dtype)) for f in sliding
        ]

    def empty(self) -> list:
        return [[], None, None, None]

    def load(self, stored: tuple) -> list:
        history_json, last_wend, last_values_enc, drain_wend = stored
        # last_values is kept as its canonical JSON encoding (sort_keys +
        # default=str) and compared encoding-to-encoding: a parsed round
        # trip would stringify VALUE_COUNTS' non-string map keys and
        # defeat skip_same_window_output across micro-batches.
        if last_values_enc == "null":
            last_values_enc = None
        # Checkpoint upgrade compatibility: state written before the
        # nullable-Long encoding stored None as a -1 sentinel.  Only
        # decode -1 as None when -1 cannot be a REAL value on the
        # respective grid (last_wend is a step multiple; drain_wend a
        # step multiple plus max_window) — pre-epoch streams with a
        # grid that lands on -1 keep the new encoding's reading, the
        # unavoidable side of the old ambiguity.
        if last_wend == -1 and (-1) % self.step_ms != 0:
            last_wend = None
        if drain_wend == -1 and (-1 - self.max_window) % self.step_ms != 0:
            drain_wend = None
        return [loads_state(history_json), last_wend, last_values_enc, drain_wend]

    def store(self, st: list) -> tuple:
        history, last_wend, last_values_enc, drain_wend = st
        enc = "null" if last_values_enc is None else last_values_enc
        return (dumps_state(history), last_wend, enc, drain_wend)

    def drained(self, st: list) -> bool:
        _, last_wend, _, drain_wend = st
        return (
            last_wend is not None and drain_wend is not None and last_wend >= drain_wend
        )

    def wake(self, st: list) -> bool:
        return True

    def step(self, st: list, rows: List[list], wm: int) -> List[list]:
        history, last_wend, last_values_enc, drain_wend = st
        step_ms, max_window, n_fields = self.step_ms, self.max_window, len(self.aggs)
        history.extend(rows)
        emissions = []
        if history:
            history.sort(key=lambda r: r[0])
            last_ms = history[-1][0]
            new_drain = (last_ms // step_ms + 1) * step_ms + max_window
            drain_wend = new_drain if drain_wend is None else max(drain_wend, new_drain)

        if drain_wend is not None:
            # Loop start: after the last processed step, or — before any
            # emission — the first step end of the OLDEST row currently in
            # history.  last_wend must not be pinned at data arrival: an
            # earlier-timestamped row arriving in a later batch (still ahead
            # of the watermark) would otherwise have its windows skipped.
            if last_wend is not None:
                wend = last_wend + step_ms
            else:
                wend = (history[0][0] // step_ms + 1) * step_ms
            while wend <= wm and wend <= drain_wend:
                # the window [wend - w, wend) on integer millis
                values = [
                    window_agg(history, i, n_fields, wend - w, wend - 1, agg, limit)
                    for i, (w, agg, limit) in enumerate(
                        zip(self.windows_ms, self.aggs, self.limits)
                    )
                ]
                # "empty" = no source ROW in the largest window — matching
                # the batch evaluator, which emits every window end that
                # received contributions (even all-default ones, e.g. a
                # populated window whose SUM is 0).
                any_rows = any(
                    wend - max_window <= r[0] < wend for r in history
                )
                should_emit = self.enable_empty or any_rows
                enc = json.dumps(values, sort_keys=True, default=str)
                if self.skip_same and enc == last_values_enc:
                    should_emit = False
                if should_emit:
                    emissions.append([wend - 1] + values)
                    last_values_enc = enc
                last_wend = wend
                wend += step_ms

            # Keep the rows a future window (> last_wend) can see — but
            # prune lazily: the reference prunes expired state only every
            # maxWindow/10 (SlidingWindowKeyedProcessFunction.java:76-105),
            # and the analog here skips the O(n) history rebuild until the
            # oldest retained row is at least that grace past expiry.  The
            # sorted history makes the staleness probe O(1); rows inside
            # the grace band are already excluded from every window by the
            # [wend - w, wend) membership test, so emissions are unchanged.
            if last_wend is not None and history:
                horizon = last_wend + step_ms - max_window
                grace = max(step_ms, max_window // 10)
                if history[0][0] < horizon - grace:
                    history = [r for r in history if r[0] >= horizon]

        st[:] = [history, last_wend, last_values_enc, drain_wend]
        return emissions


def stateful_sliding_window(
    df: DataFrame,
    view: SlidingFeatureView,
) -> DataFrame:
    """Apply the stateful sliding operator to a streaming DataFrame carrying
    EVENT_TIME_COL.  Returns keys + window_time ms + agg feature columns."""
    transforms = [f.transform for f in view.sliding_features()]
    return keyed_state(
        [(df, value_flag_columns(transforms))], view.group_by_keys,
        _SlidingFold(view),
    )
