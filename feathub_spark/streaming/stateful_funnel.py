"""Streaming ordered-funnel operator (the unbounded counterpart of
datapipe.sessions.funnel_steps).

The batch funnel is a greedy earliest-chain scan in event-time order —
an ONLINE algorithm — so the streaming form is exact, not approximate.
It runs as a fold of the keyed-state driver (``keyed_state.py``), which
buffers events per key until the watermark passes them (late data within
the watermark re-sorts correctly; later is dropped, the standard
contract); the fold walks the released events in time order and advances
the chain state exactly as the batch fold would.  One output row is
emitted each time a key's chain ADVANCES (append mode), carrying the new
step count and the chosen step timestamps; the final emission per key
equals the batch result over the same completed prefix
(conformance-tested).

State per key is tiny and bounded: the chain (<= m timestamps) plus the
under-watermark buffer — no event history is retained once consumed,
unlike the over-window operator, because the greedy chain never
revisits past events.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from feathub_spark.processors.spark.constants import EVENT_TIME_COL
from feathub_spark.streaming.keyed_state import KeyedFold, keyed_state, release

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("chain", T.StringType()),     # [ms, ...] chosen steps
        T.StructField("pending", T.StringType()),   # [[ms, type], ...]
    ]
)


class _FunnelFold(KeyedFold):
    name = "stateful_funnel"
    state_schema = _STATE_SCHEMA
    out_fields = [
        T.StructField("n_steps", T.IntegerType()),
        T.StructField("step_ts", T.ArrayType(T.LongType())),
        T.StructField("advanced_ms", T.LongType()),
    ]

    def __init__(self, steps: List[str]) -> None:
        self.steps = steps

    def empty(self) -> list:
        return [[], []]

    def step(self, st: list, rows: List[list], wm: int) -> List[list]:
        chain, m = st[0], len(self.steps)
        if len(chain) == m:
            # Terminal: the funnel already completed for this key.  New
            # events are not buffered and the key is not woken; state stays
            # at the bounded m-element chain (needed to suppress
            # re-emission if more events arrive), never grows.
            return []
        emissions = []
        for ms, tp in release(st, rows, wm, order=lambda p: (p[0], p[1])):
            k = len(chain)
            if k < m and tp == self.steps[k] and (k == 0 or ms > chain[-1]):
                chain.append(ms)
                emissions.append([len(chain), list(chain), ms])
        if len(chain) == m:
            # Completed this batch: drop buffered events (nothing can
            # advance any more), so the key is never woken again; the
            # m-element chain alone remains.
            st[1] = []
        return emissions


def stateful_funnel(
    df: DataFrame,
    key_col: str,
    type_col: str,
    steps: List[str],
    event_time_col: str = EVENT_TIME_COL,
) -> DataFrame:
    """``df`` must be a streaming DataFrame with a watermark on
    ``event_time_col``.  Returns one row per chain advance:
    (key_col, n_steps, step_ts array<bigint> epoch-millis, advanced_ms).

    Liveness note: the operator prunes non-funnel event types at the scan
    (Catalyst pushes the IN filter below the watermark node), so ONLY
    funnel-type events advance the watermark.  On a stream where funnel
    types can go quiet for long stretches, either route a heartbeat
    through a funnel type or apply the type filter upstream of your own
    watermark policy."""
    steps = list(steps)
    if not steps:
        raise ValueError("steps must name at least one event type")
    return keyed_state(
        [(df.filter(F.col(type_col).isin(steps)), [F.col(type_col).alias("__tp__")])],
        [key_col],
        _FunnelFold(steps),
        event_time_col,
    )
