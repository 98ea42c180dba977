"""Streaming SCD2 (the unbounded counterpart of datapipe.scd.scd2_intervals).

Interval building is an ONLINE algorithm — each key only needs its current
open state — so the streaming form is exact.  It runs as a fold of the
keyed-state driver (``keyed_state.py``), which buffers events per key until
the watermark passes them (late data within the watermark re-sorts
correctly; later is dropped, the standard contract); the fold walks the
released events in event-time order and emits one CLOSED interval row
whenever the key's attributes change (append mode cannot retract, so the
currently-open interval lives only in state; readers union the emitted
closed intervals with a point-lookup of the open state if they need
"now").  The final set
of closed intervals equals the batch builder's ``valid_to IS NOT NULL``
rows over the same completed prefix (conformance-tested).

State per key is tiny and bounded: the open interval (start + attribute
payload) plus the under-watermark buffer.  One state row per key is
retained for the stream's lifetime — that is the operator's semantic
(a dimension's current state), not a leak.

Attribute payloads ride through state as deterministic JSON (to_json /
from_json, the stateful_over pattern), so arbitrary column types survive;
attribute equality is JSON-string equality, which matches null-safe value
equality for deterministic serializations.  Events sharing a timestamp
break ties on the serialized payload — give keys unique timestamps (or
pre-dedup) for batch-identical output, mirroring the batch builder's
``tie_cols`` requirement.
"""

from __future__ import annotations

from typing import List, Union

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from feathub_spark.processors.spark.constants import EVENT_TIME_COL
from feathub_spark.streaming.keyed_state import KeyedFold, keyed_state, release

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cur", T.StringType()),      # [from_ms, attrs_json]
        T.StructField("pending", T.StringType()),  # [[ms, attrs_json], ...]
    ]
)


class _Scd2Fold(KeyedFold):
    name = "stateful_scd2"
    state_schema = _STATE_SCHEMA
    out_fields = [
        T.StructField("__a__", T.StringType()),
        T.StructField("valid_from_ms", T.LongType()),
        T.StructField("valid_to_ms", T.LongType()),
    ]

    def empty(self) -> list:
        return [None, []]

    def step(self, st: list, rows: List[list], wm: int) -> List[list]:
        emissions = []
        for ms, aj in release(st, rows, wm, order=lambda p: (p[0], p[1])):
            cur = st[0]
            if cur is None:
                st[0] = [ms, aj]
            elif aj != cur[1]:
                emissions.append([cur[1], cur[0], ms])
                st[0] = [ms, aj]
        return emissions


def stateful_scd2(
    df: DataFrame,
    key_cols: Union[str, List[str]],
    attr_cols: Union[str, List[str]],
    event_time_col: str = EVENT_TIME_COL,
) -> DataFrame:
    """``df`` must be a streaming DataFrame with a watermark on
    ``event_time_col``.  Returns one row per CLOSED interval:
    (*key_cols, *attr_cols, valid_from_ms, valid_to_ms) — epoch millis."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    attrs = [attr_cols] if isinstance(attr_cols, str) else list(attr_cols)
    if not keys or not attrs:
        raise ValueError("stateful_scd2 needs key_cols and attr_cols")

    attr_struct = T.StructType([df.schema[c] for c in attrs])
    attrs_json = F.to_json(F.struct(*[F.col(c) for c in attrs])).alias("__a__")
    restored = keyed_state(
        [(df, [attrs_json])], keys, _Scd2Fold(), event_time_col,
        payloads={"__a__": attr_struct},
    )
    return restored.select(
        *keys,
        *[F.col(f"__a__.{c}").alias(c) for c in attrs],
        "valid_from_ms",
        "valid_to_ms",
    )
