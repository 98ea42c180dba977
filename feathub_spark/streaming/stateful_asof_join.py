"""Streaming point-in-time (as-of) join as a stateful operator.

Flink runs the reference's temporal join with versioned-table state
(join_utils.py:243-331); Spark has no streaming as-of primitive, so this
operator re-creates it as a fold of the keyed-state driver
(``keyed_state.py``) over the tagged UNION of both streams (the same
union-sort idea as the batch plan, with state instead of a sort).  The
driver buffers left rows until the watermark passes them; the fold owns
the as-of match:

- both sides are watermarked; the union's watermark is the minimum, so
  when wm passes a left row's time, every right row at-or-before it has
  arrived;
- per join-key state: right history (ms, payload-json) + left rows pending
  the watermark;
- a left row at t emits joined with the largest right ms <= t, NULL if
  none — exactly the batch/golden semantics;
- right history is pruned to the as-of frontier: the single latest right
  row at-or-before the watermark survives (any future left row is newer
  than wm), plus everything after wm.  State is bounded by the
  out-of-orderness window, not the stream length.

Right-timestamp ties (two right rows with the same key AND timestamp):
the batch plan picks the MAX payload struct deterministically
(join_utils.py); this operator matches it by sorting rights on
(ms, parsed-payload tuple) — JSON field order is the struct field order,
so field-by-field Python comparison mirrors Spark's struct ordering for
numeric/string/bool fields (None sorts first, like Spark's null).  A
payload whose values defy comparison (mixed exotic types) falls back to
arrival order for that key.
"""

from __future__ import annotations

import json
from typing import List

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from feathub_spark.processors.spark.constants import EVENT_TIME_COL
from feathub_spark.streaming.keyed_state import MS, KeyedFold, keyed_state, release


def _tie_encode(v):
    """Null-safe recursive ordering key for one payload value, mirroring
    Spark's ordering: nulls first at EVERY nesting level (a raw list with
    a None element raises TypeError against a number in Python's tuple
    compare, which would silently drop the whole tie sort to arrival
    order); arrays compare element-wise with prefix-shorter first, same
    as Spark.  Maps are unorderable in Spark — every dict encodes
    identically so map ties keep arrival order (the documented batch
    divergence) without poisoning the compare."""
    if v is None:
        return (0, 0)
    if isinstance(v, list):
        return (1, tuple(_tie_encode(x) for x in v))
    if isinstance(v, dict):
        return (1,)
    return (1, v)


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("rights", T.StringType()),        # [[ms, rv_json], ...]
        T.StructField("pending_left", T.StringType()),  # [[ms, row_json], ...]
    ]
)


class _AsofFold(KeyedFold):
    name = "stateful_asof_join"
    state_schema = _STATE_SCHEMA
    out_fields = [
        T.StructField(MS, T.LongType()),
        T.StructField("__l__", T.StringType()),
        T.StructField("__r__", T.StringType()),
    ]

    def __init__(self, payload_fields: List[str]) -> None:
        self.payload_fields = payload_fields  # struct field order for tie keys

    def empty(self) -> list:
        return [[], []]

    def _payload_key(self, rjson):
        # batch tie rule: max payload struct wins among equal ms.
        # Index by the declared field order (to_json DROPS null
        # fields, so positional parsing would misalign).  Note the
        # granularity difference vs batch: batch orders the running
        # last by unix_micros, so right rows distinct at sub-ms
        # become payload-ordered "ties" only here (parity tests pin
        # event times at ms boundaries).
        vals = json.loads(rjson)
        return tuple(_tie_encode(vals.get(n)) for n in self.payload_fields)

    def step(self, st: list, rows: List[list], wm: int) -> List[list]:
        rights = st[0]
        lefts = []
        for ms, side, payload in rows:
            (lefts if side else rights).append([ms, payload])
        try:
            rights.sort(key=lambda r: (r[0], self._payload_key(r[1])))
        except TypeError:
            # uncomparable payload values — keep arrival order on ties
            rights.sort(key=lambda r: r[0])

        emissions = []
        for ms, left_json in release(st, lefts, wm):
            match = None
            for rms, rjson in rights:
                if rms <= ms:
                    match = rjson
                else:
                    break
            emissions.append([ms, left_json, match])

        # prune: keep the single latest right <= wm (the as-of value for any
        # future left row) plus rights beyond the watermark
        at_or_before = [r for r in rights if r[0] <= wm]
        st[0] = at_or_before[-1:] + [r for r in rights if r[0] > wm]
        return emissions


def stateful_asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: List[str],
    right_fields: dict,
) -> DataFrame:
    """right_fields: output column -> right column.  Both inputs are
    streaming DataFrames carrying a watermarked EVENT_TIME_COL."""
    left_cols = [c for c in left.columns if c != EVENT_TIME_COL]
    left_struct = T.StructType([left.schema[c] for c in left_cols])
    right_struct = T.StructType(
        [
            T.StructField(out, right.schema[rc].dataType)
            for out, rc in right_fields.items()
        ]
    )
    left_row = F.to_json(F.struct(*[F.col(c) for c in left_cols]))
    right_row = F.to_json(
        F.struct(*[F.col(rc).alias(out) for out, rc in right_fields.items()])
    )
    right = right.filter(" AND ".join(f"`{k}` IS NOT NULL" for k in keys))
    restored = keyed_state(
        [
            (left, [F.lit(1).alias("__side__"), left_row.alias("__payload__")]),
            (right, [F.lit(0).alias("__side__"), right_row.alias("__payload__")]),
        ],
        keys,
        _AsofFold(list(right_fields)),
        payloads={"__l__": left_struct, "__r__": right_struct},
    )
    out_names = list(right_fields.keys())
    passthrough = [c for c in left_cols if c not in out_names]
    return restored.select(
        *[F.col(f"__l__.{c}").alias(c) for c in passthrough],
        F.timestamp_millis(F.col(MS)).alias(EVENT_TIME_COL),
        *[F.col(f"__r__.{n}").alias(n) for n in out_names],
    )
