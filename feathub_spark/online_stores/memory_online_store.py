"""MemoryOnlineStore: in-process key → latest-feature-row store for serving.

Semantics per the reference (online_stores/memory_online_store.py:40-163):
``put`` upserts rows keeping the max-timestamp row per key; ``get`` returns
the latest row per requested key, optionally projected to selected features.
The store is a serving-side structure (pandas), not a Spark job.

A keyed table holds one row per key and a pandas index of its key fields
(an ``Index``, or a ``MultiIndex`` for several keys) that maps a key to its
row, so the cost of a call follows its input, not the table:

- ``lookup`` looks up only the requested keys: proportional to the
  request.  It returns each feature's stored column taken at the found
  rows, as arrays by name; a key the table lacks reads NULL.  An int or
  bool column with such a NULL comes back as an Arrow array of the stored
  type, so expressions see a BIGINT, not the float64 a left merge would
  upcast it to; ``served`` gives the merge's form.  ``get`` serves the
  same lookup as one frame with the request's columns.
- ``put`` dedupes only the incoming batch, compares timestamps only for the
  keys it touches, overwrites their rows and appends the new keys:
  proportional to the batch, plus copying the table's rows into the new
  version (no sort, no hashing of stored keys).  New keys go to a small
  tail index, so the hash table of the main index is rebuilt only when
  the tail outgrows an eighth of it.
- ``snapshot`` rebuilds the flat frame (keys as columns): proportional to
  the table, for batch reads into Spark.

Keyless tables (e.g. global metric emissions) are append-only.

Writes are copy-on-write: ``put`` builds the new table aside and swaps it
in with one assignment, so a concurrent reader sees the old row or the new
row, never a mix.  Puts to one store are serialized by a lock.
"""

from __future__ import annotations

import threading
from typing import Any, Dict, List, Mapping, NamedTuple, Optional, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pandas.api.extensions import take

from feathub_spark.common.exceptions import FeathubError


class _Table(NamedTuple):
    # keyed: one row per key, without the key columns, in the order of
    # `index` then `tail`; keyless: the append-only rows
    frame: pd.DataFrame
    keys: List[str]
    timestamp_field: Optional[str]
    # every column in first-put order, key fields included
    columns: List[str]
    # the keys of the first len(index) rows, then of the rows after them
    index: Optional[pd.Index] = None
    tail: Optional[pd.Index] = None

    def positions(self, wanted: pd.Index) -> np.ndarray:
        """The row of each wanted key; -1 where the key is not stored."""
        pos = self.index.get_indexer(wanted)
        miss = np.flatnonzero(pos < 0)
        if len(miss) and len(self.tail):
            at = self.tail.get_indexer(wanted[miss])
            pos[miss] = np.where(at >= 0, len(self.index) + at, -1)
        return pos


def _unwrap(values):
    """A pandas array of numpy values as those values, whose dtype compares
    equal to a stored key's (a frame column or a numpy array is kept)."""
    if isinstance(values, pd.arrays.NumpyExtensionArray):
        return values.to_numpy()
    return values


def _take_missing(values, pos: np.ndarray):
    """``values`` at ``pos``, NULL where ``pos`` is -1 (a missing key)."""
    if isinstance(values, np.ndarray) and values.dtype.kind in "iub":
        # NULL without the upcast: the stored type stays visible
        filled = take(values, pos, allow_fill=True, fill_value=values.dtype.type(0))
        return pa.array(filled, mask=pos < 0)
    return take(values, pos, allow_fill=True)


def served(values):
    """A ``lookup`` column as a left merge serves it: an int column with a
    missing key as float64 with NaN, a bool one as object with NaN."""
    if not isinstance(values, pa.Array):
        return values
    dtype = object if pa.types.is_boolean(values.type) else np.float64
    return values.to_pandas().to_numpy(dtype=dtype, na_value=np.nan)


def _key_index(columns: Mapping[str, Any], keys: Sequence[str]) -> pd.Index:
    """The key fields of ``columns`` (a frame, or arrays by name) as an
    index.  NULL keys match each other, as in a pandas merge and
    SqlOnlineStore: a MultiIndex codes every NULL alike, and one
    object-dtype key has its None folded into NaN, which also matches the
    NaN of a float key."""
    if len(keys) > 1:
        return pd.MultiIndex.from_arrays([columns[k] for k in keys], names=keys)
    col = columns[keys[0]]
    if col.dtype == object:
        col = np.where(pd.isna(col), np.nan, col)
    return pd.Index(col, name=keys[0])


def _keyed(frame, keys, ts, columns, index, tail) -> _Table:
    # the main index's hash table is rebuilt only when the tail outgrows it:
    # rehashing every stored key would cost more than the rest of a small put
    if len(tail) > len(index) // 8:
        index, tail = index.append(tail), tail[:0]
    # pandas fills an index's hash table on first lookup, outside the GIL;
    # fill it here, before readers share the index
    for ix in (index, tail):
        ix.get_indexer(ix[-1:])
    return _Table(frame, keys, ts, columns, index, tail)


def _flat(table: _Table) -> pd.DataFrame:
    if not table.keys:
        return table.frame
    flat = table.index.append(table.tail).to_frame(index=False)
    for key in table.keys:
        if flat[key].dtype == object:
            # the NULL key was folded into NaN; None is an object NULL
            flat[key] = flat[key].where(flat[key].notna(), None)
    return pd.concat([flat, table.frame], axis=1)[table.columns]


def _latest_per_key(data: pd.DataFrame, keys, ts: Optional[str]) -> np.ndarray:
    """Positions of the rows of ``data`` that win per key: the max
    timestamp, the later row on a tie.  NaN/None timestamps sort FIRST: a
    row with no event time must never beat a timestamped one (pandas'
    default na_position="last" made exactly that happen)."""
    if ts is not None and ts in data.columns:
        order = (
            data[ts].reset_index(drop=True)
            .sort_values(kind="stable", na_position="first")
            .index.to_numpy()
        )
    else:
        order = np.arange(len(data))
    # dedupe on the key index, whose NULLs match each other as in get()
    keys = _key_index(data, keys).take(order)
    return order[~keys.duplicated(keep="last")]


class MemoryOnlineStore:
    _instance: Optional["MemoryOnlineStore"] = None
    _lock = threading.Lock()

    def __init__(self) -> None:
        self._tables: Dict[str, _Table] = {}
        self._write_lock = threading.Lock()

    @classmethod
    def get_instance(cls) -> "MemoryOnlineStore":
        with cls._lock:
            if cls._instance is None:
                cls._instance = MemoryOnlineStore()
            return cls._instance

    @classmethod
    def reset(cls) -> None:
        with cls._lock:
            cls._instance = None

    def put(
        self,
        table_name: str,
        data,
        key_fields: Optional[Sequence[str]] = None,
        timestamp_field: Optional[str] = None,
    ) -> None:
        if not isinstance(data, pd.DataFrame):
            data = data.toPandas()
        with self._write_lock:
            old = self._tables.get(table_name)
            if key_fields is None and old is not None:
                key_fields = old.keys
            if timestamp_field is None and old is not None:
                timestamp_field = old.timestamp_field
            key_fields = list(key_fields or [])
            if old is not None and old.keys != key_fields:
                # a table changing its keys is re-deduped as a whole
                data = pd.concat([_flat(old), data], ignore_index=True)
                old = None
            columns = list(old.columns) if old is not None else []
            columns += [c for c in data.columns if c not in columns]
            if not key_fields:
                frame = (
                    pd.concat([old.frame, data], ignore_index=True)
                    if old is not None
                    else data.reset_index(drop=True)
                )
                table = _Table(frame, [], timestamp_field, columns)
            elif old is None:
                rows = _latest_per_key(data, key_fields, timestamp_field)
                frame = data.iloc[rows].drop(columns=key_fields)
                index = _key_index(data, key_fields).take(rows)
                table = _keyed(
                    frame.reset_index(drop=True), key_fields, timestamp_field,
                    columns, index, index[:0],
                )
            else:
                table = self._upsert(old, data, timestamp_field, columns)
            self._tables[table_name] = table

    @staticmethod
    def _upsert(
        old: _Table, data: pd.DataFrame, ts: Optional[str], columns: List[str]
    ) -> _Table:
        """``old`` after upserting ``data``: old rows keep their positions,
        winning rows overwrite their key's row, new keys go last."""
        keys = old.keys
        rows = _latest_per_key(data, keys, ts)
        new_index = _key_index(data, keys).take(rows)
        pos = old.positions(new_index)
        if ts is not None and (ts in data.columns or ts in old.frame.columns):
            # the stored row survives if it is later, or timestamped
            # against an untimestamped incoming row; on a tie the incoming
            # row wins, as the later put
            def ts_at(frame, at):
                if ts not in frame.columns:
                    return pd.Series(np.nan, index=range(len(at)))
                return pd.Series(frame[ts].to_numpy()[at])

            hit = np.flatnonzero(pos >= 0)
            new_ts, old_ts = ts_at(data, rows[hit]), ts_at(old.frame, pos[hit])
            stale = (new_ts < old_ts) | (new_ts.isna() & old_ts.notna())
            keep = np.ones(len(rows), dtype=bool)
            keep[hit[stale.to_numpy()]] = False
            rows, pos, new_index = rows[keep], pos[keep], new_index[keep]
        hit = pos >= 0
        # concatenating the whole batch gives the column set and dtypes of
        # concat(old, data).  In that fresh copy each winning row is written
        # over its stored key's row, or a new key's row right after the old
        # rows; the batch rows past those are cut off
        n = len(old.frame)
        end = n + (~hit).sum()
        frame = pd.concat([old.frame, data.drop(columns=keys)], ignore_index=True)
        dst = np.concatenate([pos[hit], np.arange(n, end)])
        src = n + np.concatenate([rows[hit], rows[~hit]])
        for j in range(frame.shape[1]):
            frame.iloc[dst, j] = frame.iloc[src, j].array
        frame = frame.iloc[:end]
        tail = old.tail.append(new_index[~hit]) if not hit.all() else old.tail
        return _keyed(frame, keys, ts, columns, old.index, tail)

    def _table(self, table_name: str) -> _Table:
        table = self._tables.get(table_name)
        if table is None:
            raise KeyError(f"Table {table_name!r} not in the online store.")
        return table

    def lookup(
        self,
        table_name: str,
        keys: Mapping[str, Any],
        feature_names: Optional[Sequence[str]] = None,
    ) -> Dict[str, Any]:
        """The stored features (all by default) of the latest row for each
        requested key, as column arrays by name.  ``keys`` maps each key
        field to its values: a request frame, or arrays by name.  Key
        fields are not features: a name in ``feature_names`` that is one
        is left to the request's own column."""
        table = self._table(table_name)
        key_fields = table.keys
        if not key_fields:
            raise FeathubError(
                f"Table {table_name!r} was stored without keys (append-only "
                "metric emissions) — keyed get() is undefined for it."
            )
        if feature_names is None:
            feature_names = table.columns
        cols = [c for c in dict.fromkeys(feature_names) if c not in key_fields]
        keys = {k: _unwrap(keys[k]) for k in key_fields}
        self._check_key_dtypes(table_name, table, keys)
        pos = table.positions(_key_index(keys, key_fields))
        if (pos >= 0).all():
            return {c: take(table.frame[c].values, pos) for c in cols}
        return {c: _take_missing(table.frame[c].values, pos) for c in cols}

    def get(
        self,
        table_name: str,
        input_data: pd.DataFrame,
        feature_names: Optional[Sequence[str]] = None,
    ) -> pd.DataFrame:
        found = self.lookup(table_name, input_data, feature_names)
        # the STORED value wins on name overlap (a request column or an
        # earlier lookup sharing a feature name) — matching the dict-
        # overwrite semantics of SqlOnlineStore/RedisOnlineStore.get; a
        # plain merge would suffix both sides to <c>_x/<c>_y and the
        # feature would silently vanish from the service projection
        arrays = {c: input_data[c].values for c in input_data.columns if c not in found}
        arrays.update((c, served(v)) for c, v in found.items())
        return pd.DataFrame(arrays)

    @staticmethod
    def _check_key_dtypes(table_name: str, table: _Table, keys) -> None:
        """A request key the store's keys cannot match (a string against an
        int64 key) fails loudly, as pandas' merge did, instead of reading
        NULL; int32 against int64 still matches."""
        index = table.index
        stored = list(index.dtypes) if index.nlevels > 1 else [index.dtype]
        asked = [keys[k].dtype for k in table.keys]
        if asked == stored:
            return
        # pandas' merge-key coercion rules decide, on the request keys
        # against the first stored key (an empty table matches anything)
        probe = index[:1].to_frame(index=False)
        try:
            asked_keys = pd.DataFrame({k: keys[k] for k in table.keys})
            asked_keys.merge(probe, on=table.keys, how="left")
        except ValueError as e:
            raise FeathubError(
                f"Table {table_name!r}: request keys {table.keys} have dtypes "
                f"{[str(d) for d in asked]}, which cannot match the stored "
                f"key dtypes {[str(d) for d in stored]}."
            ) from e

    def snapshot(
        self, table_name: str, feature_names: Optional[Sequence[str]] = None
    ) -> pd.DataFrame:
        """The table as one flat frame: the key columns plus the features
        (all stored columns by default).  A copy: changing it leaves the
        store as it was."""
        table = self._table(table_name)
        flat = _flat(table)
        if feature_names is not None:
            keys = table.keys
            flat = flat[keys + [c for c in feature_names if c not in keys]]
        return flat.copy() if flat is table.frame else flat

    def key_fields(self, table_name: str) -> List[str]:
        return list(self._table(table_name).keys)

    def all_tables(self) -> List[str]:
        return sorted(self._tables)
