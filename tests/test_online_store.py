"""MemoryOnlineStore: the key-indexed store against a reference model of
the full-table store it replaced and against SqlOnlineStore, the
mistyped-key guard, atomic puts under concurrent serving.
LocalFeatureService: one lookup per table, the served frames (values,
dtypes, column order, index), concurrent reads, string literals in
expression features, and served values equal to Spark's for the same
expressions."""

import random
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pytest

from feathub_spark import Feature, LocalFeatureService, OnDemandFeatureView, Schema
from feathub_spark.common import types as t
from feathub_spark.common.exceptions import FeathubError
from feathub_spark.online_stores.memory_online_store import MemoryOnlineStore


class ReferenceStore:
    """The store before the key index: every put re-sorts and re-dedupes
    the whole table, every get left-merges against the whole table."""

    def __init__(self):
        self.tables, self.keys = {}, {}

    def put(self, name, data, keys, ts):
        old = self.tables.get(name)
        combined = data.copy()
        if old is not None:
            combined = pd.concat([old, data], ignore_index=True)
        if ts in combined.columns:
            combined = combined.sort_values(ts, kind="stable", na_position="first")
        combined = combined.drop_duplicates(subset=keys, keep="last")
        self.tables[name], self.keys[name] = combined.reset_index(drop=True), keys

    def get(self, name, request, features=None):
        table, keys = self.tables[name], self.keys[name]
        cols = list(table.columns)
        if features is not None:
            cols = keys + [c for c in features if c not in keys]
            table = table[cols]
        clash = [c for c in cols if c not in keys and c in request.columns]
        return request.drop(columns=clash).merge(table, on=keys, how="left")


def _keys_frame(rng, keys, n, with_null, n_keys, null_str=(None,)):
    def null(p=0.15):
        return with_null and rng.random() < p

    cols = {}
    if "k" in keys:
        k = [None if null() else rng.randrange(n_keys) for _ in range(n)]
        # a NULL-able key is float64 in every batch, as a column's dtype is
        cols["k"] = pd.array(k, dtype="float64" if with_null else "int64")
    if "s" in keys:
        s = [
            rng.choice(null_str) if null() else f"s{rng.randrange(n_keys)}"
            for _ in range(n)
        ]
        cols["s"] = pd.Series(s, dtype=object)
    return pd.DataFrame(cols)


def _random_put(rng, keys, with_null, n_keys, n):
    df = _keys_frame(rng, keys, n, with_null, n_keys)
    df["v"] = [round(rng.uniform(0, 100), 3) for _ in range(n)]
    df["w"] = [rng.randint(0, 9) for _ in range(n)]
    # NaN timestamps, and ties on a small range
    df["ts"] = [rng.choice([float("nan"), float(rng.randint(0, 3))]) for _ in range(n)]
    if rng.random() < 0.25:
        df = df.drop(columns=[rng.choice(["w", "ts"])])  # a subset of columns
    if rng.random() < 0.15:
        df["extra"] = [rng.randint(0, 9) for _ in range(n)]  # a new column
    return df


def _random_get(rng, keys, with_null, n_keys, stored):
    # keys past the stored range: present, missing and repeated keys
    # an object NULL may be None or NaN in a request; both match
    request = _keys_frame(
        rng, keys, rng.randint(1, 6), with_null, n_keys * 5 // 4 + 2, (None, np.nan)
    )
    if rng.random() < 0.4:
        request["v"] = -1.0  # clashes with a stored name
    if rng.random() < 0.3:
        request["r"] = "req"
    features = None
    if rng.random() < 0.6:
        features = rng.sample(stored, rng.randint(1, len(stored)))
    return request, features


@pytest.mark.parametrize("keys", [["k"], ["s"], ["k", "s"]])
@pytest.mark.parametrize("with_null", [False, True])
# 5 keys: many duplicates and ties; 40 keys: fewer duplicates, and later
# puts still append keys the first put missed
@pytest.mark.parametrize("n_keys", [5, 40])
def test_random_sequences_match_reference_store(keys, with_null, n_keys):
    rng = random.Random(7)
    for trial in range(25):
        store, ref = MemoryOnlineStore(), ReferenceStore()
        for step in range(rng.randint(1, 16)):
            if step == 0 or rng.random() < 0.5:
                # duplicate keys within a batch
                n = 2 * n_keys if step == 0 else rng.randint(1, 8)
                data = _random_put(rng, keys, with_null, n_keys, n)
                store.put("tbl", data, keys, "ts")
                ref.put("tbl", data, keys, "ts")
                continue
            stored = [c for c in ref.tables["tbl"].columns if c not in keys]
            request, features = _random_get(rng, keys, with_null, n_keys, stored)
            pd.testing.assert_frame_equal(
                store.get("tbl", request, features),
                ref.get("tbl", request, features),
                obj=f"trial {trial} step {step} get {features}",
            )
        by = list(keys)
        pd.testing.assert_frame_equal(
            store.snapshot("tbl").sort_values(by).reset_index(drop=True),
            ref.tables["tbl"].sort_values(by).reset_index(drop=True),
            obj=f"trial {trial} snapshot",
        )


@pytest.mark.parametrize(
    "first, second",
    [
        # every incoming row is stale and lacks a column: the column still
        # takes the dtype of concat(old, data)
        ({"w": [1, 2], "ts": [5.0, 5.0]}, {"ts": [1.0]}),
        ({"w": [True, False], "ts": [5.0, 5.0]}, {"w": [None, True], "ts": [6.0, 6.0]}),
        (
            {"d": pd.to_datetime(["2020-01-01", "2020-01-02"]), "ts": [1.0, 1.0]},
            {"d": pd.to_datetime(["2021-01-01", None]), "ts": [2.0, 2.0]},
        ),
        ({"c": pd.Categorical(["a", "b"]), "ts": [1.0, 1.0]},
         {"c": pd.Categorical(["b", "a"]), "ts": [2.0, 2.0]}),
        ({"n": pd.array([1, None], dtype="Int64"), "ts": [1.0, 1.0]},
         {"n": pd.array([7, None], dtype="Int64"), "ts": [2.0, 2.0]}),
    ],
)
def test_upsert_keeps_reference_dtypes(first, second):
    store, ref = MemoryOnlineStore(), ReferenceStore()
    for keys, cols in (([1, 2], first), ([2, 5][: len(second["ts"])], second)):
        data = pd.DataFrame({"k": keys, **cols})
        store.put("t", data, ["k"], "ts")
        ref.put("t", data, ["k"], "ts")
    pd.testing.assert_frame_equal(
        store.snapshot("t").sort_values("k").reset_index(drop=True),
        ref.tables["t"].sort_values("k").reset_index(drop=True),
    )


def test_mistyped_key_fails_loudly_and_int32_still_matches():
    store = MemoryOnlineStore()
    store.put(
        "typed",
        pd.DataFrame({"k": np.array([1, 2], dtype=np.int64), "v": [1.0, 2.0]}),
        ["k"],
    )
    with pytest.raises(FeathubError, match=r"'typed'.*object.*int64"):
        store.get("typed", pd.DataFrame({"k": ["1"]}))
    got = store.get("typed", pd.DataFrame({"k": np.array([2, 3], dtype=np.int32)}))
    assert got["k"].dtype == np.int32
    assert got["v"].tolist()[0] == 2.0 and np.isnan(got["v"].tolist()[1])


def test_snapshot_is_a_copy_with_key_columns():
    store = MemoryOnlineStore()
    store.put("t", pd.DataFrame({"f": [1.0], "k": [1], "g": ["a"]}), ["k"])
    snap = store.snapshot("t")
    assert list(snap.columns) == ["f", "k", "g"]
    assert list(store.snapshot("t", ["g"]).columns) == ["k", "g"]
    snap.loc[0, "f"] = 99.0
    assert store.get("t", pd.DataFrame({"k": [1]}))["f"].tolist() == [1.0]
    with pytest.raises(KeyError):
        store.snapshot("never_written")
    # a table of key columns only keeps one row per key
    for rows in ({"k": [1]}, {"k": [1, 2]}, {"k": [3], "f": [3.0]}):
        store.put("keys_only", pd.DataFrame(rows), ["k"])
    got = store.snapshot("keys_only")
    assert got["k"].tolist() == [1, 2, 3]
    assert got["f"].isna().tolist() == [True, True, False]
    # a NULL string key reads back as None, as it was put
    store.put("s", pd.DataFrame({"s": ["a", None], "v": [1.0, 2.0]}), ["s"])
    assert store.snapshot("s")["s"].tolist() == ["a", None]


def test_puts_are_atomic_under_concurrent_reads():
    """One writer upserts 200 times while two readers serve: every served
    row comes from one put, so its feature values are all equal."""
    store = MemoryOnlineStore()
    features = ["f1", "f2", "f3"]

    def rows(i, keys):
        return pd.DataFrame(
            {"k": keys, **{f: float(i) for f in features}, "ts": float(i)}
        )

    store.put("t", rows(0, np.arange(5000)), ["k"], "ts")
    view = OnDemandFeatureView(
        name="atomic",
        features=[f"t.{f}" for f in features]
        + [Feature("f4", transform="f1 + 0")],
        request_schema=Schema(["k"], [t.Int64]),
    )
    service = LocalFeatureService(online_store=store)
    done = threading.Event()
    errors, served = [], []

    def writer():
        rng = np.random.default_rng(0)
        try:
            for i in range(1, 201):
                # 100 stored keys are overwritten and 100 new keys appended:
                # the store's key index is rebuilt every few puts
                stored = rng.choice(4900 + 100 * i, 100, replace=False)
                new = np.arange(4900 + 100 * i, 5000 + 100 * i)
                store.put("t", rows(i, np.concatenate([stored, new])), ["k"], "ts")
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)
        finally:
            done.set()

    def reader(seed):
        rng = np.random.default_rng(seed)
        try:
            while not done.is_set() or not served:
                request = pd.DataFrame({"k": rng.integers(0, 26000, 8)})
                got = service.get_online_features(request, view)
                served.append(got[features + ["f4"]].to_numpy())
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=writer)] + [
        threading.Thread(target=reader, args=(s,)) for s in (1, 2)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    values = np.concatenate(served)
    missing = np.isnan(values[:, 0])
    assert np.isnan(values[missing]).all()
    assert (values[~missing] == values[~missing, :1]).all()


def test_service_one_get_per_table_serves_what_per_feature_gets_did():
    store = MemoryOnlineStore()
    store.put(
        "u",
        pd.DataFrame({"uid": [1, 2], "a": [1.0, 2.0], "b": [10, 20], "x": [5.0, 6.0]}),
        ["uid"],
    )
    store.put("o", pd.DataFrame({"oid": [7], "x": [0.5], "c": ["p"]}), ["oid"])
    # interleaved tables, a name both tables store (the later lookup wins),
    # a request column the store overrides, and a lookup of a key field
    lookups = ["u.x", "u.a", "o.x", "u.b", "o.c", "u.uid", "o.x"]
    view = OnDemandFeatureView(
        name="grouped",
        features=lookups,
        request_schema=Schema(["uid", "a", "oid"], [t.Int64, t.Float64, t.Int64]),
    )
    request = pd.DataFrame({"uid": [2, 1, 3], "a": [0.0] * 3, "oid": [7, 8, 7]})
    want = request
    for lookup in lookups:
        table, name = lookup.split(".")
        want = store.get(table, want, [name])
    calls = []
    lookup = store.lookup
    store.lookup = lambda table, *a: calls.append(table) or lookup(table, *a)
    got = LocalFeatureService(online_store=store).get_online_features(request, view)
    assert calls == ["u", "o"]
    pd.testing.assert_frame_equal(got, want)


def test_memory_store_get_stored_value_wins_on_name_overlap():
    """A looked-up feature name colliding with a request column must not
    vanish into pandas _x/_y suffixes — the stored value wins, matching
    SqlOnlineStore/RedisOnlineStore dict-overwrite semantics."""
    import pandas as pd

    from feathub_spark.online_stores.memory_online_store import MemoryOnlineStore

    store = MemoryOnlineStore()
    store.put("t", pd.DataFrame({"k": [1], "score": [9.0]}), key_fields=["k"])
    got = store.get("t", pd.DataFrame({"k": [1], "score": [0.5]}))
    assert list(got.columns) == ["k", "score"]
    assert got["score"].tolist() == [9.0]


def test_memory_store_keyless_get_raises_clearly():
    import pandas as pd
    import pytest

    from feathub_spark.common.exceptions import FeathubError
    from feathub_spark.online_stores.memory_online_store import MemoryOnlineStore

    store = MemoryOnlineStore()
    store.put("m", pd.DataFrame({"v": [1.0]}), key_fields=[])
    with pytest.raises(FeathubError):
        store.get("m", pd.DataFrame({"v": [1.0]}))


def test_memory_store_null_ts_never_wins():
    import pandas as pd

    from feathub_spark.online_stores.memory_online_store import (
        MemoryOnlineStore,
    )

    s = MemoryOnlineStore()
    s.put("t", pd.DataFrame({"k": [1], "v": [10.0], "ts": [100.0]}),
          ["k"], "ts")
    s.put("t", pd.DataFrame({"k": [1], "v": [99.0],
                             "ts": [float("nan")]}), ["k"], "ts")
    got = s.get("t", pd.DataFrame({"k": [1]}))
    assert got["v"].tolist() == [10.0]
    # but a LATER timestamped row still wins
    s.put("t", pd.DataFrame({"k": [1], "v": [11.0], "ts": [200.0]}),
          ["k"], "ts")
    assert s.get("t", pd.DataFrame({"k": [1]}))["v"].tolist() == [11.0]


def test_memory_store_both_untimestamped_last_wins():
    import pandas as pd

    from feathub_spark.online_stores.memory_online_store import (
        MemoryOnlineStore,
    )

    s = MemoryOnlineStore()
    s.put("t", pd.DataFrame({"k": [1], "v": [1.0],
                             "ts": [float("nan")]}), ["k"], "ts")
    s.put("t", pd.DataFrame({"k": [1], "v": [2.0],
                             "ts": [float("nan")]}), ["k"], "ts")
    assert s.get("t", pd.DataFrame({"k": [1]}))["v"].tolist() == [2.0]


def _serving_store():
    store = MemoryOnlineStore()
    store.put(
        "u",
        pd.DataFrame({
            "uid": [1, 2], "i": [10, 20], "b": [True, False],
            "d": pd.to_datetime(["2024-01-01", "2024-01-02"]),
            "s": ["p", "q"], "x": [0.5, 1.5], "oid": [8, 7],
        }),
        ["uid"],
    )
    store.put("o", pd.DataFrame({"oid": [7], "x": [9.0], "c": ["z"]}), ["oid"])
    return store


_REQUEST = pd.DataFrame(
    {"uid": [2, 9, 1], "oid": [7, 7, 8], "x": [0.0] * 3, "r": [1.0, 2.0, 3.0]}
)
_REQUEST_SCHEMA = Schema(
    ["uid", "oid", "x", "r"], [t.Int64, t.Int64, t.Float64, t.Float64]
)
_KEYS = {"uid": [2, 9, 1], "oid": [7, 7, 8]}
_NAN = float("nan")


@pytest.mark.parametrize(
    "features, keep, req, want",
    [
        pytest.param(
            ["u.i", "u.b", "u.d", "u.s"], True, _REQUEST,
            pd.DataFrame({
                **_KEYS, "x": [0.0] * 3, "r": [1.0, 2.0, 3.0],
                "i": [20.0, _NAN, 10.0],
                "b": pd.Series([False, _NAN, True], dtype=object),
                "d": pd.to_datetime(["2024-01-02", None, "2024-01-01"]),
                "s": ["q", _NAN, "p"],
            }),
            id="missing_key_upcasts",
        ),
        pytest.param(
            ["u.x"], True, _REQUEST,
            pd.DataFrame({**_KEYS, "r": [1.0, 2.0, 3.0], "x": [1.5, _NAN, 0.5]}),
            id="stored_value_wins_clash",
        ),
        pytest.param(
            ["u.i", Feature("y", transform="i * 2 + r"),
             Feature("z", transform="y + 1"), Feature("r", transform="r * 10")],
            True, _REQUEST,
            pd.DataFrame({
                **_KEYS, "x": [0.0] * 3, "r": [10.0, 20.0, 30.0],
                "i": [20.0, _NAN, 10.0], "y": [41.0, _NAN, 23.0],
                "z": [42.0, _NAN, 24.0],
            }),
            id="expressions_read_lookups_and_override_request",
        ),
        pytest.param(
            ["u.i", Feature("y", transform="i + r"), "o.c"], True, _REQUEST,
            pd.DataFrame({
                **_KEYS, "x": [0.0] * 3, "r": [1.0, 2.0, 3.0],
                "i": [20.0, _NAN, 10.0], "c": ["z", "z", _NAN],
                "y": [21.0, _NAN, 13.0],
            }),
            id="keep_source_fields",
        ),
        pytest.param(
            ["u.i", Feature("y", transform="i + r"), "o.c"], False, _REQUEST,
            pd.DataFrame({
                **_KEYS, "x": [0.0] * 3, "r": [1.0, 2.0, 3.0],
                "i": [20.0, _NAN, 10.0], "y": [21.0, _NAN, 13.0],
                "c": ["z", "z", _NAN],
            }),
            id="drop_source_fields",
        ),
        pytest.param(
            ["u.s", "o.x", Feature("y", transform="x + r")], True,
            _REQUEST.set_axis([10, 5, 3]),
            pd.DataFrame({
                **_KEYS, "r": [1.0, 2.0, 3.0], "s": ["q", _NAN, "p"],
                "x": [9.0, 9.0, _NAN], "y": [10.0, 11.0, _NAN],
            }),
            id="request_index_not_range",
        ),
        pytest.param(
            # a later table is looked up by the key an earlier one served
            ["u.oid", "o.c"], True, _REQUEST,
            pd.DataFrame({
                "uid": [2, 9, 1], "x": [0.0] * 3, "r": [1.0, 2.0, 3.0],
                "oid": [7.0, _NAN, 8.0], "c": ["z", _NAN, _NAN],
            }),
            id="key_served_by_earlier_table",
        ),
        pytest.param(
            ["u.i", "u.s", Feature("y", transform="i + r")], True, _REQUEST[:0],
            pd.DataFrame({
                "uid": pd.Series([], dtype="int64"),
                "oid": pd.Series([], dtype="int64"),
                "x": pd.Series([], dtype="float64"),
                "r": pd.Series([], dtype="float64"),
                "i": pd.Series([], dtype="int64"),
                "s": pd.Series([], dtype=object),
                "y": pd.Series([], dtype="float64"),
            }),
            id="empty_request",
        ),
    ],
)
def test_service_serves_parent_frames(features, keep, req, want):
    view = OnDemandFeatureView(
        name="parity", features=features, request_schema=_REQUEST_SCHEMA,
        keep_source_fields=keep,
    )
    service = LocalFeatureService(online_store=_serving_store())
    got = service.get_online_features(req, view)
    pd.testing.assert_frame_equal(got, want)
    assert isinstance(got.index, pd.RangeIndex)
    # the served frame is a copy: changing it cannot change the request
    for c in req.columns.intersection(got.columns):
        assert not np.shares_memory(got[c].to_numpy(), req[c].to_numpy())


def test_service_without_source_fields_serves_each_name_once():
    """A name that occurs twice (a lookup of a key field, a name looked up
    from two tables, an expression named like a lookup) is served once,
    where it first appears, with the value the rest of the view sees."""
    view = OnDemandFeatureView(
        name="dups",
        features=[
            "u.x", "o.x", "u.i", "u.b", "u.uid", Feature("y", transform="x + 1"),
            Feature("i", transform="i + 1"), Feature("z", transform="y * 2"),
        ],
        request_schema=Schema(["uid", "oid"], [t.Int64, t.Int64]),
        keep_source_fields=False,
    )
    service = LocalFeatureService(online_store=_serving_store())
    got = service.get_online_features(_REQUEST[["uid", "oid"]], view)
    want = pd.DataFrame({
        **_KEYS, "x": [9.0, 9.0, _NAN], "i": [21.0, _NAN, 11.0],
        "b": pd.Series([False, _NAN, True], dtype=object),
        "y": [10.0, 10.0, _NAN], "z": [20.0, 20.0, _NAN],
    })
    pd.testing.assert_frame_equal(got, want)


def test_service_concurrent_expression_reads_match_serial_reads():
    """4 threads x 50 reads on one service, each with two expression
    features: every read equals the same read served on one thread."""
    rng = np.random.default_rng(3)
    store = MemoryOnlineStore()
    store.put(
        "t",
        pd.DataFrame({"k": np.arange(1000), "v": rng.normal(size=1000)}),
        ["k"],
    )
    view = OnDemandFeatureView(
        name="pooled",
        features=["t.v", Feature("w", transform="v * m"),
                  Feature("n", transform="w + k")],
        request_schema=Schema(["k", "m"], [t.Int64, t.Float64]),
    )
    service = LocalFeatureService(online_store=store)
    requests = [
        pd.DataFrame({"k": rng.integers(0, 1200, 8), "m": rng.normal(size=8)})
        for _ in range(200)
    ]
    serial = [service.get_online_features(r, view) for r in requests]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often, mid-read
    try:
        with ThreadPoolExecutor(4) as pool:
            pooled = list(pool.map(
                lambda r: service.get_online_features(r, view), requests, timeout=120
            ))
    finally:
        sys.setswitchinterval(interval)
    for want, got in zip(serial, pooled):
        pd.testing.assert_frame_equal(got, want)


# one feature per case; each runs through serving and through Spark
_SPARK_PARITY = {
    "concat_null": "CONCAT(name, 'x')",
    "concat_ws_skips_null": "CONCAT_WS('-', name, s)",
    "cast_bigint": "CAST(x AS BIGINT)",
    "cast_int": "CAST(x AS INTEGER)",
    "cast_string": "CAST(x AS STRING)",
    "div_zero": "x / 0",
    "try_cast_string": "TRY_CAST(s AS BIGINT)",
    "cast_string_bigint": "CAST(s AS BIGINT)",
    "try_cast_overflow": "TRY_CAST(x * 1e10 AS INT)",
    "cast_string_double": "CAST(s AS DOUBLE)",
    "case_null_condition": "CASE WHEN x > 0 THEN 'pos' WHEN x <= 0 THEN 'nonpos' "
                           "ELSE 'none' END",
    "kleene": "x > 0 OR name IS NULL",
    "wraps": "id * 4611686018427387904",
    "quote_literal": "CONCAT(name, 'it''s')",
    "backslash_literal": "CONCAT(name, 'a\\\\b')",
    "backtick_literal": "CONCAT(name, 'x`y')",
    "unix_timestamp": "UNIX_TIMESTAMP(t)",
    "json_string": "JSON_STRING(name)",
    "size_array": "SIZE(ARRAY(x, 1.5))",
    "map_lookup": "MAP('k', x, 'j', 2.5)['k']",
}


def test_service_matches_spark_semantics(spark, tmp_path):
    """One request through LocalFeatureService and through Spark's
    get_table of a DerivedFeatureView with the same expressions: every
    served value equals Spark's.  A NaN in a request reads as NULL on both
    paths (pandas' NULL marker, written to parquet as NULL)."""
    from feathub_spark import DerivedFeatureView, FileSystemSource, SparkProcessor
    from feathub_spark.common.exceptions import ExpressionError

    request = pd.DataFrame({
        "id": [1, 2, 3, 4, 5, 6],
        "name": ["a", None, "abc", "it", "x", None],
        "x": [1.5, -1.5, 2.7, 0.0, float("nan"), None],
        "s": ["1.5", "abc", None, "-2.7", " 12 ", "x"],
        "t": ["2024-01-01 00:00:01", "2024-1-1 00:00:01", "junk", None,
              "1969-12-31 23:59:59", "2024-02-29 12:00:00"],
    })
    schema = Schema(
        ["id", "name", "x", "s", "t"],
        [t.Int64, t.String, t.Float64, t.String, t.String],
    )
    features = [Feature(n, transform=e) for n, e in _SPARK_PARITY.items()]
    path = str(tmp_path / "request")
    request.to_parquet(path + ".parquet")
    source = FileSystemSource(
        name="parity_src", path=path + ".parquet", data_format="parquet",
        schema=schema, keys=["id"],
    )
    view = DerivedFeatureView(name="parity_batch", source=source, features=features)
    proc = SparkProcessor(spark)
    proc.registry.build_features([source, view])
    want = (proc.get_table(view).to_pandas().sort_values("id")
            .reset_index(drop=True))
    served = LocalFeatureService(online_store=MemoryOnlineStore()).get_online_features(
        request, OnDemandFeatureView(name="parity", features=features,
                                     request_schema=schema),
    )

    def same(a, b):
        if pd.isna(a) or pd.isna(b):
            return pd.isna(a) and pd.isna(b)
        if isinstance(a, float) or isinstance(b, float):
            return float(a) == pytest.approx(float(b))
        return a == b

    wrong = [
        (name, i, served[name][i], want[name][i])
        for name in _SPARK_PARITY for i in range(len(request))
        if not same(served[name][i], want[name][i])
    ]
    assert not wrong, wrong
    # looked-up BIGINT and BOOLEAN features with one of three requested
    # keys missing: expressions over them compute what Spark computes over
    # the stored types ('10', not '10.0'); the served frame keeps a left
    # merge's dtypes (int -> float64, bool -> object)
    store = MemoryOnlineStore()
    store.put("ints", pd.DataFrame({"k": [1, 2], "i": [10, -3], "b": [True, False]}),
              key_fields=["k"])
    lookup_exprs = {"si": "CAST(i AS STRING)", "i2": "i * 2",
                    "bi": "CASE WHEN b THEN 1 ELSE 0 END"}
    lookup_view = OnDemandFeatureView(
        name="parity_lookup", request_schema=Schema(["k"], [t.Int64]),
        features=["ints.i", "ints.b",
                  *[Feature(n, transform=e) for n, e in lookup_exprs.items()]],
    )
    got = LocalFeatureService(online_store=store).get_online_features(
        pd.DataFrame({"k": [1, 3, 2]}), lookup_view)
    want = spark.createDataFrame(
        [(10, True), (None, None), (-3, False)], "i bigint, b boolean"
    ).selectExpr(*[f"{e} AS {n}" for n, e in lookup_exprs.items()]).toPandas()
    wrong = [
        (name, i, got[name][i], want[name][i])
        for name in lookup_exprs for i in range(3)
        if not same(got[name][i], want[name][i])
    ]
    assert not wrong, wrong
    assert (got["i"].dtype, got["b"].dtype) == (np.float64, object)
    # what serving cannot compute as Spark does fails by the function's name
    odd = OnDemandFeatureView(
        name="odd", request_schema=schema,
        features=[Feature("u", transform="UNIX_TIMESTAMP(t, '%Y-%m-%d %H:%M:%S.%f')")],
    )
    with pytest.raises(ExpressionError, match="UNIX_TIMESTAMP"):
        LocalFeatureService(online_store=MemoryOnlineStore()).get_online_features(
            request, odd)


class TestServingBacktickLiteral:
    def test_backtick_inside_literal_survives(self):
        import pandas as pd

        from feathub_spark import Feature, OnDemandFeatureView, Schema
        from feathub_spark.common import types as t
        from feathub_spark.feature_service.local_feature_service import (
            LocalFeatureService,
        )

        view = OnDemandFeatureView(
            name="od_bt",
            features=[Feature("tagged", transform="CONCAT(name, 'x`y')")],
            request_schema=Schema(["name"], [t.String]),
        )
        svc = LocalFeatureService()
        got = svc.get_online_features(pd.DataFrame({"name": ["a"]}), view)
        assert got["tagged"].tolist() == ["ax`y"]


class TestStoreParityRandomized:
    def test_memory_and_sql_store_agree_on_random_put_sequences(self):
        """Property: for any sequence of keyed puts with (possibly NULL)
        timestamps, MemoryOnlineStore and SqlOnlineStore serve the same
        latest row per key."""
        import random
        import sqlite3

        import pandas as pd

        from feathub_spark.online_stores.memory_online_store import (
            MemoryOnlineStore,
        )
        from feathub_spark.online_stores.sql_online_store import SqlOnlineStore

        rng = random.Random(42)
        for trial in range(20):
            mem = MemoryOnlineStore()
            sql = SqlOnlineStore(
                lambda: sqlite3.connect(":memory:"),
                table_name=f"t_{trial}",
            )
            n_puts = rng.randint(1, 6)
            for _ in range(n_puts):
                n_rows = rng.randint(1, 5)
                rows = {
                    "k": [rng.randint(1, 3) for _ in range(n_rows)],
                    "v": [round(rng.uniform(0, 100), 3) for _ in range(n_rows)],
                    "ts": [
                        rng.choice([float("nan"), float(rng.randint(0, 50))])
                        for _ in range(n_rows)
                    ],
                }
                df = pd.DataFrame(rows)
                mem.put("tbl", df, ["k"], "ts")
                sql.put("tbl", df, ["k"], "ts")
            req = pd.DataFrame({"k": [1, 2, 3]})
            got_mem = mem.get("tbl", req).set_index("k")["v"]
            got_sql = sql.get("tbl", req).set_index("k")["v"]
            for k in (1, 2, 3):
                a, b = got_mem.get(k), got_sql.get(k)
                both_nan = pd.isna(a) and pd.isna(b)
                assert both_nan or a == b, (
                    f"trial {trial}: key {k} memory={a} sql={b}"
                )


class TestBackticksToAnsi:
    """String literals holding quotes and backticks serve as written."""

    def test_serving_path_literal_with_quote(self):
        from feathub_spark import Feature, OnDemandFeatureView, Schema
        from feathub_spark.common import types as t
        from feathub_spark.feature_service.local_feature_service import (
            LocalFeatureService,
        )

        view = OnDemandFeatureView(
            name="r13_quote_view",
            features=[Feature("tagged", transform="CONCAT(`name`, 'it''s')")],
            request_schema=Schema(["name"], [t.String]),
        )
        svc = LocalFeatureService()
        out = svc.get_online_features(pd.DataFrame({"name": ["a"]}), view)
        assert out["tagged"].tolist() == ["ait's"]
