"""MemoryOnlineStore: the key-indexed store against a reference model of
the full-table store it replaced, the mistyped-key guard, atomic puts under
concurrent serving, and LocalFeatureService's one lookup per table."""

import random
import threading

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
    get = store.get
    store.get = lambda table, *a: calls.append(table) or get(table, *a)
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
