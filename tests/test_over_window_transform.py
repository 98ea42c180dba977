from datetime import timedelta

from feathub_spark import DerivedFeatureView, Feature
from feathub_spark.feature_views.transforms import OverWindowTransform

from tests.fixtures import write_f1_source


def _by_time(client, view):
    return (
        client.get_features(view).to_pandas().sort_values("time").reset_index(drop=True)
    )


def test_unbounded_over_window(client, tmp_path):
    source = write_f1_source(tmp_path)
    view = DerivedFeatureView(
        name="ow1",
        source=source,
        features=[
            Feature(
                "avg_cost",
                transform=OverWindowTransform("cost", "AVG", group_by_keys=["name"]),
            ),
            Feature(
                "rn",
                transform=OverWindowTransform("cost", "ROW_NUMBER", group_by_keys=["name"]),
            ),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    df = _by_time(client, view)
    # rows by time: Alex100, Emma400, Alex300, Emma200, Jack500, Alex600
    assert df["avg_cost"].tolist() == [100.0, 400.0, 200.0, 300.0, 500.0, 1000.0 / 3]
    assert df["rn"].tolist() == [1, 1, 2, 2, 1, 3]


def test_window_size_over_window(client, tmp_path):
    source = write_f1_source(tmp_path)
    view = DerivedFeatureView(
        name="ow2",
        source=source,
        features=[
            Feature(
                "sum_2d",
                transform=OverWindowTransform(
                    "cost", "SUM", window_size=timedelta(days=2), group_by_keys=["name"]
                ),
            ),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    df = _by_time(client, view)
    # Alex: [100], [100+300], [300+600] (Jan1 08:01 outside [Jan1 08:06-2d… wait:
    # row at Jan3 08:06 window [Jan1 08:06, Jan3 08:06] excludes Jan1 08:01.
    assert df["sum_2d"].tolist() == [100, 400, 400, 600, 500, 900]


def test_limit_over_window(client, tmp_path):
    source = write_f1_source(tmp_path)
    view = DerivedFeatureView(
        name="ow3",
        source=source,
        features=[
            Feature(
                "sum_last2",
                transform=OverWindowTransform("cost", "SUM", group_by_keys=["name"], limit=2),
            ),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    df = _by_time(client, view)
    assert df["sum_last2"].tolist() == [100, 400, 400, 600, 500, 900]


def test_filter_expr_over_window(client, tmp_path):
    source = write_f1_source(tmp_path)
    view = DerivedFeatureView(
        name="ow4",
        source=source,
        features=[
            Feature(
                "n_big",
                transform=OverWindowTransform(
                    "cost", "COUNT", group_by_keys=["name"], filter_expr="cost > 150"
                ),
            ),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    df = _by_time(client, view)
    assert df["n_big"].tolist() == [0, 1, 1, 2, 1, 2]


def test_window_size_and_limit(client, tmp_path):
    source = write_f1_source(tmp_path)
    view = DerivedFeatureView(
        name="ow5",
        source=source,
        features=[
            Feature(
                "last_in_2d",
                transform=OverWindowTransform(
                    "cost",
                    "SUM",
                    window_size=timedelta(days=2),
                    group_by_keys=["name"],
                    limit=1,
                ),
            ),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    df = _by_time(client, view)
    assert df["last_in_2d"].tolist() == [100, 400, 300, 200, 500, 600]


def test_value_counts_and_collect_list(client, tmp_path):
    source = write_f1_source(tmp_path)
    view = DerivedFeatureView(
        name="ow6",
        source=source,
        features=[
            Feature(
                "costs",
                transform=OverWindowTransform("cost", "COLLECT_LIST", group_by_keys=["name"]),
            ),
            Feature(
                "cost_counts",
                transform=OverWindowTransform("cost", "VALUE_COUNTS", group_by_keys=["name"]),
            ),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    df = _by_time(client, view)
    assert list(df["costs"])[5].tolist() == [100, 300, 600]
    assert dict(list(df["cost_counts"])[5]) == {100: 1, 300: 1, 600: 1}


def test_first_last_value(client, tmp_path):
    source = write_f1_source(tmp_path)
    view = DerivedFeatureView(
        name="ow7",
        source=source,
        features=[
            Feature(
                "first_cost",
                transform=OverWindowTransform("cost", "FIRST_VALUE", group_by_keys=["name"]),
            ),
            Feature(
                "last_cost",
                transform=OverWindowTransform("cost", "LAST_VALUE", group_by_keys=["name"]),
            ),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    df = _by_time(client, view)
    assert df["first_cost"].tolist() == [100, 400, 100, 400, 500, 100]
    assert df["last_cost"].tolist() == [100, 400, 300, 200, 500, 600]


def test_unbounded_value_counts_long_single_key(client, tmp_path):
    """Hot-key stress for the distributive unbounded-VALUE_COUNTS plan: one
    key, 30k rows.  The old collect-path materializes ~450M array cells here
    (row i carries an i-element array); the running-count plan's
    intermediates are bounded by the output size, so this completes in
    seconds.  Correctness is spot-checked against directly computed counts
    at several offsets, including NULL-value and epoch-tie rows."""
    import os

    import pandas as pd

    from feathub_spark import FileSystemSource, Int64, Schema, String

    n = 30_000
    values = [f"v{i % 7}" if i % 11 else None for i in range(n)]
    # every third timestamp duplicated → exercises range-frame tie semantics
    ts = [1_640_000_000 + (i - (i % 3 == 2)) for i in range(n)]
    pdf = pd.DataFrame({"k": "hot", "val": values, "ts": ts, "i": range(n)})
    path = os.path.join(str(tmp_path), "hotkey.parquet")
    pdf.to_parquet(path)

    schema = (
        Schema.new_builder()
        .column("k", String)
        .column("val", String)
        .column("ts", Int64)
        .column("i", Int64)
        .build()
    )
    source = FileSystemSource(
        name="hotkey",
        path=path,
        data_format="parquet",
        schema=schema,
        keys=["k"],
        timestamp_field="ts",
        timestamp_format="epoch",
    )
    view = DerivedFeatureView(
        name="hotkey_vc",
        source=source,
        features=[
            Feature(
                "vc",
                transform=OverWindowTransform(
                    "val", "VALUE_COUNTS", group_by_keys=["k"]
                ),
            ),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    df = (
        client.get_features(view)
        .to_pandas()
        .sort_values("i")
        .reset_index(drop=True)
    )
    assert len(df) == n
    for probe in (0, 1, 500, n - 1):
        t_probe = ts[probe]
        expected = {}
        for v, t in zip(values, ts):
            if t <= t_probe and v is not None:
                expected[v] = expected.get(v, 0) + 1
        got = df["vc"][probe]
        got = dict(got) if got is not None else None
        assert got == (expected or None), f"row {probe}"


def test_bounded_value_counts_long_single_key(client, tmp_path):
    """Hot-key stress for the distributive BOUNDED-frame VALUE_COUNTS plan
    ([t-W, t] via chunked interval join): one key, 30k rows, 5000-second
    window (≈5k rows per window).  The collect path would materialize
    ~150M in-window array cells in one task; the distributive plan's
    intermediates are bounded by the matched (event, query) pairs and the
    hot key parallelizes across time chunks.  Spot-checked against directly
    computed windowed counts, including NULL-value and epoch-tie rows."""
    import os
    from datetime import timedelta

    import pandas as pd

    from feathub_spark import FileSystemSource, Int64, Schema, String

    n = 30_000
    window_s = 5_000
    values = [f"v{i % 7}" if i % 11 else None for i in range(n)]
    # every third timestamp duplicated → exercises range-frame tie semantics
    ts = [1_640_000_000 + (i - (i % 3 == 2)) for i in range(n)]
    pdf = pd.DataFrame({"k": "hot", "val": values, "ts": ts, "i": range(n)})
    path = os.path.join(str(tmp_path), "hotkey_bounded.parquet")
    pdf.to_parquet(path)

    schema = (
        Schema.new_builder()
        .column("k", String)
        .column("val", String)
        .column("ts", Int64)
        .column("i", Int64)
        .build()
    )
    source = FileSystemSource(
        name="hotkey_bounded",
        path=path,
        data_format="parquet",
        schema=schema,
        keys=["k"],
        timestamp_field="ts",
        timestamp_format="epoch",
    )
    view = DerivedFeatureView(
        name="hotkey_bvc",
        source=source,
        features=[
            Feature(
                "vc",
                transform=OverWindowTransform(
                    "val", "VALUE_COUNTS",
                    window_size=timedelta(seconds=window_s),
                    group_by_keys=["k"],
                ),
            ),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    df = (
        client.get_features(view)
        .to_pandas()
        .sort_values("i")
        .reset_index(drop=True)
    )
    assert len(df) == n
    for probe in (0, 1, 500, 7_000, n - 1):
        t_probe = ts[probe]
        expected = {}
        for v, tt in zip(values, ts):
            if t_probe - window_s <= tt <= t_probe and v is not None:
                expected[v] = expected.get(v, 0) + 1
        got = df["vc"][probe]
        got = dict(got) if got is not None else None
        assert got == (expected or None), f"row {probe}"


def test_null_value_semantics_under_filter_and_limit(client, tmp_path):
    """Reference null semantics (local aggregation_utils.py): COUNT/
    ROW_NUMBER = len(l) and FIRST/LAST = l[0]/l[-1] INCLUDING null values;
    COLLECT_LIST keeps null elements; SUM skips them.  Exercised across the
    direct path (no limit) and the collect path (filter+limit)."""
    import math
    import os

    from feathub_spark import FileSystemSource, Int64, Schema, String

    path = os.path.join(str(tmp_path), "nulls.csv")
    with open(path, "w") as f:
        f.write("k,v,t\n")
        f.write("a,10,1\n")
        f.write("a,,2\n")     # null v — filter passes, occupies a slot
        f.write("a,30,3\n")
        f.write("a,,4\n")     # null v
        f.write("b,5,1\n")
    schema = (
        Schema.new_builder()
        .column("k", String).column("v", Int64).column("t", Int64).build()
    )
    source = FileSystemSource(
        name="nulls_src", path=path, data_format="csv", schema=schema,
        keys=["k"], timestamp_field="t", timestamp_format="epoch",
    )
    passing = dict(group_by_keys=["k"], filter_expr="t > 0")
    view = DerivedFeatureView(
        name="nulls_view",
        source=source,
        features=[
            # direct path: unbounded + filter
            Feature("cnt_direct", transform=OverWindowTransform("v", "COUNT", **passing)),
            # collect path: filter + limit 3
            Feature("cnt_lim", transform=OverWindowTransform("v", "COUNT", limit=3, **passing)),
            Feature("sum_lim", transform=OverWindowTransform("v", "SUM", limit=3, **passing)),
            Feature("first_f", transform=OverWindowTransform("v", "FIRST_VALUE", **passing)),
            Feature("last_f", transform=OverWindowTransform("v", "LAST_VALUE", **passing)),
            Feature("cl", transform=OverWindowTransform("v", "COLLECT_LIST", group_by_keys=["k"])),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    df = client.get_features(view).to_pandas()
    a = df[df["k"] == "a"].sort_values("t").reset_index(drop=True)

    def ival(x):
        return None if x is None or (isinstance(x, float) and math.isnan(x)) else int(x)

    # COUNT counts rows incl null values
    assert a["cnt_direct"].tolist() == [1, 2, 3, 4]
    assert a["cnt_lim"].tolist() == [1, 2, 3, 3]
    # SUM skips null values (last-3 window at t=4 holds [None,30,None])
    assert a["sum_lim"].tolist() == [10, 10, 40, 30]
    # FIRST/LAST are positional incl nulls
    assert [ival(x) for x in a["first_f"]] == [10, 10, 10, 10]
    assert [ival(x) for x in a["last_f"]] == [10, None, 30, None]
    # COLLECT_LIST keeps null elements
    assert [ival(x) for x in a["cl"][3]] == [10, None, 30, None]


def test_bounded_value_counts_negative_timestamps(client, tmp_path):
    """Pre-1970 event times give NEGATIVE epoch millis: the chunked
    suffix/prefix plan's floor-division chunk assignment must stay
    consistent across the zero boundary."""
    import os
    from datetime import timedelta

    import pandas as pd

    from feathub_spark import FileSystemSource, Int64, Schema, String

    # seconds straddling the epoch: -5..5
    rows = [("k", f"v{abs(t) % 3}", t) for t in range(-5, 6)]
    pdf = pd.DataFrame(rows, columns=["k", "val", "ts"])
    path = os.path.join(str(tmp_path), "neg_ts.parquet")
    pdf.to_parquet(path)
    schema = (
        Schema.new_builder()
        .column("k", String).column("val", String).column("ts", Int64)
        .build()
    )
    source = FileSystemSource(
        name="neg_ts", path=path, data_format="parquet", schema=schema,
        keys=["k"], timestamp_field="ts", timestamp_format="epoch",
    )
    view = DerivedFeatureView(
        name="neg_ts_vc",
        source=source,
        features=[
            Feature(
                "vc",
                transform=OverWindowTransform(
                    "val", "VALUE_COUNTS",
                    window_size=timedelta(seconds=3),
                    group_by_keys=["k"],
                ),
            ),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    got = {
        r["ts"]: dict(r["vc"]) if r["vc"] is not None else None
        for r in client.get_features(view).to_pandas().to_dict("records")
    }
    for _, v, t in rows:
        expected = {}
        for _, vv, tt in rows:
            if t - 3 <= tt <= t:
                expected[vv] = expected.get(vv, 0) + 1
        assert got[t] == expected, f"ts {t}"


def test_collect_list_over_map_values(client, tmp_path):
    """COLLECT_LIST over a map-typed value: maps are unorderable, so the
    collected (time, value) pairs sort on time alone."""
    from feathub_spark.common.types import Int64, MapType, String, VectorType

    source = write_f1_source(tmp_path)
    view = DerivedFeatureView(
        name="ow_map_list",
        source=source,
        features=[
            Feature(
                "costs_2d",
                transform=OverWindowTransform(
                    "MAP('c', cost)", "COLLECT_LIST",
                    window_size=timedelta(days=2), group_by_keys=["name"],
                ),
                dtype=VectorType(MapType(String, Int64)),
            ),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    got = [[dict(m) for m in v] for v in _by_time(client, view)["costs_2d"]]
    assert got == [
        [{"c": 100}], [{"c": 400}], [{"c": 100}, {"c": 300}],
        [{"c": 400}, {"c": 200}], [{"c": 500}], [{"c": 300}, {"c": 600}],
    ]
