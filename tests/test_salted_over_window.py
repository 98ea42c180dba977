"""The hot-key-safe salted over-window must produce byte-identical results
to the standard single-partition-per-key plan, on random data with ties,
NULLs and a dominant hot key."""

import random

import pytest

from feathub_spark import DerivedFeatureView, Feature, SparkProcessor
from feathub_spark.feature_views.transforms import OverWindowTransform

from tests.test_randomized_golden import _write_source


def _rows(seed):
    rnd = random.Random(seed)
    rows = []
    for i in range(300):
        # 70% of rows land on one hot key; ~8% carry a NULL key — a real
        # group for partitionBy/groupBy, so the salted plan's prefix join
        # must match it too (review finding: a plain-equality join
        # silently dropped every prior-chunk contribution for NULL keys)
        r = rnd.random()
        k = None if r < 0.08 else (
            "hot" if r < 0.78 else rnd.choice(["a", "b", "c"])
        )
        t = rnd.randrange(0, 500)
        v = None if rnd.random() < 0.1 else rnd.randrange(-20, 100)
        rows.append((k, v, t))
    return rows


@pytest.mark.parametrize("seed", [21, 22])
@pytest.mark.parametrize("filter_pos", [False, True])
def test_salted_equals_standard(spark, tmp_path, seed, filter_pos):
    rows = _rows(seed)
    name = f"salt_{seed}_{filter_pos}"
    source = _write_source(tmp_path, name, rows)

    kwargs = dict(group_by_keys=["k"])
    if filter_pos:
        kwargs["filter_expr"] = "v > 0"
    view = DerivedFeatureView(
        name=f"v_{name}",
        source=source,
        features=[
            Feature("s", transform=OverWindowTransform("v", "SUM", **kwargs)),
            Feature("c", transform=OverWindowTransform("v", "COUNT", **kwargs)),
            Feature("a", transform=OverWindowTransform("v", "AVG", **kwargs)),
            Feature("mx", transform=OverWindowTransform("v", "MAX", **kwargs)),
            Feature("mn", transform=OverWindowTransform("v", "MIN", **kwargs)),
            Feature("rn", transform=OverWindowTransform("v", "ROW_NUMBER", **kwargs)),
        ],
        keep_source_fields=True,
    )

    standard = SparkProcessor(spark)
    standard.registry.build_features([source])
    built_std = standard.registry.build_features([view])[0]
    expected = standard.get_table(built_std).to_pandas()

    # chunk = 100s: the hot key splits into ~5 chunks
    salted = SparkProcessor(spark, over_window_salt_chunk_ms=100_000)
    salted.registry.build_features([source])
    built_salt = salted.registry.build_features([view])[0]
    got = salted.get_table(built_salt).to_pandas()
    assert [d[2] for d in salted.last_salt_decisions] == [100_000]

    cols = sorted(expected.columns)
    exp_sorted = expected[cols].sort_values(cols).reset_index(drop=True)
    got_sorted = got[cols].sort_values(cols).reset_index(drop=True)
    assert got_sorted.equals(exp_sorted)


@pytest.mark.parametrize("seed", [31, 32])
@pytest.mark.parametrize("filter_pos", [False, True])
@pytest.mark.parametrize("window_s", [80, 100])
def test_salted_bounded_equals_standard(spark, tmp_path, seed, filter_pos, window_s):
    """Bounded ([t-W, t]) salted plan vs the standard RANGE-frame plan:
    identical on random data with ties, NULLs and a hot key, for W < chunk
    and W == chunk."""
    from datetime import timedelta

    rows = _rows(seed)
    name = f"saltb_{seed}_{filter_pos}_{window_s}"
    source = _write_source(tmp_path, name, rows)

    kwargs = dict(group_by_keys=["k"], window_size=timedelta(seconds=window_s))
    if filter_pos:
        kwargs["filter_expr"] = "v > 0"
    view = DerivedFeatureView(
        name=f"v_{name}",
        source=source,
        features=[
            Feature("s", transform=OverWindowTransform("v", "SUM", **kwargs)),
            Feature("c", transform=OverWindowTransform("v", "COUNT", **kwargs)),
            Feature("a", transform=OverWindowTransform("v", "AVG", **kwargs)),
            Feature("mx", transform=OverWindowTransform("v", "MAX", **kwargs)),
            Feature("mn", transform=OverWindowTransform("v", "MIN", **kwargs)),
            Feature("rn", transform=OverWindowTransform("v", "ROW_NUMBER", **kwargs)),
        ],
        keep_source_fields=True,
    )

    standard = SparkProcessor(spark)
    standard.registry.build_features([source])
    built_std = standard.registry.build_features([view])[0]
    expected = standard.get_table(built_std).to_pandas()

    salted = SparkProcessor(spark, over_window_salt_chunk_ms=100_000)
    salted.registry.build_features([source])
    built_salt = salted.registry.build_features([view])[0]
    got = salted.get_table(built_salt).to_pandas()

    cols = sorted(expected.columns)
    exp_sorted = expected[cols].sort_values(cols).reset_index(drop=True)
    got_sorted = got[cols].sort_values(cols).reset_index(drop=True)
    assert got_sorted.equals(exp_sorted)


def _asof_rows(seed, unique_right_ts=False):
    rnd = random.Random(seed)
    rows = []
    for i in range(250):
        k = "hot" if rnd.random() < 0.7 else rnd.choice(["a", "b", "c"])
        t = rnd.randrange(0, 500)
        if unique_right_ts:
            t = t * 300 + i  # unique → no right-tie ambiguity
        v = rnd.randrange(-20, 100)
        rows.append((k, v, t))
    return rows


@pytest.mark.parametrize("seed", [61, 62])
def test_salted_asof_equals_standard(spark, tmp_path, seed):
    """The time-chunked as-of fill must match the single-partition-per-key
    plan exactly (right timestamps made unique so ties don't introduce
    reference-undefined ambiguity), on data with a dominant hot key."""
    left_rows = _asof_rows(seed)
    right_rows = _asof_rows(seed + 1000, unique_right_ts=True)
    right_rows = [(k, v, t % 700) for (k, v, t) in right_rows]
    lsrc = _write_source(tmp_path, f"sa_l_{seed}", left_rows)
    rsrc = _write_source(tmp_path, f"sa_r_{seed}", right_rows)

    def build(processor):
        rview = DerivedFeatureView(
            name=f"sa_rv_{seed}_{id(processor) % 97}",
            source=rsrc,
            features=[Feature("rv", transform="v", keys=["k"])],
            keep_source_fields=True,
        )
        lview = DerivedFeatureView(
            name=f"sa_lv_{seed}_{id(processor) % 97}",
            source=lsrc,
            features=[f"{rview.name}.rv"],
            keep_source_fields=True,
        )
        processor.registry.build_features([rsrc, rview])
        processor.registry.build_features([lsrc, lview])
        built = processor.registry.build_features([lview])[0]
        return processor.get_table(built).to_pandas()

    import math

    def norm(df):
        return sorted(
            (
                r["k"], int(r["t"]), int(r["v"]),
                None if r["rv"] is None or (isinstance(r["rv"], float) and math.isnan(r["rv"])) else int(r["rv"]),
            )
            for _, r in df.iterrows()
        )

    expected = norm(build(SparkProcessor(spark)))
    # chunk = 100s → the hot key splits into ~5 parallel chunks
    got = norm(build(SparkProcessor(spark, asof_salt_chunk_ms=100_000)))
    assert got == expected
    assert len(got) == len(left_rows)


def test_salted_asof_matches_unsalted_on_microsecond_ties(spark):
    """The time-chunked as-of plan must order at FULL event-time
    precision: sub-millisecond data used to match a right row up to
    999us in the left row's future."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from feathub_spark.processors.spark.constants import EVENT_TIME_COL
    from feathub_spark.processors.spark.join_utils import temporal_join

    def ts(us):
        return datetime(2026, 1, 1, tzinfo=timezone.utc).replace(
            microsecond=us
        )

    left = spark.createDataFrame(
        [("k", ts(100)), ("k", ts(950))], "k string, t timestamp"
    ).withColumn(EVENT_TIME_COL, F.col("t"))
    right = spark.createDataFrame(
        [("k", ts(900), 42.0)], "k string, t timestamp, v double"
    ).withColumn(EVENT_TIME_COL, F.col("t"))
    plain = temporal_join(left, right, ["k"], {"v": "v"})
    salted = temporal_join(
        left, right, ["k"], {"v": "v"}, salt_chunk_ms=3_600_000
    )
    want = [(100, None), (950, 42.0)]
    for out in (plain, salted):
        got = sorted(
            (r["t"].microsecond, r["v"]) for r in out.select("t", "v").collect()
        )
        assert got == want


def test_salt_decision_records_effective_plan(spark, tmp_path):
    """An explicit salt chunk SMALLER than a bounded window falls back to
    the plain over-window plan — the recorded decision must say None, and
    results must match the plain processor."""
    from datetime import timedelta

    from feathub_spark import DerivedFeatureView, Feature
    from feathub_spark.feature_views.transforms import OverWindowTransform
    from feathub_spark.processors.spark.spark_processor import SparkProcessor

    from tests.fixtures import write_f1_source

    source = write_f1_source(tmp_path)

    def _view():
        return DerivedFeatureView(
            name="salt_decision_view",
            source=source,
            features=[
                Feature(
                    "cost_24h",
                    transform=OverWindowTransform(
                        "cost", "SUM", window_size=timedelta(hours=24),
                        group_by_keys=["name"],
                    ),
                ),
            ],
            keep_source_fields=True,
        )

    plain = SparkProcessor(spark)
    plain.registry.build_features([source])
    expected = plain.get_table(
        plain.registry.build_features([_view()])[0]
    ).to_pandas()

    salted = SparkProcessor(spark, over_window_salt_chunk_ms=3_600_000)
    salted.registry.build_features([source])
    got = salted.get_table(
        salted.registry.build_features([_view()])[0]
    ).to_pandas()

    ow = [d for d in salted.last_salt_decisions if d[0] == "over_window"]
    assert len(ow) == 1
    assert ow[0][2] is None  # fell back to the plain plan, recorded as such

    cols = sorted(expected.columns)
    exp = expected[cols].sort_values(cols).reset_index(drop=True)
    act = got[cols].sort_values(cols).reset_index(drop=True)
    assert act.equals(exp)
