"""Auto-skew planning: with salt_chunk_ms="auto" the plan-time probe
(processors/spark/skew_probe.py) must pick the salted/chunked plan on a
skewed fixture, keep the plain plan on uniform data, and the salted
results must match the plain plan bit-for-bit."""

import random

import pytest
from pyspark.sql import functions as F

from feathub_spark import DerivedFeatureView, Feature, SparkProcessor
from feathub_spark.feature_views.transforms import OverWindowTransform
from feathub_spark.processors.spark.skew_probe import (
    AutoSalt,
    decide_salt_chunk_ms,
)

from tests.test_randomized_golden import _write_source


def _rows(seed, n, hot_share):
    rnd = random.Random(seed)
    rows = []
    for _ in range(n):
        k = "hot" if rnd.random() < hot_share else f"k{rnd.randrange(50)}"
        t = rnd.randrange(0, 500)
        v = None if rnd.random() < 0.1 else rnd.randrange(-20, 100)
        rows.append((k, v, t))
    return rows


def _df(spark, rows):
    from pyspark.sql import functions as F

    return spark.createDataFrame(rows, "k string, v int, t long").withColumn(
        "__event_time__", F.timestamp_seconds(F.col("t"))
    )


def test_probe_salts_skewed_not_uniform(spark):
    skewed = _df(spark, _rows(7, 600, 0.7))
    uniform = _df(spark, _rows(8, 600, 0.0))

    got = decide_salt_chunk_ms(
        skewed, ["k"], "__event_time__", threshold=4.0, min_hot_rows=100
    )
    assert got is not None and got >= 1
    assert (
        decide_salt_chunk_ms(
            uniform, ["k"], "__event_time__", threshold=4.0, min_hot_rows=100
        )
        is None
    )
    # skewed-but-tiny hot key: below min_hot_rows the salt isn't worth
    # the two extra shuffles
    assert (
        decide_salt_chunk_ms(
            skewed, ["k"], "__event_time__", threshold=4.0, min_hot_rows=10_000
        )
        is None
    )


def test_probe_chunk_covers_bounded_window(spark):
    skewed = _df(spark, _rows(9, 600, 0.7))
    # span is ~500s; a 10-minute window must force chunk_ms >= window_ms
    got = decide_salt_chunk_ms(
        skewed,
        ["k"],
        "__event_time__",
        window_ms=600_000,
        threshold=4.0,
        min_hot_rows=100,
    )
    assert got is not None and got >= 600_000


@pytest.mark.parametrize("hot_share,expect_salted", [(0.7, True), (0.0, False)])
def test_auto_over_window_plan_choice_and_equality(
    spark, tmp_path, hot_share, expect_salted
):
    rows = _rows(41 + int(hot_share * 10), 400, hot_share)
    name = f"auto_{int(hot_share * 10)}"
    source = _write_source(tmp_path, name, rows)

    def _view(src):
        kwargs = dict(group_by_keys=["k"])
        return DerivedFeatureView(
            name=f"v_{name}",
            source=src,
            features=[
                Feature("s", transform=OverWindowTransform("v", "SUM", **kwargs)),
                Feature("a", transform=OverWindowTransform("v", "AVG", **kwargs)),
                Feature("mx", transform=OverWindowTransform("v", "MAX", **kwargs)),
            ],
            keep_source_fields=True,
        )

    plain = SparkProcessor(spark)
    plain.registry.build_features([source])
    expected = plain.get_table(
        plain.registry.build_features([_view(source)])[0]
    ).to_pandas()

    auto = SparkProcessor(
        spark,
        over_window_salt_chunk_ms=AutoSalt(threshold=4.0, min_hot_rows=100),
    )
    auto.registry.build_features([source])
    got = auto.get_table(
        auto.registry.build_features([_view(source)])[0]
    ).to_pandas()

    ow = [d for d in auto.last_salt_decisions if d[0] == "over_window"]
    assert len(ow) == 1
    chunk_ms = ow[0][2]
    assert (chunk_ms is not None) == expect_salted

    cols = sorted(expected.columns)
    exp = expected[cols].sort_values(cols).reset_index(drop=True)
    act = got[cols].sort_values(cols).reset_index(drop=True)
    assert act.equals(exp)


def test_auto_asof_plan_choice_and_equality(spark, tmp_path):
    """As-of join with asof_salt_chunk_ms="auto": salted on the skewed
    union, plain on uniform; results identical either way."""
    from feathub_spark.processors.spark.join_utils import temporal_join

    rnd = random.Random(77)
    left_rows = []
    for _ in range(500):
        k = "hot" if rnd.random() < 0.8 else f"k{rnd.randrange(30)}"
        left_rows.append((k, rnd.randrange(0, 1000), rnd.randrange(0, 500)))
    # unique right timestamps: both plans resolve right-ts ties
    # arbitrarily, so ties would make the comparison ill-defined
    right_rows = [
        (f"k{i % 30}" if i % 4 else "hot", i * 3, i * 4) for i in range(120)
    ]
    left = _df(spark, left_rows)
    right = _df(spark, right_rows).withColumnRenamed("v", "rv")

    plain = temporal_join(left, right, ["k"], {"joined": "rv"})
    decisions = []
    salted = temporal_join(
        left,
        right,
        ["k"],
        {"joined": "rv"},
        salt_chunk_ms=AutoSalt(threshold=3.0, min_hot_rows=100),
        decisions=decisions,
    )
    assert decisions and decisions[0][0] == "asof"
    assert decisions[0][2] is not None  # probe chose the chunked plan

    cols = sorted(plain.columns)
    exp = plain.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    act = salted.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    assert act.equals(exp)


def test_probe_cache_memoizes(spark):
    skewed = _df(spark, _rows(5, 400, 0.7))
    from feathub_spark.processors.spark.skew_probe import resolve_salt_chunk_ms

    cache = {}
    a = resolve_salt_chunk_ms(
        AutoSalt(threshold=4.0, min_hot_rows=100),
        skewed,
        ["k"],
        "__event_time__",
        cache=cache,
    )
    assert a is not None and len(cache) == 1
    b = resolve_salt_chunk_ms(
        AutoSalt(threshold=4.0, min_hot_rows=100),
        skewed,
        ["k"],
        "__event_time__",
        cache=cache,
    )
    assert b == a and len(cache) == 1
    # explicit ints bypass the probe entirely
    assert (
        resolve_salt_chunk_ms(1234, skewed, ["k"], "__event_time__", cache=cache)
        == 1234
    )


def test_skew_probe_cache_keys_include_policy(spark):
    """Two AutoSalt policies sharing one probe cache must not read each
    other's verdicts."""
    from feathub_spark.processors.spark.skew_probe import (
        AutoSalt,
        resolve_salt_chunk_ms,
    )

    df = spark.createDataFrame(
        [("hot", i * 1000) for i in range(400)] + [("cold", 0)],
        "k string, ts long",
    ).withColumn("t", F.timestamp_millis(F.col("ts")))
    cache = {}
    a = resolve_salt_chunk_ms(
        AutoSalt(threshold=1e9, min_hot_rows=10**9), df, ["k"], "t",
        cache=cache,
    )
    b = resolve_salt_chunk_ms(
        AutoSalt(threshold=1.0, min_hot_rows=1), df, ["k"], "t",
        cache=cache,
    )
    assert a is None and b is not None
    assert len(cache) == 2


def test_skew_probe_all_null_timestamps_fall_back(spark):
    """An all-NULL probed time column must return 'no salting', not
    abort the compile with int(None)."""
    from pyspark.sql import functions as F

    from feathub_spark.processors.spark.skew_probe import decide_salt_chunk_ms

    df = spark.createDataFrame(
        [("k", None)] * 50, "k string, ts timestamp"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert (
        decide_salt_chunk_ms(df, ["k"], "ts", threshold=1.0, min_hot_rows=1)
        is None
    )


def test_salt_chunk_bool_spec_rejected(spark):
    """salt_chunk_ms=True must raise the bad-spec error, not silently
    compile a pathological 1ms-chunk plan (bool is an int subclass)."""
    from feathub_spark.processors.spark.skew_probe import resolve_salt_chunk_ms

    df = spark.createDataFrame([("k", 1)], "k string, v long")
    with pytest.raises(ValueError):
        resolve_salt_chunk_ms(True, df, ["k"], "v")


def test_skew_probe_cache_survives_across_get_table(spark, tmp_path):
    """The processor owns the probe memoization, so two get_table calls
    over the same descriptor run ONE probe job ('pay once')."""
    from feathub_spark import DerivedFeatureView, Feature, Float64
    from feathub_spark.feature_views.transforms import OverWindowTransform
    from feathub_spark.processors.spark.spark_processor import SparkProcessor
    from tests.fixtures import write_f1_source

    source = write_f1_source(tmp_path)
    view = DerivedFeatureView(
        name="probe_cache_view",
        source=source,
        features=[
            Feature(
                "s",
                transform=OverWindowTransform(
                    "cost", "SUM", group_by_keys=["name"]
                ),
                dtype=Float64,
            )
        ],
        keep_source_fields=True,
    )
    proc = SparkProcessor(spark, over_window_salt_chunk_ms="auto")
    built = proc.registry.build_features([source, view])
    proc.get_table(built[1]).to_pandas()
    assert len(proc._skew_probe_cache) >= 1
    before = dict(proc._skew_probe_cache)
    proc.get_table(built[1]).to_pandas()
    # same entries, nothing re-probed under a new key
    assert set(proc._skew_probe_cache) == set(before)
