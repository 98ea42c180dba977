"""Structured Streaming path: file-stream source -> expression view ->
sliding window -> in-memory streaming sink; results must agree with the
batch path on the same data (stream-batch unification)."""

import os
import time
from datetime import timedelta

import pytest

from feathub_spark import (
    DerivedFeatureView,
    Feature,
    FileSystemSource,
    Int64,
    Schema,
    SlidingFeatureView,
    String,
)
from feathub_spark.common.exceptions import PlanError
from feathub_spark.feature_views.transforms import (
    PythonUdfTransform,
    SlidingWindowTransform,
)

from tests.fixtures import F1_ROWS


def _write_stream_dir(tmp_path):
    d = os.path.join(str(tmp_path), "stream_in")
    os.makedirs(d, exist_ok=True)
    # two files to exercise multi-file discovery
    for i, chunk in enumerate([F1_ROWS[:3], F1_ROWS[3:]]):
        with open(os.path.join(d, f"part{i}.csv"), "w") as f:
            f.write("name,cost,distance,time\n")
            for r in chunk:
                f.write(",".join(str(x) for x in r) + "\n")
    return d


def _stream_source(tmp_path, name):
    schema = (
        Schema.new_builder()
        .column("name", String)
        .column("cost", Int64)
        .column("distance", Int64)
        .column("time", String)
        .build()
    )
    return FileSystemSource(
        name=name,
        path=_write_stream_dir(tmp_path),
        data_format="csv",
        schema=schema,
        keys=["name"],
        timestamp_field="time",
        timestamp_format="%Y-%m-%d %H:%M:%S",
        max_out_of_orderness=timedelta(seconds=10),
    )


def _run_to_memory(spark, processor, view, name, mode="append"):
    df = processor.get_stream_dataframe(view)
    query = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_expression_view(client, tmp_path):
    source = _stream_source(tmp_path, "stream_src_1")
    view = DerivedFeatureView(
        name="stream_expr_view",
        source=source,
        features=[Feature("total", transform="cost + distance")],
        keep_source_fields=True,
        filter_expr="total > 400",
    )
    client.build_features([source, view])
    out = _run_to_memory(client.spark, client.processor, view, "stream_expr_out")
    rows = out.orderBy("time").collect()
    assert [r.total for r in rows] == [650, 500, 450, 1000, 1400]


def test_streaming_sliding_window_matches_batch(client, tmp_path):
    source = _stream_source(tmp_path, "stream_src_2")

    def make_view(name, src):
        return SlidingFeatureView(
            name=name,
            source=src,
            features=[
                Feature(
                    "total_cost",
                    transform=SlidingWindowTransform(
                        "cost",
                        "SUM",
                        window_size=timedelta(days=2),
                        step_size=timedelta(days=1),
                        group_by_keys=["name"],
                    ),
                ),
            ],
            enable_empty_window_output=False,
            skip_same_window_output=False,
        )

    stream_view = make_view("stream_sliding_view", source)
    client.build_features([source, stream_view])
    # complete mode so windows beyond the final watermark are also emitted
    # (append mode would hold them until the watermark passes — correct
    # production behavior, but here we compare against the batch result).
    out = _run_to_memory(
        client.spark, client.processor, stream_view, "stream_sliding_out", "complete"
    )
    stream_rows = {
        (r["name"], r.window_time): r.total_cost
        for r in out.collect()
    }

    # batch path on the same source
    batch_view = make_view("batch_sliding_view", source)
    client.build_features([batch_view])
    batch = client.get_features(batch_view).to_pandas()
    batch_rows = {
        (r["name"], r["window_time"]): r["total_cost"] for _, r in batch.iterrows()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_stateful_sliding_full_semantics_matches_batch(client, tmp_path):
    """Default emission semantics (empty-window defaults + skip-same) via the
    custom applyInPandasWithState operator must reproduce the batch golden
    output for every window the final watermark has passed.  A sentinel key
    far in the future pushes the watermark beyond the drain point of the
    real keys."""
    d = _write_stream_dir(tmp_path)
    with open(os.path.join(d, "part_sentinel.csv"), "w") as f:
        f.write("name,cost,distance,time\n")
        f.write("Zed,1,1,2022-01-20 00:00:00\n")

    schema = (
        Schema.new_builder()
        .column("name", String)
        .column("cost", Int64)
        .column("distance", Int64)
        .column("time", String)
        .build()
    )
    source = FileSystemSource(
        name="stream_src_3",
        path=d,
        data_format="csv",
        schema=schema,
        keys=["name"],
        timestamp_field="time",
        timestamp_format="%Y-%m-%d %H:%M:%S",
        max_out_of_orderness=timedelta(seconds=0),
    )

    def make_view(name, src):
        return SlidingFeatureView(
            name=name,
            source=src,
            features=[
                Feature(
                    "total_cost",
                    transform=SlidingWindowTransform(
                        "cost", "SUM", window_size=timedelta(days=2),
                        step_size=timedelta(days=1), group_by_keys=["name"],
                    ),
                ),
                Feature(
                    "cnt_1d",
                    transform=SlidingWindowTransform(
                        "cost", "COUNT", window_size=timedelta(days=1),
                        step_size=timedelta(days=1), group_by_keys=["name"],
                    ),
                ),
            ],
            enable_empty_window_output=True,
            skip_same_window_output=True,
        )

    stream_view = make_view("stateful_sliding_view", source)
    client.build_features([source, stream_view])
    out = _run_to_memory(
        client.spark, client.processor, stream_view, "stateful_sliding_out"
    )
    stream_rows = {
        (r["name"], r.window_time): (r.total_cost, r.cnt_1d)
        for r in out.collect()
        if r["name"] != "Zed"
    }

    batch_view = make_view("stateful_batch_view", source)
    client.build_features([batch_view])
    batch = client.get_features(batch_view).to_pandas()
    batch_rows = {
        (r["name"], r["window_time"]): (r["total_cost"], r["cnt_1d"])
        for _, r in batch.iterrows()
        if r["name"] != "Zed"
    }
    assert len(stream_rows) > 0
    assert stream_rows == batch_rows


def test_streaming_over_window_matches_batch(client, tmp_path):
    """Per-row over-window on a stream (stateful operator) must equal the
    batch evaluator for every row the watermark has passed."""
    d = _write_stream_dir(tmp_path)
    with open(os.path.join(d, "part_sentinel.csv"), "w") as f:
        f.write("name,cost,distance,time\n")
        f.write("Zed,1,1,2022-01-20 00:00:00\n")
    schema = (
        Schema.new_builder()
        .column("name", String)
        .column("cost", Int64)
        .column("distance", Int64)
        .column("time", String)
        .build()
    )
    source = FileSystemSource(
        name="stream_src_over",
        path=d,
        data_format="csv",
        schema=schema,
        keys=["name"],
        timestamp_field="time",
        timestamp_format="%Y-%m-%d %H:%M:%S",
        max_out_of_orderness=timedelta(seconds=0),
    )
    from feathub_spark.feature_views.transforms import OverWindowTransform

    def make_view(name):
        return DerivedFeatureView(
            name=name,
            source=source,
            features=[
                Feature("total", transform="cost + distance"),
                Feature(
                    "sum_2d",
                    transform=OverWindowTransform(
                        "cost", "SUM", window_size=timedelta(days=2),
                        group_by_keys=["name"],
                    ),
                ),
                Feature(
                    "cnt_last2",
                    transform=OverWindowTransform(
                        "cost", "COUNT", group_by_keys=["name"], limit=2
                    ),
                ),
                Feature("ratio", transform="CAST(sum_2d AS DOUBLE) / total"),
            ],
            keep_source_fields=True,
        )

    stream_view = make_view("stream_over_view")
    client.build_features([source, stream_view])
    out = _run_to_memory(client.spark, client.processor, stream_view, "stream_over_out")
    stream_rows = {
        (r["name"], r["time"]): (r.total, r.sum_2d, r.cnt_last2, r.ratio)
        for r in out.collect()
        if r["name"] != "Zed"
    }

    batch_view = make_view("batch_over_view")
    client.build_features([batch_view])
    batch = client.get_features(batch_view).to_pandas()
    batch_rows = {
        (r["name"], r["time"]): (r["total"], r["sum_2d"], r["cnt_last2"], r["ratio"])
        for _, r in batch.iterrows()
        if r["name"] != "Zed"
    }
    assert len(stream_rows) == 6
    assert stream_rows == batch_rows


def test_streaming_asof_join_matches_batch(client, tmp_path):
    """Streaming point-in-time join (stateful union operator) must equal the
    batch as-of join for every left row the watermark has passed."""
    from tests.fixtures import F2_ROWS

    left_dir = _write_stream_dir(tmp_path)
    with open(os.path.join(left_dir, "part_sentinel.csv"), "w") as f:
        f.write("name,cost,distance,time\n")
        f.write("Zed,1,1,2022-01-20 00:00:00\n")
    right_dir = os.path.join(str(tmp_path), "right_in")
    os.makedirs(right_dir)
    with open(os.path.join(right_dir, "r.csv"), "w") as f:
        # the right-table time format contains a comma → quote the field
        f.write("name,avg_cost,time\n")
        for name, avg_cost, time_s in F2_ROWS:
            f.write(f'{name},{avg_cost},"{time_s}"\n')
        f.write('Zed,9.0,"2022-01-20,00:00:01"\n')

    schema_l = (
        Schema.new_builder()
        .column("name", String)
        .column("cost", Int64)
        .column("distance", Int64)
        .column("time", String)
        .build()
    )
    from feathub_spark import Float64

    schema_r = (
        Schema.new_builder()
        .column("name", String)
        .column("avg_cost", Float64)
        .column("time", String)
        .build()
    )
    left_src = FileSystemSource(
        name="sj_left",
        path=left_dir,
        data_format="csv",
        schema=schema_l,
        keys=["name"],
        timestamp_field="time",
        timestamp_format="%Y-%m-%d %H:%M:%S",
    )
    right_src = FileSystemSource(
        name="sj_right",
        path=right_dir,
        data_format="csv",
        schema=schema_r,
        keys=["name"],
        timestamp_field="time",
        timestamp_format="%Y-%m-%d,%H:%M:%S",
    )

    def make_view(name):
        return DerivedFeatureView(
            name=name,
            source=left_src,
            features=["sj_right.avg_cost"],
            keep_source_fields=True,
        )

    client.build_features([right_src])
    stream_view = make_view("stream_join_view")
    client.build_features([left_src, stream_view])
    out = _run_to_memory(client.spark, client.processor, stream_view, "stream_join_out")

    def _norm(v):
        import math as _m

        return None if v is None or (isinstance(v, float) and _m.isnan(v)) else v

    stream_rows = {
        (r["name"], r["time"]): _norm(r.avg_cost)
        for r in out.collect()
        if r["name"] != "Zed"
    }

    batch_view = make_view("batch_join_view")
    client.build_features([batch_view])
    batch = client.get_features(batch_view).to_pandas()
    batch_rows = {
        (r["name"], r["time"]): _norm(r["avg_cost"])
        for _, r in batch.iterrows()
        if r["name"] != "Zed"
    }
    assert len(stream_rows) == 6
    assert stream_rows == batch_rows


def test_stateful_sliding_late_data_within_watermark(client, tmp_path):
    """A row arriving in a later micro-batch but within the watermark bound
    must be incorporated before its windows close (the reference re-merges
    late data via side outputs; here the watermark holds windows open)."""
    d = os.path.join(str(tmp_path), "late_in")
    os.makedirs(d)
    # batch 1: two rows on Jan 1 and Jan 3
    with open(os.path.join(d, "0_first.csv"), "w") as f:
        f.write("name,cost,distance,time\n")
        f.write("Alex,100,1,2022-01-01 10:00:00\n")
        f.write("Alex,50,1,2022-01-03 10:00:00\n")
    # batch 2: an out-of-order row for Jan 2 (within the 3-day ooo bound)
    # plus a sentinel pushing the watermark past every drain point
    with open(os.path.join(d, "1_late.csv"), "w") as f:
        f.write("name,cost,distance,time\n")
        f.write("Alex,7,1,2022-01-02 09:00:00\n")
        f.write("Zed,1,1,2022-01-30 00:00:00\n")

    schema = (
        Schema.new_builder()
        .column("name", String)
        .column("cost", Int64)
        .column("distance", Int64)
        .column("time", String)
        .build()
    )
    source = FileSystemSource(
        name="late_src",
        path=d,
        data_format="csv",
        schema=schema,
        keys=["name"],
        timestamp_field="time",
        timestamp_format="%Y-%m-%d %H:%M:%S",
        max_out_of_orderness=timedelta(days=3),
        data_format_props={"maxFilesPerTrigger": "1"},
    )

    view = SlidingFeatureView(
        name="late_sliding_view",
        source=source,
        features=[
            Feature(
                "sum_1d",
                transform=SlidingWindowTransform(
                    "cost", "SUM", window_size=timedelta(days=1),
                    step_size=timedelta(days=1), group_by_keys=["name"],
                ),
            ),
        ],
        enable_empty_window_output=True,
        skip_same_window_output=True,
    )
    client.build_features([source, view])
    out = _run_to_memory(client.spark, client.processor, view, "late_sliding_out")
    alex = {
        r.window_time: r.sum_1d for r in out.collect() if r["name"] == "Alex"
    }
    # daily windows: Jan1→100, Jan2→7 (the late row!), Jan3→50, Jan4→0
    ms_day = 86_400_000
    jan2 = 1641081600000
    assert alex.get(jan2 - 1) == 100
    assert alex.get(jan2 + ms_day - 1) == 7
    assert alex.get(jan2 + 2 * ms_day - 1) == 50
    assert alex.get(jan2 + 3 * ms_day - 1) == 0


def test_streaming_exact_dedup(client, tmp_path):
    """Watermark-bounded streaming dedup: duplicate contents across files
    collapse to one surviving row; state never outgrows the watermark
    horizon (dropDuplicatesWithinWatermark)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from feathub_spark.datapipe.dedup import streaming_exact_dedup

    d = os.path.join(str(tmp_path), "dedup_stream_in")
    os.makedirs(d, exist_ok=True)
    rows = [
        (1, "alpha", "2024-01-01 00:00:01"),
        (2, "beta", "2024-01-01 00:00:02"),
        (3, "alpha", "2024-01-01 00:00:03"),  # dup of 1
        (4, "gamma", "2024-01-01 00:00:04"),
        (5, "beta", "2024-01-01 00:00:05"),   # dup of 2
        (6, "alpha", "2024-01-01 00:00:06"),  # dup of 1
    ]
    for i, chunk in enumerate([rows[:3], rows[3:]]):
        with open(os.path.join(d, f"p{i}.csv"), "w") as f:
            f.write("doc_id,content,ts\n")
            for r in chunk:
                f.write(",".join(str(x) for x in r) + "\n")

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.StringType()),
            T.StructField("ts", T.StringType()),
        ]
    )
    sdf = (
        client.spark.readStream.schema(schema)
        .option("header", "true")
        .csv(d)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    deduped = streaming_exact_dedup(
        sdf, ["content"], watermark_col="ts", delay="1 minute"
    )
    query = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    out = client.spark.sql("SELECT * FROM dedup_stream_out").collect()
    contents = sorted(r["content"] for r in out)
    assert contents == ["alpha", "beta", "gamma"]


def test_streaming_native_filtered_first_last_and_nulls(client, tmp_path):
    """Native-path (single size, no flags) FIRST_VALUE/LAST_VALUE with a
    filter must return the first/last PASSING value (an ungated min_by/
    max_by let a filtered-out row win the slot and emit NULL), and
    view.filter_expr must apply on the streaming path like batch."""
    source = _stream_source(tmp_path, "stream_src_fl")

    def make_view(name, src):
        return SlidingFeatureView(
            name=name,
            source=src,
            features=[
                Feature(
                    "first_big",
                    transform=SlidingWindowTransform(
                        "cost", "FIRST_VALUE",
                        window_size=timedelta(days=2),
                        step_size=timedelta(days=1),
                        group_by_keys=["name"],
                        filter_expr="cost > 300",
                    ),
                ),
                Feature(
                    "last_big",
                    transform=SlidingWindowTransform(
                        "cost", "LAST_VALUE",
                        window_size=timedelta(days=2),
                        step_size=timedelta(days=1),
                        group_by_keys=["name"],
                        filter_expr="cost > 300",
                    ),
                ),
            ],
            enable_empty_window_output=False,
            skip_same_window_output=False,
            filter_expr="first_big IS NOT NULL",
        )

    stream_view = make_view("stream_fl_view", source)
    client.build_features([source, stream_view])
    out = _run_to_memory(
        client.spark, client.processor, stream_view, "stream_fl_out", "complete"
    )
    stream_rows = {
        (r["name"], r.window_time): (r.first_big, r.last_big)
        for r in out.collect()
    }
    batch_view = make_view("batch_fl_view", source)
    client.build_features([batch_view])
    batch = client.get_features(batch_view).to_pandas()
    batch_rows = {
        (r["name"], r["window_time"]): (r["first_big"], r["last_big"])
        for _, r in batch.iterrows()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0
    # the view filter held: no NULL first_big row survived
    assert all(v[0] is not None for v in stream_rows.values())


@pytest.mark.parametrize("stateful", [False, True])
def test_streaming_sliding_python_udf_matches_batch(client, tmp_path, stateful):
    """Python UDF features before and after a streaming sliding window
    lower like batch, on the native window path and on the stateful
    operator (the stream path used to lower only expression features, so
    the UDF columns went missing)."""
    d = _write_stream_dir(tmp_path)
    with open(os.path.join(d, "part_sentinel.csv"), "w") as f:
        f.write("name,cost,distance,time\n")
        f.write("Zed,1,1,2022-01-20 00:00:00\n")
    schema = (
        Schema.new_builder()
        .column("name", String)
        .column("cost", Int64)
        .column("distance", Int64)
        .column("time", String)
        .build()
    )
    source = FileSystemSource(
        name=f"stream_src_udf_{int(stateful)}",
        path=d,
        data_format="csv",
        schema=schema,
        keys=["name"],
        timestamp_field="time",
        timestamp_format="%Y-%m-%d %H:%M:%S",
        max_out_of_orderness=timedelta(seconds=0),
    )

    def make_view(name):
        return SlidingFeatureView(
            name=name,
            source=source,
            features=[
                Feature(
                    "c2",
                    transform=PythonUdfTransform(lambda row: row["cost"] * 2),
                    dtype=Int64,
                ),
                Feature(
                    "s",
                    transform=SlidingWindowTransform(
                        "c2", "SUM", window_size=timedelta(days=1),
                        step_size=timedelta(days=1), group_by_keys=["name"],
                    ),
                ),
                Feature(
                    "s2",
                    transform=PythonUdfTransform(lambda row: row["s"] * 2),
                    dtype=Int64,
                ),
            ],
            enable_empty_window_output=stateful,
            skip_same_window_output=stateful,
        )

    stream_view = make_view(f"stream_udf_view_{int(stateful)}")
    client.build_features([source, stream_view])
    # the native path runs in complete mode so windows beyond the final
    # watermark are emitted too; the stateful one drains through the
    # sentinel key
    out = _run_to_memory(
        client.spark, client.processor, stream_view,
        f"stream_udf_out_{int(stateful)}", "append" if stateful else "complete",
    )
    stream_rows = {
        (r["name"], r.window_time): (r.s, r.s2)
        for r in out.collect()
        if r["name"] != "Zed"
    }

    batch_view = make_view(f"batch_udf_view_{int(stateful)}")
    client.build_features([batch_view])
    batch = client.get_features(batch_view).to_pandas()
    batch_rows = {
        (r["name"], r["window_time"]): (r["s"], r["s2"])
        for _, r in batch.iterrows()
        if r["name"] != "Zed"
    }
    assert len(stream_rows) > 0
    assert all(s2 == 2 * s for s, s2 in stream_rows.values())
    assert stream_rows == batch_rows


@pytest.mark.parametrize("case", ["join_without_keys", "sliding_without_timestamp"])
def test_streaming_compile_raises_batch_plan_errors(client, tmp_path, case):
    """The streaming compile runs the batch builder's validations: a join
    feature with no keys and a sliding view over a source without a
    timestamp_field both raise the batch PlanError."""
    source = _stream_source(tmp_path, f"stream_src_err_{case}")
    if case == "join_without_keys":
        right = FileSystemSource(
            name="keyless_right",
            path=source.path,
            data_format="csv",
            schema=source.schema,
            timestamp_field="time",
            timestamp_format="%Y-%m-%d %H:%M:%S",
        )
        client.build_features([right])
        view = DerivedFeatureView(
            name="keyless_join_view", source=source, features=["keyless_right.cost"]
        )
        message = "needs keys to join on"
    else:
        view = SlidingFeatureView(
            name="untimed_sliding_view",
            source=source,
            features=[
                Feature(
                    "total_cost",
                    transform=SlidingWindowTransform(
                        "cost", "SUM", window_size=timedelta(days=1),
                        step_size=timedelta(days=1), group_by_keys=["name"],
                    ),
                ),
            ],
        )
        message = "requires the source to declare a timestamp_field"
    view = client.build_features([source, view])[1]
    if case == "sliding_without_timestamp":
        # the registry already rejects this declaration; the compile-time
        # check guards a resolved view whose source has no event time
        view.get_resolved_source().timestamp_field = None
    with pytest.raises(PlanError, match=message):
        client.get_features(view)
    with pytest.raises(PlanError, match=message):
        client.processor.get_stream_dataframe(view)


def test_streaming_registers_no_temp_views(client, tmp_path):
    """Batch compiles register each view as a temp view for SqlFeatureView
    consumers; compiling a stream of the same views must leave those batch
    temp views in place."""
    source = _stream_source(tmp_path, "stream_src_tv")
    view = DerivedFeatureView(
        name="stream_tv_view",
        source=source,
        features=[Feature("total", transform="cost + distance")],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    client.get_features(view).to_pandas()
    stream = client.processor.get_stream_dataframe(view)
    assert stream.isStreaming
    for name in ("stream_src_tv", "stream_tv_view"):
        assert not client.spark.table(name).isStreaming
    totals = client.spark.sql("SELECT total FROM stream_tv_view").collect()
    assert sorted(r.total for r in totals) == [200, 450, 500, 650, 1000, 1400]
