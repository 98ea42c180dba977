"""Structured Streaming path: file-stream source -> expression view ->
sliding window -> in-memory streaming sink; results must agree with the
batch path on the same data (stream-batch unification)."""

import json
import os
import re
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


def test_kafka_default_checkpoint_stable_and_collision_guarded(spark):
    """The derived default checkpoint path must be STABLE across start()
    calls (restart-resume) and refuse a second LIVE query on the same
    derived path."""
    import pytest

    from feathub_spark.common.exceptions import PlanError
    from feathub_spark.feature_tables.sinks.connector_sinks import KafkaSink
    from feathub_spark.streaming import stream_builder as sb

    sink = KafkaSink(bootstrap_server="localhost:9092", topic="t1")
    p1 = sb._default_kafka_checkpoint_dir("qname", sink)
    p2 = sb._default_kafka_checkpoint_dir("qname", sink)
    assert p1 == p2

    class _FakeQuery:
        isActive = True

    sb._ACTIVE_DEFAULT_CKPTS[p1] = _FakeQuery()
    try:
        with pytest.raises(PlanError):
            sb._default_kafka_checkpoint_dir("qname", sink)
        # a STOPPED query releases the path for resume
        sb._ACTIVE_DEFAULT_CKPTS[p1].isActive = False
        assert sb._default_kafka_checkpoint_dir("qname", sink) == p1

        # a DEAD query handle (stopped JVM/session: isActive raises)
        # must release the path, not crash the guard
        class _DeadQuery:
            @property
            def isActive(self):
                raise RuntimeError("JVM gone")

        sb._ACTIVE_DEFAULT_CKPTS[p1] = _DeadQuery()
        assert sb._default_kafka_checkpoint_dir("qname", sink) == p1
    finally:
        sb._ACTIVE_DEFAULT_CKPTS.pop(p1, None)
    # UNNAMED queries keep per-start unique temp dirs: with no identity
    # there is nothing safe to resume by, and two independent unnamed
    # writers to one topic must never share a checkpoint
    p3 = sb._default_kafka_checkpoint_dir(None, sink)
    p4 = sb._default_kafka_checkpoint_dir(None, sink)
    assert p3 != p4


class TestCheckpointIdentity:
    def test_named_paths_differ_by_sink_identity(self):
        from feathub_spark.streaming.stream_builder import (
            _default_stream_checkpoint_dir,
        )

        a = _default_stream_checkpoint_dir("q1", "file_/tmp/out_a")
        b = _default_stream_checkpoint_dir("q1", "kafka_topic@host:9092")
        assert a != b  # same query_name, different sinks -> distinct ckpts

    def test_named_path_stable_for_same_identity(self):
        from feathub_spark.streaming.stream_builder import (
            _default_stream_checkpoint_dir,
        )

        a = _default_stream_checkpoint_dir("q2", "file_/tmp/out")
        b = _default_stream_checkpoint_dir("q2", "file_/tmp/out")
        assert a == b

    def test_dead_claim_is_pruned(self):
        from feathub_spark.streaming import stream_builder as sb

        class DeadQuery:
            @property
            def isActive(self):
                raise RuntimeError("jvm gone")

        path = sb._default_stream_checkpoint_dir("q3", "file_/tmp/out3")
        sb._ACTIVE_DEFAULT_CKPTS[path] = DeadQuery()
        again = sb._default_stream_checkpoint_dir("q3", "file_/tmp/out3")
        assert again == path
        assert path not in sb._ACTIVE_DEFAULT_CKPTS  # ref released

    def test_live_claim_refused(self):
        from feathub_spark.common.exceptions import PlanError
        from feathub_spark.streaming import stream_builder as sb

        class LiveQuery:
            isActive = True

        path = sb._default_stream_checkpoint_dir("q4", "file_/tmp/out4")
        sb._ACTIVE_DEFAULT_CKPTS[path] = LiveQuery()
        try:
            with pytest.raises(PlanError):
                sb._default_stream_checkpoint_dir("q4", "file_/tmp/out4")
        finally:
            del sb._ACTIVE_DEFAULT_CKPTS[path]


class TestCheckpointMigration:
    def test_legacy_name_only_path_is_reused(self, tmp_path, monkeypatch):
        import hashlib
        import re
        import tempfile

        from feathub_spark.streaming.stream_builder import (
            _default_stream_checkpoint_dir,
        )

        monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
        name, ident = "r13_migrate_q", "file_/tmp/out"
        slug = re.sub(r"[^A-Za-z0-9_.-]+", "_", name)[:80]
        legacy_digest = hashlib.sha256(name.encode()).hexdigest()[:12]
        legacy = tmp_path / "feathub_spark_ckpt" / f"{slug}_{legacy_digest}"
        (legacy / "offsets").mkdir(parents=True)
        (legacy / "offsets" / "0").write_text("{}")

        path = _default_stream_checkpoint_dir(name, ident)
        assert not legacy.exists()  # moved, not copied
        assert os.path.isfile(os.path.join(path, "offsets", "0"))

    def test_fresh_name_gets_fresh_dir(self, tmp_path, monkeypatch):
        import tempfile

        from feathub_spark.streaming.stream_builder import (
            _default_stream_checkpoint_dir,
        )

        monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
        path = _default_stream_checkpoint_dir("r13_fresh_q", "file_/x")
        assert os.path.isdir(path)
        assert os.listdir(path) == []

    def test_existing_new_path_wins_over_legacy(self, tmp_path, monkeypatch):
        import hashlib
        import re
        import tempfile

        from feathub_spark.streaming.stream_builder import (
            _default_stream_checkpoint_dir,
        )

        monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
        name, ident = "r13_both_q", "file_/tmp/out"
        new_path = _default_stream_checkpoint_dir(name, ident)
        marker = os.path.join(new_path, "commits")
        os.makedirs(marker)

        slug = re.sub(r"[^A-Za-z0-9_.-]+", "_", name)[:80]
        legacy_digest = hashlib.sha256(name.encode()).hexdigest()[:12]
        legacy = tmp_path / "feathub_spark_ckpt" / f"{slug}_{legacy_digest}"
        (legacy / "offsets").mkdir(parents=True)

        again = _default_stream_checkpoint_dir(name, ident)
        assert again == new_path
        assert os.path.isdir(marker)  # untouched
        assert legacy.exists()  # NOT stolen once the new path exists


class TestAsofTieEncoding:
    def _key_fn(self, payload_fields):
        from feathub_spark.streaming.stateful_asof_join import _tie_encode

        def key(rjson):
            vals = json.loads(rjson)
            return tuple(_tie_encode(vals.get(n)) for n in payload_fields)

        return key

    def test_null_array_elements_do_not_raise(self):
        key = self._key_fn(["arr"])
        a = key(json.dumps({"arr": [1.0, None, 3.0]}))
        b = key(json.dumps({"arr": [1.0, 2.0, 3.0]}))
        # nulls-first ordering, no TypeError: [1, null, 3] < [1, 2, 3]
        assert a < b

    def test_prefix_array_sorts_first(self):
        key = self._key_fn(["arr"])
        assert key(json.dumps({"arr": [1, 2]})) < key(
            json.dumps({"arr": [1, 2, 0]})
        )

    def test_nested_null_array(self):
        key = self._key_fn(["arr"])
        a = key(json.dumps({"arr": [[1, None], [2]]}))
        b = key(json.dumps({"arr": [[1, 0], [2]]}))
        assert a < b

    def test_dropped_null_field_sorts_first(self):
        # to_json drops null fields entirely; .get() must yield the
        # nulls-first encoding, not KeyError
        key = self._key_fn(["v", "w"])
        assert key(json.dumps({"w": 1})) < key(json.dumps({"v": 0, "w": 1}))

    def test_map_payloads_compare_equal(self):
        key = self._key_fn(["m", "v"])
        a = key(json.dumps({"m": {"x": 1}, "v": 5}))
        b = key(json.dumps({"m": {"y": 9}, "v": 7}))
        assert a < b  # maps tie; the orderable field still decides


def _over(name, keys=("name",)):
    from feathub_spark.feature_views.transforms import OverWindowTransform

    return Feature(
        name,
        transform=OverWindowTransform(
            "cost", "SUM", window_size=timedelta(days=2), group_by_keys=list(keys)
        ),
    )


@pytest.mark.parametrize(
    "shape",
    ["asof_and_over", "over_two_key_sets", "asof_right_over_view", "over_view_over_over_view"],
)
def test_streaming_second_stateful_stage_raises(client, tmp_path, shape):
    """Spark compiles a streaming query with two applyInPandasWithState
    stages but refuses to start it; the streaming compile raises PlanError
    naming the batch path, which still computes the view."""
    source = _stream_source(tmp_path, f"two_src_{shape}")
    right = DerivedFeatureView(
        name=f"two_right_{shape}",
        source=source,
        features=[
            _over("r_total")
            if shape == "asof_right_over_view"
            else Feature("r_total", transform="cost + distance")
        ],
    )
    inner = DerivedFeatureView(
        name=f"two_inner_{shape}", source=source, features=[_over("sum_1")],
        keep_source_fields=True,
    )
    features = {
        "asof_and_over": [f"{right.name}.r_total", _over("sum_2")],
        "over_two_key_sets": [_over("sum_2"), _over("sum_3", keys=["distance"])],
        "asof_right_over_view": [f"{right.name}.r_total"],
        "over_view_over_over_view": [_over("sum_2")],
    }[shape]
    view = DerivedFeatureView(
        name=f"two_view_{shape}",
        source=inner if shape == "over_view_over_over_view" else source,
        features=features,
        keep_source_fields=True,
    )
    view = client.build_features([source, right, inner, view])[3]
    with pytest.raises(PlanError, match="may hold one stateful stage.*batch path"):
        client.processor.get_stream_dataframe(view)
    assert len(client.get_features(view).to_pandas()) == 6


def _write_event_files(d, files, schema):
    """One parquet file per list of rows, mtimes increasing in list order
    so a stream with maxFilesPerTrigger=1 reads them in order."""
    import pandas as pd

    os.makedirs(d, exist_ok=True)
    base = time.time() - 1000
    for name, rows in files:
        path = os.path.join(d, f"{name}.parquet")
        pd.DataFrame(rows, columns=schema).to_parquet(path, index=False)
        mtime = base + int(name.split("_")[-1])
        os.utime(path, (mtime, mtime))


def _epoch_source(name, path, fields, keys):
    from feathub_spark import Float64

    builder = Schema.new_builder()
    for f_ in fields:
        builder = builder.column(f_, {"user": String, "tp": String, "v": Float64}.get(f_, Int64))
    return FileSystemSource(
        name=name, path=path, data_format="parquet", schema=builder.build(),
        keys=keys, timestamp_field="t", timestamp_format="epoch",
        max_out_of_orderness=timedelta(seconds=0),
        data_format_props={"maxFilesPerTrigger": "1"},
    )


def test_unbounded_over_wakes_only_keys_with_rows(client, tmp_path):
    """With an unbounded over window, a key whose buffered rows have all
    been emitted is not woken again: later micro-batches update state only
    for the keys that received rows, and the output still equals batch."""
    from feathub_spark.feature_views.transforms import OverWindowTransform

    d = os.path.join(str(tmp_path), "wake_in")
    cols = ["user", "cost", "t"]
    files = [
        ("f_0", [("a", 1, 1000), ("b", 2, 2000), ("c", 3, 3000), ("b", 4, 4000),
                 ("c", 5, 5000), ("a", 6, 10000)]),
        ("f_1", [("a", 7, 11000), ("a", 8, 12000)]),
        ("f_2", [("a", 9, 13000)]),
        ("f_3", [("a", 10, 14000), ("zed", 0, 1_000_000)]),
    ]
    _write_event_files(d, files, cols)
    source = _epoch_source("wake_src", d, cols, ["user"])

    def make_view(name):
        return DerivedFeatureView(
            name=name,
            source=source,
            features=[
                Feature(
                    "life_sum",
                    transform=OverWindowTransform("cost", "SUM", group_by_keys=["user"]),
                )
            ],
            keep_source_fields=True,
        )

    view = client.build_features([source, make_view("wake_view")])[1]
    df = client.processor.get_stream_dataframe(view)
    query = (
        df.writeStream.outputMode("append").format("memory")
        .queryName("wake_out").trigger(availableNow=True).start()
    )
    assert query.awaitTermination(120)
    data_batches = [
        json.loads(p.json) for p in query.recentProgress
        if json.loads(p.json)["numInputRows"] > 0
    ]
    assert len(data_batches) == len(files)
    for (_, rows), progress in list(zip(files, data_batches))[2:]:
        keys_with_rows = len({r[0] for r in rows})
        assert progress["stateOperators"][0]["numRowsUpdated"] <= keys_with_rows

    # the sentinel's own row stays ahead of the final watermark
    stream = {
        (r.user, r.t): r.life_sum
        for r in client.spark.sql("SELECT * FROM wake_out").collect()
    }
    batch_view = client.build_features([make_view("wake_batch_view")])[0]
    batch = {
        (r["user"], r["t"]): r["life_sum"]
        for _, r in client.get_features(batch_view).to_pandas().iterrows()
        if r["user"] != "zed"
    }
    assert len(stream) == sum(len(rows) for _, rows in files) - 1
    assert stream == batch


def _restart_stream(client, op, d, right_d, tag):
    """The streaming DataFrame of ``op`` over the event files in ``d`` (and
    the as-of join's right-side files in ``right_d``)."""
    from pyspark.sql import functions as F

    from feathub_spark.feature_views.transforms import OverWindowTransform
    from feathub_spark.streaming.stateful_funnel import stateful_funnel
    from feathub_spark.streaming.stateful_scd2 import stateful_scd2

    if op in ("scd2", "funnel"):
        raw = (
            client.spark.readStream.schema("user string, tp string, v double, t long")
            .option("maxFilesPerTrigger", "1").parquet(d)
            .withColumn("__ts__", F.timestamp_seconds(F.col("t")))
            .withWatermark("__ts__", "1 second")
        )
        if op == "scd2":
            return stateful_scd2(raw, "user", "tp", event_time_col="__ts__")
        return stateful_funnel(
            raw, "user", "tp", ["view", "click", "buy"], event_time_col="__ts__"
        )
    source = _epoch_source(f"rs_{op}_{tag}", d, ["user", "tp", "v", "t"], ["user"])
    descriptors = [source]
    if op == "sliding":
        view = SlidingFeatureView(
            name=f"rs_view_{op}_{tag}",
            source=source,
            features=[
                Feature(
                    f"v_{agg.lower()}",
                    transform=SlidingWindowTransform(
                        "v", agg, window_size=timedelta(seconds=w),
                        step_size=timedelta(seconds=50), group_by_keys=["user"],
                    ),
                )
                for agg, w in (("SUM", 100), ("COUNT", 300), ("MAX", 100))
            ],
        )
    elif op == "over":
        view = DerivedFeatureView(
            name=f"rs_view_{op}_{tag}",
            source=source,
            features=[
                Feature(
                    "v_sum",
                    transform=OverWindowTransform(
                        "v", "SUM", window_size=timedelta(seconds=200),
                        group_by_keys=["user"],
                    ),
                )
            ],
            keep_source_fields=True,
        )
    else:
        right = _epoch_source(f"rs_right_{tag}", right_d, ["user", "rv", "t"], ["user"])
        descriptors.append(right)
        view = DerivedFeatureView(
            name=f"rs_view_{op}_{tag}", source=source,
            features=[f"{right.name}.rv"], keep_source_fields=True,
        )
    view = client.build_features(descriptors + [view])[-1]
    return client.processor.get_stream_dataframe(view)


def _run_checkpointed(df, ckpt):
    """Drain ``df`` with availableNow on checkpoint ``ckpt``; returns the
    emitted rows as tuples."""
    rows = []
    query = (
        df.writeStream.outputMode("append")
        .foreachBatch(lambda b, _: rows.extend(tuple(r) for r in b.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    assert query.awaitTermination(120)
    assert query.exception() is None
    return rows


@pytest.mark.parametrize("op", ["sliding", "over", "asof", "scd2", "funnel"])
def test_stateful_state_survives_restart(client, tmp_path, op):
    """A stateful stream stopped after its first files and restarted on the
    same checkpoint once more files arrive emits exactly the rows of one
    uninterrupted run over all the files."""
    import random

    rnd = random.Random(7)
    files, right_files = [], []
    for i in range(3):
        rows = [
            (f"u{rnd.randrange(8)}", rnd.choice(["view", "click", "buy"]),
             float(rnd.randrange(100)), i * 250 + j * 10)
            for j in range(20)
        ]
        right = [(f"u{rnd.randrange(8)}", rnd.randrange(50), i * 250 + j * 40) for j in range(6)]
        if i == 2:
            rows.append(("zz", "view", 0.0, 100_000))
            right.append(("zz", 0, 100_000))
        files.append((f"e_{i}", rows))
        right_files.append((f"r_{i}", right))

    root = str(tmp_path)
    cols, right_cols = ["user", "tp", "v", "t"], ["user", "rv", "t"]
    dirs = {tag: (os.path.join(root, f"in_{tag}"), os.path.join(root, f"right_{tag}"))
            for tag in ("whole", "split")}
    ckpt = os.path.join(root, "ck_split")
    _write_event_files(dirs["whole"][0], files, cols)
    _write_event_files(dirs["whole"][1], right_files, right_cols)
    whole = _run_checkpointed(
        _restart_stream(client, op, *dirs["whole"], "whole"),
        os.path.join(root, "ck_whole"),
    )
    _write_event_files(dirs["split"][0], files[:2], cols)
    _write_event_files(dirs["split"][1], right_files[:2], right_cols)
    first = _run_checkpointed(_restart_stream(client, op, *dirs["split"], "split"), ckpt)
    _write_event_files(dirs["split"][0], files[2:], cols)
    _write_event_files(dirs["split"][1], right_files[2:], right_cols)
    second = _run_checkpointed(_restart_stream(client, op, *dirs["split"], "split"), ckpt)

    assert len(first) > 0 and len(second) > 0
    assert sorted(map(repr, first + second)) == sorted(map(repr, whole))


def _multi_size_view(source, name, step_s=50, windows=None):
    """A multi-size sliding view with no emission flags over ``v``/``tp``
    (``_epoch_source`` columns): every aggregation the native path lowers,
    filtered FIRST/LAST/COUNT, one step shared by every size."""
    windows = windows or {"s": 1, "a": 2, "mn": 1, "mx": 3, "c": 2, "fv": 1,
                          "lv": 3, "cl": 2, "n": 4}
    spec = {
        "s": ("v", "SUM", None), "a": ("v", "AVG", None),
        "mn": ("v", "MIN", None), "mx": ("v", "MAX", None),
        "c": ("v", "COUNT", "tp = 'click'"), "fv": ("v", "FIRST_VALUE", "v > 30"),
        "lv": ("v", "LAST_VALUE", "tp <> 'buy'"), "cl": ("v", "COLLECT_LIST", None),
        "n": ("v", "COUNT", None),
    }
    return SlidingFeatureView(
        name=name,
        source=source,
        features=[
            Feature(
                f_,
                transform=SlidingWindowTransform(
                    spec[f_][0], spec[f_][1],
                    window_size=timedelta(seconds=steps * step_s),
                    step_size=timedelta(seconds=step_s),
                    group_by_keys=["user"], filter_expr=spec[f_][2],
                ),
            )
            for f_, steps in windows.items()
        ],
        enable_empty_window_output=False,
        skip_same_window_output=False,
    )


def _raw_epoch_stream(spark, d):
    """The event files of ``d`` as a watermarked stream carrying the
    engine's event-time column, for calling a stateful operator directly."""
    from pyspark.sql import functions as F

    from feathub_spark.processors.spark.constants import EVENT_TIME_COL

    return (
        spark.readStream.schema("user string, tp string, v double, t long")
        .option("maxFilesPerTrigger", "1").parquet(d)
        .withColumn(EVENT_TIME_COL, F.timestamp_seconds(F.col("t")))
        .withWatermark(EVENT_TIME_COL, "1 millisecond")
    )


def _multi_size_files(seed):
    """Three files of keyed rows in event-time order with unique times
    (FIRST/LAST and COLLECT_LIST are then order-deterministic), some NULL
    values, and a sentinel key in the last file far past every window."""
    import random

    rnd = random.Random(seed)
    times = sorted(rnd.sample(range(1, 1500), 90))
    files = []
    for i in range(3):
        rows = [
            (f"u{rnd.randrange(5)}", rnd.choice(["view", "click", "buy"]),
             None if rnd.random() < 0.1 else float(rnd.randrange(100)), t)
            for t in times[i * 30:(i + 1) * 30]
        ]
        if i == 2:
            rows.append(("zz", "view", 0.0, 100_000))
        files.append((f"e_{i}", rows))
    return files


def _plan(df):
    return df._jdf.queryExecution().logical().toString()


def test_native_multi_size_sliding_equals_stateful_and_batch(client, tmp_path):
    """A multi-size view without emission flags runs as one native windowed
    aggregation, and emits exactly the rows of the stateful operator on the
    same input and of the batch evaluator: no window missing, none extra."""
    import math

    from feathub_spark.processors.spark.constants import WINDOW_TIME_MS_COL
    from feathub_spark.streaming.stateful_sliding import stateful_sliding_window

    d = os.path.join(str(tmp_path), "ms_in")
    cols = ["user", "tp", "v", "t"]
    _write_event_files(d, _multi_size_files(11), cols)
    source = _epoch_source("ms_src", d, cols, ["user"])
    view = client.build_features([source, _multi_size_view(source, "ms_view")])[1]
    names = [f_.name for f_ in view.sliding_features()]

    def norm(x):
        if isinstance(x, float):
            return None if math.isnan(x) else round(x, 9)
        if isinstance(x, (list, tuple)) or hasattr(x, "tolist"):
            return tuple(norm(e) for e in list(x))
        return x

    def keyed(rows, time_col):
        return {
            (r["user"], r[time_col]): tuple(norm(r[n]) for n in names)
            for r in rows
            if r["user"] != "zz"
        }

    def emitted(df, ckpt, time_col):
        rows = _run_checkpointed(df, str(tmp_path / ckpt))
        return keyed([dict(zip(df.columns, r)) for r in rows], time_col)

    native_df = client.processor.get_stream_dataframe(view)
    assert "FlatMapGroupsInPandasWithState" not in _plan(native_df)
    stateful_df = stateful_sliding_window(_raw_epoch_stream(client.spark, d), view)
    assert "FlatMapGroupsInPandasWithState" in _plan(stateful_df)
    native = emitted(native_df, "ck_native", "window_time")
    stateful = emitted(stateful_df, "ck_stateful", WINDOW_TIME_MS_COL)
    batch_view = client.build_features([_multi_size_view(source, "ms_batch")])[0]
    batch = keyed(
        client.get_features(batch_view).to_pandas().to_dict("records"), "window_time"
    )
    assert len(native) > 50
    assert native == stateful
    assert native == batch


def test_multi_size_sliding_plans_stateful_above_step_bound(client, tmp_path):
    """A multi-size view whose largest window spans more steps than the
    native bound plans the stateful operator; one at the bound, and a
    single-size view of any length, run natively."""
    from feathub_spark.streaming.stream_builder import (
        _NATIVE_MULTI_SIZE_MAX_STEPS as bound,
    )

    d = os.path.join(str(tmp_path), "bound_in")
    cols = ["user", "tp", "v", "t"]
    _write_event_files(d, [("e_0", [("u0", "view", 1.0, 1)])], cols)
    source = client.build_features([_epoch_source("bound_src", d, cols, ["user"])])[0]
    cases = {
        "above": ({"s": 1, "n": bound + 1}, True),
        "at": ({"s": 1, "n": bound}, False),
        "single": ({"n": bound + 1}, False),
    }
    for tag, (windows, stateful) in cases.items():
        view = client.build_features(
            [_multi_size_view(source, f"bound_{tag}", windows=windows)]
        )[0]
        plan = _plan(client.processor.get_stream_dataframe(view))
        assert ("FlatMapGroupsInPandasWithState" in plan) == stateful, tag


@pytest.mark.parametrize("multi", [False, True])
def test_streaming_collect_list_over_maps_matches_batch(client, tmp_path, multi):
    """COLLECT_LIST over a map-typed value (unorderable: its pairs sort on
    time alone) on the batch path and on the native stream path, with one
    window size and with a second, larger one."""
    from feathub_spark.common.types import MapType, VectorType

    source = _stream_source(tmp_path, f"map_list_src_{int(multi)}")
    with open(os.path.join(source.path, "part_sentinel.csv"), "w") as f:
        f.write("name,cost,distance,time\n")
        f.write("Zed,1,1,2022-01-20 00:00:00\n")

    def make_view(name):
        features = [
            Feature(
                "costs",
                transform=SlidingWindowTransform(
                    "MAP('c', cost)", "COLLECT_LIST",
                    window_size=timedelta(days=1), step_size=timedelta(days=1),
                    group_by_keys=["name"],
                ),
                dtype=VectorType(MapType(String, Int64)),
            )
        ]
        if multi:
            features.append(Feature(
                "cnt_7d",
                transform=SlidingWindowTransform(
                    "cost", "COUNT", window_size=timedelta(days=7),
                    step_size=timedelta(days=1), group_by_keys=["name"],
                ),
            ))
        return SlidingFeatureView(
            name=name, source=source, features=features,
            enable_empty_window_output=False, skip_same_window_output=False,
        )

    def norm(v):
        return None if v is None else tuple(tuple(dict(m).items()) for m in v)

    def keyed(rows):
        return {
            (r["name"], r["window_time"]): (norm(r["costs"]), r.get("cnt_7d"))
            for r in rows
            if r["name"] != "Zed"
        }

    stream_view = client.build_features([source, make_view(f"map_list_{int(multi)}")])[1]
    out = _run_to_memory(
        client.spark, client.processor, stream_view, f"map_list_out_{int(multi)}"
    )
    stream = keyed([r.asDict() for r in out.collect()])
    batch_view = client.build_features([make_view(f"map_list_batch_{int(multi)}")])[0]
    batch = keyed(client.get_features(batch_view).to_pandas().to_dict("records"))
    assert batch[("Alex", 1641081600000 - 1)][0] == ((("c", 100),),)
    assert len(stream) == (24 if multi else 6)
    assert stream == batch


def test_stateful_sliding_checkpoint_refused_by_native_plan(client, tmp_path):
    """A multi-size view checkpointed by the stateful operator, the path
    such views took before they ran natively, is refused when the native
    plan resumes it: Spark checks the operator name in the checkpoint's
    state metadata at start, and the resumed query emits nothing."""
    from pyspark.errors import StreamingQueryException

    from feathub_spark.streaming.stateful_sliding import stateful_sliding_window

    d = os.path.join(str(tmp_path), "refuse_in")
    cols = ["user", "tp", "v", "t"]
    files = _multi_size_files(5)
    _write_event_files(d, files[:2], cols)
    source = _epoch_source("refuse_src", d, cols, ["user"])
    view = client.build_features([source, _multi_size_view(source, "refuse_view")])[1]
    ckpt = str(tmp_path / "ck")
    stateful = stateful_sliding_window(_raw_epoch_stream(client.spark, d), view)
    assert len(_run_checkpointed(stateful, ckpt)) > 0

    _write_event_files(d, files[2:], cols)
    rows = []
    query = (
        client.processor.get_stream_dataframe(view)
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _: rows.extend(b.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    with pytest.raises(
        StreamingQueryException,
        match="STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA",
    ):
        query.awaitTermination(120)
    assert rows == []


def test_default_session_runs_one_state_partition_per_core(client, tmp_path):
    """A stream on the default session keeps one state partition per core,
    on the native windowed aggregation and on applyInPandasWithState, while
    a batch exchange still starts 32 wide."""
    from pyspark.sql import functions as F

    from feathub_spark.feature_views.transforms import OverWindowTransform

    spark = client.spark
    cores = int(spark.sparkContext.master.strip("local[]"))
    assert cores == spark.sparkContext.defaultParallelism
    want = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS") or cores)
    source = _stream_source(tmp_path, "width_src")
    window = SlidingWindowTransform(
        "cost", "SUM", window_size=timedelta(days=2), step_size=timedelta(days=1),
        group_by_keys=["name"],
    )
    views = {
        "stateStoreSave": SlidingFeatureView(
            name="width_native", source=source,
            features=[Feature("total_cost", transform=window)],
            enable_empty_window_output=False, skip_same_window_output=False,
        ),
        "applyInPandasWithState": DerivedFeatureView(
            name="width_stateful", source=source,
            features=[Feature("cnt", transform=OverWindowTransform(
                "cost", "COUNT", group_by_keys=["name"], limit=2))],
            keep_source_fields=True,
        ),
    }
    client.build_features([source, *views.values()])
    for operator, view in views.items():
        query = (
            client.processor.get_stream_dataframe(view).writeStream
            .outputMode("append").format("memory").queryName(view.name)
            .trigger(availableNow=True).start()
        )
        assert query.awaitTermination(120)
        state = [
            op for p in query.recentProgress
            for op in json.loads(p.json)["stateOperators"]
        ]
        assert state and {op["operatorName"] for op in state} == {operator}
        assert {op["numShufflePartitions"] for op in state} == {want}

    width = os.environ.get("SPARK_SHUFFLE_PARTITIONS") or "32"
    ids = spark.range(100).withColumn("k", F.col("id") % 7)
    for batch in (ids.groupBy("k").count(), ids.repartition("k")):
        plan = spark._jvm.PythonSQLUtils.explainString(
            batch._jdf.queryExecution(), "simple"
        )
        assert re.search(rf"Exchange hashpartitioning\(k#\d+L, {width}\)", plan), plan
