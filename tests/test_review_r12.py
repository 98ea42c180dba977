"""Round-12 review fixes (ADVICE.md r11): ndarray-safe online-store codec,
protobuf writer master fallback, SequenceField span check.  The checkpoint
identity tests live in test_streaming.py; the serving backtick and
memory-vs-SQL store parity tests in test_online_store.py."""

import numpy as np
import pytest

from feathub_spark.common.exceptions import FeathubError


class TestPyNdarray:
    def test_ndarray_becomes_list(self):
        from feathub_spark.online_stores.sql_online_store import _py

        assert _py(np.array([1, 2, 3])) == [1, 2, 3]

    def test_size_one_ndarray_stays_list(self):
        from feathub_spark.online_stores.sql_online_store import _py

        assert _py(np.array([5])) == [5]

    def test_zero_d_and_scalars_unwrap(self):
        from feathub_spark.online_stores.sql_online_store import _py

        assert _py(np.int64(7)) == 7
        assert _py(np.array(7)) == 7
        assert _py(np.float64(1.5)) == 1.5

    def test_encode_field_array_roundtrip(self):
        from feathub_spark.online_stores.redis_client import (
            decode_field,
            encode_field,
        )

        raw = encode_field(np.array([1.0, 2.5]))
        assert decode_field(raw) == [1.0, 2.5]
        raw = encode_field(np.array([5]))
        assert decode_field(raw) == [5]  # '[5]', never the scalar '5'


class TestSequenceFieldSpan:
    def test_end_before_start_rejected(self):
        from feathub_spark.feature_tables.sources.datagen_source import (
            SequenceField,
        )

        with pytest.raises(FeathubError, match="end >= start"):
            SequenceField(start=10, end=5)

    def test_single_value_span_ok(self):
        from feathub_spark.feature_tables.sources.datagen_source import (
            SequenceField,
        )

        f = SequenceField(start=3, end=3)
        assert (f.start, f.end) == (3, 3)


class TestProtobufMasterFallback:
    def test_blank_conf_falls_back_to_context(self, spark):
        # Simulate a session whose conf lookup misses: the writer should
        # consult sparkContext.master before rejecting a local write.
        import feathub_spark.processors.spark.protobuf_io as pio

        class FakeConf:
            def get(self, key, default=""):
                return default

        class FakeSession:
            conf = FakeConf()
            sparkContext = spark.sparkContext

        class FakeDF:
            sparkSession = FakeSession()

        # Drive only the master-resolution prologue: a URI-schemed path
        # raises BEFORE the master check, a local path passes the check
        # and fails later on schema introspection of our fake.
        from feathub_spark.common.exceptions import PlanError

        with pytest.raises(PlanError, match="cannot target"):
            pio.write_protobuf_files(FakeDF(), "s3://bucket/x")
        with pytest.raises(Exception) as ei:
            pio.write_protobuf_files(FakeDF(), "/tmp/feathub_r12_pb_probe")
        assert "requires a local" not in str(ei.value)


class TestNullTimestampUpsert:
    """A row with no event time must never beat a timestamped one
    (found by round-12 review: pandas sorts NaN last, so a NULL-ts row
    won MemoryOnlineStore's keep='last' dedupe; SqlOnlineStore's
    ts-comparison guard was False for None/NaN and overwrote too)."""

    def test_sql_store_null_ts_never_wins(self):
        import sqlite3

        import pandas as pd

        from feathub_spark.online_stores.sql_online_store import SqlOnlineStore

        conn = sqlite3.connect(":memory:")
        s = SqlOnlineStore(lambda: conn)
        s.put("t", pd.DataFrame({"k": [1], "v": [10.0], "ts": [100.0]}),
              ["k"], "ts")
        s.put("t", pd.DataFrame({"k": [1], "v": [99.0],
                                 "ts": [float("nan")]}), ["k"], "ts")
        got = s.get("t", pd.DataFrame({"k": [1]}))
        assert got["v"].tolist() == [10.0]
        # timestamped beats stored-untimestamped, and later ts beats earlier
        s.put("t2", pd.DataFrame({"k": [1], "v": [1.0],
                                  "ts": [float("nan")]}), ["k"], "ts")
        s.put("t2", pd.DataFrame({"k": [1], "v": [2.0], "ts": [50.0]}),
              ["k"], "ts")
        assert s.get("t2", pd.DataFrame({"k": [1]}))["v"].tolist() == [2.0]


class TestFileSinkPartitionBy:
    def test_partitioned_write_prunes_and_roundtrips(self, spark, tmp_path):
        import os

        from feathub_spark.feature_tables.sinks.file_system_sink import (
            FileSystemSink,
        )
        from feathub_spark.processors.spark.source_sink_utils import (
            insert_into_sink,
        )

        df = spark.createDataFrame(
            [(1, "2024-01-01", 5.0), (2, "2024-01-02", 6.0),
             (3, "2024-01-02", 7.0)],
            "id long, day string, v double",
        )
        out = str(tmp_path / "part_out")
        insert_into_sink(
            df,
            FileSystemSink(path=out, data_format="parquet",
                           partition_by=["day"]),
            None,
        )
        # directory layout: one subdir per partition value
        subdirs = sorted(
            d for d in os.listdir(out) if d.startswith("day=")
        )
        assert subdirs == ["day=2024-01-01", "day=2024-01-02"]
        back = spark.read.parquet(out)
        assert back.count() == 3
        # a filter on the partition column prunes at the scan
        plan = (
            back.filter("day = '2024-01-02'")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters" in plan and back.filter(
            "day = '2024-01-02'").count() == 2

    def test_format_props_reach_writer(self, spark, tmp_path):
        import os

        from feathub_spark.feature_tables.sinks.file_system_sink import (
            FileSystemSink,
        )
        from feathub_spark.processors.spark.source_sink_utils import (
            insert_into_sink,
        )

        df = spark.createDataFrame([(1, 5.0)], "id long, v double")
        out = str(tmp_path / "gz_out")
        insert_into_sink(
            df,
            FileSystemSink(path=out, data_format="parquet",
                           data_format_props={"compression": "gzip"}),
            None,
        )
        files = [f for f in os.listdir(out) if f.endswith(".parquet")]
        assert files and all(".gz." in f for f in files)

    def test_partition_bucket_overlap_rejected(self):
        import pytest as _pytest

        from feathub_spark.common.exceptions import FeathubError
        from feathub_spark.feature_tables.sinks.file_system_sink import (
            FileSystemSink,
        )

        with _pytest.raises(FeathubError, match="overlap"):
            FileSystemSink(
                path="/tmp/x", data_format="parquet",
                partition_by=["k"], bucket_by=["k"], n_buckets=4,
                table_name="t",
            )


class TestAsofTieDeterminism:
    """Duplicate (key, ts) right rows: the max payload struct must win,
    independent of partition layout (found by round-12 probing: the
    winner flipped between 13.0 and 5.0 across core/partition counts)."""

    def _frames(self, spark, n_right_parts):
        left = spark.createDataFrame([("u", 100)], "user string, ts long")
        rows = [("u", float(i), 50) for i in range(20)]
        right = spark.createDataFrame(
            rows, "user string, score double, ts long"
        ).repartition(n_right_parts)
        return left, right

    def _join(self, spark, left, right, **kw):
        from pyspark.sql import functions as F

        from feathub_spark.processors.spark.constants import EVENT_TIME_COL
        from feathub_spark.processors.spark.join_utils import temporal_join

        l2 = left.withColumn(
            EVENT_TIME_COL, F.timestamp_seconds(F.col("ts"))
        )
        r2 = right.withColumn(
            EVENT_TIME_COL, F.timestamp_seconds(F.col("ts"))
        )
        return temporal_join(l2, r2, ["user"], {"score": "score"}, **kw)

    def test_max_payload_wins_across_layouts(self, spark):
        winners = set()
        for parts in (1, 3, 13):
            left, right = self._frames(spark, parts)
            got = self._join(spark, left, right).select("score").first()
            winners.add(got["score"])
        assert winners == {19.0}  # max payload, every layout

    def test_chunked_plan_agrees(self, spark):
        left, right = self._frames(spark, 7)
        got = self._join(
            spark, left, right, salt_chunk_ms=10_000
        ).select("score").first()
        assert got["score"] == 19.0
