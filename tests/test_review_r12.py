"""Round-12 review fixes (ADVICE.md r11): ndarray-safe online-store codec,
checkpoint identity folded into the named-query digest + file-sink liveness
registration, protobuf writer master fallback, SequenceField span check."""

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


class TestServingBacktickLiteral:
    def test_backtick_inside_literal_survives(self):
        import pandas as pd

        from feathub_spark import Feature, OnDemandFeatureView, Schema
        from feathub_spark.common import types as t
        from feathub_spark.feature_service.local_feature_service import (
            LocalFeatureService,
            _backticks_to_ansi,
        )

        assert _backticks_to_ansi("CONCAT(`name`, 'x`y')") == (
            'CONCAT("name", \'x`y\')'
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
