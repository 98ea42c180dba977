"""Round-13 review fixes (ADVICE.md r12): backslash-escape-aware
backtick rewriting for the serving-path DuckDB dialect bridge,
partition-layout-preserving compact_files, case-insensitive JDBC bounds
probe.  The legacy checkpoint migration and streaming as-of tie encoding
tests live in test_streaming.py; the serving-path backtick tests in
test_online_store.py."""

import os

import pytest


class TestBackticksToAnsi:
    def test_backslash_escaped_quote_becomes_doubled(self):
        from feathub_spark.feature_service.local_feature_service import (
            _backticks_to_ansi,
        )

        # ast.py emits \' — after the literal ends, backticks must still
        # convert (the old scanner desynced at the escaped quote)
        out = _backticks_to_ansi("CONCAT('it\\'s', `name`)")
        assert out == 'CONCAT(\'it\'\'s\', "name")'

    def test_backslash_backslash_collapses(self):
        from feathub_spark.feature_service.local_feature_service import (
            _backticks_to_ansi,
        )

        assert _backticks_to_ansi("'a\\\\b'") == "'a\\b'"

    def test_doubled_quote_style_still_scans(self):
        from feathub_spark.feature_service.local_feature_service import (
            _backticks_to_ansi,
        )

        assert _backticks_to_ansi("'it''s' || `c`") == "'it''s' || \"c\""

class TestCompactFilesPartitioned:
    def test_hive_layout_preserved(self, spark, tmp_path):
        from feathub_spark.datapipe.layout import compact_files

        src = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(i, f"{i % 2:02d}", float(i)) for i in range(200)],
            "id bigint, day string, v double",
        )
        # many small files per partition: 8 shuffle partitions x 2 values
        df.repartition(8).write.partitionBy("day").parquet(src)
        before_dirs = sorted(
            d for d in os.listdir(src) if d.startswith("day=")
        )
        assert before_dirs == ["day=00", "day=01"]  # zero-padded on disk

        stats = compact_files(spark, src, target_mb=256)
        after_dirs = sorted(d for d in os.listdir(src) if d.startswith("day="))
        # the layout survives AND the values keep their exact on-disk
        # spelling (inference would have coerced day=01 -> day=1)
        assert after_dirs == ["day=00", "day=01"]
        assert stats["partition_columns"] == ["day"]
        assert stats["files_after"] < stats["files_before"]

        # read back with inference off to see the on-disk strings (a
        # default read applies Spark's OWN value inference — that's
        # reader semantics, not the compactor's; the directory layout
        # above is what the compactor must not destroy)
        key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            back = spark.read.parquet(src)
            assert back.count() == 200
            assert sorted(
                r["day"] for r in back.select("day").distinct().collect()
            ) == ["00", "01"]
            # pruning still works on the compacted table
            assert back.filter("day = '01'").count() == 100
        finally:
            spark.conf.set(key, prev)

    def test_flat_layout_unchanged_behavior(self, spark, tmp_path):
        from feathub_spark.datapipe.layout import compact_files

        src = str(tmp_path / "flat")
        spark.range(100).repartition(10).write.parquet(src)
        stats = compact_files(spark, src, target_mb=256)
        assert stats["partition_columns"] == []
        assert stats["files_after"] < stats["files_before"]
        assert spark.read.parquet(src).count() == 100

    def test_inference_conf_restored(self, spark, tmp_path):
        from feathub_spark.datapipe.layout import compact_files

        key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = spark.conf.get(key)
        src = str(tmp_path / "tbl2")
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id bigint, p string"
        ).write.partitionBy("p").parquet(src)
        compact_files(spark, src)
        assert spark.conf.get(key) == prev


class TestJdbcBoundsCaseFolding:
    def test_uppercase_stored_column_lowercase_descriptor(self, spark, tmp_path):
        from feathub_spark import Schema
        from feathub_spark.common import types as t
        from feathub_spark.feature_tables.sources.connector_sources import (
            JdbcSource,
        )
        from feathub_spark.processors.spark.source_sink_utils import (
            get_source_dataframe,
        )

        driver = "org.apache.derby.jdbc.EmbeddedDriver"
        db = str(tmp_path / "derby_case_db")
        url = f"jdbc:derby:{db};create=true"
        # create the table with an UNQUOTED column -> Derby stores it
        # uppercase (K); the descriptor asks for lowercase "k"
        seed = spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "K bigint, V double"
        )
        try:
            seed.write.format("jdbc").option("url", url).option(
                "driver", driver
            ).option("dbtable", "CASETBL").mode("overwrite").save()
        except Exception as e:  # pragma: no cover - driver missing
            pytest.skip(f"derby unavailable: {e}")

        src = JdbcSource(
            name="case_src",
            url=url,
            table="CASETBL",
            driver=driver,
            schema=Schema(["k", "v"], [t.Int64, t.Float64]),
            partition_column="k",
            num_partitions=3,
        )
        df = get_source_dataframe(spark, src)
        assert df.count() == 10
        assert df.rdd.getNumPartitions() == 3
