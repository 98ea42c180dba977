"""Z-order layout: Morton interleave vs a pure-Python reference, the
locality property that makes min/max skipping work, and the plan shape
(one range exchange + local sort); compact_files keeping a Hive partition
layout and its on-disk value spelling."""

import os
import random

import pytest

from pyspark.sql import functions as F

from feathub_spark.datapipe.layout import (
    zorder_bit_interleave_sql,
    zorder_key,
    zorder_layout,
)


def _ref_morton(vals, bits):
    z = 0
    n = len(vals)
    for j in range(bits):
        for i, v in enumerate(vals):
            z += ((v >> j) & 1) << (n * j + i)
    return z


def _ref_scale(v, lo, hi, bits):
    if v is None or hi == lo:
        return 0
    import math

    return int(math.floor((float(v) - lo) * ((1 << bits) - 1) / (hi - lo)))


def test_zorder_key_matches_reference(spark):
    rnd = random.Random(5)
    rows = [(i, rnd.randrange(0, 1000), rnd.uniform(-50.0, 50.0))
            for i in range(200)]
    rows.append((200, None, 3.0))  # NULL lands in bucket 0
    df = spark.createDataFrame(rows, "id long, x long, y double")
    bits = 8
    got = {r["id"]: r["zorder_key"]
           for r in zorder_key(df, ["x", "y"], bits=bits).collect()}
    xs = [x for _, x, _ in rows if x is not None]
    ys = [y for _, _, y in rows]
    lo_x, hi_x, lo_y, hi_y = min(xs), max(xs), min(ys), max(ys)
    for i, x, y in rows:
        sx = _ref_scale(x, lo_x, hi_x, bits)
        sy = _ref_scale(y, lo_y, hi_y, bits)
        assert got[i] == _ref_morton([sx, sy], bits), (i, x, y)


def test_zorder_exact_grid_order():
    """bits=2, 2 cols: the interleave must enumerate the classic 4x4
    Morton 'Z' pattern exactly."""
    # (x, y) -> z for the canonical curve with x in the low bit
    expect = {(x, y): _ref_morton([x, y], 2) for x in range(4) for y in range(4)}
    assert expect[(0, 0)] == 0 and expect[(1, 0)] == 1
    assert expect[(0, 1)] == 2 and expect[(1, 1)] == 3
    assert expect[(3, 3)] == 15


def test_zorder_layout_locality(spark):
    """Partition bounding boxes under the z-layout must cover far less
    area than partitions of a random layout (the property min/max
    skipping depends on)."""
    rnd = random.Random(7)
    rows = [(i, rnd.randrange(0, 1 << 16), rnd.randrange(0, 1 << 16))
            for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    out = zorder_layout(df, ["x", "y"], num_partitions=8)

    boxes = (
        out.withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .agg(
            (F.max("x") - F.min("x")).alias("dx"),
            (F.max("y") - F.min("y")).alias("dy"),
        )
        .collect()
    )
    total = float((1 << 16) ** 2)
    covered = sum(float(r["dx"] * r["dy"]) for r in boxes)
    # 8 random partitions each cover ~the whole square (8x total); a
    # z-layout's per-partition boxes must sum to far less
    assert covered < 0.5 * len(boxes) * total
    # rows survive intact
    assert out.count() == 4000


def test_zorder_layout_plan_single_range_exchange(spark):
    import io
    from contextlib import redirect_stdout

    df = spark.range(100).select(
        F.col("id").alias("x"), (F.col("id") * 7 % 100).alias("y")
    )
    out = zorder_layout(df, ["x", "y"], num_partitions=4)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "rangepartitioning" in plan.lower()
    assert plan.count("Sort ") >= 1
    # the stats row attaches via broadcast, never a shuffle join
    assert "SortMergeJoin" not in plan


def test_zorder_bit_budget_guard():
    with pytest.raises(ValueError, match="42-bit"):
        zorder_bit_interleave_sql(["a", "b", "c"], 16)


class TestCompactFiles:
    def test_compacts_small_files(self, spark, tmp_path):
        from feathub_spark.datapipe.layout import compact_files

        out = str(tmp_path / "many")
        # 64 tiny files
        spark.range(10_000).selectExpr(
            "id", "id * 2 AS v"
        ).repartition(64).write.parquet(out)
        import os

        n_before = len([f for f in os.listdir(out) if f.endswith(".parquet")])
        assert n_before >= 32
        stats = compact_files(spark, out, target_mb=256)
        assert stats["files_before"] == n_before
        assert stats["files_after"] == 1  # tiny table -> one file
        back = spark.read.parquet(out)
        assert back.count() == 10_000
        assert back.selectExpr("sum(v)").first()[0] == sum(
            i * 2 for i in range(10_000))

    def test_sort_by_clusters(self, spark, tmp_path):
        from feathub_spark.datapipe.layout import compact_files

        out = str(tmp_path / "clustered")
        spark.range(1000).selectExpr("id % 97 AS k", "id AS v") \
            .repartition(16).write.parquet(out)
        stats = compact_files(spark, out, target_mb=256, sort_by="k")
        assert stats["files_after"] >= 1
        assert spark.read.parquet(out).count() == 1000

    def test_uri_scheme_rejected(self, spark):
        import pytest as _pytest

        from feathub_spark.datapipe.layout import compact_files

        with _pytest.raises(ValueError, match="cannot target"):
            compact_files(spark, "s3://bucket/table")


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
