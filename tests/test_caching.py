"""The caller-controlled persistence contract (common/caching.py): datapipe
operators persist shared intermediates only through register_cache, and a
release_caches() call after the consuming action leaves ZERO residual
cached plans — composed multi-operator pipelines must not accumulate
executor storage (round-6 verdict flag)."""

import subprocess

from pyspark.sql import functions as F

from feathub_spark.common.caching import register_cache, release_caches


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_composed_pipeline_leaves_no_residual_caches(spark):
    from feathub_spark.datapipe.passages import dup_passage_stats
    from feathub_spark.datapipe.quality import bigram_surprisal, token_surprisal

    release_caches()
    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(i, f"shared prefix line number {i % 3} with trailing words "
              f"and some unique tail {i}") for i in range(40)],
        "doc_id long, text string",
    )
    # token_surprisal shares its exploded stream through ONE reused hash
    # exchange instead of a persist (r15) — it must register NOTHING
    surp = token_surprisal(docs, "text", "doc_id")
    assert surp.count() == 40
    assert release_caches() == 0 and _cache_manager_empty(spark), (
        "token_surprisal must not persist anything (shuffle-reuse shape)"
    )
    # two operators that do persist bounded shared intermediates
    stats = dup_passage_stats(docs, "text", "doc_id", gram_len=5, window=3)
    bi = bigram_surprisal(docs, "text", "doc_id")
    assert stats.count() == 40
    assert bi.count() == 40
    assert not _cache_manager_empty(spark), (
        "operators should have registered persisted intermediates"
    )
    assert release_caches() >= 2
    assert _cache_manager_empty(spark), "residual cached plans after release"


def test_register_cache_tracks_and_releases(spark):
    release_caches()
    df = register_cache(spark.range(100).withColumn("x", F.col("id") * 2))
    assert df.count() == 100
    assert df.storageLevel.useMemory
    assert release_caches() == 1
    assert not df.storageLevel.useMemory or _cache_manager_empty(spark)


def _cached_rdd_ids(spark):
    return {
        i.id()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def test_track_checkpoint_release_actually_frees_blocks(spark):
    """Dataset.unpersist() is a silent no-op for localCheckpoint frames
    (their RDD is cached outside the SQL cacheManager), so the release
    path must go through SparkContext.unpersistRDD by id — assert on the
    RDD storage info, the thing that actually leaks."""
    from feathub_spark.common.caching import track_checkpoint

    release_caches()
    before = _cached_rdd_ids(spark)
    df = track_checkpoint(
        spark.range(50).withColumn("x", F.col("id") * 2)
        .localCheckpoint(eager=True)
    )
    assert df.count() == 50
    new_ids = _cached_rdd_ids(spark) - before
    assert new_ids, "checkpoint should cache RDD blocks"
    assert release_caches() >= 1
    assert not (_cached_rdd_ids(spark) & new_ids), (
        "checkpoint blocks must be gone after release_caches()"
    )


def test_track_checkpoint_frees_after_handle_dropped(spark):
    """Tracking is by RDD id, not by Python handle — dropping the frame
    without releasing must not orphan its blocks."""
    import gc

    from feathub_spark.common.caching import track_checkpoint

    release_caches()
    before = _cached_rdd_ids(spark)
    df2 = track_checkpoint(spark.range(10).localCheckpoint(eager=True))
    assert df2.count() == 10
    new_ids = _cached_rdd_ids(spark) - before
    assert new_ids
    del df2
    gc.collect()
    assert release_caches() >= 1
    assert not (_cached_rdd_ids(spark) & new_ids)


def test_free_checkpoint_drops_superseded_round(spark):
    """Iterative operators drop round i's checkpoint once round i+1 is
    materialized — free_checkpoint must remove the blocks immediately."""
    from feathub_spark.common.caching import free_checkpoint

    release_caches()
    before = _cached_rdd_ids(spark)
    a = spark.range(20).localCheckpoint(eager=True)
    ids_a = _cached_rdd_ids(spark) - before
    b = a.withColumn("x", F.col("id") + 1).localCheckpoint(eager=True)
    assert b.count() == 20
    assert free_checkpoint(a)
    assert not (_cached_rdd_ids(spark) & ids_a)
    # the successor's blocks are untouched and still serve actions
    assert b.count() == 20
    free_checkpoint(b)


def test_cc_round_probe_materializes_lazy_checkpoint(spark):
    """The CC loops' per-round checkpoints are LAZY; the convergence
    probe is the materializing action (one job and one pass per round
    instead of an eager-materialize job plus a cache-read probe pass).
    Materialize-before-free is correctness-critical, not just fast: the
    loop frees the superseded round right after the probe, and a
    checkpointed frame's lineage is truncated at materialization — a
    partition the probe job somehow skipped would have nothing left to
    recompute from once its parent's blocks are gone.  Pin that when the
    loop returns (no caller action yet) every still-tracked checkpoint
    id already has blocks in RDD storage, for both algorithms — and that
    superseded rounds were freed mid-loop, so after a multi-round
    convergence (the 10-node chain) only the final round is left (label),
    or the input checkpoint plus the final edges (star)."""
    import feathub_spark.common.caching as caching
    from feathub_spark.datapipe.dedup import dedup_clusters

    mixed = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 30, 2)] + [(1, 2), (3, 4)],
        "id_a long, id_b long",
    )
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    for pairs in (mixed, chain):
        expected = None
        for algo, most in (("label", 1), ("star", 2)):
            release_caches()
            spark.catalog.clearCache()
            before = _cached_rdd_ids(spark)
            out = dedup_clusters(pairs, algorithm=algo)
            live = set(caching._CHECKPOINT_IDS)
            assert live, "the loop should leave tracked checkpoints"
            missing = live - _cached_rdd_ids(spark)
            assert not missing, (
                f"{algo}: tracked checkpoint RDDs {missing} not materialized "
                "by the probe job"
            )
            assert len(live) <= most, f"{algo}: superseded rounds still tracked"
            assert len(_cached_rdd_ids(spark) - before) <= most, (
                f"{algo}: superseded rounds still stored"
            )
            got = {r.id: r.cluster_id for r in out.collect()}
            if expected is None:
                expected = got
            assert got == expected
    release_caches()


def test_iterative_operators_leave_no_checkpoint_residue(spark):
    """dedup_clusters (label + star), pagerank and the distributed
    bpe_train loop checkpoint per round; after the caller's action (or a
    non-convergence raise) + release_caches() the RDD storage must be
    back to where it started (the round-10 bench-drift leak)."""
    import pytest

    from feathub_spark.datapipe.bpe import bpe_train
    from feathub_spark.datapipe.dedup import dedup_clusters
    from feathub_spark.datapipe.graph import pagerank

    release_caches()
    spark.catalog.clearCache()
    before = _cached_rdd_ids(spark)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (7, 8)],
        "id_a long, id_b long",
    )
    chain10 = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    chain300 = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [("low lower lowest newer newest wider",)] * 3
        + [("the lowest newer tower",)],
        "text string",
    )

    def unconverged(**kw):
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup_clusters(**kw)

    def bpe_rows():
        merges = bpe_train(docs, "text", n_merges=8, local_vocab_threshold=0)
        # the driver-built merge table never reads the vocabulary, so
        # bpe_train frees its last round before returning
        assert not (_cached_rdd_ids(spark) - before), (
            "bpe_train left its vocabulary stored after returning"
        )
        return merges.count()

    # build each pipeline only after the previous one was released —
    # release_caches() frees EVERY tracked checkpoint, including those of
    # a not-yet-consumed sibling pipeline (the documented strictness)
    for make in (
        lambda: dedup_clusters(pairs).count(),
        lambda: dedup_clusters(pairs, algorithm="star").count(),
        lambda: pagerank(pairs, iterations=3).count(),
        bpe_rows,
        lambda: unconverged(pairs=chain10, max_iterations=2),
        lambda: unconverged(
            pairs=chain300, algorithm="star", max_iterations=1
        ),
    ):
        rows = make()
        # the two unconverged cases raise inside make() and return None
        assert rows is None or rows > 0
        release_caches()
        spark.catalog.clearCache()
        assert not (_cached_rdd_ids(spark) - before), (
            "residual cached RDD blocks after release"
        )


def test_no_bare_persist_in_package():
    """Every .persist( in feathub_spark/ must go through register_cache."""
    out = subprocess.run(
        ["grep", "-rn", r"\.persist(", "feathub_spark/"],
        capture_output=True, text=True, cwd="/root/repo",
    ).stdout
    offenders = [
        line for line in out.splitlines()
        if "common/caching.py" not in line
    ]
    assert not offenders, f"bare persist() outside the contract: {offenders}"


def test_registry_bound_evicts_oldest(spark):
    """Beyond MAX_ACTIVE entries the oldest cache is unpersisted FIFO — a
    never-releasing caller (perpetual foreachBatch loop) gets a hard
    storage ceiling instead of unbounded growth."""
    from feathub_spark.common import caching

    release_caches()
    old_max = caching.MAX_ACTIVE
    caching.MAX_ACTIVE = 3
    try:
        dfs = [register_cache(spark.range(10 + i)) for i in range(5)]
        for df in dfs:
            df.count()
        # only the newest 3 remain persisted
        assert [bool(d.storageLevel.useMemory or d.storageLevel.useDisk)
                for d in dfs] == [False, False, True, True, True]
        assert release_caches() == 3
    finally:
        caching.MAX_ACTIVE = old_max


def test_ensure_parallelism_probe_skip_semantics(spark):
    """The plan-to-RDD probe is skipped ONLY for plans with an
    always-exchanging node; broadcast-able joins, narrow sorts, and
    column names that merely contain node words must still probe (and a
    single-partition broadcast-join plan must still be repartitioned)."""
    from pyspark.sql import Window, functions as F

    from feathub_spark.common.parallelism import (
        _plan_has_full_exchange,
        ensure_parallelism,
    )

    df = spark.createDataFrame([(i, f"t{i}") for i in range(20)], "k long, s string")

    def matches(d):
        return _plan_has_full_exchange(
            d._jdf.queryExecution().analyzed().toString()
        )

    assert matches(df.groupBy("s").count())
    assert matches(df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("s").orderBy("k"))
    ))
    assert matches(df.dropDuplicates(["s"]))
    # count-less expression repartition is sized by shuffle parallelism
    assert matches(df.repartition("s"))
    assert not matches(df)
    assert not matches(df.sortWithinPartitions("k"))
    # GLOBAL aggregate/window plan a SinglePartition exchange and an
    # explicit-count repartition may be tiny — all must still probe
    assert not matches(df.agg(F.sum("k")))
    assert not matches(df.withColumn(
        "rn", F.row_number().over(Window.orderBy("k"))
    ))
    assert not matches(df.repartition(2, "s"))
    # node words inside COLUMN names must not disable the probe
    assert not matches(df.select(
        F.col("k").alias("WindowStart"), F.col("s").alias("JoinKey")
    ))
    # a broadcast join adds no exchange: the 1-partition hazard must
    # still be caught by the probe and repartitioned
    tiny = spark.createDataFrame([(1, "x")], "k long, v string")
    j = df.coalesce(1).join(F.broadcast(tiny), "k", "left")
    assert not matches(j)
    assert (
        ensure_parallelism(j).rdd.getNumPartitions()
        >= min(8, spark.sparkContext.defaultParallelism)
    )
    # explicit min_partitions overrides the skip (caller may size ABOVE
    # the shuffle parallelism)
    agg = df.groupBy("s").count()
    got = ensure_parallelism(agg, min_partitions=64).rdd.getNumPartitions()
    assert got >= 64


def test_parquet_schema_cache_invalidates_on_rewrite(spark, tmp_path):
    """The engine caches inferred parquet schemas per (path, mtime, size)
    — a rewrite of the same path with a DIFFERENT schema must surface the
    new schema, never the cached one (the staleness contract of
    source_sink_utils._cached_parquet_schema)."""
    import time as _time

    from feathub_spark import FileSystemSource
    from feathub_spark.processors.spark.source_sink_utils import (
        get_source_dataframe,
    )

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a")], "k long, v string").write.mode(
        "overwrite"
    ).parquet(p)
    src = FileSystemSource(name="t", path=p, data_format="parquet")
    assert set(get_source_dataframe(spark, src).columns) == {"k", "v"}
    # repeat read hits the cache and still matches
    assert set(get_source_dataframe(spark, src).columns) == {"k", "v"}

    # rewrite with a different schema; mtime_ns granularity is fine on
    # any modern FS, but guard against a coarse-clock FS with a nudge
    _time.sleep(0.01)
    spark.createDataFrame(
        [(2, 3.5, True)], "k long, x double, flag boolean"
    ).write.mode("overwrite").parquet(p)
    assert set(get_source_dataframe(spark, src).columns) == {"k", "x", "flag"}
