"""Regression pins for the round-10 session-2 review findings — each was
reproduced against Spark 4.1.2 (ANSI defaults) before the fix."""

from pyspark.sql import functions as F


def test_numeric_histogram_constant_column(spark):
    """A constant column (min == max, width 0) must yield one degenerate
    bin, not an ANSI DIVIDE_BY_ZERO job failure."""
    from feathub_spark.datapipe.profile import numeric_histogram

    df = spark.createDataFrame([(5.0,)] * 7, "v double")
    rows = numeric_histogram(df, "v", n_bins=4).collect()
    assert len(rows) == 1
    assert rows[0]["bin"] == 0 and rows[0]["n"] == 7
    assert rows[0]["bin_lo"] == 5.0 and rows[0]["bin_hi"] == 5.0


def test_hll_distinct_keeps_null_group(spark):
    """NULL group keys are real groups — the exact/sketch combine must
    join null-safely instead of dropping them."""
    from feathub_spark.datapipe.profile import hll_distinct

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), (None, "x"), (None, "z")],
        "g string, v string",
    )
    out = {r["g"]: r["n_exact"] for r in hll_distinct(df, "v", ["g"]).collect()}
    assert out == {"a": 2, None: 2}


def test_url_scheme_matches_case_insensitively(spark):
    """'HTTPS://BadSite.com' must reach the domain extractor, the PII
    redactor, and the blocklist — uppercasing the scheme is an evasion."""
    from feathub_spark.datapipe.text import (
        domain_blocklist_filter,
        pii_scrub,
        url_domains,
    )

    df = spark.createDataFrame(
        [(1, "see HTTPS://BadSite.com/x now")], "id long, text string"
    )
    doms = df.select(url_domains("text").alias("d")).first()["d"]
    assert doms == ["badsite.com"]
    scrub = pii_scrub(df, "text").first()
    assert "<URL>" in scrub["clean_text"] and scrub["n_url"] == 1
    # mixed-case BLOCKLIST entries must match the lowercased domains too
    flagged = domain_blocklist_filter(df, "text", ["BadSite.com"]).first()
    assert flagged["blocked"] is True
    bl_df = spark.createDataFrame([("BadSite.com",)], "d string")
    flagged2 = domain_blocklist_filter(df, "text", bl_df).first()
    assert flagged2["blocked"] is True


def test_resample_ffill_string_ids_and_negative_grid(spark):
    """Non-numeric event ids must tie-break on their native type (the
    long cast crashed under ANSI), and a pre-1970 first event must start
    the grid at the step-multiple AT/AFTER it (div truncates toward
    zero, so the usual ceiling formula overshot to 0)."""
    from feathub_spark.datapipe.resample import resample_ffill

    df = spark.createDataFrame(
        [("k", 10, "ev-1", 1.0), ("k", 10, "ev-2", 2.0)],
        "k string, ts long, event_id string, value double",
    )
    out = resample_ffill(df, "k", "ts", ["value"], step_us=10,
                         id_col="event_id").collect()
    assert [(r["grid_us"], r["value"]) for r in out] == [(10, 2.0)]

    neg = spark.createDataFrame(
        [("k", -15, 1, 1.0), ("k", 5, 2, 2.0)],
        "k string, ts long, event_id long, value double",
    )
    grid = resample_ffill(neg, "k", "ts", ["value"], step_us=10,
                          id_col="event_id")
    assert [r["grid_us"] for r in grid.collect()] == [-10, 0]


def test_ngram_topk_ignores_short_and_empty_docs(spark):
    """Corpus top-k stats use STRICT n-grams: short documents must not
    inject whole-text grams, nor empty documents an '' gram."""
    from feathub_spark.datapipe.text import ngram_topk

    df = spark.createDataFrame(
        [(1, "big cat"), (2, "big cat"), (3, ""), (4, ""), (5, ""), (6, "x")],
        "id long, text string",
    )
    rows = ngram_topk(df, "text", n=2, k=3).collect()
    assert [(r["gram"], r["n_occurrences"]) for r in rows] == [("big cat", 2)]


def test_token_count_quantile_names_round(spark):
    """int(0.29*100) is 28 in binary floats — quantile column names must
    round, and sub-percent quantiles must not collide."""
    from feathub_spark.datapipe.text import token_count_quantiles

    df = spark.createDataFrame(
        [("en", "a b c")] * 10, "lang string, text string"
    )
    out = token_count_quantiles(df, "text", "lang", qs=(0.29, 0.99, 0.999))
    assert [c for c in out.columns if c.startswith("p")] == [
        "p29", "p99", "p99_9"
    ]


def test_approx_quantiles_surfaces_all_null_column(spark):
    """An all-NULL column must appear in the report as NULL values, not
    vanish (posexplode drops NULL arrays)."""
    from feathub_spark.datapipe.profile import approx_quantiles

    df = spark.createDataFrame(
        [(1.0, None), (2.0, None)], "a double, b double"
    )
    rows = approx_quantiles(df, ["a", "b"], [0.5, 0.99]).collect()
    by_col = {}
    for r in rows:
        by_col.setdefault(r["column"], []).append(r["value"])
    assert set(by_col) == {"a", "b"}
    assert by_col["b"] == [None, None]
    assert all(v is not None for v in by_col["a"])


def test_two_map_entries_get_distinct_names(client, tmp_path):
    """Two entries of ONE map in a view must not collide on the map's
    name: the first keeps it, later ones get a key suffix."""
    from feathub_spark import DerivedFeatureView, Feature

    from tests.fixtures import write_f1_source

    source = write_f1_source(tmp_path)
    right = DerivedFeatureView(
        name="map2_right_view",
        source=source,
        features=[
            Feature(
                "cost_map",
                transform="MAP('raw', cost, 'double', cost * 2)",
                keys=["name"],
            ),
        ],
        keep_source_fields=True,
    )
    left = DerivedFeatureView(
        name="map2_left_view",
        source=source,
        features=[
            "map2_right_view.cost_map['raw']",
            "map2_right_view.cost_map['double']",
        ],
        keep_source_fields=True,
    )
    client.build_features([source, right])
    client.build_features([left])
    df = (
        client.get_features(left)
        .to_pandas()
        .sort_values("time")
        .reset_index(drop=True)
    )
    assert df["cost_map"].tolist() == [100, 400, 300, 200, 500, 600]
    assert df["cost_map_double"].tolist() == [200, 800, 600, 400, 1000, 1200]


def test_pit_join_requires_left_timestamp(client, tmp_path):
    """A source with no timestamp_field plus a join feature must raise a
    PlanError, not silently produce all-NULL joined features."""
    import pytest

    from feathub_spark import DerivedFeatureView, FileSystemSource
    from feathub_spark.common.exceptions import PlanError

    from tests.fixtures import write_f1_source

    source = write_f1_source(tmp_path)
    no_ts = FileSystemSource(
        name="no_ts_purchases",
        path=source.path,
        data_format="csv",
        schema=source.schema,
        keys=["name"],
    )
    left = DerivedFeatureView(
        name="no_ts_left_view",
        source=no_ts,
        features=["ts_right_view.cost"],
        keep_source_fields=True,
    )
    right = DerivedFeatureView(
        name="ts_right_view",
        source=source,
        features=[],
        keep_source_fields=True,
    )
    client.build_features([source, no_ts, right])
    client.build_features([left])
    with pytest.raises(PlanError, match="timestamp_field"):
        client.get_features(left).to_pandas()


def test_dsl_null_branches_and_arity(spark):
    """NULL branches/elements type-check (Unknown is not a concrete
    type), and CONCAT_WS/JSON_STRING arity errors surface at build time."""
    import pytest

    from feathub_spark.common import types as t
    from feathub_spark.common.exceptions import ExpressionError
    from feathub_spark.dsl.parser import parse_expr

    assert parse_expr("CASE WHEN x > 0 THEN NULL ELSE 5 END").eval_dtype(
        {"x": t.Int64}
    ) == t.Int64
    assert parse_expr("ARRAY(1, NULL)").eval_dtype({}) == t.VectorType(t.Int64)
    with pytest.raises(ExpressionError):
        parse_expr("CONCAT_WS(',')").eval_dtype({})
    with pytest.raises(ExpressionError):
        parse_expr("JSON_STRING()").eval_dtype({})


def test_post_sliding_features_can_chain(client, tmp_path):
    """A post-sliding feature may reference an EARLIER post-sliding
    feature (they evaluate sequentially)."""
    from datetime import timedelta

    from feathub_spark import Feature, SlidingFeatureView
    from feathub_spark.feature_views.transforms import SlidingWindowTransform

    from tests.fixtures import write_f1_source

    source = write_f1_source(tmp_path)
    view = SlidingFeatureView(
        name="chained_post_view",
        source=source,
        features=[
            Feature(
                "total_cost",
                transform=SlidingWindowTransform(
                    "cost", "SUM", window_size=timedelta(days=1),
                    step_size=timedelta(days=1), group_by_keys=["name"],
                ),
            ),
            Feature("a", transform="total_cost + 1"),
            Feature("b", transform="a * 2"),
        ],
        skip_same_window_output=False,
    )
    client.build_features([source])
    client.build_features([view])
    df = client.get_features(view).to_pandas()
    assert (df["b"] == (df["total_cost"] + 1) * 2).all()


def test_jdbc_upsert_sql_dialects():
    """upsert_keys generates a real per-dialect merge statement; unknown
    dialects refuse loudly instead of silently appending duplicates."""
    import pytest

    from feathub_spark.common.exceptions import PlanError
    from feathub_spark.processors.spark.source_sink_utils import upsert_sql

    my = upsert_sql(
        "jdbc:mysql://h/db", "t", "t_feathub_stage", ["k", "a", "b"], ["k"]
    )
    assert my == (
        "INSERT INTO t (k, a, b) SELECT k, a, b FROM t_feathub_stage "
        "ON DUPLICATE KEY UPDATE a = VALUES(a), b = VALUES(b)"
    )
    pg = upsert_sql(
        "jdbc:postgresql://h/db", "t", "t_feathub_stage", ["k", "a"], ["k"]
    )
    assert pg == (
        "INSERT INTO t (k, a) SELECT k, a FROM t_feathub_stage "
        "ON CONFLICT (k) DO UPDATE SET a = EXCLUDED.a"
    )
    with pytest.raises(PlanError, match="upsert_keys"):
        upsert_sql("jdbc:oracle:thin:@h", "t", "s", ["k", "a"], ["k"])


def test_sql_online_store_key_and_value_fidelity(tmp_path):
    """Int keys must match across put/get despite pandas row coercion,
    and stored numeric features must come back as NUMBERS, not the
    default=str stringification of numpy scalars."""
    import sqlite3

    import pandas as pd

    from feathub_spark.online_stores.sql_online_store import SqlOnlineStore

    conns = []

    def factory():
        if not conns:
            conns.append(sqlite3.connect(str(tmp_path / "s.db")))
        return conns[0]

    store = SqlOnlineStore(factory)
    # int key + float feature: iterrows would upcast the key to 1.0
    store.put("t", pd.DataFrame({"k": [1], "f": [1.5], "n": [5]}),
              key_fields=["k"])
    got = store.get("t", pd.DataFrame({"k": [1]}))
    assert got["f"].tolist() == [1.5]
    assert got["n"].tolist() == [5] and got["n"].dtype.kind in "iu"
    store.close()


def test_sql_online_store_keyless_appends(tmp_path):
    """Keyless tables (global metric emissions) append like
    MemoryOnlineStore instead of raising."""
    import sqlite3

    import pandas as pd

    from feathub_spark.online_stores.sql_online_store import SqlOnlineStore

    conns = []

    def factory():
        if not conns:
            conns.append(sqlite3.connect(str(tmp_path / "s2.db")))
        return conns[0]

    store = SqlOnlineStore(factory)
    store.put("m", pd.DataFrame({"v": [1.0]}))
    store.put("m", pd.DataFrame({"v": [2.0]}))
    cur = factory().cursor()
    n = cur.execute(
        "SELECT count(*) FROM feathub_online WHERE tbl='m'"
    ).fetchone()[0]
    assert n == 2
    store.close()


def test_jpeg_trailing_fill_bytes_raise_value_error():
    """A payload ending in 0xFF fill bytes must raise ValueError (the
    on_error='null' contract), never IndexError."""
    import pytest

    from feathub_spark.datapipe.multimodal import parse_image_header

    with pytest.raises(ValueError, match="truncated JPEG"):
        parse_image_header(b"\xff\xd8\xff\xff")


def test_target_encode_smoothing_zero_single_row_category(spark):
    """smoothing=0 + leave-one-out on a single-row category must fall
    back to the prior, not emit NaN (0.0/0.0)."""
    import math

    from feathub_spark.datapipe.encode import target_encode

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 0.0), ("b", 1.0)], "cat string, y double"
    )
    rows = target_encode(
        df, "cat", "y", smoothing=0.0, leave_one_out=True
    ).collect()
    vals = [r[-1] for r in rows]
    assert all(v is not None and not math.isnan(v) for v in vals)
    b_val = [r for r in rows if r["cat"] == "b"][0][-1]
    assert abs(b_val - 2.0 / 3.0) < 1e-5  # the global prior (round_dp=6)


def test_ann_paths_exclude_zero_norm_vectors(spark):
    """A zero-norm vector scores NaN cosine (0/0); Spark DESC ranks NaN
    FIRST, so every ANN path must filter it like brute_force_topk."""
    from feathub_spark.common.caching import release_caches
    from feathub_spark.datapipe.similarity import (
        binarize_embeddings,
        ivf_topk,
        lsh_topk,
        semantic_dedup,
    )

    rows = [(i, [float(i % 3 + 1), float((i * 7) % 5 + 1)]) for i in range(30)]
    rows.append((99, [0.0, 0.0]))  # the zero-norm hazard
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter("vec_id < 3")
    for out in (
        ivf_topk(corpus, queries, "embedding", "vec_id", k=3, n_centroids=4),
        lsh_topk(corpus, queries, "embedding", "vec_id", k=3),
    ):
        got = out.collect()
        assert got, "expected neighbors"
        assert all(r["neighbor_id"] != 99 for r in got)
        assert all(r["cosine"] == r["cosine"] for r in got)  # no NaN
        release_caches()
    # zero vector must never be "a duplicate of" anything
    dd = semantic_dedup(corpus, "embedding", "vec_id", threshold=0.9,
                        n_centroids=4)
    kept = {r["vec_id"]: r["kept"] for r in dd.collect()}
    assert kept[99] is True
    release_caches()
    # empty embedding: binarize yields an empty code, not INVALID_INDEX
    empt = spark.createDataFrame(
        [(1, [])], "vec_id long, embedding array<double>"
    )
    assert binarize_embeddings(empt, "embedding").first()["bvec"] == []


def test_memory_lookup_missing_table_and_schema(spark):
    """A never-written lookup table raises a clear PlanError without a
    declared schema, and snapshots type-stably WITH one."""
    import pytest

    from feathub_spark.common.exceptions import PlanError
    from feathub_spark.processors.spark.lookup_join import MemoryLookup
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    lk = MemoryLookup("never_written_tbl_xyz")
    with pytest.raises(PlanError, match="never been written"):
        lk.snapshot(spark)
    struct = StructType([
        StructField("k", LongType()), StructField("f", DoubleType()),
    ])
    snap = MemoryLookup("never_written_tbl_xyz", schema=struct).snapshot(spark)
    assert snap.count() == 0
    assert [f.dataType for f in snap.schema.fields] == [
        LongType(), DoubleType(),
    ]


def test_sessionize_drops_null_timestamps(spark):
    """NULL-timestamp events would each open a session yet share one
    key-only label (concat_ws skips NULLs) — they are dropped instead."""
    from feathub_spark.datapipe.sessions import sessionize

    df = spark.createDataFrame(
        [("u", 1000, 1), ("u", None, 2), ("u", None, 3)],
        "user string, ts_us long, event_id long",
    )
    out = sessionize(df, "user", "ts_us", gap_us=100).collect()
    assert len(out) == 1 and out[0]["ts_us"] == 1000


def test_interval_join_caps_corrupt_interval_fanout(spark):
    """A corrupt year-9999 interval must be dropped by the bin cap, not
    exploded into tens of millions of sequence elements."""
    from feathub_spark.datapipe.intervals import interval_join

    ev = spark.createDataFrame([(1, 500)], "event_id long, ts long")
    iv = spark.createDataFrame(
        [(0, 1000, "ok"), (0, 253_402_300_799_000_000, "corrupt")],
        "s long, e long, tag string",
    )
    out = interval_join(ev, iv, "ts", "s", "e", bin_us=100).collect()
    assert [r["tag"] for r in out] == ["ok"]


def test_protowire_rejects_corrupt_input():
    """Negative LEN varints must error (they looped decode_message
    forever), truncated packed vectors must error (they silently dropped
    trailing elements), and packed timestamps decode to datetimes."""
    import datetime as dt

    import pytest

    from feathub_spark.common import types as t
    from feathub_spark.common.exceptions import FeathubError
    from feathub_spark.common.protowire import (
        FieldSpec,
        decode_message,
        encode_row,
    )

    # unknown LEN field whose 10-byte length varint decodes negative
    evil = bytes([0x0A]) + b"\xff" * 9 + b"\x01"
    with pytest.raises(FeathubError):
        decode_message(evil, [FieldSpec("x", 2, t.Int64)])

    spec = [FieldSpec("v", 1, t.Float64Vector)]
    good = encode_row({"v": [1.0, 2.0, 3.0]}, spec)
    with pytest.raises(FeathubError):
        decode_message(good[:-8], spec)

    ts_spec = [FieldSpec("ts", 1, t.VectorType(t.Timestamp))]
    when = dt.datetime(2020, 1, 1, 12, 30, 45, 123456)
    out = decode_message(encode_row({"ts": [when]}, ts_spec), ts_spec)
    assert out["ts"] == [when]


def test_scd2_merge_null_key_single_open_interval(spark):
    """A NULL-key history must merge like any other key: one open
    interval after the delta, not an untouched old one PLUS a rebuilt
    one (equi-joins treat NULL != NULL)."""
    from feathub_spark.common.caching import release_caches
    from feathub_spark.datapipe.scd import scd2_intervals, scd2_merge

    pre = spark.createDataFrame(
        [(None, 100, "a", 1)], "k string, ts long, attr string, eid long"
    )
    delta = spark.createDataFrame(
        [(None, 200, "b", 2)], "k string, ts long, attr string, eid long"
    )
    base = scd2_intervals(pre, "k", "ts", "attr", tie_cols="eid")
    merged = scd2_merge(base, delta, "k", "ts", "attr", tie_cols="eid")
    rows = sorted(merged.collect(), key=lambda r: r["valid_from"])
    release_caches()
    open_rows = [r for r in rows if r["valid_to"] is None]
    assert len(open_rows) == 1 and open_rows[0]["attr"] == "b"
    full = sorted(
        scd2_intervals(
            pre.unionByName(delta), "k", "ts", "attr", tie_cols="eid"
        ).collect(),
        key=lambda r: r["valid_from"],
    )
    assert [tuple(r) for r in rows] == [tuple(r) for r in full]


def test_time_decayed_sum_string_ids(spark):
    """A string/UUID tie-break id must ride in its native type — the
    BIGINT cast silently NULLed it and defeated the determinism
    contract."""
    from feathub_spark.datapipe.decay import time_decayed_sum

    df = spark.createDataFrame(
        [("k", 1000, "ev-a", 1.0), ("k", 1000, "ev-b", 2.0)],
        "k string, ts long, eid string, v double",
    )
    out = time_decayed_sum(
        df, "k", "ts", "v", half_life_us=10**6, window_us=10**6,
        id_col="eid",
    )
    vals = sorted(r["decayed_sum"] for r in out.collect())
    assert vals == [3.0, 3.0]


def test_bm25_counts_null_text_in_corpus_stats(spark):
    """NULL-text docs count toward N AND avgdl (len 0) — excluding them
    from avgdl only (avg skips NULLs) shifted every score."""
    from feathub_spark.common.caching import release_caches
    from feathub_spark.datapipe.retrieval import bm25_search

    docs = spark.createDataFrame(
        [(1, "apple pie"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame([(1, "apple")], "query_id long, query_text string")
    got = bm25_search(docs, qs, "text", "doc_id").collect()
    release_caches()
    assert [r["doc_id"] for r in got] == [1]
    # idf with N=3, df=1: ln((3-1+0.5)/(1+0.5)+1); avgdl=(2+0+0)/3
    import math

    idf = math.log((3 - 1 + 0.5) / (1 + 0.5) + 1.0)
    tf_term = (1 * 2.2) / (1 + 1.2 * (1 - 0.75 + 0.75 * 2 / (2 / 3)))
    assert abs(got[0]["bm25"] - round(idf * tf_term, 6)) < 1e-4


def test_over_first_last_deterministic_on_tied_times(client, tmp_path):
    """Tied event times must yield a deterministic FIRST/LAST_VALUE (the
    collect path's struct(t, v) rule: smallest value wins the earliest
    slot, largest the latest)."""
    import os

    import pandas as pd

    from feathub_spark import (
        DerivedFeatureView, Feature, FileSystemSource, Int64, Schema, String,
    )
    from feathub_spark.feature_views.transforms import OverWindowTransform

    rows = [("k", 7, 100), ("k", 5, 100), ("k", 9, 100)]
    pdf = pd.DataFrame(rows, columns=["k", "v", "ts"])
    path = os.path.join(str(tmp_path), "ties.parquet")
    pdf.to_parquet(path)
    schema = (
        Schema.new_builder()
        .column("k", String).column("v", Int64).column("ts", Int64)
        .build()
    )
    src = FileSystemSource(
        name="ties_src", path=path, data_format="parquet", schema=schema,
        keys=["k"], timestamp_field="ts", timestamp_format="epoch_millis",
    )
    view = DerivedFeatureView(
        name="ties_view",
        source=src,
        features=[
            Feature("fv", transform=OverWindowTransform(
                "v", "FIRST_VALUE", group_by_keys=["k"])),
            Feature("lv", transform=OverWindowTransform(
                "v", "LAST_VALUE", group_by_keys=["k"])),
        ],
        keep_source_fields=True,
    )
    client.build_features([src, view])
    df = client.get_features(view).to_pandas()
    # all three rows are frame peers: struct(t, v) rule -> min v / max v
    assert set(df["fv"]) == {5} and set(df["lv"]) == {9}


def test_sliding_first_last_map_typed_values(client, tmp_path):
    """Map-typed FIRST/LAST_VALUE partials must not crash on struct
    comparison (maps are unorderable) — min_by/max_by fallback."""
    from datetime import timedelta

    from feathub_spark import Feature, SlidingFeatureView
    from feathub_spark.common.types import Int64, MapType, String
    from feathub_spark.feature_views.transforms import SlidingWindowTransform

    from tests.fixtures import write_f1_source

    source = write_f1_source(tmp_path)
    view = SlidingFeatureView(
        name="map_last_view",
        source=source,
        features=[
            Feature(
                "last_m",
                transform=SlidingWindowTransform(
                    "MAP('c', cost)", "LAST_VALUE",
                    window_size=timedelta(days=1),
                    step_size=timedelta(days=1), group_by_keys=["name"],
                ),
                dtype=MapType(String, Int64),
            ),
        ],
        skip_same_window_output=False,
    )
    client.build_features([source])
    client.build_features([view])
    df = client.get_features(view).to_pandas()
    ts_col = [c for c in df.columns if c not in ("name", "last_m")][0]
    df = df.sort_values(["name", ts_col]).reset_index(drop=True)
    alex_day1 = df[(df["name"] == "Alex")].iloc[0]["last_m"]
    assert dict(alex_day1) == {"c": 100}
