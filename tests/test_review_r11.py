"""Regression pins for the round-11 advisor findings (ADVICE.md r11):
JDBC upsert batch dedupe + unique staging, SQL online-store reconnect,
and the parallelism bracket parser.  The Kafka checkpoint default test
lives in test_streaming.py."""

import sqlite3

import pandas as pd
from pyspark.sql import functions as F


def test_dedupe_for_upsert_latest_by_timestamp_wins(spark):
    """A batch holding several versions per upsert key must collapse to
    ONE row per key (PostgreSQL aborts ON CONFLICT updates that touch a
    row twice), keeping the latest row by the timestamp field."""
    from feathub_spark.processors.spark.source_sink_utils import (
        dedupe_for_upsert,
    )

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 3, 30.0), ("a", 2, 20.0), ("b", 1, 1.0)],
        "k string, ts long, v double",
    )
    out = {
        r["k"]: (r["ts"], r["v"])
        for r in dedupe_for_upsert(df, ["k"], "ts").collect()
    }
    assert out == {"a": (3, 30.0), "b": (1, 1.0)}


def test_dedupe_for_upsert_deterministic_without_timestamp(spark):
    """No timestamp field: the survivor is still deterministic (ordered
    over the non-key columns), so repeated writes of the same batch
    upsert the same row."""
    from feathub_spark.processors.spark.source_sink_utils import (
        dedupe_for_upsert,
    )

    rows = [("a", 5.0), ("a", 9.0), ("a", 1.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    first = dedupe_for_upsert(df, ["k"], None).collect()
    second = dedupe_for_upsert(
        spark.createDataFrame(list(reversed(rows)), "k string, v double"),
        ["k"],
        None,
    ).collect()
    assert len(first) == 1 and first == second
    assert first[0]["v"] == 9.0  # desc over non-key columns


def test_dedupe_for_upsert_skips_unorderable_map_columns(spark):
    """VALUE_COUNTS features are maps — not orderable in Spark.  The
    deterministic fallback must skip them instead of throwing."""
    from feathub_spark.processors.spark.source_sink_utils import (
        dedupe_for_upsert,
    )

    df = spark.createDataFrame(
        [("a", 1.0, {"x": 1}), ("a", 2.0, {"y": 2})],
        "k string, v double, m map<string,int>",
    )
    out = dedupe_for_upsert(df, ["k"], None).collect()
    assert len(out) == 1 and out[0]["v"] == 2.0


def test_sql_online_store_reconnects_after_dead_connection(tmp_path):
    """A server-side idle disconnect (simulated by closing the cached
    sqlite connection) must not poison the store: the next put/get
    rebuilds the connection from the factory."""
    from feathub_spark.online_stores.sql_online_store import SqlOnlineStore

    db = str(tmp_path / "s.db")

    def factory():
        return sqlite3.connect(db)

    store = SqlOnlineStore(factory)
    store.put("t", pd.DataFrame({"k": [1], "f": [1.5]}), key_fields=["k"])
    store._conn_cache.close()  # simulate wait_timeout disconnect
    got = store.get("t", pd.DataFrame({"k": [1]}))
    assert got["f"].tolist() == [1.5]
    store._conn_cache.close()
    store.put("t", pd.DataFrame({"k": [2], "f": [2.5]}), key_fields=["k"])
    got = store.get("t", pd.DataFrame({"k": [2]}))
    assert got["f"].tolist() == [2.5]
    store.close()


def test_sql_registry_reconnects_after_dead_connection(tmp_path):
    """Same reconnect contract for the SQL registry."""
    from feathub_spark.registries.sql_registry import SqlRegistry

    db = str(tmp_path / "r.db")

    def factory():
        return sqlite3.connect(db)

    reg = SqlRegistry(factory)
    reg._conn_cache.close()
    # a REAL operation (not the helper directly) must survive the dead
    # connection — build_features goes through _cursor and commits
    assert reg.build_features([]) == []
    reg._conn_cache.close()
    conn, cur = reg._cursor()
    cur.execute(f"SELECT COUNT(*) FROM {reg._table}")
    assert cur.fetchone()[0] == 0
    reg.close()


def test_global_aggregate_with_array_literals_still_probes(spark):
    """A GLOBAL aggregate whose expressions contain adjacent bracketed
    array literals (percentile_approx's [..] probabilities) prints
    '], [' inside its single top-level group — it must NOT be classified
    as a grouped (full-exchange) aggregate, or the single-partition
    probe is skipped."""
    from feathub_spark.common.parallelism import (
        _plan_has_full_exchange,
        _top_level_bracket_groups,
    )

    df = spark.createDataFrame(
        [(float(i),) for i in range(10)], "v double"
    )
    g = df.agg(
        F.percentile_approx("v", F.lit([0.25, 0.5]), F.lit(10000)).alias("p"),
        F.percentile_approx("v", F.lit([0.9]), F.lit(10000)).alias("q"),
    )
    plan = g._jdf.queryExecution().analyzed().toString()
    assert not _plan_has_full_exchange(plan)
    # the ambiguity the old substring test tripped on: a '], [' INSIDE a
    # single top-level expression list (printed literals / nested
    # bracket groups) must not read as a grouping list
    assert not _plan_has_full_exchange(
        "Aggregate [percentile_approx(v#1, [0.25,0.5], 10000, 0, 0) AS p#2]"
    )
    assert not _plan_has_full_exchange(
        "Window [avg(v#1) windowspecdefinition([0.1], v#1 ASC) AS w#2], [v#1 ASC]"
    )
    # grouped forms with the same nested literals still classify as full
    grouped = df.groupBy((F.col("v") % 2).alias("g")).agg(
        F.percentile_approx("v", F.lit([0.25, 0.5]), F.lit(10000)).alias("p")
    )
    assert _plan_has_full_exchange(
        grouped._jdf.queryExecution().analyzed().toString()
    )
    assert _top_level_bracket_groups("Aggregate [x], [y]") == 2
    assert _top_level_bracket_groups("Aggregate [f(v, [0.1, 0.2], [1])]") == 1
    # a stray '[' from a string literal leaves the header unbalanced —
    # ambiguous headers return 0 so the caller falls through to the probe
    assert _top_level_bracket_groups("Aggregate [split(t#1, [, -1)], [g#2]") == 0
    # a stray ']' closes its group early but stays balanced and countable
    assert _top_level_bracket_groups("Aggregate [split(t#1, ], -1)], [g#2]") == 2


def test_redis_key_and_value_codec_dtype_fidelity():
    """iterrows-style float upcast must not change Redis keys, and numpy
    scalars must encode as JSON numbers, not default=str strings."""
    import json

    import numpy as np

    from feathub_spark.online_stores.redis_client import (
        build_redis_key,
        decode_field,
        encode_field,
    )

    # an upcast int key (1.0) renders identically to the int the sink wrote
    assert build_redis_key("ns", [np.float64(1.0)]) == build_redis_key(
        "ns", [np.int64(1)]
    ) == "ns:1"
    assert decode_field(encode_field(np.int64(5))) == 5
    assert decode_field(encode_field(np.bool_(True))) is True
    assert json.loads(encode_field(np.float64(1.5))) == 1.5
    # key_expr shares one scheme between sink and reader
    assert build_redis_key("ns", [1, 2], "__NAMESPACE__#__KEYS__") == "ns#1:2"


def test_sql_store_string_timestamps_keep_max_wins(tmp_path):
    """String timestamp fields must still give max-timestamp-wins (not
    silent last-write-wins), matching MemoryOnlineStore."""
    import pandas as pd

    from feathub_spark.online_stores.sql_online_store import SqlOnlineStore

    db = str(tmp_path / "ts.db")
    store = SqlOnlineStore(lambda: sqlite3.connect(db))
    store.put(
        "t",
        pd.DataFrame({"k": [1], "ts": ["2024-01-05 00:00:00"], "f": [5.0]}),
        key_fields=["k"],
        timestamp_field="ts",
    )
    # an OLDER row arriving later must not overwrite
    store.put(
        "t",
        pd.DataFrame({"k": [1], "ts": ["2024-01-02 00:00:00"], "f": [2.0]}),
        key_fields=["k"],
        timestamp_field="ts",
    )
    got = store.get("t", pd.DataFrame({"k": [1]}))
    assert got["f"].tolist() == [5.0]
    store.close()


def test_sql_store_put_failure_rolls_back(tmp_path):
    """A put that raises mid-batch must leave no half-applied rows for
    the next commit on the shared connection to persist."""
    import pandas as pd
    import pytest

    from feathub_spark.online_stores.sql_online_store import SqlOnlineStore

    db = str(tmp_path / "rb.db")
    store = SqlOnlineStore(lambda: sqlite3.connect(db))
    store.put("t", pd.DataFrame({"k": [1], "f": [1.0]}), key_fields=["k"])
    with pytest.raises(KeyError):
        # key field missing from the frame -> _key_json raises mid-put
        store.put("t", pd.DataFrame({"wrong": [2], "f": [2.0]}))
    # the failed put's meta delete/insert and rows are rolled back
    store.put("t", pd.DataFrame({"k": [3], "f": [3.0]}), key_fields=["k"])
    got = store.get("t", pd.DataFrame({"k": [1, 3]}))
    assert got["f"].tolist() == [1.0, 3.0]
    store.close()


def test_datagen_sequence_wraps_within_declared_span(spark):
    """number_of_rows beyond the sequence length wraps over [start, end]
    instead of running past the declared domain (streaming parity)."""
    from feathub_spark.common import types as t
    from feathub_spark.feature_tables.sources.datagen_source import (
        DataGenSource,
        SequenceField,
    )
    from feathub_spark.table.schema import Schema

    src = DataGenSource(
        name="g",
        schema=Schema(["id2"], [t.Int64]),
        number_of_rows=25,
        field_configs={"id2": SequenceField(0, 9)},
    )
    vals = [r["id2"] for r in src.to_dataframe(spark).collect()]
    assert len(vals) == 25 and set(vals) <= set(range(10))


def test_protobuf_writer_rejects_remote_paths(spark):
    """The local-filesystem protobuf writer must fail fast on URI paths
    instead of writing a literal './s3:/...' directory."""
    import pytest

    from feathub_spark.common.exceptions import PlanError
    from feathub_spark.processors.spark.protobuf_io import write_protobuf_files

    df = spark.createDataFrame([(1,)], "a long")
    with pytest.raises(PlanError):
        write_protobuf_files(df, "s3://bucket/out")
