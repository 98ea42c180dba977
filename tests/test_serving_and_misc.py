"""Online store, on-demand serving, memory sink/source round trip, Python
UDF, SqlFeatureView, DataGen, and metric compilation."""

import pandas as pd
import pytest

from feathub_spark import (
    DataGenSource,
    DerivedFeatureView,
    Feature,
    LocalFeatureService,
    MemoryOnlineStore,
    MemoryStoreSink,
    MemoryStoreSource,
    OnDemandFeatureView,
    Schema,
    SequenceField,
    SqlFeatureView,
)
from feathub_spark.common import types as t
from feathub_spark.feature_views.transforms import PythonUdfTransform

from tests.fixtures import write_f1_source


@pytest.fixture(autouse=True)
def fresh_store():
    MemoryOnlineStore.reset()
    yield
    MemoryOnlineStore.reset()


def test_memory_store_roundtrip_and_serving(client, tmp_path):
    source = write_f1_source(tmp_path)
    view = DerivedFeatureView(
        name="serve_view",
        source=source,
        features=[Feature("total", transform="cost + distance", keys=["name"])],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    client.materialize_features(view, MemoryStoreSink(table_name="purchases_online"))

    store = MemoryOnlineStore.get_instance()
    # latest row per key kept
    got = store.get("purchases_online", pd.DataFrame({"name": ["Alex", "Emma", "Jack"]}))
    assert got["cost"].tolist() == [600, 200, 500]

    # on-demand view: store lookup + request-time expression
    odv = OnDemandFeatureView(
        name="odv",
        features=[
            "purchases_online.total",
            Feature("total_with_fee", transform="total + fee"),
        ],
        request_schema=Schema(["name", "fee"], [t.String, t.Int64]),
    )
    service = LocalFeatureService()
    request = pd.DataFrame({"name": ["Alex", "Jack"], "fee": [10, 20]})
    result = service.get_online_features(request, odv)
    assert result["total"].tolist() == [1400, 1000]
    assert result["total_with_fee"].tolist() == [1410, 1020]

    # memory store source back into a Spark job
    ms_source = MemoryStoreSource(
        name="purchases_from_store", keys=["name"], table_name="purchases_online"
    )
    view2 = DerivedFeatureView(
        name="from_store_view",
        source=ms_source,
        features=[Feature("double_total", transform="total * 2")],
        keep_source_fields=True,
    )
    client.build_features([ms_source, view2])
    df = client.get_features(view2).to_pandas()
    # latest totals: Alex 1400, Emma 450, Jack 1000
    assert sorted(df["double_total"].tolist()) == [900, 2000, 2800]


def test_python_udf(client, tmp_path):
    source = write_f1_source(tmp_path)
    view = DerivedFeatureView(
        name="udf_view_t",
        source=source,
        features=[
            Feature(
                "name_len",
                transform=PythonUdfTransform(lambda row: len(row["name"])),
                dtype=t.Int64,
            ),
            Feature(
                "safe_div",
                transform=PythonUdfTransform(
                    lambda row: row["cost"] / 0,
                    fail_on_exception=False,
                    value_on_exception=-1,
                ),
                dtype=t.Int64,
            ),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    df = client.get_features(view).to_pandas()
    assert df["name_len"].tolist() == [4, 4, 4, 4, 4, 4]
    assert df["safe_div"].tolist() == [-1] * 6


def test_sql_feature_view(client, tmp_path):
    source = write_f1_source(tmp_path)
    base = DerivedFeatureView(
        name="sql_base",
        source=source,
        features=[Feature("total", transform="cost + distance")],
        keep_source_fields=True,
    )
    client.build_features([source, base])
    client.get_features(base)  # registers temp view
    sql_view = SqlFeatureView(
        name="sql_agg",
        sql_statement="SELECT name, SUM(total) AS sum_total FROM sql_base GROUP BY name",
        schema=Schema(["name", "sum_total"], [t.String, t.Int64]),
        keys=["name"],
    )
    client.build_features([sql_view])
    df = client.get_features(sql_view).to_pandas().sort_values("name")
    assert df["sum_total"].tolist() == [2100, 1100, 1000]


def test_datagen_source(client):
    gen = DataGenSource(
        name="gen_t",
        schema=Schema(["id", "noise"], [t.Int64, t.Float64]),
        field_configs={"id": SequenceField(10, 19)},
        keys=["id"],
    )
    view = DerivedFeatureView(
        name="gen_view_t",
        source=gen,
        features=[Feature("id2", transform="id * id")],
        keep_source_fields=True,
    )
    client.build_features([gen, view])
    df = client.get_features(view).to_pandas()
    assert df["id"].tolist() == list(range(10, 20))
    assert df["id2"].tolist() == [i * i for i in range(10, 20)]
    assert df["noise"].notna().all()


def test_datagen_random_fields_ignore_partition_count(spark):
    """Random datagen values derive from the row id alone, so the same ids
    get the same values under any partition count (rand(seed) is seeded
    per partition)."""
    gen = DataGenSource(
        name="gen_parts",
        schema=Schema(["id", "noise", "tag"], [t.Int64, t.Float64, t.String]),
        number_of_rows=100,
        field_configs={"id": SequenceField(0, 99)},
    )

    def rows(partitions):
        ids = spark.range(0, 100, 1, numPartitions=partitions)
        return sorted(ids.select(*gen.field_columns()).collect())

    one = rows(1)
    assert one == rows(4)
    assert [r.id for r in one] == list(range(100))
    assert len({r.noise for r in one}) > 90
    assert all(0 <= r.noise < 100 for r in one)


def test_metrics_compile(client, tmp_path):
    from datetime import timedelta

    from feathub_spark.metric_stores.metric import Average, Count, Ratio

    source = write_f1_source(tmp_path)
    view = DerivedFeatureView(
        name="metric_base",
        source=source,
        features=[Feature("total", transform="cost + distance")],
        keep_source_fields=True,
    )
    client.build_features([source, view])

    from feathub_spark.metric_stores.metric_store import MetricStore

    store = MetricStore(sink=None)
    metric_view = store.build_metric_view(
        view,
        {
            "total": [
                Count("> 400", window_size=timedelta(days=10)),
                Average(window_size=timedelta(days=10)),
                Ratio("> 1000", window_size=timedelta(days=10)),
            ]
        },
    )
    built = client.build_features([metric_view])[0]
    df = client.get_features(built).to_pandas()
    # one 10-day tumbling window covers all 6 rows
    row = df.iloc[0]
    # totals: [200, 650, 500, 450, 1000, 1400] → 5 exceed 400
    assert row["total_count"] == 5
    assert row["total_average"] == pytest.approx(
        (200 + 650 + 500 + 450 + 1000 + 1400) / 6
    )
    assert row["total_ratio"] == pytest.approx(1 / 6)  # only 1400 > 1000


def test_metric_piggyback_on_materialize(spark, tmp_path):
    """Feature(metrics=[...]) + FeathubClient(metric_store=...): the metric
    view is written to the metric sink in the same materialize call."""
    from datetime import timedelta

    from feathub_spark import FeathubClient, MemoryStoreSink
    from feathub_spark.metric_stores.metric import Average, Count
    from feathub_spark.metric_stores.metric_store import MetricStore

    client = FeathubClient(
        spark, metric_store=MetricStore(sink=MemoryStoreSink("metrics_out"))
    )
    source = write_f1_source(tmp_path, name="metric_pig_src")
    view = DerivedFeatureView(
        name="metric_pig_view",
        source=source,
        features=[
            Feature(
                "total",
                transform="cost + distance",
                metrics=[
                    Count("> 400", window_size=timedelta(days=10)),
                    Average(window_size=timedelta(days=10)),
                ],
            ),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    client.materialize_features(view, MemoryStoreSink("features_out"))

    store = MemoryOnlineStore.get_instance()
    assert "features_out" in store.all_tables()
    assert "metrics_out" in store.all_tables()
    metrics = store._tables["metrics_out"]
    assert metrics.iloc[0]["total_count"] == 5
    assert metrics.iloc[0]["total_average"] == pytest.approx(4200 / 6)
