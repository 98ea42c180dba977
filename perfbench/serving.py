"""``online_serving``: load two views into the online store, then serve.

Load: ``SparkProcessor.materialize_features(view, MemoryStoreSink(...))``
for a per-user ``SlidingFeatureView`` (1d and 7d windows) and a per-order
view keyed on ``o_orderkey`` (100x more keys).  The load runs twice,
each time into a fresh store: the first is the warm-up, the second gives
``materialize_s``.

Loop: a closed loop with one client.  Each operation is either a read of 8
Zipf-drawn (user, order) key pairs through
``LocalFeatureService.get_online_features`` and an ``OnDemandFeatureView``
with lookups into both tables plus one expression feature, or (one in
``UPSERT_EVERY``) a 100-row ``MemoryOnlineStore.put`` into the orders table.
Every served value is checked against a pandas recompute of the latest row
per key, kept up to date with the upserts.
"""

from __future__ import annotations

import math
import time
from datetime import timedelta

import numpy as np
import pandas as pd

from metrics import Outcome, median, overhead_pct, tail

SCALE = 0.1
SMOKE_SCALE = 0.001
READ_KEYS = 8
UPSERT_ROWS = 100
UPSERT_EVERY = 10
BLOCK_OPS = 20
USER_TABLE = "user_stats"
ORDER_TABLE = "order_stats"
USER_FEATURES = ["amount_1d", "amount_7d", "cnt_7d"]


def _views(tables: str):
    from __spark_entry__ import _parquet_source
    from feathub_spark import (
        DerivedFeatureView,
        Feature,
        Float64,
        Int64,
        OnDemandFeatureView,
        Schema,
        SlidingFeatureView,
    )
    from feathub_spark.feature_views.transforms import SlidingWindowTransform

    events = _parquet_source("events", tables, keys=["user_id"], timestamp_field="ts")
    orders = _parquet_source("orders", tables, keys=["o_orderkey"],
                             timestamp_field="o_orderdate")

    def window(name, agg, days):
        return Feature(name, transform=SlidingWindowTransform(
            "value", agg, window_size=timedelta(days=days),
            step_size=timedelta(days=1), group_by_keys=["user_id"],
        ))

    users = SlidingFeatureView(
        name=USER_TABLE,
        source=events,
        features=[window("amount_1d", "SUM", 1), window("amount_7d", "SUM", 7),
                  window("cnt_7d", "COUNT", 7)],
        enable_empty_window_output=False,
        skip_same_window_output=False,
    )
    order_view = DerivedFeatureView(
        name=ORDER_TABLE,
        source=orders,
        features=[Feature("o_totalprice", transform="o_totalprice", dtype=Float64)],
        keep_source_fields=False,
    )
    serve = OnDemandFeatureView(
        name="serve_view",
        features=[f"{USER_TABLE}.{f}" for f in USER_FEATURES] + [
            f"{ORDER_TABLE}.o_totalprice",
            Feature("spend_ratio", transform="o_totalprice / (amount_7d + 1)"),
        ],
        request_schema=Schema(["user_id", "o_orderkey"], [Int64, Int64]),
    )
    return [events, orders, users, order_view], serve


def _latest(df: pd.DataFrame, key: str, ts: str, cols: list) -> dict:
    """Pandas recompute of the latest row per key: ``{key: (cols...)}``."""
    last = df.loc[df.groupby(key)[ts].idxmax()]
    return {int(k): tuple(v) for k, v in zip(last[key], last[cols].itertuples(index=False))}


def _same(a, b) -> bool:
    if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
        return (a is None or math.isnan(a)) and (b is None or math.isnan(b))
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


class _Serving:
    def __init__(self, ctx, out: Outcome, tables: str) -> None:
        from feathub_spark import SparkProcessor

        self.ctx, self.out = ctx, out
        self.proc = SparkProcessor(ctx.spark)
        self.descriptors, self.serve_view = _views(tables)
        self.rng = np.random.default_rng(ctx.seed)
        self.store = None
        self.base_orders = None
        self.upsert_ts = pd.Timestamp("2010-01-01")

    def load(self) -> float:
        """Build both views and materialize them into a fresh store;
        returns seconds."""
        from feathub_spark import MemoryOnlineStore, MemoryStoreSink

        MemoryOnlineStore.reset()
        self.store = MemoryOnlineStore.get_instance()
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        built = self.proc.registry.build_features(self.descriptors)
        self.users, self.orders = built[2], built[3]
        with self._store_spans("online_stores.load_put"):
            for view, table in ((self.users, USER_TABLE), (self.orders, ORDER_TABLE)):
                with tr.span("feature_tables.sink"):
                    self.proc.materialize_features(view, MemoryStoreSink(table))
        seconds = time.perf_counter() - t0
        if self.base_orders is not None:
            self.reset()
        return seconds

    def _store_spans(self, put_name: str):
        from tracing import traced_calls

        return traced_calls(self.ctx.tracer, [
            (self.store, "get", "online_stores.get"),
            (self.store, "put", put_name),
        ])

    def reference(self) -> None:
        """Recompute the latest row per key from each view's batch table."""
        users = self.proc.get_table(self.users).to_pandas()
        orders = self.proc.get_table(self.orders).to_pandas()
        self.ref_users = _latest(users, "user_id", "window_time", USER_FEATURES)
        self.base_orders = {
            k: v[0] for k, v in
            _latest(orders, "o_orderkey", "o_orderdate", ["o_totalprice"]).items()
        }
        self.user_keys = np.array(sorted(self.ref_users), dtype=np.int64)
        self.order_keys = self.rng.permutation(len(self.base_orders)).astype(np.int64)
        self.reset()

    def stored_rows(self) -> int:
        """Rows the store holds for the reference's keys, read back with one
        ``get`` per table: right after a load, every loaded row."""
        rows = 0
        for table, key, ref, feature in (
            (USER_TABLE, "user_id", self.ref_users, USER_FEATURES[0]),
            (ORDER_TABLE, "o_orderkey", self.base_orders, "o_totalprice"),
        ):
            request = pd.DataFrame({key: np.array(sorted(ref), dtype=np.int64)})
            rows += int(self.store.get(table, request)[feature].notna().sum())
        return rows

    def reset(self) -> None:
        """Forget the upserts, as a fresh load does."""
        self.ref_orders = dict(self.base_orders)
        self.n_orders = len(self.base_orders)

    def _zipf(self, keys: np.ndarray, n: int) -> np.ndarray:
        return keys[(self.rng.zipf(1.2, n) - 1) % len(keys)]

    def read(self, service) -> float:
        request = pd.DataFrame({
            "user_id": self._zipf(self.user_keys, READ_KEYS),
            "o_orderkey": self._zipf(self.order_keys, READ_KEYS),
        })
        self.out.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.ctx.tracer.span("feature_service.request"):
                got = service.get_online_features(request, self.serve_view)
        except Exception as e:
            self.out.fail(f"read: {type(e).__name__}: {e}")
            return None
        ms = 1000 * (time.perf_counter() - t0)
        self._check(request, got)
        return ms

    def _check(self, request, got) -> None:
        bad = []
        for i, r in enumerate(got.itertuples(index=False)):
            user = self.ref_users.get(int(request.user_id[i]), (None,) * 3)
            price = self.ref_orders.get(int(request.o_orderkey[i]))
            ratio = None if price is None or user[1] is None else price / (user[1] + 1)
            want = (*user, price, ratio)
            have = (r.amount_1d, r.amount_7d, r.cnt_7d, r.o_totalprice, r.spend_ratio)
            if not all(_same(_num(h), w) for h, w in zip(have, want)):
                bad.append((int(request.user_id[i]), int(request.o_orderkey[i]), have, want))
        if bad or len(got) != len(request):
            self.out.fail(f"read served wrong values, e.g. {bad[:2]}")

    def upsert(self) -> float:
        n_new = UPSERT_ROWS // 10
        keys = np.concatenate([
            self.rng.choice(self.order_keys, UPSERT_ROWS - n_new, replace=False),
            np.arange(self.n_orders, self.n_orders + n_new, dtype=np.int64),
        ])
        self.n_orders += n_new
        self.upsert_ts += pd.Timedelta(seconds=1)
        rows = pd.DataFrame({
            "o_orderkey": keys,
            "o_totalprice": np.round(self.rng.uniform(1000, 500_000, UPSERT_ROWS), 2),
            "o_orderdate": pd.Series([self.upsert_ts] * UPSERT_ROWS, dtype="datetime64[ns]"),
        })
        self.out.attempted += 1
        t0 = time.perf_counter()
        try:
            self.store.put(ORDER_TABLE, rows, ["o_orderkey"], "o_orderdate")
        except Exception as e:
            self.out.fail(f"upsert: {type(e).__name__}: {e}")
            return None
        ms = 1000 * (time.perf_counter() - t0)
        self.ref_orders.update(zip(rows.o_orderkey.tolist(), rows.o_totalprice.tolist()))
        return ms

    def loop(self, seconds: float):
        """Closed loop; returns (block seconds, read ms, upsert ms)."""
        from feathub_spark import LocalFeatureService

        service = LocalFeatureService(online_store=self.store)
        blocks, reads, upserts = [], [], []
        deadline = time.perf_counter() + seconds
        with self._store_spans("online_stores.upsert_put"):
            while len(blocks) < 2 or time.perf_counter() < deadline:
                t_block = time.perf_counter()
                for i in range(BLOCK_OPS):
                    if i % UPSERT_EVERY == UPSERT_EVERY - 1:
                        ms, into = self.upsert(), upserts
                    else:
                        ms, into = self.read(service), reads
                    if ms is not None:
                        into.append(ms)
                blocks.append(time.perf_counter() - t_block)
        return blocks, reads, upserts


def _num(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return float(v)


def online_serving(ctx, out: Outcome, trace: bool) -> None:
    tables = ctx.tables(SMOKE_SCALE if ctx.smoke else SCALE)
    srv = _Serving(ctx, out, tables)
    first = srv.load()
    out.setup_s = ctx.spark_start_s + first
    materialize_s = srv.load()
    srv.reference()
    blocks, reads, upserts = srv.loop(ctx.seconds)
    out.pass_s = blocks
    n_ops = len(reads) + len(upserts)
    p99 = tail(reads)
    out.detail = {
        "materialize_s": (materialize_s, "s"),
        "serve_p50_ms": (median(reads), f"ms (n={len(reads)})"),
        # the highest percentile with at least ten samples beyond it
        "serve_p99_ms": (p99[1] if p99 else max(reads, default=0.0),
                         f"ms (p{p99[0] if p99 else 100:g}, n={len(reads)})"),
        "serve_rps": (n_ops / sum(blocks), f"ops/s (n={n_ops})"),
        "upsert_p50_ms": (median(upserts), f"ms (n={len(upserts)})"),
    }
    if trace:
        out.layers, out.overhead_pct = _traced(ctx, srv, reads)


def _traced(ctx, srv: _Serving, untraced_reads: list):
    import feathub_spark.dsl.parser as dsl
    from feathub_spark import LocalRegistry, SparkProcessor
    from tracing import traced_calls

    tr = ctx.tracer
    tr.enabled = True
    with traced_calls(tr, [
        (LocalRegistry, "build_features", "registries.build_features"),
        (SparkProcessor, "get_table", "processors.spark.build"),
    ]):
        srv.load()
    table_rows = srv.stored_rows()
    with traced_calls(tr, [(dsl, "to_spark_sql", "dsl.lower")]):
        blocks, reads, upserts = srv.loop(ctx.seconds)
    tr.enabled = False
    after = srv.loop(ctx.seconds)[1]
    selfs = tr.self_seconds()
    n_reads, n_ups = max(1, len(reads)), max(1, len(upserts))
    layers = {
        # one load: two materialize calls
        "registries.build_features_s": selfs.get("registries.build_features", 0),
        "processors.spark.build_s": selfs.get("processors.spark.build", 0),
        "feature_tables.sink_s": selfs.get("feature_tables.sink", 0),
        "online_stores.load_put_ms": 1000 * tr.total_seconds("online_stores.load_put"),
        # per request or upsert
        "online_stores.get_ms": 1000 * tr.total_seconds("online_stores.get") / n_reads,
        "online_stores.upsert_put_ms":
            1000 * tr.total_seconds("online_stores.upsert_put") / n_ups,
        "feature_service.self_ms":
            1000 * selfs.get("feature_service.request", 0) / n_reads,
        "dsl.lower_ms": 1000 * tr.total_seconds("dsl.lower") / n_reads,
        "online_stores.table_rows": table_rows,
    }
    return layers, overhead_pct(untraced_reads, reads, after)
