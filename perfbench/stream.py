"""``stream_features``: a sliding view computed by Structured Streaming.

A ``SlidingFeatureView`` with 1d and 7d windows over per-user events is
read as a stream from seeded parquet files, one file per micro-batch
(``maxFilesPerTrigger=1``), with an ``availableNow`` trigger, through
``SparkProcessor.get_stream_dataframe``.  Each stream run starts from a
fresh checkpoint, so every run does the same work.  Every window a run
emits must equal the batch ``get_table`` result for the same view and
window (FeatHub's stream-batch parity).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from datetime import timedelta

import numpy as np
import pandas as pd

from metrics import Outcome, median, overhead_pct

N_EVENTS = 6_000
N_KEYS = 150
N_FILES = 3
SPAN_S = 30 * 86_400


def _write_events(root: str, seed: int, n_events: int, n_keys: int) -> str:
    """Seeded events split in time order into ``N_FILES`` parquet files of
    equal row counts; file mtimes increase with the index so the stream
    reads them in order."""
    rng = np.random.default_rng(seed)
    events = pd.DataFrame({
        "user_id": rng.integers(0, n_keys, n_events).astype(np.int64),
        "cost": rng.integers(0, 100, n_events).astype(np.int64),
        "t": np.sort(rng.integers(0, SPAN_S, n_events)).astype(np.int64),
    })
    cuts = np.linspace(0, n_events, N_FILES + 1).astype(int)
    d = os.path.join(root, "events")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    now = time.time()
    for i in range(N_FILES):
        path = os.path.join(d, f"part-{i:03d}.parquet")
        events.iloc[cuts[i]:cuts[i + 1]].to_parquet(path, index=False)
        os.utime(path, (now - N_FILES + i, now - N_FILES + i))
    return d


def _view(path: str):
    from feathub_spark import (
        Feature,
        FileSystemSource,
        Int64,
        Schema,
        SlidingFeatureView,
    )
    from feathub_spark.feature_views.transforms import SlidingWindowTransform

    schema = (
        Schema.new_builder()
        .column("user_id", Int64)
        .column("cost", Int64)
        .column("t", Int64)
        .build()
    )
    source = FileSystemSource(
        name="stream_events",
        path=path,
        data_format="parquet",
        schema=schema,
        keys=["user_id"],
        timestamp_field="t",
        timestamp_format="epoch",
        max_out_of_orderness=timedelta(seconds=0),
        data_format_props={"maxFilesPerTrigger": "1"},
    )

    def window(name, agg, days):
        return Feature(name, transform=SlidingWindowTransform(
            "cost", agg, window_size=timedelta(days=days),
            step_size=timedelta(days=1), group_by_keys=["user_id"],
        ))

    view = SlidingFeatureView(
        name="stream_user_stats",
        source=source,
        features=[window("sum_1d", "SUM", 1), window("cnt_7d", "COUNT", 7)],
        enable_empty_window_output=False,
        skip_same_window_output=False,
    )
    return source, view


def _rows(df: pd.DataFrame) -> dict:
    return {
        (int(r.user_id), int(r.window_time)): (int(r.sum_1d), int(r.cnt_7d))
        for r in df.itertuples(index=False)
    }


def _progress(query) -> dict:
    batch_ms, rows_max, bytes_max = [], 0, 0
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else p
        if not d.get("numInputRows"):
            continue  # the empty closing batch of an availableNow run
        batch_ms.append(d.get("batchDuration") or 0)
        for op in d.get("stateOperators") or []:
            rows_max = max(rows_max, op.get("numRowsTotal") or 0)
            bytes_max = max(bytes_max, op.get("memoryUsedBytes") or 0)
    return {"batch_ms": batch_ms, "state_rows": rows_max, "state_bytes": bytes_max}


class _Stream:
    def __init__(self, ctx, view, proc, expected: dict) -> None:
        self.ctx, self.view, self.proc = ctx, view, proc
        self.expected = expected
        self.runs = 0

    def run(self, out: Outcome):
        """One stream over every file; returns (wall s, progress) or None."""
        ctx, tr = self.ctx, self.ctx.tracer
        self.runs += 1
        name = f"perfbench_stream_{self.runs}"
        ckpt = os.path.join(ctx.work, "stream", f"ckpt-{self.runs}")
        out.attempted += 1
        try:
            t0 = time.perf_counter()
            with tr.span("streaming.build"):
                df = self.proc.get_stream_dataframe(self.view)
            query = (
                df.writeStream.outputMode("append").format("memory")
                .queryName(name).option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            with tr.span("spark.exec"):
                finished = query.awaitTermination(150)
            wall = time.perf_counter() - t0
            if not finished or query.exception() is not None:
                query.stop()
                raise RuntimeError(f"stream did not finish: {query.exception()}")
            progress = _progress(query)
            emitted = _rows(ctx.spark.table(name).toPandas())
        except Exception as e:  # a failed stream is a failed operation
            out.fail(f"stream run {self.runs}: {type(e).__name__}: {e}")
            return None
        finally:
            ctx.spark.sql(f"DROP VIEW IF EXISTS {name}")
            shutil.rmtree(ckpt, ignore_errors=True)
        wrong = [k for k, v in emitted.items() if self.expected.get(k) != v]
        if not emitted or wrong:
            out.fail(
                f"stream run {self.runs}: {len(wrong)} of {len(emitted)} "
                f"emitted windows differ from the batch result, e.g. {wrong[:3]}"
            )
        return wall, progress


def stream_features(ctx, out: Outcome, trace: bool) -> None:
    from feathub_spark import SparkProcessor

    n_events = 2_000 if ctx.smoke else N_EVENTS
    n_keys = 50 if ctx.smoke else N_KEYS
    root = os.path.join(ctx.work, "stream")
    t_setup = time.perf_counter()
    path = _write_events(root, ctx.seed, n_events, n_keys)
    proc = SparkProcessor(ctx.spark)
    view = proc.registry.build_features(list(_view(path)))[1]
    # the batch result of the same view is the reference for every run
    expected = _rows(proc.get_table(view).to_pandas())
    stream = _Stream(ctx, view, proc, expected)
    stream.run(out)  # warm-up, checked like every run
    out.setup_s = ctx.spark_start_s + time.perf_counter() - t_setup

    def measure(seconds):
        walls, batch_ms, last = [], [], None
        deadline = time.perf_counter() + seconds
        while not walls or time.perf_counter() < deadline:
            res = stream.run(out)
            if res is None:
                if out.failed > 3:
                    break
                continue
            walls.append(res[0])
            batch_ms += res[1]["batch_ms"]
            last = res[1]
        return walls, batch_ms, last

    walls, batch_ms, last = measure(ctx.seconds)
    out.pass_s = walls
    eps = n_events / median(walls) if walls else 0.0
    out.detail = {
        "stream_events_per_s": (eps, f"events/s (n={len(walls)})"),
        "stream_batch_p50_ms": (median(batch_ms), f"ms (n={len(batch_ms)})"),
    }
    if trace and walls:
        out.layers, out.overhead_pct = _traced(ctx, measure, walls)


def _traced(ctx, measure, walls: list):
    import feathub_spark.dsl.parser as dsl
    from feathub_spark import LocalRegistry
    from tracing import traced_calls

    tr = ctx.tracer
    tr.enabled = True
    with traced_calls(tr, [
        (LocalRegistry, "build_features", "registries.build_features"),
        (dsl, "to_spark_sql", "dsl.lower"),
    ]):
        traced, _, last = measure(ctx.seconds)
    tr.enabled = False
    after = measure(ctx.seconds)[0]
    if not traced or not after:
        return {}, 0.0
    runs = len(traced)
    selfs = tr.self_seconds()
    layers = {
        "registries.build_features_s": selfs.get("registries.build_features", 0) / runs,
        "streaming.build_s": selfs.get("streaming.build", 0) / runs,
        "spark.exec_s": selfs.get("spark.exec", 0) / runs,
        "dsl.lower_ms": 1000 * tr.total_seconds("dsl.lower") / runs,
        "streaming.batches": len(last["batch_ms"]),
        "streaming.batch_ms_max": max(last["batch_ms"] or [0]),
        "streaming.state_rows_max": last["state_rows"],
        "streaming.state_bytes_max": last["state_bytes"],
    }
    return layers, overhead_pct(walls, traced, after)
