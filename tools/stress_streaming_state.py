"""Streaming state-size stress for the sliding-window view.

docs/SCALE.md pins the measured numbers of a 1d+7d sliding view (100k
events / 1,500 keys); this tool re-runs that shape at an arbitrary scale so
the state bounds stay a measurement, not an assertion.  The view has no
emission flags, so it runs as Spark's native windowed aggregation (state
operator ``stateStoreSave``, one state row per key and open window); the
result is labelled with the state operator the query reports, so a run on
the stateful path (``applyInPandasWithState``, one row per key) shows as
such.  The round-8 10x run (1M events, same key count, ~10x denser
per-key history) is recorded next to the original number in SCALE.md.

Round 12 adds state-store capture: each run drains the query's progress
events and reports state rows, state bytes, and per-batch durations, so
the 1x vs 10x comparison is a table (events, wall, max state rows, max
state bytes, median batch ms) rather than a single wall number.

Usage:
  python tools/stress_streaming_state.py [scale]   # one run (default 10)
  python tools/stress_streaming_state.py --table   # 1x AND 10x, one JSON

``--table`` first runs one untimed 1x stream, so that neither timed run
pays the session's first-stream warm-up (JIT, code generation, the first
Python worker).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from datetime import timedelta

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

KEYS = 1_500
SPAN_S = 30 * 86_400  # events spread over 30 days


def _progress_metrics(query) -> dict:
    """State-store and batch-duration metrics from the query's retained
    progress events (availableNow runs finish with all batches present)."""
    rows_max = bytes_max = 0
    batch_ms, operators = [], set()
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else p
        batch_ms.append(d.get("batchDuration") or 0)
        for op in d.get("stateOperators") or []:
            operators.add(op.get("operatorName"))
            rows_max = max(rows_max, op.get("numRowsTotal") or 0)
            bytes_max = max(bytes_max, op.get("memoryUsedBytes") or 0)
    return {
        "operator": "+".join(sorted(o or "?" for o in operators)),
        "batches": len(batch_ms),
        "batch_ms_median": (
            round(statistics.median(batch_ms)) if batch_ms else 0
        ),
        "batch_ms_max": max(batch_ms) if batch_ms else 0,
        "state_rows_max": rows_max,
        "state_bytes_max": bytes_max,
    }


def run_one(spark, scale: int) -> dict:
    n_events = 100_000 * scale

    from pyspark.sql import functions as F

    from feathub_spark import (
        FileSystemSource,
        Int64,
        Schema,
        SlidingFeatureView,
        SparkProcessor,
        String,
    )
    from feathub_spark.feature_views.feature import Feature
    from feathub_spark.feature_views.transforms import SlidingWindowTransform

    workdir = tempfile.mkdtemp(prefix="stress_stream_")
    in_dir = os.path.join(workdir, "events")
    try:
        # deterministic scatter of timestamps (id * prime mod span) so every
        # trigger touches most keys and history stays dense
        spark.range(n_events).select(
            (F.col("id") % KEYS).cast("string").alias("k"),
            (F.col("id") % 100).alias("cost"),
            (F.col("id") * 1_000_003 % SPAN_S).alias("t"),
        ).coalesce(8).write.parquet(in_dir)

        schema = (
            Schema.new_builder()
            .column("k", String)
            .column("cost", Int64)
            .column("t", Int64)
            .build()
        )
        source = FileSystemSource(
            name=f"stress_stream_src_{scale}x",
            path=in_dir,
            data_format="parquet",
            schema=schema,
            keys=["k"],
            timestamp_field="t",
            timestamp_format="epoch",
            max_out_of_orderness=timedelta(seconds=10),
        )
        view = SlidingFeatureView(
            name=f"stress_stream_view_{scale}x",
            source=source,
            features=[
                Feature(
                    "sum_1d",
                    transform=SlidingWindowTransform(
                        "cost", "SUM", window_size=timedelta(days=1),
                        step_size=timedelta(days=1), group_by_keys=["k"],
                    ),
                ),
                Feature(
                    "cnt_7d",
                    transform=SlidingWindowTransform(
                        "cost", "COUNT", window_size=timedelta(days=7),
                        step_size=timedelta(days=1), group_by_keys=["k"],
                    ),
                ),
            ],
            enable_empty_window_output=False,
            skip_same_window_output=False,
        )
        proc = SparkProcessor(spark)
        proc.registry.build_features([source, view])

        t0 = time.time()
        q = (
            proc.get_stream_dataframe(view)
            .writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(1_800)
        wall = time.time() - t0
        out = {"events": n_events, "keys": KEYS, "wall_s": round(wall, 1)}
        out.update(_progress_metrics(q))
        return out
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def main() -> None:
    from feathub_spark import default_spark_session

    spark = default_spark_session("stress_streaming_state", cpus=0)
    spark.sparkContext.setLogLevel("ERROR")

    if "--table" in sys.argv:
        run_one(spark, 1)  # warm-up, not reported
        table = {}
        for scale in (1, 10):
            table[f"{scale}x"] = run_one(spark, scale)
            print(f"{scale}x: {table[f'{scale}x']}", file=sys.stderr)
        print(json.dumps(table))
        return

    scale = 10
    for a in sys.argv[1:]:
        if a.isdigit():
            scale = int(a)
    res = run_one(spark, scale)
    print(
        f"RESULT {res['operator']} {res['events']} events / {KEYS} keys "
        f"(1d+7d): {res['wall_s']}s on {spark.sparkContext.master}; "
        f"state_rows_max={res['state_rows_max']} "
        f"state_bytes_max={res['state_bytes_max']} "
        f"batch_ms_median={res['batch_ms_median']}"
    )


if __name__ == "__main__":
    main()
