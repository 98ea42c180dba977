"""Benchmark of the feathub_spark engine: three FeatHub workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke [--trace 1]   # every workload, tiny inputs

Workloads (each in its own process at ``local[<cores>]``):

- ``batch_queries``: 6 FeatHub-core ``__spark_entry__`` queries
  (expressions, an over window, a sliding window, two joins, a SQL view)
  and 3 LLM-data operator queries (an Arrow UDF and two iterative
  operators, connected-component dedup and PageRank), each built and
  written to the ``noop`` sink.
- ``online_serving``: two views materialized into ``MemoryOnlineStore``,
  then a closed loop with one client: on-demand reads of 8 Zipf-drawn
  keys through ``LocalFeatureService``, plus 100-row upserts.
- ``stream_features``: a 1d/7d ``SlidingFeatureView`` read as a stream
  from parquet files, one file per micro-batch, ``availableNow`` trigger.

The tables are synthetic and fixed (``datagen.py``, data seed 42); the
``--seed`` sets the query order of each pass, the serving key draws and
upsert rows, and the stream's events.

Every run checks outputs: one untimed pass against the DuckDB oracles
(batch), every served value against a pandas recompute (serving), every
emitted stream window against the batch result of the same view (stream).
Wrong output and errors count in ``failed``.

End-to-end metrics (``--trace 0``), one set per workload:

- ``setup_s``: Spark session start plus the untimed warm-up (the checked
  pass, the first load, or the first stream run).
- ``pass_s``: median wall time of one pass over the workload's fixed unit
  of work: the query list; a block of 20 closed-loop operations; one
  stream run over every event file.  Whole passes repeat until
  ``--seconds`` have passed.
- ``py_peak_rss_mb``: peak RSS of this Python process.

Workload-specific figures (``serve_p50_ms``, ``upsert_p50_ms``,
``stream_events_per_s``, ``fail_ratio``...) are printed by name with their
units on the lines before the result.  ``--trace 1`` measures untraced,
traced, then untraced again, reports the per-layer metrics (``PER_LAYER``)
and the tracing overhead, and writes every span to ``.perfbench_work/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from metrics import Outcome, median, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")
DATA_SEED = 42

WORKLOADS = ["batch_queries", "online_serving", "stream_features"]

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "py_peak_rss_mb": "MB",
}

# per-layer metrics, each summed over spans and divided by the number of
# traced units (pass, request, load or stream); layers a workload never
# calls read 0
PER_LAYER = {
    "registries.build_features_s": "s",
    "processors.spark.build_s": "s",
    "processors.spark.build_jobs": "count",
    "datapipe.build_s": "s",
    "datapipe.build_jobs": "count",
    "datapipe.build_stages": "count",
    "spark.exec_s": "s",
    "spark.exec_jobs": "count",
    "spark.exec_stages": "count",
    "spark.exec_tasks": "count",
    "common.caching.release_s": "s",
    "feature_tables.sink_s": "s",
    "online_stores.get_ms": "ms",
    "online_stores.upsert_put_ms": "ms",
    "online_stores.load_put_ms": "ms",
    "online_stores.table_rows": "count",
    "feature_service.self_ms": "ms",
    "dsl.lower_ms": "ms",
    "streaming.build_s": "s",
    "streaming.batches": "count",
    "streaming.batch_ms_max": "ms",
    "streaming.state_rows_max": "count",
    "streaming.state_bytes_max": "bytes",
    "tracing.overhead_pct": "%",
}


class Context:
    """What every workload gets: the session, inputs and run settings."""

    def __init__(self, args, spark, spark_start_s, tracer, jobs) -> None:
        self.spark = spark
        self.spark_start_s = spark_start_s
        self.seed = args.seed
        self.seconds = args.seconds
        self.smoke = args.smoke
        self.tracer = tracer
        self.jobs = jobs
        self.work = WORK

    def tables(self, scale: float) -> str:
        """Directory of the fixed synthetic tables at ``scale``, generated
        on first use in a child process, so that this process's peak RSS
        does not depend on whether the tables already existed."""
        import subprocess

        d = os.path.join(self.work, f"tables-sf{scale:g}-{DATA_SEED}")
        if not os.path.exists(os.path.join(d, "_DONE")):
            subprocess.run(
                [sys.executable, os.path.join(HERE, "datagen.py"), d, str(scale), str(DATA_SEED)],
                check=True,
            )
        return d


def _prepare_environment() -> None:
    # Spark's Python workers import feathub_spark by module path, so the
    # repository must be on their PYTHONPATH whatever the caller's cwd.
    # Scratch files (Spark local dirs, JVM and Python temp files) stay
    # inside the checkout.
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    paths = [REPO, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")  # the inputs are small
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # tools/ for check_correctness.compare, the oracle comparison
    sys.path[:0] = [REPO, HERE, os.path.join(REPO, "tools")]


def _start_spark(workload: str):
    from feathub_spark import default_spark_session

    cores = len(os.sched_getaffinity(0))
    if workload == "stream_features":
        # one state partition per core: with the engine's default of 32,
        # every micro-batch runs 32 stateful Python tasks on a few cores
        os.environ["SPARK_SHUFFLE_PARTITIONS"] = str(cores)
    t0 = time.perf_counter()
    spark = default_spark_session("perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _workload(name: str):
    import batch
    import serving
    import stream

    return {
        "batch_queries": batch.batch_queries,
        "online_serving": serving.online_serving,
        "stream_features": stream.stream_features,
    }[name]


def report(out: Outcome, trace: bool) -> dict:
    if trace:
        values = {n: out.layers.get(n, 0.0) for n in PER_LAYER}
        values["tracing.overhead_pct"] = out.overhead_pct
        units = PER_LAYER
    else:
        values = {
            "setup_s": out.setup_s,
            "pass_s": median(out.pass_s),
            "py_peak_rss_mb": peak_rss_mb(),
        }
        units = END_TO_END
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in values.items()},
    }


def _print_detail(name: str, out: Outcome) -> None:
    rows = dict(out.detail)
    rows["setup_s"] = (out.setup_s, "s")
    rows["pass_s"] = (median(out.pass_s), f"s (n={len(out.pass_s)})")
    rows["py_peak_rss_mb"] = (peak_rss_mb(), "MB")
    ratio = out.failed / out.attempted if out.attempted else 1.0
    rows["fail_ratio"] = (ratio, f"ratio ({out.failed}/{out.attempted})")
    for metric, (value, unit) in rows.items():
        print(f"{name:18s} {metric:24s} {value:14.4f} {unit}")
    for e in out.errors:
        print(f"{name:18s} FAILED {e}")


def run_workload(args) -> dict:
    from tracing import SparkJobs, Tracer

    spark, start_s = _start_spark(args.workload)
    try:
        tracer = Tracer()
        ctx = Context(args, spark, start_s, tracer, SparkJobs(spark))
        out = Outcome()
        try:
            _workload(args.workload)(ctx, out, trace=args.trace)
        except Exception as e:  # the operation under way failed; report it
            out.attempted += 1
            out.fail(f"{type(e).__name__}: {e}")
        if args.trace:
            path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
            tracer.write(path, {"workload": args.workload, "seed": args.seed})
            print(f"trace written to {os.path.relpath(path, REPO)}")
        _print_detail(args.workload, out)
        return report(out, args.trace)
    finally:
        _stop_spark(spark)


def _smoke_all(args) -> dict:
    """Each workload in its own process on tiny inputs; the result sums
    the counts and prefixes each metric with its workload's name."""
    import subprocess

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--smoke",
               "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            raise SystemExit(f"{name} exited with code {proc.returncode}")
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for metric, v in res["metrics"].items():
            total["metrics"][f"{name}.{metric}"] = v
    return total


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--smoke", action="store_true",
        help="tiny inputs (sf0.001, a small stream); without --workload, "
        "runs every workload, each in its own process",
    )
    args = p.parse_args(argv)
    if args.workload is None and not args.smoke:
        p.error("--workload is required")
    _prepare_environment()
    import __spark_entry__  # noqa: F401  fail fast outside a full checkout

    result = run_workload(args) if args.workload else _smoke_all(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
