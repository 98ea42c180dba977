"""``batch_queries``: passes over FeatHub-core and LLM-data queries.

Each pass runs every query of the list once, in a seeded order: build the
DataFrame (``__spark_entry__.queries()[name](spark, tables)``), write it to
the ``noop`` sink, then release the engine's caches.  One untimed pass per
run collects every result and compares it with the query's DuckDB oracle
(``tools/check_correctness.compare``, run by ``oracle.py`` in a child
process); it doubles as the warm-up.

The build of a FeatHub-core query is traced as ``processors.spark.build``
and that of an LLM-data operator as ``datapipe.build``, so the traced run
splits the two layers although they share one workload.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import time

from metrics import Outcome, median, overhead_pct

# One query per family: every run pays a checked warm-up pass in which
# each query is several times slower (JIT, code generation, Python worker
# start), and a run of the benchmark should stay well under a minute.
OFFLINE_QUERIES = [
    "expr_filter",  # expressions and filters
    "over_range_1h",  # over window
    "sliding_2d_1d",  # sliding window
    "pit_join", "lookup_join",  # joins
    "sql_view_tpch_q1",  # SQL view
]

CORPUS_QUERIES = [
    "udf_token_count",  # Python / Arrow UDF
    "dedup_clusters", "pagerank",  # iterative operators
]

LAYER = {
    **{q: "processors.spark" for q in OFFLINE_QUERIES},
    **{q: "datapipe" for q in CORPUS_QUERIES},
}

# sf0.01 rather than sf0.1: a run pays Spark start-up and a cold checked
# pass before it measures, and must stay well under a minute
SCALE = 0.01
SMOKE_SCALE = 0.001


def _release(spark) -> None:
    from feathub_spark.common.caching import release_caches

    release_caches()
    spark.catalog.clearCache()


def _check_pass(ctx, out: Outcome, order: list, tables: str) -> float:
    """Run every query once and collect it, then have ``oracle.py``
    compare the results with the oracles in a child process; returns the
    engine's seconds (writing and comparing results excluded)."""
    import __spark_entry__ as entry

    queries = entry.queries()
    results = os.path.join(ctx.work, f"check-{os.getpid()}")
    shutil.rmtree(results, ignore_errors=True)
    os.makedirs(results)
    engine_s, collected = 0.0, []
    try:
        for name in order:
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                got = queries[name](ctx.spark, tables).toPandas()
            except Exception as e:
                out.fail(f"{name}: {type(e).__name__}: {e}")
                continue
            finally:
                _release(ctx.spark)
                engine_s += time.perf_counter() - t0
            got.to_pickle(os.path.join(results, f"{name}.pkl"))
            collected.append(name)
            del got
        if collected:
            _compare(out, tables, results, collected)
    finally:
        shutil.rmtree(results, ignore_errors=True)
    return engine_s


def _compare(out: Outcome, tables: str, results: str, names: list) -> None:
    proc = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "oracle.py"),
         tables, results, *names],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=170,
    )
    if proc.returncode != 0:
        for name in names:
            out.fail(f"{name}: oracle check exited {proc.returncode}: "
                     f"{proc.stderr.strip()[-300:]}")
        return
    for name, issues in json.loads(proc.stdout.strip().splitlines()[-1]).items():
        if issues:
            out.fail(f"{name}: {'; '.join(issues)}")


def _timed_pass(ctx, out: Outcome, order: list, tables: str):
    """One pass; returns (pass seconds, [(query, build s, action s)])."""
    import __spark_entry__ as entry

    queries, spark, tr, jobs = entry.queries(), ctx.spark, ctx.tracer, ctx.jobs
    ops = []
    t_pass = time.perf_counter()
    for name in order:
        out.attempted += 1
        try:
            with tr.span("query"):
                build = f"{LAYER[name]}.build"
                t0 = time.perf_counter()
                with jobs.group(tr, build), tr.span(build):
                    df = queries[name](spark, tables)
                t1 = time.perf_counter()
                with jobs.group(tr, "spark.exec"), tr.span("spark.exec"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                with tr.span("common.caching.release"):
                    _release(spark)
        except Exception as e:
            out.fail(f"{name}: {type(e).__name__}: {e}")
            _release(spark)
            continue
        ops.append((name, t1 - t0, t2 - t1))
    return time.perf_counter() - t_pass, ops


def _measure(ctx, out, names, tables, rng, seconds):
    passes, ops = [], []
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        pass_s, done = _timed_pass(ctx, out, rng.sample(names, len(names)), tables)
        passes.append(pass_s)
        ops += done
    return passes, ops


def _family_detail(ops: list) -> dict:
    """Per query family: median query time (build plus action) and the
    share of it spent building the DataFrame."""
    detail = {}
    for family, members in (("offline", OFFLINE_QUERIES), ("corpus", CORPUS_QUERIES)):
        rows = [(b, a) for name, b, a in ops if name in members]
        build, total = sum(b for b, _ in rows), sum(b + a for b, a in rows)
        detail[f"{family}_query_p50_ms"] = (
            1000 * median([b + a for b, a in rows]), f"ms (n={len(rows)})")
        detail[f"{family}_build_share"] = (build / total if total else 0.0, "ratio")
    return detail


def batch_queries(ctx, out: Outcome, trace: bool) -> None:
    names = list(LAYER)
    tables = ctx.tables(SMOKE_SCALE if ctx.smoke else SCALE)
    rng = random.Random(ctx.seed)
    out.setup_s = ctx.spark_start_s + _check_pass(
        ctx, out, rng.sample(names, len(names)), tables
    )
    out.pass_s, ops = _measure(ctx, out, names, tables, rng, ctx.seconds)
    out.detail = {"queries_per_pass": (len(names), "count"), **_family_detail(ops)}
    if trace:
        out.layers, out.overhead_pct = _traced(ctx, out, names, tables, rng)


def _traced(ctx, out, names, tables, rng):
    import feathub_spark.dsl.parser as dsl
    from feathub_spark import LocalRegistry
    from tracing import traced_calls

    tr = ctx.tracer
    tr.enabled = True
    with traced_calls(tr, [
        (LocalRegistry, "build_features", "registries.build_features"),
        (dsl, "to_spark_sql", "dsl.lower"),
    ]):
        passes, _ = _measure(ctx, out, names, tables, rng, ctx.seconds)
    tr.enabled = False
    after, _ = _measure(ctx, out, names, tables, rng, ctx.seconds)
    n = len(passes)
    selfs, counts = tr.self_seconds(), tr.counts
    layers = {
        # self times: the build span excludes the registry and DSL spans
        # nested in it
        "registries.build_features_s": selfs.get("registries.build_features", 0) / n,
        "processors.spark.build_s": selfs.get("processors.spark.build", 0) / n,
        "datapipe.build_s": selfs.get("datapipe.build", 0) / n,
        "spark.exec_s": selfs.get("spark.exec", 0) / n,
        "common.caching.release_s": selfs.get("common.caching.release", 0) / n,
        "dsl.lower_ms": 1000 * tr.total_seconds("dsl.lower") / n,
    }
    for key, value in counts.items():
        layers[key] = value / n
    return layers, overhead_pct(out.pass_s, passes, after)

