"""Property-style cross-engine DSL check: randomly generated expressions in
the portable subset (arithmetic, comparisons, AND/OR/NOT, IS [NOT] NULL,
CASE) are evaluated three ways —

  1. DSL string -> parse_expr -> to_spark_sql -> Spark SQL,
  2. the ORIGINAL DSL string run directly by DuckDB (this subset is plain
     ANSI SQL), and
  3. DSL string -> parse_expr -> ExprAST.evaluate over Arrow arrays of the
     same rows (the on-demand serving path),

and every row must agree.  Because DuckDB parses the pre-lowering text, a
precedence or parenthesization bug in the DSL parser/lowering shows up as a
cross-engine mismatch even when the lowered SQL is itself self-consistent;
the in-process evaluator must compute what Spark computes.  Seeded RNG,
batched into one query per SQL engine, so the 200-expression sweep costs
two scans.
"""

import math
import random

import duckdb
import pyarrow as pa
import pytest

from feathub_spark.dsl.parser import evaluate, to_spark_sql

ROWS = [
    (1, 2, 0.5),
    (None, 3, 2.25),
    (4, None, None),
    (0, 0, -1.5),
    (7, 7, 7.0),
    (-3, 5, None),
]

_CMP = ["<", "<=", ">", ">=", "=", "<>"]


def _gen_num(rnd: random.Random, depth: int) -> str:
    if depth <= 0 or rnd.random() < 0.3:
        return rnd.choice(["a", "b", "c", str(rnd.randrange(0, 20)), "1.5", "0.25"])
    kind = rnd.random()
    if kind < 0.55:
        op = rnd.choice(["+", "-", "*"])
        l, r = _gen_num(rnd, depth - 1), _gen_num(rnd, depth - 1)
        # half the time rely on precedence instead of parentheses — the
        # whole point is that the parser must bind exactly like SQL
        if rnd.random() < 0.5:
            return f"({l} {op} {r})"
        return f"{l} {op} {r}"
    if kind < 0.8:
        cond = _gen_bool(rnd, depth - 1)
        l, r = _gen_num(rnd, depth - 1), _gen_num(rnd, depth - 1)
        return f"CASE WHEN {cond} THEN {l} ELSE {r} END"
    return f"(0 - {_gen_num(rnd, depth - 1)})"


def _gen_bool(rnd: random.Random, depth: int) -> str:
    if depth <= 0 or rnd.random() < 0.4:
        l, r = _gen_num(rnd, max(depth - 1, 0)), _gen_num(rnd, max(depth - 1, 0))
        return f"{l} {rnd.choice(_CMP)} {r}"
    kind = rnd.random()
    if kind < 0.6:
        op = rnd.choice(["AND", "OR"])
        l, r = _gen_bool(rnd, depth - 1), _gen_bool(rnd, depth - 1)
        if rnd.random() < 0.5:
            return f"({l} {op} {r})"
        return f"{l} {op} {r}"
    # the reference grammar has no standalone NOT — only IS [NOT] NULL
    null_kind = rnd.choice(["IS NULL", "IS NOT NULL"])
    return f"{_gen_num(rnd, depth - 1)} {null_kind}"


def _missing(x) -> bool:
    # no expression in this subset can produce a true NaN from non-null
    # inputs (no division/inf), so NaN is always pandas' NULL stand-in
    return x is None or (isinstance(x, float) and math.isnan(x))


def _eq(x, y) -> bool:
    if _missing(x) or _missing(y):
        return _missing(x) and _missing(y)
    if isinstance(x, float) or isinstance(y, float):
        return math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-12)
    return x == y


@pytest.mark.parametrize("seed", [101, 202])
def test_dsl_matches_ansi_sql_on_random_expressions(spark, seed):
    rnd = random.Random(seed)
    exprs = [
        _gen_num(rnd, 3) if i % 2 == 0 else _gen_bool(rnd, 3)
        for i in range(100)
    ]

    sdf = spark.createDataFrame(ROWS, "a bigint, b bigint, c double")
    sdf.createOrReplaceTempView("dsl_prop_t")
    spark_sql = ", ".join(
        f"({to_spark_sql(e)}) AS x{i}" for i, e in enumerate(exprs)
    )
    got = (
        spark.sql(f"SELECT {spark_sql} FROM dsl_prop_t")
        .toPandas()
        .where(lambda d: d.notna(), None)
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t (a BIGINT, b BIGINT, c DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", ROWS)
    duck_sql = ", ".join(f"({e}) AS x{i}" for i, e in enumerate(exprs))
    want = con.execute(f"SELECT {duck_sql} FROM t").df().where(
        lambda d: d.notna(), None
    )

    # the same rows as Arrow columns, as the serving path reads them
    columns = {
        "a": pa.array([r[0] for r in ROWS], pa.int64()),
        "b": pa.array([r[1] for r in ROWS], pa.int64()),
        "c": pa.array([r[2] for r in ROWS], pa.float64()),
    }

    for i, e in enumerate(exprs):
        col = f"x{i}"
        served = evaluate(e, columns, len(ROWS)).to_pylist()
        for r in range(len(ROWS)):
            g, w = got[col][r], want[col][r]
            assert _eq(g, w), (
                f"expr {e!r} lowered {to_spark_sql(e)!r} row {ROWS[r]}: "
                f"spark={g!r} duckdb={w!r}"
            )
            assert _eq(served[r], g), (
                f"expr {e!r} row {ROWS[r]}: evaluated={served[r]!r} spark={g!r}"
            )
