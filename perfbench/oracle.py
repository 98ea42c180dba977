"""Correctness check of the ``batch_queries`` checked pass, in its own process.

The measured process writes each query's collected result as a pickled
pandas frame into ``<results_dir>/<name>.pkl``.  This process compares each
with the query's DuckDB oracle (``__spark_entry__.oracle_sql()``) through
``tools/check_correctness.compare`` and prints ``{name: [issues]}`` as one
JSON line; a query without an oracle must at least produce rows.  DuckDB
so never loads in the measured process.  The tables are fixed, so each
oracle result is computed once and kept as ``<tables_dir>/oracle/<name>.pkl``.

    python3 perfbench/oracle.py <tables_dir> <results_dir> <name>...
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "tools")]


def _expected(tables: str, names: list, sql: dict) -> dict:
    """``{name: oracle frame}``, computing and keeping missing ones."""
    import duckdb
    from check_correctness import TABLES

    d = os.path.join(tables, "oracle")
    os.makedirs(d, exist_ok=True)
    paths = {n: os.path.join(d, f"{n}.pkl") for n in names if n in sql}
    missing = [n for n, p in paths.items() if not os.path.exists(p)]
    if missing:
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables, t)}.parquet'")
        for n in missing:
            tmp = paths[n] + ".tmp"
            con.execute(sql[n]).df().to_pickle(tmp)
            os.replace(tmp, paths[n])
        con.close()
    return {n: pd.read_pickle(p) for n, p in paths.items()}


def check(tables: str, results: str, names: list) -> dict:
    from __spark_entry__ import oracle_sql
    from check_correctness import compare

    expected = _expected(tables, names, oracle_sql())
    issues = {}
    for n in names:
        got = pd.read_pickle(os.path.join(results, f"{n}.pkl"))
        if n not in expected:
            issues[n] = [] if len(got) else ["no rows"]
            continue
        found = compare(n, got, expected[n])
        issues[n] = [i for i in found if not i.startswith("[dtype-warn]")]
    return issues


if __name__ == "__main__":
    print(json.dumps(check(sys.argv[1], sys.argv[2], sys.argv[3:])))
