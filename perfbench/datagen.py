"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the ``__spark_entry__`` queries read (a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``), one parquet
file each, with the column names, types and value shapes those queries and
their DuckDB oracles expect.  The same ``(scale, seed)`` always gives the
same bytes of data, so every run of a workload sees the same inputs.

``scale`` follows TPC-H: 1.0 would be 6M lineitem rows; 0.01 gives 60k.

    python3 perfbench/datagen.py <out_dir> <scale> <seed>
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_DAY_US = 86_400_000_000


def _dates(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n) * np.timedelta64(1, "D")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale: float, seed: int) -> dict:
    """Return ``{table name: pandas.DataFrame}`` for one scale and seed."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(20, int(20_000 * scale))
    n_orders = max(150, int(1_500_000 * scale))
    n_items = 4 * n_orders
    n_events = max(1_000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = 500

    out = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
    }
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": keys,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
    })
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000, 500_000, n_orders),
        "o_orderdate": _dates(rng, n_orders, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    })
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n_items).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_items).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_items).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_items).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_items),
        "l_discount": rng.integers(0, 11, n_items) / 100.0,
        "l_tax": rng.integers(0, 9, n_items) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_items),
        "l_linestatus": rng.choice(["F", "O"], n_items),
        "l_shipdate": _dates(rng, n_items, "1995-01-02", 2500),
    })
    out["events"] = _events(rng, n_events, n_users)
    out["documents"] = _documents(rng, n_docs)
    vec = rng.standard_normal((n_docs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": list(vec),
        "label": rng.integers(0, 10, n_docs).astype(np.int32),
    })
    return out


def _events(rng, n_events: int, n_users: int, days: int = 30) -> pd.DataFrame:
    """``events`` rows: unique microsecond timestamps in January 2024,
    sorted, with uniformly drawn users, types and two-decimal values."""
    offsets = np.sort(rng.choice(days * _DAY_US, n_events, replace=False))
    values = np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2))
    return pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": values,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


def _documents(rng, n_docs: int) -> pd.DataFrame:
    # the last tenth are near-copies of earlier documents of 40+ words (one
    # word changed, " dup" appended): Jaccard stays far above the 0.5
    # threshold, so MinHash LSH recall is total and matches the exact oracle
    n_orig = n_docs - n_docs // 10
    texts = [
        " ".join(rng.choice(_WORDS, rng.integers(10, 100)))
        for _ in range(n_orig)
    ]
    long_docs = [i for i, t in enumerate(texts) if t.count(" ") >= 39]
    for src in rng.choice(long_docs, n_docs - n_orig, replace=False):
        words = texts[src].split()
        words[rng.integers(0, len(words))] = str(rng.choice(_WORDS))
        texts.append(" ".join(words) + " dup")
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    """Write ``df`` without the pandas index, timestamps at microseconds."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    if "embedding" in df.columns:
        table = table.set_column(
            table.schema.get_field_index("embedding"),
            "embedding",
            pa.array([v.tolist() for v in df["embedding"]], pa.list_(pa.float32())),
        )
    tmp = path + ".tmp"
    pq.write_table(table, tmp, coerce_timestamps="us")
    os.replace(tmp, path)


def write_tables(out_dir: str, scale: float, seed: int) -> None:
    """Materialize every table under ``out_dir``, then an empty ``_DONE``
    file that marks the directory complete."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(scale, seed).items():
        _write_parquet(df, os.path.join(out_dir, f"{name}.parquet"))
    open(os.path.join(out_dir, "_DONE"), "w").close()


if __name__ == "__main__":
    import sys

    write_tables(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
