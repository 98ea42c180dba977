"""Physical-plan audit across every queries() entry: per query, count
exchanges (net of reuse), flag cartesian/nested-loop joins, count window
operators, and check parquet scans report pushed filters / pruned schemas.

Complements tools/check_correctness.py (results) with the plan-shape side
of the 100 TB story.  One line per query; exit 1 if any query trips a
red flag (cartesian product / non-broadcast-bounded nested loop).

Usage: python tools/plan_audit.py [--dump DIR] [sf_dir] [query ...]

``--dump DIR`` also writes each selected query's optimized logical plan to
``DIR/<query>.txt`` with expression ids normalized (``#123`` -> ``#``), so
the plans of two source trees compare with ``diff -r`` — the check that a
refactor left every plan as it was:

    python tools/plan_audit.py --dump plans_a SF_DIR over_cumulative  # tree A
    python tools/plan_audit.py --dump plans_b SF_DIR over_cumulative  # tree B
    diff -r plans_a plans_b
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# queries whose plans intentionally carry a BroadcastNestedLoopJoin with a
# bounded build side (one-row cutoffs, corpus-independent codebooks,
# broadcast query sets) — anything else with a BNLJ is a red flag
_BOUNDED_BNLJ_OK = {
    "ngram_jaccard", "dedup_clusters", "select_survivors",
    "ann_topk", "ivf_ann", "ivf_ann_trained", "lsh_ann",
    "quantized_ann",  # broadcast query set (same shape as ann_topk)
    "quantized_ann_arrow",  # 32-row salt broadcast replicating the query set
    "target_encode",  # 1-row global-prior broadcast
    "hamming_ann",  # broadcast bit-packed query set
    "binary_rerank_ann",  # broadcast query set, both phases
    "embedding_neardup", "minhash_dedup", "cluster_sample",
    "token_surprisal",  # 1-row corpus-total broadcast onto the vocab table
    "importance_weights",  # 1-row (tot_src, tot_tgt, vocab) broadcast
    "cross_surprisal",  # 1-row reference-LM (N, V) broadcast
    "pq_ann",  # broadcast PQ codebook row + per-query LUTs (both bounded)
    "ivf_pq_ann",  # broadcast centroid array + PQ codebook rows (bounded)
    "quality_buckets",  # embeds token_surprisal's 1-row total broadcast
    "bigram_surprisal",  # 1-row bigram-type total broadcast
    "corpus_drift",  # 1-row totals broadcast onto the union vocab table
    "price_histogram",  # 1-row min/max bounds broadcast
    "bm25_search",  # 1-row (N, avgdl) corpus stats broadcast
    "hybrid_rrf",  # embeds bm25_search + brute-force query-set broadcasts
    "semantic_dedup",  # 1-row broadcast centroid array (bounded codebook)
    "cms_heavy_hitters",  # 1-row broadcast d*w sketch map (bounded grid)
    "bloom_prune",  # 1-row broadcast bloom bit array (bounded m_bits)
    "tokenize_ids",  # 1-row broadcast vocab map (bounded vocab_size)
    "key_skew",  # 1-row broadcast global-stats row
    "mmr_rerank",  # brute-force candidate stage (broadcast query set)
    "negative_samples",  # 1-row broadcast per-bucket-minimum ring summary
    "token_pmi",  # 1-row broadcast corpus totals (N_uni, N_bi)
    "zorder_key",  # 1-row broadcast per-column min/max stats
    "quantile_sample",  # 1-row broadcast GK bin-threshold array
}


def main() -> None:
    dump = None
    if sys.argv[1:2] == ["--dump"]:
        dump = sys.argv.pop(2)
        del sys.argv[1]
        os.makedirs(dump, exist_ok=True)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from feathub_spark import default_spark_session

    spark = default_spark_session("plan_audit", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    failures = []
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            qe = df._jdf.queryExecution()
            if dump:
                logical = re.sub(r"#\d+", "#", qe.optimizedPlan().toString())
                with open(os.path.join(dump, f"{name}.txt"), "w") as f:
                    f.write(logical)
            plan = qe.executedPlan().toString()
        except Exception as e:
            print(f"{name:24s} PLAN-ERROR {type(e).__name__}: {e}")
            failures.append(name)
            continue
        exchanges = plan.count("Exchange") - plan.count("ReusedExchange")
        windows = plan.count("windowspecdefinition")
        cartesian = "CartesianProduct" in plan
        bnlj = "BroadcastNestedLoopJoin" in plan
        flags = []
        if cartesian:
            flags.append("CARTESIAN")
        if bnlj and name not in _BOUNDED_BNLJ_OK:
            flags.append("BNLJ")
        status = "FLAG " + ",".join(flags) if flags else "ok"
        print(f"{name:24s} exchanges={exchanges:3d} windows={windows:3d} {status}")
        if flags:
            failures.append(name)

    print(f"\n{len(failures)} flagged" if failures else "\nall plans clean")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
