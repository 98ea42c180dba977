"""Graph centrality over similarity graphs — PageRank in EXACT integer
arithmetic, so the fixed-iteration result reproduces bit-for-bit in any
SQL engine (float PageRank is summation-order-dependent; integer
micro-units with floor division are not).

Motivation in this engine: near-duplicate detection emits a PAIR GRAPH
(minhash/jaccard/simhash/winnowing candidates).  Connected components
(dedup.dedup_clusters) answer "which rows are copies of each other";
centrality answers "which copy is the CANONICAL one" — the most-linked
version of a boilerplate-heavy page is usually the original — giving a
principled alternative to min-id/longest-text survivor rules.

Scale shape: each iteration is one join of the rank table onto the edge
list plus one groupBy on the destination — the standard distributed
PageRank round (contributions combine map-side; a hot node's in-edges
shuffle to one reducer key, the usual power-law caveat).  The driver
loop is control flow only (``common.caching.iterate``, shared with
dedup_clusters and bpe_train); a `localCheckpoint` truncates lineage
each round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from feathub_spark.common.parallelism import ensure_parallelism

# initial mass per node, in integer units (1.0 == UNIT)
UNIT = 1_000_000


def pagerank(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 3,
    damping_pct: int = 85,
    directed: bool = False,
    handle_sinks: str = "leak",
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list, exact to the last
    integer unit: ranks live in UNIT-scaled bigints, each round computes

        r'(v) = (100 - damping_pct) * UNIT / 100
                + damping_pct * sum_u floor(r(u) / outdeg(u)) / 100

    with floor division throughout — no float ever enters, so engines
    agree exactly and the oracle can unroll the same rounds in SQL.
    Undirected inputs (default) contribute along both directions.
    Nodes are the ids appearing in the edge list; with ``directed=True``
    a pure sink (no out-edges) keeps receiving mass but, under the default
    ``handle_sinks="leak"``, loses its own each round (the classic
    simplification).  ``handle_sinks="self_loop"`` instead adds a self-loop
    to every sink before iterating, so a sink retains (its damped share of)
    its own mass — the standard dangling-node fix expressed as edges, still
    exact-integer and still SQL-reproducible (the oracle adds the same
    self-loops).  With ``directed=False`` every node has out-edges by
    construction, so the option is a no-op there.

    Returns (id, rank_units bigint, rank double = units / UNIT)."""
    from feathub_spark.common.caching import iterate, register_cache

    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    if handle_sinks not in ("leak", "self_loop"):
        raise ValueError(f"unknown handle_sinks: {handle_sinks!r}")
    e = ensure_parallelism(edges).select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    raw_cache = None
    if not directed:
        # in-place symmetrize (see plan_shapes.symmetrize_pairs): the edge
        # list usually arrives as a live candidate-generation subplan
        # (ngram-jaccard pair expansion + verify) that a two-branch union
        # would run twice just to build the undirected edge set
        from feathub_spark.common.plan_shapes import symmetrize_pairs

        e = symmetrize_pairs(e, "src", "dst", "src", "dst")
    elif handle_sinks == "self_loop":
        # this branch scans the edge subplan three times (dst-distinct,
        # src-distinct anti, union) — materialize the raw list once first;
        # it is dead once the augmented list below is materialized, so it
        # is unpersisted right after (not left to release_caches)
        raw_cache = e = register_cache(e)
        e.count()
        sinks = (
            e.select(F.col("dst").alias("id"))
            .distinct()
            .join(e.select(F.col("src").alias("id")).distinct(), on="id", how="left_anti")
        )
        e = e.unionByName(
            sinks.select(F.col("id").alias("src"), F.col("id").alias("dst"))
        )
    # the edge list feeds nodes, degrees, AND every iteration's join — an
    # expensive upstream (e.g. ngram-jaccard pair generation) would
    # otherwise recompute iterations+2 times, and lazily-cached subplans
    # still race when the final action schedules the consuming stages
    # concurrently, so materialize EAGERLY (this operator is iterative —
    # it runs driver-side control flow anyway, like dedup_clusters).
    # Caller releases via release_caches().
    e = register_cache(e.distinct())
    e.count()
    if raw_cache is not None:
        raw_cache.unpersist()
    # LOOP-INVARIANT hoists: every iteration used to recompute the
    # node-id distinct AND re-join the edge list against the degree
    # table — both depend only on the (cached, frozen) edge set, so
    # materialize them once.  ``ed`` (src, dst, __deg__) replaces the
    # per-round e⋈deg join; once it and ``nodes`` are built the plain
    # edge cache is dead and is freed immediately (the raw_cache
    # pattern above), so peak cached state stays one edge-sized table.
    nodes = register_cache(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    nodes.count()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg__"))
    ed = register_cache(e.join(deg, on="src"))
    ed.count()
    e.unpersist()
    base = int((100 - damping_pct) * UNIT) // 100

    def _round(ranks: DataFrame) -> DataFrame:
        contrib = (
            ed.join(ranks, ed.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                F.expr("rank_units div __deg__").alias("__c__"),
            )
            .groupBy("id")
            .agg(F.sum("__c__").alias("__in__"))
        )
        return nodes.join(contrib, on="id", how="left").select(
            "id",
            (
                F.lit(base)
                + F.expr(f"({damping_pct} * coalesce(__in__, 0)) div 100")
            ).cast("bigint").alias("rank_units"),
        )

    # fixed round count, no convergence probe: building each round's lazy
    # checkpoint already runs its shuffle stages (AQE), and only the last
    # round's result stage waits for the caller's action — the chain stays
    # tracked until release_caches()
    ranks = nodes.withColumn("rank_units", F.lit(UNIT).cast("bigint"))
    ranks = iterate(ranks, _round, iterations)
    return ranks.withColumn(
        "rank", F.round(F.col("rank_units") / F.lit(float(UNIT)), 6)
    )


def _graph_core(edges: DataFrame, id_a: str, id_b: str):
    """Shared skeleton for the triangle family: the canonical undirected
    edge list, the degree table, and the degree-ordered oriented edge
    list — each materialized once because each feeds 2+ downstream
    branches (und: degrees + orientation; deg: both orientation sides +
    the coefficient join; e: both wedge sides + the closing join).  und
    and e are ``localCheckpoint(eager=True)`` — the same posture as
    ``dedup_clusters`` — for two reasons: the upstream is typically an
    expensive pair generation (ngram-jaccard / LSH) that a lazily-cached
    subplan would recompute per concurrently-scheduled branch, and
    lineage TRUNCATION keeps the wedge self-join's EXPLAIN tree from
    repeating the whole upstream subplan per consumer (a cached-but-not-
    truncated edge list printed 1400+ exchanges in the plan audit —
    planner time and audit noise, even though runtime reuse was fine).
    The usual localCheckpoint caveat applies: executor loss forces a job
    restart instead of partition recompute — acceptable for an operator
    that is driver-paced control flow anyway.  Returns (und(x, y),
    deg(n, d), e(u, v))."""
    from feathub_spark.common.caching import register_cache, track_checkpoint

    und = track_checkpoint(
        ensure_parallelism(edges)
        .select(
            F.least(F.col(id_a), F.col(id_b)).alias("x"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("y"),
        )
        .filter(F.col("x") < F.col("y"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = register_cache(
        und.select(F.col("x").alias("n"))
        .unionAll(und.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient every edge from its lower-(degree, id) endpoint to the
    # higher one — DEGREE orientation (not id order) bounds the wedge
    # fan-out by the graph's degeneracy: a hub's edges all point INTO
    # it, so its quadratic wedge set never materializes (an id-ordered
    # variant explodes on any hub that drew a small id — measured 100x
    # wedge blow-up on a 20k-spoke star)
    e = (
        und.join(deg.select(F.col("n").alias("x"), F.col("d").alias("dx")),
                 on="x")
        .join(deg.select(F.col("n").alias("y"), F.col("d").alias("dy")),
              on="y")
        .select(
            F.when(
                (F.col("dx") < F.col("dy"))
                | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))),
                F.struct(F.col("x").alias("u"), F.col("y").alias("v")),
            )
            .otherwise(
                F.struct(F.col("y").alias("u"), F.col("x").alias("v"))
            )
            .alias("o")
        )
        .select("o.u", "o.v")
        .localCheckpoint(eager=True)
    )
    e = track_checkpoint(e)
    return und, deg, e


def _per_node_triangles(e: DataFrame) -> DataFrame:
    """(node, n_triangles) from an oriented edge list: join oriented
    edges on the shared source to form wedges, close each wedge against
    the oriented set — every triangle is found EXACTLY once, at its
    minimum-(degree, id) corner — then credit all three corners."""
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), on=F.col("e1.u") == F.col("e2.u"))
        .filter(F.col("e1.v") < F.col("e2.v"))
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    # the closing edge may be degree-oriented either way between b and c;
    # canonicalize to id order — wedges already have b < c by construction
    closing = e.select(
        F.least("u", "v").alias("b"), F.greatest("u", "v").alias("c")
    )
    tris = wedges.join(closing, on=["b", "c"])
    # credit all three corners with ONE in-place explode, NOT a 3-branch
    # union: Catalyst does not dedupe repeated subplans, so the union
    # form re-evaluated the whole wedge + closing join once per corner
    # branch (three SortMergeJoin subtrees in the r14 plan dump) — the
    # most expensive joins in the query, run 3x for a column rename
    corners = tris.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def triangle_counts(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph — the
    local-density signal behind clustering coefficients: on a near-dup
    pair graph, nodes in many triangles sit inside tight copy-clusters
    (safe to collapse), while triangle-free bridge nodes are often
    LSH false positives worth re-verifying.

    Degree-ordered wedge closing (see :func:`_graph_core` /
    :func:`_per_node_triangles`).  Input rows are deduplicated and
    self-loops dropped.  Intermediates persist through the
    ``common.caching`` contract; call ``release_caches()`` after the
    FINAL action (the edge lists are checkpointed, so unlike plain
    cached intermediates they cannot be recomputed after release).
    Returns (node, n_triangles) for every node with >= 1 triangle."""
    _, _, e = _graph_core(edges, id_a, id_b)
    return _per_node_triangles(e)


def clustering_coefficients(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Local clustering coefficient per node: ``2T / (d(d-1))`` — the
    fraction of a node's neighbor pairs that are themselves connected.
    On a near-dup graph, cc ~ 1 marks a clique-like copy cluster (safe
    to collapse to one survivor) while low cc flags chain-shaped
    clusters where transitive merging may over-collapse.

    Shares the canonical edge list, degree table, AND oriented edge list
    with the triangle pass through :func:`_graph_core` — no
    re-canonicalization, one orientation.  Degree-1 nodes have no
    neighbor pairs and report NULL.  Intermediates persist through the
    ``common.caching`` contract (call ``release_caches()`` after the
    FINAL action — the checkpointed edge lists cannot be recomputed
    after release).  Returns (node, degree, n_triangles,
    clustering_coeff) for every node, coefficient rounded to 6 dp."""
    _, deg, e = _graph_core(edges, id_a, id_b)
    tri = _per_node_triangles(e)
    return (
        deg.select(
            F.col("n").alias("node"), F.col("d").cast("bigint").alias("degree")
        )
        .join(tri, on="node", how="left")
        .withColumn(
            "n_triangles", F.coalesce(F.col("n_triangles"), F.lit(0))
        )
        .withColumn(
            "clustering_coeff",
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0 * F.col("n_triangles")
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            ),
        )
    )
