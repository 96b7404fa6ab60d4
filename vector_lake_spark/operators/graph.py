"""Graph operators over similarity/near-dup edge lists.

``connected_components_star`` (operators/dedup.py) handles cluster
membership; this module adds fixed-iteration PageRank — a centrality
score over the near-dup graph that surfaces "template hub" documents
(one boilerplate page near-duplicating hundreds of others scores high
and is a removal candidate for training corpora).

Scale shape per iteration: one equi-join of (edge, rank) + one sum
aggregate — shuffles 16-byte (id, contribution) rows, text never moves.
A FIXED iteration count (not run-to-convergence) keeps the operator
deterministic and SQL-expressible: the oracle unrolls the same
iterations as chained CTEs, so results hash-match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(
    pairs: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over an undirected pair list (id_a, id_b), fixed
    ``iterations``; ranks start at 1.0. Returns (id, rank) for every
    node appearing in a pair, rank rounded to 6 decimals.

    Symmetric edges mean every node has out-degree ≥ 1 — no dangling
    mass correction needed."""
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")).union(
        pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
    ).localCheckpoint(eager=True)
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select("a", F.lit(1.0).alias("r"))
    for _ in range(iterations):
        contrib = (
            edges.join(ranks, "a")
            .join(deg, "a")
            .select(F.col("b").alias("id"), (F.col("r") / F.col("deg")).alias("c"))
        )
        ranks = (
            contrib.groupBy("id")
            .agg((F.lit(1.0 - damping) + F.lit(damping) * F.sum("c")).alias("r"))
            .select(F.col("id").alias("a"), "r")
            .localCheckpoint(eager=True)
        )
    return ranks.select(F.col("a").alias("id"), F.round("r", 6).alias("rank"))


def knn_edges(pairs: DataFrame, k: int, mutual: bool = False) -> DataFrame:
    """k-NN graph from a scored pair list. Default is the UNION
    construction: an edge is kept if EITHER endpoint ranks it in its
    top-k. ``mutual=True`` keeps the stricter intersection — both
    endpoints must rank each other (each direction appears exactly once
    in the symmetrized rank input, so mutuality is a 2-count on the
    normalized pair; same shuffle, one extra count aggregate). Mutual
    k-NN graphs are sparser and hub-resistant (a popular node can be in
    everyone's top-k, but it only keeps k mutual edges), the usual
    choice before density-based clustering.

    ``pairs``: (id_a < id_b, sim) — typically the banded-LSH candidate
    pairs (``operators/ann.lsh_neardup_pairs`` with no threshold), so the
    candidate set is bounded by the banding at any scale. Each node keeps
    its ``k`` highest-similarity candidates (ties broken by neighbor id,
    similarity pre-rounded, so both engines rank identically); the union
    of per-node selections, normalized to (min, max), is the undirected
    edge set — the standard similarity-graph construction for semantic
    clustering.

    Scale shape: symmetrize (2× candidate rows, ids+sim only) → per-node
    window top-k (rank pushes a partial group limit below the exchange)
    → distinct. Vectors never enter this operator.

    Symmetrization is a single ``explode`` projection, NOT a self-union:
    a union's two legs each re-run the (expensive) candidate generation
    — measured 2× the whole query cost at sf0.1 — while materializing
    the pairs instead OOMs outright on dense candidate sets (measured at
    200k rows / ~10⁸ candidates). The explode keeps exactly one consumer
    of the candidate subplan and stays fully streaming."""
    from pyspark.sql import Window

    sym = pairs.filter(F.col("sim").isNotNull()).select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("u"), F.col("id_b").alias("v")
                ),
                F.struct(
                    F.col("id_b").alias("u"), F.col("id_a").alias("v")
                ),
            )
        ).alias("e"),
        "sim",
    ).select(F.col("e.u").alias("u"), F.col("e.v").alias("v"), "sim")
    w = Window.partitionBy("u").orderBy(F.col("sim").desc(), F.col("v").asc())
    top = sym.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    kept = top.select(
        F.least("u", "v").alias("id_a"),
        F.greatest("u", "v").alias("id_b"),
    )
    if mutual:
        # count DISTINCT directions, not raw rows: a duplicated input
        # pair would otherwise emit a one-sided edge as "mutual" (two
        # copies of one direction) and drop a real mutual edge (c == 4)
        # — r06 review finding. The distinct also absorbs the rank-slot
        # ambiguity a duplicate introduces on its own side.
        return (
            top.select(
                F.least("u", "v").alias("id_a"),
                F.greatest("u", "v").alias("id_b"),
                F.col("u").alias("direction"),
            )
            .distinct()
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") == 2)
            .select("id_a", "id_b")
        )
    return kept.distinct()


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle count via degree-oriented wedge join — one row:
    (n_nodes, n_edges, n_triangles).

    ``edges``: distinct undirected (id_a < id_b). Each edge is oriented
    from its lower-(degree, id) endpoint to the higher one, so every
    wedge is enumerated at exactly one center and out-degrees are
    bounded by ~sqrt(m) on any graph — the classic defense that keeps
    the wedge join from exploding on hub nodes (a hub of degree d is a
    wedge CENTER only for its few higher-degree neighbors, never d²
    times). The closing join probes the oriented edge set itself.

    The count is orientation-invariant, so the DuckDB oracle verifies it
    with the simpler ordered-id 3-way join.

    The edge list is consumed by five plan branches (two degree legs,
    the orient join, both wedge sides, the closing probe) — checkpoint
    once so upstream construction runs once (16-byte rows only). The
    oriented ``fwd`` plan is consumed three times (both wedge sides and
    the closing probe); checkpointing it too was tried (r05 ADVICE) and
    REVERTED on measurement: at sf0.1 the eager materialization is a
    blocking full pass that costs more than the shuffle-local
    degree/orient recompute it saves (A/B on local[32], 3 warm runs
    each: with fwd checkpoint 3.8–4.3 s, without 3.4–3.6 s). The edges
    checkpoint above already bounds the recompute depth, and at cluster
    scale the same trade holds — the recompute legs are map-side joins
    over the checkpointed edges, while a materialization pass writes
    the whole oriented edge list through the block manager."""
    edges = edges.localCheckpoint(eager=True)
    deg = (
        edges.select(F.col("id_a").alias("node"))
        .unionAll(edges.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        edges.join(
            deg.select(F.col("node").alias("id_a"), F.col("deg").alias("da")),
            "id_a",
        )
        .join(
            deg.select(F.col("node").alias("id_b"), F.col("deg").alias("db")),
            "id_b",
        )
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("id_a") < F.col("id_b"))
    )
    fwd = e.select(
        F.when(a_first, F.col("id_a")).otherwise(F.col("id_b")).alias("src"),
        F.when(a_first, F.col("id_b")).otherwise(F.col("id_a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddeg"),
    )
    e1, e2 = fwd.alias("e1"), fwd.alias("e2")
    wedges = e1.join(e2, F.col("e1.src") == F.col("e2.src")).filter(
        (F.col("e1.ddeg") < F.col("e2.ddeg"))
        | (
            (F.col("e1.ddeg") == F.col("e2.ddeg"))
            & (F.col("e1.dst") < F.col("e2.dst"))
        )
    )
    closing = fwd.select(
        F.col("src").alias("cx"), F.col("dst").alias("cy")
    )
    tris = wedges.join(
        closing,
        (F.col("e1.dst") == F.col("cx")) & (F.col("e2.dst") == F.col("cy")),
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    counts = edges.agg(
        F.count(F.lit(1)).alias("n_edges")
    ).crossJoin(
        F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
    )
    return counts.crossJoin(F.broadcast(tris)).select(
        "n_nodes", "n_edges", "n_triangles"
    )
