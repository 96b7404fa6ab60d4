"""Connected components: large-star/small-star contraction.

Star contraction closes a component in O(log) rounds whatever its
diameter (min-label propagation, the design it replaced, needed one round
per hop). Its (id, cluster_id=component min) labeling is checked against
a Python union-find reference.
"""

import random

import pytest

from vector_lake_spark.operators.dedup import connected_components_star


def _labels(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


def _python_cc(n_nodes, edges):
    """Reference union-find labeling (component min)."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


@pytest.mark.parametrize("seed", [1, 2])
def test_star_matches_propagation_random_graph(spark, seed):
    rnd = random.Random(seed)
    n = 200
    edges = [
        (rnd.randrange(n), rnd.randrange(n)) for _ in range(120)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")

    want = _python_cc(n, edges)
    got_star = _labels(connected_components_star(pairs, nodes))
    assert got_star == want


def test_star_closes_deep_chain(spark):
    """A diameter-4096 path: propagation would need 4096 rounds; star
    contraction must close it within its default 30-round budget and
    label every node 0."""
    n = 4097
    pairs = (
        spark.range(n - 1)
        .selectExpr("id AS id_a", "id + 1 AS id_b")
    )
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    labels = _labels(connected_components_star(pairs, nodes))
    assert len(labels) == n
    assert set(labels.values()) == {0}


def test_propagation_raises_on_deep_chain(spark):
    """CC must refuse (not silently mislabel) when a component needs
    more rounds than its budget: star contraction takes 9 rounds to close
    (and confirm) a 200-node path, so 4 cannot."""
    n = 200
    pairs = spark.range(n - 1).selectExpr("id AS id_a", "id + 1 AS id_b")
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(pairs, nodes, max_iter=4)


def test_observed_fingerprint_matches_direct_agg(spark):
    """r12: the per-round convergence fingerprint is collected via
    ``observe`` DURING the eager localCheckpoint job (one job per round)
    instead of a second full scan. Pin the mechanism the optimization
    relies on: the observed (count, bounded hash-sum) must equal the
    same aggregates computed by a direct .agg on the identical edge
    set — otherwise convergence detection would silently change."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    e = (
        spark.range(500)
        .selectExpr("id AS u", "pmod(id * 7 + 3, 500) AS v")
        .filter("u <> v")
    )
    want = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1_000_000_000))).alias("h"),
    ).collect()[0]

    obs = Observation("cc_sig_pin")
    ck = e.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1_000_000_000))).alias("h"),
    ).localCheckpoint(eager=True)
    got = obs.get
    assert (got["n"], got["h"]) == (want["n"], want["h"])
    # and the checkpoint really materialized the same edge multiset
    assert ck.count() == want["n"]


def test_round_restructure_matches_reference(spark):
    """r12 batch 3: the star round dropped large_star's trailing
    distinct and replaced both self-unions with single-explode
    emissions. Pin against the pre-r12-batch-3 round kept VERBATIM
    here: the post-small_star edge SET (what the fingerprint and the
    next round consume) must be identical every round, on a random
    graph with duplicated input pairs in both directions."""
    import random as _random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    u, v = F.col("u"), F.col("v")
    w_u = Window.partitionBy("u")

    def canon(e):
        return e.filter(u != v).distinct()

    def large_ref(e):  # pre-batch-3, verbatim
        sym = e.union(e.select(v.alias("u"), u.alias("v")))
        return canon(
            sym.withColumn("m", F.least(u, F.min("v").over(w_u)))
            .filter(v > u)
            .select(v.alias("u"), F.col("m").alias("v"))
        )

    def small_ref(e):  # pre-batch-3, verbatim
        orient = e.select(
            F.greatest(u, v).alias("u"), F.least(u, v).alias("v")
        ).filter(u != v)
        om = orient.withColumn("m", F.min("v").over(w_u))
        return canon(
            om.select(v.alias("u"), F.col("m").alias("v"))
            .union(om.select("u", F.col("m").alias("v")))
        )

    # current round, re-created through the public operator is awkward
    # (the loop is internal); reproduce the NEW round shape here and rely
    # on test_star_matches_propagation_random_graph for the end-to-end
    # operator. Keeping both shapes in one test makes the per-round
    # contract explicit.
    def sym_new(e):
        return e.select(
            F.explode(
                F.array(
                    F.struct(u.alias("u"), v.alias("v")),
                    F.struct(v.alias("u"), u.alias("v")),
                )
            ).alias("e")
        ).select("e.u", "e.v")

    def large_new(e):
        return (
            sym_new(e)
            .withColumn("m", F.least(u, F.min("v").over(w_u)))
            .filter(v > u)
            .select(v.alias("u"), F.col("m").alias("v"))
        )

    def small_new(e):
        orient = e.select(
            F.greatest(u, v).alias("u"), F.least(u, v).alias("v")
        ).filter(u != v)
        om = orient.withColumn("m", F.min("v").over(w_u))
        return canon(
            om.select(
                F.explode(
                    F.array(
                        F.struct(v.alias("u"), F.col("m").alias("v")),
                        F.struct(u.alias("u"), F.col("m").alias("v")),
                    )
                ).alias("e")
            ).select("e.u", "e.v")
        )

    rnd = _random.Random(11)
    n = 300
    edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(220)]
    edges = [(a, b) for a, b in edges if a != b]
    edges += edges[:30] + [(b, a) for a, b in edges[:20]]  # dup both ways
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    e_ref = canon(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    ).localCheckpoint(eager=True)
    e_new = e_ref
    for _ in range(6):
        e_ref = small_ref(large_ref(e_ref)).localCheckpoint(eager=True)
        e_new = small_new(large_new(e_new)).localCheckpoint(eager=True)
        assert e_ref.exceptAll(e_new).count() == 0
        assert e_new.exceptAll(e_ref).count() == 0


def test_star_converges_in_logarithmic_rounds(spark):
    """The observe-merged loop must still detect the true fixpoint: a
    diameter-256 chain closes within the O(log n)-ish round budget the
    docstring promises (measured 7 for diameter 4096), and the stats
    hook reports the round count. r13: detection can sit one round
    later than before — there is no round-0 fingerprint job anymore
    (the initial edge set is checkpointed lazily inside round 1's job),
    so the first comparable fingerprint pair is round1/round2."""
    n = 257
    pairs = spark.range(n - 1).selectExpr("id AS id_a", "id + 1 AS id_b")
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    stats = {}
    labels = _labels(connected_components_star(pairs, nodes, stats=stats))
    assert set(labels.values()) == {0}
    assert 1 <= stats["rounds"] <= 11


def test_already_converged_input_detected(spark):
    """r13 lazy-initial pin: an input that is already a star fixpoint
    (edges all (center < other), one star per component) must still
    label correctly and converge — detection now happens at round 2
    (round1 == round2 fingerprints), since round 0 no longer runs a
    fingerprint job."""
    edges = [(0, i) for i in range(1, 6)] + [(10, i) for i in range(11, 14)]
    pairs = spark.createDataFrame(
        [(b, a) for a, b in edges], ["id_a", "id_b"]
    )
    nodes = spark.range(14).withColumnRenamed("id", "doc_id")
    stats = {}
    labels = _labels(connected_components_star(pairs, nodes, stats=stats))
    want = _python_cc(14, edges)
    assert labels == want
    assert stats["rounds"] <= 3
