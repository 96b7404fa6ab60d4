"""Approximate nearest-neighbor search over an embedding column.

Baseline: exact brute-force top-k (operators/topk — TakeOrderedAndProject,
no global sort). Scale paths:

- LSH shard-bucketed search — the reference's own strategy (route the query
  with the seeded hyperplane hash, probe only that shard:
  ``/root/reference/vector_lake/core/index.py:487-537``) re-expressed as a
  partition-pruned scan + exact re-rank (SURVEY.md §4.3). Strictly better
  recall than the reference's low-ef HNSW at identical I/O cost.
- Multi-probe extension: also visit the shards reachable by flipping the
  lowest-|margin| hash bits (the reference's ``adjacent_routing`` name
  gestures at this but only ever probes one shard — index.py:487-489).
- IVF: k-means centroids (Spark ML, seeded) → assign each vector to its
  nearest centroid partition → probe the ``nprobe`` closest centroids.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, functions as F

from vector_lake_spark.functions.vectors import (
    l2_distance,
    lit_vector,
    to_double_array,
)
from vector_lake_spark.fsutil import read_json, write_json
from vector_lake_spark.operators import lsh as lsh_mod
from vector_lake_spark.operators.topk import SCORE_DECIMALS, topk_cosine


def multiprobe_shards(
    query: Sequence[float], hyperplanes: np.ndarray, n_probes: int = 1
) -> list[int]:
    """The routed shard plus the (n_probes−1) shards reached by flipping the
    smallest-margin sign bits — deterministic, driver-side arithmetic."""
    v = np.asarray(query, dtype=np.float64)
    dots = hyperplanes @ v
    base = lsh_mod.route_vector(v, hyperplanes)
    nh = len(hyperplanes)
    order = np.argsort(np.abs(dots))  # smallest margin first
    shards = [base]
    for j in order:
        if len(shards) >= n_probes:
            break
        flipped = base ^ (1 << (nh - 1 - int(j)))
        if flipped not in shards:
            shards.append(flipped)
    return shards[:n_probes]


def lsh_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int,
    hyperplanes: np.ndarray,
    n_probes: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    shard_col: str | None = None,
) -> DataFrame:
    """LSH-pruned exact top-k: restrict to the query's probe shard(s), then
    exact cosine re-rank.

    If ``shard_col`` names a physical partition column (the store writes
    ``partitionBy("shard_id")``), the filter is pruned at planning time and
    only ~1/num_shards of the data is read — the 100 TB path. Otherwise the
    shard id is computed on the fly (still a single scan, no shuffle)."""
    probes = multiprobe_shards(query, hyperplanes, n_probes)
    if shard_col is None:
        df = df.withColumn(
            "__shard",
            lsh_mod.shard_id_expr(
                f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)", hyperplanes
            ),
        )
        shard_col = "__shard"
    pruned = df.filter(F.col(shard_col).isin(probes))
    return topk_cosine(pruned, query, k, vec_col=vec_col, id_col=id_col)


def auto_band_bits(
    n_rows: int,
    n_shards: int,
    target_density: int = 256,
    floor: int = 2,
    ceiling: int = 16,
) -> int:
    """Corpus-sized band width for ``lsh_neardup_pairs`` — the density
    rule from its docstring made executable (VERDICT r09 #2): expected
    rows per (shard, band, key) bucket is n / (n_shards · 2^band_bits),
    and the bucket join's candidate count grows with density², so size
    2^band_bits to hold density at ``target_density``:

        band_bits = max(floor, ceil(log2(n / (n_shards · D))))

    At the driver's oracle scales this resolves to the shallow ``floor``
    (sf0.01: 500 rows → 2; sf0.1: 5 000 → 2 — recall at the low test
    threshold is preserved and the static SQL oracles stay exact), and
    on the measured r09 cliff corpus (200 000 rows, 16 shards) it
    resolves to 6 — the config measured at 216 s where the fixed
    band_bits=2 default took 2 038 s (SCALE.md, semantic-dedup rung)."""
    import math

    if n_rows <= 0:
        return floor
    density = n_rows / (n_shards * target_density)
    if density <= 1:
        return floor
    return min(ceiling, max(floor, math.ceil(math.log2(density))))


def lsh_neardup_pairs(
    df: DataFrame,
    hyperplanes: np.ndarray,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    n_bands: int,
    band_bits: int | None = 0,
    n_rows: int | None = None,
) -> DataFrame:
    """LSH shard-bucketed near-duplicate pairs — the 100 TB scale path for
    ``dedup.embedding_neardup_pairs``: candidates are restricted to pairs
    in the *same* LSH shard, then exactly re-ranked. The candidate
    restriction is deterministic (seeded hyperplanes), so the result is
    still oracle-checkable.

    **Second-level banding** (``n_bands`` ≥ 1, ``band_bits`` — VERDICT
    r02 #2): a shard-only equi-join is quadratic *within* a shard, and
    LSH shards on real embedding distributions are skewed — a hot shard
    holding x% of a 100 TB corpus contributes (x%·N)² candidate pairs
    regardless of AQE. So each row also gets ``n_bands`` keys from
    independent seeded hyperplanes (``band_bits`` sign bits each,
    SimHash-band style) and a pair is a candidate iff it shares the
    shard AND agrees on ALL bits of AT LEAST ONE band. The join key is
    (shard, band, key): per-key bucket size drops by ~2^band_bits
    regardless of how skewed the shard distribution is, which is what
    bounds the pair count by design.

    Recall at the threshold boundary is 1-(1-p^band_bits)^n_bands with
    p = 1 - arccos(threshold)/π. Tune per threshold: at a real dedup
    threshold (≥0.8, p ≥ 0.8) use band_bits=6..8 with n_bands=8 for
    ~30× candidate reduction at ~90% recall; at the low testdata
    threshold (0.35) only shallow bands (band_bits=2) keep recall, so the
    default registry config trades a smaller split for ~94% recall.

    Measured cliff (r09, SCALE.md "Semantic dedup mult100 rung"): on a
    200k-row corpus that is DENSE at the threshold (17 clusters total),
    band_bits=2 leaves only 4 keys per band and the bucket cliques go
    quadratic — 2037.6 s end-to-end vs 216.1 s at band_bits=6 on the
    same corpus. Size ``2^band_bits`` to at least the expected bucket
    density (≥6 for low thresholds at scale); ``band_bits=None`` does
    that from the corpus row count (``auto_band_bits``).

    Shuffle (r04, from the 200k-row stress — SCALE.md "Near-dup at 200k
    rows"): each banded row carries its vector INTO the bucket join
    (n_bands × corpus shuffle, narrow ids only afterwards), so candidate
    pairs are scored as the join streams and never materialize
    unscored. Each pair is scored once, at its FIRST matching band (the
    residual requires earlier band keys to differ), so no pair-dedup
    exchange follows. Measured at 200k rows / ~10⁸ candidates, a
    candidate-then-join-back plan exceeded 80 GB of local spill
    (ENOSPC) where this one completes with a ~1 GB bucket-join shuffle.
    """
    from vector_lake_spark.functions.vectors import dot, norm
    from vector_lake_spark.operators.lsh import (
        make_band_hyperplanes,
        shard_id_expr,
    )

    if n_bands < 1:
        raise ValueError(f"n_bands must be >= 1, got {n_bands}")
    if band_bits is None:
        # auto-size the band width from the corpus (r10, VERDICT r09 #2):
        # one count job — cheap against the banded join it protects, and
        # at 100 TB a count over parquet footers is metadata work. The
        # seeded hyperplanes depend only on the RESULT, so the pair set
        # stays a deterministic function of (corpus, seed). r13: callers
        # whose ``df`` IS a whole corpus table pass ``n_rows`` (the
        # cached footer statistic, sources.table_rows) so the job is not
        # re-run on every query build.
        band_bits = auto_band_bits(
            df.count() if n_rows is None else n_rows,
            2 ** len(hyperplanes),
        )

    base = df.select(
        F.col(id_col).alias("id"),
        to_double_array(F.col(vec_col)).alias("v"),
    ).withColumn("shard", shard_id_expr("`v`", hyperplanes))
    base = base.withColumn("nv", norm(F.col("v")))
    # NOT materialized (r12 negative result, twice measured): base is
    # consumed by both banded key sides and both vector attachments,
    # but its subtree is scan + sign-hash codegen, and BOTH a lazy
    # localCheckpoint (1.34 → 2.90 s) and a repartition-for-AQE-reuse
    # barrier (1.33 → 1.91 s) measured worse than recomputing it.
    # Materialize-for-reuse pays only when the duplicated subtree holds
    # expensive Python/Arrow work (the Hamming codec chain, the
    # shingle tokenize pass) — not cheap whole-stage arithmetic.

    sim = F.round(
        F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")), 6
    )
    bands = make_band_hyperplanes(hyperplanes.shape[1], n_bands, band_bits)
    # one (id, shard, band, bkey) row per (vector, band): the 8-byte keys
    # explode n_bands×, and the vectors attach once per row below
    keys = base.select(
        "id",
        "shard",
        F.array(
            *[shard_id_expr("`v`", bands[bi]) for bi in range(n_bands)]
        ).alias("bkeys"),
    ).select(
        "id",
        "shard",
        "bkeys",
        F.explode(
            F.array(*[F.lit(bi) for bi in range(n_bands)])
        ).alias("band"),
    ).select(
        "id",
        "shard",
        "band",
        F.element_at("bkeys", F.col("band") + 1).alias("bkey"),
        "bkeys",
    )
    first_match = reduce(
        lambda acc, j: acc
        & (
            (F.col("band") <= F.lit(j))
            | (F.element_at("bka", j + 1) != F.element_at("bkb", j + 1))
        ),
        range(n_bands - 1),
        F.col("id_a") < F.col("id_b"),
    )
    keyed = keys.join(base.select("id", "v", "nv"), "id")
    ka = keyed.select(
        F.col("id").alias("id_a"), "shard", "band", "bkey",
        F.col("bkeys").alias("bka"),
        F.col("v").alias("va"), F.col("nv").alias("na"),
    )
    kb = keyed.select(
        F.col("id").alias("id_b"), "shard", "band", "bkey",
        F.col("bkeys").alias("bkb"),
        F.col("v").alias("vb"), F.col("nv").alias("nb"),
    )
    return (
        ka.join(kb, ["shard", "band", "bkey"])
        .filter(first_match)
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def assign_centroid_expr(vec: "F.Column", centroids: list[list[float]]) -> "F.Column":
    """Nearest-centroid id as a pure column expression — no ML at query time.

    With a pinned codebook (``operators/ivf_centroids.IVF_CENTROIDS``,
    fitted once offline by ``scripts/fit_ivf_centroids.py``) assignment is
    just an argmin over k literal distances, which Catalyst keeps inside
    whole-stage codegen. Distances round to ``SCORE_DECIMALS`` before the
    argmin and ties take the lowest centroid id, so the rule is
    engine-independent and the DuckDB oracle (``ivf_assign_sql``) computes
    the identical assignment — this is what makes the IVF queries
    hash-checkable. At 100 TB this is the standard IVF posture: fit on a
    sample once, assign/probe with a fixed codebook forever (one scan,
    k·dim fused multiply-adds per row, no shuffle)."""
    # one transform over the codebook literal, not k separate
    # zip_with/aggregate kernels — same arithmetic (identical fold order,
    # rounding, ties) but a ~k× smaller expression tree; the per-centroid
    # form re-evaluated the vector subtree per distance (r06, measured on
    # the PQ twin of this argmin: unrolled/per-centroid/transform =
    # 15.6/8.0/1.0 s for identical results)
    book = F.array(*[lit_vector(c) for c in centroids])
    dists = F.transform(
        book,
        lambda c: F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            SCORE_DECIMALS,
        ),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def nearest_centroids(
    query: Sequence[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """Probe set: the ``nprobe`` centroids nearest the query, under the SAME
    rounded-distance + lowest-id tie rule as ``assign_centroid_expr`` —
    driver-side constants (the codebook is tiny), identical in both engines
    because the oracle SQL inlines the ids this function returns. Rounding
    is explicit HALF-UP (``floor(x·10⁶ + 0.5)``) to match Spark/DuckDB
    ``round`` — Python's built-in ``round`` is half-to-even and could
    disagree with the assignment rule on an exact boundary."""
    import math

    def round_half_up(x: float) -> float:
        scale = 10**SCORE_DECIMALS
        return math.floor(x * scale + 0.5) / scale

    q = [float(x) for x in query]
    dists = [
        (
            round_half_up(
                math.sqrt(sum((a - b) * (a - b) for a, b in zip(q, c)))
            ),
            i,
        )
        for i, c in enumerate(centroids)
    ]
    return [i for _, i in sorted(dists)[:nprobe]]


def ivf_assign_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    """DuckDB expression mirroring ``assign_centroid_expr`` exactly:
    rounded L2 to each pinned centroid, argmin, first index on ties
    (``list_position`` returns the first match)."""
    dim = len(centroids[0])
    cs = "[" + ", ".join(lsh_mod.sql_lit_list(c) for c in centroids) + "]"
    dists = (
        f"list_transform({cs}, c -> round(sqrt(list_sum("
        f"list_transform(range(1, {dim + 1}), "
        f"i -> ({vec_sql}[i] - c[i]) * ({vec_sql}[i] - c[i])))), {SCORE_DECIMALS}))"
    )
    return f"CAST(list_position({dists}, list_min({dists})) - 1 AS INT)"


def ivf_build(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
):
    """Train seeded k-means centroids and return (assigned_df, centroids).

    ``assigned_df`` carries a ``centroid_id`` column suitable for
    ``write.partitionBy`` — the IVF index IS the partition layout.

    ``sample_fraction`` is the 100 TB knob: k-means is iterative (one
    full scan per iteration), so at scale fit the centroids on a seeded
    sample (~1M rows is plenty for any realistic n_centroids) and run
    only the single assignment pass over the full corpus. Unset, the fit
    uses all rows (fine at test scale, exact-reproducible)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    feats = df.withColumn("__features", array_to_vector(to_double_array(F.col(vec_col))))
    train = (
        feats.sample(fraction=sample_fraction, seed=seed)
        if sample_fraction is not None
        else feats
    )
    km = KMeans(k=n_centroids, seed=seed, featuresCol="__features", predictionCol="centroid_id")
    model = km.fit(train)
    assigned = model.transform(feats).drop("__features")
    centroids = [c.tolist() for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    assigned_df: DataFrame,
    centroids: list[list[float]],
    query: Sequence[float],
    k: int,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the ``nprobe`` nearest centroid partitions, exact re-rank."""
    probe_ids = nearest_centroids(query, centroids, nprobe)
    pruned = assigned_df.filter(F.col("centroid_id").isin([int(i) for i in probe_ids]))
    return topk_cosine(pruned, query, k, vec_col=vec_col, id_col=id_col)


class IVFIndex:
    """Persisted IVF index: the partition layout IS the index.

    ``build`` trains seeded k-means, assigns each vector to its nearest
    centroid, and writes ``partitionBy("centroid_id")`` Parquet plus a
    centroid sidecar. ``topk`` picks the ``nprobe`` nearest centroids
    driver-side (centroids are tiny) and reads only those partition
    directories — ``PartitionFilters`` prunes at planning time, so a
    query touches ~nprobe/n_centroids of a 100 TB corpus
    (plan-pinned by ``tests/test_ivf.py``). ``nprobe = n_centroids``
    degrades gracefully to exact brute-force search.

    The reference has no IVF (its ANN is per-shard HNSW with ≈0 recall —
    SURVEY.md §3.2); this is the scale-path replacement alongside the LSH
    store."""

    SIDECAR = "_ivf_meta.json"

    def __init__(self, spark, location: str):
        self.spark = spark
        self.location = str(location)
        meta = read_json(spark, f"{self.location}/{self.SIDECAR}")
        self.centroids = meta["centroids"]
        self.vec_col = meta["vec_col"]
        self.id_col = meta["id_col"]
        # per-centroid row counts at last build/append (older sidecars
        # lack them; drift() then reconstructs from the data)
        self.counts = {
            int(k): int(v) for k, v in meta.get("counts", {}).items()
        } or None

    def _write_meta(self) -> None:
        """Rewrite the sidecar from this index's state (``append``)."""
        write_json(self.spark, f"{self.location}/{self.SIDECAR}", {
            "centroids": self.centroids,
            "vec_col": self.vec_col,
            "id_col": self.id_col,
            "counts": {str(k): v for k, v in self.counts.items()},
        })

    @classmethod
    def build(
        cls,
        spark,
        location: str,
        df: DataFrame,
        n_centroids: int = 16,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        sample_fraction: float | None = None,
        centroids: list[list[float]] | None = None,
    ) -> "IVFIndex":
        """Build the partitioned index. Pass ``centroids`` to skip the
        iterative fit entirely and assign with the pure-expression argmin
        (``assign_centroid_expr``) — the deterministic, oracle-checkable
        path used by the registry's ``ann_ivf_stored``."""
        if centroids is not None:
            assigned = df.withColumn(
                "centroid_id",
                assign_centroid_expr(to_double_array(F.col(vec_col)), centroids),
            )
        else:
            assigned, centroids = ivf_build(
                df,
                n_centroids=n_centroids,
                vec_col=vec_col,
                seed=seed,
                sample_fraction=sample_fraction,
            )
        (
            assigned.select(id_col, vec_col, "centroid_id")
            # cluster rows by centroid so each partition dir gets one file
            # per build, not one per write task
            .repartition("centroid_id")
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            # plain string join + Hadoop FS below: pathlib would collapse
            # the double slash in scheme URIs (s3a://b → s3a:/b) and only
            # ever touch the driver's local disk
            .parquet(f"{location}/data")
        )
        # count what actually landed (one narrow centroid_id-column read
        # of the freshly written data — cheaper than re-running the
        # assignment expressions over the source)
        counts = {
            r["centroid_id"]: r["n"]
            for r in spark.read.parquet(f"{location}/data")
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        write_json(spark, f"{location}/{cls.SIDECAR}", {
            "centroids": centroids,
            "vec_col": vec_col,
            "id_col": id_col,
            "counts": {str(k): v for k, v in counts.items()},
        })
        return cls(spark, location)

    def append(self, df: DataFrame) -> dict:
        """Incremental index maintenance (r05 verdict #3): assign a new
        batch with the PINNED codebook (the same pure-expression argmin
        every probe uses) and append it to the centroid partitions — no
        refit, no rewrite of existing partitions, one narrow write. With
        a pinned codebook this is exact: a probe over build+append data
        equals a probe over a fresh build of the union
        (test_ivf.py::test_append_equals_fresh_rebuild), because
        assignment is a pure function of (vector, codebook).

        Updates the sidecar's per-centroid counts and returns
        ``{"appended": {centroid_id: rows}, "drift": report}`` where the
        drift report flags centroid-population imbalance growth — the
        signal that the frozen codebook no longer fits the data
        distribution and a (rare, offline) refit is due."""
        assigned = df.withColumn(
            "centroid_id",
            assign_centroid_expr(
                to_double_array(F.col(self.vec_col)), self.centroids
            ),
        ).localCheckpoint(eager=True)  # the write and the count must
        # see the same rows even for a non-deterministic input plan
        (
            assigned.select(self.id_col, self.vec_col, "centroid_id")
            .repartition("centroid_id")
            .write.mode("append")
            .partitionBy("centroid_id")
            .parquet(f"{self.location}/data")
        )
        # the appended counts come from the batch itself — O(batch), not
        # O(index): a full per-append rescan made "incremental" appends
        # degrade linearly with corpus size, and a legacy sidecar without
        # counts misreported the whole pre-existing index as appended
        # (both r06 review findings)
        appended = {
            int(r["centroid_id"]): r["n"]
            for r in assigned.groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if self.counts is None:
            # legacy sidecar (pre-counts): one-time full recount to
            # initialize — includes this batch
            self.counts = self._on_disk_counts()
        else:
            merged = dict(self.counts)
            for cid, n in appended.items():
                merged[cid] = merged.get(cid, 0) + n
            self.counts = merged
        self._write_meta()
        # imbalance from the maintained counts; the disk-vs-sidecar
        # mutation audit stays in an explicit drift() call, which is the
        # one place a full recount is the point
        return {"appended": appended, "drift": self.drift(self.counts)}

    def _on_disk_counts(self) -> dict:
        return {
            int(r["centroid_id"]): r["n"]
            for r in self.load()
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def drift(self, on_disk: dict | None = None) -> dict:
        """Codebook-fit drift check (count per centroid vs sidecar):
        compares the sidecar's recorded per-centroid counts against the
        data directory (mismatch = the index was mutated outside
        build/append and should be rebuilt) and reports the population
        imbalance ratio max/mean — a rising ratio means new data
        concentrates in few centroids, degrading the prune (probing
        nprobe/n_centroids no longer skips ~that fraction of rows).

        Pass ``on_disk`` to reuse counts a caller already aggregated.
        A pre-counts sidecar (older index) records nothing to compare —
        ``counts_match_sidecar`` is vacuously True and
        ``sidecar_has_counts`` False so callers can tell a legacy index
        from a verified one (not a false mutation alarm)."""
        if on_disk is None:
            on_disk = self._on_disk_counts()
        n = sum(on_disk.values())
        mean = n / max(len(self.centroids), 1)
        return {
            "total_rows": n,
            "sidecar_has_counts": self.counts is not None,
            "counts_match_sidecar": (
                self.counts is None or on_disk == self.counts
            ),
            "imbalance_max_over_mean": (
                max(on_disk.values()) / mean if on_disk and mean else 0.0
            ),
            "empty_centroids": len(self.centroids) - len(on_disk),
        }

    def load(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.location}/data")

    def topk(self, query: Sequence[float], k: int, nprobe: int = 2) -> DataFrame:
        return ivf_topk(
            self.load(),
            self.centroids,
            query,
            k,
            nprobe=nprobe,
            vec_col=self.vec_col,
            id_col=self.id_col,
        )
