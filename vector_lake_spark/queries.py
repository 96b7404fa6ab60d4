"""The oracle-checked query registry.

Every implemented operator from SURVEY.md §2 (and the north-star extension
families) is exposed here as a named query: a Spark callable
``(spark, sf_dir) -> DataFrame`` and the exact DuckDB oracle SQL computing
the same result (same formulas, same rounding, same deterministic
tie-breaks — see ``oracles.py``). Both are declared once, as one row of
``REGISTRY`` at the bottom of this module; ``QUERIES`` and ``ORACLES`` are
by-name views of it.

``__spark_entry__.py`` re-exports this registry to the driver and owns the
driver's sampling order; importing this module reads no files.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from vector_lake_spark import oracles as O
from vector_lake_spark.functions.text import (
    LANG_PROFILES,
    avg_token_len,
    fingerprint64,
    lang_id,
    normalize_url,
    punct_ratio,
    quality_score,
    stopword_count,
    stopword_ratio,
    token_count,
    tokens,
    url_domain,
)
from vector_lake_spark.functions.vectors import (
    dot,
    lit_vector,
    norm,
    to_double_array,
)
from vector_lake_spark.operators import lsh as lsh_mod
from vector_lake_spark.operators.ann import lsh_topk, multiprobe_shards
from vector_lake_spark.operators.dedup import (
    DEFAULT_MAX_SHINGLE_FREQ,
    embedding_neardup_pairs,
    exact_dedup_groups,
    ngram_jaccard_pairs,
    simhash,
)
from vector_lake_spark.operators.drift import (
    PSI_BREAKS_CENTS,
    PSI_SPLIT_EPOCH,
    bucket_counts,
    psi_from_counts,
)
from vector_lake_spark.operators.events import sessionize, sliding_agg, tumbling_agg
from vector_lake_spark.operators.topk import topk_cosine, topk_cosine_batch, topk_l2
from vector_lake_spark.rowmap import map_rows

# ---------------------------------------------------------------------------
# Shared deterministic constants
# ---------------------------------------------------------------------------

DIM = 64
K = 10
# Fixed literal query vector (deterministic, inlined into both engines).
QUERY_VEC = [round(math.sin(i * 0.7 + 0.25), 6) for i in range(DIM)]
# LSH hyperplanes: 8 hashes (256 shards) for routing parity queries,
# 4 hashes (16 shards) for the pruned-ANN query (so probes hold ~1/16 of
# the corpus at test scale). Exact reference arithmetic — lsh.py.
H8 = lsh_mod.make_hyperplanes(DIM, 8)
H4 = lsh_mod.make_hyperplanes(DIM, 4)
ANN_PROBES = multiprobe_shards(QUERY_VEC, H4, n_probes=2)

EMB = "CAST(embedding AS DOUBLE[])"
# Spark-SQL twin of EMB for the single-parse expression builders (r12):
# identical tree to to_double_array(F.col("embedding"))
EMB_SPARK = "CAST(`embedding` AS ARRAY<DOUBLE>)"
QV = lsh_mod.sql_lit_list(QUERY_VEC)

NEARDUP_COS_THRESHOLD = 0.35  # max pairwise sim in testdata ≈ 0.46
# Second-level in-shard banding for the LSH near-dup headline: 8 bands of
# 2 sign bits each → every join key (shard, band, bkey) holds ~1/4 of its
# shard regardless of shard skew; ~95% recall at the 0.35 boundary
# (measured at sf0.01: 38/40 pairs). At a production threshold (≥0.8) use
# deeper bands (band_bits 6-8) for ~30x candidate reduction — ann.py.
NEARDUP_N_BANDS = 8
# The band width the ORACLES bake into their SQL. The Spark queries pass
# band_bits=None (r10) so ann.auto_band_bits sizes the width from the
# corpus; at every scale the driver/oracle runs at (n ≤ 16·256·2^2 =
# 16 384 rows) the rule resolves to exactly this floor, keeping the
# static SQL and the Spark plan in lockstep. Only past ~16k rows do the
# two diverge — by design: that is the measured cliff where fixed
# 2-bit bands go quadratic (SCALE.md, semantic-dedup mult100 rung).
NEARDUP_BAND_BITS = 2
NEARDUP_BANDS = lsh_mod.make_band_hyperplanes(
    DIM, NEARDUP_N_BANDS, NEARDUP_BAND_BITS
)
JACCARD_THRESHOLD = 0.5
# Skew cap: shingles appearing in more docs than this are dropped before
# the self-join — a universal (stopword) shingle is otherwise a quadratic
# hot key at scale (SCALE.md, dedup family). Mirrored in the oracle.
# r09: dropped 1000 → the operator default (64). At the driver's sf0.01
# the corpus-wide max 3-gram document frequency is 7 (sf0.1: 25), so the
# tighter cap changes nothing the oracle hashes; on the mult10 stress
# ladder it is what bounds the fixed-vocab candidate quadratic
# (BASELINE.md "sf1 scaling").
NGRAM_MAX_SHINGLE_FREQ = DEFAULT_MAX_SHINGLE_FREQ


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from vector_lake_spark.sources import load_table

    return load_table(spark, sf_dir, name)


def _t_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Cached row count of a corpus table (sources.table_rows) — the
    metadata statistic the auto-sizing builds consume (r13)."""
    from vector_lake_spark.sources import table_rows

    return table_rows(spark, sf_dir, name)


def _auto_spread_n(spark: SparkSession, df: DataFrame) -> int | None:
    """Round-robin fan-out width for a narrow local source, or ``None``.

    A single-file parquet scan runs every downstream narrow expression
    (shingling, regex, vector math) in ONE task — a local-mode artifact
    (SCALE.md). Spreading fixes that, but a fixed width of 32 becomes a
    parallelism CAP on a big cluster (r03 verdict #4). Gate on the scan's
    file count: once the table has at least ``defaultParallelism`` input
    files (any production table), this returns None and NO exchange is
    added — the cluster-scale plan stays shuffle-free."""
    p = spark.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) >= p:
            return None
    except Exception:
        return None
    return p


def _spread(spark: SparkSession, src: DataFrame, df: DataFrame) -> DataFrame:
    """``df`` round-robin spread to ``_auto_spread_n(spark, src)``
    partitions, or ``df`` itself when ``src`` needs no spread."""
    n = _auto_spread_n(spark, src)
    return df.repartition(n) if n else df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_lake_spark.sources import load_events

    return load_events(spark, sf_dir)


def _epoch_day(col) -> F.Column:
    """Day number since 1970-01-01 for a (NTZ) timestamp column — paired
    with ``oracles.sql_epoch_day`` (both truncate, never round)."""
    return F.datediff(col.cast("date"), F.to_date(F.lit("1970-01-01"))).cast(
        "long"
    )


def _label_centroid_means(emb: DataFrame) -> DataFrame:
    """Per-(label, dimension) mean of the embedding — the shared input of
    the centroid-norm and centroid-separation queries."""
    e = emb.select("label", F.posexplode(to_double_array(F.col("embedding"))))
    return e.groupBy("label", "pos").agg(F.avg("col").alias("m"))


# ---------------------------------------------------------------------------
# Vector search family
# ---------------------------------------------------------------------------

def q_vec_topk_cosine(spark, sf):
    return topk_cosine(_t(spark, sf, "embeddings"), QUERY_VEC, K, keep_cols=("label",))


SQL_VEC_TOPK_COSINE = f"""
SELECT vec_id, label,
       round(list_cosine_similarity({EMB}, {QV}), 6) AS score
FROM embeddings
ORDER BY score DESC, vec_id
LIMIT {K}
"""


def q_vec_topk_filtered(spark, sf):
    """Filtered ANN — the vector-store staple the reference lacks: exact
    top-k cosine restricted to a metadata predicate (label ∈ {1,3,5}),
    the "search within a tenant/category" shape. The predicate is a
    plain pushable filter BELOW the bounded-heap rank, so the scan
    prunes on it (row-group stats) and the heap ranks only qualifying
    rows — pre-filter semantics, no recall loss, unlike post-filter
    vector stores that over-fetch k·C candidates and hope. The store
    API twin is `SparkVectorLake.query(where=...)`."""
    return topk_cosine(
        _t(spark, sf, "embeddings").filter(F.col("label").isin(1, 3, 5)),
        QUERY_VEC,
        K,
        keep_cols=("label",),
    )


SQL_VEC_TOPK_FILTERED = f"""
SELECT vec_id, label,
       round(list_cosine_similarity({EMB}, {QV}), 6) AS score
FROM embeddings
WHERE label IN (1, 3, 5)
ORDER BY score DESC, vec_id
LIMIT {K}
"""


def q_vec_topk_l2(spark, sf):
    return topk_l2(_t(spark, sf, "embeddings"), QUERY_VEC, K, keep_cols=("label",))


SQL_VEC_TOPK_L2 = f"""
WITH e AS (SELECT vec_id, label, {EMB} AS v FROM embeddings)
SELECT vec_id, label,
       round(sqrt(list_sum(list_transform(range(1, {DIM + 1}),
             i -> (v[i] - ({QV})[i]) * (v[i] - ({QV})[i])))), 6) AS dist
FROM e
ORDER BY dist ASC, vec_id
LIMIT {K}
"""


def q_vec_topk_batch(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return topk_cosine_batch(emb, queries, k=5)


SQL_VEC_TOPK_BATCH = f"""
WITH q AS (SELECT vec_id AS query_id, {EMB} AS qv FROM embeddings WHERE vec_id < 5),
pairs AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
  FROM embeddings e CROSS JOIN q
),
r AS (
  SELECT query_id, vec_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id)
              AS BIGINT) AS rn
  FROM pairs
)
SELECT query_id, vec_id, score, rn FROM r WHERE rn <= 5
"""


def q_lsh_shard_assign(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return emb.select(
        "vec_id",
        lsh_mod.shard_id_expr(EMB_SPARK, H8).alias("shard_id"),
    )


SQL_LSH_SHARD_ASSIGN = f"""
SELECT vec_id, CAST({lsh_mod.shard_id_sql(EMB, H8)} AS BIGINT) AS shard_id
FROM embeddings
"""


def q_lsh_shard_hist(spark, sf):
    return (
        q_lsh_shard_assign(spark, sf)
        .groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


SQL_LSH_SHARD_HIST = f"""
SELECT CAST({lsh_mod.shard_id_sql(EMB, H8)} AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM embeddings
GROUP BY shard_id
"""


def q_ann_lsh_topk(spark, sf):
    return lsh_topk(
        _t(spark, sf, "embeddings"), QUERY_VEC, K, H4, n_probes=2
    )


SQL_ANN_LSH_TOPK = f"""
WITH s AS (
  SELECT vec_id, {EMB} AS v,
         CAST({lsh_mod.shard_id_sql(EMB, H4)} AS BIGINT) AS shard
  FROM embeddings
)
SELECT vec_id, round(list_cosine_similarity(v, {QV}), 6) AS score
FROM s
WHERE shard IN ({", ".join(str(p) for p in ANN_PROBES)})
ORDER BY score DESC, vec_id
LIMIT {K}
"""


def q_ann_lsh_recall(spark, sf):
    """In-engine recall audit for the LSH multi-probe routing — the
    store's DEFAULT query path (reference routing: index.py:487-489,
    which probes exactly one shard).  Completes the recall-audit family
    (`vec_hamming_recall`, `ann_ivf_recall` — r06 verdict #4): recall@k
    of the probe set vs exact cosine top-k, measured at n_probes =
    1, 2, 4 in ONE query (one shard assignment, one exact top-k, three
    semi-join counts).  At 100 TB this runs over a sampled query log on
    a schedule; a falling curve at fixed n_probes is the signal to add
    probes or re-draw hyperplanes, and the 1→2→4 deltas price each
    extra probe (each probe costs ~1/16 of the corpus here)."""
    from vector_lake_spark.functions.vectors import (
        cosine_similarity,
        lit_vector,
    )

    emb = _t(spark, sf, "embeddings")
    v = to_double_array(F.col("embedding"))
    score = F.round(cosine_similarity(v, lit_vector(QUERY_VEC)), 6)
    exact = (
        emb.select("vec_id", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(K)
    )
    sharded = emb.select(
        "vec_id", lsh_mod.shard_id_expr(EMB_SPARK, H4).alias("shard")
    )
    # ONE exact top-k and ONE shard-assignment pass: each top-k row
    # carries its shard through a single k-row join, and the three
    # probe-set memberships fold in one aggregate — the q_vec_pq_recall
    # single-pool lesson applied here (the first version unioned three
    # arms that each re-instantiated the exact-top-k and shard scans,
    # tripling the corpus work; r07 review)
    probe_sets = {
        n: [int(s) for s in multiprobe_shards(QUERY_VEC, H4, n)]
        for n in (1, 2, 4)
    }
    joined = exact.join(sharded, "vec_id")
    agg = joined.agg(
        *[
            F.sum(
                F.when(F.col("shard").isin(probe_sets[n]), 1).otherwise(0)
            ).alias(f"h{n}")
            for n in (1, 2, 4)
        ]
    )
    fan = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(n).cast("long").alias("n_probes"),
                    F.col(f"h{n}").cast("long").alias("n_hits"),
                )
                for n in (1, 2, 4)
            ]
        )
    ).alias("r")
    return agg.select(fan).select(
        F.col("r.n_probes").alias("n_probes"),
        F.lit(K).cast("long").alias("k"),
        F.col("r.n_hits").alias("n_hits"),
        F.round(F.col("r.n_hits") / F.lit(K), 6).alias("recall_at_k"),
    )


def _sql_ann_lsh_recall() -> str:
    arms = []
    for n_probes in (1, 2, 4):
        probes = ", ".join(
            str(int(s)) for s in multiprobe_shards(QUERY_VEC, H4, n_probes)
        )
        arms.append(
            f"""SELECT CAST({n_probes} AS BIGINT) AS n_probes,
       CAST({K} AS BIGINT) AS k,
       CAST((SELECT count(*) FROM exact
             WHERE vec_id IN (SELECT vec_id FROM s
                              WHERE shard IN ({probes}))) AS BIGINT)
         AS n_hits,
       round((SELECT count(*) FROM exact
              WHERE vec_id IN (SELECT vec_id FROM s
                               WHERE shard IN ({probes}))) / {K}.0, 6)
         AS recall_at_k"""
        )
    union = "\nUNION ALL\n".join(arms)
    return f"""
WITH s AS (
  SELECT vec_id, {EMB} AS v,
         CAST({lsh_mod.shard_id_sql(EMB, H4)} AS BIGINT) AS shard
  FROM embeddings
),
exact AS (
  SELECT vec_id FROM s
  ORDER BY round(list_cosine_similarity(v, {QV}), 6) DESC, vec_id
  LIMIT {K}
)
{union}
"""


SQL_ANN_LSH_RECALL = _sql_ann_lsh_recall()


def q_vec_neardup_pairs(spark, sf):
    return embedding_neardup_pairs(
        _t(spark, sf, "embeddings"), threshold=NEARDUP_COS_THRESHOLD
    )


SQL_VEC_NEARDUP_PAIRS = f"""
WITH e AS (SELECT vec_id, {EMB} AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {NEARDUP_COS_THRESHOLD}
"""


def q_vec_dim_stats(spark, sf):
    """Per-dimension embedding QA (mean/std/min/max/zero-fraction) — the
    corpus health check run before any ANN build: dead dimensions, scale
    drift, and NaN pollution all show up here. posexplode → one
    64-group aggregate; shuffled state is one row per dimension."""
    e = _t(spark, sf, "embeddings")
    d = e.select(F.posexplode(to_double_array(F.col("embedding"))).alias("dim", "x"))
    d = d.withColumn("dim", F.col("dim").cast("long"))
    return d.groupBy("dim").agg(
        F.round(F.avg("x"), 6).alias("mean"),
        F.round(F.stddev_samp("x"), 6).alias("std"),
        F.round(F.min("x"), 6).alias("min_v"),
        F.round(F.max("x"), 6).alias("max_v"),
        F.round(F.avg((F.col("x") == 0.0).cast("double")), 6).alias("zero_frac"),
    )


SQL_VEC_DIM_STATS = f"""
WITH d AS (
  SELECT u.i - 1 AS dim, v[u.i] AS x
  FROM (SELECT {EMB} AS v FROM embeddings),
       unnest(range(1, {DIM + 1})) AS u(i)
)
SELECT dim,
       round(avg(x), 6) AS mean,
       round(stddev_samp(x), 6) AS std,
       round(min(x), 6) AS min_v,
       round(max(x), 6) AS max_v,
       round(avg(CASE WHEN x = 0.0 THEN 1.0 ELSE 0.0 END), 6) AS zero_frac
FROM d GROUP BY dim
"""


def q_vec_centroid_by_label(spark, sf):
    emb = _t(spark, sf, "embeddings")
    m = _label_centroid_means(emb)
    norms = m.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("centroid_norm")
    )
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    return counts.join(norms, "label").select("label", "n_vectors", "centroid_norm")


# shared CTEs: per-(label, dimension) centroid means (mirrors
# _label_centroid_means; reused by the separation oracle below)
_SQL_CENTROID_MEAN_CTES = f"""e AS (
  SELECT label, unnest({EMB}) AS val, generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
m AS (SELECT label, pos, avg(val) AS m FROM e GROUP BY label, pos)"""

SQL_VEC_CENTROID_BY_LABEL = f"""
WITH {_SQL_CENTROID_MEAN_CTES},
c AS (SELECT label, round(sqrt(sum(m * m)), 6) AS centroid_norm FROM m GROUP BY label),
n AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vectors FROM embeddings GROUP BY label)
SELECT n.label, n.n_vectors, c.centroid_norm FROM n JOIN c ON n.label = c.label
"""


def q_vec_neardup_lsh(spark, sf):
    from vector_lake_spark.operators.ann import lsh_neardup_pairs

    return lsh_neardup_pairs(
        _t(spark, sf, "embeddings"),
        H4,
        threshold=NEARDUP_COS_THRESHOLD,
        n_bands=NEARDUP_N_BANDS,
        # r10 (VERDICT r09 #2): band width auto-sizes from the corpus —
        # ann.auto_band_bits resolves to NEARDUP_BAND_BITS (=2) at every
        # oracle scale (≤ 16·256·4 rows), so the static SQL stays exact,
        # and to the measured-safe 6 on the 200k cliff corpus
        band_bits=None,
        # r13: the cached footer row count feeds the sizer — same value
        # as df.count() (whole immutable table), no job per build
        n_rows=_t_rows(spark, sf, "embeddings"),
    )


def _sql_vec_neardup_lsh() -> str:
    # band keys mirror ann.lsh_neardup_pairs exactly (same seeded
    # hyperplane floats inlined); the Spark side equi-joins on an exploded
    # (shard, band, key) — the OR-of-band-equalities here is the same
    # candidate set without the explode (DuckDB handles the residual fine
    # at oracle scale)
    band_cols = ",\n         ".join(
        f"CAST({lsh_mod.shard_id_sql(EMB, NEARDUP_BANDS[b])} AS BIGINT) AS k{b}"
        for b in range(NEARDUP_N_BANDS)
    )
    band_match = " OR ".join(f"a.k{b} = b.k{b}" for b in range(NEARDUP_N_BANDS))
    return f"""
WITH e AS (
  SELECT vec_id, {EMB} AS v,
         CAST({lsh_mod.shard_id_sql(EMB, H4)} AS BIGINT) AS shard,
         {band_cols}
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS sim
FROM e a JOIN e b ON a.shard = b.shard AND a.vec_id < b.vec_id
  AND ({band_match})
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {NEARDUP_COS_THRESHOLD}
"""


SQL_VEC_NEARDUP_LSH = _sql_vec_neardup_lsh()


def q_vec_semantic_dedup(spark, sf):
    """Composed semantic (embedding-level) dedup — the end-to-end scale
    pipeline: banded LSH near-dup pairs (bounded join keys) → connected
    components (large-star/small-star contraction) → every vector
    labeled with its cluster (cluster_id == surviving min id; singletons
    label themselves). The text-side twin is dedup_clusters/
    dedup_keep_best; this one runs on the embedding column, so it
    catches paraphrase-level duplicates exact text hashing can't.
    Star contraction replaced min-label propagation in r04: measured
    faster at bench scale (4.1 vs 4.7 s warm) and diameter-independent
    at 100 TB (SCALE.md "Connected components at depth"); labelings are
    identical (tests/test_cc.py). Oracle: same banded pair set in SQL +
    a recursive-CTE min-reachable-id."""
    from vector_lake_spark.operators.ann import lsh_neardup_pairs
    from vector_lake_spark.operators.dedup import connected_components_star

    emb = _t(spark, sf, "embeddings")
    pairs = lsh_neardup_pairs(
        emb,
        H4,
        threshold=NEARDUP_COS_THRESHOLD,
        n_bands=NEARDUP_N_BANDS,
        band_bits=None,  # auto-sized (r10): =2 at oracle scales, =6 on
        # the r09 mult100 cliff corpus — fixes the measured 2038 s
        # quadratic without touching the sf0.01/sf0.1 pair sets
        n_rows=_t_rows(spark, sf, "embeddings"),  # r13 cached statistic
    )
    return connected_components_star(
        pairs, emb.select("vec_id"), id_col="vec_id"
    )


def _sql_vec_semantic_dedup() -> str:
    band_cols = ",\n         ".join(
        f"CAST({lsh_mod.shard_id_sql(EMB, NEARDUP_BANDS[b])} AS BIGINT) AS k{b}"
        for b in range(NEARDUP_N_BANDS)
    )
    band_match = " OR ".join(f"a.k{b} = b.k{b}" for b in range(NEARDUP_N_BANDS))
    return f"""
WITH RECURSIVE
e AS (
  SELECT vec_id, {EMB} AS v,
         CAST({lsh_mod.shard_id_sql(EMB, H4)} AS BIGINT) AS shard,
         {band_cols}
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.shard = b.shard AND a.vec_id < b.vec_id
    AND ({band_match})
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {NEARDUP_COS_THRESHOLD}
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL
          SELECT id_b AS a, id_a AS b FROM pairs),
reach AS (
  SELECT vec_id AS id, vec_id AS r FROM embeddings
  UNION
  SELECT e2.a AS id, reach.r AS r FROM edges e2 JOIN reach ON reach.id = e2.b
)
SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id
"""


SQL_VEC_SEMANTIC_DEDUP = _sql_vec_semantic_dedup()


def q_vec_topk_truncated(spark, sf):
    # two-stage retrieval (matryoshka-style): coarse rank on the FIRST 16
    # dims (4× less arithmetic per row), keep 50 candidates
    # (TakeOrderedAndProject, ties on id), exact full-dim re-rank to
    # top-k. At 100 TB the coarse stage is the only full scan; the exact
    # stage touches 50 rows.
    from vector_lake_spark.functions.vectors import (
        cosine_similarity,
        lit_vector,
    )

    emb = _t(spark, sf, "embeddings")
    v = to_double_array(F.col("embedding"))
    coarse = F.round(
        cosine_similarity(F.slice(v, 1, 16), lit_vector(QUERY_VEC[:16])), 6
    )
    cand = (
        emb.select("vec_id", v.alias("v"), coarse.alias("coarse"))
        .orderBy(F.col("coarse").desc(), F.col("vec_id"))
        .limit(50)
    )
    exact = F.round(cosine_similarity(F.col("v"), lit_vector(QUERY_VEC)), 6)
    return (
        cand.select("vec_id", exact.alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(K)
    )


SQL_VEC_TOPK_TRUNCATED = f"""
WITH c AS (
  SELECT vec_id, {EMB} AS v,
         round(list_cosine_similarity(({EMB})[1:16], ({QV})[1:16]), 6) AS coarse
  FROM embeddings
  ORDER BY coarse DESC, vec_id
  LIMIT 50
)
SELECT vec_id, round(list_cosine_similarity(v, {QV}), 6) AS score
FROM c
ORDER BY score DESC, vec_id
LIMIT {K}
"""


def q_vec_topk_quantized(spark, sf):
    # retrieval over int8-quantized vectors: rank on the dequantized
    # approximation (4× smaller storage scan) — exactly the arithmetic
    # vec_quantize_int8 stores, so the oracle mirrors it precisely
    emb = _t(spark, sf, "embeddings")
    v = to_double_array(F.col("embedding"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    deq = F.transform(v, lambda x: F.round(F.try_divide(x, scale)) * scale)
    from vector_lake_spark.functions.vectors import cosine_similarity, lit_vector

    score = F.round(cosine_similarity(deq, lit_vector(QUERY_VEC)), 6)
    return (
        emb.select("vec_id", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(K)
    )


SQL_VEC_TOPK_QUANTIZED = f"""
WITH s AS (
  SELECT vec_id, {EMB} AS v,
         list_max(list_transform({EMB}, x -> abs(x))) / 127.0 AS scale
  FROM embeddings
),
d AS (
  SELECT vec_id,
         list_transform(v, x -> round(x / nullif(scale, 0.0)) * scale) AS deq
  FROM s
)
SELECT vec_id, round(list_cosine_similarity(deq, {QV}), 6) AS score
FROM d
ORDER BY score DESC, vec_id
LIMIT {K}
"""


HYBRID_TERMS = ["vector", "hash", "join"]
BM25_K1 = 1.2
BM25_B = 0.75


def q_hybrid_topk(spark, sf):
    # hybrid retrieval (the RAG-era flagship): BM25 keyword score over
    # documents fused with cosine similarity over the parallel embeddings
    # table (doc_id == vec_id in the testdata).
    #
    # Single-pass corpus statistics (VERDICT r02 #5): ONE explode +
    # groupBy(doc_id) computes document length and per-term tf together.
    # Document frequencies and corpus-wide (n_docs, avgdl) are tiny
    # aggregates over that same result, so Catalyst's ReuseExchange dedupes
    # the shared doc_id shuffle — `documents` is scanned once (verified by
    # tests/test_plans.py::test_hybrid_topk_single_documents_scan), and the
    # shuffle carries one row per doc (partial aggregation), not one per
    # token.
    d = _t(spark, sf, "documents")
    emb = _t(spark, sf, "embeddings")

    # The doc_id filter is explicit (not left to join pushdown) and every
    # consumer below touches ALL of per_doc's columns: branch-specific
    # column pruning or pushed filters would otherwise make the three
    # subtrees non-identical and defeat ReuseExchange (three scans again).
    per_doc = (
        d.filter(F.col("doc_id").isNotNull())
        .select("doc_id", F.explode_outer(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id")
        .agg(
            F.count("tok").alias("dl"),
            *[
                F.count(F.when(F.col("tok") == t, True)).alias(f"tf_{i}")
                for i, t in enumerate(HYBRID_TERMS)
            ],
        )
    )
    tf_cols = [F.col(f"tf_{i}") for i in range(len(HYBRID_TERMS))]
    tf = (
        per_doc.select(
            "doc_id",
            "dl",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tok"), F.col(f"tf_{i}").alias("tf")
                        )
                        for i, t in enumerate(HYBRID_TERMS)
                    ]
                )
            ).alias("x"),
        )
        # `dl >= 0` is always true; it pins dl into this branch's pruned
        # column set so the shared exchange stays identical
        .filter((F.col("x.tf") > 0) & (F.col("dl") >= 0))
        .select("doc_id", "dl", F.col("x.tok").alias("tok"), F.col("x.tf").alias("tf"))
    )
    df_stats = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    corpus = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        # the when() is always true (counts are non-negative): avg(dl)
        # exactly, while consuming the tf columns for the same reason
        F.avg(
            F.when(sum(tf_cols, F.lit(0)) >= 0, F.col("dl"))
        ).alias("avgdl"),
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    per_term = (
        tf.join(F.broadcast(df_stats), "tok")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            (idf * F.col("tf") * (BM25_K1 + 1.0) / denom).alias("s"),
        )
    )
    bm25 = per_term.groupBy("doc_id").agg(F.sum("s").alias("bm25"))
    v = to_double_array(F.col("embedding"))
    vec = emb.select(
        F.col("vec_id").alias("doc_id"),
        # same cosine kernel as topk_cosine (query norm precomputed)
        F.try_divide(
            dot(v, lit_vector(QUERY_VEC)),
            norm(v) * F.lit(math.sqrt(sum(x * x for x in QUERY_VEC))),
        ).alias("cos"),
    )
    return (
        vec.join(bm25, "doc_id", "left")
        .select(
            "doc_id",
            F.round(F.col("cos"), 6).alias("vec_score"),
            F.round(F.coalesce(F.col("bm25"), F.lit(0.0)), 6).alias("text_score"),
            F.round(
                F.col("cos") + 0.1 * F.coalesce(F.col("bm25"), F.lit(0.0)), 6
            ).alias("fused"),
        )
        .orderBy(F.col("fused").desc(), F.col("doc_id"))
        .limit(K)
    )


def _sql_hybrid_topk() -> str:
    terms = ", ".join(f"'{t}'" for t in HYBRID_TERMS)
    return f"""
WITH lens AS (SELECT doc_id, {O.sql_token_count('text')} AS dl FROM documents),
tok AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, unnest({O.sql_tokens('text')}) AS tok FROM documents)
  WHERE tok IN ({terms})
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
df_stats AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
corpus AS (SELECT count(*) AS n_docs,
                  avg({O.sql_token_count('text')}) AS avgdl
           FROM documents),
per_term AS (
  SELECT tf.doc_id,
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * tf * ({BM25_K1} + 1.0)
           / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl)) AS s
  FROM tf JOIN df_stats USING (tok) CROSS JOIN corpus
  JOIN lens ON tf.doc_id = lens.doc_id
),
bm25 AS (SELECT doc_id, sum(s) AS bm25 FROM per_term GROUP BY doc_id),
vec AS (
  SELECT vec_id AS doc_id,
         list_cosine_similarity({EMB}, {QV}) AS cos
  FROM embeddings
)
SELECT vec.doc_id,
       round(cos, 6) AS vec_score,
       round(coalesce(bm25, 0.0), 6) AS text_score,
       round(cos + 0.1 * coalesce(bm25, 0.0), 6) AS fused
FROM vec LEFT JOIN bm25 ON vec.doc_id = bm25.doc_id
ORDER BY fused DESC, vec.doc_id
LIMIT {K}
"""


SQL_HYBRID_TOPK = _sql_hybrid_topk()


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf):
    return exact_dedup_groups(_t(spark, sf, "documents"))


SQL_DEDUP_EXACT = f"""
SELECT {O.sql_fingerprint64('text')} AS fp,
       min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS dup_cnt
FROM documents
GROUP BY fp
"""


INCR_HISTORY_CUTOFF = 250  # doc_id < cutoff = the "yesterday" snapshot


def q_dedup_incremental(spark, sf):
    """Snapshot-incremental exact dedup — the daily-crawl production
    shape: a NEW batch (doc_id ≥ cutoff) is admitted only if its content
    fingerprint is absent from the HISTORY (doc_id < cutoff) and it is
    the min-id holder of its fingerprint within the batch. At 100 TB the
    history side is a persisted fingerprint table (8-byte fps, not
    documents): the whole operation is one left-anti join on the
    fingerprint plus a min-id aggregate over the new batch — history
    text is never read, let alone shuffled."""
    from vector_lake_spark.functions.text import fingerprint64

    d = _t(spark, sf, "documents")
    fp = d.select(
        "doc_id", fingerprint64(F.col("text")).alias("fp")
    )
    history_fps = fp.filter(
        F.col("doc_id") < INCR_HISTORY_CUTOFF
    ).select("fp").distinct()
    batch = fp.filter(F.col("doc_id") >= INCR_HISTORY_CUTOFF)
    fresh = batch.join(history_fps, "fp", "left_anti")
    return fresh.groupBy("fp").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("batch_dup_cnt"),
    )


SQL_DEDUP_INCREMENTAL = f"""
WITH fp AS (
  SELECT doc_id, {O.sql_fingerprint64('text')} AS fp FROM documents
),
hist AS (SELECT DISTINCT fp FROM fp WHERE doc_id < {INCR_HISTORY_CUTOFF}),
batch AS (SELECT * FROM fp WHERE doc_id >= {INCR_HISTORY_CUTOFF})
SELECT fp, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS batch_dup_cnt
FROM batch b
-- NOT EXISTS, not NOT IN: left_anti keeps NULL-fp batch rows and is
-- unaffected by a NULL in hist; NOT IN would return zero rows the
-- moment hist held a single NULL fingerprint (r05 review finding)
WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp)
GROUP BY fp
"""


def q_dedup_ngram_jaccard(spark, sf):
    d = _t(spark, sf, "documents")
    return ngram_jaccard_pairs(
        d,
        n=3,
        threshold=JACCARD_THRESHOLD,
        max_shingle_freq=NGRAM_MAX_SHINGLE_FREQ,
        repartition_input=_auto_spread_n(spark, d),
    )


def q_dedup_jaccard_deep(spark, sf):
    """The DEEP-shingle (n=5) Jaccard config — the measured scale knob:
    on a fixed-vocab corpus 3-word shingles make candidate pairs grow
    quadratically (BASELINE.md "sf1 scaling": 102× candidates at 10×
    docs) while the 5-word shingle space cuts them ~900×. Registry-
    pinning this config keeps the scale path oracle-checked, not just a
    docstring claim; 500k-doc wall for the full pipeline in SCALE.md."""
    d = _t(spark, sf, "documents")
    return ngram_jaccard_pairs(
        d,
        n=5,
        threshold=JACCARD_THRESHOLD,
        max_shingle_freq=NGRAM_MAX_SHINGLE_FREQ,
        repartition_input=_auto_spread_n(spark, d),
    )


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH sh0 AS (SELECT doc_id AS id, unnest({O.sql_shingles('text', 3)}) AS gram FROM documents),
rare AS (SELECT gram FROM sh0 GROUP BY gram
         HAVING count(*) <= {NGRAM_MAX_SHINGLE_FREQ}),
sh AS (SELECT id, gram FROM sh0 WHERE gram IN (SELECT gram FROM rare)),
sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.gram = b.gram AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sz sa ON inter.id_a = sa.id
JOIN sz sb ON inter.id_b = sb.id
WHERE round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) >= {JACCARD_THRESHOLD}
"""


SQL_DEDUP_JACCARD_DEEP = SQL_DEDUP_NGRAM_JACCARD.replace(
    O.sql_shingles("text", 3), O.sql_shingles("text", 5)
)


CONTAINMENT_THRESHOLD = 0.8


def q_dedup_containment(spark, sf):
    """Asymmetric containment dedup: |A∩B| / min(|A|,|B|) over 3-gram
    shingles — catches a short document quoted verbatim inside a longer
    one, which symmetric Jaccard misses (the union dominates). Same
    shingle-hash join plan as dedup_ngram_jaccard (text never shuffles,
    stopword-shingle cap shares the join's exchange); only the final
    scalar differs."""
    d = _t(spark, sf, "documents")
    return ngram_jaccard_pairs(
        d,
        n=3,
        threshold=CONTAINMENT_THRESHOLD,
        max_shingle_freq=NGRAM_MAX_SHINGLE_FREQ,
        repartition_input=_auto_spread_n(spark, d),
        metric="containment",
    )


SQL_DEDUP_CONTAINMENT = f"""
WITH sh0 AS (SELECT doc_id AS id, unnest({O.sql_shingles('text', 3)}) AS gram FROM documents),
rare AS (SELECT gram FROM sh0 GROUP BY gram
         HAVING count(*) <= {NGRAM_MAX_SHINGLE_FREQ}),
sh AS (SELECT id, gram FROM sh0 WHERE gram IN (SELECT gram FROM rare)),
sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.gram = b.gram AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(inter / CAST(least(sa.sz, sb.sz) AS DOUBLE), 6) AS containment
FROM inter
JOIN sz sa ON inter.id_a = sa.id
JOIN sz sb ON inter.id_b = sb.id
WHERE round(inter / CAST(least(sa.sz, sb.sz) AS DOUBLE), 6) >= {CONTAINMENT_THRESHOLD}
"""


def q_dedup_clusters(spark, sf):
    # near-dup PAIRS → disjoint CLUSTERS (connected components by
    # large-star/small-star contraction — diameter-safe and measured at
    # least as fast as min-label propagation, SCALE.md r04) — the step
    # between similarity join and keep-one-per-cluster dedup.
    # Oracle: DuckDB recursive CTE.
    from vector_lake_spark.operators.dedup import connected_components_star

    d = _t(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(
        d,
        n=3,
        threshold=JACCARD_THRESHOLD,
        max_shingle_freq=NGRAM_MAX_SHINGLE_FREQ,
        repartition_input=_auto_spread_n(spark, d),
    )
    return connected_components_star(pairs, d)


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE
sh0 AS (SELECT doc_id AS id, unnest({O.sql_shingles('text', 3)}) AS gram FROM documents),
rare AS (SELECT gram FROM sh0 GROUP BY gram
         HAVING count(*) <= {NGRAM_MAX_SHINGLE_FREQ}),
sh AS (SELECT id, gram FROM sh0 WHERE gram IN (SELECT gram FROM rare)),
sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.gram = b.gram AND a.id < b.id
  GROUP BY a.id, b.id
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sz sa ON inter.id_a = sa.id
  JOIN sz sb ON inter.id_b = sb.id
  WHERE round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6)
        >= {JACCARD_THRESHOLD}
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL
          SELECT id_b AS a, id_a AS b FROM pairs),
reach AS (
  SELECT doc_id AS id, doc_id AS r FROM documents
  UNION
  SELECT e.a AS id, reach.r AS r FROM edges e JOIN reach ON reach.id = e.b
)
SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
"""


def q_dedup_keep_best(spark, sf):
    # the dedup END-USE: one survivor per near-dup cluster, keeping the
    # HIGHEST-QUALITY member (not the arbitrary min id) — clusters ×
    # quality scoring composed in one plan; ties break on doc_id
    clusters = q_dedup_clusters(spark, sf)
    d = _t(spark, sf, "documents")
    scored = d.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    ).join(clusters, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("keep_id"), "quality")
    )


SQL_DEDUP_KEEP_BEST = f"""
WITH sc AS (
  SELECT doc_id, round({O.sql_quality_score('text')}, 6) AS quality
  FROM documents
),
keep AS (
  SELECT c.cluster_id, sc.doc_id, sc.quality,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY sc.quality DESC, sc.doc_id) AS rn
  FROM ({SQL_DEDUP_CLUSTERS}) c
  JOIN sc ON c.doc_id = sc.doc_id
)
SELECT cluster_id, doc_id AS keep_id, quality FROM keep WHERE rn = 1
"""


def q_dedup_simhash(spark, sf):
    # measured: repartition_input HURTS here (the 60-way bit aggregate
    # dominates and the extra exchange outweighs a parallel explode)
    return simhash(_t(spark, sf, "documents"))


SQL_DEDUP_SIMHASH = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({O.sql_tokens('text')})) AS tok
  FROM documents
),
h AS (SELECT doc_id, {O.sql_token_hash60('tok')} AS h FROM tok),
bits AS (
  SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s
  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
         AS simhash
FROM bits
GROUP BY doc_id
"""


EDIT_DIST_MAX = 50


def q_dedup_edit_distance(spark, sf):
    # edit-distance VERIFICATION pass: SimHash-banded candidates (cheap,
    # pigeonhole-complete for hamming ≤ 3) → exact Levenshtein on the
    # normalized text, keeping pairs within EDIT_DIST_MAX. The expensive
    # O(len²) kernel runs on thousands of candidate pairs, never on the
    # corpus cross product.
    from vector_lake_spark.functions.text import normalize_text
    from vector_lake_spark.operators.dedup import simhash_neardup_pairs

    d = _t(spark, sf, "documents")
    # n_blocks pinned to the minimal config for the registry (review
    # r12): the auto default fires an eager count() job at plan-build
    # time, and resolves to 4 at every shipped scale anyway (pinned
    # through 10M docs by tests/test_simhash.py). At 100 TB, pass the
    # corpus count as n_rows and let auto size.
    cand = simhash_neardup_pairs(d, max_hamming=3, n_blocks=4)
    ta = d.select(
        F.col("doc_id").alias("id_a"), normalize_text(F.col("text")).alias("na")
    )
    tb = d.select(
        F.col("doc_id").alias("id_b"), normalize_text(F.col("text")).alias("nb")
    )
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("edit_dist", F.levenshtein("na", "nb").cast("long"))
        .filter(F.col("edit_dist") <= EDIT_DIST_MAX)
        .select("id_a", "id_b", "hamming", "edit_dist")
    )


# Shared CTE chain: SimHash fingerprints → 4×15-bit band keys → banded
# candidates → hamming≤3 pairs. The pair SET is band-layout-invariant
# (pigeonhole-exact for hamming ≤ 3 with ≥4 bands), so this stays a valid
# oracle for the r12-unified Spark side (simhash_neardup_pairs →
# binary.hamming_neardup_pairs with auto block sizing over total_bits=60,
# whose minimal config is exactly these 4×15 bands); interpolated by BOTH
# the edit-distance and pagerank oracles so they cannot silently diverge.
_SQL_SIMHASH_BANDED_CTES = f"""fps AS ({SQL_DEDUP_SIMHASH}),
bands AS (
  SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS key
  FROM fps CROSS JOIN (SELECT unnest(range(4)) AS b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
),
ham AS (
  SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
  FROM cand WHERE bit_count(xor(sa, sb)) <= 3
)"""

SQL_DEDUP_EDIT_DISTANCE = f"""
WITH {_SQL_SIMHASH_BANDED_CTES},
txt AS (SELECT doc_id, {O.sql_normalize_text('text')} AS nt FROM documents)
SELECT id_a, id_b, hamming,
       CAST(levenshtein(ta.nt, tb.nt) AS BIGINT) AS edit_dist
FROM ham
JOIN txt ta ON ham.id_a = ta.doc_id
JOIN txt tb ON ham.id_b = tb.doc_id
WHERE levenshtein(ta.nt, tb.nt) <= {EDIT_DIST_MAX}
"""


PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 3


GRAPH_KNN_K = 3


def _knn_candidate_pairs(spark, sf):
    """Banded-LSH candidate pairs with NO similarity threshold — the
    shared input of the k-NN graph queries. Candidates stay bounded by
    the banding (never all-pairs); -2.0 passes every non-null cosine.

    band_bits auto-sizes from the corpus (r11, VERDICT r10 #1 — the
    same fix vec_semantic_dedup got in r10): ann.auto_band_bits
    resolves to NEARDUP_BAND_BITS (=2) at every oracle scale (≤ 16·256·4
    rows — pinned by
    tests/test_lsh.py::test_testdata_scales_under_static_oracle_ceiling
    against every shipped sf dir), so the static SQL
    oracles of all three graph queries stay exact; on the measured
    200k-row cliff corpus it resolves to 6 — the config whose mult100
    rung is in SCALE.md "Similarity graph at 200k rows (registry
    config)". The r09-measured density cliff ((n/4)² bucket cliques at
    band_bits=2) can no longer ship by default."""
    from vector_lake_spark.operators.ann import lsh_neardup_pairs

    return lsh_neardup_pairs(
        _t(spark, sf, "embeddings"),
        H4,
        threshold=-2.0,
        n_bands=NEARDUP_N_BANDS,
        band_bits=None,
        n_rows=_t_rows(spark, sf, "embeddings"),  # r13 cached statistic
    )


def q_graph_knn_edges(spark, sf):
    """Similarity-graph construction: per-node top-k cosine neighbors
    among banded-LSH candidates, normalized to undirected edges — the
    standard prelude to semantic clustering at scale (vectors never
    enter the graph operator; candidates bounded by banding)."""
    from vector_lake_spark.operators.graph import knn_edges

    return knn_edges(_knn_candidate_pairs(spark, sf), GRAPH_KNN_K)


def q_graph_knn_mutual(spark, sf):
    """Mutual k-NN graph (r05 ADVICE follow-through: the union/mutual
    distinction is now an explicit knob): an edge survives only if BOTH
    endpoints rank it in their top-k — sparser and hub-resistant (a
    popular node may appear in everyone's top-k but keeps only k mutual
    edges), the standard prelude to density-based clustering."""
    from vector_lake_spark.operators.graph import knn_edges

    return knn_edges(
        _knn_candidate_pairs(spark, sf), GRAPH_KNN_K, mutual=True
    )


def q_graph_triangles(spark, sf):
    """Global triangle census of the k-NN similarity graph via the
    degree-oriented wedge join (hub-proof: a degree-d hub centers only
    wedges toward its higher-degree neighbors, never d² of them). One
    row (n_nodes, n_edges, n_triangles); the oracle verifies with the
    orientation-free ordered-id 3-way join — same count by symmetry."""
    from vector_lake_spark.operators.graph import knn_edges, triangle_stats

    return triangle_stats(knn_edges(_knn_candidate_pairs(spark, sf), GRAPH_KNN_K))


def _sql_knn_edges_cte() -> str:
    band_cols = ",\n         ".join(
        f"CAST({lsh_mod.shard_id_sql(EMB, NEARDUP_BANDS[b])} AS BIGINT) AS k{b}"
        for b in range(NEARDUP_N_BANDS)
    )
    band_match = " OR ".join(
        f"a.k{b} = b.k{b}" for b in range(NEARDUP_N_BANDS)
    )
    return f"""e AS (
  SELECT vec_id, {EMB} AS v,
         CAST({lsh_mod.shard_id_sql(EMB, H4)} AS BIGINT) AS shard,
         {band_cols}
  FROM embeddings
),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(a.v, b.v), 6) AS sim
  FROM e a JOIN e b ON a.shard = b.shard AND a.vec_id < b.vec_id
    AND ({band_match})
),
sym AS (
  SELECT id_a AS u, id_b AS v, sim FROM cand WHERE sim IS NOT NULL
  UNION ALL
  SELECT id_b AS u, id_a AS v, sim FROM cand WHERE sim IS NOT NULL
),
top AS (
  SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY sim DESC, v) AS rn
  FROM sym
),
edges AS (
  SELECT DISTINCT least(u, v) AS id_a, greatest(u, v) AS id_b
  FROM top WHERE rn <= {GRAPH_KNN_K}
)"""


SQL_GRAPH_KNN_EDGES = f"WITH {_sql_knn_edges_cte()}\nSELECT id_a, id_b FROM edges"

# mutual = both directions ranked: each direction appears exactly once in
# the symmetrized rank input, so mutuality is count(*)=2 on the
# normalized pair (the `edges` CTE in the shared builder goes unused)
SQL_GRAPH_KNN_MUTUAL = f"""WITH {_sql_knn_edges_cte()}
SELECT least(u, v) AS id_a, greatest(u, v) AS id_b
FROM top
WHERE rn <= {GRAPH_KNN_K}
GROUP BY 1, 2
HAVING count(*) = 2
"""

SQL_GRAPH_TRIANGLES = f"""WITH {_sql_knn_edges_cte()},
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e1.id_b = e2.id_a
  JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
),
nn AS (
  SELECT CAST(count(DISTINCT node) AS BIGINT) AS n_nodes
  FROM (SELECT id_a AS node FROM edges UNION ALL SELECT id_b FROM edges)
),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
SELECT n_nodes, n_edges, n_triangles FROM nn, ne, tri
"""


def q_graph_pagerank(spark, sf):
    # centrality over the SimHash near-dup graph: template-hub documents
    # (one boilerplate page near-duplicating many others) rank high —
    # removal candidates for a training corpus. Fixed iterations keep
    # it deterministic; the oracle unrolls the same iterations as CTEs.
    from vector_lake_spark.operators.dedup import simhash_neardup_pairs
    from vector_lake_spark.operators.graph import pagerank

    d = _t(spark, sf, "documents")
    # minimal config pinned for the same reason as dedup_edit_distance
    # (review r12: no eager count() at plan-build; auto == 4 at every
    # shipped scale)
    pairs = simhash_neardup_pairs(d, max_hamming=3, n_blocks=4)
    return pagerank(
        pairs, iterations=PAGERANK_ITERS, damping=PAGERANK_DAMPING
    ).withColumnRenamed("id", "doc_id")


def _sql_graph_pagerank() -> str:
    # unrolled PageRank over the shared banded candidate edges; the
    # damping constants interpolate from the SAME knobs the Spark call
    # uses, so the two sides cannot silently diverge
    d = PAGERANK_DAMPING
    iters = []
    prev = "r0"
    for i in range(1, PAGERANK_ITERS + 1):
        iters.append(
            f"""r{i} AS (
  SELECT e.b AS id, {1.0 - d} + {d} * sum({prev}.r / deg.deg) AS r
  FROM edges e
  JOIN {prev} ON e.a = {prev}.id
  JOIN deg ON e.a = deg.a
  GROUP BY e.b
)"""
        )
        prev = f"r{i}"
    chain = ",\n".join(iters)
    return f"""
WITH {_SQL_SIMHASH_BANDED_CTES},
edges AS (SELECT id_a AS a, id_b AS b FROM ham
          UNION ALL SELECT id_b AS a, id_a AS b FROM ham),
deg AS (SELECT a, count(*) AS deg FROM edges GROUP BY a),
r0 AS (SELECT a AS id, 1.0 AS r FROM deg),
{chain}
SELECT id AS doc_id, round(r, 6) AS rank FROM {prev}
"""


SQL_GRAPH_PAGERANK = _sql_graph_pagerank()


def q_dedup_minhash_native(spark, sf):
    from vector_lake_spark.operators.dedup import minhash_native_pairs

    d = _t(spark, sf, "documents")
    return minhash_native_pairs(d, repartition_input=_auto_spread_n(spark, d))


def _sql_dedup_minhash_native() -> str:
    from vector_lake_spark.operators.dedup import (
        MINHASH_M,
        MINHASH_P,
        _minhash_params,
    )

    params = _minhash_params(16)
    hashes = (
        f"list_transform({O.sql_shingles('text', 3)}, "
        f"g -> {O.sql_token_hash60('g')})"
    )
    sig_exprs = ", ".join(
        f"list_min(list_transform(h, x -> ({a} * (x % {MINHASH_M}) + {c}) "
        f"% {MINHASH_P}))"
        for a, c in params
    )
    band_keys = []
    for b in range(4):
        parts = " || '-' || ".join(
            f"CAST(sig[{b * 4 + i + 1}] AS VARCHAR)" for i in range(4)
        )
        band_keys.append(f"SELECT doc_id, sig, {b} AS band, {parts} AS key FROM sigs")
    bands = " UNION ALL ".join(band_keys)
    return f"""
WITH h AS (SELECT doc_id, {hashes} AS h FROM documents),
sigs AS (SELECT doc_id, [{sig_exprs}] AS sig FROM h WHERE len(h) > 0),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       round(CAST(len(list_filter(range(1, 17), i -> sig_a[i] = sig_b[i]))
                  AS DOUBLE) / 16, 6) AS est_jaccard
FROM cand
WHERE round(CAST(len(list_filter(range(1, 17), i -> sig_a[i] = sig_b[i]))
                 AS DOUBLE) / 16, 6) >= 0.5
"""


SQL_DEDUP_MINHASH_NATIVE = _sql_dedup_minhash_native()


def q_ann_ivf_topk(spark, sf):
    """IVF with the pinned codebook: expression argmin assignment → probe
    the 4 nearest centroids (driver-side constants) → exact cosine
    re-rank. The iterative k-means fit is offline
    (``scripts/fit_ivf_centroids.py``); with centroids frozen as literals
    the whole query is deterministic SQL → hash-checked against
    ``SQL_ANN_IVF`` (closes the r03 verdict's top evidence gap)."""
    from vector_lake_spark.operators.ann import assign_centroid_expr, ivf_topk
    from vector_lake_spark.operators.ivf_centroids import IVF_CENTROIDS

    emb = _t(spark, sf, "embeddings")
    assigned = emb.withColumn(
        "centroid_id",
        assign_centroid_expr(to_double_array(F.col("embedding")), IVF_CENTROIDS),
    )
    # shared probe + exact-re-rank helper (same code path as the stored
    # index) so the two IVF registry queries cannot drift apart
    return ivf_topk(assigned, IVF_CENTROIDS, QUERY_VEC, K, nprobe=4)


def _sql_ann_ivf() -> str:
    from vector_lake_spark.operators.ann import ivf_assign_sql, nearest_centroids
    from vector_lake_spark.operators.ivf_centroids import IVF_CENTROIDS

    probes = ", ".join(
        str(i) for i in nearest_centroids(QUERY_VEC, IVF_CENTROIDS, nprobe=4)
    )
    return f"""
WITH e AS (SELECT vec_id, {EMB} AS v FROM embeddings),
a AS (SELECT vec_id, v, {ivf_assign_sql('v', IVF_CENTROIDS)} AS centroid_id FROM e)
SELECT vec_id, round(list_cosine_similarity(v, {QV}), 6) AS score
FROM a
WHERE centroid_id IN ({probes})
ORDER BY score DESC, vec_id
LIMIT {K}
"""


SQL_ANN_IVF = _sql_ann_ivf()


def q_ann_ivf_recall(spark, sf):
    """In-engine IVF recall audit — the `vec_hamming_recall` pattern
    applied to the partition-pruned family: recall@k of the nprobe=4
    probe set vs exact cosine top-k over the full corpus, as one
    hash-checked query.  Together the two audits make 'measure, don't
    guess' a first-class operator across both approximate-retrieval
    families (signature pools and centroid pruning); at 100 TB this
    runs over a sampled query log on a schedule, and a falling recall
    number is the codebook-refit signal (`IVFIndex.drift` sees the
    population imbalance; this sees the QUALITY effect)."""
    from vector_lake_spark.functions.vectors import (
        cosine_similarity,
        lit_vector,
    )
    from vector_lake_spark.operators.ann import (
        assign_centroid_expr,
        nearest_centroids,
    )
    from vector_lake_spark.operators.ivf_centroids import IVF_CENTROIDS

    emb = _t(spark, sf, "embeddings")
    v = to_double_array(F.col("embedding"))
    score = F.round(cosine_similarity(v, lit_vector(QUERY_VEC)), 6)
    exact = (
        emb.select("vec_id", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(K)
    )
    probes = [
        int(i) for i in nearest_centroids(QUERY_VEC, IVF_CENTROIDS, 4)
    ]
    probed = emb.withColumn(
        "centroid_id", assign_centroid_expr(v, IVF_CENTROIDS)
    ).filter(F.col("centroid_id").isin(probes))
    hit = exact.join(probed.select("vec_id"), "vec_id", "left_semi")
    return hit.agg(F.count(F.lit(1)).alias("n_hits")).select(
        F.lit(K).cast("long").alias("k"),
        F.lit(4).cast("long").alias("nprobe"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.round(F.col("n_hits") / F.lit(K), 6).alias("recall_at_k"),
    )


def _sql_ann_ivf_recall() -> str:
    from vector_lake_spark.operators.ann import (
        ivf_assign_sql,
        nearest_centroids,
    )
    from vector_lake_spark.operators.ivf_centroids import IVF_CENTROIDS

    probes = ", ".join(
        str(i) for i in nearest_centroids(QUERY_VEC, IVF_CENTROIDS, nprobe=4)
    )
    return f"""
WITH e AS (SELECT vec_id, {EMB} AS v FROM embeddings),
exact AS (
  SELECT vec_id, round(list_cosine_similarity(v, {QV}), 6) AS score
  FROM e ORDER BY score DESC, vec_id LIMIT {K}
),
a AS (SELECT vec_id, {ivf_assign_sql('v', IVF_CENTROIDS)} AS centroid_id
      FROM e),
h AS (
  SELECT count(*) AS n_hits FROM exact
  WHERE vec_id IN (SELECT vec_id FROM a WHERE centroid_id IN ({probes}))
)
SELECT CAST({K} AS BIGINT) AS k,
       CAST(4 AS BIGINT) AS nprobe,
       CAST(n_hits AS BIGINT) AS n_hits,
       round(n_hits / {K}.0, 6) AS recall_at_k
FROM h
"""


SQL_ANN_IVF_RECALL = _sql_ann_ivf_recall()


IVF_QUANT_NPROBE = 4
IVF_QUANT_CAND = 40  # quantized candidate pool = 4×K before exact re-rank


def q_ann_ivf_quantized(spark, sf):
    """Staged ANN: IVF centroid pruning → int8-quantized candidate
    scoring → exact re-rank (r04 verdict #6). The production shape for a
    100 TB index: the probe prunes I/O to ~nprobe/n_centroids of the
    corpus, the quantized pass ranks candidates over a 4×-smaller
    representation, and only the ``IVF_QUANT_CAND`` survivors pay the
    full-precision kernel. Every stage is deterministic (pinned codebook,
    rounded scores, vec_id tie-breaks) so the whole cascade hash-checks
    against DuckDB."""
    from vector_lake_spark.functions.vectors import cosine_similarity, lit_vector
    from vector_lake_spark.operators.ann import (
        assign_centroid_expr,
        nearest_centroids,
    )
    from vector_lake_spark.operators.ivf_centroids import IVF_CENTROIDS

    emb = _t(spark, sf, "embeddings")
    v = to_double_array(F.col("embedding"))
    assigned = emb.withColumn(
        "centroid_id", assign_centroid_expr(v, IVF_CENTROIDS)
    )
    probes = nearest_centroids(QUERY_VEC, IVF_CENTROIDS, IVF_QUANT_NPROBE)
    pruned = assigned.filter(F.col("centroid_id").isin([int(i) for i in probes]))
    # stage 2: same int8 symmetric quantization arithmetic as
    # vec_quantize_int8 / vec_topk_quantized — rank on the dequantized
    # approximation, keep a 4×K candidate pool
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    deq = F.transform(v, lambda x: F.round(F.try_divide(x, scale)) * scale)
    qscore = F.round(cosine_similarity(deq, lit_vector(QUERY_VEC)), 6)
    cands = (
        pruned.select("vec_id", "embedding", qscore.alias("qscore"))
        .orderBy(F.col("qscore").desc(), F.col("vec_id"))
        .limit(IVF_QUANT_CAND)
    )
    # stage 3: exact full-precision re-rank of the tiny candidate pool
    score = F.round(
        cosine_similarity(to_double_array(F.col("embedding")), lit_vector(QUERY_VEC)),
        6,
    )
    return (
        cands.select("vec_id", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(K)
    )


def _sql_ann_ivf_quantized() -> str:
    from vector_lake_spark.operators.ann import ivf_assign_sql, nearest_centroids
    from vector_lake_spark.operators.ivf_centroids import IVF_CENTROIDS

    probes = ", ".join(
        str(i)
        for i in nearest_centroids(QUERY_VEC, IVF_CENTROIDS, IVF_QUANT_NPROBE)
    )
    return f"""
WITH e AS (SELECT vec_id, {EMB} AS v FROM embeddings),
a AS (SELECT vec_id, v, {ivf_assign_sql('v', IVF_CENTROIDS)} AS centroid_id FROM e),
p AS (SELECT vec_id, v FROM a WHERE centroid_id IN ({probes})),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM p
),
c AS (
  SELECT vec_id, v,
         round(list_cosine_similarity(
           list_transform(v, x -> round(x / nullif(scale, 0.0)) * scale),
           {QV}), 6) AS qscore
  FROM s
  ORDER BY qscore DESC, vec_id
  LIMIT {IVF_QUANT_CAND}
)
SELECT vec_id, round(list_cosine_similarity(v, {QV}), 6) AS score
FROM c
ORDER BY score DESC, vec_id
LIMIT {K}
"""


SQL_ANN_IVF_QUANTIZED = _sql_ann_ivf_quantized()


# ---------------------------------------------------------------------------
# Text-analysis family
# ---------------------------------------------------------------------------

def q_text_stats_by_lang(spark, sf):
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.sum(token_count(F.col("text"))).cast("long").alias("total_tokens"),
        F.round(F.avg(quality_score(F.col("text"))), 6).alias("avg_quality"),
    )


SQL_TEXT_STATS_BY_LANG = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_chars), 6) AS avg_chars,
       CAST(sum({O.sql_token_count('text')}) AS BIGINT) AS total_tokens,
       round(avg({O.sql_quality_score('text')}), 6) AS avg_quality
FROM documents
GROUP BY lang
"""


def q_text_quality(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.round(avg_token_len(F.col("text")), 6).alias("avg_tok_len"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        F.round(quality_score(F.col("text")), 6).alias("quality"),
    )


SQL_TEXT_QUALITY = f"""
SELECT doc_id,
       {O.sql_token_count('text')} AS n_tokens,
       round({O.sql_avg_token_len('text')}, 6) AS avg_tok_len,
       round({O.sql_punct_ratio('text')}, 6) AS punct_ratio,
       round({O.sql_stopword_ratio('text')}, 6) AS stopword_ratio,
       round({O.sql_quality_score('text')}, 6) AS quality
FROM documents
"""


def q_text_langid(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def _sql_text_langid() -> str:
    scores = O.sql_lang_scores("text")
    cols = [(lang, f"s_{lang}") for lang, _ in scores]
    inner = ", ".join(f"{expr} AS s_{lang}" for lang, expr in scores)
    return f"""
WITH s AS (SELECT doc_id, {inner} FROM documents)
SELECT doc_id, {O.sql_lang_id(cols)} AS lang_pred FROM s
"""


SQL_TEXT_LANGID = _sql_text_langid()


def q_text_token_top20(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(20)
    )


SQL_TEXT_TOKEN_TOP20 = f"""
SELECT tok, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest({O.sql_tokens('text')}) AS tok FROM documents)
GROUP BY tok
ORDER BY n DESC, tok
LIMIT 20
"""


def q_text_boilerplate_ngrams(spark, sf):
    """Boilerplate n-gram mining (the C4-style prep for repeated-span
    removal): 5-word shingles ranked by how many DISTINCT documents
    repeat them — the spans a curation pass would strip before
    training. One explode + one aggregate (shingles are already
    distinct per doc, so the doc count is a plain count); the shingle
    text itself is the group key here (the mining output must be
    human-readable), unlike the dedup joins which hash shingles to
    8 bytes. At 100 TB mine on a sample, or hash-first and join the
    surviving keys back for display — measured on THIS corpus the
    hash-first two-phase is 2× slower (7.6 s vs 3.7 s at sf0.1): the
    synthetic fixed vocabulary makes most grams clear the ≥3 floor, so
    the "small surviving set" premise fails and the second explode
    doubles scan cost. Single-phase with map-side partial aggregation
    is the right default; switch to hash-first only when the floor is
    genuinely selective (natural text, higher floors)."""
    from vector_lake_spark.operators.dedup import shingles

    d = _t(spark, sf, "documents")
    # single-file local input runs the shingle explode in ONE task —
    # the same local-mode artifact text_repetition documents; the
    # round-robin spread is a no-op on any many-file production table
    d = _spread(spark, d, d)
    return (
        d.select(
            "doc_id", F.explode(shingles(F.col("text"), 5)).alias("gram")
        )
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 3)
        .orderBy(F.col("n_docs").desc(), F.col("gram"))
        .limit(20)
    )


SQL_TEXT_BOILERPLATE_NGRAMS = f"""
SELECT gram, CAST(count(*) AS BIGINT) AS n_docs
FROM (SELECT doc_id, unnest({O.sql_shingles('text', 5)}) AS gram
      FROM documents)
GROUP BY gram
HAVING count(*) >= 3
ORDER BY n_docs DESC, gram
LIMIT 20
"""


SPAN_SHINGLE_N = 5
SPAN_MIN_DOCS = 3


def q_pipe_span_dedup(spark, sf):
    """Span-level duplication audit (r12, beyond the ask) — the
    repeated-SPAN half that ``text_boilerplate_ngrams`` names as its
    downstream step, and the per-document report the
    dedupe-spans-not-docs curation recipe (C4 / "Deduplicating
    Training Data" — public literature) needs before trimming: which
    CONTIGUOUS token ranges of each document are corpus-duplicated
    boilerplate, and how much of the document they cover. Doc-level
    dedup misses these entirely (a unique article wrapped in a shared
    navigation header is not a near-dup of anything).

    Plan, Spark-first at every step: positional 5-token shingles
    hashed to 60-bit ints IN the projection (fingerprints shuffle,
    never text — the dedup-family posture); one hash aggregate
    computes cross-document frequency (count DISTINCT doc_id ≥ 3);
    one hash join marks duplicated start positions; interval-merging
    gaps-and-islands (running max of covered-end over a
    rows-unbounded-preceding window — overlapping spans must UNION,
    not sum, or coverage double-counts) folds starts into maximal
    spans; per-doc aggregate + zero-filled left join back to the
    corpus. Shuffles carry (doc_id, pos, h) rows only. Oracle: the
    identical construction over DuckDB list/window functions (same
    md5-based hash, so any hash collision collides identically on
    both sides). The span-detection core lives in
    ``operators/dedup.duplicated_spans`` (late r12) — the trimming
    operator ``strip_duplicated_spans`` shares it, so the audit and
    the cleaned corpus can never disagree about what a span is."""
    from vector_lake_spark.functions.text import token_count
    from vector_lake_spark.operators.dedup import (
        duplicated_spans,
        span_report_agg,
    )

    d = _t(spark, sf, "documents")
    d = _spread(spark, d, d)
    base = d.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    spans = duplicated_spans(
        d, n=SPAN_SHINGLE_N, min_docs=SPAN_MIN_DOCS
    )
    per_doc = span_report_agg(spans)
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_dup_positions", F.lit(0)).cast("long").alias(
            "n_dup_positions"
        ),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", F.lit(0))
            / F.greatest(F.col("n_tokens").cast("double"), F.lit(1.0)),
            6,
        ).alias("dup_frac"),
    )


def _sql_pipe_span_dedup() -> str:
    n = SPAN_SHINGLE_N
    toks = O.sql_tokens("text")
    gram = f"array_to_string(toks[i:i+{n - 1}], ' ')"
    return f"""
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
p AS (
  SELECT doc_id, u.pos AS pos, u.h AS h
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, greatest(len(toks) - {n - 1}, 0) + 1),
             i -> {{'pos': i,
                   'h': {O.sql_token_hash60(gram)}}}
           )) AS u
    FROM t
  )
),
freq AS (
  SELECT h FROM p GROUP BY h
  HAVING count(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
),
dup AS (
  SELECT p.doc_id, p.pos, p.pos + {n - 1} AS cov_end
  FROM p JOIN freq ON p.h = freq.h
),
marked AS (
  SELECT doc_id, pos, cov_end,
         CASE WHEN max(cov_end) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ) IS NULL
              OR pos > max(cov_end) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ) + 1
         THEN 1 ELSE 0 END AS new_span
  FROM dup
),
sp AS (
  SELECT doc_id, span_id, min(pos) AS s, max(cov_end) AS e,
         count(*) AS n_starts
  FROM (
    SELECT doc_id, pos, cov_end,
           sum(new_span) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS span_id
    FROM marked
  )
  GROUP BY doc_id, span_id
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(n_starts) AS BIGINT) AS n_dup_positions,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
  FROM sp GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len({O.sql_tokens('d.text')}) AS BIGINT) AS n_tokens,
       COALESCE(per_doc.n_dup_positions, 0) AS n_dup_positions,
       COALESCE(per_doc.n_spans, 0) AS n_spans,
       COALESCE(per_doc.dup_tokens, 0) AS dup_tokens,
       round(COALESCE(per_doc.dup_tokens, 0) /
             greatest(CAST(len({O.sql_tokens('d.text')}) AS DOUBLE), 1.0),
             6) AS dup_frac
FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
"""


SQL_PIPE_SPAN_DEDUP = _sql_pipe_span_dedup()


BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def q_text_bpe_tokens(spark, sf):
    # BPE-ish regex tokenization vs whitespace tokenization, per document
    d = _t(spark, sf, "documents")
    n_ws = token_count(F.col("text"))
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0)).cast(
        "long"
    )
    return d.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.round(F.try_divide(n_bpe.cast("double"), n_ws.cast("double")), 6).alias(
            "bpe_ratio"
        ),
    )


SQL_TEXT_BPE_TOKENS = f"""
SELECT doc_id,
       {O.sql_token_count('text')} AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
       round(CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS DOUBLE)
             / CAST(nullif({O.sql_token_count('text')}, 0) AS DOUBLE), 6) AS bpe_ratio
FROM documents
"""


def q_text_fingerprint(spark, sf):
    # winnowing-style shingle fingerprint: min/max 60-bit hash over the
    # document's distinct 3-gram shingles (NULL for sub-3-token docs)
    from vector_lake_spark.functions.text import token_hash60
    from vector_lake_spark.operators.dedup import shingles

    d = _t(spark, sf, "documents")
    hashes = F.transform(shingles(F.col("text"), 3), lambda g: token_hash60(g))
    return d.select(
        "doc_id",
        F.array_min(hashes).alias("min_shingle_hash"),
        F.array_max(hashes).alias("max_shingle_hash"),
    )


SQL_TEXT_FINGERPRINT = f"""
SELECT doc_id,
       list_min(list_transform({O.sql_shingles('text', 3)},
                g -> {O.sql_token_hash60('g')})) AS min_shingle_hash,
       list_max(list_transform({O.sql_shingles('text', 3)},
                g -> {O.sql_token_hash60('g')})) AS max_shingle_hash
FROM documents
"""


def q_pipe_clean_corpus(spark, sf):
    # END-TO-END corpus cleaning — the composed LLM-pipeline pass:
    # exact-dedup survivors → quality floor → language-ID agreement →
    # per-source stats. One declarative plan: Catalyst fuses the filters
    # into the survivor semi-join's probe side.
    from vector_lake_spark.operators.dedup import exact_dedup

    d = _t(spark, sf, "documents")
    surv = exact_dedup(d)
    q = F.round(quality_score(F.col("text")), 6)
    kept = surv.filter(q >= 0.5).filter(lang_id(F.col("text")) == F.col("lang"))
    # average over integer micro-units of the rounded score: the long sum
    # is exact, so the result is independent of summation order (a raw
    # double avg drifts in the 6th decimal between engines). Explicit
    # round() before the long cast — Spark's cast truncates while
    # DuckDB's rounds, and q*1e6 lands just below the integer for ~1% of
    # 6-decimal values (0.29*1e6 = 289999.99999999994).
    micro = F.round(q * 1e6).cast("long")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(micro) / 1e6, 6).alias("avg_quality"),
        F.sum(token_count(F.col("text"))).cast("long").alias("total_tokens"),
    )


def _sql_pipe_clean_corpus() -> str:
    scores = O.sql_lang_scores("text")
    cols = [(lang, f"s_{lang}") for lang, _ in scores]
    inner = ", ".join(f"{expr} AS s_{lang}" for lang, expr in scores)
    return f"""
WITH surv AS (
  SELECT d.* FROM documents d
  JOIN (SELECT {O.sql_fingerprint64('text')} AS fp, min(doc_id) AS keep_id
        FROM documents GROUP BY fp) k
    ON d.doc_id = k.keep_id
),
sc AS (SELECT doc_id, source, lang, text, {inner},
              round({O.sql_quality_score('text')}, 6) AS q,
              {O.sql_token_count('text')} AS toks
       FROM surv),
kept AS (SELECT * FROM sc WHERE q >= 0.5 AND {O.sql_lang_id(cols)} = lang)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(CAST(round(q * 1000000) AS BIGINT)) / 1000000.0, 6) AS avg_quality,
       CAST(sum(toks) AS BIGINT) AS total_tokens
FROM kept GROUP BY source
"""


SQL_PIPE_CLEAN_CORPUS = _sql_pipe_clean_corpus()


PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]


def q_profile_documents(spark, sf):
    # data-profiling utility: null count, exact distinct count, min/max
    # per column — ALL columns in ONE scan (a 4-pass per-column loop
    # would read a 100 TB table four times), then stack() to one row per
    # column. min/max compared as strings so one schema fits every type.
    d = _t(spark, sf, "documents")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in PROFILE_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__nulls"),
            F.countDistinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    one = d.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in PROFILE_COLS
    )
    return one.selectExpr(
        "n_rows",
        f"stack({len(PROFILE_COLS)}, {stack_args}) AS "
        "(column_name, n_nulls, n_distinct, min_str, max_str)",
    )


def _sql_profile_documents() -> str:
    selects = []
    for c in PROFILE_COLS:
        selects.append(
            f"""SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows,
       '{c}' AS column_name,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       min(CAST({c} AS VARCHAR)) AS min_str,
       max(CAST({c} AS VARCHAR)) AS max_str
FROM documents"""
        )
    return "\nUNION ALL\n".join(selects)


SQL_PROFILE_DOCUMENTS = _sql_profile_documents()


def q_pipe_split_stats(spark, sf):
    # deterministic train/val/test split by id-hash bucket — the
    # scale-correct way to split training data (reproducible on any
    # engine, stable under repartitioning, no RNG state): bucket =
    # hash60(doc_id) % 100 → 80/10/10 (md5-prefix hash, portable
    # across Spark and the DuckDB oracle)
    from vector_lake_spark.functions.text import token_hash60

    d = _t(spark, sf, "documents")
    bucket = token_hash60(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
    )
    return d.select(split.alias("split"), "source", "n_chars").groupBy(
        "split", "source"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


SQL_PIPE_SPLIT_STATS = f"""
WITH b AS (
  SELECT source, n_chars,
         {O.sql_token_hash60("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
  FROM documents
),
s AS (
  SELECT CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val'
              ELSE 'test' END AS split,
         source, n_chars
  FROM b
)
SELECT split, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY split, source
"""


PACK_CAPACITY = 2048  # tokens per packed training sequence


def q_pipe_pack_sequences(spark, sf):
    """Sequence packing for training batches: documents are laid out in a
    deterministic order (doc_id) within each source, and each lands in
    bin = floor(exclusive-prefix-token-sum / capacity) — contiguous
    greedy packing into ~capacity-token bins, reproducible on any engine.

    Scale shape: one token-count scan, then a per-source running-sum
    window. Sources partition the window, so parallelism = #sources; for
    a single giant source, pre-split on a deterministic doc_id hash
    bucket (the same trick as pipe_split_stats) before packing. Output is
    per-bin stats — the packing plan, not a repeat of the corpus."""
    d = _t(spark, sf, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = d.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    binned = toks.withColumn(
        "bin",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
            / F.lit(PACK_CAPACITY)
        ).cast("long"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


SQL_PIPE_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id, source, {O.sql_token_count('text')} AS n_tokens
  FROM documents
),
b AS (
  SELECT doc_id, source, n_tokens,
         CAST(floor(coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) / {PACK_CAPACITY}) AS BIGINT) AS bin
  FROM t
)
SELECT source, bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM b GROUP BY source, bin
"""


def q_pipe_stratified_sample(spark, sf):
    """Source-balanced stratified downsample: every source is sampled
    down to (approximately) the smallest source's size with a
    deterministic id-hash — reproducible on any engine, stable under
    repartitioning, no RNG state. The keep rule is pure integer
    arithmetic (hash‰ · n_src < 10000 · n_min), so Spark and the oracle
    agree bit-for-bit. One scan + a broadcast of the tiny per-source
    count table; returns the per-source sampling report."""
    from vector_lake_spark.functions.text import token_hash60

    d = _t(spark, sf, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    mn = counts.agg(F.min("n_src").alias("n_min"))
    h = token_hash60(F.col("doc_id").cast("string")) % 10000
    return (
        d.join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(mn))
        .withColumn("kept", h * F.col("n_src") < 10000 * F.col("n_min"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("kept").cast("long")).cast("long").alias("n_sampled"),
        )
    )


SQL_PIPE_STRATIFIED_SAMPLE = f"""
WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
m AS (SELECT min(n_src) AS n_min FROM c),
k AS (
  SELECT d.source,
         ({O.sql_token_hash60("CAST(doc_id AS VARCHAR)")} % 10000) * c.n_src
           < 10000 * m.n_min AS kept
  FROM documents d JOIN c ON d.source = c.source CROSS JOIN m
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_sampled
FROM k GROUP BY source
"""


def q_text_redact_pii(spark, sf):
    """PII scrubbing — detection counts + redaction, all codegen regex
    (functions/text.py EMAIL_RE/PHONE_RE): a single scan, no shuffle, no
    Python, the 100 TB shape for a compliance scrub pass.

    The synthetic documents table is digit-free, so the query first
    stamps each doc with deterministic synthetic PII derived from doc_id
    (an email and a phone) and then scrubs it — proving detection AND
    redaction end-to-end with nonzero match counts, fully mirrored by
    the oracle. Output carries md5(redacted) rather than the redacted
    text so the value-hash compares the full scrub result compactly."""
    from vector_lake_spark.functions.text import (
        pii_email_count,
        pii_phone_count,
        redact_pii,
    )

    d = _t(spark, sf, "documents")
    stamped = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        ).alias("stamped"),
    )
    return stamped.select(
        "doc_id",
        pii_email_count(F.col("stamped")).alias("n_emails"),
        pii_phone_count(F.col("stamped")).alias("n_phones"),
        F.md5(redact_pii(F.col("stamped"))).alias("redacted_md5"),
    )


SQL_TEXT_REDACT_PII = f"""
WITH s AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS stamped
  FROM documents
)
SELECT doc_id,
       {O.sql_pii_email_count('stamped')} AS n_emails,
       {O.sql_pii_phone_count('stamped')} AS n_phones,
       md5({O.sql_redact_pii('stamped')}) AS redacted_md5
FROM s
"""


REPETITION_FLAG = 0.2  # dup-3-gram fraction above which a doc is flagged


def q_text_repetition(spark, sf):
    """Within-document repetitiousness (Gopher-style quality signal):
    duplicate 3-gram fraction per document, plus the filter flag. Catches
    boilerplate/template spam that exact and near dedup both miss (the
    duplication is *inside* one document). Pure column expressions — no
    hash shuffle; the ``_auto_spread_n`` round-robin exchange exists only
    for a narrow single-file local source (SCALE.md "known local-mode
    artifacts") and is skipped entirely on a many-file input."""
    from vector_lake_spark.functions.text import repetition_ratio

    d = _t(spark, sf, "documents").select("doc_id", "source", "text")
    d = _spread(spark, d, d)
    return d.select(
        "doc_id",
        "source",
        repetition_ratio(F.col("text"), 3).alias("rep3_ratio"),
    ).withColumn("flagged", F.col("rep3_ratio") >= REPETITION_FLAG)


SQL_TEXT_REPETITION = f"""
WITH r AS (
  SELECT doc_id, source,
         {O.sql_repetition_ratio('text', 3)} AS rep3_ratio
  FROM documents
)
SELECT doc_id, source, rep3_ratio, rep3_ratio >= {REPETITION_FLAG} AS flagged
FROM r
"""


# RAG-prep chunking: fixed-size character windows with overlap. At 100 TB
# this is a single narrow scan + per-row explode — no shuffle, no UDF; the
# chunk multiplier (~len/stride rows out per doc) is the only cost.
CHUNK_SIZE = 400
CHUNK_STRIDE = 300


def q_text_chunk_windows(spark, sf):
    """Overlapping character-window chunking (RAG/indexing prep):
    deterministic boundaries every ``CHUNK_STRIDE`` chars, window length
    ``CHUNK_SIZE`` (clipped at end-of-doc). Pure expressions — sequence +
    explode + substring stay inside whole-stage codegen; empty docs yield
    no chunks."""
    d = _t(spark, sf, "documents")
    starts = F.sequence(
        F.lit(0), F.length("text") - 1, F.lit(CHUNK_STRIDE)
    )
    return (
        d.filter(F.length("text") > 0)
        .select("doc_id", "text", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            (F.col("s") / CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.col("s").cast("long").alias("chunk_start"),
            F.substring(F.col("text"), F.col("s") + 1, F.lit(CHUNK_SIZE)).alias(
                "chunk"
            ),
            F.length(
                F.substring(F.col("text"), F.col("s") + 1, F.lit(CHUNK_SIZE))
            ).cast("long").alias("chunk_len"),
        )
    )


SQL_TEXT_CHUNK_WINDOWS = f"""
WITH s AS (
  SELECT doc_id, text,
         unnest(range(0, length(text), {CHUNK_STRIDE})) AS start
  FROM documents
  WHERE length(text) > 0
)
SELECT doc_id,
       CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(start AS BIGINT) AS chunk_start,
       substr(text, start + 1, {CHUNK_SIZE}) AS chunk,
       CAST(length(substr(text, start + 1, {CHUNK_SIZE})) AS BIGINT) AS chunk_len
FROM s
"""


# Pinned-weight logistic quality classifier (the codebook pattern again:
# the FIT happens offline, the pinned model is pure arithmetic in both
# engines). Features are the existing deterministic text signals.
QUALITY_LR_WEIGHTS = {
    "bias": -1.2,
    "len_norm": 2.0,        # min(token_count/200, 1)
    "punct_ratio": -3.0,
    "stopword_ratio": 1.5,
    "avg_tok_norm": 0.8,    # min(avg_token_len/10, 1)
    "rep3_ratio": -2.5,
}
QUALITY_KEEP_THRESHOLD = 0.5


def quality_prob_expr(t: "F.Column") -> "F.Column":
    """Rounded logistic quality probability over the pinned weights —
    shared by the standalone filter query and the e2e curation pipeline
    so both engines (and both queries) score identically."""
    from vector_lake_spark.functions.text import (
        avg_token_len,
        punct_ratio,
        repetition_ratio,
        stopword_ratio,
        token_count,
    )

    w = QUALITY_LR_WEIGHTS
    logit = (
        F.lit(w["bias"])
        + w["len_norm"] * F.least(token_count(t) / 200.0, F.lit(1.0))
        + w["punct_ratio"] * punct_ratio(t)
        + w["stopword_ratio"] * stopword_ratio(t)
        + w["avg_tok_norm"] * F.least(avg_token_len(t) / 10.0, F.lit(1.0))
        + w["rep3_ratio"] * repetition_ratio(t, 3)
    )
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)


def sql_quality_prob(col: str = "text") -> str:
    w = QUALITY_LR_WEIGHTS
    logit = (
        f"{w['bias']} "
        f"+ {w['len_norm']} * least({O.sql_token_count(col)} / 200.0, 1.0) "
        f"+ {w['punct_ratio']} * {O.sql_punct_ratio(col)} "
        f"+ {w['stopword_ratio']} * {O.sql_stopword_ratio(col)} "
        f"+ {w['avg_tok_norm']} * least({O.sql_avg_token_len(col)} / 10.0, 1.0) "
        f"+ {w['rep3_ratio']} * {O.sql_repetition_ratio(col, 3)}"
    )
    return f"round(1.0 / (1.0 + exp(-({logit}))), 6)"


def q_pipe_quality_filter(spark, sf):
    """Model-based quality filtering, the production-pipeline successor
    to heuristic thresholds: a logistic regression over deterministic
    text features with PINNED weights (fit offline — same posture as the
    IVF codebook), scored as a single narrow scan of pure codegen
    expressions; keep = score >= threshold on the rounded score, so both
    engines decide identically. The ``_auto_spread_n`` round-robin only
    exists for a narrow single-file local source (the repetition-ratio
    feature is the heavy one — measured 3.6 s single-task vs 0.4 s
    spread at sf0.1) and is skipped entirely on many-file inputs."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    d = _spread(spark, d, d)
    score = quality_prob_expr(F.col("text"))
    return d.select(
        "doc_id",
        score.alias("quality_prob"),
        (score >= QUALITY_KEEP_THRESHOLD).alias("keep"),
    )


SQL_PIPE_QUALITY_FILTER = f"""
WITH s AS (
  SELECT doc_id, {sql_quality_prob('text')} AS quality_prob
  FROM documents
)
SELECT doc_id, quality_prob,
       quality_prob >= {QUALITY_KEEP_THRESHOLD} AS keep
FROM s
"""


def q_pipe_curation_e2e(spark, sf):
    """The composed curation pipeline — quality filter → exact dedup
    (keep min-id per content fingerprint) → sequence packing — as ONE
    Catalyst plan, proving the operators compose without materialization
    barriers: the quality logit and the fingerprint ride the same scan,
    dedup shuffles only (fp, id) + the packing window's (source) key,
    and the output is the per-bin packing plan over the surviving
    corpus. At 100 TB each stage's shape is unchanged from its
    standalone query (same pins)."""
    from vector_lake_spark.functions.text import fingerprint64

    d = _t(spark, sf, "documents").select("doc_id", "source", "text")
    spread = _spread(spark, d, d)
    if spread is not d:
        # barrier, not just a repartition: Catalyst pushes the quality
        # FILTER below a bare Repartition back into the single-file scan
        # (the right one-pass plan on a many-file cluster input, but it
        # re-serializes the whole pipeline into one local task — measured
        # 4.3 s vs 1.3 s). The checkpoint pins the spread; it exists only
        # on the local single-file path, never at scale.
        d = spread.localCheckpoint(eager=False)
    kept = d.filter(
        quality_prob_expr(F.col("text")) >= QUALITY_KEEP_THRESHOLD
    )
    wfp = Window.partitionBy("fp")
    survivors = (
        kept.withColumn("fp", fingerprint64(F.col("text")))
        .withColumn("keep_id", F.min("doc_id").over(wfp))
        .filter(F.col("doc_id") == F.col("keep_id"))
    )
    wrun = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = survivors.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    binned = toks.withColumn(
        "bin",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(wrun), F.lit(0))
            / F.lit(PACK_CAPACITY)
        ).cast("long"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


SQL_PIPE_CURATION_E2E = f"""
WITH k AS (
  SELECT doc_id, source, text
  FROM documents
  WHERE {sql_quality_prob('text')} >= {QUALITY_KEEP_THRESHOLD}
),
f AS (
  SELECT doc_id, source, text, {O.sql_fingerprint64('text')} AS fp FROM k
),
dd AS (
  SELECT doc_id, source, text,
         min(doc_id) OVER (PARTITION BY fp) AS keep_id
  FROM f
),
t AS (
  SELECT doc_id, source, {O.sql_token_count('text')} AS n_tokens
  FROM dd WHERE doc_id = keep_id
),
b AS (
  SELECT doc_id, source, n_tokens,
         CAST(floor(coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) / {PACK_CAPACITY}) AS BIGINT) AS bin
  FROM t
)
SELECT source, bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM b GROUP BY source, bin
"""


# Target domain-mixture weights: share_i = w_i / Σw. A tiny dims table —
# at 100 TB this is the canonical broadcast-join side.
DOMAIN_MIX_WEIGHTS = {f"src{i}": i + 1 for i in range(20)}
_DOMAIN_MIX_TOTAL_W = sum(DOMAIN_MIX_WEIGHTS.values())


def q_pipe_domain_mix(spark, sf):
    """Domain-mixture reweighting — given target corpus shares per
    source (the dims table above), compute each source's sampling rate
    so the mixture of the sampled corpus approaches the target:
    rate = min(1, target_share · total / n_source). Rates cap at 1
    (a source can't be oversampled by dropping rows — those need epoch
    repeats, visible as rate == 1 with share · total > n_source).

    Scale shape: one scan for per-source counts (map-side partial agg),
    then broadcast joins of two tiny frames — no full-table shuffle."""
    d = _t(spark, sf, "documents")
    tgt = spark.createDataFrame(
        sorted(DOMAIN_MIX_WEIGHTS.items()), "source string, w long"
    )
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    total = counts.agg(F.sum("n_src").cast("long").alias("n_total"))
    rate = F.least(
        F.lit(1.0),
        (F.col("w") / F.lit(float(_DOMAIN_MIX_TOTAL_W)))
        * F.col("n_total")
        / F.col("n_src"),
    )
    return (
        counts.join(F.broadcast(tgt), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            F.col("n_src").cast("long").alias("n_docs"),
            F.round(F.col("w") / F.lit(float(_DOMAIN_MIX_TOTAL_W)), 6).alias(
                "target_share"
            ),
            F.round(rate, 6).alias("sample_rate"),
            F.floor(rate * F.col("n_src")).cast("long").alias("n_sampled"),
        )
    )


def _sql_pipe_domain_mix() -> str:
    values = ", ".join(
        f"('{s}', {w})" for s, w in sorted(DOMAIN_MIX_WEIGHTS.items())
    )
    tw = float(_DOMAIN_MIX_TOTAL_W)
    rate = f"least(1.0, (w / {tw}) * n_total / n_src)"
    return f"""
WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
t AS (SELECT * FROM (VALUES {values}) AS t(source, w)),
n AS (SELECT CAST(sum(n_src) AS BIGINT) AS n_total FROM c)
SELECT c.source,
       CAST(n_src AS BIGINT) AS n_docs,
       round(w / {tw}, 6) AS target_share,
       round({rate}, 6) AS sample_rate,
       CAST(floor({rate} * n_src) AS BIGINT) AS n_sampled
FROM c JOIN t USING (source) CROSS JOIN n
"""


SQL_PIPE_DOMAIN_MIX = _sql_pipe_domain_mix()


N_SHUFFLE_SHARDS = 8
_SHUFFLE_SALT = "shuf42:"


def q_pipe_shuffle_shards(spark, sf):
    """Deterministic global shuffle for training — every document gets a
    reproducible pseudo-random position: h = hash60(salt ‖ doc_id),
    shard = h mod N, pos = rank of h within the shard. Engine-portable
    (md5 arithmetic, no RNG state), stable under repartitioning — rerun
    on any cluster layout, same order.

    Scale shape: the window per shard means parallelism = shard count,
    so N_SHUFFLE_SHARDS is sized well above the executor count at scale
    (8 here only to keep oracle output small); the equivalent writer-side
    formulation is repartitionByRange(h) + sortWithinPartitions(h) —
    same keys, no global sort."""
    from vector_lake_spark.functions.text import token_hash60

    d = _t(spark, sf, "documents")
    h = token_hash60(F.concat(F.lit(_SHUFFLE_SALT), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        d.select("doc_id", h.alias("h"))
        .withColumn("shard", F.pmod(F.col("h"), F.lit(N_SHUFFLE_SHARDS)).cast("long"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


SQL_PIPE_SHUFFLE_SHARDS = f"""
WITH h AS (
  SELECT doc_id,
         {O.sql_token_hash60(f"concat('{_SHUFFLE_SALT}', CAST(doc_id AS VARCHAR))")} AS h
  FROM documents
)
SELECT doc_id,
       CAST(h % {N_SHUFFLE_SHARDS} AS BIGINT) AS shard,
       CAST(row_number() OVER (
           PARTITION BY h % {N_SHUFFLE_SHARDS} ORDER BY h, doc_id
         ) AS BIGINT) AS pos
FROM h
"""


EVAL_HOLDOUT_MOD = 23  # doc_id % 23 == 0 → held-out eval set (~4%)
CONTAMINATION_JACCARD = 0.5


def q_pipe_contamination(spark, sf):
    """Train/eval contamination check — the step every LLM data pipeline
    needs before benchmarking: find training documents whose 3-gram
    shingle Jaccard against ANY held-out eval document reaches the
    threshold. The eval set is a deterministic doc_id slice (stand-in for
    a benchmark suite). Reuses the hashed-shingle machinery: a BIPARTITE
    shingle-hash equi-join (train side × eval side), so the full
    quadratic document cross-product never materializes and text never
    shuffles — same scale shape as dedup_ngram_jaccard, with the
    stopword-shingle cap applied to both sides."""
    from vector_lake_spark.operators.dedup import shingles

    # spread before the shingle explode: a single parquet file would
    # otherwise run the whole tokenize+shingle pass on one core (same
    # local-mode artifact as dedup_ngram_jaccard — SCALE.md); skipped on
    # many-file inputs so no width caps a big cluster
    d = _t(spark, sf, "documents").select("doc_id", "text")
    d = _spread(spark, d, d)
    sh = (
        d.select(
            "doc_id",
            (F.col("doc_id") % EVAL_HOLDOUT_MOD == 0).alias("is_eval"),
            F.explode(shingles(F.col("text"), 3)).alias("gram"),
        )
        .select("doc_id", "is_eval", F.xxhash64("gram").alias("g"))
    )
    w_df = Window.partitionBy("g")
    sh = (
        sh.withColumn("df_", F.count(F.lit(1)).over(w_df))
        .filter(F.col("df_") <= NGRAM_MAX_SHINGLE_FREQ)
        .drop("df_")
    )
    # not materialized: same negative A/B verdict as ngram_jaccard_pairs
    # (operators/dedup.py r12 note) — the four consumers recompute a
    # cheap codegen subtree faster than a checkpoint barrier serves it
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    train = sh.filter(~F.col("is_eval")).select(
        F.col("doc_id").alias("train_id"), "g"
    )
    ev = sh.filter(F.col("is_eval")).select(F.col("doc_id").alias("eval_id"), "g")
    inter = (
        train.join(ev, "g")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    st = sizes.select(F.col("doc_id").alias("train_id"), F.col("sz").alias("sz_t"))
    se = sizes.select(F.col("doc_id").alias("eval_id"), F.col("sz").alias("sz_e"))
    return (
        inter.join(st, "train_id")
        .join(se, "eval_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_t") + F.col("sz_e") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= CONTAMINATION_JACCARD)
        .select("train_id", "eval_id", "jaccard")
    )


def _sql_pipe_contamination() -> str:
    # joins on raw grams where Spark joins on xxhash64(gram) — identical
    # counts as long as the 64-bit hash is collision-free on the corpus,
    # the same equivalence SQL_DEDUP_NGRAM_JACCARD relies on
    return f"""
WITH sh0 AS (
  SELECT doc_id, doc_id % {EVAL_HOLDOUT_MOD} = 0 AS is_eval, gram
  FROM (
    SELECT doc_id, unnest({O.sql_shingles('text', 3)}) AS gram
    FROM documents
  )
),
sh AS (
  SELECT doc_id, is_eval, gram FROM (
    SELECT doc_id, is_eval, gram, count(*) OVER (PARTITION BY gram) AS df_
    FROM sh0
  ) WHERE df_ <= {NGRAM_MAX_SHINGLE_FREQ}
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT t.doc_id AS train_id, e.doc_id AS eval_id, count(*) AS inter
  FROM sh t JOIN sh e ON t.gram = e.gram
  WHERE NOT t.is_eval AND e.is_eval
  GROUP BY t.doc_id, e.doc_id
)
SELECT train_id, eval_id,
       round(inter / CAST(st.sz + se.sz - inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes st ON inter.train_id = st.doc_id
JOIN sizes se ON inter.eval_id = se.doc_id
WHERE round(inter / CAST(st.sz + se.sz - inter AS DOUBLE), 6)
      >= {CONTAMINATION_JACCARD}
"""


SQL_PIPE_CONTAMINATION = _sql_pipe_contamination()


def q_text_length_histogram(spark, sf):
    # curriculum/length-bucket histogram: docs by power-of-two token
    # count — single scan, one tiny aggregate
    d = _t(spark, sf, "documents")
    n = token_count(F.col("text"))
    bucket = F.when(n <= 0, F.lit(-1)).otherwise(
        F.floor(F.log2(n.cast("double"))).cast("long")
    )
    return d.groupBy(bucket.alias("log2_tokens")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(n).alias("min_tokens"),
        F.max(n).alias("max_tokens"),
    )


SQL_TEXT_LENGTH_HISTOGRAM = f"""
WITH t AS (SELECT {O.sql_token_count('text')} AS n FROM documents)
SELECT CASE WHEN n <= 0 THEN -1
            ELSE CAST(floor(log2(CAST(n AS DOUBLE))) AS BIGINT) END AS log2_tokens,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(n) AS min_tokens,
       max(n) AS max_tokens
FROM t GROUP BY log2_tokens
"""


def q_text_lm_surprisal(spark, sf):
    """Perplexity-style quality filtering with a corpus-fit unigram LM:
    per-document mean token surprisal −ln p(tok), p = corpus tf / total
    tokens. High surprisal = rare-token-heavy (gibberish, OCR noise);
    low = boilerplate. The production use is the perplexity band filter
    (keep the middle); the flag marks the high tail here.

    Scale shape: one explode→token-count aggregate (the LM fit), joined
    back onto the same exploded scan on the token key. The LM's
    cardinality grows with the corpus (it IS the vocabulary), so the join
    is left UNHINTED: Catalyst/AQE broadcasts it while it fits under
    autoBroadcastJoinThreshold and falls back to a shuffle hash join
    when it doesn't — force-broadcasting a corpus-sized table would OOM
    at the 100 TB posture (r04 ADVICE). Only the provably-single-row
    total rides an explicit broadcast. Per-doc mean is a (doc_id)
    re-aggregate; no driver-side scalar anywhere."""
    d = _t(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    lm = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    total = lm.agg(F.sum("tf").alias("total_tf"))
    scored = (
        tok.join(lm, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (
                -F.log(
                    F.col("tf").cast("double") / F.col("total_tf").cast("double")
                )
            ).alias("nll"),
        )
    )
    out = scored.groupBy("doc_id").agg(
        F.round(F.avg("nll"), 6).alias("mean_surprisal")
    )
    return out.select(
        "doc_id",
        "mean_surprisal",
        (F.col("mean_surprisal") >= LM_SURPRISAL_FLAG).alias("flagged"),
    )


LM_SURPRISAL_FLAG = 8.0  # nats; ~e^-8 mean token probability


SQL_TEXT_LM_SURPRISAL = f"""
WITH tok AS (
  SELECT doc_id, unnest({O.sql_tokens('text')}) AS tok FROM documents
),
lm AS (SELECT tok, count(*) AS tf FROM tok GROUP BY tok),
total AS (SELECT sum(tf) AS total_tf FROM lm),
s AS (
  SELECT doc_id,
         round(avg(-ln(CAST(tf AS DOUBLE) / CAST(total_tf AS DOUBLE))), 6)
           AS mean_surprisal
  FROM tok JOIN lm USING (tok) CROSS JOIN total
  GROUP BY doc_id
)
SELECT doc_id, mean_surprisal,
       mean_surprisal >= {LM_SURPRISAL_FLAG} AS flagged
FROM s
"""


def q_text_tfidf_top20(spark, sf):
    # corpus-level tf-idf: term stats (total tf, document frequency) in
    # one aggregate, corpus size joined as a broadcast single-row agg —
    # no driver-side .count() scalar, the whole thing is one job
    d = _t(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    stats = tok.groupBy("tok").agg(
        F.count(F.lit(1)).alias("tf_total"),
        F.countDistinct("doc_id").alias("df"),
    )
    ndocs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        stats.crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf_total")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                6,
            ),
        )
        .select("tok", "tf_total", "df", "tfidf")
        .orderBy(F.col("tfidf").desc(), F.col("tok"))
        .limit(20)
    )


SQL_TEXT_TFIDF_TOP20 = f"""
WITH tok AS (SELECT doc_id, unnest({O.sql_tokens('text')}) AS tok FROM documents),
stats AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS tf_total,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM tok GROUP BY tok
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tok, tf_total, df,
       round(tf_total * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
FROM stats, n
ORDER BY tfidf DESC, tok
LIMIT 20
"""


def q_vec_quantize_int8(spark, sf):
    # symmetric per-vector int8 scalar quantization (the storage-saving
    # trick for 100 TB embedding tables: 4x smaller than float32) —
    # scale = max|x|/127, code = round(x/scale); reports the
    # reconstruction error so the recall cost is measurable
    emb = _t(spark, sf, "embeddings")
    v = to_double_array(F.col("embedding"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    err = F.transform(
        v, lambda x: F.abs(F.round(F.try_divide(x, scale)) * scale - x)
    )
    return emb.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.round(F.array_max(err), 6).alias("max_err"),
    )


SQL_VEC_QUANTIZE_INT8 = f"""
WITH e AS (SELECT vec_id, {EMB} AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
)
SELECT vec_id, round(scale, 6) AS scale,
       round(list_max(list_transform(v,
             x -> abs(round(x / nullif(scale, 0.0)) * scale - x))), 6) AS max_err
FROM s
"""


# ---------------------------------------------------------------------------
# Relational core (TPC-H-ish)
# ---------------------------------------------------------------------------

def q_q1_pricing(spark, sf):
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(charge), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


SQL_Q1_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_q3_top_orders(spark, sf):
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01"))
    )
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-01-01"))
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return (
        joined.groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


SQL_Q3_TOP_ORDERS = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_q5_nation_revenue(spark, sf):
    region = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf, "nation")
    cust = _t(spark, sf, "customer")
    supp = _t(spark, sf, "supplier")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = _t(spark, sf, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


SQL_Q5_NATION_REVENUE = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


def q_q7_nation_volume(spark, sf):
    """TPC-H Q7 shape (volume shipping): revenue between two nations in
    both directions, by ship year. Two independent nation lookups on one
    fact scan — both broadcast (25-row dim); the only big shuffle is the
    final 3-key aggregate, partial map-side."""
    n1, n2 = "NATION_1", "NATION_2"
    nation = _t(spark, sf, "nation")
    supp_n = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust_n = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    supp = _t(spark, sf, "supplier")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(supp_n), supp.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(cust_n), cust.c_nationkey == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


SQL_Q7_NATION_VOLUME = """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


def q_q8_market_share(spark, sf):
    """TPC-H Q8 shape (national market share): NATION_1 suppliers' share
    of ECONOMY-part revenue sold into the ASIA customer region, by order
    year. All dimension joins broadcast (part filter prunes first, so
    the fact scan carries only matching lineitems); the share is a
    conditional-sum / sum in ONE aggregate — no second pass."""
    part = _t(spark, sf, "part").filter(F.col("p_type") == "ECONOMY")
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    cust = _t(spark, sf, "customer")
    supp = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("sn_key"))
    )
    return (
        joined.select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            F.col("supp_nation"),
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_1", F.col("volume")
                    ).otherwise(F.lit(0.0))
                )
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
    )


SQL_Q8_MARKET_SHARE = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(sum(CASE WHEN sn.n_name = 'NATION_1'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_year
"""


def q_q15_top_supplier(spark, sf):
    """TPC-H Q15 shape (top supplier): revenue per supplier over a
    3-month ship window; return the max-revenue supplier(s). The max
    rides back as a broadcast single-row aggregate (house pattern — no
    driver-side scalar), and revenue is rounded BEFORE the comparison so
    both engines pick identical winners on ties."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    supp = _t(spark, sf, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            "total_revenue",
        )
    )


SQL_Q15_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q_q2_min_cost_supplier(spark, sf):
    """TPC-H Q2 shape (minimum-cost supplier): for each STANDARD size-5
    part, the EUROPE supplier(s) whose best offer equals the part's
    region-wide minimum. The testdata has no partsupp, so the offer
    table is derived from lineitem — min unit price per (part,
    supplier), rounded BEFORE the min so both engines agree exactly.

    The oracle keeps TPC-H's correlated scalar-min subquery (`cost =
    (SELECT min(cost) … WHERE same part)`); this side is the
    decorrelated physical form Catalyst would produce anyway: per-part
    min as a groupBy re-joined on equality. Supplier×nation×region is a
    ~100-row broadcast dim; only the (part, supplier) offer aggregate
    shuffles, and it shuffles 3 small columns.

    r11 (VERDICT r10 #6): the part filter is pushed BELOW the offer
    aggregate — lineitem is broadcast-semi-joined against the filtered
    partkeys before the (part, supplier) groupBy, so the one real
    shuffle carries only qualifying parts (~1/250 of rows in true
    TPC-H) instead of filtering after the aggregate ran over ALL parts.
    Plan-pinned: tests/test_plans.py asserts the semi-join sits below
    the first HashAggregate."""
    part = _t(spark, sf, "part").filter(
        (F.col("p_size") == 5) & (F.col("p_type") == "STANDARD")
    )
    li = _t(spark, sf, "lineitem").join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6)
        ).alias("cost")
    )
    region = _t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    nation = _t(spark, sf, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    offers = supply.join(
        F.broadcast(supp), supply.l_suppkey == supp.s_suppkey
    ).select("l_partkey", "cost", "s_name", "n_name")
    best = offers.groupBy("l_partkey").agg(F.min("cost").alias("min_cost"))
    return (
        offers.join(best, "l_partkey")
        .filter(F.col("cost") == F.col("min_cost"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("p_partkey").cast("long").alias("p_partkey"),
            "p_brand",
            "s_name",
            "n_name",
            "min_cost",
        )
    )


SQL_Q2_MIN_COST_SUPPLIER = """
WITH supply AS (
  SELECT l_partkey, l_suppkey,
         min(round(l_extendedprice / l_quantity, 6)) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eu AS (
  SELECT s_suppkey, s_name, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
offers AS (
  SELECT l_partkey, cost, s_name, n_name
  FROM supply JOIN eu ON l_suppkey = s_suppkey
)
SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_brand, s_name, n_name,
       cost AS min_cost
FROM offers
JOIN part ON l_partkey = p_partkey
WHERE p_size = 5 AND p_type = 'STANDARD'
  AND cost = (SELECT min(o2.cost) FROM offers o2
              WHERE o2.l_partkey = offers.l_partkey)
"""


def q_q9_product_profit(spark, sf):
    """TPC-H Q9 shape (product-type profit): profit per (supplier
    nation, order year) over parts named '%red%'. The testdata has no
    partsupp.ps_supplycost, so cost is the deterministic stand-in
    0.6 × p_retailprice — the query keeps Q9's defining structure: a
    5-table join (lineitem ⋈ orders ⋈ part ⋈ supplier ⋈ nation) with
    an expression-derived group key (year). part + supplier + nation
    broadcast; lineitem⋈orders is the one real shuffle, on the join
    key both sides already need. Profit rounds to 6 dp per row then
    sums as DECIMAL(38,6) — exact and summation-order-independent, so
    the 2-dp result can never drift across engines at a boundary (the
    Q11 lesson applied up front)."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(F.col("p_name").like("%red%"))
    supp = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    orders = _t(spark, sf, "orders")
    profit = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity"),
        6,
    ).cast("decimal(38,6)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            "n_name", F.year("o_orderdate").cast("long").alias("o_year")
        )
        .agg(
            F.round(F.sum(profit), 2).cast("double").alias("sum_profit")
        )
    )


SQL_Q9_PRODUCT_PROFIT = """
SELECT n_name,
       CAST(date_part('year', o_orderdate) AS BIGINT) AS o_year,
       CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                 - 0.6 * p_retailprice * l_quantity, 6)
                           AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
"""


def q_q12_late_priority(spark, sf):
    """TPC-H Q12 shape (late shipments vs priority): conditional
    two-way CASE aggregation over the lineitem⋈orders join. The
    testdata has no shipmode or commit/receipt dates, so "late" is
    shipped >60 days after the order date, the 1997 window filters on
    ship date, and the group key is l_returnflag — the defining shape
    (join + date-arithmetic predicate + CASE-bucketed counts) is
    intact. The ship-window predicate pushes to the parquet scan; the
    join shuffles only (orderkey, returnflag, shipdate) against
    (orderkey, orderdate, priority)."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    orders = _t(spark, sf, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
    )


SQL_Q12_LATE_PRIORITY = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag
"""


def q_q20_dominant_suppliers(spark, sf):
    """TPC-H Q20 shape (part promotion candidates): ASIA suppliers who
    shipped more than half of some 'small%' part's total 1997 volume.
    The testdata has no partsupp.ps_availqty, so the "excess capacity"
    test becomes volume dominance — preserving Q20's defining nested-IN
    with a per-group aggregate threshold (supplier IN (… GROUP BY
    part, supplier HAVING sum > 0.5 × per-part total)).

    l_quantity is integral, so the sums and the 0.5× threshold compare
    exactly in both engines regardless of summation order. The shipped
    subset is filtered by date (scan pushdown) and a broadcast semi on
    the small-parts keys; the dominance test re-joins two aggregates of
    the SAME pre-aggregated frame."""
    part_keys = (
        _t(spark, sf, "part")
        .filter(F.col("p_name").like("small%"))
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    ship = (
        _t(spark, sf, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
        )
        .join(F.broadcast(part_keys), "l_partkey", "left_semi")
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    per_ps = ship.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("sq")
    )
    per_p = ship.groupBy("l_partkey").agg(F.sum("l_quantity").alias("tq"))
    dominant = (
        per_ps.join(per_p, "l_partkey")
        .filter(F.col("sq") > 0.5 * F.col("tq"))
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    region = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    return (
        _t(spark, sf, "supplier")
        .join(dominant, "s_suppkey", "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            "n_name",
        )
    )


SQL_Q20_DOMINANT_SUPPLIERS = """
WITH ship AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
),
tot AS (
  SELECT l_partkey, sum(l_quantity) AS tq FROM ship GROUP BY l_partkey
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM ship JOIN tot USING (l_partkey)
    GROUP BY l_partkey, l_suppkey, tq
    HAVING sum(l_quantity) > 0.5 * tq
  )
"""


def q_q21_waiting_suppliers(spark, sf):
    """TPC-H Q21 shape (suppliers who kept orders waiting): per
    supplier, the number of finalized multi-supplier orders where THIS
    supplier shipped late and no other supplier did. The testdata has
    no commit/receipt dates, so "late" is shipped >90 days after the
    order date; the defining structure — EXISTS (another supplier in
    the order) and NOT EXISTS (another LATE supplier in the order) as
    self-joins on lineitem — is intact.

    The oracle keeps the correlated EXISTS / NOT EXISTS; this side is
    the decorrelated physical form: a left-semi and a left-anti join on
    (orderkey, suppkey≠suppkey). All three legs are pre-deduplicated to
    distinct (orderkey, suppkey) pairs, so numwait counts ORDERS (not
    lineitems) and is insensitive to line multiplicity in both
    engines."""
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    ord_f = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = (
        li.join(ord_f, li.l_orderkey == ord_f.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    all_ps = li.select("l_orderkey", "l_suppkey").distinct()
    l1 = late.alias("l1")
    with_other = l1.join(
        all_ps.alias("l2"),
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    sole_late = with_other.alias("lx").join(
        late.alias("l3"),
        (F.col("lx.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("lx.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    supp = _t(spark, sf, "supplier")
    return (
        sole_late.join(
            F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


SQL_Q21_WAITING_SUPPLIERS = """
WITH late AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 90 DAY
),
allps AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM allps l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
"""


def q_q11_important_stock(spark, sf):
    """TPC-H Q11 shape (important stock identification): per-part supply
    value from ONE region's suppliers, keeping parts whose value exceeds
    a fixed fraction (1/10000) of the region-wide total — the
    HAVING-against-scalar-subquery shape, the last of the 22 classic
    TPC-H query structures. The testdata has no partsupp, so supply
    value is lineitem revenue via the region's suppliers.

    The whole money path is EXACT: per-row revenue rounds to 6 dp (a
    deterministic double op, identical in both engines), sums as
    DECIMAL(38,6) (exact, summation-order-independent — a double sum's
    order drift flipped a 2-dp boundary part on first contact with the
    oracle), and the threshold compares integer cents. The total rides
    back as a broadcast single-row aggregate (house pattern);
    supplier⋈nation⋈region broadcasts; one shuffle on l_partkey."""
    region = _t(spark, sf, "region").filter(F.col("r_name") == "AMERICA")
    nation = _t(spark, sf, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    li = _t(spark, sf, "lineitem")
    val = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
    ).cast("decimal(38,6)")
    per_part = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.round(F.sum(val), 2).alias("value_d"))
        .select(
            "l_partkey",
            F.col("value_d").cast("double").alias("value"),
            (F.col("value_d") * 100).cast("long").alias("c"),
        )
    )
    total = per_part.agg(F.sum("c").alias("total_c"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("c") * 10000 > F.col("total_c"))
        .select(F.col("l_partkey").cast("long").alias("l_partkey"), "value")
    )


SQL_Q11_IMPORTANT_STOCK = """
WITH per_part AS (
  SELECT l_partkey,
         round(sum(CAST(round(l_extendedprice * (1 - l_discount), 6)
                        AS DECIMAL(38,6))), 2) AS value_d
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'AMERICA'
  GROUP BY l_partkey
),
cents AS (
  SELECT l_partkey, CAST(value_d AS DOUBLE) AS value,
         CAST(value_d * 100 AS BIGINT) AS c
  FROM per_part
)
SELECT CAST(l_partkey AS BIGINT) AS l_partkey, value
FROM cents
WHERE c * 10000 > (SELECT sum(c) FROM cents)
"""


def q_q10_returned_items(spark, sf):
    """TPC-H Q10 shape (returned-item reporting): revenue lost to
    returns per customer in a quarter, top 20. Fact scan filtered on
    returnflag (pushed to parquet), customer + nation broadcast, one
    aggregate, bounded-heap top-20."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


SQL_Q10_RETURNED_ITEMS = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_q14_promo_revenue(spark, sf):
    """TPC-H Q14 shape (promotion effect): promo revenue share in a
    month — conditional aggregate over one broadcast part join; the
    ratio is a single-row result, computed entirely map-side + one
    2-field final agg."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    part = _t(spark, sf, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


SQL_Q14_PROMO_REVENUE = """
SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
"""


def q_q19_disjunctive_revenue(spark, sf):
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    three OR'd (brand, size-range, quantity-range) arms — the classic
    optimizer test that the join predicate stays a JOIN predicate (one
    broadcast hash join with the disjunction as its condition, no
    fact-side cross product). Testdata lacks shipmode/shipinstruct, so
    the arms use brand × size × quantity only."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    arm = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 10))
         & (F.col("l_quantity").between(1, 15)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(5, 20))
           & (F.col("l_quantity").between(10, 25)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(10, 30))
           & (F.col("l_quantity").between(20, 35)))
    )
    return (
        li.join(F.broadcast(part), (li.l_partkey == part.p_partkey) & arm)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_Q19_DISJUNCTIVE_REVENUE = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
 AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 20 AND 35))
"""


def q_q16_supplier_variety(spark, sf):
    """TPC-H Q16 shape (supplier variety): distinct suppliers per
    (brand, type, size), excluding a NOT-IN supplier set (negative
    account balance stands in for the complaints filter; lineitem is the
    part↔supplier bridge — the testdata has no partsupp). The excluded
    set is a broadcast anti-join; count(DISTINCT) shuffles only the
    group keys + suppkey."""
    li = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    part = _t(spark, sf, "part").filter(F.col("p_size").isin(1, 5, 9, 13))
    bad_supp = (
        _t(spark, sf, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(bad_supp, "l_suppkey", "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_Q16_SUPPLIER_VARIETY = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size IN (1, 5, 9, 13)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q_q22_idle_balance(spark, sf):
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average positive balance and no orders SINCE the cutoff
    (dormant accounts), counted per market segment (stands in for the
    phone country code). The average is a broadcast single-row
    aggregate; the dormancy test a left-anti join against the *filtered*
    order keys (the date predicate pushes down to the orders scan) — at
    100 TB neither moves the fact table more than once."""
    cust = _t(spark, sf, "customer")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    has_orders = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01")))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(has_orders, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


SQL_Q22_IDLE_BALANCE = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_mktsegment
"""


def q_q6_forecast_revenue(spark, sf):
    # TPC-H Q6 shape: highly selective scan-side predicates → single sum.
    # All three filters reach the parquet reader (PushedFilters).
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_Q6_FORECAST_REVENUE = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_agg_rollup(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


SQL_AGG_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_grouping_sets(spark, sf):
    # SQL-API surface: explicit GROUPING SETS (disjoint from rollup/cube).
    # NULL group markers distinguish the sets (group keys are non-null in
    # the data).
    _t(spark, sf, "lineitem").createOrReplaceTempView("lineitem_gs_tmp")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n_items
        FROM lineitem_gs_tmp
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


SQL_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q_win_top3_per_nation(spark, sf):
    cust = _t(spark, sf, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rn")
    )


SQL_WIN_TOP3_PER_NATION = """
SELECT c_nationkey, c_custkey, c_acctbal, rn
FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         CAST(row_number() OVER (PARTITION BY c_nationkey
                                 ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rn
  FROM customer
)
WHERE rn <= 3
"""


def q_win_running_total(spark, sf):
    orders = _t(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


SQL_WIN_RUNNING_TOTAL = """
SELECT o_orderkey, o_custkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING), 2) AS running_total
FROM orders
"""


def q_win_moving_avg(spark, sf):
    orders = _t(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.avg("o_totalprice").over(w), 6).alias("mov_avg_3"),
    )


SQL_WIN_MOVING_AVG = """
SELECT o_orderkey, o_custkey,
       round(avg(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg_3
FROM orders
"""


def q_win_range_frame(spark, sf):
    # RANGE frame (value-based, not row-count): per-customer trailing
    # 7-day order revenue — rows at equal distance all enter the frame,
    # unlike a ROWS frame
    orders = _t(spark, sf, "orders")
    day = _epoch_day(F.col("o_orderdate"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("day"))
        .rangeBetween(-7, 0)
    )
    return (
        orders.withColumn("day", day)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_7d"),
        )
    )


SQL_WIN_RANGE_FRAME = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         {O.sql_epoch_day('o_orderdate')} AS day
  FROM orders
)
SELECT o_orderkey, o_custkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN 7 PRECEDING AND CURRENT ROW), 2) AS trailing_7d
FROM o
"""


def q_vec_label_separation(spark, sf):
    # cluster-quality diagnostic: pairwise L2 distance between label
    # centroids — labels whose centroids sit close are candidates for
    # merging or for embedding-model review. Centroids are tiny (one row
    # per label), so the pair join is trivially broadcast.
    emb = _t(spark, sf, "embeddings")
    m = _label_centroid_means(emb)
    cent = m.groupBy("label").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("pos"), F.col("m")))
        ).alias("c")
    ).select("label", F.col("c.m").alias("centroid"))
    a = cent.select(F.col("label").alias("label_a"), F.col("centroid").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), F.col("centroid").alias("cb"))
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with("ca", "cb", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
        6,
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", dist.alias("centroid_dist"))
    )


SQL_VEC_LABEL_SEPARATION = f"""
WITH {_SQL_CENTROID_MEAN_CTES},
c AS (SELECT label, list(m ORDER BY pos) AS centroid FROM m GROUP BY label)
SELECT a.label AS label_a, b.label AS label_b,
       round(sqrt(list_sum(list_transform(range(1, len(a.centroid) + 1),
             i -> (a.centroid[i] - b.centroid[i]) * (a.centroid[i] - b.centroid[i])))), 6)
         AS centroid_dist
FROM c a JOIN c b ON a.label < b.label
"""


def q_join_semi(spark, sf):
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


SQL_JOIN_SEMI = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_join_anti(spark, sf):
    # customers with no 1995 orders (date-filtered anti join — a plain
    # anti join is empty at test scale, which would be a vacuous check)
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1996-01-01"))
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


SQL_JOIN_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
"""


def q_setop_nations(spark, sf):
    cust_n = _t(spark, sf, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp_n = _t(spark, sf, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = cust_n.intersect(supp_n).withColumn("tag", F.lit("both"))
    cust_only = cust_n.subtract(supp_n).withColumn("tag", F.lit("cust_only"))
    return both.unionByName(cust_only).select("nationkey", "tag")


SQL_SETOP_NATIONS = """
SELECT nationkey, 'both' AS tag
FROM (SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'cust_only' AS tag
FROM (SELECT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT s_nationkey FROM supplier)
"""


def q_setop_suppkeys_all(spark, sf):
    # duplicate-preserving (multiset) set ops: INTERSECT ALL / EXCEPT ALL
    li = _t(spark, sf, "lineitem")
    heavy = li.filter(F.col("l_quantity") > 25).select("l_suppkey")
    discounted = li.filter(F.col("l_discount") >= 0.05).select("l_suppkey")
    both = heavy.intersectAll(discounted).withColumn("tag", F.lit("both"))
    only_heavy = heavy.exceptAll(discounted).withColumn("tag", F.lit("heavy_only"))
    return both.unionByName(only_heavy).select("l_suppkey", "tag")


SQL_SETOP_SUPPKEYS_ALL = """
SELECT l_suppkey, 'both' AS tag
FROM (SELECT l_suppkey FROM lineitem WHERE l_quantity > 25
      INTERSECT ALL
      SELECT l_suppkey FROM lineitem WHERE l_discount >= 0.05)
UNION ALL
SELECT l_suppkey, 'heavy_only' AS tag
FROM (SELECT l_suppkey FROM lineitem WHERE l_quantity > 25
      EXCEPT ALL
      SELECT l_suppkey FROM lineitem WHERE l_discount >= 0.05)
"""


def q_pivot_status_by_priority(spark, sf):
    orders = _t(spark, sf, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_partial"),
        F.count(F.lit(1)).alias("n_total"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


SQL_PIVOT_STATUS_BY_PRIORITY = """
SELECT o_orderpriority,
       CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_open,
       CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_finished,
       CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_partial,
       CAST(count(*) AS BIGINT) AS n_total,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY o_orderpriority
"""


def q_q4_late_orders(spark, sf):
    # order-priority check: orders (1997Q1) with at least one line item
    # shipped >90 days after the order date — semi join with a range
    # predicate (TPC-H Q4 shape adapted to the available columns)
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    li = _t(spark, sf, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


SQL_Q4_LATE_ORDERS = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
"""


def q_above_avg_customers(spark, sf):
    # scalar-subquery shape: customers whose balance beats their nation's
    # average (decorrelated to an aggregate + broadcast join)
    cust = _t(spark, sf, "customer")
    nation_avg = cust.groupBy("c_nationkey").agg(
        F.round(F.avg("c_acctbal"), 6).alias("nation_avg")
    )
    return (
        cust.join(F.broadcast(nation_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal", "nation_avg")
    )


SQL_ABOVE_AVG_CUSTOMERS = """
WITH na AS (
  SELECT c_nationkey, round(avg(c_acctbal), 6) AS nation_avg
  FROM customer GROUP BY c_nationkey
)
SELECT c_custkey, customer.c_nationkey, c_acctbal, nation_avg
FROM customer JOIN na ON customer.c_nationkey = na.c_nationkey
WHERE c_acctbal > nation_avg
"""


def q_cube_status_priority(spark, sf):
    orders = _t(spark, sf, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


SQL_CUBE_STATUS_PRIORITY = """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_monthly_revenue_trend(spark, sf):
    orders = _t(spark, sf, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("month")
    return monthly.withColumn(
        "mom_delta",
        F.round(F.col("revenue") - F.lag("revenue").over(w), 2),
    )


SQL_MONTHLY_REVENUE_TREND = """
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         round(sum(o_totalprice), 2) AS revenue,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY strftime(o_orderdate, '%Y-%m')
)
SELECT month, revenue, n_orders,
       round(revenue - lag(revenue) OVER (ORDER BY month), 2) AS mom_delta
FROM m
"""


def q_segment_quantiles(spark, sf):
    cust = _t(spark, sf, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 6).alias("median"),
        F.round(F.expr("percentile(c_acctbal, 0.75)"), 6).alias("p75"),
        F.round(F.avg("c_acctbal"), 6).alias("mean"),
    )


SQL_SEGMENT_QUANTILES = """
SELECT c_mktsegment,
       round(quantile_cont(c_acctbal, 0.25), 6) AS p25,
       round(quantile_cont(c_acctbal, 0.5), 6) AS median,
       round(quantile_cont(c_acctbal, 0.75), 6) AS p75,
       round(avg(c_acctbal), 6) AS mean
FROM customer
GROUP BY c_mktsegment
"""


def q_brand_revenue(spark, sf):
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_BRAND_REVENUE = """
SELECT p_brand,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_q13_customer_distribution(spark, sf):
    # TPC-H Q13 shape: LEFT OUTER join + two-level aggregation (orders
    # per customer, then customers per order-count)
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


SQL_Q13_CUSTOMER_DISTRIBUTION = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_q17_small_qty_revenue(spark, sf):
    # TPC-H Q17 shape: correlated scalar subquery (per-part average),
    # decorrelated to an aggregate + equi-join
    li = _t(spark, sf, "lineitem")
    thr = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_thr")
    )
    return (
        li.join(thr, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_Q17_SMALL_QTY_REVENUE = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
                    FROM lineitem WHERE l_partkey = l.l_partkey)
"""


def q_q18_large_orders(spark, sf):
    # TPC-H Q18 shape: HAVING-filtered aggregate as an IN-subquery,
    # joined back to orders + customer; top-N by value
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


SQL_Q18_LARGE_ORDERS = """
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, sum_qty
FROM orders
JOIN (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING round(sum(l_quantity), 2) > 300) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


def q_distinct_customers_by_status(spark, sf):
    orders = _t(spark, sf, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


SQL_DISTINCT_CUSTOMERS_BY_STATUS = """
SELECT o_orderstatus,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# Event-time family
# ---------------------------------------------------------------------------

def q_ev_tumbling(spark, sf):
    return tumbling_agg(_events(spark, sf))


SQL_EV_TUMBLING = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value,
       round(avg(value), 6) AS avg_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def q_ev_sliding(spark, sf):
    return sliding_agg(_events(spark, sf))


SQL_EV_SLIDING = """
WITH e AS (
  SELECT value, CAST(floor(date_part('epoch', ts)) AS BIGINT) AS es FROM events
),
w AS (
  SELECT value, (es - es % 1800) - k * 1800 AS start_es
  FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k)
  WHERE es - ((es - es % 1800) - k * 1800) < 3600
)
SELECT strftime(TIMESTAMP '1970-01-01 00:00:00' + INTERVAL 1 SECOND * start_es,
                '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM w
GROUP BY start_es
"""


def _run_stream_to_memory(result_stream, output_mode: str) -> str:
    """Run a streaming DataFrame to completion with trigger(availableNow)
    into a uniquely-named memory sink; returns the sink table name. The
    checkpoint dir is temp + atexit-cleaned. Used by the batch-vs-stream
    equivalence queries so the driver gate grades the streaming modules'
    SEMANTICS against the batch oracles, not just in-repo tests."""
    import atexit
    import shutil
    import tempfile
    import uuid

    name = "stream_equiv_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="stream_equiv_ckpt_")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    q = (
        result_stream.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return name


def q_ev_stream_tumbling(spark, sf):
    """Batch-vs-stream equivalence (VERDICT r02 next-steps #3): the
    Structured Streaming tumbling aggregation (streaming/events.py) over
    the events table, run bounded with availableNow + complete output.
    The oracle is the same SQL that checks the batch op — a green row
    proves the streaming module computes identical window semantics."""
    from vector_lake_spark.sources import normalize_event_ts, table_schema
    from vector_lake_spark.streaming.events import stream_tumbling_agg

    schema = table_schema(spark, sf, "events")
    # the file-stream source needs a directory; glob-filter to the one table
    stream = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    agg = stream_tumbling_agg(stream)
    name = _run_stream_to_memory(agg, "complete")
    return spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n_events",
        "sum_value",
    )


SQL_EV_STREAM_TUMBLING = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_ev_stream_sliding(spark, sf):
    """Batch-vs-stream equivalence for the watermarked SLIDING window
    (streaming/events.py): each event lands in duration/slide windows;
    a bounded availableNow run must equal the batch sliding_agg, so it
    shares ev_sliding's oracle."""
    from vector_lake_spark.sources import normalize_event_ts, table_schema
    from vector_lake_spark.streaming.events import stream_sliding_agg

    schema = table_schema(spark, sf, "events")
    stream = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    agg = stream_sliding_agg(stream)
    name = _run_stream_to_memory(agg, "complete")
    return spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "n_events",
        "sum_value",
    )


def q_ev_stream_session(spark, sf):
    """Batch-vs-stream equivalence for native SESSION windows
    (``F.session_window``, streaming/events.py): per-user sessions that
    close after a 30-minute silence. NB the native operator closes at
    gap ≥ 30 min (the next event's window [ts, ts+gap) no longer
    overlaps), where the batch gap-and-islands formulation splits at
    gap > 30 min — a real boundary-semantics difference, so this query
    carries its own oracle with the ≥ rule and session_end = last event
    + gap (the session_window definition), rather than pretending the
    batch oracle fits."""
    from vector_lake_spark.sources import normalize_event_ts, table_schema
    from vector_lake_spark.streaming.events import stream_sessionize

    schema = table_schema(spark, sf, "events")
    stream = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    agg = stream_sessionize(stream)
    name = _run_stream_to_memory(agg, "complete")
    return spark.table(name).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
        "sum_value",
    )


SQL_EV_STREAM_SESSION = """
WITH e AS (
  -- FULL-precision epoch (fractional seconds): session_window closes on
  -- the exact microsecond gap, so flooring here would split sessions the
  -- stream merges whenever sub-second fractions straddle the boundary
  -- (r05 review finding)
  SELECT user_id, value, ts, epoch(ts) AS es
  FROM events
),
flag AS (
  SELECT *,
         CASE WHEN es - lag(es) OVER (PARTITION BY user_id ORDER BY ts)
                   >= 1800.0 THEN 1 ELSE 0 END AS new_session
  FROM e
),
sid AS (
  SELECT *,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flag
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
         AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM sid
GROUP BY user_id, session_seq
"""


def q_ev_stream_interval_join(spark, sf):
    """Batch-vs-stream equivalence for the stream-stream interval join
    (streaming/joins.py): attribute purchases to same-user clicks within
    the preceding 30 minutes, both sides unbounded file streams run with
    availableNow. Inner time-bounded joins emit matches eagerly, so one
    bounded run yields exactly the batch join — which is the oracle."""
    from vector_lake_spark.sources import normalize_event_ts, table_schema
    from vector_lake_spark.streaming.joins import stream_click_purchase_join

    schema = table_schema(spark, sf, "events")

    def side(event_type):
        s = normalize_event_ts(
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf)
        )
        return s.filter(F.col("event_type") == event_type)

    out = stream_click_purchase_join(side("click"), side("purchase"))
    name = _run_stream_to_memory(out, "append")
    return spark.table(name).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )


SQL_EV_STREAM_INTERVAL_JOIN = """
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
FROM events c JOIN events p
  ON c.event_type = 'click' AND p.event_type = 'purchase'
 AND c.user_id = p.user_id
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


def q_dedup_stream_exact(spark, sf):
    """Batch-vs-stream equivalence for the custom stateful operator
    (streaming/dedup.py, applyInPandasWithState): first-occurrence-only
    dedup over the documents table as a bounded stream. A single
    availableNow batch makes the survivor the min doc_id per fingerprint
    — exactly the batch dedup's keep_id — so the oracle is plain SQL."""
    from vector_lake_spark.sources import table_schema
    from vector_lake_spark.streaming.dedup import stream_exact_dedup

    schema = table_schema(spark, sf, "documents")
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf)
    )
    keyed = stream.select(
        fingerprint64(F.col("text")).alias("fp"), "doc_id", "text"
    )
    out = stream_exact_dedup(keyed)
    name = _run_stream_to_memory(out, "append")
    return spark.table(name).select("fp", F.col("doc_id").alias("keep_id"))


SQL_DEDUP_STREAM_EXACT = f"""
SELECT {O.sql_fingerprint64('text')} AS fp, min(doc_id) AS keep_id
FROM documents
GROUP BY fp
"""


def q_dedup_stream_neardup(spark, sf):
    """Batch-vs-stream equivalence for incremental banded-LSH near-dup
    ingestion — the BOUNDED-STATE posture (r05 verdict #1,
    ``streaming/neardup.NearDupIngest``): every batch's band keys
    compact into a persisted parquet history table; pairs are
    new-vs-new (bucket join within the batch) plus new-vs-history (one
    equi-join against the 8-byte-key history), all JVM hash joins with
    zero streaming state. The exact cosine re-rank runs Spark-side over
    the emitted pairs. An availableNow pass over the embeddings table
    must reproduce the batch ``vec_neardup_lsh`` pairs exactly, so it
    shares that query's DuckDB oracle. The LSH keys are computed by the
    same native column expressions as batch; no float math crosses into
    Python anywhere. (Multi-micro-batch equivalence, replay and
    compaction are pinned in tests/test_ops.py.)"""
    import tempfile

    from vector_lake_spark.functions.vectors import dot, norm
    from vector_lake_spark.sources import table_schema
    from vector_lake_spark.streaming.neardup import NearDupIngest, banded_keys

    schema = table_schema(spark, sf, "embeddings")
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf)
    )
    shard, bkeys = banded_keys(EMB_SPARK, H4, NEARDUP_BANDS)
    keyed = stream.select(
        F.col("vec_id"), shard.alias("shard"), bkeys.alias("bkeys")
    )
    tmp = tempfile.mkdtemp(prefix="neardup_ingest_")
    ingest = NearDupIngest(
        spark, f"{tmp}/history", f"{tmp}/pairs", NEARDUP_N_BANDS
    )
    ingest.run(keyed, checkpoint=f"{tmp}/ckpt")
    pairs = ingest.pairs()

    emb = _t(spark, sf, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    ).withColumn("nv", norm(F.col("v")))
    sim = F.round(
        F.try_divide(
            dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")
        ),
        6,
    )
    return (
        pairs.join(
            emb.select(
                F.col("vec_id").alias("id_a"),
                F.col("v").alias("va"),
                F.col("nv").alias("na"),
            ),
            "id_a",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("id_b"),
                F.col("v").alias("vb"),
                F.col("nv").alias("nb"),
            ),
            "id_b",
        )
        .withColumn("sim", sim)
        .filter(F.col("sim") >= NEARDUP_COS_THRESHOLD)
        .select("id_a", "id_b", "sim")
    )


def q_ev_sessionize(spark, sf):
    return sessionize(_events(spark, sf))


SQL_EV_SESSIONIZE = """
WITH e AS (
  SELECT user_id, event_id, value, ts,
         CAST(floor(date_part('epoch', ts)) AS BIGINT) AS es
  FROM events
),
flag AS (
  SELECT *,
         CASE WHEN es - lag(es) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > 1800 THEN 1 ELSE 0 END AS new_session
  FROM e
),
sid AS (
  SELECT *,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flag
)
SELECT user_id, session_seq,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value,
       max(es) - min(es) AS duration_sec
FROM sid
GROUP BY user_id, session_seq
"""


def q_ev_top_users(spark, sf):
    ev = _events(spark, sf)
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy(F.col("total_value").desc(), F.col("user_id"))
        .limit(10)
    )


SQL_EV_TOP_USERS = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY user_id
ORDER BY total_value DESC, user_id
LIMIT 10
"""


def q_ev_asof_join(spark, sf):
    # as-of join: each purchase gets the most recent strictly-earlier
    # click by the same user (custom operator — operators/asof.py)
    from vector_lake_spark.operators.asof import asof_join
    from vector_lake_spark.operators.events import TS_FMT

    ev = _events(spark, sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value", "event_id"
    )
    out = asof_join(
        purchases, clicks, key="user_id", ts_col="ts",
        right_vals=["value"], right_id="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT).alias("purchase_ts"),
        F.round(F.col("asof_value"), 2).alias("prev_click_value"),
        (F.col("ts").cast("long") - F.col("asof_ts").cast("long")).alias("gap_sec"),
    )


SQL_EV_ASOF_JOIN = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts, value FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
)
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       round(c.value, 2) AS prev_click_value,
       CAST(floor(date_part('epoch', p.ts)) AS BIGINT)
         - CAST(floor(date_part('epoch', c.ts)) AS BIGINT) AS gap_sec
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts > c.ts
"""


def q_ev_funnel(spark, sf):
    # funnel/conversion: share of purchases with a click by the same user
    # within the preceding 30 minutes, per hour — the as-of operator
    # reused for attribution instead of a pair-explosion range join
    from vector_lake_spark.operators.asof import asof_join

    ev = _events(spark, sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    j = asof_join(purchases, clicks, key="user_id", ts_col="ts")
    converted = (
        F.col("asof_ts").isNotNull()
        & ((F.col("ts").cast("long") - F.col("asof_ts").cast("long")) <= 1800)
    )
    return (
        j.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.when(converted, 1).otherwise(0)).cast("long").alias("n_converted"),
        )
        .withColumn(
            "conv_rate",
            F.round(F.col("n_converted") / F.col("n_purchases").cast("double"), 6),
        )
    )


SQL_EV_FUNNEL = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
c AS (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'click'),
j AS (
  SELECT p.ts, c.ts AS click_ts
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts > c.ts
)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(count(*) FILTER (WHERE click_ts IS NOT NULL
            AND CAST(floor(date_part('epoch', ts)) AS BIGINT)
              - CAST(floor(date_part('epoch', click_ts)) AS BIGINT) <= 1800)
            AS BIGINT) AS n_converted,
       round(CAST(count(*) FILTER (WHERE click_ts IS NOT NULL
            AND CAST(floor(date_part('epoch', ts)) AS BIGINT)
              - CAST(floor(date_part('epoch', click_ts)) AS BIGINT) <= 1800)
            AS DOUBLE) / count(*), 6) AS conv_rate
FROM j
GROUP BY date_trunc('hour', ts)
"""


def q_ev_dau_new_returning(spark, sf):
    """Daily active users split into new vs returning — the growth
    dashboard staple. Same (user, day)-grain shape as retention: one
    distinct over (user, day), a per-user min-day aggregate joined back,
    then the per-day count — raw events aggregate once and never again.
    'Returning' falls out as active − new, no second pass."""
    ev = _events(spark, sf)
    user_days = (
        ev.select("user_id", _epoch_day(F.col("ts")).alias("day")).distinct()
    )
    first = user_days.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        user_days.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum(
                (F.col("day") == F.col("first_day")).cast("long")
            ).alias("new_users"),
        )
        .withColumn(
            "returning_users", F.col("active_users") - F.col("new_users")
        )
    )


SQL_EV_DAU_NEW_RETURNING = f"""
WITH ud AS (
  SELECT DISTINCT user_id, {O.sql_epoch_day('ts')} AS day FROM events
),
f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id)
SELECT ud.day,
       CAST(count(*) AS BIGINT) AS active_users,
       CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS new_users,
       CAST(count(*) - sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END)
            AS BIGINT) AS returning_users
FROM ud JOIN f USING (user_id)
GROUP BY ud.day
"""


def q_ev_retention_cohorts(spark, sf):
    # cohort retention: users grouped by first-seen day, counted per
    # days-since-first-seen offset — two aggregates over (user, day),
    # never over raw events
    ev = _events(spark, sf)
    user_days = (
        ev.select("user_id", _epoch_day(F.col("ts")).alias("day")).distinct()
    )
    first = user_days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        user_days.join(first, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


SQL_EV_RETENTION_COHORTS = f"""
WITH ud AS (
  SELECT DISTINCT user_id, {O.sql_epoch_day('ts')} AS day
  FROM events
),
first AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id)
SELECT cohort_day, ud.day - cohort_day AS day_offset,
       CAST(count(DISTINCT ud.user_id) AS BIGINT) AS n_users
FROM ud JOIN first ON ud.user_id = first.user_id
GROUP BY cohort_day, day_offset
"""


def q_ev_error_window(spark, sf):
    # interval join: activity (count + value) of the same user within
    # ±30 min of each error event — bucketed range join (operators/interval)
    from vector_lake_spark.operators.interval import point_in_interval_join

    ev = _events(spark, sf)
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id"),
        (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    activity = ev.filter(F.col("event_type") != "error").select(
        "user_id", "ts", "value", F.col("event_id").alias("act_id")
    )
    matched = point_in_interval_join(
        activity, errors, key="user_id", bucket_seconds=1800
    )
    agg = matched.groupBy("error_id").agg(
        F.count(F.lit(1)).alias("n_nearby"),
        F.round(F.sum("value"), 2).alias("nearby_value"),
    )
    return (
        errors.select("error_id")
        .join(agg, "error_id", "left")
        .select(
            "error_id",
            F.coalesce(F.col("n_nearby"), F.lit(0)).cast("long").alias("n_nearby"),
            F.coalesce(F.col("nearby_value"), F.lit(0.0)).alias("nearby_value"),
        )
    )


SQL_EV_ERROR_WINDOW = """
WITH e AS (
  SELECT event_id AS error_id, user_id,
         ts - INTERVAL 30 MINUTE AS start, ts + INTERVAL 30 MINUTE AS "end"
  FROM events WHERE event_type = 'error'
),
a AS (
  SELECT user_id, ts, value FROM events WHERE event_type <> 'error'
)
SELECT e.error_id,
       CAST(count(a.ts) AS BIGINT) AS n_nearby,
       coalesce(round(sum(a.value), 2), 0.0) AS nearby_value
FROM e LEFT JOIN a
  ON e.user_id = a.user_id AND a.ts >= e.start AND a.ts <= e."end"
GROUP BY e.error_id
"""


def q_token_count_salted(spark, sf):
    # same result as a direct groupBy count — via the two-stage salted
    # aggregation (operators/skew); oracle is the plain GROUP BY
    from vector_lake_spark.operators.skew import salted_count

    toks = _t(spark, sf, "documents").select(
        F.explode(tokens(F.col("text"))).alias("tok")
    )
    return (
        salted_count(toks, ["tok"])
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(20)
    )


SQL_TOKEN_COUNT_SALTED = SQL_TEXT_TOKEN_TOP20


def q_ev_gapfill_locf(spark, sf):
    """Time-series gap-fill: a dense per-(user, day) spine over the whole
    event range, last-observation-carried-forward for days with no
    events — the regularization step before any per-entity time-series
    model. A day's value is its LAST event's (max event_id — unique, so
    fully deterministic); `is_gap` marks filled rows; leading days before
    a user's first event stay NULL.

    Scale shape: the daily agg shuffles (user, day) partial-agg rows; the
    spine is a narrow explode against broadcast global bounds (never a
    range-join); LOCF is one window shuffle on user_id — output size is
    inherently users × days, the operator's contract."""
    ev = _events(spark, sf)
    day = _epoch_day(F.col("ts"))
    daily = ev.groupBy("user_id", day.alias("day")).agg(
        F.max_by("value", "event_id").alias("day_value")
    )
    bounds = ev.agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    )
    spine = (
        daily.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
        )
    )
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.col("day").cast("long").alias("day"),
            F.last("day_value", ignorenulls=True).over(w).alias("value_filled"),
            F.col("day_value").isNull().alias("is_gap"),
        )
    )


SQL_EV_GAPFILL_LOCF = f"""
WITH d AS (
  SELECT user_id, {O.sql_epoch_day('ts')} AS day,
         arg_max(value, event_id) AS day_value
  FROM events GROUP BY user_id, {O.sql_epoch_day('ts')}
),
b AS (SELECT min({O.sql_epoch_day('ts')}) AS d0,
             max({O.sql_epoch_day('ts')}) AS d1 FROM events),
u AS (SELECT DISTINCT user_id FROM d),
s AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM u CROSS JOIN b)
SELECT s.user_id,
       CAST(s.day AS BIGINT) AS day,
       last_value(day_value IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value_filled,
       day_value IS NULL AS is_gap
FROM s LEFT JOIN d ON s.user_id = d.user_id AND s.day = d.day
"""


def q_ev_ohlc_daily(spark, sf):
    """Daily OHLC bars per event type — the canonical time-series
    downsample (open/close = value of the day's first/last event by the
    unique event_id, so fully deterministic; high/low/volume standard).
    One groupBy with map-side partial aggregation; shuffled state is one
    small row per (type, day) regardless of event volume."""
    ev = _events(spark, sf)
    day = _epoch_day(F.col("ts"))
    return ev.groupBy("event_type", day.alias("day")).agg(
        F.min_by("value", "event_id").alias("open_v"),
        F.round(F.max("value"), 2).alias("high_v"),
        F.round(F.min("value"), 2).alias("low_v"),
        F.max_by("value", "event_id").alias("close_v"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("volume"),
    )


SQL_EV_OHLC_DAILY = f"""
SELECT event_type,
       {O.sql_epoch_day('ts')} AS day,
       arg_min(value, event_id) AS open_v,
       round(max(value), 2) AS high_v,
       round(min(value), 2) AS low_v,
       arg_max(value, event_id) AS close_v,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS volume
FROM events
GROUP BY event_type, {O.sql_epoch_day('ts')}
"""


ZSCORE_LOOKBACK = 24  # trailing rows per event_type
ZSCORE_FLAG = 3.0


def q_ev_anomaly_zscore(spark, sf):
    """Rolling z-score anomaly detection per event type: each event is
    scored against the mean/stddev of the previous ``ZSCORE_LOOKBACK``
    same-type events (frame excludes the current row — no leakage).
    Mean and stddev round to 6dp BEFORE the z computation so near-zero
    stddev can't amplify engine-level float drift; warmup rows (<2
    predecessors) score NULL and never flag. One shuffle on event_type;
    per-row window state is the 24-row frame regardless of scale."""
    ev = _events(spark, sf)
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-ZSCORE_LOOKBACK, -1)
    )
    mean = F.round(F.avg("value").over(w), 6)
    sd = F.round(F.stddev_samp("value").over(w), 6)
    z = F.round(
        F.try_divide(F.col("value") - mean, F.nullif(sd, F.lit(0.0))), 6
    )
    return ev.select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
        z.alias("zscore"),
        F.coalesce(F.abs(z) >= ZSCORE_FLAG, F.lit(False)).alias("is_anomaly"),
    )


SQL_EV_ANOMALY_ZSCORE = f"""
WITH s AS (
  SELECT event_id, event_type, value,
         round(avg(value) OVER w, 6) AS m,
         round(stddev_samp(value) OVER w, 6) AS sd
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN {ZSCORE_LOOKBACK} PRECEDING AND 1 PRECEDING)
)
SELECT event_id, event_type, round(value, 6) AS value,
       round((value - m) / nullif(sd, 0.0), 6) AS zscore,
       coalesce(abs(round((value - m) / nullif(sd, 0.0), 6)) >= {ZSCORE_FLAG},
                FALSE) AS is_anomaly
FROM s
"""


def q_ev_json_extract(spark, sf):
    # semi-structured path: pull a typed field out of the JSON props column
    ev = _events(spark, sf)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 6).alias("avg_k"),
        F.sum(k).cast("long").alias("sum_k"),
        F.count(k).alias("n_with_k"),
    )


SQL_EV_JSON_EXTRACT = """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_with_k
FROM events
GROUP BY event_type
"""


def q_ev_variant_extract(spark, sf):
    # Spark 4 VARIANT path for semi-structured data: parse_json once into
    # the binary variant encoding, then typed variant_get extraction —
    # the scale-correct alternative to repeated string JSON parsing
    ev = _events(spark, sf)
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_high"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_EV_VARIANT_EXTRACT = """
WITH k AS (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_high,
       min(k) AS min_k,
       max(k) AS max_k
FROM k
WHERE k > 50
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary column stats; decode kernels are stubbed —
# see vector_lake_spark/multimodal.py)
# ---------------------------------------------------------------------------

def q_mm_feature_extract(spark, sf):
    """Arrow-batched feature extraction over a binary payload column
    (multimodal plumbing; the deterministic fake feature stands in for
    the stubbed codec). The fake is pure integer arithmetic over payload
    bytes — per lane j: (Σ bytes at positions ≡ j mod 8) mod 997 / 997 —
    so it IS oracle-expressible (SQL_MM_FEATURE_EXTRACT hex-decodes the
    UTF-8 blob in DuckDB); closes the r03 verdict's last feasible
    no-oracle gap."""
    from vector_lake_spark.multimodal import extract_image_features

    d = _t(spark, sf, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    feats = extract_image_features(media, dim=8)
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "feature_sum"
        ),
    )


SQL_MM_FEATURE_EXTRACT = """
WITH e AS (
  SELECT doc_id, hex(encode(coalesce(text,''))) AS hx,
         octet_length(encode(coalesce(text,''))) AS nb
  FROM documents
),
bl AS (
  SELECT doc_id, nb,
         list_transform(range(0, nb), i ->
           16 * (strpos('0123456789ABCDEF', hx[2*i+1]) - 1)
              + (strpos('0123456789ABCDEF', hx[2*i+2]) - 1)) AS bytes
  FROM e
),
f AS (
  -- coalesce: DuckDB's list_sum over an empty list is NULL, but the
  -- Python byte-fold returns zero lanes for an empty payload
  SELECT doc_id, nb,
         list_transform(range(0, 8), j ->
           round((coalesce(list_sum(list_transform(range(0, nb),
                    i -> CASE WHEN i % 8 = j THEN bytes[i+1] ELSE 0 END)), 0)
                  % 997) / 997.0, 6)) AS feature
  FROM bl
)
SELECT doc_id AS media_id, CAST(nb AS BIGINT) AS n_bytes,
       round(list_sum(feature), 6) AS feature_sum
FROM f
"""


def q_mm_frame_sample(spark, sf):
    # video frame-sampling plumbing (explode-by-timeline): media rows are
    # synthesized deterministically from documents (duration ∝ n_chars);
    # the decode kernel stays stubbed, the timeline math is real
    from vector_lake_spark.multimodal import sample_video_frames

    d = _t(spark, sf, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit(None).cast("binary").alias("payload"),
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    out = sample_video_frames(media, every_ms=1000)
    return out.select(
        "media_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.col("offset_ms").cast("long").alias("offset_ms"),
    )


SQL_MM_FRAME_SAMPLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(greatest(floor((n_chars * 10) / 1000.0), 1) AS BIGINT) AS n_frames
  FROM documents
)
SELECT media_id,
       CAST(unnest(range(n_frames)) AS BIGINT) AS frame_no,
       CAST(unnest(range(n_frames)) * 1000 AS BIGINT) AS offset_ms
FROM m
"""


_IVF_REGISTRY_CACHE: dict = {}


def q_ann_ivf_stored(spark, sf):
    # Persisted-IVF path: build once per (session, sf) into a temp dir —
    # partitionBy(centroid_id) write with the PINNED codebook (no fit;
    # expression argmin assignment) — then a partition-pruned probe read.
    # Deterministic end-to-end, so it shares the ann_ivf_topk oracle
    # (SQL_ANN_IVF) and is hash-checked; the pruning plan and exactness
    # contracts stay pinned in tests/test_ivf.py. The temp dir is
    # registered for interpreter-exit cleanup and the cache is keyed on
    # (sf, session) explicitly, so a restarted Spark session rebuilds
    # rather than probing a stale index (ADVICE r02).
    import atexit
    import shutil
    import tempfile

    from vector_lake_spark.operators.ann import IVFIndex
    from vector_lake_spark.operators.ivf_centroids import IVF_CENTROIDS

    idx = _IVF_REGISTRY_CACHE.get((sf, id(spark)))
    if idx is None:
        tmp = tempfile.mkdtemp(prefix="ivf_registry_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        idx = IVFIndex.build(
            spark,
            f"{tmp}/index",
            _t(spark, sf, "embeddings"),
            centroids=IVF_CENTROIDS,
        )
        _IVF_REGISTRY_CACHE[(sf, id(spark))] = idx
    return idx.topk(QUERY_VEC, K, nprobe=4)


_SIG_REGISTRY_CACHE: dict = {}


def q_vec_topk_hamming_stored(spark, sf):
    # Persisted-signature path: pack sign bits ONCE into the index's
    # 2-BIGINT-per-row table (the 30× smaller coarse scan — measured in
    # SCALE.md "Vector search"), then run the staged Hamming→exact
    # cascade from the artifact.  Signatures are a pure function of the
    # vectors, so this is deterministic end-to-end and shares
    # ``vec_topk_hamming``'s oracle; artifact-equals-inline and the
    # signature-columns-only scan are pinned in tests/test_binary.py.
    # Same cache/cleanup discipline as q_ann_ivf_stored.
    import atexit
    import shutil
    import tempfile

    from vector_lake_spark.operators.binary import SignatureIndex

    idx = _SIG_REGISTRY_CACHE.get((sf, id(spark)))
    if idx is None:
        tmp = tempfile.mkdtemp(prefix="sig_registry_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        idx = SignatureIndex.build(
            spark, f"{tmp}/index", _t(spark, sf, "embeddings"), dim=DIM
        )
        _SIG_REGISTRY_CACHE[(sf, id(spark))] = idx
    return idx.topk(
        _t(spark, sf, "embeddings"), QUERY_VEC, K, pool=HAMMING_POOL
    )


def q_vec_topk_hamming_batch(spark, sf):
    # Batch staged retrieval from the persisted signature artifact: one
    # signature-columns-only scan Hamming-ranks every (row × query)
    # pair, the rn<=pool window filter keeps 50 candidates per query
    # BEFORE the exchange (InferWindowGroupLimit — the
    # topk_cosine_batch shape), and only pool·|queries| corpus rows are
    # read at full precision for the exact re-rank.  Shares the stored
    # index (and its cache) with vec_topk_hamming_stored; queries are
    # the same 5 corpus rows vec_topk_batch uses.
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    # reuse (or build) the cached stored index
    q_vec_topk_hamming_stored(spark, sf)
    idx = _SIG_REGISTRY_CACHE[(sf, id(spark))]
    return idx.topk_batch(emb, queries, k=5, pool=HAMMING_POOL)


def _sql_pack_half(v: str, offset: int) -> str:
    """The ONE DuckDB mirror of the MSB-first sign-bit packing fold
    (``operators/binary.sig_half_expr``) — shared by the single-query
    and batch hamming oracles so the SQL side can't desynchronize
    either (the same discipline as the Spark-side shared kernel)."""
    idx = "i" if offset == 0 else f"i+{offset}"
    return (
        f"CAST(list_sum(list_transform(range(1,33), i -> CASE WHEN "
        f"({v})[{idx}] >= 0 THEN CAST(1 AS BIGINT) << (32 - i) "
        f"ELSE 0 END)) AS BIGINT)"
    )


def _sql_vec_topk_hamming_batch() -> str:
    return f"""
WITH s AS (
  SELECT vec_id, {EMB} AS v,
         {_sql_pack_half(EMB, 0)} AS hi,
         {_sql_pack_half(EMB, 32)} AS lo
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, v AS qv, hi AS qhi, lo AS qlo
  FROM s WHERE vec_id < 5
),
pairs AS (
  SELECT q.query_id, s.vec_id,
         CAST(bit_count(xor(s.hi, q.qhi)) + bit_count(xor(s.lo, q.qlo))
              AS BIGINT) AS hamming
  FROM s CROSS JOIN q
),
pooled AS (
  SELECT query_id, vec_id, hamming,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY hamming ASC, vec_id) AS prn
  FROM pairs
),
exact AS (
  SELECT p.query_id, p.vec_id, p.hamming,
         round(list_cosine_similarity(s.v, q.qv), 6) AS score
  FROM pooled p JOIN s ON p.vec_id = s.vec_id
                JOIN q ON p.query_id = q.query_id
  WHERE p.prn <= {HAMMING_POOL}
)
SELECT query_id, vec_id, hamming, score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, vec_id) AS BIGINT) AS rn
FROM exact
QUALIFY rn <= 5
"""
# (the SQL constant is materialized after HAMMING_POOL is defined —
# see the wave-3 section below)


def q_win_distribution(spark, sf):
    cust = _t(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


SQL_WIN_DISTRIBUTION = """
SELECT c_custkey, c_mktsegment,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
"""


def q_mm_binary_stats(spark, sf):
    d = _t(spark, sf, "documents")
    payload = d.select(
        "source", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return payload.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.octet_length("payload")).cast("long").alias("total_bytes"),
        F.round(F.avg(F.octet_length("payload")), 6).alias("avg_bytes"),
    )


SQL_MM_BINARY_STATS = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       round(avg(octet_length(encode(text))), 6) AS avg_bytes
FROM documents
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Incremental rollups, sketches, islands, layout (round 6)
# ---------------------------------------------------------------------------

ROLLUP_CUTOFF = "2024-01-20"


def q_ev_rollup_merge(spark, sf):
    """Hypertable-style merge-on-read rollup: weekly totals served by
    MERGING a pre-aggregated daily rollup of history (ts < cutoff) with
    a partial aggregate of the raw delta (ts >= cutoff) — the pattern
    that serves aggregates over 100 TB of history without rescanning it
    (history is a few bytes/day/type of partials; only the delta touches
    raw events).  count/sum are decomposable so the merge is exact; the
    oracle recomputes the same weekly totals directly from raw events —
    a green hash PROVES rollup+delta == full recompute."""
    from vector_lake_spark.streaming.rollup import RollupIngest

    e = _events(spark, sf)
    day = F.to_date("ts")
    cutoff = F.to_date(F.lit(ROLLUP_CUTOFF))
    # the ONE partial-aggregate definition, shared with the streaming
    # maintainer — stream-vs-batch oracle equality depends on it
    partial = RollupIngest.partial_agg
    rollup = partial(e.filter(day < cutoff))  # materialized table at scale
    delta = partial(e.filter(day >= cutoff))  # today's raw tail
    return (
        rollup.unionByName(delta)
        .groupBy(
            F.date_format(
                F.date_trunc("week", F.col("day").cast("timestamp")),
                "yyyy-MM-dd",
            ).alias("week_start"),
            "event_type",
        )
        .agg(
            F.sum("cnt").alias("n_events"),
            F.round(F.sum("sv"), 2).alias("sum_value"),
        )
    )


SQL_EV_ROLLUP_MERGE = """
SELECT strftime(date_trunc('week', CAST(ts AS DATE)), '%Y-%m-%d') AS week_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_ev_stream_rollup(spark, sf):
    """Streaming materialized-rollup maintenance (streaming/rollup.py):
    the events table ingested as a bounded file stream through
    ``RollupIngest`` (foreachBatch → per-batch decomposable partials,
    idempotent dynamic-partition overwrites, zero streaming state),
    then weekly totals served purely from the maintained partials.
    Shares the batch entry's oracle (a direct weekly GROUP BY over raw
    events) — a green hash proves stream-maintained partials merge to
    EXACTLY the full recompute; multi-batch incremental equivalence,
    replay idempotence and compaction invariance are pinned in
    tests/test_ops.py."""
    import atexit
    import shutil
    import tempfile

    from vector_lake_spark.sources import normalize_event_ts, table_schema
    from vector_lake_spark.streaming.rollup import RollupIngest

    schema = table_schema(spark, sf, "events")
    stream = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    work = tempfile.mkdtemp(prefix="stream_rollup_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    ingest = RollupIngest(spark, work + "/rollup")
    ingest.run(stream, work + "/ckpt")
    return ingest.serve_weekly()


SKETCH_LG_K = 14  # HLL lgConfigK: ~0.4% relative standard error


def q_sketch_distinct_users(spark, sf):
    """Cardinality sketching (Apache DataSketches HLL, built into Spark
    3.5+): per event type, the exact distinct-user count alongside a
    boolean asserting the HLL estimate lands within 5%.  At 100 TB the
    sketch IS the answer (distinct-count without a distinct shuffle —
    partials merge associatively, ~2^lgK bytes per group); here the
    exact count rides along so the oracle can verify the sketch's
    accuracy claim inside the hash check instead of trusting it."""
    e = _events(spark, sf)
    per = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(SKETCH_LG_K))
        ).alias("est"),
    )
    return per.select(
        "event_type",
        "n_users",
        (
            F.abs(F.col("est") - F.col("n_users")) <= 0.05 * F.col("n_users")
        ).alias("est_within_5pct"),
    )


SQL_SKETCH_DISTINCT_USERS = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       TRUE AS est_within_5pct
FROM events
GROUP BY event_type
"""


def q_sketch_user_overlap(spark, sf):
    """Sketch MERGEABILITY — the property that makes sketches the 100 TB
    tool: the distinct-user count of clickers ∪ purchasers estimated by
    unioning two independently-built HLL sketches (never rescanning
    either side), checked within 5% of the exact union cardinality.
    This is how cross-day / cross-source audience overlap is served from
    per-partition sketches without a global distinct."""
    e = _events(spark, sf)
    sketches = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id", F.lit(SKETCH_LG_K)).alias("sk"))
    )
    est = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = e.filter(F.col("event_type").isin("click", "purchase")).agg(
        F.countDistinct("user_id").alias("n_union_users")
    )
    return exact.join(F.broadcast(est)).select(
        "n_union_users",
        (
            F.abs(F.col("est") - F.col("n_union_users"))
            <= 0.05 * F.col("n_union_users")
        ).alias("est_within_5pct"),
    )


SQL_SKETCH_USER_OVERLAP = """
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_union_users,
       TRUE AS est_within_5pct
FROM events
WHERE event_type IN ('click', 'purchase')
"""


def q_sketch_value_percentiles(spark, sf):
    """Quantile sketching (`approx_percentile`, a mergeable KLL-family
    summary): per event type, exact p50/p90 of the value column
    alongside a boolean asserting the sketch lands within 2% of both.
    Exact `percentile` must buffer every value per group; the sketch
    holds a bounded summary that merges across partitions — at 100 TB
    the sketch replaces the exact aggregate the same way HLL replaces
    count(DISTINCT) (see sketch_distinct_users); the oracle verifies
    the accuracy claim inside the hash."""
    e = _events(spark, sf)
    per = e.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.5, 0.9))").alias("ex"),
        F.expr("approx_percentile(value, array(0.5, 0.9), 10000)").alias(
            "ap"
        ),
    )
    ok = (
        F.abs(F.col("ap")[0] - F.col("ex")[0]) <= 0.02 * F.abs(F.col("ex")[0])
    ) & (
        F.abs(F.col("ap")[1] - F.col("ex")[1]) <= 0.02 * F.abs(F.col("ex")[1])
    )
    return per.select(
        "event_type",
        F.round(F.col("ex")[0], 6).alias("p50"),
        F.round(F.col("ex")[1], 6).alias("p90"),
        ok.alias("approx_within_2pct"),
    )


SQL_SKETCH_VALUE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       TRUE AS approx_within_2pct
FROM events
GROUP BY event_type
"""


def q_ev_status_islands(spark, sf):
    """Gaps-and-islands / SCD2 interval build: per user, collapse the
    ordered event stream into runs ("islands") of consecutive identical
    event types (lag-compare → running sum of change-points → group),
    then summarize run statistics per event type.  The change-point
    window partitions by user — shuffles once on user_id and never
    compares across users, so it scales with the largest single user's
    history, not the table.  This is the exact plan shape of an SCD2
    dimension build (valid_from/valid_to intervals from an attribute
    change log)."""
    e = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type"))
    ).cast("long")
    runs = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("chg", changed)
        .withColumn(
            "island",
            F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "island", "event_type")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            (
                F.unix_timestamp(F.max("ts"))
                - F.unix_timestamp(F.min("ts"))
            ).alias("dur_s"),
        )
    )
    return runs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("run_len").alias("max_run"),
        F.round(F.avg("run_len"), 6).alias("avg_run"),
        F.round(F.avg("dur_s"), 6).alias("avg_dur_s"),
    )


SQL_EV_STATUS_ISLANDS = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT user_id, event_type, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM marked
),
islands AS (
  SELECT user_id, island, event_type,
         CAST(count(*) AS BIGINT) AS run_len,
         CAST(floor(date_part('epoch', max(ts))) AS BIGINT)
           - CAST(floor(date_part('epoch', min(ts))) AS BIGINT) AS dur_s
  FROM runs
  GROUP BY user_id, island, event_type
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_islands,
       max(run_len) AS max_run,
       round(avg(run_len), 6) AS avg_run,
       round(avg(dur_s), 6) AS avg_dur_s
FROM islands
GROUP BY event_type
"""


PQ_CAND = 16 * K  # uniform test corpus needs a deep ADC pool: measured recall@10 0.6/0.9/1.0 at 4K/8K/16K (sf0.01)


def q_vec_topk_pq(spark, sf):
    """Staged PQ ANN (operators/pq.py): rank the corpus by the ADC
    approximation — 8 lookup-table reads per row against the pinned
    per-subspace codebooks, the scan that at 100 TB reads ONLY the
    8-byte code column (64× less I/O than raw vectors) — keep a 16×K
    pool, then exact-cosine re-rank the survivors. The deep pool is the
    uniform-corpus tax (same floor the IVF recall curve documents —
    random unit vectors are the coarse-quantizer worst case): measured
    recall@10 here is 0.6 at 4×K, 0.9 at 8×K, 1.0 at 16×K; clustered
    real embeddings need far shallower pools. Every stage
    deterministic (pinned codebooks, rounded scores, vec_id ties), so
    the cascade hash-checks end to end; recall vs the exact top-k is
    measured and floor-pinned in tests/test_pq.py."""
    from vector_lake_spark.functions.vectors import cosine_similarity, lit_vector
    from vector_lake_spark.operators.pq import pq_adc_codes_expr

    emb = _t(spark, sf, "embeddings")
    adc = pq_adc_codes_expr(EMB_SPARK, QUERY_VEC)
    cands = (
        emb.select("vec_id", "embedding", adc.alias("adc"))
        .orderBy(F.col("adc").desc(), F.col("vec_id"))
        .limit(PQ_CAND)
    )
    score = F.round(
        cosine_similarity(
            to_double_array(F.col("embedding")), lit_vector(QUERY_VEC)
        ),
        6,
    )
    return (
        cands.select("vec_id", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(K)
    )


def _sql_vec_topk_pq() -> str:
    from vector_lake_spark.operators.pq import sql_pq_adc

    return f"""
WITH e AS (SELECT vec_id, {EMB} AS v FROM embeddings),
s AS (SELECT vec_id, v, {sql_pq_adc('v', QUERY_VEC)} AS adc FROM e),
c AS (SELECT vec_id, v FROM s ORDER BY adc DESC, vec_id LIMIT {PQ_CAND})
SELECT vec_id, round(list_cosine_similarity(v, {QV}), 6) AS score
FROM c
ORDER BY score DESC, vec_id
LIMIT {K}
"""


SQL_VEC_TOPK_PQ = _sql_vec_topk_pq()


IVFPQ_NPROBE = 4
IVFPQ_CAND = 16 * K  # uniform corpus needs the deep ADC pool (see vec_topk_pq)


def q_ann_ivfpq_topk(spark, sf):
    """IVF-PQ — the canonical billion-scale ANN cascade (FAISS's
    workhorse), composed from this repo's two pinned codebooks: IVF
    centroid pruning cuts the scan to ~nprobe/16 of the corpus
    (partition pruning when stored via IVFIndex), the PQ-ADC pass ranks
    survivors reading 8-byte codes, and only the final pool pays the
    full-precision kernel. Every stage deterministic (both codebooks
    pinned, rounded scores, vec_id ties) — the full three-stage cascade
    hash-checks against DuckDB."""
    from vector_lake_spark.functions.vectors import cosine_similarity, lit_vector
    from vector_lake_spark.operators.ann import (
        assign_centroid_expr,
        nearest_centroids,
    )
    from vector_lake_spark.operators.ivf_centroids import IVF_CENTROIDS
    from vector_lake_spark.operators.pq import pq_adc_codes_expr

    emb = _t(spark, sf, "embeddings")
    v = to_double_array(F.col("embedding"))
    probes = nearest_centroids(QUERY_VEC, IVF_CENTROIDS, IVFPQ_NPROBE)
    pruned = emb.withColumn(
        "centroid_id", assign_centroid_expr(v, IVF_CENTROIDS)
    ).filter(F.col("centroid_id").isin([int(i) for i in probes]))
    adc = pq_adc_codes_expr(EMB_SPARK, QUERY_VEC)
    cands = (
        pruned.select("vec_id", "embedding", adc.alias("adc"))
        .orderBy(F.col("adc").desc(), F.col("vec_id"))
        .limit(IVFPQ_CAND)
    )
    score = F.round(
        cosine_similarity(
            to_double_array(F.col("embedding")), lit_vector(QUERY_VEC)
        ),
        6,
    )
    return (
        cands.select("vec_id", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(K)
    )


def _sql_ann_ivfpq() -> str:
    from vector_lake_spark.operators.ann import ivf_assign_sql, nearest_centroids
    from vector_lake_spark.operators.ivf_centroids import IVF_CENTROIDS
    from vector_lake_spark.operators.pq import sql_pq_adc

    probes = ", ".join(
        str(i) for i in nearest_centroids(QUERY_VEC, IVF_CENTROIDS, IVFPQ_NPROBE)
    )
    return f"""
WITH e AS (SELECT vec_id, {EMB} AS v FROM embeddings),
a AS (SELECT vec_id, v, {ivf_assign_sql('v', IVF_CENTROIDS)} AS centroid_id FROM e),
p AS (SELECT vec_id, v FROM a WHERE centroid_id IN ({probes})),
s AS (SELECT vec_id, v, {sql_pq_adc('v', QUERY_VEC)} AS adc FROM p),
c AS (SELECT vec_id, v FROM s ORDER BY adc DESC, vec_id LIMIT {IVFPQ_CAND})
SELECT vec_id, round(list_cosine_similarity(v, {QV}), 6) AS score
FROM c
ORDER BY score DESC, vec_id
LIMIT {K}
"""


SQL_ANN_IVFPQ = _sql_ann_ivfpq()


def q_cdc_latest_state(spark, sf):
    """CDC log compaction (the lakehouse MERGE/upsert-apply pattern):
    collapse an append-only change log to the current snapshot — each
    user's LATEST event wins, ties broken by event_id so replays are
    deterministic.  One shuffle on the key, `row_number`-over-desc then
    rank=1 filter (planned as a partial top-1 per key, never a global
    sort).  At 100 TB this is exactly how a Delta/Hudi-style MERGE
    compacts: new log partitions fold into the snapshot keyed the same
    way, and the window never crosses keys so skew is bounded by the
    hottest single key's log."""
    e = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.round("value", 6).alias("last_value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        )
    )


SQL_CDC_LATEST_STATE = """
SELECT user_id,
       event_type AS last_event_type,
       round(value, 6) AS last_value,
       strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS last_seen
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


# Two bounded windows, NARROW enough that some entities appear in only
# one — so the oracle hash exercises all three change types (insert /
# update / delete), not just updates.
CDC_DIFF_OLD = ("2024-01-01", "2024-01-03")
CDC_DIFF_NEW = ("2024-01-28", "2024-01-31")


def q_cdc_diff_snapshots(spark, sf):
    """Snapshot diff — the CHANGE-DATA-FEED emitter (Delta CDF /
    Iceberg changelog shape), the inverse of ``cdc_latest_state``'s
    log compaction: given two per-entity snapshots (latest state in
    each of two windows), emit one row per changed entity tagged
    insert / update / delete with old and new values.  One full outer
    join on the entity key (both snapshot builds and the join shuffle
    on user_id — at 100 TB the snapshots are bucketed on the key and
    the diff is co-partitioned, no second shuffle); deletes are
    entities present only in the first window, inserts only in the
    second.  Downstream consumers replay exactly this row shape to
    maintain any derived table — it composes with ``ivm_join_agg``'s
    delta legs."""
    e = _events(spark, sf)

    def snapshot(lo, hi):
        # per (user, event_type) latest value — the per-attribute state
        # key, which genuinely churns between windows (a pure user_id
        # key never deletes on this corpus: heavy users are active in
        # every window)
        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            e.filter(
                (F.col("ts") >= F.to_timestamp(F.lit(lo)))
                & (F.col("ts") < F.to_timestamp(F.lit(hi)))
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type", F.round("value", 6).alias("value"))
        )

    old = snapshot(*CDC_DIFF_OLD)
    new = snapshot(*CDC_DIFF_NEW)
    j = old.alias("o").join(
        new.alias("n"),
        (F.col("o.user_id") == F.col("n.user_id"))
        & (F.col("o.event_type") == F.col("n.event_type")),
        "full_outer",
    )
    return (
        j.select(
            F.coalesce(F.col("o.user_id"), F.col("n.user_id")).alias(
                "user_id"
            ),
            F.coalesce(F.col("o.event_type"), F.col("n.event_type")).alias(
                "event_type"
            ),
            F.when(F.col("o.user_id").isNull(), "insert")
            .when(F.col("n.user_id").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            F.col("o.value").alias("old_value"),
            F.col("n.value").alias("new_value"),
        )
        # updates that change nothing are NOT changes — a CDF must not
        # emit no-op rows (they'd churn every downstream consumer)
        .filter(
            (F.col("change_type") != "update")
            | (F.col("old_value") != F.col("new_value"))
        )
    )


SQL_CDC_DIFF_SNAPSHOTS = f"""
WITH o AS (
  SELECT user_id, event_type, round(value, 6) AS value
  FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
    WHERE ts >= TIMESTAMP '{CDC_DIFF_OLD[0]}'
      AND ts <  TIMESTAMP '{CDC_DIFF_OLD[1]}'
  ) WHERE rn = 1
),
n AS (
  SELECT user_id, event_type, round(value, 6) AS value
  FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
    WHERE ts >= TIMESTAMP '{CDC_DIFF_NEW[0]}'
      AND ts <  TIMESTAMP '{CDC_DIFF_NEW[1]}'
  ) WHERE rn = 1
)
SELECT coalesce(o.user_id, n.user_id) AS user_id,
       coalesce(o.event_type, n.event_type) AS event_type,
       CASE WHEN o.user_id IS NULL THEN 'insert'
            WHEN n.user_id IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       o.value AS old_value,
       n.value AS new_value
FROM o FULL OUTER JOIN n
  ON o.user_id = n.user_id AND o.event_type = n.event_type
WHERE (o.user_id IS NULL OR n.user_id IS NULL) OR o.value <> n.value
"""


def q_zorder_events(spark, sf):
    """Z-order (Morton) clustering key — the 2-D layout primitive
    (operators/layout.py): interleave user_id and day-number bits so a
    range-sort on ONE code clusters files narrowly in BOTH dimensions
    (Delta/Iceberg OPTIMIZE ZORDER, as plain codegen arithmetic).  The
    registry entry verifies the code bit-for-bit against the oracle's
    unrolled shift/or expression on the 20 highest codes;
    tests/test_layout.py verifies the layout effect itself (per-file
    min/max narrowing in both dimensions after zorder_layout)."""
    from vector_lake_spark.operators.layout import morton2

    e = _events(spark, sf)
    day = _epoch_day(F.col("ts"))
    return (
        e.select(
            "event_id",
            "user_id",
            day.alias("day_no"),
            morton2(
                F.col("user_id").bitwiseAND(F.lit(65535)),
                day.bitwiseAND(F.lit(65535)),
            ).alias("zcode"),
        )
        .orderBy(F.col("zcode").desc(), "event_id")
        .limit(20)
    )


def _sql_zorder_events() -> str:
    from vector_lake_spark.operators.layout import sql_morton2

    day = O.sql_epoch_day("ts")
    return f"""
SELECT event_id, user_id,
       CAST({day} AS BIGINT) AS day_no,
       {sql_morton2('(user_id & 65535)', f'(({day}) & 65535)')} AS zcode
FROM events
ORDER BY zcode DESC, event_id
LIMIT 20
"""


SQL_ZORDER_EVENTS = _sql_zorder_events()


def q_cdc_scd2_intervals(spark, sf):
    """SCD Type-2 reconstruction — turn an append-only change log into
    versioned validity intervals (the dimension-table history pattern
    every lakehouse serving layer needs beside ``cdc_latest_state``'s
    Type-1 snapshot).  Two window passes over the SAME (user_id ×
    ts,event_id) ordering: lag() keeps only change points (rows whose
    tracked attribute differs from the previous row), then lead() +
    row_number() close each interval and number the versions — Catalyst
    plans both windows over ONE hash exchange (plan-pinned in
    tests/test_plans.py), so at 100 TB this is a single shuffle on the
    entity key and skew is bounded by the hottest single entity's log.
    The open current version carries valid_to = NULL."""
    e = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = e.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.row_number().over(w).cast("long").alias("version"),
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(F.lead("ts").over(w), fmt).alias("valid_to"),
    )


SQL_CDC_SCD2_INTERVALS = """
WITH c AS (
  SELECT user_id, event_type, ts, event_id
  FROM (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
  )
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id,
       event_type AS state,
       row_number() OVER w AS version,
       strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(date_trunc('second', lead(ts) OVER w),
                '%Y-%m-%d %H:%M:%S') AS valid_to
FROM c
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_ev_stream_scd2(spark, sf):
    """Streaming SCD2 maintenance (streaming/scd2.py): the events table
    ingested as a bounded file stream through ``SCD2Ingest`` —
    per-batch fold of accepted change events into a bucket-partitioned
    interval table (dynamic overwrite of ONLY the affected buckets,
    per-entity (ts, event_id) watermark quarantining out-of-order rows,
    zero streaming state) — then the history served from the table.
    Shares the batch entry's oracle (``SQL_CDC_SCD2_INTERVALS``, a full
    rebuild from raw events): a green hash proves incremental
    maintenance == full recompute.  Multi-batch equivalence, replay
    idempotence, late-row quarantine and bucket-pruned rewrites are
    pinned in tests/test_ops.py."""
    import atexit
    import shutil
    import tempfile

    from vector_lake_spark.sources import normalize_event_ts, table_schema
    from vector_lake_spark.streaming.scd2 import SCD2Ingest

    schema = table_schema(spark, sf, "events")
    stream = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    work = tempfile.mkdtemp(prefix="stream_scd2_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    ingest = SCD2Ingest(spark, work + "/intervals", work + "/quarantine")
    ingest.run(stream, work + "/ckpt")
    return ingest.serve_intervals()


IVM_CUTOFF = "1998-01-01"


def q_ivm_join_agg(spark, sf):
    """Incremental view maintenance of a JOIN-aggregate — the serving
    pattern one step past ``ev_rollup_merge``'s single-table rollup:
    the materialized view is revenue by (order month × customer
    segment), i.e. an aggregate over orders ⋈ customer.  Because the
    dimension side is static, the delta identity is
    agg(J(R∪ΔR, S)) = merge(agg(J(R,S)), agg(J(ΔR,S))): the base
    partials are a table you persist once, and each new fact batch pays
    ONE broadcast join + partial agg over the batch alone — at 100 TB
    the view refresh cost is O(|ΔR|), never a rescan of fact history.
    Both legs broadcast the customer dim (plan-pinned); the oracle
    recomputes the view directly from the full join, so the green hash
    PROVES base+delta merge == full recompute."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    cutoff = F.to_timestamp(F.lit(IVM_CUTOFF))

    def partial(facts):
        return (
            facts.join(
                F.broadcast(c), facts["o_custkey"] == c["c_custkey"]
            )
            .groupBy(
                F.date_format("o_orderdate", "yyyy-MM").alias("month"),
                "c_mktsegment",
            )
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("o_totalprice").alias("rev"),
            )
        )

    base = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("month", "c_mktsegment")
        .agg(
            F.sum("cnt").alias("n_orders"),
            F.round(F.sum("rev"), 2).alias("revenue"),
        )
    )


SQL_IVM_JOIN_AGG = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       c_mktsegment,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
"""


MAXSIM_T = 4  # token vectors per document (64-dim → 4 × 16-dim slices)
MAXSIM_SUB = DIM // MAXSIM_T


def q_vec_maxsim_topk(spark, sf):
    """Late-interaction (ColBERT-style) max-sim top-k — the multi-vector
    retrieval scorer: document and query are each a BAG of token
    vectors, score = Σ over query tokens of the max cosine against any
    document token.  Here both sides derive deterministically from the
    single stored embedding (4 contiguous 16-dim slices), so the whole
    scorer is pure codegen array arithmetic — per (query-token,
    doc-token) cosine rounded at 6 dp, `greatest` over doc tokens,
    left-associative sum over query tokens — mirrored term-for-term in
    DuckDB.  At 100 TB this is the same scan shape as ``vec_topk_cosine``
    (one pass, `TakeOrderedAndProject` bounded heap, no shuffle of
    vectors); real multi-vector corpora store `array<array<float>>` and
    the expression transfers unchanged via `transform`."""
    from vector_lake_spark.functions.vectors import (
        sql_cosine_similarity,
        sql_vector_lit,
    )

    emb = _t(spark, sf, "embeddings")
    # the 16-cosine scorer as ONE F.expr parse (r12 optimization): the
    # per-Column DSL construction was ~1.2 s of py4j round-trips per
    # query build; the parsed tree is expression-identical (pinned by
    # tests/test_plans.py::test_sql_kernel_builders_match_dsl)
    doc_slices = [
        f"slice({EMB_SPARK}, {t * MAXSIM_SUB + 1}, {MAXSIM_SUB})"
        for t in range(MAXSIM_T)
    ]
    terms = []
    for qi in range(MAXSIM_T):
        qslice = QUERY_VEC[qi * MAXSIM_SUB : (qi + 1) * MAXSIM_SUB]
        terms.append(
            "greatest("
            + ", ".join(
                f"round({sql_cosine_similarity(d, sql_vector_lit(qslice))}, 6)"
                for d in doc_slices
            )
            + ")"
        )
    score = F.expr(
        f"round({reduce(lambda a, b: f'({a} + {b})', terms)}, 6)"
    )
    return (
        emb.select("vec_id", "label", score.alias("score"))
        .orderBy(F.col("score").desc(), "vec_id")
        .limit(K)
    )


def _sql_vec_maxsim() -> str:
    terms = []
    for qi in range(MAXSIM_T):
        qslice = lsh_mod.sql_lit_list(
            QUERY_VEC[qi * MAXSIM_SUB : (qi + 1) * MAXSIM_SUB]
        )
        cos = [
            f"round(list_cosine_similarity(list_slice({EMB}, "
            f"{t * MAXSIM_SUB + 1}, {(t + 1) * MAXSIM_SUB}), {qslice}), 6)"
            for t in range(MAXSIM_T)
        ]
        terms.append(f"greatest({', '.join(cos)})")
    total = terms[0]
    for t in terms[1:]:
        total = f"({total} + {t})"
    return f"""
SELECT vec_id, label, round({total}, 6) AS score
FROM embeddings
ORDER BY score DESC, vec_id
LIMIT {K}
"""


SQL_VEC_MAXSIM = _sql_vec_maxsim()


# ---------------------------------------------------------------------------
# Round-6 wave 3: binary-signature retrieval, rank fusion, data mixing
# ---------------------------------------------------------------------------

# Binary (1-bit) quantization: each dimension's sign packed into a 64-bit
# signature (two 32-bit halves so the packing arithmetic never overflows a
# signed BIGINT in either engine).  Candidate ranking is XOR + popcount —
# the cheapest possible coarse scorer, and what production binary-embedding
# engines run over memory-mapped signatures.
HAMMING_POOL = 50

# the ONE packing implementation (operators/binary.py) — shared by this
# inline query, the SignatureIndex artifact, and the bench script, so
# the three can never desynchronize
from vector_lake_spark.operators.binary import (  # noqa: E402
    hamming_from_exprs,
    pack_query_sig,
    sig_exprs,
)

QSIG_HI, QSIG_LO = pack_query_sig(QUERY_VEC)

SQL_VEC_TOPK_HAMMING_BATCH = _sql_vec_topk_hamming_batch()


def q_vec_topk_hamming(spark, sf):
    """Binary-quantized retrieval: sign-bit signatures (64 dims → two
    32-bit halves in BIGINTs), coarse rank by Hamming distance to the
    query signature (XOR + ``bit_count``, pure codegen integer ops),
    keep ``HAMMING_POOL`` candidates (``TakeOrderedAndProject`` bounded
    heap, ties on vec_id), exact full-precision cosine re-rank to top-k.

    The 100 TB shape: signatures are 8 bytes/vector (32× smaller than
    the float32 embedding), so the coarse scan reads 8 B/row and does
    two XORs + two popcounts — the float vectors are touched for only
    ``HAMMING_POOL`` rows.  In the store the signature would be a
    persisted column (computed once at ingest, like ``vec_quantize_int8``
    persists scales); here it is computed inline so the oracle mirrors
    the arithmetic exactly."""
    from vector_lake_spark.functions.vectors import (
        cosine_similarity,
        lit_vector,
    )

    emb = _t(spark, sf, "embeddings")
    v = to_double_array(F.col("embedding"))
    ham = hamming_from_exprs(sig_exprs(v, DIM), [QSIG_HI, QSIG_LO])
    cand = (
        emb.select("vec_id", v.alias("v"), ham.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col("vec_id"))
        .limit(HAMMING_POOL)
    )
    exact = F.round(cosine_similarity(F.col("v"), lit_vector(QUERY_VEC)), 6)
    return (
        cand.select("vec_id", "hamming", exact.alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(K)
    )


SQL_VEC_TOPK_HAMMING = f"""
WITH s AS (
  SELECT vec_id, {EMB} AS v,
    {_sql_pack_half(EMB, 0)} AS hi,
    {_sql_pack_half(EMB, 32)} AS lo
  FROM embeddings
),
c AS (
  SELECT vec_id, v,
         CAST(bit_count(xor(hi, {QSIG_HI})) + bit_count(xor(lo, {QSIG_LO}))
              AS BIGINT) AS hamming
  FROM s ORDER BY hamming ASC, vec_id LIMIT {HAMMING_POOL}
)
SELECT vec_id, hamming, round(list_cosine_similarity(v, {QV}), 6) AS score
FROM c ORDER BY score DESC, vec_id LIMIT {K}
"""


def q_vec_hamming_recall(spark, sf):
    """Retrieval-quality audit as a first-class query: recall@k of the
    binary-signature candidate pool against exact cosine top-k, for the
    registry's pinned query vector.  'Measure, don't guess' made an
    operator — the same join a production retrieval stack runs
    continuously to catch signature/index drift, and because both legs
    are deterministic the recall number itself is hash-checked against
    the oracle.  Cost: two bounded-heap scans + a k-row join; at 100 TB
    the audit runs on a sampled query set at the same per-query cost as
    the queries it audits."""
    from vector_lake_spark.functions.vectors import (
        cosine_similarity,
        lit_vector,
    )

    emb = _t(spark, sf, "embeddings")
    v = to_double_array(F.col("embedding"))
    ham = hamming_from_exprs(sig_exprs(v, DIM), [QSIG_HI, QSIG_LO])
    pool = (
        emb.select("vec_id", ham.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col("vec_id"))
        .limit(HAMMING_POOL)
        .select("vec_id")
    )
    exact_score = F.round(cosine_similarity(v, lit_vector(QUERY_VEC)), 6)
    exact = (
        emb.select("vec_id", exact_score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(K)
        .select("vec_id")
    )
    hit = exact.join(pool, "vec_id", "left_semi")
    n_hits = hit.agg(F.count(F.lit(1)).alias("n_hits"))
    return n_hits.select(
        F.lit(K).cast("long").alias("k"),
        F.lit(HAMMING_POOL).cast("long").alias("pool"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.round(F.col("n_hits") / F.lit(K), 6).alias("recall_at_k"),
    )


SQL_VEC_HAMMING_RECALL = f"""
WITH s AS (
  SELECT vec_id, {EMB} AS v,
    {_sql_pack_half(EMB, 0)} AS hi,
    {_sql_pack_half(EMB, 32)} AS lo
  FROM embeddings
),
pool AS (
  SELECT vec_id,
         CAST(bit_count(xor(hi, {QSIG_HI})) + bit_count(xor(lo, {QSIG_LO}))
              AS BIGINT) AS hamming
  FROM s ORDER BY hamming ASC, vec_id LIMIT {HAMMING_POOL}
),
exact AS (
  SELECT vec_id, round(list_cosine_similarity(v, {QV}), 6) AS score
  FROM s ORDER BY score DESC, vec_id LIMIT {K}
),
h AS (
  SELECT count(*) AS n_hits FROM exact
  WHERE vec_id IN (SELECT vec_id FROM pool)
)
SELECT CAST({K} AS BIGINT) AS k,
       CAST({HAMMING_POOL} AS BIGINT) AS pool,
       CAST(n_hits AS BIGINT) AS n_hits,
       round(n_hits / {K}.0, 6) AS recall_at_k
FROM h
"""


def q_dq_lineitem_report(spark, sf):
    """Declarative data-quality suite (the Deequ / Great-Expectations
    staple) as one oracle-checked query: eight constraints over
    lineitem — completeness, exact key uniqueness, three domain/range
    checks, a deliberately-failing distribution check (so ``passed``
    exercises both branches), and two referential-integrity legs —
    compiled by ``operators/dq.constraint_report`` into ONE aggregate
    scan plus two key-only anti-join legs.  At 100 TB the whole suite
    is a single pass over the fact table; the uniqueness metric is an
    exact two-phase count_distinct, not a sketch, because a uniqueness
    CLAIM should not rest on an estimate."""
    from vector_lake_spark.operators.dq import (
        completeness,
        constraint_report,
        satisfies,
        subset_of,
        uniqueness,
    )

    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    part = _t(spark, sf, "part")
    q = F.col("l_quantity")
    rep = constraint_report(
        li,
        [
            completeness("l_shipdate"),
            uniqueness(["l_orderkey", "l_linenumber"]),
            satisfies("quantity_range", (q >= 1) & (q <= 50)),
            satisfies(
                "discount_range",
                (F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.1),
            ),
            satisfies(
                "returnflag_domain",
                F.col("l_returnflag").isin("A", "N", "R"),
            ),
            # deliberately failing: exercises passed=false in the report
            satisfies("quantity_le_40", q <= 40),
            subset_of("l_orderkey", orders, "o_orderkey"),
            subset_of("l_partkey", part, "p_partkey"),
        ],
    )
    return rep


SQL_DQ_LINEITEM_REPORT = """
WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM lineitem),
m AS (
  SELECT
    round(count(l_shipdate) / greatest(total, 1), 6) AS completeness_ship,
    round((SELECT CAST(count(*) AS DOUBLE) FROM
             (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
          / greatest(total, 1), 6) AS uniq_key,
    round(sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
              THEN 1 ELSE 0 END) / greatest(total, 1), 6) AS qty_range,
    round(sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.1
              THEN 1 ELSE 0 END) / greatest(total, 1), 6) AS disc_range,
    round(sum(CASE WHEN l_returnflag IN ('A','N','R')
              THEN 1 ELSE 0 END) / greatest(total, 1), 6) AS rf_domain,
    round(sum(CASE WHEN l_quantity <= 40 THEN 1 ELSE 0 END)
          / greatest(total, 1), 6) AS qty_le_40,
    round((SELECT CAST(count(*) AS DOUBLE) FROM lineitem
           WHERE l_orderkey IN (SELECT o_orderkey FROM orders))
          / greatest(total, 1), 6) AS ref_orders,
    round((SELECT CAST(count(*) AS DOUBLE) FROM lineitem
           WHERE l_partkey IN (SELECT p_partkey FROM part))
          / greatest(total, 1), 6) AS ref_part
  FROM lineitem CROSS JOIN n
  GROUP BY total
),
rows_out AS (
  SELECT 'completeness(l_shipdate)' AS check_name, completeness_ship AS metric FROM m
  UNION ALL SELECT 'uniqueness(l_orderkey,l_linenumber)', uniq_key FROM m
  UNION ALL SELECT 'satisfies(quantity_range)', qty_range FROM m
  UNION ALL SELECT 'satisfies(discount_range)', disc_range FROM m
  UNION ALL SELECT 'satisfies(returnflag_domain)', rf_domain FROM m
  UNION ALL SELECT 'satisfies(quantity_le_40)', qty_le_40 FROM m
  UNION ALL SELECT 'subset_of(l_orderkey)', ref_orders FROM m
  UNION ALL SELECT 'subset_of(l_partkey)', ref_part FROM m
)
SELECT check_name AS "check", metric,
       CAST(1.0 AS DOUBLE) AS threshold,
       metric >= 1.0 AS passed
FROM rows_out
"""


RRF_TERM = "vector"
RRF_K_CONST = 60  # the standard RRF damping constant
RRF_POOL = 100  # ranks are computed over each retriever's top pool only


def q_vec_topk_rrf(spark, sf):
    """Reciprocal-rank fusion of a lexical and a vector retriever — the
    standard hybrid-search fusion (score = Σ 1/(60+rank)), complementing
    ``hybrid_topk``'s weighted-sum fusion.  Each retriever contributes
    only its top ``RRF_POOL`` candidates: both legs are bounded
    ``TakeOrderedAndProject`` heaps (no global sort, no full-corpus
    ``row_number``), the rank windows then run over ≤100 rows each, and
    the fusion is a full-outer join of two 100-row sets — at 100 TB the
    only full scans are the two candidate generators, which are the
    same single-pass bounded-heap shapes as ``vec_topk_cosine``.
    Documents missing from a pool contribute no term for that retriever
    (the standard RRF convention)."""
    from vector_lake_spark.functions.vectors import (
        cosine_similarity,
        lit_vector,
    )

    d = _t(spark, sf, "documents")
    emb = _t(spark, sf, "embeddings")
    tf = F.size(F.filter(tokens(F.col("text")), lambda t: t == RRF_TERM))
    kw = (
        d.select(F.col("doc_id").alias("id"), tf.alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("id"))
        .limit(RRF_POOL)
        .withColumn(
            "rank_kw",
            F.row_number().over(
                Window.orderBy(F.col("tf").desc(), F.col("id"))
            ),
        )
    )
    score = F.round(
        cosine_similarity(to_double_array(F.col("embedding")),
                          lit_vector(QUERY_VEC)),
        6,
    )
    vx = (
        emb.select(F.col("vec_id").alias("id"), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("id"))
        .limit(RRF_POOL)
        .withColumn(
            "rank_vec",
            F.row_number().over(
                Window.orderBy(F.col("score").desc(), F.col("id"))
            ),
        )
    )
    rrf = F.round(
        F.coalesce(
            F.lit(1.0) / (F.lit(RRF_K_CONST) + F.col("rank_kw")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(RRF_K_CONST) + F.col("rank_vec")), F.lit(0.0)
        ),
        9,
    )
    return (
        kw.select("id", "rank_kw")
        .join(vx.select("id", "rank_vec"), "id", "full_outer")
        .select("id", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("id"))
        .limit(K)
    )


SQL_VEC_TOPK_RRF = f"""
WITH kw0 AS (
  SELECT doc_id AS id,
         CAST(len(list_filter({O.sql_tokens('text')}, t -> t = '{RRF_TERM}'))
              AS BIGINT) AS tf
  FROM documents ORDER BY tf DESC, id LIMIT {RRF_POOL}
),
kw AS (SELECT id, row_number() OVER (ORDER BY tf DESC, id) AS rank_kw FROM kw0),
v0 AS (
  SELECT vec_id AS id,
         round(list_cosine_similarity({EMB}, {QV}), 6) AS score
  FROM embeddings ORDER BY score DESC, id LIMIT {RRF_POOL}
),
v AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank_vec FROM v0)
SELECT COALESCE(kw.id, v.id) AS id,
       round(COALESCE(1.0/({RRF_K_CONST}+rank_kw), 0.0)
           + COALESCE(1.0/({RRF_K_CONST}+rank_vec), 0.0), 9) AS rrf
FROM kw FULL OUTER JOIN v ON kw.id = v.id
ORDER BY rrf DESC, id LIMIT {K}
"""


TOKEN_BUDGET_PER_SOURCE = 1000


def q_pipe_token_budget(spark, sf):
    """Token-budget corpus selection: within each source, keep the
    highest-quality documents until a per-source token budget is
    exhausted — how a training mix is actually cut when the budget is
    tokens, not documents.  Ordering is (quality desc, doc_id), the
    running total is an exact BIGINT window sum of token counts (no
    float accumulation at the keep/drop boundary), and the quality
    score itself is the registry's shared codegen expression
    (``functions/text.quality_score``), rounded to 9 dp so both engines
    order identically.  One scan + one window shuffle on ``source``; at
    100 TB the window partitions by source (thousands of cells), so
    the sort is per-source, never global."""
    from vector_lake_spark.functions.text import quality_score, token_count

    d = _t(spark, sf, "documents")
    q = F.round(quality_score(F.col("text")), 9)
    scored = d.select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("ntok"),
        q.alias("q"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("q").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept = scored.withColumn("cum", F.sum("ntok").over(w)).filter(
        F.col("cum") <= TOKEN_BUDGET_PER_SOURCE
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("ntok").cast("long").alias("tokens_kept"),
    )


SQL_PIPE_TOKEN_BUDGET = f"""
WITH s AS (
  SELECT doc_id, source, {O.sql_token_count('text')} AS ntok,
         round({O.sql_quality_score('text')}, 9) AS q
  FROM documents
),
c AS (
  SELECT *, sum(ntok) OVER (PARTITION BY source ORDER BY q DESC, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM s
)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(ntok) AS BIGINT) AS tokens_kept
FROM c WHERE cum <= {TOKEN_BUDGET_PER_SOURCE} GROUP BY source
"""


def q_pipe_temperature_mix(spark, sf):
    """Temperature-based domain resampling (α = 0.5, i.e. sampling
    probabilities ∝ √share — the standard low-resource-language
    upsampling used in multilingual LLM mixes): per-language targets
    are computed from exact integer arithmetic (fixed-point √n via the
    exactly-rounded IEEE sqrt, BIGINT sums, integer half-up division —
    no cross-engine float-order hazard), then the corpus is MATERIALLY
    resampled: each document gets ``target//n`` full copies plus one
    extra copy decided by the same deterministic id-hash rule
    ``pipe_stratified_sample`` uses.  Output is the per-language audit
    (corpus size, target, rows actually emitted).  One scan + one
    broadcast of the 5-row plan + an ``explode`` whose fan-out equals
    the resampled corpus size — the 100 TB shape (no shuffle of text;
    the explode is map-side)."""
    from vector_lake_spark.functions.text import token_hash60

    d = _t(spark, sf, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_dom"))
    # fixed-point sqrt weight: floor(sqrt(n·10^6)) — IEEE sqrt is exactly
    # rounded, so both engines produce the identical BIGINT
    wt = F.floor(F.sqrt(F.col("n_dom").cast("double") * F.lit(1e6))).cast(
        "long"
    )
    wts = counts.withColumn("wt", wt)
    tot = wts.agg(
        F.sum("wt").alias("wt_sum"), F.sum("n_dom").alias("n_total")
    )
    plan = (
        wts.crossJoin(F.broadcast(tot))
        # the 2·N·wt product overflows BIGINT around 1e11 docs; DECIMAL(38)
        # keeps the fixed-point arithmetic exact to ~1e28 (DuckDB mirrors
        # with HUGEINT) — half-up integer division either way
        .withColumn(
            "target_n",
            F.expr(
                "CAST((2*CAST(n_total AS DECIMAL(38,0))*wt + wt_sum)"
                " div (2*wt_sum) AS BIGINT)"
            ),
        )
        .withColumn(
            "full_copies", F.expr("target_n div n_dom").cast("long")
        )
        .withColumn(
            "rem",
            (F.col("target_n") - F.col("full_copies") * F.col("n_dom")).cast(
                "long"
            ),
        )
        .select("lang", "n_dom", "target_n", "full_copies", "rem")
    )
    h = token_hash60(F.col("doc_id").cast("string")) % 10000
    ncopies = (
        F.col("full_copies")
        + F.when(h * F.col("n_dom") < 10000 * F.col("rem"), 1).otherwise(0)
    ).cast("int")
    # explode_outer + count(one): a fully-downsampled-away language must
    # still surface with n_emitted=0 (the oracle's GROUP BY does) — a
    # plain explode would silently drop it from the audit
    emitted = (
        d.select("doc_id", "lang")
        .join(F.broadcast(plan), "lang")
        .select(
            "lang",
            "n_dom",
            "target_n",
            F.explode_outer(F.array_repeat(F.lit(1), ncopies)).alias("one"),
        )
    )
    return emitted.groupBy("lang", "n_dom", "target_n").agg(
        F.count("one").alias("n_emitted")
    )


SQL_PIPE_TEMPERATURE_MIX = f"""
WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_dom
           FROM documents GROUP BY lang),
w AS (SELECT lang, n_dom,
             CAST(floor(sqrt(CAST(n_dom AS DOUBLE)*1000000.0)) AS BIGINT) AS wt
      FROM c),
t AS (SELECT CAST(sum(wt) AS BIGINT) AS wt_sum,
             CAST(sum(n_dom) AS BIGINT) AS n_total FROM w),
p AS (
  SELECT lang, n_dom,
         CAST((2*CAST(n_total AS HUGEINT)*wt + wt_sum) // (2*wt_sum)
              AS BIGINT) AS target_n
  FROM w CROSS JOIN t
),
p2 AS (
  SELECT lang, n_dom, target_n, target_n // n_dom AS full_copies,
         target_n - (target_n // n_dom) * n_dom AS rem
  FROM p
),
e AS (
  SELECT d.lang, p2.n_dom, p2.target_n,
         p2.full_copies
           + CASE WHEN ({O.sql_token_hash60("CAST(doc_id AS VARCHAR)")}
                        % 10000) * p2.n_dom < 10000 * p2.rem
                  THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN p2 ON d.lang = p2.lang
)
SELECT lang, n_dom, target_n, CAST(sum(n_copies) AS BIGINT) AS n_emitted
FROM e GROUP BY lang, n_dom, target_n
"""


WEIGHTED_SAMPLE_N = 100


def q_pipe_weighted_sample(spark, sf):
    """Distributed weighted sampling without replacement via priority
    sampling (Duffield–Lund–Thorup, "Priority sampling for estimation of
    arbitrary subset sums", JACM 2007): each document draws priority
    q_i = w_i / u_i with weight w_i = token count and u_i a deterministic
    uniform from the md5-derived 60-bit id hash; the sample is the N
    largest priorities.  Both the hash→(0,1] map and the single division
    are IEEE-exact (+,-,*,/ are exactly rounded), so Spark and DuckDB
    produce bit-identical priorities — no float-order hazard, unlike
    ln/pow-based Efraimidis–Spirakis keys.

    Scale shape: one scan + ``TakeOrderedAndProject`` — each task keeps a
    local N-heap and only N rows per partition reach the driver-side
    merge; document text never shuffles.  At 100 TB this is the
    map-side-top-k pattern, same as ``vec_topk_cosine``."""
    from vector_lake_spark.functions.text import token_hash60

    d = _t(spark, sf, "documents")
    # u = (hash+1)/2^60 ∈ (0, 1]; priority = w/u is then on the weights'
    # scale, so the (N+1)-th priority is directly usable as the DLT
    # threshold τ in the max(w_i, τ) subset-sum estimator. Two exactly-
    # rounded divisions, mirrored op-for-op in the oracle.
    u = (
        (token_hash60(F.col("doc_id").cast("string")) + F.lit(1)).cast(
            "double"
        )
        / F.lit(float(2**60))
    )
    ntok = token_count(F.col("text"))
    return (
        d.select(
            "doc_id",
            "source",
            ntok.cast("long").alias("ntok"),
            (ntok.cast("double") / u).alias("priority"),
        )
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(WEIGHTED_SAMPLE_N)
    )


SQL_PIPE_WEIGHTED_SAMPLE = f"""
WITH s AS (
  SELECT doc_id, source,
         CAST({O.sql_token_count('text')} AS BIGINT) AS ntok,
         CAST({O.sql_token_hash60("CAST(doc_id AS VARCHAR)")} + 1
              AS DOUBLE) / {float(2**60)!r} AS u
  FROM documents
)
SELECT doc_id, source, ntok, CAST(ntok AS DOUBLE) / u AS priority
FROM s
ORDER BY priority DESC, doc_id
LIMIT {WEIGHTED_SAMPLE_N}
"""


def q_ev_trend_per_user(spark, sf):
    """Per-key OLS trend: regression of event value on time (days since
    epoch) per user — the "is this metric drifting per entity" primitive
    (Spark-side ``regr_slope``/``regr_intercept`` are JVM declarative
    aggregates with map-side partial merge, so the shuffle carries 6
    moments per user, not events).  Rounded to 6 decimals per the repo's
    float-sum-order convention (same as ``avg(value)`` elsewhere).

    100 TB shape: one scan, one shuffle on user_id with partial
    aggregation; no join, no window.  regr_* are algebraic aggregates —
    the exact pattern that scales to billions of keys."""
    e = _events(spark, sf)
    # ts→double keeps fractional seconds (micros/1e6, exactly-rounded the
    # same way DuckDB's date_part('epoch') computes it); the −20000-day
    # recentering conditions the x² moments (x ∈ O(10²) instead of 2·10⁴)
    # so the regr_* cancellation error stays far below the round-6 grid.
    x = F.col("ts").cast("double") / F.lit(86400.0) - F.lit(20000.0)
    y = F.col("value")
    return (
        e.select(F.col("user_id"), x.alias("x"), y.alias("y"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.regr_slope("y", "x"), 6).alias("slope_per_day"),
            F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
        )
        .filter(F.col("n_events") >= 2)
    )


SQL_EV_TREND_PER_USER = """
WITH e AS (
  SELECT user_id, date_part('epoch', ts) / 86400.0 - 20000.0 AS x, value AS y
  FROM events
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       round(regr_slope(y, x), 6) AS slope_per_day,
       round(regr_intercept(y, x), 6) AS intercept
FROM e
GROUP BY user_id
HAVING count(*) >= 2
"""


def q_text_entropy(spark, sf):
    """Unigram token entropy per document — the Shannon-entropy quality
    signal (low entropy ⇒ repetitive/boilerplate text; used alongside
    ``text_repetition``'s n-gram ratio in C4/Gopher-style filters).
    H = ln(n) − Σ c·ln(c) / n over the token histogram.  Two shuffles
    ((doc_id, tok) count then doc_id), both with map-side partial agg;
    ln() is the one non-exactly-rounded op, absorbed by the repo's
    round-6 convention.

    100 TB shape: the explode fans out map-side; the first groupBy keys
    on (doc_id, tok) so the combiner collapses within-doc repeats before
    the shuffle — bytes on the wire ∝ distinct tokens, not tokens."""
    d = _t(spark, sf, "documents")
    hist = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    return (
        hist.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(
                F.log(F.sum("c"))
                - F.sum(F.col("c") * F.log("c")) / F.sum("c"),
                6,
            ).alias("entropy"),
        )
    )


SQL_TEXT_ENTROPY = f"""
WITH h AS (
  SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c
  FROM (SELECT doc_id, unnest({O.sql_tokens('text')}) AS tok FROM documents)
  GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
FROM h
GROUP BY doc_id
"""


def q_ev_anomaly_mad(spark, sf):
    """Robust anomaly detection: flag events whose value deviates from the
    per-type median by more than 3 robust sigmas (MAD · 1.4826 — the
    normal-consistency constant).  Complements ``ev_anomaly_zscore``:
    median/MAD don't move when the outliers themselves inflate mean/stddev.
    Exactness: exact median (avg of two middle doubles — exactly rounded),
    subtraction/abs/multiply/compare all IEEE-exact, so the flagged SET is
    deterministic cross-engine; only the reported score is rounded.

    Scale: two passes over events, each a 5-group aggregate (partial agg
    map-side, 5-row broadcast back) — the grouped-median sort is the
    scale-out cost; at 100 TB swap ``median`` for ``approx_percentile``
    (the sketch path ``sketch_value_percentiles`` already demonstrates)."""
    e = _events(spark, sf)
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.median("adev").alias("mad"), F.first("med").alias("med")
    )
    return (
        e.join(F.broadcast(mad), "event_type")
        .filter(
            F.abs(F.col("value") - F.col("med"))
            > F.lit(3.0) * F.lit(1.4826) * F.col("mad")
        )
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(
                (F.col("value") - F.col("med"))
                / (F.lit(1.4826) * F.col("mad")),
                6,
            ).alias("robust_z"),
        )
    )


SQL_EV_ANOMALY_MAD = """
WITH m AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
),
d AS (
  SELECT e.event_type, median(abs(e.value - m.med)) AS mad, any_value(m.med) AS med
  FROM events e JOIN m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_id, e.event_type, e.value,
       round((e.value - d.med) / (1.4826 * d.mad), 6) AS robust_z
FROM events e JOIN d USING (event_type)
WHERE abs(e.value - d.med) > 3.0 * 1.4826 * d.mad
"""


def q_ev_transition_matrix(spark, sf):
    """Per-user event-sequence Markov transition matrix: count and
    probability of each (previous event_type → event_type) step, with
    steps ordered by timestamp (event_id tie-break) within each user.
    The next-action model behind session analytics and sequence-aware
    sampling.

    100 TB shape: ONE hash exchange on user_id feeds the lag window
    (sequence ops partition by entity — the standard pattern); the
    (prev, curr) count then collapses to at most |types|² rows with
    map-side partial agg, and the per-source normalization is a window
    over that tiny aggregate, not the fact table."""
    e = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = steps.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "event_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(tot).cast("double"),
            6,
        ).alias("p"),
    )


SQL_EV_TRANSITION_MATRIX = """
WITH s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
c AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
  FROM s WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, event_type, n,
       round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
FROM c
"""


def q_ev_twap(spark, sf):
    """Time-weighted average value per user (TWAP): each event's value
    holds until the user's next event; weight = that holding time in
    seconds.  The standard finance/telemetry aggregate when sampling is
    irregular — a plain avg() over-weights chatty periods (returned
    side-by-side as ``plain_avg`` to make the bias visible).

    Exactness: the timestamp→double cast and the Δt subtraction are
    IEEE-exact; the weighted sums take the repo's round-6 convention for
    float accumulation order.  ``plain_avg`` averages ALL the user's
    events (the weighted sums skip only the final event's NULL Δt via
    null-ignoring aggregates) — averaging the filtered rows instead
    would drop each user's last value and the "bias baseline" could
    itself sit arbitrarily far from avg(value).  100 TB shape: one
    user_id exchange for the lead() window, then pure map-side partial
    aggregation."""
    e = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_d = F.col("ts").cast("double")
    steps = e.select("user_id", "ts", "event_id", "value").withColumn(
        "dt", F.lead(ts_d).over(w) - ts_d
    )
    return (
        steps.groupBy("user_id")
        .agg(
            F.count("dt").alias("n_holds"),
            F.round(
                F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 6
            ).alias("twap"),
            F.round(F.avg("value"), 6).alias("plain_avg"),
        )
        .filter(F.col("n_holds") >= 1)
    )


SQL_EV_TWAP = """
WITH s AS (
  SELECT user_id, value,
         lead(date_part('epoch', ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - date_part('epoch', ts) AS dt
  FROM events
)
SELECT user_id, CAST(count(dt) AS BIGINT) AS n_holds,
       round(sum(value * dt) / sum(dt), 6) AS twap,
       round(avg(value), 6) AS plain_avg
FROM s
GROUP BY user_id
HAVING count(dt) >= 1
"""


def q_drift_psi(spark, sf):
    """Population Stability Index per event_type between a reference
    window (first 15 days) and the current window — the production
    drift monitor for feature/score distributions (PSI > 0.2 ⇒ act).
    The kernel — integer-cent buckets, the full |types| × 10 grid and
    (n+½)/(N+5) smoothing — lives in ``operators/drift.py``.

    100 TB shape: one scan → groupBy (type, bucket) with the two period
    counts as conditional aggregates (map-side combine; output is at most
    |types| × 10 rows); the grid completion and PSI arithmetic run on
    that tiny aggregate — nothing but counts ever shuffles."""
    return psi_from_counts(bucket_counts(_events(spark, sf)))


_PSI_BUCKET_SQL = " + ".join(
    f"CASE WHEN cents >= {b} THEN 1 ELSE 0 END" for b in PSI_BREAKS_CENTS
)

SQL_DRIFT_PSI = f"""
WITH b AS (
  SELECT event_type,
         CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
         (date_part('epoch', ts) >= {PSI_SPLIT_EPOCH}) AS is_cur
  FROM events
),
pb AS (
  SELECT event_type, ({_PSI_BUCKET_SQL}) AS bucket,
         sum(CASE WHEN is_cur THEN 0 ELSE 1 END) AS n_ref,
         sum(CASE WHEN is_cur THEN 1 ELSE 0 END) AS n_cur
  FROM b GROUP BY event_type, ({_PSI_BUCKET_SQL})
),
t AS (
  SELECT event_type, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur
  FROM pb GROUP BY event_type
),
g AS (
  SELECT event_type, t_ref, t_cur,
         unnest([0, 1, 2, 3, 4, 5, 6, 7, 8, 9]) AS bucket
  FROM t
),
f AS (
  SELECT g.event_type, g.t_ref, g.t_cur,
         coalesce(pb.n_ref, 0) AS n_ref, coalesce(pb.n_cur, 0) AS n_cur
  FROM g LEFT JOIN pb
    ON g.event_type = pb.event_type AND g.bucket = pb.bucket
)
SELECT event_type,
       CAST(sum(n_ref) AS BIGINT) AS rows_ref,
       CAST(sum(n_cur) AS BIGINT) AS rows_cur,
       round(sum(((n_cur + 0.5) / (t_cur + 5.0) - (n_ref + 0.5) / (t_ref + 5.0))
                 * (ln((n_cur + 0.5) / (t_cur + 5.0))
                    - ln((n_ref + 0.5) / (t_ref + 5.0)))), 6) AS psi
FROM f
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Wave 5 (r07): audit completion + pipeline observability
# ---------------------------------------------------------------------------


def q_vec_pq_recall(spark, sf):
    """In-engine recall audit for the PQ-ADC family — completes the
    audit set (hamming, IVF, LSH, now PQ): recall@k of the ADC
    candidate pool vs exact cosine top-k at pool depths 4×K / 8×K /
    16×K in ONE query. The measured curve (0.6/0.9/1.0 on the uniform
    test corpus) was previously a docstring claim pinned only by
    tests/test_pq.py; this makes it a continuously-monitorable,
    hash-checked operator like its three siblings — the pool-depth dial
    gets priced in recall terms from a sampled query log."""
    from vector_lake_spark.functions.vectors import (
        cosine_similarity,
        lit_vector,
    )
    from vector_lake_spark.operators.pq import pq_adc_codes_expr

    emb = _t(spark, sf, "embeddings")
    v = to_double_array(F.col("embedding"))
    score = F.round(cosine_similarity(v, lit_vector(QUERY_VEC)), 6)
    exact = (
        emb.select("vec_id", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(K)
    )
    # ONE ADC evaluation + ONE bounded sort: rank the deepest (16×K)
    # pool, then every shallower pool is a rank predicate — the 128-LUT
    # ADC kernel (the expensive expression) runs exactly once, and the
    # three depths fold in a single aggregate (vs 3 unioned subplans:
    # measured 33.5 s → ~2 s at sf0.01).
    deepest = 16 * K
    pool = (
        emb.select(
            "vec_id", pq_adc_codes_expr(EMB_SPARK, QUERY_VEC).alias("adc")
        )
        .orderBy(F.col("adc").desc(), F.col("vec_id"))
        .limit(deepest)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("adc").desc(), F.col("vec_id"))
            ),
        )
    )
    hits = exact.join(pool.select("vec_id", "rank"), "vec_id")
    counts = hits.agg(
        *[
            F.coalesce(
                F.sum((F.col("rank") <= mult * K).cast("long")), F.lit(0)
            ).alias(f"h{mult}")
            for mult in (4, 8, 16)
        ]
    )
    arm = lambda mult: F.struct(  # noqa: E731
        F.lit(mult).cast("long").alias("pool_mult"),
        F.lit(K).cast("long").alias("k"),
        F.col(f"h{mult}").cast("long").alias("n_hits"),
        F.round(F.col(f"h{mult}") / F.lit(K), 6).alias("recall_at_k"),
    )
    return counts.select(
        F.explode(F.array(arm(4), arm(8), arm(16))).alias("s")
    ).select("s.*")


def _sql_vec_pq_recall() -> str:
    from vector_lake_spark.operators.pq import sql_pq_adc

    arms = "\nUNION ALL\n".join(
        f"""SELECT CAST({mult} AS BIGINT) AS pool_mult,
       CAST({K} AS BIGINT) AS k,
       CAST(h{mult} AS BIGINT) AS n_hits,
       round(h{mult} / {K}.0, 6) AS recall_at_k
FROM h"""
        for mult in (4, 8, 16)
    )
    sums = ",\n         ".join(
        f"coalesce(sum(CASE WHEN p.rank <= {mult * K} THEN 1 ELSE 0 END), 0)"
        f" AS h{mult}"
        for mult in (4, 8, 16)
    )
    return f"""
WITH e AS (SELECT vec_id, {EMB} AS v FROM embeddings),
s AS (SELECT vec_id, {sql_pq_adc('v', QUERY_VEC)} AS adc FROM e),
p AS (
  SELECT vec_id, row_number() OVER (ORDER BY adc DESC, vec_id) AS rank
  FROM s ORDER BY adc DESC, vec_id LIMIT {16 * K}
),
exact AS (
  SELECT vec_id FROM e
  ORDER BY round(list_cosine_similarity(v, {QV}), 6) DESC, vec_id
  LIMIT {K}
),
h AS (
  SELECT {sums}
  FROM exact JOIN p USING (vec_id)
)
{arms}
"""


SQL_VEC_PQ_RECALL = _sql_vec_pq_recall()


ZIPF_TOP_N = 50


def q_text_zipf_fit(spark, sf):
    """Vocabulary Zipf-law fit per language — the corpus-health
    diagnostic that catches machine-generated or boilerplate-flooded
    text before training (natural language sits near slope −1 on
    log-freq vs log-rank; spam and template floods flatten or kink the
    curve). One explode → one (lang, token) count → per-lang top-N rank
    window → closed-form OLS (covar_pop/var_pop) — all codegen
    aggregates, shuffled state is one row per (lang, token) then N rows
    per lang. At 100 TB run per shard and compare slopes across
    sources; a source whose slope drifts is the contamination signal."""
    d = _t(spark, sf, "documents")
    tok = d.select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
    freq = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(
        F.col("n").desc(), F.col("tok")
    )
    top = freq.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= ZIPF_TOP_N
    )
    lr = F.log(F.col("rank").cast("double"))
    lf = F.log(F.col("n").cast("double"))
    return (
        top.select("lang", lr.alias("lr"), lf.alias("lf"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(
                F.covar_pop("lr", "lf") / F.var_pop("lr"), 6
            ).alias("zipf_slope"),
            F.round(F.corr("lr", "lf") * F.corr("lr", "lf"), 6).alias(
                "r2"
            ),
        )
        .orderBy("lang")
    )


SQL_TEXT_ZIPF_FIT = f"""
WITH tok AS (
  SELECT lang, unnest({O.sql_tokens('text')}) AS tok FROM documents
),
freq AS (SELECT lang, tok, count(*) AS n FROM tok GROUP BY lang, tok),
top AS (
  SELECT lang, ln(CAST(rank AS DOUBLE)) AS lr, ln(CAST(n AS DOUBLE)) AS lf
  FROM (
    SELECT lang, n,
           row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rank
    FROM freq
  )
  WHERE rank <= {ZIPF_TOP_N}
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(covar_pop(lr, lf) / var_pop(lr), 6) AS zipf_slope,
       round(corr(lr, lf) * corr(lr, lf), 6) AS r2
FROM top
GROUP BY lang
ORDER BY lang
"""


def q_pipe_dedup_report(spark, sf):
    """Pipeline observability: the per-stage survival funnel (ingested →
    exact-dedup keepers → quality-filter keepers) as ONE query — the
    report every curation run ships with so a stage that silently eats
    the corpus is caught by a number, not a vibe. Reuses the exact
    pins of `dedup_exact` (min-id per content fingerprint) and
    `pipe_quality_filter` (pinned logistic weights, rounded score), so
    the funnel is consistent with the standalone stages by
    construction. One scan computes fingerprint + quality; counts fold
    in a single plan (broadcast scalar carry)."""
    from vector_lake_spark.functions.text import fingerprint64

    d = _t(spark, sf, "documents").select("doc_id", "text")
    d = _spread(spark, d, d)
    scored = d.select(
        "doc_id",
        fingerprint64(F.col("text")).alias("fp"),
        quality_prob_expr(F.col("text")).alias("q"),
    )
    w = Window.partitionBy("fp")
    keep = scored.withColumn("min_id", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("min_id")
    )
    stats = keep.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(
            (F.col("q") >= QUALITY_KEEP_THRESHOLD).cast("long")
        ).alias("n_quality"),
    )
    total = scored.agg(F.count(F.lit(1)).alias("n_total"))
    joined = total.join(F.broadcast(stats))
    stage = lambda no, name, n, dropped: F.struct(  # noqa: E731
        F.lit(no).cast("long").alias("stage_no"),
        F.lit(name).alias("stage"),
        n.cast("long").alias("n_docs"),
        dropped.cast("long").alias("n_dropped"),
    )
    return joined.select(
        F.explode(
            F.array(
                stage(0, "ingested", F.col("n_total"), F.lit(0)),
                stage(
                    1,
                    "exact_dedup",
                    F.col("n_exact"),
                    F.col("n_total") - F.col("n_exact"),
                ),
                stage(
                    2,
                    "quality_filter",
                    F.col("n_quality"),
                    F.col("n_exact") - F.col("n_quality"),
                ),
            )
        ).alias("s")
    ).select("s.*")


SQL_PIPE_DEDUP_REPORT = f"""
WITH s AS (
  SELECT doc_id, {O.sql_fingerprint64('text')} AS fp,
         {sql_quality_prob('text')} AS q
  FROM documents
),
k AS (
  SELECT * FROM s
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)
),
c AS (
  SELECT (SELECT count(*) FROM s) AS n_total,
         count(*) AS n_exact,
         sum(CASE WHEN q >= {QUALITY_KEEP_THRESHOLD} THEN 1 ELSE 0 END)
           AS n_quality
  FROM k
)
SELECT CAST(0 AS BIGINT) AS stage_no, 'ingested' AS stage,
       CAST(n_total AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS n_dropped
FROM c
UNION ALL
SELECT CAST(1 AS BIGINT), 'exact_dedup',
       CAST(n_exact AS BIGINT), CAST(n_total - n_exact AS BIGINT)
FROM c
UNION ALL
SELECT CAST(2 AS BIGINT), 'quality_filter',
       CAST(n_quality AS BIGINT), CAST(n_exact - n_quality AS BIGINT)
FROM c
"""


def q_vec_ood_score(spark, sf):
    """Embedding out-of-distribution audit: each vector's distance to
    its OWN label centroid, z-scored within the label, top-20 most
    anomalous. This is the embedding-space quality gate a training
    pipeline runs after every encoder change — mislabeled rows, encoder
    regressions, and corrupt vectors all surface as high z. Plan:
    posexplode → per-(label, dim) mean (640 rows → broadcast) → one
    re-join + per-vector sum of squares → two window aggregates per
    label — no crossJoin, centroids never leave the driver-side
    broadcast, shuffled state is one row per vector."""
    emb = _t(spark, sf, "embeddings")
    dims = emb.select(
        "vec_id", "label",
        F.posexplode(to_double_array(F.col("embedding"))),
    )
    cent = dims.groupBy("label", "pos").agg(F.avg("col").alias("m"))
    dist = (
        dims.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                F.sum((F.col("col") - F.col("m")) * (F.col("col") - F.col("m")))
            ).alias("dist")
        )
    )
    wl = Window.partitionBy("label")
    z = dist.select(
        "vec_id",
        "label",
        F.round(
            (F.col("dist") - F.avg("dist").over(wl))
            / F.stddev_pop("dist").over(wl),
            6,
        ).alias("ood_z"),
    )
    return z.orderBy(F.col("ood_z").desc(), F.col("vec_id")).limit(20)


SQL_VEC_OOD_SCORE = f"""
WITH e AS (
  SELECT vec_id, label, unnest({EMB}) AS val,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
m AS (SELECT label, pos, avg(val) AS m FROM e GROUP BY label, pos),
d AS (
  SELECT e.vec_id, e.label,
         sqrt(sum((e.val - m.m) * (e.val - m.m))) AS dist
  FROM e JOIN m ON e.label = m.label AND e.pos = m.pos
  GROUP BY e.vec_id, e.label
),
z AS (
  SELECT vec_id, label,
         round((dist - avg(dist) OVER (PARTITION BY label))
               / stddev_pop(dist) OVER (PARTITION BY label), 6) AS ood_z
  FROM d
)
SELECT vec_id, label, ood_z FROM z
ORDER BY ood_z DESC, vec_id
LIMIT 20
"""


ROLLING_DAU_DAYS = 7


def q_sketch_rolling_dau(spark, sf):
    """Rolling 7-day distinct users per day served from MERGED per-day
    HLL sketches — the sketch-rollup pattern that makes rolling
    distincts affordable at 100 TB: each day's events are sketched
    once (2^lgK bytes), and every rolling window is a UNION of 7
    sketches instead of a re-scan of 7 days of raw events
    (`hll_union_agg`, mergeability per `sketch_user_overlap`). The
    exact rolling count rides along so the oracle verifies the
    estimate's 5% claim inside the hash — same posture as
    `sketch_distinct_users`. Day fan-out is an explode of 7 ints on
    the per-day AGGREGATES (30 rows at any scale), never on events."""
    ev = _events(spark, sf)
    off = F.explode(
        F.array(*[F.lit(i) for i in range(ROLLING_DAU_DAYS)])
    ).alias("off")
    days = ev.select(_epoch_day(F.col("ts")).alias("t_day")).distinct()
    per_day = (
        ev.select("user_id", _epoch_day(F.col("ts")).alias("day"))
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id", F.lit(SKETCH_LG_K)).alias("sk"))
    )
    est = (
        per_day.select("day", "sk", off)
        .select((F.col("day") + F.col("off")).alias("t_day"), "sk")
        .join(days, "t_day", "left_semi")
        .groupBy("t_day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    ud = ev.select(
        "user_id", _epoch_day(F.col("ts")).alias("day")
    ).distinct()
    exact = (
        ud.select("user_id", "day", off)
        .select("user_id", (F.col("day") + F.col("off")).alias("t_day"))
        .join(days, "t_day", "left_semi")
        .groupBy("t_day")
        .agg(F.countDistinct("user_id").alias("n_users_7d"))
    )
    return exact.join(est, "t_day").select(
        F.col("t_day").cast("long").alias("day"),
        F.col("n_users_7d").cast("long").alias("n_users_7d"),
        (
            F.abs(F.col("est") - F.col("n_users_7d"))
            <= 0.05 * F.col("n_users_7d")
        ).alias("est_within_5pct"),
    )


SQL_SKETCH_ROLLING_DAU = f"""
WITH ud AS (
  SELECT DISTINCT user_id, {O.sql_epoch_day('ts')} AS day FROM events
),
days AS (SELECT DISTINCT day AS t_day FROM ud),
t AS (
  SELECT ud.user_id, ud.day + o.off AS t_day
  FROM ud CROSS JOIN (
    SELECT unnest([{", ".join(str(i) for i in range(ROLLING_DAU_DAYS))}]) AS off
  ) o
)
SELECT CAST(t.t_day AS BIGINT) AS day,
       CAST(count(DISTINCT t.user_id) AS BIGINT) AS n_users_7d,
       TRUE AS est_within_5pct
FROM t
WHERE t.t_day IN (SELECT t_day FROM days)
GROUP BY t.t_day
"""


def q_mm_gif_roundtrip(spark, sf):
    """REAL-codec correctness as an oracle-checked query (r07): build a
    deterministic 2-color striped image per document (geometry and
    colors are closed-form integer arithmetic over doc_id / n_chars),
    push it through the full GIF89a encoder AND decoder (`gif.py` —
    real variable-width LZW, palette build, container walk) inside one
    `map_rows` stage, and emit the DECODED integer channel sums.
    The oracle recomputes the same sums arithmetically, so a green hash
    proves the codec round-trips bit-exactly over the whole table — the
    'decoder agrees with an independent derivation' stance of
    tests/test_interop_fixtures.py, lifted to table scale. All-integer
    outputs: no rounding semantics in play. Reference anchor: the
    multimodal binary-column contract (SURVEY §2.B); payload bytes
    never leave the executors, only (6 ints)/row comes back."""
    from vector_lake_spark.gif import decode_gif_pixels, encode_gif

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") % 13 + 3).cast("int").alias("w"),
        (F.col("doc_id") % 7 + 2).cast("int").alias("h"),
        (F.col("doc_id") % 256).cast("int").alias("ar"),
        ((F.col("doc_id") * 7 + 1) % 256).cast("int").alias("ag"),
        ((F.col("doc_id") * 13 + 2) % 256).cast("int").alias("ab"),
        (F.col("n_chars") % 256).cast("int").alias("br"),
        ((F.col("n_chars") * 3 + 5) % 256).cast("int").alias("bg"),
        ((F.col("n_chars") * 11 + 7) % 256).cast("int").alias("bb"),
    )

    def one(r):
        img = np.empty((r.h, r.w, 3), dtype=np.uint8)
        img[0::2] = (r.ar, r.ag, r.ab)  # even rows: color A
        img[1::2] = (r.br, r.bg, r.bb)  # odd rows: color B
        px = decode_gif_pixels(encode_gif(img)).astype(np.int64)
        yield (
            r.media_id,
            px.shape[1],
            px.shape[0],
            int(px[:, :, 0].sum()),
            int(px[:, :, 1].sum()),
            int(px[:, :, 2].sum()),
        )

    params = _spread(spark, d, params)
    return map_rows(
        params,
        one,
        (
            "media_id long, width int, height int, "
            "sum_r long, sum_g long, sum_b long"
        ),
    )


SQL_MM_GIF_ROUNDTRIP = """
WITH p AS (
  SELECT doc_id AS media_id,
         3 + (n_chars % 13) AS w,
         2 + (doc_id % 7) AS h,
         doc_id % 256 AS ar, (doc_id * 7 + 1) % 256 AS ag,
         (doc_id * 13 + 2) % 256 AS ab,
         n_chars % 256 AS br, (n_chars * 3 + 5) % 256 AS bg,
         (n_chars * 11 + 7) % 256 AS bb
  FROM documents
)
SELECT media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(w * (((h + 1) // 2) * ar + (h // 2) * br) AS BIGINT) AS sum_r,
       CAST(w * (((h + 1) // 2) * ag + (h // 2) * bg) AS BIGINT) AS sum_g,
       CAST(w * (((h + 1) // 2) * ab + (h // 2) * bb) AS BIGINT) AS sum_b
FROM p
"""


# ---------------------------------------------------------------------------
# Wave 6 (r07): exact n-gram decontamination. (Sequence packing, LM
# surprisal scoring and RAG chunking already exist — pipe_pack_sequences,
# text_lm_surprisal, text_chunk_windows; this wave adds the one missing
# table-stakes curation rule.)
# ---------------------------------------------------------------------------

DECON_BENCH_MOD = 7  # doc_id % 7 == 0 stands in for the benchmark set
DECON_BENCH_CAP = 70_000  # eval suites are FIXED-size: cap the slice so
# the benchmark never grows with the corpus (at most 10k docs) — the
# property that makes the gram-set broadcast legitimate at 100 TB. The
# first mult100 measurement (r07) ran WITHOUT the cap: 71k bench docs /
# ~3.5M grams forced into a broadcast hung the run — the exact failure
# the lm_surprisal docstring warns about (corpus-sized broadcast).
DECON_NGRAM = 8  # 8-gram overlap, the classic decontamination window


def q_pipe_decontaminate(spark, sf):
    """Benchmark decontamination by the EXACT-overlap rule (the GPT-3
    appendix-C pattern): flag corpus documents sharing ANY 8-gram with
    the evaluation set — complements `pipe_contamination`, which flags
    by 3-gram Jaccard THRESHOLD (similarity); real pipelines run both
    (hit rule for eval leakage, similarity for paraphrase leakage). The
    'benchmark' is the deterministic doc_id%7 slice standing in for an
    eval suite; grams reuse the dedup family's exact shingle definition
    so Spark and DuckDB agree string-for-string. Scale shape: benchmark
    gram sets are small by construction (eval suites are ~MBs), so the
    gram join BROADCASTS — the 100 TB corpus is scanned once, no
    shuffle of corpus rows; output is only the contaminated doc ids.
    Reference anchor: text-curation capability class (SURVEY §2.B)."""
    from vector_lake_spark.operators.dedup import shingles

    d = _t(spark, sf, "documents")
    # spread before the shingle explode (local-mode single-file artifact,
    # same as pipe_contamination / dedup_ngram_jaccard — SCALE.md); no-op
    # on many-file cluster inputs
    d = _spread(spark, d, d)
    is_bench = (F.col("doc_id") % DECON_BENCH_MOD == 0) & (
        F.col("doc_id") < DECON_BENCH_CAP
    )
    bench_grams = (
        d.filter(is_bench)
        .select(F.explode(shingles(F.col("text"), DECON_NGRAM)).alias("gram"))
        .distinct()
    )
    corpus = d.filter(~is_bench).select(
        "doc_id", F.explode(shingles(F.col("text"), DECON_NGRAM)).alias("gram")
    )
    return (
        corpus.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )


SQL_PIPE_DECONTAMINATE = f"""
WITH bench AS (
  SELECT DISTINCT unnest({O.sql_shingles('text', DECON_NGRAM)}) AS gram
  FROM documents
  WHERE doc_id % {DECON_BENCH_MOD} = 0 AND doc_id < {DECON_BENCH_CAP}
),
corp AS (
  SELECT doc_id, unnest({O.sql_shingles('text', DECON_NGRAM)}) AS gram
  FROM documents
  WHERE NOT (doc_id % {DECON_BENCH_MOD} = 0 AND doc_id < {DECON_BENCH_CAP})
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
FROM corp JOIN bench USING (gram)
GROUP BY doc_id
"""


CMS_DEPTH = 4
CMS_WIDTH = 512


def q_sketch_heavy_hitters(spark, sf):
    """Count-min-sketch heavy hitters — completes the mergeable-sketch
    family (HLL distinct, KLL percentiles, CMS frequency). The CMS is
    built RELATIONALLY: a (depth, bucket) -> count table of
    depth×width = {CMS_DEPTH}×{CMS_WIDTH} rows, so it merges across
    partitions/days by plain addition (the same property the HLL
    entries exploit) and needs no binary sketch format. Hashes are the
    registry's portable md5-prefix `token_hash60`, so Spark and DuckDB
    build the identical table. Scale shape, same as
    `sketch_rolling_dau`: events aggregate to (user, cnt) first (ONE
    exchange over events), the ×{CMS_DEPTH} fan-out explodes on that
    AGGREGATE, and the sketch table is tiny at any corpus size. The
    top-10 exact counts ride along; the hash check verifies both CMS
    arithmetic (est values) and the one-sided guarantee est >= exact on
    every returned row."""
    from vector_lake_spark.functions.text import token_hash60

    e = _events(spark, sf)
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    ).alias("depth")
    bucket = (
        token_hash60(
            F.concat(
                F.col("depth").cast("string"),
                F.lit(":"),
                F.col("user_id").cast("string"),
            )
        )
        % CMS_WIDTH
    ).alias("bucket")
    table = (
        per_user.select("user_id", "cnt", rows)
        .select("depth", bucket, "cnt")
        .groupBy("depth", "bucket")
        .agg(F.sum("cnt").alias("bucket_cnt"))
    )
    top = per_user.orderBy(F.desc("cnt"), "user_id").limit(10)
    probes = top.select("user_id", "cnt", rows).select(
        "user_id", "cnt", "depth", bucket
    )
    est = (
        probes.join(table, ["depth", "bucket"])
        .groupBy("user_id", "cnt")
        .agg(F.min("bucket_cnt").alias("est"))
    )
    return est.select(
        "user_id",
        F.col("cnt").cast("long").alias("n_events"),
        F.col("est").cast("long").alias("cms_estimate"),
        (F.col("est") >= F.col("cnt")).alias("one_sided_ok"),
    )


SQL_SKETCH_HEAVY_HITTERS = f"""
WITH per_user AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
),
fan AS (
  SELECT user_id, cnt, i AS depth,
         {O.sql_token_hash60("concat(i, ':', user_id)")} % {CMS_WIDTH} AS bucket
  FROM per_user, unnest([0, 1, 2, 3]) AS t(i)
),
tab AS (
  SELECT depth, bucket, sum(cnt) AS bucket_cnt
  FROM fan GROUP BY depth, bucket
),
top AS (
  SELECT user_id, cnt FROM per_user ORDER BY cnt DESC, user_id LIMIT 10
),
probes AS (
  SELECT t.user_id, t.cnt, i AS depth,
         {O.sql_token_hash60("concat(i, ':', t.user_id)")} % {CMS_WIDTH} AS bucket
  FROM top t, unnest([0, 1, 2, 3]) AS u(i)
)
SELECT p.user_id,
       CAST(p.cnt AS BIGINT) AS n_events,
       CAST(min(tab.bucket_cnt) AS BIGINT) AS cms_estimate,
       min(tab.bucket_cnt) >= p.cnt AS one_sided_ok
FROM probes p JOIN tab USING (depth, bucket)
GROUP BY p.user_id, p.cnt
"""


def q_mm_media_probe(spark, sf):
    """Container-math correctness at table scale (the `mm_gif_roundtrip`
    stance applied to video): per document, mux a real photo-JPEG MP4
    with doc-derived geometry (n_frames = n_chars%7+2 tiny constant
    frames at fps = doc_id%3+2) inside one `map_rows` stage, run the
    REAL box-walk probe (`mp4.py` — ftyp/moov/stbl sample-table
    resolution) over the bytes, and emit the PROBED integers. The
    oracle recomputes them arithmetically (duration_ms =
    n*1000//fps...), so a green hash proves mux + probe agree with an
    independent derivation over every document — all-integer outputs,
    no rounding semantics. The per-doc JPEG frame is a fixed 8x8
    constant tile (DC-only, quality 100), so the encode cost is
    bounded and the probe, not the codec, is what's under test."""
    from vector_lake_spark.jpeg import encode_jpeg
    from vector_lake_spark.mp4 import encode_mp4_mjpeg, probe_mp4

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") % 7 + 2).cast("int").alias("n_frames"),
        (F.col("doc_id") % 3 + 2).cast("int").alias("fps"),
        (F.col("doc_id") % 200).cast("int").alias("shade"),
    )

    tile_cache: dict = {}

    def one(r):
        if r.shade not in tile_cache:
            tile_cache[r.shade] = encode_jpeg(
                np.full((8, 8), r.shade, dtype=np.uint8), 100
            )
        frame = tile_cache[r.shade]
        payload = encode_mp4_mjpeg([frame] * r.n_frames, r.fps, 8, 8)
        info = probe_mp4(payload)
        t = info["tracks"][0]
        # the probe's resolved per-sample sizes must re-add to
        # exactly n_frames x the encoder's frame length — the
        # stsz/stsc/stco round trip, asserted inside the hash
        sizes_match = (
            sum(s for _, s in t["samples"])
            == len(frame) * r.n_frames
        )
        yield (
            r.media_id,
            t["n_samples"],
            info["duration_ms"],
            t["width"],
            t["height"],
            bool(sizes_match),
        )

    params = _spread(spark, d, params)
    return map_rows(
        params,
        one,
        (
            "media_id long, n_frames long, duration_ms long, width int, "
            "height int, sizes_match boolean"
        ),
    )


SQL_MM_MEDIA_PROBE = """
WITH p AS (
  SELECT doc_id AS media_id,
         (n_chars % 7) + 2 AS n_frames,
         (doc_id % 3) + 2 AS fps
  FROM documents
)
SELECT media_id,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(n_frames * 1000 // fps AS BIGINT) AS duration_ms,
       CAST(8 AS INT) AS width,
       CAST(8 AS INT) AS height,
       TRUE AS sizes_match
FROM p
"""


def q_mm_container_probe(spark, sf):
    """All three container probes under ONE oracle gate (r07 verdict #2
    — `mm_media_probe` hash-checked MP4 only; `probe_avi` and the EBML
    walk were unit-tested but never driver-checked at table scale). Per
    document, doc_id%3 picks the container (AVI / MP4 / Matroska), a
    real muxer assembles doc-derived geometry around one cached 8x8
    JPEG tile, and the UNIFIED `probe_media` operator — the actual
    route/filter/budget pass of the media pipeline — walks the bytes.
    The oracle recomputes every probed integer arithmetically, so a
    green hash proves RIFF, ISO-BMFF and EBML mux+probe each agree
    with an independent derivation, plus `probe_media`'s container
    naming, codec naming and decodability routing. r10 widens the
    Matroska leg with a lacing factor ((doc_id//3)%4: un-laced, Xiph,
    EBML, fixed — all frames in ONE laced SimpleBlock): the probed
    integers are unchanged BY SPEC, so the same oracle hash now also
    proves the lace-count frame arithmetic (a laced block counted as
    one frame would shift n_frames and duration and go red)."""
    from vector_lake_spark.avi import encode_avi_mjpeg
    from vector_lake_spark.jpeg import encode_jpeg
    from vector_lake_spark.mkv import encode_mkv_mjpeg
    from vector_lake_spark.mp4 import encode_mp4_mjpeg
    from vector_lake_spark.multimodal import probe_media

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") % 6 + 2).cast("int").alias("n_frames"),
        (F.col("doc_id") % 3 + 2).cast("int").alias("fps"),
        (F.col("doc_id") % 200).cast("int").alias("shade"),
        (F.col("doc_id") % 3).cast("int").alias("kind"),
        ((F.col("doc_id") / 3).cast("long") % 4).cast("int").alias("lace"),
    )

    muxers = [encode_avi_mjpeg, encode_mp4_mjpeg, encode_mkv_mjpeg]
    lacings = (None, "xiph", "ebml", "fixed")
    tile_cache: dict = {}

    def mux(r):
        if r.shade not in tile_cache:
            tile_cache[r.shade] = encode_jpeg(
                np.full((8, 8), r.shade, dtype=np.uint8), 100
            )
        frame = tile_cache[r.shade]
        if r.kind == 2:
            payload = encode_mkv_mjpeg(
                [frame] * r.n_frames, r.fps, 8, 8,
                lacing=lacings[r.lace],
            )
        else:
            payload = muxers[r.kind](
                [frame] * r.n_frames, r.fps, 8, 8
            )
        yield r.media_id, payload

    params = _spread(spark, d, params)
    media = map_rows(params, mux, "media_id long, payload binary")
    return probe_media(media)


SQL_MM_CONTAINER_PROBE = """
WITH p AS (
  SELECT doc_id AS media_id,
         (n_chars % 6) + 2 AS n_frames,
         (doc_id % 3) + 2 AS fps,
         doc_id % 3 AS kind
  FROM documents
)
SELECT media_id,
       CASE kind WHEN 0 THEN 'avi' WHEN 1 THEN 'mp4'
                 ELSE 'matroska' END AS container,
       CASE kind WHEN 0 THEN 'MJPG' WHEN 1 THEN 'jpeg'
                 ELSE 'V_MJPEG' END AS codec,
       CAST(8 AS INT) AS width,
       CAST(8 AS INT) AS height,
       CAST(n_frames * 1000 // fps AS BIGINT) AS duration_ms,
       CAST(n_frames AS BIGINT) AS n_frames,
       -- all three containers decode since late r09: MJPEG-in-AVI,
       -- photo-JPEG-in-MP4 and V_MJPEG-in-Matroska are all intraframe
       TRUE AS decodable
FROM p
"""


def q_mm_webp_probe(spark, sf):
    """WebP header math under the oracle gate (r07 verdict #5): per
    document, doc_id%3 picks the variant (lossy VP8 / lossless VP8L /
    extended VP8X), the RIFF container and variant header bytes are
    assembled per the public spec layouts with doc-derived dimensions
    and flags, and the REAL `probe_webp` walks them back out. A green
    hash proves the 14-bit packed VP8L fields, the VP8 start-code +
    uint16 dims, and the VP8X 24-bit canvas fields each invert exactly
    — and pins the image gate's WebP naming behavior at table scale."""
    from vector_lake_spark.webp import probe_webp

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        ((F.col("doc_id") % 300) + 17).cast("int").alias("w"),
        ((F.col("n_chars") % 200) + 9).cast("int").alias("h"),
        (F.col("doc_id") % 2 == 0).alias("alpha"),
        (F.col("n_chars") % 2 == 0).alias("anim"),
        (F.col("doc_id") % 3).cast("int").alias("kind"),
    )

    import struct

    def riff(fourcc: bytes, chunk: bytes) -> bytes:
        if len(chunk) % 2:
            chunk += b"\x00"
        body = b"WEBP" + fourcc + struct.pack("<I", len(chunk)) + chunk
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def one(r):
        if r.kind == 0:  # VP8: frame tag, start code, 14-bit dims
            chunk = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack(
                "<HH", r.w, r.h
            )
        elif r.kind == 1:  # VP8L: sig + packed LSB-first fields
            bits = (
                (r.w - 1)
                | ((r.h - 1) << 14)
                | (int(r.alpha) << 28)
            )
            chunk = b"\x2f" + struct.pack("<I", bits)
        else:  # VP8X: flags byte + 24-bit canvas dims
            flags = (0x10 if r.alpha else 0) | (0x02 if r.anim else 0)
            chunk = (
                bytes([flags])
                + b"\x00\x00\x00"
                + (r.w - 1).to_bytes(3, "little")
                + (r.h - 1).to_bytes(3, "little")
            )
            # 10-byte body; probe requires >= 10 after the header
        info = probe_webp(riff([b"VP8 ", b"VP8L", b"VP8X"][r.kind], chunk))
        yield (
            r.media_id,
            info["format"],
            info["width"],
            info["height"],
            info["has_alpha"],
            info["animated"],
        )

    params = _spread(spark, d, params)
    return map_rows(
        params,
        one,
        (
            "media_id long, format string, width int, height int, "
            "has_alpha boolean, animated boolean"
        ),
    )


SQL_MM_WEBP_PROBE = """
WITH p AS (
  SELECT doc_id AS media_id,
         CAST((doc_id % 300) + 17 AS INT) AS w,
         CAST((n_chars % 200) + 9 AS INT) AS h,
         doc_id % 2 = 0 AS alpha,
         n_chars % 2 = 0 AS anim,
         doc_id % 3 AS kind
  FROM documents
)
SELECT media_id,
       CASE kind WHEN 0 THEN 'vp8' WHEN 1 THEN 'vp8l'
                 ELSE 'vp8x' END AS format,
       w AS width,
       h AS height,
       CASE kind WHEN 0 THEN FALSE ELSE alpha END AS has_alpha,
       CASE kind WHEN 2 THEN anim ELSE FALSE END AS animated
FROM p
"""


def q_mm_webp_roundtrip(spark, sf):
    """Lossless-WebP codec correctness at table scale (the
    `mm_gif_roundtrip` stance applied to the r08 VP8L codec): per
    document, build a doc-derived gradient pixel[y,x,c] = a + y + x + c
    (all values < 256 by construction, so its total has a CLOSED FORM),
    encode it as a real VP8L WebP — even docs take the color-indexing
    path (the gradient has h+w-1 <= 256 colors), odd docs are forced
    down the subtract-green literal path, so BOTH encoder pipelines and
    their decoder inverses are under the hash — decode the file back,
    and emit the decoded dimensions and pixel sum. The oracle
    recomputes sum = 3wh*a + 3w*h(h-1)/2 + 3h*w(w-1)/2 + 3wh
    arithmetically, so a green hash proves encode+decode invert exactly
    over every document with an independent derivation of the result."""
    from vector_lake_spark.vp8l import decode_webp_pixels, encode_webp_lossless

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 13 + 4).cast("int").alias("w"),
        (F.col("n_chars") % 11 + 3).cast("int").alias("h"),
        (F.col("doc_id") % 180).cast("int").alias("base"),
        (F.col("doc_id") % 2 == 0).alias("palette"),
    )

    def one(r):
        y = np.arange(r.h)[:, None, None]
        x = np.arange(r.w)[None, :, None]
        c = np.arange(3)[None, None, :]
        px = (r.base + y + x + c).astype(np.uint8)
        f = encode_webp_lossless(
            px, use_palette=(True if r.palette else False)
        )
        out = decode_webp_pixels(f)
        dec = out["pixels"]
        yield (
            r.media_id,
            out["width"],
            out["height"],
            int(dec[:, :, :3].astype(np.int64).sum()),
            bool(
                not out["has_alpha"]
                and (dec[:, :, 3] == 255).all()
            ),
        )

    params = _spread(spark, d, params)
    return map_rows(
        params,
        one,
        (
            "media_id long, width int, height int, pix_sum long, "
            "alpha_ok boolean"
        ),
    )


SQL_MM_WEBP_ROUNDTRIP = """
WITH p AS (
  SELECT doc_id AS media_id,
         (doc_id % 13) + 4 AS w,
         (n_chars % 11) + 3 AS h,
         doc_id % 180 AS base
  FROM documents
)
SELECT media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(3 * w * h * base
            + 3 * w * (h * (h - 1) // 2)
            + 3 * h * (w * (w - 1) // 2)
            + 3 * w * h AS BIGINT) AS pix_sum,
       TRUE AS alpha_ok
FROM p
"""


def q_mm_wav_depths(spark, sf):
    """Every WAV sample format under the oracle gate: the four integer
    PCM widths (r08 closed the sub-16-bit gate), and — late r09 — the
    formats the stdlib `wave` module refuses: G.711 μ-law and A-law
    (`g711.py`, cross-checked bit-exact against stdlib `audioop` over
    the complete code/sample domain) and IEEE float 32/64, through the
    manual RIFF walk (`multimodal._decode_wav_ext_samples`) — and, r10, BOTH
    common ADPCM families (`adpcm.py`: IMA/DVI tag 0x0011 and MS tag
    0x0002). Per document,
    doc_id%10 picks the mode; a ±amp square wave is muxed and the REAL
    `audio_stats` reads it back, the emitted codec string coming from
    the decoder, not the parameters. Amplitude choices keep every RMS
    closed-form: integer modes scale past 16 bits (proving the wide
    paths), the companded modes sit on EXACT G.711 decode levels
    (doc-derived segment/mantissa — levels re-encode to their own code,
    so the round trip is lossless and the oracle recomputes the level
    formula), floats use base_amp/64 (exact in float32 and at 6-decimal
    rounding). A square wave's RMS is exactly its amplitude, so a green
    hash proves bias handling, sign-extension, both companders and both
    float widths all invert the writer at table scale. The ADPCM modes
    craft their nibble streams directly in each codec's exact-decode
    regime (IMA: ±1 deltas at step index 0; MS: ±16 deltas at the
    pinned delta floor with coefficient pair 0), so the reconstructed
    triangles and their RMS are closed-form even though the codecs are
    lossy in general; the fact-chunk trim of padded final blocks is
    part of what the hash proves."""
    from vector_lake_spark.multimodal import audio_stats, encode_wav_ext

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 10).cast("int").alias("mode"),
        (F.col("doc_id") % 100 + 1).cast("int").alias("base_amp"),
        ((F.col("doc_id") / 8).cast("long") % 8).cast("int").alias("seg"),
        (F.col("n_chars") % 16).cast("int").alias("quant"),
        ((F.col("n_chars") % 50 + 10) * 2).cast("int").alias("n_samples"),
    )
    params = _spread(spark, d, params)

    import io
    import wave

    from vector_lake_spark.g711 import alaw_level, ulaw_level

    def one(r):
        if r.mode < 4:  # integer PCM, width-scaled amplitude
            width = r.mode + 1
            amp = r.base_amp << (8 * (r.mode))
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(width)
                w.setframerate(8000)
                frames = bytearray()
                for i in range(r.n_samples):
                    s = amp if i % 2 == 0 else -amp
                    if width == 1:
                        frames += bytes([(s + 128) & 0xFF])
                    else:
                        frames += int(s).to_bytes(
                            width, "little", signed=True
                        )
                w.writeframes(bytes(frames))
            payload = buf.getvalue()
            bits = width * 8
        elif r.mode == 4:  # mu-law at an exact decode level
            amp = ulaw_level(r.seg, r.quant)
            sq = np.where(
                np.arange(r.n_samples) % 2 == 0, amp, -amp
            ).astype(np.int16)
            payload = encode_wav_ext(sq, 8000, "ulaw")
            bits = 8
        elif r.mode == 5:  # A-law at an exact decode level
            amp = alaw_level(r.seg, r.quant)
            sq = np.where(
                np.arange(r.n_samples) % 2 == 0, amp, -amp
            ).astype(np.int16)
            payload = encode_wav_ext(sq, 8000, "alaw")
            bits = 8
        elif r.mode in (6, 7):  # IEEE float 32/64
            famp = r.base_amp / 64.0
            sq = np.where(
                np.arange(r.n_samples) % 2 == 0, famp, -famp
            )
            fmt = "float32" if r.mode == 6 else "float64"
            payload = encode_wav_ext(sq, 8000, fmt)
            bits = 32 if r.mode == 6 else 64
        elif r.mode == 8:  # IMA ADPCM triangle, crafted nibbles
            import struct as _st

            from vector_lake_spark.adpcm import mux_ima_adpcm_wav

            P = r.base_amp * 16
            n = r.n_samples
            u = (n - 1) // 2
            dn = n - 1 - u
            n_nib = ((n - 1 + 7) // 8) * 8
            nibs = [1] * u + [9] * dn + [0] * (n_nib - (n - 1))
            packed = bytes(
                nibs[i] | (nibs[i + 1] << 4)
                for i in range(0, n_nib, 2)
            )
            block = _st.pack("<hBB", P, 0, 0) + packed
            payload = mux_ima_adpcm_wav(
                block, 8000, 1, 4 + n_nib // 2, n
            )
            bits = 4
        else:  # mode 9: MS ADPCM triangle at the delta floor
            import struct as _st

            from vector_lake_spark.adpcm import mux_ms_adpcm_wav

            P = r.base_amp * 16
            n = r.n_samples  # always even: u == dn below
            u = (n - 2) // 2
            # high nibble first; +16 climb then -16 descent
            nibs = [1] * u + [15] * u
            packed = bytes(
                (nibs[i] << 4) | nibs[i + 1]
                for i in range(0, len(nibs), 2)
            )
            block = (
                bytes([0])  # coefficient pair 0
                + _st.pack("<h", 16)  # delta at the floor
                + _st.pack("<h", P)  # s1
                + _st.pack("<h", P)  # s2
                + packed
            )
            payload = mux_ms_adpcm_wav(
                block, 8000, 1, 7 + len(packed), n
            )
            bits = 4
        out = audio_stats(payload)
        yield (
            r.media_id,
            out["codec"],
            bits,
            out["n_samples"],
            out["duration_ms"],
            out["rms"],
        )

    return map_rows(
        params,
        one,
        (
            "media_id long, codec string, bits int, n_samples long, "
            "duration_ms long, rms double"
        ),
    )


SQL_MM_WAV_DEPTHS = """
WITH p AS (
  SELECT doc_id AS media_id,
         doc_id % 10 AS mode,
         (doc_id % 100) + 1 AS base_amp,
         (doc_id // 8) % 8 AS seg,
         n_chars % 16 AS quant,
         ((n_chars % 50) + 10) * 2 AS n
  FROM documents
),
t AS (
  -- IMA ADPCM triangle (mode 8): predictor P, (n-1)//2 +1 steps then
  -- -1 steps; MS ADPCM triangle (mode 9): two verbatim P samples then
  -- (n-2)/2 +16 steps and as many -16 steps (n is always even).
  -- Sums of squares via S2(x) = x(x+1)(2x+1)/6 piecewise
  SELECT *,
         base_amp * 16 AS P,
         (n - 1) // 2 AS u,
         n - 1 - (n - 1) // 2 AS dn,
         (n - 2) // 2 AS mu
  FROM p
),
t2 AS (
  SELECT *,
         ((P+u)*(P+u+1)*(2*(P+u)+1)) // 6
           - ((P-1)*P*(2*(P-1)+1)) // 6
           + ((P+u-1)*(P+u)*(2*(P+u-1)+1)) // 6
           - ((P+u-dn-1)*(P+u-dn)*(2*(P+u-dn-1)+1)) // 6 AS ss,
         (2 + 2*mu)*P*P + 32*P*mu*mu
           + 256*((mu*(mu+1)*(2*mu+1)) // 6
                  + ((mu-1)*mu*(2*mu-1)) // 6) AS ss_ms
  FROM t
)
SELECT media_id,
       CASE WHEN mode < 4 THEN 'pcm'
            WHEN mode = 4 THEN 'ulaw'
            WHEN mode = 5 THEN 'alaw'
            WHEN mode = 6 THEN 'float32'
            WHEN mode = 7 THEN 'float64'
            WHEN mode = 8 THEN 'ima_adpcm'
            ELSE 'ms_adpcm' END AS codec,
       CAST(CASE WHEN mode < 4 THEN (mode + 1) * 8
                 WHEN mode < 6 THEN 8
                 WHEN mode = 6 THEN 32
                 WHEN mode = 7 THEN 64
                 ELSE 4 END AS INT) AS bits,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(CASE
            WHEN mode < 4 THEN base_amp * (2 ** (8 * mode))
            -- G.711 exact decode levels: the compander round-trips them
            WHEN mode = 4 THEN ((quant * 8 + 132) << seg) - 132
            WHEN mode = 5 THEN CASE WHEN seg = 0 THEN quant * 16 + 8
                 ELSE (quant * 16 + 264) << (seg - 1) END
            WHEN mode < 8 THEN base_amp / 64.0
            WHEN mode = 8 THEN round(sqrt(CAST(ss AS DOUBLE) / n), 6)
            ELSE round(sqrt(CAST(ss_ms AS DOUBLE) / n), 6)
            END AS DOUBLE) AS rms
FROM t2
"""


def q_mm_webp_anim(spark, sf):
    """Animated-WebP composition under the oracle gate (r08): per
    document, mux a real 2-frame VP8X/ANIM/ANMF animation — a solid
    8x8 base frame, then a doc-derived 4x4 patch at (2, 4) with
    OVERWRITE blending — through the real VP8L encoder, compose it
    back with `decode_webp_frames`, and emit the final canvas's exact
    per-channel sums plus the probed frame count and loop count. The
    oracle recomputes the sums arithmetically (48 base + 16 patch
    pixels), so a green hash proves mux, per-frame VP8L decode, ANMF
    placement and canvas composition all agree with an independent
    derivation over every document. Overwrite blending keeps the
    arithmetic integer-exact; fractional alpha blending is pinned by
    unit tests (tests/test_webp.py)."""
    from vector_lake_spark.webp import decode_webp_frames, encode_webp_animation

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 200).cast("int").alias("base"),
        ((F.col("doc_id") * 7 + 3) % 200).cast("int").alias("patch"),
        (F.col("n_chars") % 5).cast("int").alias("loop"),
    )
    params = _spread(spark, d, params)

    def one(r):
        f0 = np.zeros((8, 8, 4), dtype=np.uint8)
        f0[:, :, :3] = r.base
        f0[:, :, 3] = 255
        f1 = np.zeros((4, 4, 4), dtype=np.uint8)
        f1[:, :, :3] = r.patch
        f1[:, :, 3] = 255
        payload = encode_webp_animation(
            [f0, f1],
            [40, 60],
            offsets=[(0, 0), (2, 4)],
            blends=[False, False],
            loop=int(r.loop),
        )
        meta, frames = decode_webp_frames(payload, [1])
        canvas = frames[0][1].astype(np.int64)
        yield (
            r.media_id,
            meta["n_frames"],
            meta["loop_count"],
            int(canvas[:, :, :3].sum()),
            int(canvas[:, :, 3].sum()),
        )

    return map_rows(
        params,
        one,
        (
            "media_id long, n_frames int, loop_count int, rgb_sum long, "
            "alpha_sum long"
        ),
    )


SQL_MM_WEBP_ANIM = """
WITH p AS (
  SELECT doc_id AS media_id,
         doc_id % 200 AS base,
         (doc_id * 7 + 3) % 200 AS patch,
         n_chars % 5 AS lp
  FROM documents
)
SELECT media_id,
       CAST(2 AS INT) AS n_frames,
       CAST(lp AS INT) AS loop_count,
       CAST(3 * (48 * base + 16 * patch) AS BIGINT) AS rgb_sum,
       CAST(64 * 255 AS BIGINT) AS alpha_sum
FROM p
"""


def q_mm_flac_roundtrip(spark, sf):
    """FLAC codec correctness at table scale (r08 — the audio leg of
    the `mm_gif_roundtrip` stance): per document, a ±amp square wave
    with doc-derived amplitude, length and channel count (mono or
    stereo) goes through the REAL FLAC encoder (FIXED predictors +
    Rice residuals, `flac.py`) and back through the full frame/CRC/
    residual decoder via the one audio stats entry (`audio_stats`).
    A square wave's RMS is exactly its amplitude, so every output has
    a closed form; a green hash proves encode+decode invert exactly —
    predictors, Rice coding, frame CRCs and STREAMINFO — over every
    document with an independent derivation of the result."""
    from vector_lake_spark.flac import encode_flac
    from vector_lake_spark.multimodal import audio_stats

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 30000 + 1).cast("int").alias("amp"),
        ((F.col("n_chars") % 50 + 10) * 2).cast("int").alias("n"),
        (F.col("doc_id") % 2 + 1).cast("int").alias("ch"),
    )
    params = _spread(spark, d, params)

    def one(r):
        wave = np.where(
            np.arange(r.n) % 2 == 0, r.amp, -r.amp
        ).astype(np.int64)
        s = np.repeat(wave[:, None], r.ch, axis=1)
        out = audio_stats(encode_flac(s, 8000, 16))
        yield (
            r.media_id,
            out["sample_rate"],
            out["n_channels"],
            out["n_samples"],
            out["duration_ms"],
            out["rms"],
        )

    return map_rows(
        params,
        one,
        (
            "media_id long, sample_rate int, n_channels int, "
            "n_samples long, duration_ms long, rms double"
        ),
    )


SQL_MM_FLAC_ROUNDTRIP = """
WITH p AS (
  SELECT doc_id AS media_id,
         (doc_id % 30000) + 1 AS amp,
         ((n_chars % 50) + 10) * 2 AS n,
         (doc_id % 2) + 1 AS ch
  FROM documents
)
SELECT media_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(ch AS INT) AS n_channels,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(amp AS DOUBLE) AS rms
FROM p
"""


def q_pipe_warc_extract(spark, sf):
    """WARC ingestion under the oracle gate (r08): per document, write
    a REAL member-gzipped WARC (the Common Crawl layout — one gzip
    member per record, `sources/warc.py`) holding an HTTP response
    record plus a warcinfo record with doc-derived contents, then
    explode it back through `extract_warc_records` — gzip member walk,
    record grammar, Content-Length framing, HTTP status/header/body
    split, charset decode. The oracle recomputes every extracted field
    from the documents table, so a green hash proves the writer and
    the ingestion path agree with an independent derivation — the
    crawl-front-door equivalent of the codec round-trip entries."""
    from vector_lake_spark.sources.warc import encode_warc, extract_warc_records

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text"),
        (F.col("doc_id") % 3).cast("int").alias("k"),
        (F.col("doc_id") % 7).cast("int").alias("crawler"),
    )
    params = _spread(spark, d, params)

    statuses = [200, 301, 404]

    def mux(r):
        blob = encode_warc(
            [
                {
                    "warc_type": "response",
                    "url": f"http://example.com/doc/{r.media_id}",
                    "http_status": statuses[r.k],
                    "http_headers": {
                        "content-type": "text/plain; charset=utf-8"
                    },
                    "body": r.text,
                    "mime": "application/http; msgtype=response",
                },
                {
                    "warc_type": "warcinfo",
                    "mime": "application/warc-fields",
                    "body": f"software: crawler-{r.crawler}",
                },
            ]
        )
        yield r.media_id, blob

    blobs = map_rows(params, mux, "media_id long, payload binary")
    recs = extract_warc_records(blobs)
    return recs.select(
        "media_id", "record_index", "warc_type", "url", "http_status",
        "mime", "body",
    )


SQL_PIPE_WARC_EXTRACT = """
SELECT doc_id AS media_id,
       CAST(0 AS INT) AS record_index,
       'response' AS warc_type,
       'http://example.com/doc/' || doc_id AS url,
       CAST(CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 301
            ELSE 404 END AS INT) AS http_status,
       'text/plain; charset=utf-8' AS mime,
       text AS body
FROM documents
UNION ALL
SELECT doc_id AS media_id,
       CAST(1 AS INT) AS record_index,
       'warcinfo' AS warc_type,
       NULL AS url,
       CAST(NULL AS INT) AS http_status,
       'application/warc-fields' AS mime,
       'software: crawler-' || (doc_id % 7) AS body
FROM documents
"""


def q_text_html_extract(spark, sf):
    """HTML boilerplate removal under the oracle gate (r08): per
    document, wrap the text in a realistic page — title, <style> and
    <script> subtrees that MUST be dropped (the script even contains a
    '<' to exercise CDATA handling), an HTML entity that must
    unescape, a <noscript> block that must vanish — then run the real
    `htmltext.html_to_text` extraction. The oracle recomputes title
    and flattened text from the raw columns, so a green hash proves
    skip-subtree handling, entity decoding, block-tag line breaks and
    whitespace normalization all invert the page construction exactly
    over every document."""
    from vector_lake_spark.htmltext import html_extract

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text"),
        F.col("n_chars"),
    )
    params = _spread(spark, d, params)

    def one(r):
        page = (
            f"<html><head><title>Doc  {r.media_id}</title>"
            f"<style>p {{ color: red }}</style></head><body>"
            f"<script>if (1<2) {{ trackPage({r.media_id}); }}"
            f"</script><h1>Doc &amp; {r.media_id}</h1>"
            f"<p>{r.text}</p>"
            f"<noscript>enable javascript</noscript>"
            f"<div>chars: {r.n_chars}</div></body></html>"
        )
        text, title = html_extract(page)  # ONE parser pass
        flat = text.replace("\n", " ")
        yield r.media_id, title, flat, len(flat)

    return map_rows(
        params,
        one,
        "media_id long, title string, flat_text string, n_clean long",
    )


SQL_TEXT_HTML_EXTRACT = """
WITH p AS (
  SELECT doc_id AS media_id,
         trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t,
         n_chars
  FROM documents
)
SELECT media_id,
       'Doc ' || media_id AS title,
       'Doc ' || media_id || ' Doc & ' || media_id || ' ' || t
           || ' chars: ' || n_chars AS flat_text,
       CAST(length('Doc ' || media_id || ' Doc & ' || media_id || ' ' || t
           || ' chars: ' || n_chars) AS BIGINT) AS n_clean
FROM p
"""


def q_mm_tiff_roundtrip(spark, sf):
    """TIFF codec correctness at table scale (the `mm_webp_roundtrip`
    stance applied to the codec + the r09 tiled/16-bit/palette surface,
    widened by the r09 wave-2 gate closes — deflate, 1/2/4-bit,
    MinIsWhite, planar): per document, build a doc-derived gradient
    whose total has a CLOSED FORM, encode it as a real TIFF sweeping
    the codec matrix over INDEPENDENT doc_id bit-fields — bit 0 picks
    striped vs 16×16 TILED layout (w∈[20,42], h∈[18,34]: nearly every
    tiled doc has a ragged edge exercising pad-then-crop), bits 1..3
    pick the pixel mode: gray8 / RGB8 / gray16 / RGB16 / PALETTE
    (8-bit indices through a doc-derived 16-bit ColorMap whose channels
    are LINEAR in the index, so the looked-up sum stays closed-form) /
    1-bit MinIsWhite parity page (photometric 0: samples stored
    inverted, decode re-inverts; THIS mode's compression axis sweeps
    the CCITT fax schemes — MH byte-aligned rows / G3 1-D / G4 MMR —
    with PackBits as its tiled representative) / 2-bit / 4-bit
    packed-sample pages,
    bits 4..5 pick none/PackBits/LZW/Deflate, n_chars%2 toggles the
    horizontal-differencing predictor on the whole-byte modes
    (restarting per tile row on the tiled path; mod-65536 on the
    16-bit paths), and n_chars%3==0 flips the RGB modes to
    PlanarConfiguration 2 (plane-major block tables, 3× the tile
    count) — probe it (compression name, predictor tag, planar flag,
    tile count, bits/sample, photometric come from the IFD walk, no
    pixels read), decode it back, and emit dims + channel count +
    pixel sum. The oracle recomputes everything arithmetically, so a
    green hash proves encode → probe → decode invert exactly over
    every document and every cell of the matrix (the reference has no
    codecs; SURVEY §2.B multimodal rows)."""
    from vector_lake_spark.tiff import (
        decode_tiff_pixels,
        encode_tiff,
        probe_tiff,
    )

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 23 + 20).cast("int").alias("w"),
        (F.col("n_chars") % 17 + 18).cast("int").alias("h"),
        (F.col("doc_id") % 170).cast("int").alias("base"),
        F.expr("CAST((doc_id div 2) % 8 AS INT)").alias("m"),
        F.expr("CAST((doc_id div 16) % 4 AS INT)").alias("k"),
        (F.col("doc_id") % 2 == 0).alias("tiled"),
        (F.col("n_chars") % 2 == 0).alias("pred"),
        (F.col("n_chars") % 3 == 0).alias("plv"),
    )
    comps = ["none", "packbits", "lzw", "deflate"]

    def one(r):
        y = np.arange(r.h)[:, None, None]
        x = np.arange(r.w)[None, :, None]
        c3 = np.arange(3)[None, None, :]
        cmap = None
        bit_depth = None
        miw = False
        if r.m == 0:  # gray8: base + y + x < 256
            px = (r.base + y + x)[:, :, 0].astype(np.uint8)
        elif r.m == 1:  # rgb8
            px = (r.base + y + x + c3).astype(np.uint8)
        elif r.m == 2:  # gray16: 251*base + 7y + 3x < 65536
            px = (251 * r.base + 7 * y + 3 * x)[:, :, 0].astype(
                np.uint16
            )
        elif r.m == 3:  # rgb16
            px = (251 * r.base + 7 * y + 3 * x + 5 * c3).astype(
                np.uint16
            )
        elif r.m == 4:  # palette: idx = y + x (< 256), linear map
            px = (y + x)[:, :, 0].astype(np.uint8)
            i = np.arange(r.h + r.w - 1)
            cmap = np.stack(
                [
                    100 * r.base + 257 * i,
                    50000 - 123 * i,
                    13 * i + 999,
                ],
                axis=1,
            ).astype(np.uint16)
        elif r.m == 5:  # 1-bit MinIsWhite parity page
            px = ((r.base + y + x) & 1)[:, :, 0].astype(np.uint8)
            bit_depth, miw = 1, True
        elif r.m == 6:  # 2-bit: 2*(y%2) + x%2
            px = (2 * (y % 2) + (x % 2))[:, :, 0].astype(np.uint8)
            bit_depth = 2
        else:  # 4-bit: 4*(y%4) + x%4
            px = (4 * (y % 4) + (x % 4))[:, :, 0].astype(np.uint8)
            bit_depth = 4
        comp = comps[r.k]
        ts = 16 if r.tiled else None
        if r.m == 5:
            # the bilevel mode sweeps the CCITT fax schemes
            # (striped per spec) with PackBits as the k=3 tiled
            # representative; the otherwise-inert predictor
            # flag splits G3 between 1-D and T.4 2-D (late r09)
            comp = ("ccitt-rle", "g3", "g4", "packbits")[r.k]
            if r.k == 1 and r.pred:
                comp = "g3-2d"
            if r.k != 3:
                ts = None
        f = encode_tiff(
            px,
            compression=comp,
            predictor=bool(r.pred) and r.m < 5,
            tile_size=ts,
            colormap=cmap,
            bit_depth=bit_depth,
            min_is_white=miw,
            planar=bool(r.plv) and r.m in (1, 3),
        )
        info = probe_tiff(f)["pages"][0]
        dec = decode_tiff_pixels(f)
        yield (
            r.media_id,
            dec.shape[1],
            dec.shape[0],
            dec.shape[2],
            int(info["bits_per_sample"][0]),
            int(info["photometric"]),
            info["compression"],
            info["predictor"] == 2,
            bool(info["planar"]),
            info["n_tiles"],
            int(dec.astype(np.int64).sum()),
        )

    params = _spread(spark, d, params)
    return map_rows(
        params,
        one,
        (
            "media_id long, width int, height int, channels int, "
            "bits int, photometric int, compression string, "
            "predictor boolean, planar boolean, n_tiles int, pix_sum long"
        ),
    )


SQL_MM_TIFF_ROUNDTRIP = """
WITH p AS (
  SELECT doc_id AS media_id,
         (doc_id % 23) + 20 AS w,
         (n_chars % 17) + 18 AS h,
         doc_id % 170 AS base,
         (doc_id // 2) % 8 AS m,
         (doc_id // 16) % 4 AS k,
         doc_id % 2 = 0 AS tiled,
         n_chars % 2 = 0 AS pred,
         n_chars % 3 = 0 AS plv
  FROM documents
),
s AS (
  SELECT *,
         h * (h - 1) // 2 AS sy,
         w * (w - 1) // 2 AS sx,
         -- rows of the 1-bit parity page whose (base+y) is even
         CASE WHEN base % 2 = 0 THEN (h + 1) // 2 ELSE h // 2 END AS ev,
         plv AND m IN (1, 3) AS planar
  FROM p
)
SELECT media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(CASE WHEN m IN (1, 3, 4) THEN 3 ELSE 1 END AS INT) AS channels,
       CAST(CASE WHEN m IN (2, 3) THEN 16
                 WHEN m = 5 THEN 1 WHEN m = 6 THEN 2 WHEN m = 7 THEN 4
                 ELSE 8 END AS INT) AS bits,
       CAST(CASE WHEN m IN (1, 3) THEN 2
                 WHEN m = 4 THEN 3
                 WHEN m = 5 THEN 0 ELSE 1 END AS INT) AS photometric,
       CASE WHEN m = 5 THEN
              CASE WHEN k = 0 THEN 'ccitt-rle'
                   WHEN k = 1 AND pred THEN 'ccitt-g3-2d'
                   WHEN k = 1 THEN 'ccitt-g3'
                   WHEN k = 2 THEN 'ccitt-g4' ELSE 'packbits' END
            ELSE
              CASE k WHEN 0 THEN 'none' WHEN 1 THEN 'packbits'
                     WHEN 2 THEN 'lzw' ELSE 'deflate' END
       END AS compression,
       pred AND m < 5 AS predictor,
       planar,
       CAST(CASE WHEN tiled AND (m <> 5 OR k = 3)
                 THEN ((w + 15) // 16) * ((h + 15) // 16)
                      * (CASE WHEN planar THEN 3 ELSE 1 END)
                 ELSE 0 END AS INT) AS n_tiles,
       CAST(CASE m
            WHEN 0 THEN w * h * base + w * sy + h * sx
            WHEN 1 THEN 3 * (w * h * base + w * sy + h * sx) + 3 * w * h
            WHEN 2 THEN 251 * w * h * base + 7 * w * sy + 3 * h * sx
            WHEN 3 THEN 3 * (251 * w * h * base + 7 * w * sy + 3 * h * sx)
                        + 15 * w * h
            WHEN 4 THEN w * h * (100 * base + 50999) + 147 * (w * sy + h * sx)
            WHEN 5 THEN ev * (w // 2) + (h - ev) * ((w + 1) // 2)
            WHEN 6 THEN 2 * w * (h // 2) + h * (w // 2)
            ELSE 4 * w * (6 * (h // 4)
                          + CASE h % 4 WHEN 2 THEN 1 WHEN 3 THEN 3 ELSE 0 END)
                 + h * (6 * (w // 4)
                        + CASE w % 4 WHEN 2 THEN 1 WHEN 3 THEN 3 ELSE 0 END)
            END AS BIGINT) AS pix_sum
FROM s
"""


def q_mm_jpeg12_roundtrip(spark, sf):
    """12-bit extended-sequential JPEG (SOF1) correctness at table
    scale (r09: the precision gate closed in `jpeg.py`). Lossy codecs
    can't hash-check arbitrary pixels, so the entry leans on the one
    EXACT subset: per-8×8-block-CONSTANT images at quality 100 are
    DC-only and the whole encode→decode chain is integer arithmetic
    (gray) or within 0.2 of a sample step (RGB through the float YCbCr
    pair) — the decode returns the input bit-for-bit. Per document a
    (doc_id-derived) block grid is built with values up to 2760 (well
    past the 8-bit range, proving real 12-bit amplitudes), encoded as a
    real SOF1 stream — doc_id%2 picks gray vs RGB, doc_id%3==0 adds a
    DRI/RSTn restart interval — decoded back, and dims + channel count
    + pixel sum + max sample are emitted. The oracle recomputes the
    sums arithmetically; a green hash proves the 12-bit entropy coding,
    level shift 2048, widened categories and uint16 reconstruction all
    invert (the reference has no codecs; SURVEY §2.B multimodal
    rows). Late r09 closed the 12-bit PROGRESSIVE gate and then the
    LOSSLESS (SOF3) gate too, so the matrix now sweeps all THREE frame
    processes: n_chars%3 picks sequential (SOF1) vs progressive (SOF2
    — all four Annex G scan decoders over the widened categories) vs
    lossless (SOF3 Annex H DPCM at 12-bit, the predictor cycling
    doc-derived through all seven). The emitted `frame_type` string is
    read back from the stream's own SOF marker, and the closed-form
    sums are identical across processes: the DCT pair quantizes
    identically and is exact on block-constant q100 content, and
    lossless is exact on ANY content by definition."""
    from vector_lake_spark.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
        encode_jpeg_lossless,
        encode_jpeg_progressive,
    )

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 5 + 3).cast("int").alias("wb"),
        (F.col("n_chars") % 4 + 2).cast("int").alias("hb"),
        (F.col("doc_id") % 170).cast("int").alias("base"),
        (F.col("doc_id") % 2 == 0).alias("gray"),
        (F.col("doc_id") % 3 == 0).alias("rst"),
        (F.col("n_chars") % 3).cast("int").alias("ftype"),
        (F.col("doc_id") % 7 + 1).cast("int").alias("pred"),
    )

    def one(r):
        by = np.arange(r.hb)[:, None, None]
        bx = np.arange(r.wb)[None, :, None]
        c3 = np.arange(3)[None, None, :]
        vals = (16 * r.base + 7 * by + 3 * bx + 5 * c3).astype(
            np.uint16
        )
        if r.gray:
            vals = vals[:, :, 0]
        px = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        if r.ftype == 1:
            f = encode_jpeg_progressive(px, quality=100, precision=12)
        elif r.ftype == 2:
            f = encode_jpeg_lossless(
                px, predictor=r.pred, precision=12
            )
        else:
            f = encode_jpeg(
                px,
                quality=100,
                precision=12,
                restart_interval=2 if r.rst else 0,
            )
        dec = decode_jpeg_pixels(f)
        # read the frame type back from the stream itself
        marker = next(
            name
            for sig, name in (
                (b"\xff\xc1", "sequential"),
                (b"\xff\xc2", "progressive"),
                (b"\xff\xc3", "lossless"),
            )
            if sig in f
        )
        yield (
            r.media_id,
            dec.shape[1],
            dec.shape[0],
            1 if dec.ndim == 2 else dec.shape[2],
            marker,
            int(dec.max()),
            int(dec.astype(np.int64).sum()),
        )

    params = _spread(spark, d, params)
    return map_rows(
        params,
        one,
        (
            "media_id long, width int, height int, channels int, "
            "frame_type string, max_sample int, pix_sum long"
        ),
    )


SQL_MM_JPEG12_ROUNDTRIP = """
WITH p AS (
  SELECT doc_id AS media_id,
         (doc_id % 5) + 3 AS wb,
         (n_chars % 4) + 2 AS hb,
         doc_id % 170 AS base,
         doc_id % 2 = 0 AS gray,
         n_chars % 3 AS ftype
  FROM documents
),
s AS (
  SELECT *,
         hb * (hb - 1) // 2 AS sy,
         wb * (wb - 1) // 2 AS sx,
         -- one channel's block-value total, times the 64 pixels/block
         64 * (wb * hb * 16 * base + 7 * wb * sy + 3 * hb * sx) AS gsum
  FROM p
)
SELECT media_id,
       CAST(8 * wb AS INT) AS width,
       CAST(8 * hb AS INT) AS height,
       CAST(CASE WHEN gray THEN 1 ELSE 3 END AS INT) AS channels,
       CASE ftype WHEN 1 THEN 'progressive' WHEN 2 THEN 'lossless'
                  ELSE 'sequential' END AS frame_type,
       CAST(16 * base + 7 * (hb - 1) + 3 * (wb - 1)
            + CASE WHEN gray THEN 0 ELSE 10 END AS INT) AS max_sample,
       CAST(CASE WHEN gray THEN gsum
                 ELSE 3 * gsum + 64 * wb * hb * 15 END AS BIGINT) AS pix_sum
FROM s
"""


def q_mm_rle8_roundtrip(spark, sf):
    """INTERFRAME video correctness at table scale (r09: Microsoft
    RLE8 in AVI — the documented delta codec closing the last video
    gate that is honestly closable with stdlib). Per document a
    3-frame video is built over a doc-derived 16-color palette whose
    channel sums are LINEAR in the index (so looked-up totals stay
    closed-form): frame 0 is a busy 4-periodic keyframe, frames 1 and
    2 change ONLY the bottom row — so their encodings are true deltas
    (persisted rows cost 2-byte EOLs / early end-of-bitmap). The video
    muxes through `encode_avi_rle8`, probes (codec tag, frame chunk
    sizes — no decode), and decodes back through the delta-replay
    chain. Emitted: dims, frame count, codec, the PINNED invariant
    that a delta frame is >4× smaller than its keyframe (the oracle
    asserts TRUE; if the writer ever stops emitting deltas the Spark
    side flips to false and the hash catches it), and each frame's
    exact RGB pixel sum — lossless codec, so exact equality (the
    reference has no codecs; SURVEY §2.B multimodal rows)."""
    from vector_lake_spark.avi import (
        decode_avi_frames,
        encode_avi_rle8,
        probe_avi,
    )

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 17 + 16).cast("int").alias("w"),
        (F.col("n_chars") % 13 + 12).cast("int").alias("h"),
        (F.col("doc_id") % 90).cast("int").alias("a"),
    )

    def one(r):
        i = np.arange(16)
        pal = np.stack(
            [7 * i + r.a, 255 - 9 * i, 3 * i + 40], axis=1
        ).astype(np.uint8)
        y = np.arange(r.h)[:, None]
        x = np.arange(r.w)[None, :]
        f0 = ((y % 4) + 4 * (x % 4)).astype(np.uint8)
        f1 = f0.copy()
        f1[r.h - 1, :] = 5  # bottom row only: a true delta
        f2 = f1.copy()
        f2[r.h - 1, :] = 9
        payload = encode_avi_rle8([f0, f1, f2], pal, fps=5)
        info = probe_avi(payload)
        sizes = [s for _, s in info["frames"]]
        _, frames = decode_avi_frames(payload)
        sums = [int(px.astype(np.int64).sum()) for _, px in frames]
        yield (
            r.media_id,
            info["width"],
            info["height"],
            info["n_frames"],
            info["codec"],
            sizes[1] * 4 < sizes[0] and sizes[2] * 4 < sizes[0],
            sums[0],
            sums[1],
            sums[2],
        )

    params = _spread(spark, d, params)
    return map_rows(
        params,
        one,
        (
            "media_id long, width int, height int, n_frames int, "
            "codec string, delta_smaller boolean, "
            "sum0 long, sum1 long, sum2 long"
        ),
    )


SQL_MM_RLE8_ROUNDTRIP = """
WITH p AS (
  SELECT doc_id AS media_id,
         (doc_id % 17) + 16 AS w,
         (n_chars % 13) + 12 AS h,
         doc_id % 90 AS a
  FROM documents
),
s AS (
  SELECT *,
         -- S4(n) = sum over n of (k % 4)
         6 * (h // 4) + CASE h % 4 WHEN 2 THEN 1 WHEN 3 THEN 3
                                   ELSE 0 END AS s4h,
         6 * (w // 4) + CASE w % 4 WHEN 2 THEN 1 WHEN 3 THEN 3
                                   ELSE 0 END AS s4w
  FROM p
),
t AS (
  SELECT *,
         -- frame 0 index total; bottom-row index total; per-pixel
         -- palette channel sum is (idx + a + 295)
         w * s4h + 4 * h * s4w AS i0,
         w * ((h - 1) % 4) + 4 * s4w AS row_bot
  FROM s
)
SELECT media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(3 AS INT) AS n_frames,
       'MRLE' AS codec,
       TRUE AS delta_smaller,
       CAST(i0 + (a + 295) * w * h AS BIGINT) AS sum0,
       CAST(i0 - row_bot + 5 * w + (a + 295) * w * h AS BIGINT) AS sum1,
       CAST(i0 - row_bot + 9 * w + (a + 295) * w * h AS BIGINT) AS sum2
FROM t
"""


def q_mm_mp3_probe(spark, sf):
    """MPEG-audio metadata at table scale (late r09: `mp3.py` — the
    audio sibling of `probe_media`'s route-without-decode posture).
    Per document a syntactically valid CBR stream is muxed from
    doc-derived header parameters sweeping the full public table
    matrix (3 MPEG versions x 3 layers x 14 bitrate indices x 3 rate
    indices, mono/stereo, padding slots on every third frame for some
    docs, ID3v2 prefix and ID3v1 trailer wrappers) and `probe_mp3`
    frame-WALKS it — every frame's length computed from the ISO
    11172-3/13818-3 tables, no payload byte read. The oracle recomputes
    sample rate, bitrate, per-frame slot arithmetic (incl. layer I's
    4-byte slots), stream bytes, frame count and duration closed-form
    from the same public tables as DuckDB list literals, so a green
    hash proves the whole header grammar. Layer DECODE stays a named
    gate — at 100 TB the probe is the operator that routes/budgets
    audio corpora (reference has no codecs; SURVEY §2.B multimodal)."""
    from vector_lake_spark.mp3 import mux_mp3_frames, probe_mp3

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 3).cast("int").alias("v3"),
        ((F.col("doc_id") / 3).cast("long") % 3 + 1).cast("int").alias("layer"),
        (F.col("doc_id") % 14 + 1).cast("int").alias("br_idx"),
        (F.col("n_chars") % 3).cast("int").alias("rate_idx"),
        (F.col("n_chars") % 40 + 5).cast("int").alias("n_frames"),
        (F.col("doc_id") % 2 == 0).alias("mono"),
        (F.col("doc_id") % 5 == 0).alias("padded"),
        (F.col("n_chars") % 2 == 0).alias("tagged"),
    )

    def one(r):
        payload = mux_mp3_frames(
            r.n_frames,
            version=("1", "2", "2.5")[r.v3],
            layer=r.layer,
            bitrate_idx=r.br_idx,
            rate_idx=r.rate_idx,
            mono=r.mono,
            pad_every=3 if r.padded else 0,
            id3v2_bytes=64 if r.tagged else 0,
            id3v1=r.tagged,
        )
        info = probe_mp3(payload)
        yield (
            r.media_id,
            info["version"],
            info["layer"],
            info["sample_rate"],
            info["n_channels"],
            info["n_frames"],
            info["stream_bytes"],
            info["duration_ms"],
            info["bitrate_kbps"],
        )

    params = _spread(spark, d, params)
    return map_rows(
        params,
        one,
        (
            "media_id long, version string, layer int, sample_rate int, "
            "n_channels int, n_frames long, stream_bytes long, "
            "duration_ms long, bitrate_kbps int"
        ),
    )


SQL_MM_MP3_PROBE = """
WITH p AS (
  SELECT doc_id AS media_id,
         doc_id % 3 AS v3,
         (doc_id // 3) % 3 + 1 AS layer,
         doc_id % 14 + 1 AS br_idx,
         n_chars % 3 AS rate_idx,
         n_chars % 40 + 5 AS n,
         doc_id % 2 = 0 AS mono,
         doc_id % 5 = 0 AS padded
  FROM documents
),
t AS (
  SELECT *,
         CASE v3 WHEN 0 THEN 1 ELSE 2 END AS vgroup,
         -- sample-rate tables by exact version (index 0..2)
         CASE v3
           WHEN 0 THEN ([44100, 48000, 32000])[rate_idx + 1]
           WHEN 1 THEN ([22050, 24000, 16000])[rate_idx + 1]
           ELSE ([11025, 12000, 8000])[rate_idx + 1]
         END AS rate,
         -- bitrate tables by (version group, layer), index 1..14
         CASE
           WHEN v3 = 0 AND layer = 1 THEN ([32,64,96,128,160,192,224,256,288,320,352,384,416,448])[br_idx]
           WHEN v3 = 0 AND layer = 2 THEN ([32,48,56,64,80,96,112,128,160,192,224,256,320,384])[br_idx]
           WHEN v3 = 0 AND layer = 3 THEN ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[br_idx]
           WHEN layer = 1 THEN ([32,48,56,64,80,96,112,128,144,160,176,192,224,256])[br_idx]
           ELSE ([8,16,24,32,40,48,56,64,80,96,112,128,144,160])[br_idx]
         END AS kbps
  FROM p
),
s AS (
  SELECT *,
         CASE WHEN layer = 1 THEN 384
              WHEN layer = 2 THEN 1152
              WHEN vgroup = 1 THEN 1152 ELSE 576 END AS spf,
         CASE WHEN layer = 1 THEN (12 * kbps * 1000 // rate) * 4
              ELSE (CASE WHEN layer = 2 THEN 1152
                         WHEN vgroup = 1 THEN 1152 ELSE 576 END)
                   // 8 * kbps * 1000 // rate END AS base_len,
         CASE WHEN padded THEN n // 3 ELSE 0 END AS n_pad
  FROM t
)
SELECT media_id,
       CASE v3 WHEN 0 THEN '1' WHEN 1 THEN '2' ELSE '2.5' END AS version,
       CAST(layer AS INT) AS layer,
       CAST(rate AS INT) AS sample_rate,
       CAST(CASE WHEN mono THEN 1 ELSE 2 END AS INT) AS n_channels,
       CAST(n AS BIGINT) AS n_frames,
       CAST(n * base_len
            + n_pad * (CASE WHEN layer = 1 THEN 4 ELSE 1 END)
            AS BIGINT) AS stream_bytes,
       CAST(n * spf * 1000 // rate AS BIGINT) AS duration_ms,
       CAST(kbps AS INT) AS bitrate_kbps
FROM s
"""


def q_mm_ogg_probe(spark, sf):
    """Ogg container metadata at table scale (late r09: `ogg.py` — the
    page-walk companion of `mm_mp3_probe` for the other half of crawl
    audio). Per document a spec-valid Ogg stream is muxed (RFC 3533
    pages: BOS identification page carrying a real Vorbis-I or
    OpusHead header, doc-derived audio pages with 255-run lacing, EOS
    flag, every page CRC'd with the direct 0x04c11db7 CRC-32) and
    `probe_ogg` walks it back — verifying capture pattern, version,
    CRC and sequence continuity on every page, identifying the codec
    from the ID header, and deriving duration from the final granule
    position (Opus: 48 kHz minus pre-skip; Vorbis: samples at the
    stream rate) without reading one audio packet. The oracle
    recomputes page sizes (27-byte header + lacing-table length +
    body), packet counts and granule arithmetic closed-form, so a
    green hash proves the whole framing grammar. Codec DECODE stays a
    named gate (reference has no codecs; SURVEY §2.B multimodal)."""
    from vector_lake_spark.ogg import (
        mux_ogg_pages,
        opus_id_packet,
        probe_ogg,
        vorbis_id_packet,
    )

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 2 == 0).alias("opus"),
        # channels decorrelated from the codec bit (r09 advice: with
        # channels = doc_id%2+1 Opus was always mono and Vorbis always
        # stereo, so Opus-stereo / Vorbis-mono ID parsing never ran)
        ((F.col("doc_id") / 2).cast("long") % 2 + 1).cast("int").alias("channels"),
        (F.col("n_chars") % 4).cast("int").alias("rate_idx"),
        (F.col("n_chars") % 12 + 2).cast("int").alias("n_audio"),
        (F.col("doc_id") % 300 + 10).cast("int").alias("pkt_bytes"),
        ((F.col("doc_id") % 50 + 10) * 160).cast("long").alias("gstep"),
        (F.col("doc_id") % 400).cast("int").alias("pre_skip"),
    )

    rates = (8000, 22050, 44100, 48000)

    def one(r):
        if r.opus:
            idpkt = opus_id_packet(r.channels, r.pre_skip, 48000)
        else:
            idpkt = vorbis_id_packet(r.channels, rates[r.rate_idx])
        pages = [
            {
                "serial": 1,
                "seq": 0,
                "granule": 0,
                "bos": True,
                "packets": [idpkt],
            }
        ]
        for i in range(r.n_audio):
            pages.append(
                {
                    "serial": 1,
                    "seq": i + 1,
                    "granule": (i + 1) * r.gstep,
                    "eos": i == r.n_audio - 1,
                    "packets": [bytes([i & 0xFF]) * r.pkt_bytes],
                }
            )
        info = probe_ogg(mux_ogg_pages(pages))
        yield (
            r.media_id,
            info["codec"],
            info["sample_rate"],
            info["n_channels"],
            info["n_pages"],
            info["n_packets"],
            info["duration_ms"],
            info["total_bytes"],
            info["eos"],
        )

    params = _spread(spark, d, params)
    return map_rows(
        params,
        one,
        (
            "media_id long, codec string, sample_rate int, n_channels int, "
            "n_pages long, n_packets long, duration_ms long, "
            "total_bytes long, eos boolean"
        ),
    )


SQL_MM_OGG_PROBE = """
WITH p AS (
  SELECT doc_id AS media_id,
         doc_id % 2 = 0 AS opus,
         (doc_id // 2) % 2 + 1 AS channels,
         n_chars % 4 AS rate_idx,
         n_chars % 12 + 2 AS n_audio,
         doc_id % 300 + 10 AS pkt_bytes,
         (doc_id % 50 + 10) * 160 AS gstep,
         doc_id % 400 AS pre_skip
  FROM documents
),
t AS (
  SELECT *,
         CASE WHEN opus THEN 48000
              ELSE ([8000, 22050, 44100, 48000])[rate_idx + 1] END AS rate,
         CASE WHEN opus THEN 19 ELSE 30 END AS id_len,
         -- lacing entries for one pkt_bytes packet: 255-runs + term
         pkt_bytes // 255 + 1 AS n_segs,
         n_audio * gstep AS g_last
  FROM p
)
SELECT media_id,
       CASE WHEN opus THEN 'opus' ELSE 'vorbis' END AS codec,
       CAST(rate AS INT) AS sample_rate,
       CAST(channels AS INT) AS n_channels,
       CAST(n_audio + 1 AS BIGINT) AS n_pages,
       CAST(n_audio + 1 AS BIGINT) AS n_packets,
       CAST(CASE WHEN opus
                 THEN GREATEST(g_last - pre_skip, 0) * 1000 // 48000
                 ELSE g_last * 1000 // rate END AS BIGINT) AS duration_ms,
       CAST(27 + 1 + id_len
            + n_audio * (27 + n_segs + pkt_bytes) AS BIGINT) AS total_bytes,
       TRUE AS eos
FROM t
"""


def q_pipe_url_dedup(spark, sf):
    """URL canonicalization → exact-URL dedup → per-domain cap, the
    crawl-curation front-of-pipeline staple (C4/RefinedWeb drop
    duplicate URLs before touching content, then cap any one domain's
    share of the corpus). Per document a realistic URL VARIANT is
    derived (three docs share each canonical page; doc_id%3 picks the
    scheme/www/case/tracking-query/trailing-slash variant), then the
    real operators run: `normalize_url` (pure codegen regexps)
    collapses all variants, pages dedup to their first doc_id, and a
    per-domain window keeps only the 5 earliest pages (the domain
    cap). Output is the per-domain audit a curation run reports:
    URLs seen, distinct pages, pages kept, and the kept pages'
    doc_id sum (pinning that the cap kept the RIGHT pages, not just
    the right count). Scale shape: one exchange on the canonical URL,
    one on the domain — both standard hash keys; no skew (domains are
    uniform by construction, and a production run would salt a
    mega-domain the same way the dedup family salts hot shingles)."""
    d = _t(spark, sf, "documents")
    pid = F.expr("doc_id div 3")
    dom_id = pid % 20
    v = F.col("doc_id") % 3
    url = (
        F.when(
            v == 0,
            F.concat(
                F.lit("https://www.example"), dom_id,
                F.lit(".com/articles/"), pid,
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("http://example"), dom_id,
                F.lit(".com/articles/"), pid, F.lit("/"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://EXAMPLE"), dom_id,
                F.lit(".COM/articles/"), pid,
                F.lit("?utm_source=feed#top"),
            )
        )
    )
    pages = (
        d.select(F.col("doc_id"), normalize_url(url).alias("url"))
        .groupBy("url")
        .agg(
            F.min("doc_id").alias("first_doc"),
            F.count(F.lit(1)).alias("n_variants"),
        )
        .withColumn("domain", url_domain(F.col("url")))
    )
    w = Window.partitionBy("domain").orderBy("first_doc")
    ranked = pages.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("domain")
        .agg(
            F.sum("n_variants").cast("long").alias("n_urls"),
            F.count(F.lit(1)).cast("long").alias("n_pages"),
            F.sum((F.col("rk") <= 5).cast("long")).alias("n_kept"),
            F.sum(
                F.when(F.col("rk") <= 5, F.col("first_doc")).otherwise(0)
            ).cast("long").alias("kept_doc_sum"),
        )
        .orderBy("domain")
    )


def _sql_pipe_url_dedup() -> str:
    url = """CASE doc_id % 3
        WHEN 0 THEN 'https://www.example' || (doc_id // 3) % 20
                    || '.com/articles/' || (doc_id // 3)
        WHEN 1 THEN 'http://example' || (doc_id // 3) % 20
                    || '.com/articles/' || (doc_id // 3) || '/'
        ELSE 'https://EXAMPLE' || (doc_id // 3) % 20
             || '.COM/articles/' || (doc_id // 3) || '?utm_source=feed#top'
        END"""
    return f"""
WITH u AS (
  SELECT doc_id, {O.sql_normalize_url(url)} AS url FROM documents
),
pages AS (
  SELECT url, min(doc_id) AS first_doc, count(*) AS n_variants,
         {O.sql_url_domain('url')} AS domain
  FROM u GROUP BY url
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY domain ORDER BY first_doc) AS rk
  FROM pages
)
SELECT domain,
       CAST(sum(n_variants) AS BIGINT) AS n_urls,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(sum(CASE WHEN rk <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rk <= 5 THEN first_doc ELSE 0 END) AS BIGINT)
           AS kept_doc_sum
FROM ranked
GROUP BY domain
ORDER BY domain
"""


SQL_PIPE_URL_DEDUP = _sql_pipe_url_dedup()


def q_text_gopher_rules(spark, sf):
    """The published Gopher quality-rule suite per document (the named
    heuristic set every LLM curation pipeline starts from), as pure
    codegen expressions over one scan: token-count bounds, mean-word-
    length bounds, stopword floor, numeric-token ceiling, symbol
    (punctuation) ceiling — each rule emitted as its own flag plus the
    conjunction, so downstream reporting can attribute REMOVALS to
    rules (the Gopher paper's ablation table shape). Thresholds adapt
    the paper's to this corpus's 10-100-word documents (word floor 20
    instead of 50); the oracle recomputes every flag from the shared
    tokenizer formulas."""
    d = _t(spark, sf, "documents")
    toks = tokens(F.col("text"))
    n_toks = token_count(F.col("text"))
    mean_len = avg_token_len(F.col("text"))
    n_stop = stopword_count(F.col("text"))
    n_num = F.size(
        F.filter(toks, lambda t: t.rlike("^[0-9]+$"))
    ).cast("long")
    p_ratio = punct_ratio(F.col("text"))
    r_words = (n_toks >= 20) & (n_toks <= 100000)
    r_meanlen = (mean_len >= 3.0) & (mean_len <= 10.0)
    r_stop = n_stop >= 2
    r_numeric = n_num.cast("double") <= 0.2 * n_toks.cast("double")
    r_symbol = p_ratio <= 0.1
    return d.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        r_words.alias("r_words"),
        r_meanlen.alias("r_meanlen"),
        r_stop.alias("r_stop"),
        r_numeric.alias("r_numeric"),
        r_symbol.alias("r_symbol"),
        (r_words & r_meanlen & r_stop & r_numeric & r_symbol).alias(
            "pass_all"
        ),
    )


def _sql_text_gopher_rules() -> str:
    n_toks = O.sql_token_count("text")
    mean_len = O.sql_avg_token_len("text")
    n_stop = O.sql_stopword_count("text")
    n_num = (
        f"CAST(len(list_filter({O.sql_tokens('text')}, "
        f"t -> regexp_full_match(t, '[0-9]+'))) AS BIGINT)"
    )
    p_ratio = O.sql_punct_ratio("text")
    return f"""
WITH m AS (
  SELECT doc_id,
         {n_toks} AS n_tokens,
         {mean_len} AS mean_len,
         {n_stop} AS n_stop,
         {n_num} AS n_num,
         {p_ratio} AS p_ratio
  FROM documents
)
SELECT doc_id,
       n_tokens,
       n_tokens >= 20 AND n_tokens <= 100000 AS r_words,
       mean_len >= 3.0 AND mean_len <= 10.0 AS r_meanlen,
       n_stop >= 2 AS r_stop,
       CAST(n_num AS DOUBLE) <= 0.2 * CAST(n_tokens AS DOUBLE) AS r_numeric,
       p_ratio <= 0.1 AS r_symbol,
       (n_tokens >= 20 AND n_tokens <= 100000)
         AND (mean_len >= 3.0 AND mean_len <= 10.0)
         AND n_stop >= 2
         AND CAST(n_num AS DOUBLE) <= 0.2 * CAST(n_tokens AS DOUBLE)
         AND p_ratio <= 0.1 AS pass_all
FROM m
"""


SQL_TEXT_GOPHER_RULES = _sql_text_gopher_rules()


# A boilerplate page body served identically from many hosts — the thing
# crawl dedup exists to collapse. No SQL-escaping hazards (no quotes/&).
CRAWL_MIRROR_TEXT = (
    "this mirror of the landing page is served the same from every host "
    "and the pipeline keeps only one copy of it for the training corpus "
    "because repeated boilerplate would bias the model toward navigation "
    "chrome instead of prose"
)


def q_pipe_crawl_e2e(spark, sf):
    """The composed crawl front door as ONE plan (VERDICT r08 #4): WARC
    records → HTTP-status gate → HTML boilerplate removal → language ID
    → quality floor → exact dedup. Per document, a REAL member-gzipped
    WARC is written (response + warcinfo records; doc_id%3 picks status
    200/301/404) whose response body is an HTML page — doc_id%7==0 docs
    all serve the same 'Mirror' boilerplate page (the dedup target),
    the rest wrap their own text. The pipeline then runs the real
    operators in sequence: `extract_warc_records` (gzip-member walk +
    record grammar), keep only 200-status responses, `html_extract`
    (skip-subtree, entities, block breaks), `lang_id` + the pinned
    logistic quality score as pure column expressions, floor at
    QUALITY_KEEP_THRESHOLD, then keep the min-id row per content
    fingerprint with its duplicate count. The oracle recomputes every
    stage arithmetically from the documents table, so a green hash
    certifies the five operators COMPOSE correctly — same pins as their
    standalone entries, no materialization barrier between stages."""
    from vector_lake_spark.functions.text import fingerprint64, lang_id
    from vector_lake_spark.htmltext import html_extract
    from vector_lake_spark.sources.warc import encode_warc, extract_warc_records

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text"),
        (F.col("doc_id") % 3).cast("int").alias("k"),
        (F.col("doc_id") % 7 == 0).alias("dup"),
    )
    params = _spread(spark, d, params)
    statuses = [200, 301, 404]

    def mux(r):
        title = "Mirror" if r.dup else f"Doc {r.media_id}"
        body = CRAWL_MIRROR_TEXT if r.dup else r.text
        page = (
            f"<html><head><title>{title}</title>"
            f"<style>nav {{ display: none }}</style></head>"
            f"<body><script>track({r.media_id});</script>"
            f"<h1>{title}</h1><p>{body}</p>"
            f"<noscript>enable javascript</noscript></body></html>"
        )
        url = (
            "http://mirror.example/landing"
            if r.dup
            else f"http://example.com/page/{r.media_id}"
        )
        blob = encode_warc(
            [
                {
                    "warc_type": "response",
                    "url": url,
                    "http_status": statuses[r.k],
                    "http_headers": {
                        "content-type": "text/html; charset=utf-8"
                    },
                    "body": page,
                    "mime": "application/http; msgtype=response",
                },
                {
                    "warc_type": "warcinfo",
                    "mime": "application/warc-fields",
                    "body": "software: crawler-e2e",
                },
            ]
        )
        yield r.media_id, blob

    blobs = map_rows(params, mux, "media_id long, payload binary")
    resp = extract_warc_records(blobs).filter(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    )

    def clean(row):
        mid, body = row
        text, title = html_extract(body)
        flat = text.replace("\n", " ")
        yield mid, title, flat, len(flat)

    cleaned = map_rows(
        resp.select("media_id", "body"),
        clean,
        "media_id long, title string, flat string, n_clean long",
    )
    scored = cleaned.select(
        "media_id",
        "title",
        "flat",
        "n_clean",
        lang_id(F.col("flat")).alias("lang"),
        quality_prob_expr(F.col("flat")).alias("quality"),
    ).filter(F.col("quality") >= QUALITY_KEEP_THRESHOLD)
    wfp = Window.partitionBy("fp")
    return (
        scored.withColumn("fp", fingerprint64(F.col("flat")))
        .withColumn("keep_id", F.min("media_id").over(wfp))
        .withColumn("dup_cnt", F.count(F.lit(1)).over(wfp))
        .filter(F.col("media_id") == F.col("keep_id"))
        .select(
            "media_id", "title", "lang", "quality",
            F.col("n_clean").cast("long").alias("n_clean"),
            F.col("dup_cnt").cast("long").alias("dup_cnt"),
        )
    )


def _sql_pipe_crawl_e2e() -> str:
    scores = O.sql_lang_scores("flat")
    cols = [(lang, f"s_{lang}") for lang, _ in scores]
    inner = ", ".join(f"{expr} AS s_{lang}" for lang, expr in scores)
    return f"""
WITH resp AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 7 = 0 THEN 'Mirror'
              ELSE 'Doc ' || doc_id END AS title,
         CASE WHEN doc_id % 7 = 0 THEN '{CRAWL_MIRROR_TEXT}'
              ELSE trim(regexp_replace(text, '\\s+', ' ', 'g')) END AS body
  FROM documents
  WHERE doc_id % 3 = 0
),
f AS (
  -- an empty/whitespace-only body yields an empty <p> line that
  -- html_extract DROPS, so the flat text must not keep a trailing
  -- space for it (r09 review finding; unreachable on gen_testdata's
  -- 10-100-word docs but the contract must match for any corpus)
  SELECT media_id, title,
         CASE WHEN body = '' THEN title || ' ' || title
              ELSE title || ' ' || title || ' ' || body END AS flat
  FROM resp
),
s AS (SELECT media_id, title, flat, {inner} FROM f),
q AS (
  SELECT media_id, title, flat,
         {O.sql_lang_id(cols)} AS lang,
         {sql_quality_prob('flat')} AS quality
  FROM s
),
dd AS (
  SELECT media_id, title, lang, quality,
         CAST(length(flat) AS BIGINT) AS n_clean,
         {O.sql_fingerprint64('flat')} AS fp
  FROM q WHERE quality >= {QUALITY_KEEP_THRESHOLD}
)
SELECT media_id, title, lang, quality, n_clean,
       CAST(dup_cnt AS BIGINT) AS dup_cnt
FROM (
  SELECT *, min(media_id) OVER (PARTITION BY fp) AS keep_id,
         count(*) OVER (PARTITION BY fp) AS dup_cnt
  FROM dd
) WHERE media_id = keep_id
"""


SQL_PIPE_CRAWL_E2E = _sql_pipe_crawl_e2e()


def _dhash_fixture_sig(doc_id: int) -> int:
    """Closed-form target dHash for the image near-dup fixture (r10).

    Near-dup groups: g = doc_id % 40 shares a 63-bit base signature
    (bit 63 forced 0 so both engines' signed-int64 arithmetic never
    overflows); member m = doc_id // 40 flips the first 3*(m//2)
    positions of a group-specific flip sequence. Because each member's
    flip set is a PREFIX of the next, the Hamming distance between
    members is exactly |3*(ma//2) - 3*(mb//2)| — pairs of consecutive
    members are exact dups (distance 0), then 3, 6, ... — a controlled
    distance ladder the banded-Hamming join must reproduce."""
    g = doc_id % 40
    m = doc_id // 40
    mix = (g * g * 13) % 251
    base = 0
    for k in range(8):
        byte = (g * 37 + k * 101 + mix) % 256
        if k == 7:
            byte %= 128  # keep bit 63 clear
        base |= byte << (8 * k)
    mask = 0
    for i in range(3 * (m // 2)):
        mask |= 1 << ((g * 11 + i * 17) % 63)  # 17 ⟂ 63: distinct
    return base ^ mask


def _render_dhash_grid(sig: int):
    """9x8 grayscale grid whose dHash is exactly ``sig``: each row walks
    from 128 in ±8 steps, so grid[y, x+1] > grid[y, x] iff bit y*8+x is
    set (strictly — ties impossible). Values stay in [64, 192]."""
    grid = np.zeros((8, 9), dtype=np.uint8)
    for y in range(8):
        v = 128
        grid[y][0] = v
        for x in range(8):
            v = v + 8 if (sig >> (y * 8 + x)) & 1 else v - 8
            grid[y][x + 1] = v
    return grid


def q_mm_image_neardup(spark, sf):
    """Perceptual image near-duplicate pairs — the image leg of the
    dedup family (r10, VERDICT r09 #1). Per document a REAL image is
    rendered (the 2x-upscaled dHash grid above), encoded to GIF
    (lossless palette codec, gif.py), decoded back through the native
    codec and perceptually hashed inside ONE Arrow stage
    (operators/imagehash.image_signatures: decode -> box downsample ->
    dHash; pixels never leave Python). The 8-byte signatures then run
    the banded-Hamming pair join (operators/binary.
    hamming_neardup_pairs): 8 bands x 8 bits, so every pair within
    radius 7 is found EXACTLY (pigeonhole), per-bucket size is bounded
    by corpus/256 per band, and the only exchange is n_bands narrow
    (id, sig, key) rows. The oracle reproduces the signatures
    closed-form (encode -> decode -> downsample is exact by
    construction) and brute-forces the pair set, which equals the
    banded result because radius < n_bands."""
    from vector_lake_spark.operators.binary import hamming_neardup_pairs
    from vector_lake_spark.operators.imagehash import image_signatures

    d = _t(spark, sf, "documents")
    params = d.select(F.col("doc_id").alias("media_id"))

    from vector_lake_spark.gif import encode_gif

    def mux(r):
        grid = _render_dhash_grid(_dhash_fixture_sig(r.media_id))
        img = np.kron(grid, np.ones((2, 2), dtype=np.uint8))
        yield r.media_id, encode_gif(np.repeat(img[:, :, None], 3, axis=2))

    params = _spread(spark, d, params)
    media = map_rows(params, mux, "media_id long, payload binary")
    sigs = image_signatures(media, kind="dhash")
    # n_blocks pinned to the minimal config the docstring describes:
    # the auto default would fire a count() job that re-runs the whole
    # codec chain (review r10) — and resolves to 8 at every registry
    # scale anyway. At 100 TB, persist the signatures and let auto size.
    return hamming_neardup_pairs(
        sigs, radius=7, id_col="media_id", n_blocks=8
    )


def _sql_mm_image_neardup() -> str:
    # the 8 base bytes of _dhash_fixture_sig, inlined with their
    # place-value multipliers (byte 7 is %128 so sigs stay < 2^63)
    byte_terms = " + ".join(
        f"((g*37 + {k*101} + (g*g*13) % 251) % {128 if k == 7 else 256})"
        f" * {1 << (8 * k)}"
        for k in range(8)
    )
    return f"""
WITH p AS (
  SELECT doc_id, doc_id % 40 AS g, 3 * ((doc_id // 40) // 2) AS nf
  FROM documents
),
s AS (
  SELECT doc_id,
         xor(
           CAST({byte_terms} AS BIGINT),
           COALESCE(CAST(list_sum(list_transform(
             list_distinct(list_transform(range(nf),
                           i -> CAST((g*11 + i*17) % 63 AS INT))),
             p -> CAST(1 AS BIGINT) << p
           )) AS BIGINT), 0)
         ) AS sig
  FROM p
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS dist
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 7
"""


SQL_MM_IMAGE_NEARDUP = _sql_mm_image_neardup()


def _dhash_fixture_sig256(doc_id: int) -> list[int]:
    """Closed-form 256-bit target dHash for the WIDE image near-dup
    fixture (r11, VERDICT r10 #4) — the 4×int64 twin of
    ``_dhash_fixture_sig``. Group g = doc_id % 40 shares a base built
    byte-wise (byte k of long j = (g·37 + (8j+k)·101 + (g²·13)%251) %
    256, top byte of each long %128 so the SUM construction never
    overflows a signed long in either engine — flips may still set bit
    63 via XOR, which both engines handle two's-complement-exactly).
    Member m = doc_id // 40 flips the first 3·(m//2) positions of the
    group's stride-19 sequence mod 255 (19 ⟂ 255, so positions are
    distinct until the 255-cycle wraps; the flip set of each member is
    a PREFIX of the next, giving the exact distance ladder 0, 3, 6,
    ...)."""
    g = doc_id % 40
    m = doc_id // 40
    mix = (g * g * 13) % 251
    longs = []
    for j in range(4):
        v = 0
        for k in range(8):
            byte = (g * 37 + (8 * j + k) * 101 + mix) % 256
            if k == 7:
                byte %= 128
            v |= byte << (8 * k)
        longs.append(v)
    for p in {(g * 11 + i * 19) % 255 for i in range(3 * (m // 2))}:
        longs[p // 64] ^= 1 << (p % 64)
    return [v - (1 << 64) if v >= (1 << 63) else v for v in longs]


def _render_dhash_grid256(longs: list[int]):
    """16×17 grayscale grid whose dhash256 is exactly ``longs``: each
    row walks from 128 in ±4 steps (16 steps ⇒ range [64, 192], strict
    comparisons, ties impossible)."""
    grid = np.zeros((16, 17), dtype=np.uint8)
    for y in range(16):
        v = 128
        grid[y][0] = v
        for x in range(16):
            p = y * 16 + x
            bit = (longs[p // 64] >> (p % 64)) & 1
            v = v + 4 if bit else v - 4
            grid[y][x + 1] = v
    return grid


def q_mm_image_neardup_wide(spark, sf):
    """Wide-signature perceptual near-dup (r11, VERDICT r10 #4): the
    256-bit dHash closes the regime SCALE.md's own ladder names as the
    64-bit cliff (radius ≥ 6 at ≥ 10M rows, where 8-bit block keys go
    dense). Per document a REAL image is rendered (the 2×-upscaled
    16×17 walk grid), GIF-encoded, decoded back through the native
    codec and hashed to 4×int64 inside ONE Arrow stage
    (image_signatures kind="dhash256"; pixels never leave Python);
    hamming_neardup_pairs(n_longs=4) then runs the block-combination
    join at radius 7 with the minimal 8-block config — **32-bit block
    keys**, so expected bucket density is n/2³² and the pair join
    stays sparse at any realistic corpus. Oracle: closed-form 4-long
    signatures + brute-force pairs (equal by pigeonhole)."""
    from vector_lake_spark.operators.binary import hamming_neardup_pairs
    from vector_lake_spark.operators.imagehash import image_signatures

    d = _t(spark, sf, "documents")
    params = d.select(F.col("doc_id").alias("media_id"))

    from vector_lake_spark.gif import encode_gif

    def mux(r):
        grid = _render_dhash_grid256(
            _dhash_fixture_sig256(r.media_id)
        )
        img = np.kron(grid, np.ones((2, 2), dtype=np.uint8))
        yield r.media_id, encode_gif(np.repeat(img[:, :, None], 3, axis=2))

    params = _spread(spark, d, params)
    media = map_rows(params, mux, "media_id long, payload binary")
    sigs = image_signatures(media, kind="dhash256")
    # minimal pinned config (the auto default resolves to 8 at every
    # registry scale and would re-run the codec chain for a count —
    # the mm_image_neardup lesson); at 100 TB, persist signatures and
    # let auto size
    return hamming_neardup_pairs(
        sigs, radius=7, id_col="media_id", n_blocks=8, n_longs=4
    )


def _sql_mm_image_neardup_wide() -> str:
    # the 4 closed-form longs, inlined byte-wise with place values
    # (top byte of each long %128 keeps every BASE below 2^63); flips
    # applied per long from the stride-19 position sequence mod 255.
    # A flip at bit 63 of a long is legal — the mask sum runs in
    # HUGEINT and folds to signed int64 two's complement explicitly
    # (BIGINT << 63 overflows in DuckDB).
    flip_cols = ",\n         ".join(
        f"""COALESCE(list_sum(list_transform(
           list_filter(pos, p -> p // 64 = {j}),
           p -> CAST(1 AS HUGEINT) << CAST(p % 64 AS INT)
         )), 0) AS f{j}"""
        for j in range(4)
    )
    long_cols = []
    for j in range(4):
        byte_terms = " + ".join(
            f"((g*37 + {(8 * j + k) * 101} + (g*g*13) % 251) % "
            f"{128 if k == 7 else 256}) * {1 << (8 * k)}"
            for k in range(8)
        )
        long_cols.append(
            f"""xor(
           CAST({byte_terms} AS BIGINT),
           CAST(CASE WHEN f{j} >= 9223372036854775808
                THEN f{j} - 18446744073709551616
                ELSE f{j} END AS BIGINT)
         ) AS s{j}"""
        )
    longs_sql = ",\n         ".join(long_cols)
    # bit_count returns TINYINT in DuckDB — the 4-term sum can reach
    # 256, so widen each term before adding
    dist = " + ".join(
        f"CAST(bit_count(xor(a.s{j}, b.s{j})) AS INT)" for j in range(4)
    )
    return f"""
WITH p AS (
  SELECT doc_id, doc_id % 40 AS g,
         list_distinct(list_transform(
           range(3 * ((doc_id // 40) // 2)),
           i -> CAST((doc_id % 40 * 11 + i * 19) % 255 AS INT)
         )) AS pos
  FROM documents
),
f AS (
  SELECT doc_id, g,
         {flip_cols}
  FROM p
),
s AS (
  SELECT doc_id,
         {longs_sql}
  FROM f
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST({dist} AS INT) AS dist
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE {dist} <= 7
"""


SQL_MM_IMAGE_NEARDUP_WIDE = _sql_mm_image_neardup_wide()


PHASH_COEFF_SUM = 1008.0  # Σ of the 63 AC targets → mean is exactly 16


def _phash_fixture_sig(doc_id: int) -> int:
    """Closed-form target pHash (r12, VERDICT r11 #5). Positions are
    bit indices v·8+u of the 8×8 DCT block (1..63; 0 is the excluded
    DC). Group g = doc_id % 40 sets 8 base positions on the ODD pool
    (2·((g·3 + j·5) % 31) + 1, stride 5 ⟂ 31 → distinct); member depth
    h = (doc_id // 40) // 2 adds the first 2·h positions of the
    group's EVEN-pool stride sequence (2·(1 + (g·7 + i·3) % 31),
    stride 3 ⟂ 31 → distinct until the 31-cycle saturates). Disjoint
    pools mean depth only ever ADDS bits, so prefix-nested sets give
    the exact distance ladder 0, 2, 4, … between depths — adjacent
    depths sit inside the query's radius 4, depth-gap-3 outside."""
    g = doc_id % 40
    h = (doc_id // 40) // 2
    s = {2 * ((g * 3 + j * 5) % 31) + 1 for j in range(8)}
    s |= {2 * (1 + (g * 7 + i * 3) % 31) for i in range(2 * h)}
    sig = 0
    for p in s:
        sig |= 1 << p
    return sig


def _render_phash_grid(sig: int):
    """32×32 grayscale grid whose pHash is exactly ``sig``: the grid is
    128 + a sum of the 2-D DCT basis functions at the hash's set
    positions, so by orthogonality the 8×8 low-frequency block carries
    coefficient T = 1008/k at each of the k set positions and ~0
    elsewhere; the AC mean is then exactly 16 regardless of k, every
    set coefficient clears it by ≥ 9.8 (k ≤ 39 by construction), and
    uint8 rounding perturbs an orthonormal coefficient by ≪ 1 — so the
    strict comparisons can never flip (margin pinned empirically over
    the whole finite fixture domain in tests/test_imagehash.py).
    Amplitudes divide by the basis-column norms (√32 for the DC factor,
    4 otherwise), keeping Σ|amplitude| = 1008/16 = 63 → pixels in
    [65, 191], no clipping at any doc_id."""
    pos = [p for p in range(1, 64) if (sig >> p) & 1]
    t = PHASH_COEFF_SUM / len(pos)
    n = np.arange(32)
    grid = np.full((32, 32), 128.0)
    for p in pos:
        u, v = p % 8, p // 8
        cu = np.sqrt(32.0) if u == 0 else 4.0
        cv = np.sqrt(32.0) if v == 0 else 4.0
        bx = np.cos(np.pi * u * (2 * n + 1) / 64.0)
        by = np.cos(np.pi * v * (2 * n + 1) / 64.0)
        grid += (t / (cu * cv)) * np.outer(by, bx)
    return np.round(grid).astype(np.uint8)


def q_mm_image_phash(spark, sf):
    """DCT-pHash image near-duplicate pairs (r12, VERDICT r11 #5) —
    the robust-hash leg of the image dedup matrix: dHash/dhash256
    cover re-encode/resolution; pHash's mean-thresholded low-frequency
    DCT block additionally survives gamma/tone-curve and mild blur
    (robustness pinned in tests/test_imagehash.py; this query pins the
    engine path). Per document a REAL 32×32 image is rendered from the
    closed-form DCT spectral walk above (the ``dhash256`` pattern in
    the frequency domain; grid-sized — the non-trivial downsample leg
    is pinned by the exhaustive 2×-kron parity sweep in
    tests/test_imagehash.py and in-registry by mm_image_neardup's
    upscaled fixtures, and skipping it here cuts the dominant GIF
    codec cost ~4×: measured 13.8 → 3.4 ms/doc single-core), encoded
    to GIF (lossless, gif.py), decoded
    back through the native codec, box-resampled and DCT-hashed
    inside ONE Arrow stage (``image_signatures(kind="phash")`` —
    pixels never leave Python, only (media_id, int64) rows shuffle).
    The 5-block pigeonhole join then finds every pair within Hamming
    radius 4 EXACTLY. Oracle: closed-form signatures + brute-force
    pairs."""
    from vector_lake_spark.operators.binary import hamming_neardup_pairs
    from vector_lake_spark.operators.imagehash import image_signatures

    d = _t(spark, sf, "documents")
    params = d.select(F.col("doc_id").alias("media_id"))

    from vector_lake_spark.gif import encode_gif

    def mux(r):
        grid = _render_phash_grid(_phash_fixture_sig(r.media_id))
        yield r.media_id, encode_gif(np.repeat(grid[:, :, None], 3, axis=2))

    params = _spread(spark, d, params)
    media = map_rows(params, mux, "media_id long, payload binary")
    sigs = image_signatures(media, kind="phash")
    # minimal config pinned for the same reason as mm_image_neardup:
    # auto would fire a count() that re-runs the codec chain, and it
    # resolves to radius+1 = 5 at every registry scale anyway (12/13-bit
    # keys). At 100 TB, persist the signatures and let auto size.
    return hamming_neardup_pairs(
        sigs, radius=4, id_col="media_id", n_blocks=5
    )


def _sql_mm_image_phash() -> str:
    return """
WITH p AS (
  SELECT doc_id, doc_id % 40 AS g, (doc_id // 40) // 2 AS h
  FROM documents
),
s AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(
           list_distinct(list_concat(
             list_transform(range(8),
                            j -> 2 * ((g*3 + j*5) % 31) + 1),
             list_transform(range(2 * h),
                            i -> 2 * (1 + (g*7 + i*3) % 31))
           )),
           q -> CAST(1 AS BIGINT) << CAST(q AS INT)
         )) AS BIGINT) AS sig
  FROM p
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS dist
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 4
"""


SQL_MM_IMAGE_PHASH = _sql_mm_image_phash()


def q_mm_exif_probe(spark, sf):
    """EXIF orientation/dimension/timestamp probe at table scale (r10,
    VERDICT r09 #7). Per document a real JPEG is encoded (jpeg.py) and
    an APP1 Exif segment — a complete byte-order-tagged TIFF with IFD0
    (Orientation, DateTime, Exif-IFD pointer) and an Exif IFD
    (PixelX/YDimension, DateTimeOriginal) — is spliced after SOI
    (exif.py, layout hand-built from the public EXIF/TIFF spec);
    `probe_exif` walks it back through `tiff._read_ifd`, alternating
    II/MM byte orders across the sweep. One doc in ten carries NO EXIF
    (has_exif=false, NULL fields): at crawl scale absence is data, and
    the oracle hashes that path too. Orientation is what a real
    pipeline applies BEFORE perceptual hashing (mm_image_neardup) —
    this probe is the metadata half of that rotate-then-hash stage. No
    pixel is ever decoded; header arithmetic only."""
    from vector_lake_spark.exif import (
        build_exif_tiff,
        insert_exif_app1,
        probe_exif,
    )

    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 8 + 1).cast("int").alias("ori"),
        ((F.col("doc_id") % 300 + 5) * 16).cast("int").alias("w"),
        ((F.col("n_chars") % 200 + 4) * 12).cast("int").alias("h"),
        (F.col("doc_id") % 12 + 1).cast("int").alias("mo"),
        (F.col("doc_id") % 28 + 1).cast("int").alias("dy"),
        (F.col("n_chars") % 24).cast("int").alias("hh"),
        (F.col("n_chars") % 60).cast("int").alias("mi"),
        (F.col("doc_id") % 60).cast("int").alias("ss"),
        ((F.col("doc_id") + F.col("n_chars")) % 24).cast("int").alias("hh2"),
        # byte order decorrelated from the orientation axis (doc_id%8):
        # with doc_id%2 the odd orientations would never sweep MM —
        # the mm_ogg_probe correlation lesson (r09 advice) applied here
        ((F.col("doc_id") / 8).cast("long") % 2 == 0).alias("ii"),
        (F.col("doc_id") % 10 == 9).alias("bare"),
    )

    from vector_lake_spark.jpeg import encode_jpeg

    base_jpeg = encode_jpeg(np.full((16, 16), 40, dtype=np.uint8), 90)

    def one(r):
        if r.bare:
            payload = base_jpeg
        else:
            dt = f"2024:{r.mo:02d}:{r.dy:02d} {r.hh:02d}:{r.mi:02d}:{r.ss:02d}"
            dto = f"2024:{r.mo:02d}:{r.dy:02d} {r.hh2:02d}:{r.mi:02d}:{r.ss:02d}"
            payload = insert_exif_app1(
                base_jpeg,
                build_exif_tiff(
                    r.ori, r.w, r.h, dt, dto,
                    "II" if r.ii else "MM",
                ),
            )
        info = probe_exif(payload)
        yield (
            r.media_id,
            info["has_exif"],
            info["byte_order"],
            info["orientation"],
            info["width"],
            info["height"],
            info["datetime"],
            info["datetime_original"],
        )

    params = _spread(spark, d, params)
    return map_rows(
        params,
        one,
        (
            "media_id long, has_exif boolean, byte_order string, "
            "orientation int, width int, height int, datetime string, "
            "datetime_original string"
        ),
    )


SQL_MM_EXIF_PROBE = """
WITH p AS (
  SELECT doc_id AS media_id,
         doc_id % 8 + 1 AS ori,
         (doc_id % 300 + 5) * 16 AS w,
         (n_chars % 200 + 4) * 12 AS h,
         doc_id % 12 + 1 AS mo,
         doc_id % 28 + 1 AS dy,
         n_chars % 24 AS hh,
         n_chars % 60 AS mi,
         doc_id % 60 AS ss,
         (doc_id + n_chars) % 24 AS hh2,
         (doc_id // 8) % 2 = 0 AS ii,
         doc_id % 10 = 9 AS bare
  FROM documents
)
SELECT media_id,
       NOT bare AS has_exif,
       CASE WHEN bare THEN NULL
            WHEN ii THEN 'II' ELSE 'MM' END AS byte_order,
       CAST(CASE WHEN bare THEN NULL ELSE ori END AS INT) AS orientation,
       CAST(CASE WHEN bare THEN NULL ELSE w END AS INT) AS width,
       CAST(CASE WHEN bare THEN NULL ELSE h END AS INT) AS height,
       CASE WHEN bare THEN NULL
            ELSE printf('2024:%02d:%02d %02d:%02d:%02d', mo, dy, hh, mi, ss)
            END AS datetime,
       CASE WHEN bare THEN NULL
            ELSE printf('2024:%02d:%02d %02d:%02d:%02d', mo, dy, hh2, mi, ss)
            END AS datetime_original
FROM p
"""


def q_mm_image_orient(spark, sf):
    """Rotate-before-hash: the composed orientation-aware perceptual
    pipeline (r10 — mm_exif_probe's metadata driving mm_image_neardup's
    hash). Per document the upright fixture image (closed-form dHash,
    see q_mm_image_neardup) is stored INVERSE-rotated under one of the
    eight EXIF orientations and written as a real TIFF whose IFD
    carries Orientation tag 274 (`encode_tiff(orientation=...)`).
    The operator then does what a curation pipeline must: probe the
    tag (`probe_exif`), decode the pixels, correct them upright
    (`imagehash.apply_exif_orientation`), and hash. A green oracle
    hash proves every orientation case inverts exactly through a real
    file format — hash the stored pixels directly and orientations
    5-8 would not even have the right grid shape. One Arrow stage,
    no shuffle; the signature is the only thing that leaves Python."""
    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 8 + 1).cast("int").alias("ori"),
    )

    from vector_lake_spark.exif import probe_exif
    from vector_lake_spark.operators.imagehash import (
        INVERSE_ORIENTATION,
        apply_exif_orientation,
        decode_image_gray,
        dhash64,
    )
    from vector_lake_spark.tiff import encode_tiff

    def one(r):
        sig = _dhash_fixture_sig(int(r.media_id))
        upright = np.kron(
            _render_dhash_grid(sig),
            np.ones((2, 2), dtype=np.uint8),
        )
        stored = apply_exif_orientation(
            upright, INVERSE_ORIENTATION[r.ori]
        )
        payload = encode_tiff(
            np.ascontiguousarray(stored), orientation=r.ori
        )
        # the pipeline under test: probe -> decode -> correct
        # -> hash (all against the real bytes)
        info = probe_exif(payload)
        ori = info["orientation"] or 1
        px = apply_exif_orientation(
            decode_image_gray(payload), ori
        )
        yield r.media_id, ori, dhash64(px)

    params = _spread(spark, d, params)
    return map_rows(params, one, "media_id long, orientation int, sig long")


def _sql_mm_image_orient() -> str:
    byte_terms = " + ".join(
        f"((g*37 + {k*101} + (g*g*13) % 251) % {128 if k == 7 else 256})"
        f" * {1 << (8 * k)}"
        for k in range(8)
    )
    return f"""
WITH p AS (
  SELECT doc_id AS media_id,
         doc_id % 8 + 1 AS ori,
         doc_id % 40 AS g,
         3 * ((doc_id // 40) // 2) AS nf
  FROM documents
)
SELECT media_id,
       CAST(ori AS INT) AS orientation,
       xor(
         CAST({byte_terms} AS BIGINT),
         COALESCE(CAST(list_sum(list_transform(
           list_distinct(list_transform(range(nf),
                         i -> CAST((g*11 + i*17) % 63 AS INT))),
           p -> CAST(1 AS BIGINT) << p
         )) AS BIGINT), 0)
       ) AS sig
FROM p
"""


SQL_MM_IMAGE_ORIENT = _sql_mm_image_orient()


def _image_dedup_sigs(spark, sf):
    """The Arrow stage of pipe_image_dedup_e2e, exposed for plan
    pinning: per document the upright fixture image (closed-form dHash,
    q_mm_image_neardup) is stored INVERSE-rotated as a real TIFF whose
    IFD carries Orientation tag doc_id%8+1 (the mm_image_orient
    fixture), and ONE map_rows stage does the full curation prelude —
    probe the EXIF tag, decode the pixels, correct upright, hash.
    Pixels and payloads never leave Python; only (media_id, sig int64)
    rows emerge."""
    d = _t(spark, sf, "documents")
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 8 + 1).cast("int").alias("ori"),
    )

    from vector_lake_spark.exif import probe_exif
    from vector_lake_spark.operators.imagehash import (
        INVERSE_ORIENTATION,
        apply_exif_orientation,
        decode_image_gray,
        dhash64,
    )
    from vector_lake_spark.tiff import encode_tiff

    def one(r):
        upright = np.kron(
            _render_dhash_grid(_dhash_fixture_sig(int(r.media_id))),
            np.ones((2, 2), dtype=np.uint8),
        )
        stored = apply_exif_orientation(
            upright, INVERSE_ORIENTATION[r.ori]
        )
        payload = encode_tiff(
            np.ascontiguousarray(stored), orientation=r.ori
        )
        info = probe_exif(payload)
        px = apply_exif_orientation(
            decode_image_gray(payload), info["orientation"] or 1
        )
        yield r.media_id, dhash64(px)

    params = _spread(spark, d, params)
    return map_rows(params, one, "media_id long, sig long")


def q_pipe_image_dedup_e2e(spark, sf):
    """Composed image-curation dedup pipeline (r11, VERDICT r10 #2) —
    the image twin of pipe_crawl_e2e: EXIF probe → rotate upright →
    dHash (ONE Arrow stage, _image_dedup_sigs) → banded-Hamming pair
    join (radius 7, pigeonhole-exact) → star-contraction connected
    components → keep-best survivor per cluster (min media_id — the
    deterministic keep rule; ties impossible) with its duplicate count
    and surviving signature. This is the LAION-style curation run as
    one engine invocation: pixels never shuffle (plan-pinned), the
    only exchanges past the Arrow stage carry (id, sig, key) rows and
    the CC contraction's (int, int) edges. Oracle: closed-form fixture
    signatures + brute-force pairs + recursive-CTE min-reachable-id
    (equal by pigeonhole + CC uniqueness)."""
    from vector_lake_spark.operators.binary import hamming_neardup_pairs
    from vector_lake_spark.operators.dedup import connected_components_star

    # the signature table feeds THREE plan consumers (both pair-join
    # sides + the survivor attach): checkpoint it lazily so the probe/
    # decode/hash Arrow stage runs once — the "persist signatures" scale
    # posture in miniature (SCALE.md, composed image curation e2e)
    sigs = _image_dedup_sigs(spark, sf).localCheckpoint(eager=False)
    pairs = hamming_neardup_pairs(
        sigs, radius=7, id_col="media_id", n_blocks=8,
        # checkpointed input — skip the shared-shuffle barrier (r13)
        input_materialized=True,
    )
    cc = connected_components_star(
        pairs, sigs.select("media_id"), id_col="media_id"
    )
    return (
        cc.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("dup_cnt"))
        .join(sigs, F.col("cluster_id") == F.col("media_id"))
        .select("media_id", "dup_cnt", "sig")
    )


def _sql_pipe_image_dedup_e2e() -> str:
    byte_terms = " + ".join(
        f"((g*37 + {k*101} + (g*g*13) % 251) % {128 if k == 7 else 256})"
        f" * {1 << (8 * k)}"
        for k in range(8)
    )
    return f"""
WITH RECURSIVE
p AS (
  SELECT doc_id, doc_id % 40 AS g, 3 * ((doc_id // 40) // 2) AS nf
  FROM documents
),
s AS (
  SELECT doc_id,
         xor(
           CAST({byte_terms} AS BIGINT),
           COALESCE(CAST(list_sum(list_transform(
             list_distinct(list_transform(range(nf),
                           i -> CAST((g*11 + i*17) % 63 AS INT))),
             p -> CAST(1 AS BIGINT) << p
           )) AS BIGINT), 0)
         ) AS sig
  FROM p
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sig, b.sig)) <= 7
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL
          SELECT id_b AS a, id_a AS b FROM pairs),
reach AS (
  SELECT doc_id AS id, doc_id AS r FROM s
  UNION
  SELECT e2.a AS id, reach.r AS r FROM edges e2 JOIN reach ON reach.id = e2.b
),
lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT s.doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS dup_cnt,
       s.sig AS sig
FROM lab JOIN s ON s.doc_id = lab.cluster_id
GROUP BY s.doc_id, s.sig
"""


SQL_PIPE_IMAGE_DEDUP_E2E = _sql_pipe_image_dedup_e2e()


def _audio_fixture_sig(doc_id: int) -> int:
    """Closed-form target audio fingerprint (r11, VERDICT r10 #5) —
    the audio twin of ``_dhash_fixture_sig`` with its own constants so
    the two fixtures never collide. Group g = doc_id % 40 shares a
    63-bit base (byte k = (g·53 + k·97 + (g²·29)%241) % 256, top byte
    %128); member m = doc_id // 40 flips the first 3·(m//2) positions
    of the group's stride-13 sequence mod 63 (13 ⟂ 63) — prefix-nested
    flip sets give the exact distance ladder 0, 3, 6, ..."""
    g = doc_id % 40
    m = doc_id // 40
    mix = (g * g * 29) % 241
    base = 0
    for k in range(8):
        byte = (g * 53 + k * 97 + mix) % 256
        if k == 7:
            byte %= 128
        base |= byte << (8 * k)
    mask = 0
    for i in range(3 * (m // 2)):
        mask |= 1 << ((g * 7 + i * 13) % 63)
    return base ^ mask


_AUDIO_COS_BASIS: dict = {}


def _render_audio_pcm(sig: int):
    """Synthesize 512 int16 PCM samples whose audio fingerprint is
    exactly ``sig``: the 8×9 walk grid (``_render_dhash_grid`` — the
    fingerprint IS a dHash of the spectrogram) gives per-(frame, band)
    levels; each frame is the sum of 9 full-frame cosines at the
    fingerprint's bins (3..11) with amplitude 2^((level−64)/16 + 4) —
    adjacent levels differ by ±8, i.e. a 2× energy gap, while int16
    rounding perturbs a band's 512..4096-amplitude line by ≤32, so the
    strict comparisons can never flip (worst-case-aligned bound in
    operators/audiofp docstring). The loudest possible walk sums to
    ~13.4k < 32767: no clipping at any doc_id."""
    # the 9 cosine lines depend only on the band index — computed once
    # per process (r12, guide §4.5 "heavyweight init once"): same
    # np.cos over the same inputs, and the amp·cos accumulation below
    # keeps its exact per-band order, so every sample is bit-identical
    # to the inline form (the fingerprint's strict comparisons and the
    # oracle's closed-form sums are unchanged)
    basis = _AUDIO_COS_BASIS.get("b")
    if basis is None:
        n = np.arange(64)
        basis = [
            np.cos(2.0 * np.pi * (3 + b) * n / 64.0) for b in range(9)
        ]
        _AUDIO_COS_BASIS["b"] = basis

    grid = _render_dhash_grid(sig)  # (8, 9) levels in [64, 192]
    out = np.zeros(512, dtype=np.float64)
    for f in range(8):
        seg = np.zeros(64, dtype=np.float64)
        for b in range(9):
            amp = 2.0 ** ((int(grid[f][b]) - 64) / 16.0 + 4.0)
            seg += amp * basis[b]
        out[f * 64 : (f + 1) * 64] = seg
    return np.round(out).astype(np.int16)


def _mux_audio_fixture(samples, mode: int) -> bytes:
    """The mm_audio_neardup codec matrix (widened r12, VERDICT r11 #2):
    one fixture waveform, four REAL containers, all in their EXACT-
    decode regime so every leg reproduces the identical samples — and
    therefore the identical closed-form fingerprint (one oracle for the
    whole matrix):

    - 0: integer-PCM WAV (stdlib ``wave`` path — the r11 leg);
    - 1: IEEE float32 WAV (int16 values are exact in float32; the
      fingerprint is scale-invariant so the float domain needs no
      rescaling);
    - 2: IMA ADPCM WAV at samples-per-block=1 — every sample is a
      block-header int16 LITERAL, the codec's exact-decode regime (the
      mm_wav_depths pattern): the real tag-0x11 RIFF walk, header
      parse and fact-chunk trim all run, with zero quantization. The
      lossy nibble regime is covered by tolerance tests
      (tests/test_audiofp.py), not the oracle;
    - 3: FLAC (lossless by construction — ``flac.py`` round-trip)."""
    import struct

    if mode == 1:
        from vector_lake_spark.multimodal import encode_wav_ext

        return encode_wav_ext(
            np.asarray(samples, dtype=np.float64), 8000, "float32"
        )
    if mode == 2:
        from vector_lake_spark.adpcm import mux_ima_adpcm_wav

        data = b"".join(
            struct.pack("<hBB", int(s), 0, 0) for s in samples
        )
        return mux_ima_adpcm_wav(data, 8000, 1, 4, len(samples))
    if mode == 3:
        from vector_lake_spark.flac import encode_flac

        return encode_flac(samples, 8000, 16)
    from vector_lake_spark.operators.audiofp import mux_pcm16_wav

    return mux_pcm16_wav(samples)


def q_mm_audio_neardup(spark, sf):
    """Perceptual audio near-duplicate pairs (r11, VERDICT r10 #5;
    codec matrix widened r12, VERDICT r11 #2) — the audio leg of the
    dedup family, closing the gap between the audio decode stack and
    the Hamming pair machinery. Per document a REAL 512-sample clip is
    synthesized from the closed-form spectral walk above, muxed into
    one of FOUR real containers by doc_id%4 (integer-PCM WAV, IEEE
    float32 WAV, IMA-ADPCM WAV in its exact-decode regime, FLAC —
    ``_mux_audio_fixture``), decoded back through the REAL magic/tag-
    dispatched decoders (audiofp.decode_wav_samples — the widened
    routing under test) and fingerprinted (sign-of-adjacent-band-energy
    over 8 frames × 9 FFT bands — Haitsma-Kalker-style, integer-exact
    by construction) inside ONE Arrow stage: samples never leave
    Python, only (media_id, int64) rows shuffle. The 8-band block join
    then finds every pair within Hamming radius 7 EXACTLY (pigeonhole).
    Every leg decodes to identical samples, so near-dup pairs form
    ACROSS codecs — the actual curation property (a FLAC re-encode of
    a WAV clip collapses) — and the oracle stays the one closed-form
    signature table + brute-force pairs."""
    from vector_lake_spark.operators.audiofp import (
        audio_fingerprint64,
        decode_wav_samples,
    )
    from vector_lake_spark.operators.binary import hamming_neardup_pairs

    d = _t(spark, sf, "documents")
    params = d.select(F.col("doc_id").alias("media_id"))

    def one(r):
        payload = _mux_audio_fixture(
            _render_audio_pcm(_audio_fixture_sig(r.media_id)),
            r.media_id % 4,
        )
        samples, _rate = decode_wav_samples(payload)
        yield r.media_id, audio_fingerprint64(samples)

    params = _spread(spark, d, params)
    sigs = map_rows(params, one, "media_id long, sig long")
    return hamming_neardup_pairs(
        sigs, radius=7, id_col="media_id", n_blocks=8
    )


def _sql_mm_audio_neardup() -> str:
    byte_terms = " + ".join(
        f"((g*53 + {k*97} + (g*g*29) % 241) % {128 if k == 7 else 256})"
        f" * {1 << (8 * k)}"
        for k in range(8)
    )
    return f"""
WITH p AS (
  SELECT doc_id, doc_id % 40 AS g, 3 * ((doc_id // 40) // 2) AS nf
  FROM documents
),
s AS (
  SELECT doc_id,
         xor(
           CAST({byte_terms} AS BIGINT),
           COALESCE(CAST(list_sum(list_transform(
             list_distinct(list_transform(range(nf),
                           i -> CAST((g*7 + i*13) % 63 AS INT))),
             p -> CAST(1 AS BIGINT) << p
           )) AS BIGINT), 0)
         ) AS sig
  FROM p
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS dist
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 7
"""


SQL_MM_AUDIO_NEARDUP = _sql_mm_audio_neardup()


AUDIO_LONG_WINDOWS = 4
AUDIO_LONG_MIN_MATCHED = 3


def _audio_long_fixture_sig(doc_id: int, window: int) -> int:
    """Closed-form per-window fingerprint for the LONG-FORM audio
    fixture (r12, VERDICT r11 #3) — the audio twin of
    ``_video_fixture_sig`` with its own constants. Group g = doc_id%40
    shares a per-window 63-bit base; member depth h = (doc_id//40)//2
    flips the first (2 + 2·window)·h positions of the window's
    stride-19 sequence mod 63 (19 ⟂ 63 → distinct until wrap).
    Prefix-nested flips give adjacent depths per-window distances
    (2, 4, 6, 8) — windows 0..2 inside radius 7, window 3 outside —
    so adjacent-depth pairs match EXACTLY 3 of 4 windows (the m-of-n
    threshold is load-bearing), depth-gap-2 pairs match only window 0
    (4, 8, 12, 16) and are rejected, and same-depth pairs match all
    4."""
    g = doc_id % 40
    h = (doc_id // 40) // 2
    mix = (g * g * 37) % 233
    base = 0
    for k in range(8):
        byte = (g * 59 + k * 103 + window * 43 + mix) % (
            128 if k == 7 else 256
        )
        base |= byte << (8 * k)
    mask = 0
    for i in range((2 + 2 * window) * h):
        mask |= 1 << ((g * 13 + window * 5 + i * 19) % 63)
    return base ^ mask


def q_mm_audio_neardup_long(spark, sf):
    """LONG-FORM perceptual audio near-duplicate pairs (r12, VERDICT
    r11 #3) — whole-recording near-dup, closing the ~64 ms scope limit
    of ``mm_audio_neardup``: per document a REAL 4-window (2048-sample)
    PCM WAV is synthesized window-by-window from the closed-form
    spectral walk, muxed, decoded and fingerprinted PER 512-sample
    WINDOW (``audiofp.audio_window_signatures``) inside ONE Arrow
    stage — samples never leave Python, only (media_id, int, int64)
    rows shuffle. ONE group-keyed exact radius-7 banded join on
    (window_no, band, bkey) matches windows within their timeline
    position only (``group_cols`` — the ``mm_video_neardup``
    temporal-alignment pattern verbatim, window index instead of frame
    index), and recording pairs keep ≥ 3 of 4 matching windows. The
    fixture's per-window flip ladder makes the threshold REAL:
    adjacent-depth members match exactly 3 windows (pass), depth-gap-2
    members match only window 0 (reject). Oracle: closed-form
    per-window signatures + brute-force window pairs + HAVING
    count ≥ 3."""
    from vector_lake_spark.operators.audiofp import (
        audio_window_signatures,
        mux_pcm16_wav,
    )
    from vector_lake_spark.operators.binary import hamming_neardup_pairs

    d = _t(spark, sf, "documents")
    params = d.select(F.col("doc_id").alias("media_id"))

    def mux(r):
        clip = np.concatenate(
            [
                _render_audio_pcm(
                    _audio_long_fixture_sig(r.media_id, w)
                )
                for w in range(AUDIO_LONG_WINDOWS)
            ]
        )
        yield r.media_id, mux_pcm16_wav(clip)

    params = _spread(spark, d, params)
    media = map_rows(params, mux, "media_id long, payload binary")
    sigs = audio_window_signatures(media).localCheckpoint(eager=False)
    pairs = hamming_neardup_pairs(
        sigs,
        radius=7,
        id_col="media_id",
        n_blocks=8,
        group_cols=["window_no"],
        # checkpointed input — skip the shared-shuffle barrier (r13)
        input_materialized=True,
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows_matched"),
            F.min("dist").cast("int").alias("min_dist"),
        )
        .filter(F.col("n_windows_matched") >= AUDIO_LONG_MIN_MATCHED)
    )


def _sql_mm_audio_neardup_long() -> str:
    byte_terms = " + ".join(
        f"((g*59 + {k*103} + w*43 + (g*g*37) % 233) % "
        f"{128 if k == 7 else 256}) * {1 << (8 * k)}"
        for k in range(8)
    )
    return f"""
WITH p AS (
  SELECT doc_id, doc_id % 40 AS g, (doc_id // 40) // 2 AS h, w
  FROM documents CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS w)
),
s AS (
  SELECT doc_id, w,
         xor(
           CAST({byte_terms} AS BIGINT),
           COALESCE(CAST(list_sum(list_transform(
             list_distinct(list_transform(range((2 + 2*w) * h),
                           i -> CAST((g*13 + w*5 + i*19) % 63 AS INT))),
             p -> CAST(1 AS BIGINT) << p
           )) AS BIGINT), 0)
         ) AS sig
  FROM p
),
wp AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.sig, b.sig)) AS dist
  FROM s a JOIN s b ON a.w = b.w AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sig, b.sig)) <= 7
)
SELECT id_a, id_b,
       CAST(count(*) AS BIGINT) AS n_windows_matched,
       CAST(min(dist) AS INT) AS min_dist
FROM wp GROUP BY id_a, id_b
HAVING count(*) >= {AUDIO_LONG_MIN_MATCHED}
"""


SQL_MM_AUDIO_NEARDUP_LONG = _sql_mm_audio_neardup_long()


def _video_fixture_sig(doc_id: int, frame: int) -> int:
    """Closed-form per-frame target dHash for the video near-dup
    fixture (r11). Group g = doc_id % 40 shares a (g, frame)-specific
    63-bit base (byte k = (g·61 + k·89 + frame·47 + (g²·31)%239) % 256,
    top byte %128); member m = doc_id // 40 flips the first
    (3+frame)·(m//2) positions of the (g, frame) stride-11 sequence
    mod 63 (11 ⟂ 63, prefix-nested). The per-frame flip RATE differs
    ((3+frame) per half-step), so members at half-distance Δh sit at
    frame distances 3Δh / 4Δh / 5Δh: Δh ≤ 1 matches all three frames,
    Δh = 2 matches ONLY frame 0 (6 ≤ 7 < 8, 10) — which is exactly
    what exercises the ≥2-of-3 video-level threshold: frame-level
    pairs exist that the video aggregate must reject."""
    g = doc_id % 40
    m = doc_id // 40
    mix = (g * g * 31) % 239
    base = 0
    for k in range(8):
        byte = (g * 61 + k * 89 + frame * 47 + mix) % 256
        if k == 7:
            byte %= 128
        base |= byte << (8 * k)
    mask = 0
    for i in range((3 + frame) * (m // 2)):
        mask |= 1 << ((g * 5 + frame * 3 + i * 11) % 63)
    return base ^ mask


def q_mm_video_neardup(spark, sf):
    """Perceptual VIDEO near-duplicate pairs (r11) — the video leg of
    the dedup family, composing the container stack (RLE8 AVI here;
    the operator dispatches MJPEG-AVI/MP4/Matroska identically) with
    per-frame dHash and the banded-Hamming machinery. Per document a
    REAL 3-frame RLE8 AVI is muxed (lossless palette codec, avi.py,
    gray identity palette) from per-frame closed-form walk grids; ONE
    Arrow stage decodes the sampled frames and hashes them
    (imagehash.video_frame_signatures — container bytes and pixels
    never shuffle), the signature table is checkpointed once, ONE
    group-keyed exact radius-7 banded join on (frame_no, band, bkey)
    matches frames within their frame index only (temporal alignment:
    re-encodes match frame-for-frame; group_cols — r11, so the plan
    does not unroll per frame index at production frame counts), and
    video pairs keep ≥ 2 of 3 matching frames. The fixture's per-frame
    flip rates make the threshold REAL: half-distance-2 members match
    on frame 0 only and must be rejected by the aggregate. Oracle:
    closed-form per-frame signatures + brute-force frame pairs +
    HAVING count ≥ 2."""
    from vector_lake_spark.operators.binary import hamming_neardup_pairs
    from vector_lake_spark.operators.imagehash import (
        video_frame_signatures,
    )

    d = _t(spark, sf, "documents")
    params = d.select(F.col("doc_id").alias("media_id"))

    from vector_lake_spark.avi import encode_avi_rle8

    pal = np.repeat(
        np.arange(256, dtype=np.uint8)[:, None], 3, axis=1
    )

    def mux(r):
        frames = [
            np.kron(
                _render_dhash_grid(
                    _video_fixture_sig(r.media_id, f)
                ),
                np.ones((2, 2), dtype=np.uint8),
            )
            for f in range(3)
        ]
        yield r.media_id, encode_avi_rle8(frames, pal, fps=10)

    params = _spread(spark, d, params)
    media = map_rows(params, mux, "media_id long, payload binary")
    sigs = video_frame_signatures(
        media, frame_indices=(0, 1, 2)
    ).localCheckpoint(eager=False)
    pairs = hamming_neardup_pairs(
        sigs,
        radius=7,
        id_col="media_id",
        n_blocks=8,
        group_cols=["frame_no"],
        # sigs is checkpointed: the decode runs once from the cache, so
        # the shared-shuffle repartition would be a pure extra barrier
        # (r13, VERDICT r12 #1 — the 32-core regression lived here)
        input_materialized=True,
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames_matched"),
            F.min("dist").cast("int").alias("min_dist"),
        )
        .filter(F.col("n_frames_matched") >= 2)
    )


def _sql_mm_video_neardup() -> str:
    byte_terms = " + ".join(
        f"((g*61 + {k*89} + f*47 + (g*g*31) % 239) % "
        f"{128 if k == 7 else 256}) * {1 << (8 * k)}"
        for k in range(8)
    )
    return f"""
WITH p AS (
  SELECT doc_id, doc_id % 40 AS g, (doc_id // 40) // 2 AS h, f
  FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS f)
),
s AS (
  SELECT doc_id, f,
         xor(
           CAST({byte_terms} AS BIGINT),
           COALESCE(CAST(list_sum(list_transform(
             list_distinct(list_transform(range((3 + f) * h),
                           i -> CAST((g*5 + f*3 + i*11) % 63 AS INT))),
             p -> CAST(1 AS BIGINT) << p
           )) AS BIGINT), 0)
         ) AS sig
  FROM p
),
fp AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.sig, b.sig)) AS dist
  FROM s a JOIN s b ON a.f = b.f AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sig, b.sig)) <= 7
)
SELECT id_a, id_b,
       CAST(count(*) AS BIGINT) AS n_frames_matched,
       CAST(min(dist) AS INT) AS min_dist
FROM fp GROUP BY id_a, id_b
HAVING count(*) >= 2
"""


SQL_MM_VIDEO_NEARDUP = _sql_mm_video_neardup()


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------
#
# One row per query: name -> (builder, DuckDB oracle SQL), so a builder
# without an oracle, or an oracle without a builder, cannot be written.
# Row order is the base order only: the driver's sampling order
# (never-checked first, then stalest-first) is computed by
# ``__spark_entry__.queries()`` (docs/ROTATION.md).

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {
    "vec_topk_cosine": (q_vec_topk_cosine, SQL_VEC_TOPK_COSINE),
    "vec_topk_l2": (q_vec_topk_l2, SQL_VEC_TOPK_L2),
    "vec_topk_batch": (q_vec_topk_batch, SQL_VEC_TOPK_BATCH),
    "vec_topk_truncated": (q_vec_topk_truncated, SQL_VEC_TOPK_TRUNCATED),
    "vec_topk_quantized": (q_vec_topk_quantized, SQL_VEC_TOPK_QUANTIZED),
    "hybrid_topk": (q_hybrid_topk, SQL_HYBRID_TOPK),
    "lsh_shard_assign": (q_lsh_shard_assign, SQL_LSH_SHARD_ASSIGN),
    "lsh_shard_hist": (q_lsh_shard_hist, SQL_LSH_SHARD_HIST),
    "ann_lsh_topk": (q_ann_lsh_topk, SQL_ANN_LSH_TOPK),
    "ann_lsh_recall": (q_ann_lsh_recall, SQL_ANN_LSH_RECALL),
    "vec_pq_recall": (q_vec_pq_recall, SQL_VEC_PQ_RECALL),
    "vec_ood_score": (q_vec_ood_score, SQL_VEC_OOD_SCORE),
    "text_zipf_fit": (q_text_zipf_fit, SQL_TEXT_ZIPF_FIT),
    "pipe_dedup_report": (q_pipe_dedup_report, SQL_PIPE_DEDUP_REPORT),
    "sketch_rolling_dau": (q_sketch_rolling_dau, SQL_SKETCH_ROLLING_DAU),
    "mm_gif_roundtrip": (q_mm_gif_roundtrip, SQL_MM_GIF_ROUNDTRIP),
    "pipe_decontaminate": (q_pipe_decontaminate, SQL_PIPE_DECONTAMINATE),
    "sketch_heavy_hitters": (q_sketch_heavy_hitters, SQL_SKETCH_HEAVY_HITTERS),
    "mm_media_probe": (q_mm_media_probe, SQL_MM_MEDIA_PROBE),
    "mm_container_probe": (q_mm_container_probe, SQL_MM_CONTAINER_PROBE),
    "mm_webp_probe": (q_mm_webp_probe, SQL_MM_WEBP_PROBE),
    "mm_webp_roundtrip": (q_mm_webp_roundtrip, SQL_MM_WEBP_ROUNDTRIP),
    "mm_wav_depths": (q_mm_wav_depths, SQL_MM_WAV_DEPTHS),
    "mm_webp_anim": (q_mm_webp_anim, SQL_MM_WEBP_ANIM),
    "mm_flac_roundtrip": (q_mm_flac_roundtrip, SQL_MM_FLAC_ROUNDTRIP),
    "mm_tiff_roundtrip": (q_mm_tiff_roundtrip, SQL_MM_TIFF_ROUNDTRIP),
    "mm_jpeg12_roundtrip": (q_mm_jpeg12_roundtrip, SQL_MM_JPEG12_ROUNDTRIP),
    "mm_rle8_roundtrip": (q_mm_rle8_roundtrip, SQL_MM_RLE8_ROUNDTRIP),
    "mm_mp3_probe": (q_mm_mp3_probe, SQL_MM_MP3_PROBE),
    "mm_ogg_probe": (q_mm_ogg_probe, SQL_MM_OGG_PROBE),
    "mm_image_neardup": (q_mm_image_neardup, SQL_MM_IMAGE_NEARDUP),
    "mm_image_neardup_wide": (q_mm_image_neardup_wide, SQL_MM_IMAGE_NEARDUP_WIDE),
    "mm_image_phash": (q_mm_image_phash, SQL_MM_IMAGE_PHASH),
    "mm_exif_probe": (q_mm_exif_probe, SQL_MM_EXIF_PROBE),
    "mm_image_orient": (q_mm_image_orient, SQL_MM_IMAGE_ORIENT),
    "pipe_image_dedup_e2e": (q_pipe_image_dedup_e2e, SQL_PIPE_IMAGE_DEDUP_E2E),
    "mm_audio_neardup": (q_mm_audio_neardup, SQL_MM_AUDIO_NEARDUP),
    "mm_audio_neardup_long": (q_mm_audio_neardup_long, SQL_MM_AUDIO_NEARDUP_LONG),
    "mm_video_neardup": (q_mm_video_neardup, SQL_MM_VIDEO_NEARDUP),
    "pipe_url_dedup": (q_pipe_url_dedup, SQL_PIPE_URL_DEDUP),
    "text_gopher_rules": (q_text_gopher_rules, SQL_TEXT_GOPHER_RULES),
    "pipe_crawl_e2e": (q_pipe_crawl_e2e, SQL_PIPE_CRAWL_E2E),
    "pipe_warc_extract": (q_pipe_warc_extract, SQL_PIPE_WARC_EXTRACT),
    "text_html_extract": (q_text_html_extract, SQL_TEXT_HTML_EXTRACT),
    "vec_neardup_pairs": (q_vec_neardup_pairs, SQL_VEC_NEARDUP_PAIRS),
    "vec_neardup_lsh": (q_vec_neardup_lsh, SQL_VEC_NEARDUP_LSH),
    "vec_centroid_by_label": (q_vec_centroid_by_label, SQL_VEC_CENTROID_BY_LABEL),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_jaccard_deep": (q_dedup_jaccard_deep, SQL_DEDUP_JACCARD_DEEP),
    "dedup_containment": (q_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "vec_dim_stats": (q_vec_dim_stats, SQL_VEC_DIM_STATS),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dedup_keep_best": (q_dedup_keep_best, SQL_DEDUP_KEEP_BEST),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_edit_distance": (q_dedup_edit_distance, SQL_DEDUP_EDIT_DISTANCE),
    "graph_pagerank": (q_graph_pagerank, SQL_GRAPH_PAGERANK),
    "graph_knn_edges": (q_graph_knn_edges, SQL_GRAPH_KNN_EDGES),
    "graph_knn_mutual": (q_graph_knn_mutual, SQL_GRAPH_KNN_MUTUAL),
    "graph_triangles": (q_graph_triangles, SQL_GRAPH_TRIANGLES),
    "dedup_minhash_native": (q_dedup_minhash_native, SQL_DEDUP_MINHASH_NATIVE),
    "ann_ivf_topk": (q_ann_ivf_topk, SQL_ANN_IVF),
    "ann_ivf_quantized": (q_ann_ivf_quantized, SQL_ANN_IVF_QUANTIZED),
    "text_stats_by_lang": (q_text_stats_by_lang, SQL_TEXT_STATS_BY_LANG),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "text_langid": (q_text_langid, SQL_TEXT_LANGID),
    "text_token_top20": (q_text_token_top20, SQL_TEXT_TOKEN_TOP20),
    "text_boilerplate_ngrams": (q_text_boilerplate_ngrams, SQL_TEXT_BOILERPLATE_NGRAMS),
    "pipe_span_dedup": (q_pipe_span_dedup, SQL_PIPE_SPAN_DEDUP),
    "text_bpe_tokens": (q_text_bpe_tokens, SQL_TEXT_BPE_TOKENS),
    "text_fingerprint": (q_text_fingerprint, SQL_TEXT_FINGERPRINT),
    "text_tfidf_top20": (q_text_tfidf_top20, SQL_TEXT_TFIDF_TOP20),
    "vec_quantize_int8": (q_vec_quantize_int8, SQL_VEC_QUANTIZE_INT8),
    "pipe_clean_corpus": (q_pipe_clean_corpus, SQL_PIPE_CLEAN_CORPUS),
    "pipe_split_stats": (q_pipe_split_stats, SQL_PIPE_SPLIT_STATS),
    "pipe_pack_sequences": (q_pipe_pack_sequences, SQL_PIPE_PACK_SEQUENCES),
    "pipe_contamination": (q_pipe_contamination, SQL_PIPE_CONTAMINATION),
    "pipe_stratified_sample": (q_pipe_stratified_sample, SQL_PIPE_STRATIFIED_SAMPLE),
    "vec_semantic_dedup": (q_vec_semantic_dedup, SQL_VEC_SEMANTIC_DEDUP),
    "text_redact_pii": (q_text_redact_pii, SQL_TEXT_REDACT_PII),
    "text_repetition": (q_text_repetition, SQL_TEXT_REPETITION),
    "text_chunk_windows": (q_text_chunk_windows, SQL_TEXT_CHUNK_WINDOWS),
    "pipe_quality_filter": (q_pipe_quality_filter, SQL_PIPE_QUALITY_FILTER),
    "pipe_curation_e2e": (q_pipe_curation_e2e, SQL_PIPE_CURATION_E2E),
    "text_lm_surprisal": (q_text_lm_surprisal, SQL_TEXT_LM_SURPRISAL),
    "ev_anomaly_zscore": (q_ev_anomaly_zscore, SQL_EV_ANOMALY_ZSCORE),
    "pipe_domain_mix": (q_pipe_domain_mix, SQL_PIPE_DOMAIN_MIX),
    "pipe_shuffle_shards": (q_pipe_shuffle_shards, SQL_PIPE_SHUFFLE_SHARDS),
    "text_length_histogram": (q_text_length_histogram, SQL_TEXT_LENGTH_HISTOGRAM),
    "profile_documents": (q_profile_documents, SQL_PROFILE_DOCUMENTS),
    "q1_pricing": (q_q1_pricing, SQL_Q1_PRICING),
    "q6_forecast_revenue": (q_q6_forecast_revenue, SQL_Q6_FORECAST_REVENUE),
    "q3_top_orders": (q_q3_top_orders, SQL_Q3_TOP_ORDERS),
    "q4_late_orders": (q_q4_late_orders, SQL_Q4_LATE_ORDERS),
    "q5_nation_revenue": (q_q5_nation_revenue, SQL_Q5_NATION_REVENUE),
    "q7_nation_volume": (q_q7_nation_volume, SQL_Q7_NATION_VOLUME),
    "q8_market_share": (q_q8_market_share, SQL_Q8_MARKET_SHARE),
    "q15_top_supplier": (q_q15_top_supplier, SQL_Q15_TOP_SUPPLIER),
    "q2_min_cost_supplier": (q_q2_min_cost_supplier, SQL_Q2_MIN_COST_SUPPLIER),
    "q9_product_profit": (q_q9_product_profit, SQL_Q9_PRODUCT_PROFIT),
    "q12_late_priority": (q_q12_late_priority, SQL_Q12_LATE_PRIORITY),
    "q20_dominant_suppliers": (q_q20_dominant_suppliers, SQL_Q20_DOMINANT_SUPPLIERS),
    "q21_waiting_suppliers": (q_q21_waiting_suppliers, SQL_Q21_WAITING_SUPPLIERS),
    "q11_important_stock": (q_q11_important_stock, SQL_Q11_IMPORTANT_STOCK),
    "q10_returned_items": (q_q10_returned_items, SQL_Q10_RETURNED_ITEMS),
    "q14_promo_revenue": (q_q14_promo_revenue, SQL_Q14_PROMO_REVENUE),
    "q19_disjunctive_revenue": (q_q19_disjunctive_revenue, SQL_Q19_DISJUNCTIVE_REVENUE),
    "q16_supplier_variety": (q_q16_supplier_variety, SQL_Q16_SUPPLIER_VARIETY),
    "q22_idle_balance": (q_q22_idle_balance, SQL_Q22_IDLE_BALANCE),
    "q13_customer_distribution": (
        q_q13_customer_distribution,
        SQL_Q13_CUSTOMER_DISTRIBUTION,
    ),
    "q17_small_qty_revenue": (q_q17_small_qty_revenue, SQL_Q17_SMALL_QTY_REVENUE),
    "q18_large_orders": (q_q18_large_orders, SQL_Q18_LARGE_ORDERS),
    "agg_rollup": (q_agg_rollup, SQL_AGG_ROLLUP),
    "grouping_sets": (q_grouping_sets, SQL_GROUPING_SETS),
    "cube_status_priority": (q_cube_status_priority, SQL_CUBE_STATUS_PRIORITY),
    "above_avg_customers": (q_above_avg_customers, SQL_ABOVE_AVG_CUSTOMERS),
    "monthly_revenue_trend": (q_monthly_revenue_trend, SQL_MONTHLY_REVENUE_TREND),
    "segment_quantiles": (q_segment_quantiles, SQL_SEGMENT_QUANTILES),
    "brand_revenue": (q_brand_revenue, SQL_BRAND_REVENUE),
    "distinct_customers_by_status": (
        q_distinct_customers_by_status,
        SQL_DISTINCT_CUSTOMERS_BY_STATUS,
    ),
    "ev_json_extract": (q_ev_json_extract, SQL_EV_JSON_EXTRACT),
    "ev_gapfill_locf": (q_ev_gapfill_locf, SQL_EV_GAPFILL_LOCF),
    "ev_ohlc_daily": (q_ev_ohlc_daily, SQL_EV_OHLC_DAILY),
    "ev_variant_extract": (q_ev_variant_extract, SQL_EV_VARIANT_EXTRACT),
    "ev_asof_join": (q_ev_asof_join, SQL_EV_ASOF_JOIN),
    "ev_funnel": (q_ev_funnel, SQL_EV_FUNNEL),
    "ev_retention_cohorts": (q_ev_retention_cohorts, SQL_EV_RETENTION_COHORTS),
    "ev_dau_new_returning": (q_ev_dau_new_returning, SQL_EV_DAU_NEW_RETURNING),
    "ev_error_window": (q_ev_error_window, SQL_EV_ERROR_WINDOW),
    "token_count_salted": (q_token_count_salted, SQL_TOKEN_COUNT_SALTED),
    "win_top3_per_nation": (q_win_top3_per_nation, SQL_WIN_TOP3_PER_NATION),
    "win_running_total": (q_win_running_total, SQL_WIN_RUNNING_TOTAL),
    "win_moving_avg": (q_win_moving_avg, SQL_WIN_MOVING_AVG),
    "win_range_frame": (q_win_range_frame, SQL_WIN_RANGE_FRAME),
    "win_distribution": (q_win_distribution, SQL_WIN_DISTRIBUTION),
    "vec_label_separation": (q_vec_label_separation, SQL_VEC_LABEL_SEPARATION),
    "join_semi": (q_join_semi, SQL_JOIN_SEMI),
    "join_anti": (q_join_anti, SQL_JOIN_ANTI),
    "setop_nations": (q_setop_nations, SQL_SETOP_NATIONS),
    "setop_suppkeys_all": (q_setop_suppkeys_all, SQL_SETOP_SUPPKEYS_ALL),
    "pivot_status_by_priority": (
        q_pivot_status_by_priority,
        SQL_PIVOT_STATUS_BY_PRIORITY,
    ),
    "ev_tumbling": (q_ev_tumbling, SQL_EV_TUMBLING),
    "ev_sliding": (q_ev_sliding, SQL_EV_SLIDING),
    "ev_sessionize": (q_ev_sessionize, SQL_EV_SESSIONIZE),
    "ev_stream_tumbling": (q_ev_stream_tumbling, SQL_EV_STREAM_TUMBLING),
    "ev_stream_sliding": (q_ev_stream_sliding, SQL_EV_SLIDING),
    "ev_stream_session": (q_ev_stream_session, SQL_EV_STREAM_SESSION),
    "ev_stream_interval_join": (q_ev_stream_interval_join, SQL_EV_STREAM_INTERVAL_JOIN),
    "dedup_stream_exact": (q_dedup_stream_exact, SQL_DEDUP_STREAM_EXACT),
    # incremental banded-LSH candidates must equal the batch pair set
    "dedup_stream_neardup": (q_dedup_stream_neardup, SQL_VEC_NEARDUP_LSH),
    "ev_top_users": (q_ev_top_users, SQL_EV_TOP_USERS),
    "mm_binary_stats": (q_mm_binary_stats, SQL_MM_BINARY_STATS),
    # the deterministic byte-fold stand-in is plain integer arithmetic
    "mm_feature_extract": (q_mm_feature_extract, SQL_MM_FEATURE_EXTRACT),
    "mm_frame_sample": (q_mm_frame_sample, SQL_MM_FRAME_SAMPLE),
    # pinned-codebook IVF is deterministic SQL -> same oracle as ann_ivf_topk
    "ann_ivf_stored": (q_ann_ivf_stored, SQL_ANN_IVF),
    "ev_rollup_merge": (q_ev_rollup_merge, SQL_EV_ROLLUP_MERGE),
    # stream-maintained partials must merge to the batch recompute
    "ev_stream_rollup": (q_ev_stream_rollup, SQL_EV_ROLLUP_MERGE),
    "sketch_distinct_users": (q_sketch_distinct_users, SQL_SKETCH_DISTINCT_USERS),
    "sketch_user_overlap": (q_sketch_user_overlap, SQL_SKETCH_USER_OVERLAP),
    "sketch_value_percentiles": (
        q_sketch_value_percentiles,
        SQL_SKETCH_VALUE_PERCENTILES,
    ),
    "ev_status_islands": (q_ev_status_islands, SQL_EV_STATUS_ISLANDS),
    "cdc_latest_state": (q_cdc_latest_state, SQL_CDC_LATEST_STATE),
    "zorder_events": (q_zorder_events, SQL_ZORDER_EVENTS),
    "vec_topk_filtered": (q_vec_topk_filtered, SQL_VEC_TOPK_FILTERED),
    "vec_topk_pq": (q_vec_topk_pq, SQL_VEC_TOPK_PQ),
    "ann_ivfpq_topk": (q_ann_ivfpq_topk, SQL_ANN_IVFPQ),
    "cdc_scd2_intervals": (q_cdc_scd2_intervals, SQL_CDC_SCD2_INTERVALS),
    "ivm_join_agg": (q_ivm_join_agg, SQL_IVM_JOIN_AGG),
    "vec_maxsim_topk": (q_vec_maxsim_topk, SQL_VEC_MAXSIM),
    "vec_topk_hamming": (q_vec_topk_hamming, SQL_VEC_TOPK_HAMMING),
    "vec_topk_hamming_stored": (q_vec_topk_hamming_stored, SQL_VEC_TOPK_HAMMING),
    "vec_topk_hamming_batch": (q_vec_topk_hamming_batch, SQL_VEC_TOPK_HAMMING_BATCH),
    "vec_hamming_recall": (q_vec_hamming_recall, SQL_VEC_HAMMING_RECALL),
    "ann_ivf_recall": (q_ann_ivf_recall, SQL_ANN_IVF_RECALL),
    "dq_lineitem_report": (q_dq_lineitem_report, SQL_DQ_LINEITEM_REPORT),
    "vec_topk_rrf": (q_vec_topk_rrf, SQL_VEC_TOPK_RRF),
    "pipe_token_budget": (q_pipe_token_budget, SQL_PIPE_TOKEN_BUDGET),
    "pipe_temperature_mix": (q_pipe_temperature_mix, SQL_PIPE_TEMPERATURE_MIX),
    "ev_stream_scd2": (q_ev_stream_scd2, SQL_CDC_SCD2_INTERVALS),
    "cdc_diff_snapshots": (q_cdc_diff_snapshots, SQL_CDC_DIFF_SNAPSHOTS),
    "pipe_weighted_sample": (q_pipe_weighted_sample, SQL_PIPE_WEIGHTED_SAMPLE),
    "ev_trend_per_user": (q_ev_trend_per_user, SQL_EV_TREND_PER_USER),
    "text_entropy": (q_text_entropy, SQL_TEXT_ENTROPY),
    "ev_anomaly_mad": (q_ev_anomaly_mad, SQL_EV_ANOMALY_MAD),
    "ev_transition_matrix": (q_ev_transition_matrix, SQL_EV_TRANSITION_MATRIX),
    "ev_twap": (q_ev_twap, SQL_EV_TWAP),
    "drift_psi": (q_drift_psi, SQL_DRIFT_PSI),
}

QUERIES = {name: build for name, (build, _) in REGISTRY.items()}
ORACLES = {name: sql for name, (_, sql) in REGISTRY.items()}
