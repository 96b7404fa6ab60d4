"""Exact top-k similarity search operators.

Replaces the reference's per-shard HNSW beam search (``/root/reference/
vector_lake/core/hnsw.py:148-228``) with the idiomatic batch plan
(SURVEY.md §4.3): score with native array expressions, then
``orderBy().limit(k)`` — Spark plans ``TakeOrderedAndProject`` (a per-
partition bounded heap + driver merge of k·numPartitions rows), which is
the distributed generalization of the reference's "early stop at k"
(``index.py:524-525``) and needs no global sort at any scale.

Determinism contract: scores are rounded to ``SCORE_DECIMALS`` *before*
ordering and ties break on the id column, so the selected set is identical
across engines (Spark vs the DuckDB oracle) despite last-ulp float drift.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

import math

from vector_lake_spark.functions.vectors import (
    dot,
    l2_distance,
    lit_vector,
    norm,
    to_double_array,
)

SCORE_DECIMALS = 6


def _query_norm(query: Sequence[float]) -> float:
    return math.sqrt(sum(float(x) * float(x) for x in query))


def topk_cosine(
    df: DataFrame,
    query: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact top-k most-similar rows to a single query vector.

    The query norm is a Python-side constant — inlining it avoids
    re-folding the literal array per row (Catalyst does not constant-fold
    higher-order aggregates over literals)."""
    v = to_double_array(F.col(vec_col))
    score = F.round(
        F.try_divide(dot(v, lit_vector(query)), norm(v) * F.lit(_query_norm(query))),
        SCORE_DECIMALS,
    )
    return (
        df.select(id_col, *keep_cols, score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def topk_l2(
    df: DataFrame,
    query: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact k-nearest rows by Euclidean distance (ascending)."""
    dist = F.round(
        l2_distance(to_double_array(F.col(vec_col)), lit_vector(query)),
        SCORE_DECIMALS,
    )
    return (
        df.select(id_col, *keep_cols, dist.alias("dist"))
        .orderBy(F.col("dist").asc(), F.col(id_col))
        .limit(k)
    )


def topk_cosine_batch(
    df: DataFrame,
    queries_df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Per-query top-k for a batch of query vectors.

    The query side is broadcast (small dim table of query vectors), so the
    corpus never shuffles: plan = scan → broadcast nested-loop join →
    partial group-limit → exchange → final rank. The ``rn <= k`` filter
    over ``row_number()`` triggers Catalyst's ``InferWindowGroupLimit``
    rule (Spark ≥3.5), which plans a ``WindowGroupLimit … Partial`` *below*
    the exchange: each map task locally sorts its scored rows (spillable)
    and emits at most k rows per query, so the exchange feeding the final
    rank carries ≤ k·|queries|·|partitions| rows — never the
    |corpus|·|queries| cross product. Pinned by
    ``tests/test_plans.py::test_batch_topk_partial_group_limit``. At
    100 TB the corpus streams through once and only winners shuffle.
    Returns (query_id, vec_id, score, rn) with rn ∈ [1, k].

    Against ``store.SparkVectorLake.query_batch``: this operator is
    exact and scores every row; ``query_batch`` is LSH-routed, scores
    only the probed shards and takes at most ``max_queries`` queries
    collected to the driver. Both put their whole query side into a
    broadcast, so neither serves a query side too large for the driver.
    """
    q = F.broadcast(
        queries_df.select(
            F.col(query_id_col),
            to_double_array(F.col(query_vec_col)).alias("__qv"),
        ).withColumn("__qnorm", norm(F.col("__qv")))
    )
    v = to_double_array(F.col(vec_col))
    score = F.round(
        F.try_divide(dot(v, F.col("__qv")), norm(v) * F.col("__qnorm")),
        SCORE_DECIMALS,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        df.crossJoin(q)
        .select(query_id_col, id_col, score.alias("score"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )
