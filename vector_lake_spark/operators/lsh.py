"""Random-hyperplane LSH router — exact behavioral parity with the reference.

Reference semantics (``/root/reference/vector_lake/core/index.py:34-68``):
``np.random.seed(42)`` then ``np.random.randn(num_hashes, dim)`` hyperplanes;
``shard = int(''.join('1' if dot(h_j, v) > 0 else '0'), 2)`` — i.e. bit j
(MSB-first) is the sign of the j-th projection. Shard count derivation
(``index.py:453-455``): ``num_hashes = int(log2(approx_shards) + 0.5)``,
``num_shards = 2**num_hashes``.

Spark-first rebuild: the hash is a pure column expression over the vector
column, so ``df.withColumn("shard_id", shard_id_expr(...))`` then
``write.partitionBy("shard_id")`` gives exact-parity shard layout, and a
query-side ``WHERE shard_id = <routed>`` becomes Parquet partition pruning —
the reference's "only read the routed shard" tactic, for free, at any scale.

We deliberately do NOT use ``pyspark.ml.feature.BucketedRandomProjectionLSH``:
it is a different hash family (bucketed signed projections), so it cannot
reproduce the reference's shard assignment (SURVEY.md §2.A R1).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, functions as F

from vector_lake_spark.functions.vectors import sql_dot, sql_vector_lit


def num_hashes_for(approx_shards: int) -> int:
    """index.py:453-455 arithmetic: round(log2(approx_shards))."""
    return int(math.log(approx_shards, 2) + 0.5)


def num_shards_for(approx_shards: int) -> int:
    return 2 ** num_hashes_for(approx_shards)


def make_hyperplanes(dim: int, num_hashes: int, seed: int = 42) -> np.ndarray:
    """The exact hyperplane matrix the reference draws (index.py:45-46).

    ``np.random.RandomState(seed).randn(...)`` produces the identical stream
    to the reference's global ``np.random.seed(seed)`` + ``randn`` (legacy
    MT19937 generator) — same floats, bit for bit.
    """
    return np.random.RandomState(seed).randn(num_hashes, dim)


def spark_shard_id_sql(vec_sql: str, hyperplanes: np.ndarray) -> str:
    """Spark-SQL text computing the shard id over a vector expressed as
    a SQL fragment (r12 optimization): the per-``F.lit``/``dot``
    construction of the same tree costs ~90 ms of py4j round-trips per
    hyperplane bank and is charged to every query construction; one
    ``F.expr`` parse of this text is <1 ms and yields the identical
    analyzed plan (pinned by tests/test_plans.py::test_shard_id_sql_
    matches_dsl)."""
    nh = len(hyperplanes)
    out = "CAST(0 AS BIGINT)"
    for j, row in enumerate(hyperplanes):
        d = sql_dot(vec_sql, sql_vector_lit(row))
        out = (
            f"({out} + CAST(({d}) > 0 AS BIGINT) * "
            f"CAST({2 ** (nh - 1 - j)} AS BIGINT))"
        )
    return out


def shard_id_expr(vec_sql: str, hyperplanes: np.ndarray) -> Column:
    """shard_id as a native column expression (MSB-first sign bits → int)
    over a vector given as a SQL fragment (e.g.
    ``"CAST(`embedding` AS ARRAY<DOUBLE>)"``), built in ONE ``F.expr``
    parse of ``spark_shard_id_sql``.

    Each hyperplane is inlined as a literal array — Catalyst treats it as a
    constant, so the whole hash runs inside whole-stage codegen with no
    Python round-trip and no shuffle.
    """
    return F.expr(spark_shard_id_sql(vec_sql, hyperplanes))


def make_band_hyperplanes(
    dim: int, n_bands: int, band_bits: int, seed: int = 137
) -> np.ndarray:
    """Independent hyperplanes for second-level in-shard banding, shaped
    ``(n_bands, band_bits, dim)``. A distinct default seed keeps them
    independent of the shard-routing planes (seed 42)."""
    return np.random.RandomState(seed).randn(n_bands * band_bits, dim).reshape(
        n_bands, band_bits, dim
    )


def route_vector(vector, hyperplanes: np.ndarray) -> int:
    """Driver-side routing of a single query vector (index.py:53-68 parity)."""
    v = np.asarray(vector, dtype=np.float64)
    bits = ["1" if float(np.dot(h, v)) > 0 else "0" for h in hyperplanes]
    return int("".join(bits), 2)


# ---- oracle-SQL generation (DuckDB) ---------------------------------------

def _sql_float(x: float) -> str:
    """Shortest-roundtrip literal: parses to the identical double in both
    Spark and DuckDB."""
    return repr(float(x))


def sql_lit_list(values) -> str:
    return "[" + ", ".join(_sql_float(v) for v in values) + "]"


def shard_id_sql(vec_sql: str, hyperplanes: np.ndarray) -> str:
    """DuckDB SQL computing the identical shard id (same hyperplane floats
    inlined), for the driver's oracle comparison."""
    nh = len(hyperplanes)
    terms = [
        f"(CASE WHEN list_dot_product({vec_sql}, {sql_lit_list(row)}) > 0 "
        f"THEN {2 ** (nh - 1 - j)} ELSE 0 END)"
        for j, row in enumerate(hyperplanes)
    ]
    return "(" + " + ".join(terms) + ")"
