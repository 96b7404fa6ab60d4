"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``vector_lake_spark/`` (see SURVEY.md §2 for the
operator inventory this registry covers); ``vector_lake_spark/queries.py``
declares each query once, with its oracle SQL, in ``REGISTRY``. The
driver checks only the first 50 entries of ``queries()`` per round, so
this module also owns the order they come in (docs/ROTATION.md).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from vector_lake_spark import queries as Q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: exact top-k cosine similarity over the embeddings
    table (the reference's intended core query, done exactly — SURVEY.md
    §4.3) at sf0.001."""
    return Q.q_vec_topk_cosine(spark, "/root/testdata/sf0.001")


def _last_driver_rounds(root: str | None = None) -> dict[str, int]:
    """Round of each query's newest PASSING row across the driver's
    CORRECTNESS_r{N}.json files in ``root`` (default: this directory).

    Only a row that passed counts: hash_match true, or rows_match true,
    with no error. Counting a failed row would rotate a broken query out
    of the driver's window, so failed rows add nothing and the query
    keeps sorting to the front until it goes green."""
    rounds: dict[str, int] = {}
    root = root or os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("err") is None and (
                row.get("hash_match") is True or row.get("rows_match") is True
            ):
                rounds[name] = max(rounds.get(name, 0), int(m.group(1)))
    return rounds


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry query, stalest-first: never-checked entries (round
    0) lead, then ascending by newest passing driver round, stable in
    ``REGISTRY`` order."""
    rounds = _last_driver_rounds()
    return dict(sorted(Q.QUERIES.items(), key=lambda kv: rounds.get(kv[0], 0)))


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every query above: each registry row
    carries one, so there are no rows-only entries."""
    return dict(Q.ORACLES)
