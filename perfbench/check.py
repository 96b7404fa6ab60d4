"""Independent answer checks, run outside every timed region.

Store answers are recomputed with numpy over the benchmark's own copy of
the vectors: routing is redrawn from ``RandomState(seed).randn(h, dim)``
(the reference's hyperplanes), summed left to right as Spark's
``aggregate`` does, and the exact top-k is taken over the probed shards.
Pipeline answers are compared with the canonical form of the registry's
DuckDB oracle result.

This module imports nothing from ``vector_lake_spark``.
"""

from __future__ import annotations

import datetime
import hashlib
import math

import numpy as np

SCORE_TOL = 2e-6  # the store rounds scores to 6 decimals
LSH_SEED = 42  # the seed the library draws its hyperplanes from


class Reference:
    """The store's expected state: its rows and each row's shard."""

    def __init__(self, vectors, ids, groups, approx_shards: int):
        self.dim = vectors.shape[1]
        self.num_hashes = int(math.log(approx_shards, 2) + 0.5)
        self.planes = np.random.RandomState(LSH_SEED).randn(self.num_hashes, self.dim)
        self.vectors = np.asarray(vectors, dtype=np.float64)
        self.ids = np.asarray(ids, dtype=object)
        self.groups = np.asarray(groups)
        self.alive = np.ones(len(ids), dtype=bool)
        self.shards = self.route_rows(self.vectors)
        self.norms = np.linalg.norm(self.vectors, axis=1)

    def route_rows(self, vectors: np.ndarray) -> np.ndarray:
        # cumsum accumulates left to right like Spark's aggregate(zip_with)
        dots = np.cumsum(vectors[:, None, :] * self.planes[None, :, :], axis=2)[:, :, -1]
        weights = 2 ** np.arange(self.num_hashes - 1, -1, -1)
        return ((dots > 0).astype(np.int64) * weights).sum(axis=1)

    def probes(self, q: np.ndarray, n_probes: int) -> list[int]:
        """The routed shard plus the lowest-margin bit flips."""
        dots = self.planes @ q
        base = int(self.route_rows(q[None, :])[0])
        out = [base]
        for j in np.argsort(np.abs(dots)):
            if len(out) >= n_probes:
                break
            flipped = base ^ (1 << (self.num_hashes - 1 - int(j)))
            if flipped not in out:
                out.append(flipped)
        return out[:n_probes]

    def candidates(self, q: np.ndarray, n_probes: int, group: int | None = None):
        mask = self.alive & np.isin(self.shards, self.probes(q, n_probes))
        if group is not None:
            mask &= self.groups == group
        idx = np.flatnonzero(mask)
        with np.errstate(divide="ignore", invalid="ignore"):
            scores = (self.vectors[idx] @ q) / (self.norms[idx] * np.linalg.norm(q))
        return self.ids[idx], scores

    def upsert(self, rid: str, vector: np.ndarray) -> None:
        hit = np.flatnonzero(self.ids == rid)
        self.alive[hit] = False
        self.vectors = np.vstack([self.vectors, vector[None, :]])
        self.ids = np.append(self.ids, rid)
        self.groups = np.append(self.groups, -1)
        self.alive = np.append(self.alive, True)
        self.shards = np.append(self.shards, self.route_rows(vector[None, :]))
        self.norms = np.append(self.norms, np.linalg.norm(vector))

    def delete(self, rid: str) -> None:
        self.alive[self.ids == rid] = False


def topk_ok(got: list[tuple[str, float]], cand_ids, cand_scores, k: int) -> bool:
    """``got`` is a valid exact top-k of the candidates: right length,
    every score right, in descending order, and nothing left out that
    scores above the last one returned."""
    if len(got) != min(k, len(cand_ids)):
        return False
    score_of = dict(zip(cand_ids.tolist(), cand_scores.tolist()))
    prev = math.inf
    for rid, s in got:
        if rid not in score_of or not abs(score_of[rid] - s) <= SCORE_TOL:
            return False
        if s > prev + SCORE_TOL:
            return False
        prev = s
    if not got:
        return True
    returned = {rid for rid, _ in got}
    rest = [s for rid, s in score_of.items() if rid not in returned]
    return not rest or max(rest) <= got[-1][1] + SCORE_TOL


def hashed_ngram_embed(text: str, dim: int, n: int = 3) -> np.ndarray:
    """Character n-grams hashed (md5) into ``dim`` buckets, L2-normalised:
    the adapter's documented default embedding, recomputed here."""
    v = np.zeros(dim)
    s = (text or "").lower()
    for i in range(max(len(s) - n + 1, 0)):
        h = int.from_bytes(hashlib.md5(s[i : i + n].encode()).digest()[:8], "big")
        v[h % dim] += 1.0
    norm = np.linalg.norm(v)
    return v / norm if norm > 0 else v


# -- pipeline ---------------------------------------------------------------


def _canon_value(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (np.floating, float)):
        return round(float(v), 9)
    if isinstance(v, (np.datetime64, datetime.datetime, datetime.date)):
        return str(v)
    return v


def canon(pdf):
    """Order-insensitive canonical form: sorted columns, dtypes, rows."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = [
        tuple(_canon_value(v) for v in r)
        for r in pdf.itertuples(index=False, name=None)
    ]
    return (
        list(pdf.columns),
        [str(t) for t in pdf.dtypes],
        sorted(rows, key=lambda r: tuple(map(str, r))),
    )


def oracle_compare(oracle, spark_pdf) -> str | None:
    """None when the Spark result equals ``oracle`` (the canonical form
    of the DuckDB oracle's result), else why not."""
    sc, sdt, srows = canon(spark_pdf)
    oc, odt, orows = oracle
    if sc != oc:
        return f"columns {sc} != {oc}"
    if sdt != odt:
        return f"dtypes {sdt} != {odt}"
    if len(srows) != len(orows):
        return f"{len(srows)} rows != {len(orows)}"
    if srows != orows:
        return "values differ"
    return None
