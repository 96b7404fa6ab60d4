"""Streaming banded-LSH near-duplicate candidate emission — the
incremental ingestion half of the 100 TB near-dup story.

The batch scale path (``operators/ann.lsh_neardup_pairs``) buckets rows
on (shard, band, band-key) and equi-joins within buckets.
``NearDupIngest`` makes the SAME candidate keys available incrementally
with bounded state: every ingested row's band keys live in a persisted
parquet history table (exactly the shape ``dedup_incremental`` uses for
exact-dedup fingerprints, queries.py); each micro-batch emits
new-vs-history pairs via a batch equi-join against that table plus
new-vs-new pairs via the batch operator's own bucket join, then appends
its keys to the history. The streaming state store holds NOTHING, all
pairing runs as JVM hash joins (no Python kernel at all), and history
I/O is 8-byte keys, never vectors or text.

Each candidate pair is emitted exactly once under the identical
first-matching-band rule the batch join uses, so the union of emissions
over any prefix of the stream equals the batch candidate set over that
prefix. Batch-vs-stream equivalence is oracle-gated by the registry's
``dedup_stream_neardup`` (same DuckDB oracle as ``vec_neardup_lsh``).

Scale posture notes:

- **Hot keys are bounded by construction**: a bucket key holds
  ~shard/2^band_bits of its shard regardless of skew (same argument as
  the batch path, SCALE.md "Dedup family").
- **The LSH keys are computed by the same native column expressions as
  batch** (``operators/lsh.shard_id_expr``) BEFORE any grouping; the
  exact cosine kernel runs in Spark after the sink. Nothing
  float-sensitive crosses the Arrow boundary, which is what keeps the
  stream hash-oracle-able.
- Restart semantics are exactly-once via the shared maintainer policy
  (``streaming/maintainer.py``): both per-batch writes overwrite the
  batch's own ``ingest_batch=N`` partition, and the history join
  excludes that partition — so a replayed batch overwrites its earlier
  attempt with the identical deterministic result instead of appending
  duplicates or pairing the batch against its own keys.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from vector_lake_spark.fsutil import read_if_exists
from vector_lake_spark.streaming.maintainer import Maintainer

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType(), False),
        T.StructField("id_b", T.LongType(), False),
    ]
)


def banded_keys(
    vec_sql: str, hyperplanes, bands
) -> tuple[Column, Column]:
    """(shard, bkeys) columns over a vector given as a SQL fragment, from
    the SAME native expressions the batch path uses — the LSH arithmetic
    is never duplicated in Python."""
    from vector_lake_spark.operators.lsh import shard_id_expr

    shard = shard_id_expr(vec_sql, hyperplanes).cast("long")
    bkeys = F.array(
        *[shard_id_expr(vec_sql, b).cast("long") for b in bands]
    )
    return shard, bkeys


# ---------------------------------------------------------------------------
# Bounded-state ingest (foreachBatch + persisted band-key history)
# ---------------------------------------------------------------------------


def explode_band_keys(keyed: DataFrame, n_bands: int) -> DataFrame:
    """(vec_id, shard, bkeys) → one (vec_id, shard, band, bkey, bkeys)
    row per band — the narrow 8-byte explode the batch path uses
    (``operators/ann.lsh_neardup_pairs``); vectors never enter."""
    return keyed.select(
        "vec_id",
        "shard",
        "bkeys",
        F.explode(F.array(*[F.lit(b) for b in range(n_bands)])).alias("band"),
    ).select(
        "vec_id",
        "shard",
        F.col("band").cast("int").alias("band"),
        F.element_at("bkeys", F.col("band") + 1).alias("bkey"),
        "bkeys",
    )


def _no_earlier_band_match(n_bands: int) -> Column:
    """Residual of the first-matching-band rule: this (shard, band, key)
    bucket owns the pair iff no earlier band already matched — identical
    to the batch join's residual (ann.py ``first_match``)."""
    return reduce(
        lambda acc, j: acc
        & (
            (F.col("band") <= F.lit(j))
            | (F.element_at("bka", j + 1) != F.element_at("bkb", j + 1))
        ),
        range(n_bands - 1),
        F.lit(True),
    )


def within_candidate_pairs(keyed: DataFrame, n_bands: int) -> DataFrame:
    """Candidate pairs WITHIN one keyed frame (vec_id, shard, bkeys):
    the batch operator's bucket equi-join, ids+keys only."""
    keys = explode_band_keys(keyed, n_bands)
    ka = keys.select(
        F.col("vec_id").alias("id_a"), "shard", "band", "bkey",
        F.col("bkeys").alias("bka"),
    )
    kb = keys.select(
        F.col("vec_id").alias("id_b"), "shard", "band", "bkey",
        F.col("bkeys").alias("bkb"),
    )
    return (
        ka.join(kb, ["shard", "band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(_no_earlier_band_match(n_bands))
        .select("id_a", "id_b")
    )


def cross_candidate_pairs(
    new_keyed: DataFrame, hist_keyed: DataFrame, n_bands: int
) -> DataFrame:
    """Candidate pairs between a new batch and the (disjoint) history:
    equi-join on (shard, band, bkey) with the same first-matching-band
    residual, output normalized to (min, max). Each matching pair
    surfaces at exactly one band, so no dedup exchange is needed."""
    kn = explode_band_keys(new_keyed, n_bands).select(
        F.col("vec_id").alias("id_n"), "shard", "band", "bkey",
        F.col("bkeys").alias("bka"),
    )
    kh = explode_band_keys(hist_keyed, n_bands).select(
        F.col("vec_id").alias("id_h"), "shard", "band", "bkey",
        F.col("bkeys").alias("bkb"),
    )
    return (
        kn.join(kh, ["shard", "band", "bkey"])
        .filter(F.col("id_n") != F.col("id_h"))
        .filter(_no_earlier_band_match(n_bands))
        .select(
            F.least("id_n", "id_h").alias("id_a"),
            F.greatest("id_n", "id_h").alias("id_b"),
        )
    )


class NearDupIngest(Maintainer):
    """Incremental near-dup candidate ingestion with BOUNDED state and
    EXACTLY-ONCE restart semantics.

    State lives in a persisted parquet band-key history table
    (``history_path``: vec_id, shard, bkeys, ingest_batch —
    ~8·(n_bands+3) bytes per row, physically partitioned by
    ``ingest_batch``), not in the streaming state store. Per
    micro-batch ``batch_id``:

    1. new-vs-new pairs: the batch bucket join over this batch's keys;
    2. new-vs-history pairs: one equi-join of the batch's exploded keys
       against the history's (EXCLUDING any partition this batch wrote
       on a crashed earlier attempt — a partition-pruned filter), with
       the shared first-matching-band residual;
    3. the pairs land in ``pairs_path`` partition ``ingest_batch=N``
       via DYNAMIC PARTITION OVERWRITE — a replayed batch overwrites
       its own partition with the identical deterministic result
       instead of appending duplicates;
    4. the batch's keys land in the history the same way (overwrite of
       partition N only).

    Every per-batch write is therefore idempotent: a crash anywhere
    between steps and the streaming checkpoint commit makes the replay
    converge to exactly the same on-disk state — no duplicate history
    keys, no duplicate pairs, no self-pairing (the step-2 exclusion).

    This is ``dedup_incremental``'s posture applied to near-dup: the
    stream does one bounded join per batch against an 8-byte-key table,
    every kernel is a JVM hash join, and nothing accretes in executor
    memory between batches. ``run`` takes a stream of (vec_id, shard,
    bkeys) rows."""

    def __init__(
        self, spark, history_path: str, pairs_path: str, n_bands: int
    ):
        super().__init__(spark)
        self.history_path = str(history_path)
        self.pairs_path = str(pairs_path)
        self.n_bands = n_bands

    def process_batch(self, batch: DataFrame, batch_id: int) -> DataFrame:
        """Emit batch ``batch_id``'s candidate pairs (into its
        ``pairs_path`` partition) and absorb its keys into the history
        (its ``history_path`` partition). Idempotent per batch_id —
        both writes are dynamic partition overwrites of that batch's
        partition only. Returns the (already materialized) pairs."""
        prior = self._prior(self.history_path, batch_id)
        # the batch feeds three consumers (within-pairs, cross-pairs,
        # history write) — pin it so the source is read once
        batch = batch.localCheckpoint(eager=True)
        pairs = within_candidate_pairs(batch, self.n_bands)
        if prior is not None:
            pairs = pairs.unionByName(
                cross_candidate_pairs(batch, prior, self.n_bands)
            )
        pairs = pairs.localCheckpoint(eager=True)
        self._overwrite(pairs, self.pairs_path, batch_id)
        self._overwrite(batch, self.history_path, batch_id)
        return pairs

    def pairs(self) -> DataFrame:
        """All pairs emitted so far (the partition column dropped)."""
        df = read_if_exists(self.spark, self.pairs_path)
        if df is None:
            return self.spark.createDataFrame([], schema=OUTPUT_SCHEMA)
        return df.select("id_a", "id_b")

    def compact_history(self) -> int:
        """Small-file hygiene for long-running ingest: every micro-batch
        appends one file (per partition) to the history, so a
        long-lived stream accretes thousands of tiny parquet files —
        the same pathology the store's ``compact`` fixes. Contents
        unchanged. The NEWEST batch partition stays unfolded: folding a
        crashed-but-uncommitted batch would let its keys escape
        ``process_batch``'s own-partition exclusion on replay (r06
        review). Returns the total history row count."""
        return self._compact(self.history_path, lambda older: older)
