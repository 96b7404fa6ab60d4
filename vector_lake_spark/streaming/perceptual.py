"""Streaming perceptual near-dup ingest — the media twin of
``streaming/neardup.NearDupIngest`` (r11).

Signatures (image dHash/dhash256, audio/video fingerprints — computed
upstream by the Arrow operators in ``operators/imagehash`` /
``operators/audiofp``) arrive as a stream; each micro-batch emits the
pairs it INTRODUCES — batch×batch plus batch×history, never
history×history — through ONE banded-Hamming join
(``binary.hamming_neardup_pairs`` + the keep-if-either-new filter from
``binary._mark_new``), so per-batch emissions concatenate to exactly
the batch operator's full pair set over the stream prefix (the same
contract ``PerceptualIndex.incremental_pairs`` tests in batch form).

Posture, shared with ``NearDupIngest``:

- **Zero streaming state**: all pairing runs as JVM hash joins inside
  ``foreachBatch``; the only cross-batch artifact is the signature
  history parquet (8-byte sigs + ids, never pixels/samples).
- **Exactly-once under replay** (``streaming/maintainer.py``): both the
  batch's history partition and its pairs partition are dynamic
  overwrites of ``ingest_batch=N``, and the history side of the join
  EXCLUDES the batch's own partition — a replayed micro-batch
  overwrites its earlier attempt with the same deterministic result
  instead of appending duplicates or pairing against its own keys.
- **Block count** is sized once per batch from metadata-cheap counts
  (history file footers + the materialized batch), not from re-running
  any codec chain.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from vector_lake_spark.operators.binary import (
    _mark_new,
    auto_hamming_blocks,
    hamming_neardup_pairs,
)
from vector_lake_spark.streaming.maintainer import Maintainer


class PerceptualIngest(Maintainer):
    """``run`` takes a stream of signature rows ((group_cols…, id,
    sig))."""

    def __init__(
        self,
        spark,
        history_dir: str,
        pairs_dir: str,
        radius: int,
        n_longs: int = 1,
        id_col: str = "media_id",
        group_cols: Sequence[str] = (),
    ):
        super().__init__(spark)
        self.history_dir = str(history_dir)
        self.pairs_dir = str(pairs_dir)
        self.radius = radius
        self.n_longs = n_longs
        self.id_col = id_col
        self.group_cols = list(group_cols)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        cols = [*self.group_cols, self.id_col, "sig"]
        batch = batch_df.select(*cols).localCheckpoint(eager=True)
        n_new = batch.count()
        if n_new == 0:
            return
        hist = self._prior(self.history_dir, batch_id)
        corpus = batch if hist is None else hist.unionByName(batch)
        n_total = n_new + (0 if hist is None else hist.count())
        total_bits = 64 * self.n_longs
        pairs = hamming_neardup_pairs(
            corpus,
            self.radius,
            id_col=self.id_col,
            n_blocks=auto_hamming_blocks(
                n_total,
                self.radius,
                total_bits=total_bits,
                min_blocks=(total_bits + 63) // 64,
            ),
            n_longs=self.n_longs,
            group_cols=self.group_cols,
        )
        new_pairs = _mark_new(
            pairs,
            batch.select(*self.group_cols, self.id_col),
            self.id_col,
            group_cols=self.group_cols,
        )
        self._overwrite(new_pairs, self.pairs_dir, batch_id)
        self._overwrite(batch, self.history_dir, batch_id)

    def pairs(self) -> DataFrame:
        return self.spark.read.parquet(self.pairs_dir).drop(
            "ingest_batch"
        )
