"""Streaming repeated-span audit maintenance (late r12) — the
incremental leg of the span family (`operators/dedup.duplicated_spans`
→ `queries.pipe_span_dedup` → `strip_duplicated_spans`).

The hard part is RETROACTIVITY, and it is unique to span dedup among
this repo's streaming ingests: a document's duplicated spans depend on
corpus-wide gram frequencies, so a NEW batch can push an old gram over
the ≥ min_docs threshold and silently change the correct report for a
document ingested many batches ago. A per-batch emit-only design (the
`NearDupIngest` contract) is therefore impossible here — pairs only
ever ACCRETE, but span reports can be INVALIDATED. The honest
incremental contract is upsert: each micro-batch recomputes reports
for exactly

  (all docs in the batch) ∪ (old docs holding a gram whose distinct-doc
  count crossed the threshold IN this batch),

writes them under the batch's partition, and readers take the latest
report per document. At drain, latest-per-doc equals the batch
operator over the whole corpus (stream == batch, tested), and a
replayed micro-batch deterministically overwrites its own partition
(exactly-once, tested).

Posture, shared with the other ingests:

- **Zero streaming state**: everything derives from three parquet
  artifacts — `history` ((doc_id, pos, h) positional gram hashes —
  8-byte ints, text never persists or shuffles), `docs` (doc_id roster
  for zero-filling), `reports` (per-doc span aggregates) — each
  partitioned by `ingest_batch` (long, the cross-module convention).
- **Exactly-once under replay** (`streaming/maintainer.py`): all three
  writes are dynamic overwrites of `ingest_batch=N`, and every read of
  history/docs EXCLUDES the batch's own partition.
- **Bounded per-batch work**: the frequency aggregate scans history's
  (h, doc_id) columns (8+8 bytes/row — a column-pruned scan, not a
  text scan); span recomputation touches only affected docs' pos rows.
  At 100 TB the frequency table itself becomes a maintained rollup
  (the `ev_stream_rollup` merge-on-read pattern); this module keeps
  the recompute-from-history form, which is already payload-free.
- Appends only: gram counts never decrease, so threshold crossings are
  monotone (promotions, never demotions) — deletions would need a
  tombstone pass over `history` plus re-reports for demoted grams'
  docs, which is the same machinery run with the opposite sign. The
  same goes for document UPDATES: re-ingesting an existing doc_id
  would leave the old version's pos rows in history, silently
  double-counting positions and inflating gram frequencies — so
  `process_batch` REFUSES batches containing already-rostered ids (a
  cheap anti-join against `docs`; replays are exempt because every
  read excludes the batch's own partition). Route updates through a
  delete (tombstone) + re-ingest once deletions exist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from vector_lake_spark.operators.dedup import (
    positional_shingle_hashes,
    span_report_agg,
    spans_from_positions,
)
from vector_lake_spark.streaming.maintainer import Maintainer


class SpanDedupIngest(Maintainer):
    """``run`` takes a stream of (id, text) rows."""

    def __init__(
        self,
        spark,
        history_dir: str,
        docs_dir: str,
        reports_dir: str,
        n: int = 5,
        min_docs: int = 3,
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        super().__init__(spark)
        self.history_dir = str(history_dir)
        self.docs_dir = str(docs_dir)
        self.reports_dir = str(reports_dir)
        self.n = n
        self.min_docs = min_docs
        self.text_col = text_col
        self.id_col = id_col

    def _zero_fill(self, ids: DataFrame, report: DataFrame) -> DataFrame:
        """Left-join a span report onto a doc-id roster, zero-filling
        docs without spans (the one definition of the report row)."""
        id_col = self.id_col
        return ids.join(report, id_col, "left").select(
            id_col,
            F.coalesce("n_dup_positions", F.lit(0)).cast("long").alias(
                "n_dup_positions"
            ),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias(
                "dup_tokens"
            ),
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        id_col = self.id_col
        batch = batch_df.select(id_col, self.text_col).localCheckpoint(
            eager=True
        )
        if batch.count() == 0:
            return
        batch_ids = batch.select(id_col).distinct()
        roster = self._prior(self.docs_dir, batch_id)
        if roster is not None:
            # re-ingest guard (review r12): an existing id's old pos
            # rows would stay in history and silently corrupt both the
            # gram frequencies and the doc's island merge. Replays are
            # exempt: the roster read excludes this batch's partition.
            dupes = [
                r[0]
                for r in batch_ids.join(roster, id_col, "left_semi")
                .limit(5)
                .collect()
            ]
            if dupes:
                raise ValueError(
                    f"SpanDedupIngest is append-only: batch {batch_id} "
                    f"re-ingests already-rostered ids {dupes} — span "
                    f"reports derive from corpus-wide gram frequencies, "
                    f"so updates need tombstoned deletion of the old "
                    f"version's history rows first (docstring)"
                )
        new_pos = positional_shingle_hashes(
            batch, self.text_col, id_col, self.n
        ).localCheckpoint(eager=True)
        hist_pos = self._prior(self.history_dir, batch_id)
        all_pos = (
            new_pos if hist_pos is None
            else hist_pos.unionByName(new_pos)
        )
        # the FULL duplicated-gram set (affected docs' spans depend on
        # every dup gram they hold, not just the batch's grams)
        new_freq = (
            all_pos.groupBy("h")
            .agg(F.countDistinct(id_col).alias("nd"))
            .filter(F.col("nd") >= self.min_docs)
            .select("h")
            .localCheckpoint(eager=True)
        )
        if hist_pos is None:
            affected_old = None
        else:
            # promotions: grams whose distinct-doc count crossed the
            # threshold IN this batch. Only grams PRESENT in the batch
            # can cross (counts are append-monotone), so the old-count
            # aggregate is bounded to the batch's gram set by a
            # semi-join instead of re-counting the whole history
            # (review r12 — the second full-corpus aggregate was pure
            # waste).
            batch_grams = new_pos.select("h").distinct()
            old_freq = (
                hist_pos.join(batch_grams, "h", "left_semi")
                .groupBy("h")
                .agg(F.countDistinct(id_col).alias("nd"))
                .filter(F.col("nd") >= self.min_docs)
                .select("h")
            )
            promoted = (
                new_freq.join(batch_grams, "h", "left_semi")
                .join(old_freq, "h", "left_anti")
            )
            affected_old = (
                hist_pos.join(promoted, "h")
                .select(id_col)
                .distinct()
            )
        affected = (
            batch_ids if affected_old is None
            else batch_ids.unionByName(affected_old).distinct()
        )
        affected_pos = all_pos.join(affected, id_col, "left_semi")
        spans = spans_from_positions(
            affected_pos, new_freq, self.n, id_col
        )
        report = self._zero_fill(affected, span_report_agg(spans, id_col))
        self._overwrite(report, self.reports_dir, batch_id)
        self._overwrite(new_pos, self.history_dir, batch_id)
        self._overwrite(batch_ids, self.docs_dir, batch_id)

    def reports(self) -> DataFrame:
        """Latest report per document, zero-filled over the full doc
        roster — at drain this equals the batch audit's span aggregate
        over the whole ingested corpus. (Latest-per-doc is a window
        over ingest_batch; a long-running deployment compacts reports
        periodically — the CDC `cdc_latest_state` top-1-per-key
        shape.)"""
        id_col = self.id_col
        docs = self.spark.read.parquet(self.docs_dir).select(id_col).distinct()
        rep = self.spark.read.parquet(self.reports_dir)
        w = Window.partitionBy(id_col).orderBy(F.col("ingest_batch").desc())
        latest = (
            rep.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn", "ingest_batch")
        )
        return self._zero_fill(docs, latest)
