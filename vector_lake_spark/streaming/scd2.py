"""Streaming SCD Type-2 maintenance — the incremental half of
``queries.q_cdc_scd2_intervals``.

``SCD2Ingest`` maintains a persisted parquet table of versioned validity
intervals — one row per (entity, version), the open version carrying
``valid_to = NULL`` — under the same exactly-once discipline as the
other foreachBatch maintainers (streaming/maintainer.py):

- The table is partitioned by ``bucket = pmod(xxhash64(user_id), B)``.
  A micro-batch touches only the buckets its entities hash into: read
  those buckets (partition-pruned), fold the batch in, and rewrite them
  via DYNAMIC partition overwrite.  Untouched buckets' files are never
  opened — at 100 TB a batch's cost is O(size of affected buckets), not
  O(entity history), and B is the knob that bounds it.
- Fold = recompute change points over (existing change points ∪ accepted
  batch rows).  Change-point selection (lag-compare) is IDEMPOTENT over
  its own output, so re-folding an already-folded batch rewrites the
  identical rows — replay after a crash is safe by construction (tested,
  not asserted: test_ops.py pins replay and crash→replay equivalence).
- The streaming state store holds NOTHING; all state is the table.

**Ordering contract.** SCD2 from a change log is only well-defined if
each entity's events are applied in order: a late event landing between
two historical versions can silently change which later events were
"changes" — information a change-point table no longer has (the batch
entry's full rebuild from raw events is the recovery path).  The
maintainer therefore tracks a per-entity high-watermark — the max
(ts, event_id) ever folded, carried on the entity's open row — and
routes any batch row at or below it to a QUARANTINE table instead of
folding it (partitioned by ingest_batch, dynamic overwrite → replays of
a committed batch land their rows in quarantine idempotently and the
interval table is untouched — exactly-once without a state store).
Quarantined rows are an operator signal: backfill via the batch rebuild.

Registry entry ``ev_stream_scd2`` runs the events table through this
maintainer as a bounded file stream and shares the batch oracle
(``SQL_CDC_SCD2_INTERVALS``) — a green hash proves stream-maintained
intervals equal the full rebuild.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from vector_lake_spark.fsutil import read_if_exists
from vector_lake_spark.streaming.maintainer import (
    Maintainer,
    checked_batch_id,
)


class SCD2Ingest(Maintainer):
    """Exactly-once incremental maintenance of an SCD2 interval table,
    foreachBatch-driven. Tracks ``event_type`` per ``user_id`` by
    default (the registry entry's shape); key/attr/order columns are
    constructor knobs."""

    def __init__(
        self,
        spark,
        intervals_path: str,
        quarantine_path: str,
        n_buckets: int = 16,
    ):
        super().__init__(spark)
        self.intervals_path = str(intervals_path)
        self.quarantine_path = str(quarantine_path)
        self.n_buckets = int(n_buckets)

    # -- helpers --------------------------------------------------------

    def _bucket(self, user_col):
        return F.pmod(F.xxhash64(user_col), F.lit(self.n_buckets)).cast(
            "long"
        )

    def intervals(self) -> DataFrame | None:
        """The raw maintained table (bucket, user_id, state, version,
        valid_from, valid_to, cp_event_id, last_seen, last_seen_eid)."""
        return read_if_exists(self.spark, self.intervals_path)

    def quarantine(self) -> DataFrame | None:
        return read_if_exists(self.spark, self.quarantine_path)

    # -- ingest ---------------------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Fold this batch's (user_id, ts, event_id, event_type) rows
        into the interval table.

        Steps: derive the batch's buckets and partition-prune EVERY
        read of the existing table to them (the batch's users — hence
        their open-row watermarks and their change points — can only
        live there); split accepted/late on the per-entity (ts,
        event_id) watermark; quarantine late rows idempotently;
        recompute change points over (existing change points of
        affected buckets ∪ accepted rows); rewrite only those
        buckets."""
        checked_batch_id(batch_id)
        # pin the deduped batch ONCE up front (r12, guide §1.2): the
        # bucket collect below and every later consumer (watermark join
        # or direct fold) read the checkpoint — previously the bucket
        # collect and the accepted/late pin each re-scanned the batch
        # source, i.e. two full reads of every micro-batch
        rows = (
            batch.select("user_id", "ts", "event_id", "event_type")
            .dropDuplicates(["user_id", "event_id"])
            .localCheckpoint(eager=True)
        )
        # the batch alone determines which buckets matter — prune the
        # table read BEFORE the watermark join, so a batch touching 1 of
        # B buckets reads 1/B of the history, not all of it (r06 review:
        # the O(affected-buckets) contract must hold for the watermark
        # lookup too, and the few-entity stress couldn't see this)
        buckets = [
            r[0]
            for r in rows.select(self._bucket(F.col("user_id")).alias("b"))
            .distinct()
            .collect()
        ]
        if not buckets:
            return
        existing = self.intervals()
        touched = (
            None
            if existing is None
            else existing.filter(F.col("bucket").isin(buckets))
        )

        if touched is not None:
            open_rows = touched.filter(F.col("valid_to").isNull()).select(
                "user_id",
                F.col("last_seen").alias("_ls"),
                F.col("last_seen_eid").alias("_le"),
            )
            # pin ONCE: the accepted/late split feeds four consumers
            # (emptiness probe, quarantine write, merged fold, watermark
            # update) — without this the watermark join re-runs per
            # consumer (r06 review); reads the rows checkpoint, not the
            # batch source
            tagged = rows.join(open_rows, "user_id", "left").localCheckpoint(
                eager=True
            )
            is_late = F.col("_ls").isNotNull() & (
                F.struct(F.col("ts"), F.col("event_id"))
                <= F.struct(F.col("_ls"), F.col("_le"))
            )
            accepted = tagged.filter(~is_late).drop("_ls", "_le")
            late = tagged.filter(is_late).drop("_ls", "_le")
        else:
            accepted, late = rows, None  # rows is already checkpointed

        # NB: replaying a committed batch re-routes the WHOLE batch here
        # (its accepted rows are now at-or-below the watermark, which is
        # indistinguishable from late) — the interval table is what is
        # exactly-once; quarantine(N) is an operator signal and becomes
        # the full batch after a replay.
        if late is not None and not late.isEmpty():
            self._overwrite(late, self.quarantine_path, batch_id)
        if accepted.isEmpty():
            return

        merged_src = accepted
        old_last = None
        if touched is not None:
            cps = touched.select(
                "user_id",
                F.col("valid_from").alias("ts"),
                F.col("cp_event_id").alias("event_id"),
                F.col("state").alias("event_type"),
            )
            merged_src = cps.unionByName(accepted)
            old_last = touched.filter(F.col("valid_to").isNull()).select(
                "user_id",
                F.col("last_seen").alias("old_ls"),
                F.col("last_seen_eid").alias("old_le"),
            )

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        cp = merged_src.withColumn(
            "_prev", F.lag("event_type").over(w)
        ).filter(
            F.col("_prev").isNull()
            | (F.col("_prev") != F.col("event_type"))
        )
        rebuilt = cp.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.row_number().over(w).cast("long").alias("version"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.col("event_id").alias("cp_event_id"),
        )

        new_last = accepted.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id")).alias("_m")
        ).select(
            "user_id",
            F.col("_m.ts").alias("new_ls"),
            F.col("_m.event_id").alias("new_le"),
        )
        if old_last is not None:
            last = new_last.join(old_last, "user_id", "outer").select(
                "user_id",
                F.when(
                    F.col("new_ls").isNull()
                    | (
                        F.col("old_ls").isNotNull()
                        & (
                            F.struct("old_ls", "old_le")
                            > F.struct(
                                F.col("new_ls").alias("old_ls"),
                                F.col("new_le").alias("old_le"),
                            )
                        )
                    ),
                    F.struct(
                        F.col("old_ls").alias("ls"),
                        F.col("old_le").alias("le"),
                    ),
                )
                .otherwise(
                    F.struct(
                        F.col("new_ls").alias("ls"),
                        F.col("new_le").alias("le"),
                    )
                )
                .alias("_m"),
            ).select(
                "user_id",
                F.col("_m.ls").alias("ls"),
                F.col("_m.le").alias("le"),
            )
        else:
            last = new_last.select(
                "user_id",
                F.col("new_ls").alias("ls"),
                F.col("new_le").alias("le"),
            )

        result = (
            rebuilt.join(last, "user_id", "left")
            .select(
                self._bucket(F.col("user_id")).alias("bucket"),
                "user_id",
                "state",
                "version",
                "valid_from",
                "valid_to",
                "cp_event_id",
                # the watermark lives on the open row only
                F.when(F.col("valid_to").isNull(), F.col("ls")).alias(
                    "last_seen"
                ),
                F.when(F.col("valid_to").isNull(), F.col("le")).alias(
                    "last_seen_eid"
                ),
            )
            # pin BEFORE the overwrite: never read and replace the same
            # files in one job
            .localCheckpoint(eager=True)
        )
        self._overwrite(
            result, self.intervals_path, partition_col="bucket"
        )

    # -- serve ----------------------------------------------------------

    def serve_intervals(self) -> DataFrame:
        """The maintained history in the registry entry's exact output
        shape (formatted timestamps, no bookkeeping columns) — shares
        ``SQL_CDC_SCD2_INTERVALS`` with the batch rebuild."""
        t = self.intervals()
        if t is None:
            raise ValueError(f"no interval table at {self.intervals_path}")
        fmt = "yyyy-MM-dd HH:mm:ss"
        return t.select(
            "user_id",
            "state",
            "version",
            F.date_format("valid_from", fmt).alias("valid_from"),
            F.date_format("valid_to", fmt).alias("valid_to"),
        )
