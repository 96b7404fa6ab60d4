"""Streaming materialized-rollup maintenance — the incremental half of
the merge-on-read rollup story (``queries.q_ev_rollup_merge``).

``RollupIngest`` maintains a persisted parquet table of DECOMPOSABLE
aggregate partials — (day, event_type) → (cnt, sv) — under the shared
exactly-once policy of the foreachBatch maintainers
(streaming/maintainer.py): each micro-batch partial-aggregates ITS OWN rows and lands them in the
table's ``ingest_batch=N`` partition via dynamic partition overwrite,
so a crashed-and-replayed batch overwrites its earlier attempt with the
identical deterministic result instead of double-counting. The
streaming state store holds nothing; executor memory holds nothing
between batches.

Serving is a pure merge: SUM the partials per serving key (here weekly)
— count/sum are associative/commutative, so partials merged in any
batch-arrival order equal the direct aggregate over all raw events.
That equality is oracle-gated: the registry's ``ev_stream_rollup`` runs
the events table through this module as a bounded file stream and is
checked against the SAME DuckDB oracle as the batch entry
(``SQL_EV_ROLLUP_MERGE`` — a direct weekly GROUP BY over raw events).

At 100 TB: the partials table is a few bytes per (day, type) per batch
— compaction (``compact_partials``) merges all batch partitions into
one row per (day, type) (the reserved ``ingest_batch=-1`` partition),
so the table's steady-state size is the key-space, not the ingest
history. Raw events are NEVER rescanned to serve an aggregate; a
late-arriving batch just lands more partials for old days and the merge
stays exact (contrast with watermark-bounded streaming aggregation,
which must eventually drop late rows — see streaming/events.py for that
trade-off).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from vector_lake_spark.fsutil import read_if_exists
from vector_lake_spark.streaming.maintainer import Maintainer


class RollupIngest(Maintainer):
    """Exactly-once incremental maintenance of a (day, event_type)
    partial-aggregate table, foreachBatch-driven."""

    def __init__(self, spark, rollup_path: str):
        super().__init__(spark)
        self.rollup_path = str(rollup_path)

    # -- ingest ---------------------------------------------------------

    @staticmethod
    def partial_agg(events: DataFrame) -> DataFrame:
        """The per-batch partial: decomposable (count, sum) by
        (day, event_type). The single shared definition —
        ``q_ev_rollup_merge`` imports this same function for its
        history/delta legs, so stream-vs-batch oracle equality can't
        drift (r06 review)."""
        return events.groupBy(
            F.to_date("ts").alias("day"), "event_type"
        ).agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"))

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Land this batch's partials in its own
        ``ingest_batch=batch_id`` partition (dynamic overwrite →
        idempotent replay)."""
        self._overwrite(self.partial_agg(batch), self.rollup_path, batch_id)

    # -- serve ----------------------------------------------------------

    def partials(self) -> DataFrame | None:
        return read_if_exists(self.spark, self.rollup_path)

    def serve_weekly(self, delta: DataFrame | None = None) -> DataFrame:
        """Weekly totals from the maintained partials, optionally merged
        with a raw not-yet-ingested tail (``delta``) — the exact
        merge-on-read shape of ``q_ev_rollup_merge``, same output
        schema/rounding so the two share an oracle."""
        parts = self.partials()
        if parts is None:
            raise ValueError(f"no rollup table at {self.rollup_path}")
        merged = parts.select("day", "event_type", "cnt", "sv")
        if delta is not None:
            merged = merged.unionByName(self.partial_agg(delta))
        return (
            merged.groupBy(
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

    # -- maintenance ----------------------------------------------------

    def compact_partials(self) -> int:
        """Merge batch partitions into ONE row per (day, type) in the
        reserved ``ingest_batch=-1`` partition — rollup compaction both
        defragments (one file) and SHRINKS (decomposable partials
        re-aggregate), so steady-state size is the key space, not the
        ingest history. The NEWEST batch partition stays unfolded:
        folding a crashed-but-uncommitted batch would double-count it
        when its replay re-creates the partition beside the merged
        ``-1`` copy (r06 review). Returns the compacted table's row
        count."""
        return self._compact(
            self.rollup_path,
            lambda older: older.groupBy("day", "event_type").agg(
                F.sum("cnt").alias("cnt"), F.sum("sv").alias("sv")
            ),
        )
