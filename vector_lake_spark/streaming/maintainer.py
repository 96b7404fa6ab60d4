"""The exactly-once write policy shared by the foreachBatch maintainers
(``NearDupIngest``, ``PerceptualIngest``, ``SpanDedupIngest``,
``RollupIngest``, ``SCD2Ingest``).

Structured Streaming replays a micro-batch whose checkpoint commit was
lost, with the same ``batch_id``. Each maintainer survives that without
a state store by keeping all cross-batch state in parquet tables:

- every per-batch write is a dynamic partition overwrite of the batch's
  own ``ingest_batch=N`` partition, so a replay replaces its earlier
  attempt instead of appending beside it;
- every read of prior history excludes that partition (partition-pruned),
  so a replay never pairs or counts the batch against itself;
- ``ingest_batch = COMPACTED_BATCH`` (-1) is reserved for compacted data,
  which is why batch ids must be >= 0;
- compaction folds every partition except the newest into -1. Only the
  newest batch can be written-but-uncommitted (the engine commits N
  before it starts N+1); folding it would let its replay land beside the
  folded copy.

A subclass supplies ``process_batch(batch, batch_id)`` — its own fold —
and inherits ``run``, which drains a bounded stream through it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F

from vector_lake_spark.fsutil import read_if_exists, staged_replace

COMPACTED_BATCH = -1  # reserved partition; streaming batch ids are >= 0


def checked_batch_id(batch_id: int) -> int:
    if batch_id < 0:
        raise ValueError(
            f"batch_id must be >= 0 (got {batch_id}); "
            f"{COMPACTED_BATCH} is reserved for compacted data"
        )
    return int(batch_id)


class Maintainer:
    def __init__(self, spark):
        self.spark = spark

    def process_batch(self, batch: DataFrame, batch_id: int):
        raise NotImplementedError

    def run(self, stream: DataFrame, checkpoint: str):
        """Drain a bounded stream through ``process_batch``, one call per
        micro-batch keyed by the engine's ``batch_id`` (trigger
        availableNow). Returns the finished StreamingQuery."""
        q = (
            stream.writeStream.foreachBatch(
                # resolved per call, so a patched process_batch applies
                lambda batch, batch_id: self.process_batch(
                    batch, int(batch_id)
                )
            )
            .option("checkpointLocation", str(checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    def _prior(self, path: str, batch_id: int) -> DataFrame | None:
        """History at ``path`` written by every batch except
        ``batch_id`` (a replay must not see its own earlier attempt),
        with the partition column dropped."""
        batch_id = checked_batch_id(batch_id)
        # only genuine absence means "no history yet": a corrupt footer
        # or a transient FS error must propagate, or the batch's
        # deterministic overwrite would drop its history pairs forever
        hist = read_if_exists(self.spark, path)
        if hist is None:
            return None
        return hist.filter(F.col("ingest_batch") != batch_id).drop(
            "ingest_batch"
        )

    @staticmethod
    def _overwrite(
        df: DataFrame,
        path: str,
        batch_id: int | None = None,
        partition_col: str = "ingest_batch",
    ) -> None:
        """Dynamic partition overwrite: replace only the partitions of
        ``path`` that ``df`` holds. With ``batch_id``, ``df`` lands in
        the batch's own ``ingest_batch=N`` partition."""
        if batch_id is not None:
            df = df.withColumn(
                partition_col,
                F.lit(checked_batch_id(batch_id)).cast("long"),
            )
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )

    def _compact(
        self, path: str, fold: Callable[[DataFrame], DataFrame]
    ) -> int:
        """Fold every batch partition but the newest into the reserved
        ``ingest_batch=-1`` partition via ``fold`` (which keeps the
        table's columns), behind the crash-safe staged-write + rename
        swap. Returns the compacted table's row count."""
        table = read_if_exists(self.spark, path)
        if table is None:
            return 0
        real = [
            r[0]
            for r in table.select("ingest_batch").distinct().collect()
            if r[0] >= 0
        ]
        newest = max(real) if real else None
        older = (
            table
            if newest is None
            else table.filter(F.col("ingest_batch") != F.lit(newest))
        )
        data = fold(older).withColumn(
            "ingest_batch", F.lit(COMPACTED_BATCH).cast("long")
        )
        if newest is not None:
            data = data.unionByName(
                table.filter(F.col("ingest_batch") == F.lit(newest))
            )
        # pin the contents BEFORE touching the directory (never read and
        # replace the same files in one job)
        data = data.localCheckpoint(eager=True)
        n = data.count()

        def write_staged(staging: str) -> None:
            data.repartition("ingest_batch").write.partitionBy(
                "ingest_batch"
            ).parquet(staging)

        staged_replace(self.spark, path, write_staged)
        return n
