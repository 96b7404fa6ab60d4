"""Distribution-drift monitoring: PSI over fixed integer-exact buckets.

The Population Stability Index between a reference and a current period,
per group — the production monitor for feature/score distribution drift
(PSI > 0.1 = watch, > 0.2 = act; Siddiqi, "Credit Risk Scorecards",
2006).  This module holds the single kernel — bucketing, period split,
smoothing, and the PSI fold — behind the registry's ``drift_psi``
(``queries.q_drift_psi``), whose DuckDB oracle (``SQL_DRIFT_PSI``) takes
its breakpoints and split from the constants here.

Design constraints mirrored in the DuckDB oracle term-for-term:

- Buckets are literal log-spaced breakpoints on exact integer cents
  (``round(value*100)``) — the bucket decision is integer comparison,
  never a float/ln boundary, so the bucketed COUNTS are bit-exact
  cross-engine.
- The period split compares epoch micros against a literal — parsing a
  timestamp string would bind the cut to the session timezone.
- The full |groups| × 10 bucket grid is completed before the PSI fold:
  buckets empty in BOTH periods still contribute their Laplace-smoothed
  ((n+½)/(N+5)) term; dropping them underestimates PSI exactly when a
  distribution collapses into few buckets — the high-drift case the
  monitor exists to catch.

At 100 TB the fact table contributes only the conditional bucket counts
(decomposable — partial-aggregable map-side); all PSI arithmetic runs on
the |groups| × 10 aggregate.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

# Log-spaced breakpoints in integer cents (powers of √10); 10 buckets.
PSI_BREAKS_CENTS = [3, 10, 32, 100, 316, 1000, 3162, 10000, 31623]
N_BUCKETS = len(PSI_BREAKS_CENTS) + 1
# Reference/current split: 2024-01-16T00:00:00Z as UTC epoch seconds.
PSI_SPLIT_EPOCH = 1705363200


def bucket_counts(events: DataFrame) -> DataFrame:
    """Per-(event_type, bucket) period counts — the only pass over the
    fact table."""
    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    bucket = reduce(
        lambda a, b: a + b,
        [(F.col("cents") >= F.lit(b)).cast("int") for b in PSI_BREAKS_CENTS],
    )
    is_cur = F.unix_micros(F.col("ts")) >= F.lit(PSI_SPLIT_EPOCH * 1_000_000)
    return (
        events.select("event_type", "ts", cents.alias("cents"))
        .withColumn("bucket", bucket)
        .groupBy("event_type", "bucket")
        .agg(
            F.sum(F.when(~is_cur, 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(is_cur, 1).otherwise(0)).alias("n_cur"),
        )
    )


def psi_from_counts(per_bucket: DataFrame) -> DataFrame:
    """The PSI fold over one (event_type, bucket, n_ref, n_cur) row per
    bucket: complete the full bucket grid, smooth, and sum the
    divergence terms."""
    # two consumers below (the totals and the grid left-join); the eager
    # materialization of this ≤|types|×10-row aggregate pins the
    # upstream scan to exactly one execution
    per_bucket = per_bucket.localCheckpoint(eager=True)
    tot = per_bucket.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    grid = tot.withColumn(
        "bucket", F.explode(F.sequence(F.lit(0), F.lit(N_BUCKETS - 1)))
    )
    filled = (
        grid.join(F.broadcast(per_bucket), ["event_type", "bucket"], "left")
        .withColumn("n_ref", F.coalesce(F.col("n_ref"), F.lit(0)))
        .withColumn("n_cur", F.coalesce(F.col("n_cur"), F.lit(0)))
    )
    p_ref = (F.col("n_ref") + F.lit(0.5)) / (F.col("t_ref") + F.lit(5.0))
    p_cur = (F.col("n_cur") + F.lit(0.5)) / (F.col("t_cur") + F.lit(5.0))
    return (
        filled.select(
            "event_type",
            "n_ref",
            "n_cur",
            ((p_cur - p_ref) * (F.log(p_cur) - F.log(p_ref))).alias("term"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("n_ref").cast("long").alias("rows_ref"),
            F.sum("n_cur").cast("long").alias("rows_cur"),
            F.round(F.sum("term"), 6).alias("psi"),
        )
    )
