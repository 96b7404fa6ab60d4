"""The r06 serving layer in one runnable tour: incremental rollup
maintenance, sketches, CDC compaction, and Z-order layout over the
events table.

    python examples/serving.py           # uses /root/testdata/sf0.01

Each block is the miniature of a 100 TB pattern — see SCALE.md
"Serving layer" for the posture arguments.
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vector_lake_spark.session import get_spark
from vector_lake_spark.sources import normalize_event_ts

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

if __name__ == "__main__":
    spark = get_spark("example_serving")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="serving_example_")
    events = normalize_event_ts(spark.read.parquet(f"{SF}/events.parquet"))

    # 1. Incremental rollup: a stream maintains decomposable partials;
    #    weekly totals are served without rescanning history.
    from vector_lake_spark.streaming.rollup import RollupIngest

    ingest = RollupIngest(spark, f"{work}/rollup")
    schema = spark.read.parquet(f"{SF}/events.parquet").schema
    stream = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF)
    )
    ingest.run(stream, f"{work}/ckpt")
    print("weekly totals from stream-maintained partials:")
    ingest.serve_weekly().orderBy("week_start", "event_type").show(8)
    print("compacted partial rows:", ingest.compact_partials())

    # 2. Sketches: distinct users without a distinct shuffle, overlap
    #    without rescanning either side.
    per_type = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    est = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("all_users_est")
    )
    est.show()

    # 3. CDC compaction: the current per-user snapshot from the log.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    snapshot = (
        events.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )
    print("snapshot rows:", snapshot.count())

    # 4. Z-order layout: one range shuffle + local sort; files become
    #    narrow in BOTH user and day, so parquet stats prune either.
    from vector_lake_spark.operators.layout import zorder_layout

    laid = zorder_layout(
        events.select(
            "event_id",
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day_no"),
        ),
        F.col("user_id"),
        F.col("day_no"),
        n_files=8,
    )
    laid.write.mode("overwrite").parquet(f"{work}/events_zorder")
    print("z-ordered files written to", f"{work}/events_zorder")

    # 5. SCD2 history, maintained incrementally: two in-order change
    #    batches fold into a bucket-partitioned interval table; only
    #    the touched buckets are rewritten, out-of-order rows would
    #    quarantine instead of corrupting history.
    from vector_lake_spark.streaming.scd2 import SCD2Ingest

    e = events.localCheckpoint(eager=True)
    mid = e.approxQuantile("event_id", [0.5], 0.0)[0]
    scd2 = SCD2Ingest(spark, f"{work}/scd2", f"{work}/scd2_quar")
    scd2.process_batch(e.filter(F.col("event_id") <= mid), 0)
    scd2.process_batch(e.filter(F.col("event_id") > mid), 1)
    print("stream-maintained SCD2 history (one entity):")
    scd2.serve_intervals().filter(F.col("user_id") == 7).orderBy(
        "version"
    ).show(6)

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
