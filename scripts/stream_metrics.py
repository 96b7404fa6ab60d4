"""Per-micro-batch lag/latency/state metrics for the stateful streaming
operators (r05 verdict #6) — feeds the SCALE.md "Events / streaming"
table.

Runs three stateful ops over sf0.1 as bounded multi-micro-batch streams
(8 files, maxFilesPerTrigger=1, availableNow) under a
``StreamingQueryListener`` (``streaming/metrics.ProgressCapture``) and
prints per-batch input rows, rows/s, trigger latency, and state-store
rows/bytes:

  - tumbling agg   (watermark-evicted window state)
  - session window (native session state)
  - exact dedup    (applyInPandasWithState, 8-byte fingerprint state)
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vector_lake_spark.functions.text import fingerprint64
from vector_lake_spark.session import get_spark
from vector_lake_spark.sources import normalize_event_ts
from vector_lake_spark.streaming.dedup import stream_exact_dedup
from vector_lake_spark.streaming.events import (
    stream_sessionize,
    stream_tumbling_agg,
)
from vector_lake_spark.streaming.metrics import ProgressCapture

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_FILES = 8

spark = get_spark("stream_metrics")
spark.sparkContext.setLogLevel("ERROR")


def split_source(df, name):
    src = os.path.join(tempfile.mkdtemp(prefix="smx_"), name)
    df.repartition(N_FILES).write.parquet(src)
    return src


def stream_of(src):
    schema = spark.read.parquet(src).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


events_src = split_source(
    normalize_event_ts(spark.read.parquet(f"{SF}/events.parquet")), "events"
)
docs_src = split_source(
    spark.read.parquet(f"{SF}/documents.parquet").select(
        fingerprint64(F.col("text")).alias("fp"), "doc_id", "text"
    ),
    "docs",
)

RUNS = [
    (
        "tumbling_agg",
        lambda: stream_tumbling_agg(stream_of(events_src)),
        "append",
    ),
    (
        "session_window",
        lambda: stream_sessionize(stream_of(events_src)),
        "append",
    ),
    (
        "exact_dedup",
        lambda: stream_exact_dedup(stream_of(docs_src)),
        "append",
    ),
]

for name, build, mode in RUNS:
    cap = ProgressCapture()
    spark.streams.addListener(cap)
    try:
        q = (
            build()
            .writeStream.format("memory")
            .queryName(f"m_{name}")
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # progress events land asynchronously
        if not cap.wait_for(N_FILES):
            print(
                f"WARNING: {name}: only {len(cap.rows())}/{N_FILES} "
                f"batches reported — table below is incomplete"
            )
    finally:
        spark.streams.removeListener(cap)
    print(f"\n== {name}")
    print("batch  input_rows  rows/s     batch_ms  state_rows  state_KB")
    for r in cap.rows():
        print(
            f"{r['batch']:>5}  {r['input_rows']:>10}  {r['rows_per_sec']:>9}"
            f"  {r['batch_ms']:>8}  {r['state_rows']:>10}"
            f"  {r['state_bytes'] / 1024:>8.0f}"
        )

# rollup maintenance is a foreachBatch sink (no memory table) — same
# listener, its "state" is the persisted partials table, so state_rows
# from the store is 0 by design; report the on-disk partial count instead
from vector_lake_spark.streaming.rollup import RollupIngest

cap = ProgressCapture()
spark.streams.addListener(cap)
try:
    work = tempfile.mkdtemp(prefix="smx_rollup_")
    ingest = RollupIngest(spark, work + "/rollup")
    ingest.run(stream_of(events_src), work + "/ckpt")
    if not cap.wait_for(N_FILES):
        print(
            f"WARNING: rollup_ingest: only {len(cap.rows())}/{N_FILES} "
            f"batches reported — table below is incomplete"
        )
finally:
    spark.streams.removeListener(cap)
print("\n== rollup_ingest (foreachBatch; streaming state store EMPTY by design)")
print("batch  input_rows  rows/s     batch_ms  state_rows  state_KB")
for r in cap.rows():
    print(
        f"{r['batch']:>5}  {r['input_rows']:>10}  {r['rows_per_sec']:>9}"
        f"  {r['batch_ms']:>8}  {r['state_rows']:>10}"
        f"  {r['state_bytes'] / 1024:>8.0f}"
    )
print("persisted partial rows (the real state):", ingest.partials().count())

spark.stop()
