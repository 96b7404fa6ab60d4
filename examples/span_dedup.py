"""The r12 span-dedup family in one runnable tour:
audit → trim → streaming with a retroactive update.

    python examples/span_dedup.py

Dedupe SPANS, not docs (the C4 / "Deduplicating Training Data"
recipe): a unique article wrapped in shared navigation boilerplate is
not a near-dup of anything — doc-level dedup keeps every copy of the
boilerplate. The span family finds the corpus-duplicated token
RANGES (`duplicated_spans` — positional shingle hashes, cross-doc
frequency, interval-merging islands), reports per-doc coverage
(`pipe_span_dedup`), returns the trimmed corpus
(`strip_duplicated_spans`), and maintains the report incrementally
(`SpanDedupIngest`) — where a later batch can push a gram over the
frequency threshold and retroactively rewrite an OLD document's
report, which this tour demonstrates live.
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_lake_spark.session import get_spark


def main():
    spark = get_spark("span_dedup_example")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="span_dedup_")

    from vector_lake_spark.operators.dedup import (
        duplicated_spans,
        strip_duplicated_spans,
    )
    from vector_lake_spark.streaming.spans import SpanDedupIngest

    nav = "home about contact subscribe to our newsletter today"
    rows = [
        (0, nav + " quantum computing breaks new ground this week"),
        (1, nav + " local bakery wins the regional bread award"),
        (2, nav + " rainfall expected across the valley by friday"),
        (3, "a letter to the editor about completely original things"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    print("duplicated spans (1-based token intervals, n=4, >=3 docs):")
    duplicated_spans(df, n=4, min_docs=3).orderBy("doc_id").show()

    print("trimmed corpus (boilerplate removed, uniques normalized):")
    strip_duplicated_spans(df, n=4, min_docs=3).orderBy("doc_id").show(
        truncate=False
    )

    # --- streaming: the threshold crossing happens mid-stream --------
    # batch 0 carries docs {0, 3}; batch 1 carries {1}; batch 2
    # carries {2} — only at batch 2 does the nav boilerplate reach 3
    # distinct docs, so the ingest must retroactively rewrite the
    # reports of docs 0 and 1 written in earlier batches.
    src = f"{work}/src"
    os.makedirs(src, exist_ok=True)
    for i, chunk in enumerate([[rows[0], rows[3]], [rows[1]], [rows[2]]]):
        spark.createDataFrame(
            chunk, "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b{i}")
    ingest = SpanDedupIngest(
        spark,
        f"{work}/hist",
        f"{work}/docs",
        f"{work}/reports",
        n=4,
        min_docs=3,
    )
    for i in range(3):
        ingest.process_batch(spark.read.parquet(f"{src}/b{i}"), i)
        print(f"after batch {i} (latest report per doc):")
        ingest.reports().orderBy("doc_id").show()

    spark.stop()


if __name__ == "__main__":
    main()
