"""Which library functions the traced run wraps, and under which layer.

Layer names follow the modules: ``store`` (store.py), ``lsh`` (the
router), ``topk``, ``adapter``, ``queries`` (registry builders and the
operators they drive), ``streaming`` (the foreachBatch maintainers) and
``spark`` (actions and reads that run Spark jobs). ``codec`` kernels run
inside Python workers, out of the driver's reach; their time comes from
the event log's "time to run Python workers".
"""

from __future__ import annotations

STORE_METHODS = (
    "load",
    "query",
    "query_batch",
    "persist",
    "add_dataframe",
    "upsert_batch",
    "delete_ids",
    "stream_ingest",
    "compact",
    "delete_older_than",
)


def instrument(tracer) -> None:
    from pyspark.sql import DataFrameReader, DataFrameWriter

    from vector_lake_spark import adapter, queries, store
    from vector_lake_spark.operators import ann, dedup, graph, lsh, topk

    for m in STORE_METHODS:
        tracer.wrap(store.SparkVectorLake, m, f"store.{m}", "store")
    # store.py binds topk_cosine at import; query() resolves
    # multiprobe_shards from operators.ann at call time
    tracer.wrap(topk, "topk_cosine", "topk.topk_cosine", "topk")
    tracer.wrap(store, "topk_cosine", "topk.topk_cosine", "topk")
    tracer.wrap(ann, "multiprobe_shards", "lsh.multiprobe_shards", "lsh", count=len)
    tracer.wrap(lsh, "shard_id_expr", "lsh.shard_id_expr", "lsh")
    tracer.wrap(adapter.SparkVectorLakeStore, "similarity_search", "adapter.similarity_search", "adapter")
    for owner, name in (
        (dedup, "ngram_jaccard_pairs"),
        (dedup, "connected_components_star"),
        (graph, "knn_edges"),
        (ann, "lsh_neardup_pairs"),
    ):
        span = f"queries.{owner.__name__.rsplit('.', 1)[1]}.{name}"
        # builders call either the operator module's attribute or a
        # name queries.py imported at module load
        if getattr(queries, name, None) is getattr(owner, name):
            tracer.wrap(queries, name, span, "queries")
        tracer.wrap(owner, name, span, "queries")
    # the session's concrete DataFrame class overrides these actions
    frame = type(tracer.spark.range(0))
    for owner, name in (
        (frame, "collect"),
        (frame, "toPandas"),
        (frame, "count"),
        (DataFrameWriter, "save"),
        (DataFrameWriter, "parquet"),
        (DataFrameReader, "parquet"),
    ):
        tracer.wrap(owner, name, f"spark.{owner.__name__}.{name}", "spark")
    from vector_lake_spark.streaming import scd2

    tracer.wrap(scd2.SCD2Ingest, "process_batch", "streaming.SCD2Ingest.process_batch", "streaming")


def wrap_embedder(tracer, embed):
    """The adapter's embedding function is an instance attribute."""

    def traced(texts):
        with tracer.span("adapter.embed", "adapter"):
            return embed(texts)

    return traced
