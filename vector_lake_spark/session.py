"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same configs are
what we would set cluster-side (AQE on, sensible shuffle partitioning,
Arrow for the few pandas-UDF paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "vector_lake_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # One BLAS thread per Python worker: with N parallel workers each
    # spawning a full-width OpenBLAS/MKL pool, the numpy matmuls in the
    # Arrow scoring paths oversubscribe the box N× and latency becomes
    # noise (measured 2-10s swings on store.query_batch). Tasks are the
    # parallelism unit; per-task math must be single-threaded.
    for var in (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the legacy default) writes NO parquet min/max stats for
        # timestamp columns, so retention scans can't skip row groups;
        # micros is the modern type, carries stats in the footers that
        # delete_older_than prunes on, and round-trips the store's
        # timestamps exactly
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # cluster-side equivalent of the env pinning above (local mode
        # inherits the driver env; real executors need it set explicitly)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
