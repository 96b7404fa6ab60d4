"""``pipeline``: four registry entries, each built and executed.

The entries put their work in different layers: eager jobs during the
build (``dedup_clusters``), the GIF/dHash codec through ``mapInPandas``
(``mm_image_neardup``), pure JVM joins (``q5_nation_revenue``) and a
streaming maintainer (``ev_stream_scd2``).

Set-up generates the corpus from the seed, runs every entry's DuckDB
oracle once, and makes one warm-up pass. A timed request is one whole
pass: every entry built, then executed and its rows collected. A run
times at least ``MIN_PASSES`` passes, so its median is not one pass's
noise. Passes keep getting faster for many passes after the warm-up
(the JVM is still compiling), so a fixed minimum also puts the median
at the same point of that curve in every run. The rows of the warm-up
pass and of every timed pass are compared with the oracles after the
timed loop, so a result that goes wrong only on a repeated build is
caught.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from perfbench import check
from perfbench.common import RunResult, median
from perfbench.inputs import write_pipeline_tables

ENTRIES = (
    "dedup_clusters",
    "mm_image_neardup",
    "q5_nation_revenue",
    "ev_stream_scd2",
)
MIN_PASSES = 2
TRACED_PASSES = 3


@dataclass
class PipelineConfig:
    n_docs: int = 300
    n_vecs: int = 500
    n_events: int = 5_000
    n_orders: int = 3_000


def run(spark, seed: int, seconds: float, tracer, work_dir: str, cfg: PipelineConfig) -> RunResult:
    import duckdb

    from vector_lake_spark import queries as Q

    res = RunResult()
    t_setup = time.perf_counter()
    corpus = os.path.join(work_dir, "corpus")
    rows = write_pipeline_tables(
        seed, corpus, cfg.n_docs, cfg.n_vecs, cfg.n_events, cfg.n_orders
    )
    duck = duckdb.connect()
    for name in rows:
        duck.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(corpus, name)}.parquet'"
        )
    oracles = {name: check.canon(duck.execute(Q.ORACLES[name]).df()) for name in ENTRIES}
    duck.close()

    # every entry's collected rows, (entry, pass, rows); checked after the loop
    outputs = []

    def execute(name: str, phase: str, label: str) -> float:
        """Build and collect one entry; returns when the build ended."""
        res.attempted += 1
        t1 = time.perf_counter()
        try:
            with tracer.op(f"{name}.build"):
                df = Q.QUERIES[name](spark, corpus)
            t1 = time.perf_counter()
            with tracer.op(f"{name}.{phase}"):
                outputs.append((name, label, df.toPandas()))
        except Exception as e:
            res.fail(f"{name} ({label}) raised {e!r}")
        return t1

    # warm-up pass
    warm = {}
    for name in ENTRIES:
        t0 = time.perf_counter()
        execute(name, "warmup", "warm-up")
        warm[name] = time.perf_counter() - t0
    res.setup_s = time.perf_counter() - t_setup

    # timed loop; a request is one whole pass. A traced run makes three
    # passes, untraced / traced / untraced, for the tracing overhead.
    trace = tracer.enabled
    per_entry: dict[str, list[tuple[float, float]]] = {n: [] for n in ENTRIES}
    start = time.perf_counter()
    while (len(res.latencies) < TRACED_PASSES) if trace else (
        len(res.latencies) < MIN_PASSES or time.perf_counter() - start < seconds
    ):
        i = len(res.latencies)
        tracer.enabled = trace and i == 1
        root = tracer.start_request(i, "pipeline.pass")
        t_pass = time.perf_counter()
        for name in ENTRIES:
            t0 = time.perf_counter()
            with tracer.span(f"queries.{name}", "queries"):
                t1 = execute(name, "exec", f"timed pass {i}")
            per_entry[name].append((t1 - t0, time.perf_counter() - t1))
        res.latencies.append(time.perf_counter() - t_pass)
        tracer.end_request(root)
    res.loop_s = time.perf_counter() - start
    tracer.request = None
    tracer.enabled = trace

    t_check = time.perf_counter()
    for name, label, got in outputs:
        why = check.oracle_compare(oracles[name], got)
        if why:
            res.fail(f"{name} ({label}): {why}")

    passes = res.latencies
    res.detail = {
        "tables": rows,
        "warmup_s": warm,
        "passes_s": passes,
        "pipeline_s": median(passes),
        "entry_build_exec_s": per_entry,
        "check_s": time.perf_counter() - t_check,
    }
    if trace:
        untraced = (passes[0] + passes[2]) / 2
        res.detail["traced_passes"] = 1
        res.detail["trace_overhead_s"] = passes[1] - untraced
        res.detail["trace_overhead_frac"] = passes[1] / untraced - 1
    return res
