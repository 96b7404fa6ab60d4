"""Turn a run into the metrics ``BENCHMARK.json`` names.

End-to-end metrics come from an untraced run. Per-layer metrics come
from a traced run; every workload reports every per-layer name, with 0
for a layer the workload does not reach.
"""

from __future__ import annotations

from perfbench.common import RunResult, median, tail
from perfbench.pipeline import ENTRIES
from perfbench.trace import SPARK_METRICS, op_at

END_TO_END = {
    "setup_s": "s",
    "request_p50_s": "s",
    "requests_per_s": "1/s",
}

ENTRY_METRICS = {
    "build_s": "s",
    "build_jobs": "count",
    "exec_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "python_worker_s": "s",
}

_SPARK_UNITS = {"executor_run_s": "s", "python_worker_s": "s"}

PER_LAYER = {
    "store.load.s": "s",
    "store.load.calls": "count",
    "store.query.build_s": "s",
    "store.query.exec_s": "s",
    "store.query_batch.build_s": "s",
    "store.query_batch.exec_s": "s",
    "store.persist.s": "s",
    "store.upsert_batch.s": "s",
    "store.delete_ids.s": "s",
    "store.stream_ingest.s": "s",
    "store.compact.s": "s",
    "store.delete_older_than.s": "s",
    "store.files_per_shard": "count",
    "store.self_s": "s",
    "lsh.multiprobe_shards.s": "s",
    "lsh.shards_probed": "count",
    "lsh.rows_scanned_per_result": "count",
    "lsh.self_s": "s",
    "topk.topk_cosine.build_s": "s",
    "topk.self_s": "s",
    "adapter.embed.s": "s",
    "adapter.similarity_search.s": "s",
    "adapter.self_s": "s",
    **{f"queries.{e}.{m}": u for e in ENTRIES for m, u in ENTRY_METRICS.items()},
    "queries.self_s": "s",
    "codec.python_worker_s": "s",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.self_s": "s",
    **{f"spark.{m}": _SPARK_UNITS.get(m, "bytes" if "bytes" in m else "count")
       for m in SPARK_METRICS if m not in ("spill_bytes", "python_worker_s")},
    "spark.group_jobs": "count",
    "spark.self_s": "s",
    "trace.spans": "count",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
    "memory.peak_pss_mb": "MB",
}


def end_to_end(res: RunResult) -> dict:
    """The workload's share of the end-to-end metrics; the caller adds
    session start to ``setup_s``. The tail goes
    to the detail only: a run holds too few requests for a percentile
    above the median to have ten samples beyond it."""
    t, pct, n = tail(res.latencies)
    res.detail.update(tail_s=t, tail_percentile=pct, samples=n)
    return {
        "setup_s": res.setup_s,
        "request_p50_s": median(res.latencies),
        "requests_per_s": len(res.latencies) / res.loop_s,
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(tracer, res: RunResult, streaming: list[dict]) -> dict:
    """Per-layer metrics over the traced requests of the timed loop."""
    in_loop = [s for s in tracer.spans if s.request is not None]
    traced = {s.request for s in in_loop}
    n_req = max(len(traced), 1)
    loop_ops = [o for o in tracer.ops if o.request in traced]

    def dur(name, spans=in_loop):
        return [s.end - s.start for s in spans if s.name == name]

    def op_dur(*names):
        return [(o.end_ms - o.start_ms) / 1000 for o in loop_ops if o.name in names]

    m = dict.fromkeys(PER_LAYER, 0.0)

    m["store.load.s"] = _mean(dur("store.load"))
    m["store.load.calls"] = len(dur("store.load")) / n_req
    m["store.query.build_s"] = _mean(dur("store.query"))
    m["store.query.exec_s"] = _mean(op_dur("query.exec", "query_where.exec"))
    m["store.query_batch.build_s"] = _mean(dur("store.query_batch"))
    m["store.query_batch.exec_s"] = _mean(op_dur("batch.exec"))
    for name in ("persist", "upsert_batch", "delete_ids", "stream_ingest", "compact", "delete_older_than"):
        m[f"store.{name}.s"] = _mean(dur(f"store.{name}", tracer.spans))
    m["store.files_per_shard"] = res.detail.get("files_per_shard", 0.0)
    m["lsh.multiprobe_shards.s"] = _mean(dur("lsh.multiprobe_shards"))
    m["lsh.shards_probed"] = _mean(
        s.n for s in in_loop if s.name == "lsh.multiprobe_shards" and s.n is not None
    )
    query_ops = [o for o in loop_ops if o.name in ("query.exec", "query_where.exec")]
    results = res.detail.get("query_results", 0)
    if results:
        m["lsh.rows_scanned_per_result"] = sum(o.spark["input_records"] for o in query_ops) / results
    m["topk.topk_cosine.build_s"] = _mean(dur("topk.topk_cosine"))
    m["adapter.embed.s"] = _mean(dur("adapter.embed"))
    m["adapter.similarity_search.s"] = _mean(dur("adapter.similarity_search"))

    passes = res.detail.get("traced_passes", 0)
    for e in ENTRIES if passes else ():
        build = [o for o in loop_ops if o.name == f"{e}.build"]
        execs = [o for o in loop_ops if o.name == f"{e}.exec"]
        m[f"queries.{e}.build_s"] = _mean(op_dur(f"{e}.build"))
        m[f"queries.{e}.exec_s"] = _mean(op_dur(f"{e}.exec"))
        m[f"queries.{e}.build_jobs"] = sum(o.spark["jobs"] for o in build) / passes
        for k in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes",
                  "spill_bytes", "python_worker_s"):
            m[f"queries.{e}.{k}"] = sum(o.spark[k] for o in build + execs) / passes

    in_loop_self = {}
    for s, st in zip(tracer.spans, tracer.self_times()):
        if s.request is not None:
            in_loop_self[s.layer] = in_loop_self.get(s.layer, 0.0) + st
    for layer in ("store", "lsh", "topk", "adapter", "queries", "streaming", "spark"):
        m[f"{layer}.self_s"] = in_loop_self.get(layer, 0.0) / n_req
    m["codec.python_worker_s"] = sum(o.spark["python_worker_s"] for o in loop_ops) / n_req

    loop_batches = [
        b for b in streaming
        if (op := op_at(tracer.ops, b["start_ms"])) is not None and op.request in traced
    ]
    m["streaming.batches"] = len(loop_batches) / n_req
    m["streaming.batch_s"] = _mean(b["duration_s"] for b in loop_batches)

    for k in SPARK_METRICS:
        if f"spark.{k}" in m:
            m[f"spark.{k}"] = sum(o.spark[k] for o in loop_ops) / n_req
    m["spark.group_jobs"] = sum(o.group_jobs for o in loop_ops) / n_req
    m["trace.spans"] = len(in_loop) / n_req
    m["trace.overhead_s"] = res.detail.get("trace_overhead_s", 0.0)
    m["trace.overhead_frac"] = res.detail.get("trace_overhead_frac", 0.0)
    return m
