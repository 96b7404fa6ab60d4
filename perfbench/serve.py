"""``serve``: one client in a closed loop against a persisted store.

The store holds Gaussian-mixture vectors under LSH routing. A request is
one of ``SparkVectorLake.query(k=4)``, ``query`` with two probes and a
metadata ``where``, ``query_batch`` of 100 queries, or a text
``SparkVectorLakeStore.similarity_search`` over the same store. The next
request is sent only when the previous one has returned its rows.

Set-up builds the store (``add_dataframe`` + ``persist``) and warms up
on one request of each kind. The timed loop runs whole blocks of the
fixed request mix, at least ``MIN_BLOCKS`` and more while fewer than
``--seconds`` have passed. Requests keep getting faster long after the
warm-up (the JVM is still compiling), so the fixed minimum puts every
run's median at the same point of that curve. After the timed loop
every answer is checked against ``check.Reference``, and a
read-after-delete probe checks that the store does not serve stale rows.
A traced run adds a read-after-upsert probe and a maintenance tail
(``stream_ingest``, ``compact``, ``delete_older_than``), each checked.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np

from perfbench import check
from perfbench.common import RunResult, median
from perfbench.inputs import DIM, MIX, serve_inputs

K = 4
MIN_BLOCKS = 4


@dataclass
class ServeConfig:
    n_rows: int = 20_000
    approx_shards: int = 64
    batch_size: int = 100


def _where(group: int) -> str:
    return f"get_json_object(metadata, '$.g') = '{group}'"


def build_store(spark, inputs, location: str, approx_shards: int):
    import pandas as pd

    from vector_lake_spark.store import SparkVectorLake

    pdf = pd.DataFrame(
        {
            "id": inputs.ids,
            "vector": list(inputs.vectors),
            "metadata": [
                json.dumps({"g": int(g), "rid": rid}, sort_keys=True)
                for g, rid in zip(inputs.groups, inputs.ids)
            ],
            "document": inputs.documents,
        }
    )
    df = spark.createDataFrame(
        pdf, schema="id string, vector array<double>, metadata string, document string"
    )
    lake = SparkVectorLake(spark, location, DIM, approx_shards=approx_shards)
    lake.add_dataframe(df)
    lake.persist()
    return lake


def files_per_shard(location: str) -> float:
    data = os.path.join(location, "data")
    shards = [d for d in os.listdir(data) if d.startswith("shard_id=")]
    files = sum(
        1
        for d in shards
        for f in os.listdir(os.path.join(data, d))
        if f.endswith(".parquet")
    )
    return files / max(len(shards), 1)


class Client:
    """Sends requests; returns what the user receives, for checking."""

    def __init__(self, spark, lake, text_store, tracer):
        self.spark, self.lake, self.text_store, self.tracer = spark, lake, text_store, tracer

    def send(self, req):
        tr = self.tracer
        if req.kind in ("query", "query_where"):
            where = _where(req.where_group) if req.where_group is not None else None
            with tr.op(f"{req.kind}.build"):
                df = self.lake.query(req.vector.tolist(), k=K, n_probes=req.n_probes, where=where)
            with tr.op(f"{req.kind}.exec"):
                rows = df.collect()
            return [(r["id"], r["score"]) for r in rows]
        if req.kind == "batch":
            import pandas as pd

            with tr.op("batch.build"):
                qdf = self.spark.createDataFrame(
                    pd.DataFrame({"query_id": np.arange(len(req.batch)), "qv": list(req.batch)})
                )
                df = self.lake.query_batch(qdf, k=K)
            with tr.op("batch.exec"):
                rows = df.collect()
            out: dict[int, list] = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rn"])):
                out.setdefault(r["query_id"], []).append((r["id"], r["score"]))
            return out
        with tr.op("text"):
            docs = self.text_store.similarity_search(req.text, k=K, n_probes=req.n_probes)
        return [(d["metadata"].get("rid"), d["score"]) for d in docs]


def check_answer(ref: check.Reference, req, got) -> str | None:
    if req.kind in ("query", "query_where"):
        ids, scores = ref.candidates(req.vector, req.n_probes, req.where_group)
        return None if check.topk_ok(got, ids, scores, K) else f"{req.kind} top-k wrong"
    if req.kind == "batch":
        for qi, q in enumerate(req.batch):
            ids, scores = ref.candidates(q, 1)
            if not check.topk_ok(got.get(qi, []), ids, scores, K):
                return f"batch query {qi} top-k wrong"
        return None
    q = check.hashed_ngram_embed(req.text, DIM)
    ids, scores = ref.candidates(q, req.n_probes)
    return None if check.topk_ok(got, ids, scores, K) else "text top-k wrong"


def run(spark, seed: int, seconds: float, tracer, work_dir: str, cfg: ServeConfig) -> RunResult:
    from vector_lake_spark.adapter import SparkVectorLakeStore, hashed_ngram_embedder
    from perfbench.layers import wrap_embedder

    res = RunResult()
    inputs = serve_inputs(seed, cfg.n_rows, batch_size=cfg.batch_size)

    # -- set-up: build the store, warm up ------------------------------------
    location = os.path.join(work_dir, "store")
    t0 = time.perf_counter()
    with tracer.op("build"):
        lake = build_store(spark, inputs, location, cfg.approx_shards)
    build_s = time.perf_counter() - t0
    text_store = SparkVectorLakeStore(
        spark, location, embedding=hashed_ngram_embedder(DIM), dimension=DIM,
        approx_shards=cfg.approx_shards,
    )
    text_store.embedding = wrap_embedder(tracer, text_store.embedding)
    client = Client(spark, lake, text_store, tracer)
    t0 = time.perf_counter()
    for req in inputs.warmup:
        client.send(req)
    warm_s = time.perf_counter() - t0
    res.setup_s = build_s + warm_s

    # -- timed closed loop --------------------------------------------------
    # A traced run traces every other request of each kind; the untraced
    # ones give the tracing overhead on the same loop.
    trace = tracer.enabled
    answers, kinds, traced = [], [], []
    seen: dict[str, int] = {}
    start = time.perf_counter()
    for i, req in enumerate(inputs.requests):
        # whole blocks only, so every run sees the same request mix
        if i >= MIN_BLOCKS * len(MIX) and i % len(MIX) == 0 and (
            time.perf_counter() - start >= seconds
        ):
            break
        seen[req.kind] = seen.get(req.kind, 0) + 1
        tracer.enabled = trace and seen[req.kind] % 2 == 1
        root = tracer.start_request(i, f"request.{req.kind}")
        t0 = time.perf_counter()
        try:
            got = client.send(req)
        except Exception as e:  # a failed request counts, the loop goes on
            got = e
        res.latencies.append(time.perf_counter() - t0)
        tracer.end_request(root)
        kinds.append(req.kind)
        traced.append(tracer.enabled)
        answers.append((req, got))
    res.loop_s = time.perf_counter() - start
    tracer.request = None
    tracer.enabled = trace

    layout = {
        "shard_dirs": len(os.listdir(os.path.join(location, "data"))),
        "files_per_shard": files_per_shard(location),
    }

    # -- checks (untimed) ---------------------------------------------------
    t_check = time.perf_counter()
    ref = check.Reference(inputs.vectors, inputs.ids, inputs.groups, cfg.approx_shards)
    for req, got in answers:
        res.attempted += 1
        why = f"{req.kind} raised {got!r}" if isinstance(got, Exception) else check_answer(ref, req, got)
        if why:
            res.fail(why)
    read_after_delete(lake, ref, inputs, res, tracer)
    if trace:
        read_after_upsert(lake, ref, inputs, res, tracer)
        maintenance(spark, lake, inputs, res, tracer, work_dir)

    check_s = time.perf_counter() - t_check
    by_kind = {k: [t for t, kk in zip(res.latencies, kinds) if kk == k] for k in set(kinds)}
    n_batch = len(by_kind.get("batch", []))
    res.detail = {
        "store_rows": cfg.n_rows,
        "approx_shards": cfg.approx_shards,
        **layout,
        "build_s": build_s,
        "warmup_s": warm_s,
        "loop_s": res.loop_s,
        "check_s": check_s,
        "requests": {k: len(v) for k, v in by_kind.items()},
        "latencies_s": [round(t, 4) for t in res.latencies],
        "query_p50_s": median(by_kind.get("query", [])),
        "query_where_p50_s": median(by_kind.get("query_where", [])),
        "text_search_p50_s": median(by_kind.get("text", [])),
        "batch_query_qps": (
            n_batch * cfg.batch_size / sum(by_kind["batch"]) if n_batch else 0.0
        ),
        "ingest_vectors_per_s": cfg.n_rows / build_s,
        "query_results": sum(
            len(got) for (req, got), on in zip(answers, traced)
            if on and req.kind in ("query", "query_where") and isinstance(got, list)
        ),
    }
    if trace:
        on = [t for t, k, tr in zip(res.latencies, kinds, traced) if tr and k == "query"]
        off = [t for t, k, tr in zip(res.latencies, kinds, traced) if not tr and k == "query"]
        if on and off:
            res.detail["trace_overhead_s"] = median(on) - median(off)
            res.detail["trace_overhead_frac"] = median(on) / median(off) - 1
    return res


def read_after_delete(lake, ref, inputs, res: RunResult, tracer) -> None:
    """Delete a stored row, then query with its own vector: the row must
    be gone and the rest of the answer exact. A read path that serves a
    stale listing or stale rows fails here."""
    rid, q = inputs.ids[1], inputs.vectors[1]
    res.attempted += 1
    try:
        with tracer.op("delete_ids"):
            lake.delete_ids([rid])
        ref.delete(rid)
        with tracer.op("read_after_delete"):
            got = [(r["id"], r["score"]) for r in lake.query(q.tolist(), k=K).collect()]
        ids, scores = ref.candidates(q, 1)
        if rid in {g[0] for g in got} or not check.topk_ok(got, ids, scores, K):
            res.fail("deleted id still returned")
    except Exception as e:
        res.fail(f"delete raised {e!r}")


def read_after_upsert(lake, ref, inputs, res: RunResult, tracer) -> None:
    """Upsert a fresh vector under an existing id: it must be its own top-1."""
    rid, v = inputs.ids[0], inputs.probe_vectors[0]
    res.attempted += 1
    try:
        with tracer.op("upsert_batch"):
            lake.upsert_batch([rid], [v.tolist()], metadata=[{"g": -1, "rid": rid}])
        ref.upsert(rid, v)
        with tracer.op("read_after_upsert"):
            got = [(r["id"], r["score"]) for r in lake.query(v.tolist(), k=K).collect()]
        ids, scores = ref.candidates(v, 1)
        if not (got and got[0][0] == rid and check.topk_ok(got, ids, scores, K)):
            res.fail("upserted vector is not its own top-1")
    except Exception as e:
        res.fail(f"upsert raised {e!r}")


def maintenance(spark, lake, inputs, res: RunResult, tracer, work_dir: str) -> None:
    """Traced runs only: one streamed micro-batch, a compaction and a
    retention delete, each checked by what the store answers after it."""
    import datetime

    import pandas as pd
    from pyspark.sql import functions as F

    from vector_lake_spark.store import LAKE_SCHEMA

    fresh = inputs.stream_vectors
    ids = [f"s{i}" for i in range(len(fresh))]
    src = os.path.join(work_dir, "stream_src")
    os.makedirs(src)
    pd.DataFrame(
        {"id": ids, "vector": list(fresh), "metadata": ['{"g": -1}'] * len(ids),
         "document": [""] * len(ids)}
    ).to_parquet(os.path.join(src, "part-0.parquet"))
    schema = "id string, vector array<double>, metadata string, document string"
    cutoff = datetime.datetime.now(datetime.timezone.utc)
    time.sleep(0.01)  # streamed rows are stamped strictly after the cutoff

    def checked(what, action, ok):
        res.attempted += 1
        try:
            with tracer.op(what):
                action()
            if not ok():
                res.fail(f"{what}: store answers wrong afterwards")
        except Exception as e:
            res.fail(f"{what} raised {e!r}")

    def stream():
        df = spark.readStream.schema(schema).parquet(src).withColumn(
            "timestamp", F.current_timestamp()
        ).select([f.name for f in LAKE_SCHEMA.fields])
        lake.stream_ingest(df, os.path.join(work_dir, "stream_ckpt")).awaitTermination()

    def top1(i):
        return lake.query(fresh[i].tolist(), k=1).collect()[0]["id"] == ids[i]

    n_before = len(inputs.ids) - 1  # one row was deleted; the upsert replaced one
    checked("stream_ingest", stream, lambda: top1(0))
    checked("compact", lake.compact, lambda: lake.count() == n_before + len(ids))
    checked("delete_older_than", lambda: lake.delete_older_than(cutoff),
            lambda: lake.count() == len(ids) and top1(len(ids) - 1))
