"""Seeded inputs for every workload.

Everything a workload feeds the program is drawn here from one
``numpy.random.RandomState(seed)``: the same seed gives byte-identical
inputs. The program under test only ever receives these generated
arrays, tables and request lists.

This module imports nothing from ``vector_lake_spark``.
"""

from __future__ import annotations

import importlib.util
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _load_gen_testdata():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "gen_testdata.py"
    )
    spec = importlib.util.spec_from_file_location("gen_testdata", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


gen_testdata = _load_gen_testdata()
VOCAB = gen_testdata.VOCAB

DIM = 64
N_GROUPS = 8  # distinct values of the metadata field the ``where`` requests filter on
NEAR_FRAC = 0.8  # share of queries drawn next to a stored vector
N_CENTERS = 24  # Gaussian-mixture clusters of the store vectors


# -- serve ------------------------------------------------------------------


@dataclass
class Request:
    """One client request of the serve loop."""

    kind: str  # "query" | "query_where" | "batch" | "text"
    vector: np.ndarray | None = None  # query / query_where
    batch: np.ndarray | None = None  # batch: (n, DIM)
    text: str | None = None  # text
    n_probes: int = 1
    where_group: int | None = None  # metadata predicate value


@dataclass
class ServeInputs:
    vectors: np.ndarray  # (n, DIM) float64
    ids: list[str]
    groups: np.ndarray  # metadata "g" per row
    documents: list[str]
    warmup: list[Request]
    requests: list[Request]
    probe_vectors: np.ndarray = field(default_factory=lambda: np.zeros((0, DIM)))
    stream_vectors: np.ndarray = field(default_factory=lambda: np.zeros((0, DIM)))


# Fixed request mix per block of ten: the proportions are the same for
# every seed (a seed only reorders a block and draws the vectors), so the
# per-run latency distribution does not depend on how many slow batch
# requests one seed happened to draw.
MIX = ("query",) * 6 + ("query_where",) * 2 + ("batch", "text")


def _mixture(rng: np.random.RandomState, n: int):
    """Gaussian-mixture embeddings with Zipf-skewed cluster weights, so
    LSH shards are as unevenly filled as they are on real embeddings."""
    centers = rng.randn(N_CENTERS, DIM)
    weights = 1.0 / np.arange(1, N_CENTERS + 1)
    weights /= weights.sum()
    assign = rng.choice(N_CENTERS, size=n, p=weights)
    return centers[assign] + 0.35 * rng.randn(n, DIM)


def _text(rng: np.random.RandomState, lo: int = 6, hi: int = 20) -> str:
    return " ".join(VOCAB[i] for i in rng.randint(0, len(VOCAB), rng.randint(lo, hi)))


def _query_vector(rng: np.random.RandomState, vectors: np.ndarray, near: bool):
    if near:
        return vectors[rng.randint(len(vectors))] + 0.05 * rng.randn(DIM)
    return rng.randn(DIM) * 1.5


def serve_inputs(
    seed: int,
    n_rows: int,
    n_requests: int = 400,
    batch_size: int = 100,
) -> ServeInputs:
    rng = np.random.RandomState(seed)
    vectors = _mixture(rng, n_rows)
    ids = [f"v{seed}-{i:07d}" for i in range(n_rows)]
    groups = rng.randint(0, N_GROUPS, n_rows)
    documents = [_text(rng) for _ in range(n_rows)]

    def single(kind: str) -> Request:
        req = Request(kind, vector=_query_vector(rng, vectors, bool(rng.rand() < NEAR_FRAC)))
        if kind == "query_where":
            req.n_probes = 2
            req.where_group = int(rng.randint(N_GROUPS))
        return req

    def make(kind: str) -> Request:
        if kind == "batch":
            near = rng.rand(batch_size) < NEAR_FRAC
            rows = [_query_vector(rng, vectors, bool(b)) for b in near]
            return Request("batch", batch=np.stack(rows))
        if kind == "text":
            return Request("text", text=_text(rng), n_probes=2)
        return single(kind)

    requests: list[Request] = []
    while len(requests) < n_requests:
        block = list(MIX)
        rng.shuffle(block)
        requests.extend(make(k) for k in block)
    # set-up requests: one of each kind
    warmup = [make(k) for k in ("query", "query_where", "batch", "text")]
    # fresh points for the read-your-write probe (never stored before)
    probe_vectors = _mixture(rng, 2)
    stream_vectors = _mixture(rng, 20)
    return ServeInputs(
        vectors, ids, groups, documents, warmup, requests[:n_requests],
        probe_vectors, stream_vectors,
    )


# -- pipeline ---------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _days(rng: np.random.RandomState, n: int, start: str, span_days: int):
    t0 = np.datetime64(start, "us").astype(np.int64)
    return pa.array(
        t0 + rng.randint(0, span_days, n).astype(np.int64) * 86400 * 10**6,
        pa.timestamp("us"),
    )


def _tpch(rng: np.random.RandomState, n_orders: int) -> dict[str, pa.Table]:
    n_cust, n_supp, lines = max(n_orders // 10, 10), max(n_orders // 150, 5), 4
    n_li = n_orders * lines
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    return {
        "region": pa.table({"r_regionkey": i32(np.arange(5)), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": i32(np.arange(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(np.arange(n_cust)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": i32(rng.randint(0, 25, n_cust)),
                "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
                "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(np.arange(n_supp)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": i32(rng.randint(0, 25, n_supp)),
                "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(np.arange(n_orders)),
                "o_custkey": i64(rng.randint(0, n_cust, n_orders)),
                "o_orderstatus": [("F", "O", "P")[i] for i in rng.randint(0, 3, n_orders)],
                "o_totalprice": np.round(rng.uniform(1e3, 5e5, n_orders), 2),
                "o_orderdate": _days(rng, n_orders, "1995-01-01", 6 * 365),
                "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, n_orders)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(np.repeat(np.arange(n_orders), lines)),
                "l_partkey": i64(rng.randint(0, 2000, n_li)),
                "l_suppkey": i64(rng.randint(0, n_supp, n_li)),
                "l_linenumber": i32(np.tile(np.arange(1, lines + 1), n_orders)),
                "l_quantity": rng.randint(1, 51, n_li).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 1e5, n_li), 2),
                "l_discount": rng.randint(0, 11, n_li) / 100.0,
                "l_tax": rng.randint(0, 9, n_li) / 100.0,
                "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n_li)],
                "l_linestatus": [("F", "O")[i] for i in rng.randint(0, 2, n_li)],
                "l_shipdate": _days(rng, n_li, "1995-01-15", 6 * 365),
            }
        ),
    }


def write_pipeline_tables(
    seed: int, out_dir: str, n_docs: int, n_vecs: int, n_events: int, n_orders: int
) -> dict[str, int]:
    """Write the corpus the pipeline entries read (one parquet file per
    table, the layout ``sources.load_table`` expects); returns row counts.
    Documents, embeddings and events come from the repo's own test-data
    generator, so they have the structure of the registry's test tables."""
    rng = np.random.RandomState(seed)
    tables = {
        "documents": gen_testdata.gen_documents(rng, n_docs),
        "embeddings": gen_testdata.gen_embeddings(rng, n_vecs, DIM),
        "events": gen_testdata.gen_events(rng, n_events),
        **_tpch(rng, n_orders),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
