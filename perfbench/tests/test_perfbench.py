"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Fast checks first (no Spark), then tiny-size smoke runs of each workload
in one local session, which check every emitted metric name against
BENCHMARK.json, and a run with an injected wrong top-k that must raise
the error rate above 0.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, inputs, pipeline, report, run, serve  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

TINY_SERVE = serve.ServeConfig(n_rows=2000, approx_shards=16, batch_size=10)
TINY_PIPELINE = pipeline.PipelineConfig(n_docs=80, n_vecs=120, n_events=600, n_orders=120)


def _names(section: str) -> dict:
    return {m["name"]: m["unit"] for m in BENCH[section]}


def test_metric_tables_match_benchmark_json():
    assert _names("end_to_end") == report.END_TO_END
    assert _names("per_layer") == report.PER_LAYER
    assert {w["name"] for w in BENCH["workloads"]} == set(run.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_inputs_depend_only_on_seed(tmp_path):
    a, b = inputs.serve_inputs(5, 300), inputs.serve_inputs(5, 300)
    assert np.array_equal(a.vectors, b.vectors) and a.documents == b.documents
    assert [r.kind for r in a.requests] == [r.kind for r in b.requests]
    assert not np.array_equal(a.vectors, inputs.serve_inputs(6, 300).vectors)
    for d in ("x", "y"):
        inputs.write_pipeline_tables(5, str(tmp_path / d), 40, 40, 100, 30)
    for name in os.listdir(tmp_path / "x"):
        assert (tmp_path / "x" / name).read_bytes() == (tmp_path / "y" / name).read_bytes()


def test_request_mix_is_fixed_per_block():
    kinds = [r.kind for r in inputs.serve_inputs(1, 100, n_requests=40).requests]
    for i in range(0, 40, 10):
        assert sorted(kinds[i : i + 10]) == sorted(inputs.MIX)


def test_reference_routing_matches_library():
    from vector_lake_spark.adapter import hashed_ngram_embedder
    from vector_lake_spark.operators import ann, lsh

    rng = np.random.RandomState(0)
    vecs = rng.randn(200, inputs.DIM)
    ref = check.Reference(vecs, [str(i) for i in range(200)], np.zeros(200), 64)
    planes = lsh.make_hyperplanes(inputs.DIM, lsh.num_hashes_for(64))
    assert np.array_equal(ref.planes, planes)
    assert list(ref.shards) == [lsh.route_vector(v, planes) for v in vecs]
    for v in vecs[:20]:
        assert ref.probes(v, 3) == ann.multiprobe_shards(v, planes, 3)
    text = "spark window merge"
    lib = np.asarray(hashed_ngram_embedder(inputs.DIM)([text])[0])
    assert np.allclose(check.hashed_ngram_embed(text, inputs.DIM), lib)


def test_topk_ok():
    ids = np.array(["a", "b", "c", "d"], dtype=object)
    scores = np.array([0.9, 0.5, 0.7, 0.1])
    assert check.topk_ok([("a", 0.9), ("c", 0.7)], ids, scores, 2)
    assert not check.topk_ok([("a", 0.9), ("b", 0.5)], ids, scores, 2)  # skips c
    assert not check.topk_ok([("c", 0.7), ("a", 0.9)], ids, scores, 2)  # order
    assert not check.topk_ok([("a", 0.8), ("c", 0.7)], ids, scores, 2)  # score
    assert not check.topk_ok([("a", 0.9)], ids, scores, 2)  # too short


def test_tail_needs_ten_samples_beyond():
    from perfbench.common import tail

    assert tail([1.0, 2.0, 3.0]) == (3.0, 100.0, 3)
    xs = [float(i) for i in range(100)]
    value, pct, n = tail(xs)
    assert n == 100 and pct == 90.0 and sum(x > value for x in xs) == 10


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    cmd = BENCH["command"] + ["--workload", "serve", "--seed", "1", "--seconds", "1", "--trace", "0"]
    out = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


# -- smoke runs on a tiny local session --------------------------------------


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    run.configure_env(work)
    from vector_lake_spark.session import get_spark

    spark = get_spark("perfbench-test", extra_conf=run.spark_conf(work, trace=True))
    yield spark
    spark.stop()


def _smoke(session, workload, cfg, trace, tmp_path):
    res, metrics, units = run.measure(session, workload, 1, 1.0, trace, str(tmp_path), cfg)
    line = json.loads(run.result_line(res, metrics, units))
    section = "per_layer" if trace else "end_to_end"
    assert set(line["metrics"]) == set(_names(section))
    for name, m in line["metrics"].items():
        assert m["unit"] == _names(section)[name]
        assert isinstance(m["value"], (int, float))
    assert line["correct"], res.failures
    assert line["attempted"] >= 1 and line["failed"] == 0
    return line


@pytest.mark.parametrize("trace", [False, True])
def test_serve_smoke(session, trace, tmp_path):
    line = _smoke(session, "serve", TINY_SERVE, trace, tmp_path)
    m = line["metrics"]
    if trace:
        assert m["store.load.calls"]["value"] >= 1
        assert m["store.compact.s"]["value"] > 0
    else:
        assert m["request_p50_s"]["value"] > 0


@pytest.mark.parametrize("trace", [False, True])
def test_pipeline_smoke(session, trace, tmp_path):
    line = _smoke(session, "pipeline", TINY_PIPELINE, trace, tmp_path)
    if trace:
        m = line["metrics"]
        assert m["queries.dedup_clusters.build_jobs"]["value"] > 0
        assert m["streaming.batches"]["value"] > 0


def test_wrong_result_on_repeated_build_is_caught(session, monkeypatch, tmp_path):
    """An entry that is right when first built and wrong when built again
    must fail the run: every timed pass is checked, not only the
    warm-up."""
    from vector_lake_spark import queries as Q

    real = Q.QUERIES["mm_image_neardup"]
    calls = []

    def wrong_after_first(spark, sf):
        calls.append(sf)
        df = real(spark, sf)
        return df if len(calls) == 1 else df.limit(0)

    monkeypatch.setitem(Q.QUERIES, "mm_image_neardup", wrong_after_first)
    res, _, _ = run.measure(session, "pipeline", 1, 1.0, False, str(tmp_path), TINY_PIPELINE)
    assert len(calls) >= 2
    assert any("timed pass" in f for f in res.failures), res.failures
    assert res.failed / res.attempted > 0


def test_wrong_topk_raises_error_rate(session, monkeypatch, tmp_path):
    """A store that answers with the least similar rows must be caught."""
    from vector_lake_spark import store

    real = store.topk_cosine

    def wrong(df, query, k, **kw):
        return real(df, [-x for x in query], k, **kw)

    monkeypatch.setattr(store, "topk_cosine", wrong)
    res, _, _ = run.measure(session, "serve", 2, 1.0, False, str(tmp_path), TINY_SERVE)
    assert res.attempted >= 1
    assert res.failed / res.attempted > 0
