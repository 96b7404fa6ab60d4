#!/usr/bin/env python3
"""The vlake benchmark: one command for every workload.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout and writes only under ``.perfbench/``
there. Spark runs as ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this
process may use), one JVM, one client with one request in flight.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
library's layer entry points, alternates traced and untraced work to
measure the tracing overhead, parses the Spark event log, writes spans
and per-layer metrics to ``.perfbench/trace-<workload>-<seed>.json`` and
prints the per-layer metrics. The last stdout line is always the JSON
result; the line before it carries host facts and detail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve", "pipeline")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file the run makes inside ``work``, export the library
    to the Python workers, and default to all usable CPUs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM (the launcher too): temp files in work, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for its process tree."""
    from pyspark import SparkContext

    from perfbench.host import tree_pids

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def measure(spark, workload: str, seed: int, seconds: float, trace: bool, work: str, cfg=None):
    """Run one workload on a started session, keeping its files in
    ``work``. Returns (result, metrics, units); with ``trace`` the session
    must write an uncompressed event log (see ``spark_conf``)."""
    from perfbench import pipeline, report, serve
    from perfbench.trace import Tracer, attribute_event_log, streaming_listener

    module = serve if workload == "serve" else pipeline
    cfg = cfg or (serve.ServeConfig() if workload == "serve" else pipeline.PipelineConfig())
    tracer = Tracer(spark, enabled=trace)
    batches: list[dict] = []
    listener = None
    if trace:
        from perfbench.layers import instrument

        instrument(tracer)
        listener = streaming_listener(batches)
        spark.streams.addListener(listener)
    try:
        res = module.run(spark, seed, seconds, tracer, work, cfg)
    finally:
        tracer.restore()
        if listener is not None:
            spark.streams.removeListener(listener)
    if not trace:
        return res, report.end_to_end(res), report.END_TO_END
    # the log is flushed at every job end, so it is complete here
    log_dir = spark.conf.get("spark.eventLog.dir").removeprefix("file://")
    totals = attribute_event_log(log_dir, tracer.ops)
    metrics = report.per_layer(tracer, res, batches)
    res.detail["app_totals"] = totals
    res.detail["trace_file"] = os.path.join(work, "trace.json")
    tracer.dump(res.detail["trace_file"], metrics, {"streaming": batches})
    return res, metrics, report.PER_LAYER


def result_line(res, metrics: dict, units: dict) -> str:
    return json.dumps(
        {
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "vector_lake_spark", "store.py")):
        print(f"perfbench: no vector_lake_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)

    from perfbench.host import PssSampler, cpu_times, host_facts, steal_share

    facts = host_facts()
    ticks = cpu_times()
    trace = bool(args.trace)
    try:
        with PssSampler() as mem:
            t0 = time.perf_counter()
            import pyspark

            from vector_lake_spark.session import get_spark

            spark = get_spark("perfbench", extra_conf=spark_conf(work, trace))
            session_s = time.perf_counter() - t0
            try:
                res, metrics, units = measure(
                    spark, args.workload, args.seed, args.seconds, trace, work
                )
            finally:
                stop_spark(spark)
        if trace:
            kept = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
            os.replace(res.detail["trace_file"], kept)
            res.detail["trace_file"] = kept
            # per layer, not end to end: the JVM heap grows as its
            # collector decides, and the peak of runs of the same code
            # spreads by 15-30%
            metrics["memory.peak_pss_mb"] = mem.peak / 2**20
        else:
            metrics["setup_s"] += session_s
        res.detail["peak_pss_mb"] = mem.peak / 2**20
    finally:
        shutil.rmtree(work, ignore_errors=True)

    facts.update(
        loadavg_after=host_facts()["loadavg"],
        cpu_steal_share=steal_share(ticks, cpu_times()),
        spark_version=pyspark.__version__,
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        session_s=session_s,
    )
    print(json.dumps({"host": facts, "detail": res.detail, "failures": res.failures,
                      "error_rate": res.failed / max(res.attempted, 1)}, default=str))
    print(result_line(res, metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
