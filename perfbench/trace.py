"""Spans and Spark accounting for the traced run.

The benchmark times each layer from outside: ``Tracer.wrap`` replaces a
module or class attribute of the library at run time with a wrapper
that records a span around the call, and ``Tracer.restore`` puts every
original back. No library source is edited.

A span is (name, layer, start, end, parent, request id), kept in memory.
A span's self time is its duration minus the time its child spans cover;
a layer's self time is the sum over its spans.

Spark work is attributed per operation: each operation runs under its own
job group, ``statusTracker`` gives the live job count of the group, and
the uncompressed event log is parsed after the workload for task
counts, task metrics and the ``MapInPandas`` SQL metric "time to run
Python workers". Jobs started on other threads (streaming micro-batches
run under the stream's own group) are attributed by submission time,
which is exact in a closed loop with one operation in flight.
"""

from __future__ import annotations

import datetime
import functools
import glob
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

# job group ids stay unique across tracers that share one session
_GROUP_IDS = itertools.count()

SPARK_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "input_bytes",
    "input_records",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_worker_s",
)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    request: int | None
    n: float | None = None  # a count the wrapped call returned


@dataclass
class Op:
    """One benchmark operation (a request, or one phase of a pipeline
    entry) and the Spark work attributed to it."""

    name: str
    group: str
    start_ms: float
    end_ms: float
    request: int | None = None
    group_jobs: int = 0
    spark: dict = field(default_factory=lambda: dict.fromkeys(SPARK_METRICS, 0.0))


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self.request: int | None = None
        self._root: int | None = None
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, self.request))
        idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    def span(self, name: str, layer: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.idx = tracer.begin(name, layer) if tracer.enabled else None
                return self

            def __exit__(self, *exc):
                if self.idx is not None:
                    tracer.end(self.idx)
                return False

        return _Ctx()

    def wrap(self, owner, attr: str, name: str, layer: str, count=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper;
        ``count(result)``, if given, is stored on the span."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = original.__func__ if isinstance(original, staticmethod) else original
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.begin(name, layer)
            try:
                result = fn(*args, **kwargs)
                if count is not None:
                    tracer.spans[idx].n = count(result)
                return result
            finally:
                tracer.end(idx)

        setattr(owner, attr, staticmethod(wrapper) if isinstance(original, staticmethod) else wrapper)
        self._patches.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- requests and operations -----------------------------------------

    def start_request(self, request: int, name: str, layer: str = "bench") -> int | None:
        self.request = request
        if not self.enabled:
            return None
        self._root = self.begin(name, layer)
        return self._root

    def end_request(self, idx: int | None) -> None:
        if idx is not None:
            self.end(idx)
        self._root = None

    def op(self, name: str):
        """Run one operation under its own Spark job group."""
        tracer = self

        class _Op:
            def __enter__(self):
                if not tracer.enabled:
                    return self
                group = f"perfbench-{next(_GROUP_IDS)}"
                tracer.spark.sparkContext.setJobGroup(group, name)
                self.op = Op(name, group, time.time() * 1000, 0.0, tracer.request)
                return self

            def __exit__(self, *exc):
                if not tracer.enabled:
                    return False
                self.op.end_ms = time.time() * 1000
                sc = tracer.spark.sparkContext
                self.op.group_jobs = len(sc.statusTracker().getJobIdsForGroup(self.op.group))
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                tracer.ops.append(self.op)
                return False

        return _Op()

    # -- reductions --------------------------------------------------------

    def self_times(self) -> list[float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [max(0.0, s.end - s.start - c) for s, c in zip(self.spans, child)]

    def dump(self, path: str, metrics: dict, extra: dict) -> None:
        """Spans, self times and per-layer metrics in one file."""
        self_t = self.self_times()
        with open(path, "w") as f:
            json.dump(
                {
                    "metrics": metrics,
                    **extra,
                    "ops": [o.__dict__ for o in self.ops],
                    "spans": [
                        {**s.__dict__, "self": st} for s, st in zip(self.spans, self_t)
                    ],
                },
                f,
            )


def streaming_listener(sink: list):
    """A ``StreamingQueryListener`` that records each micro-batch's
    trigger time; listener events arrive late, so ``request_of`` maps the
    trigger time to the operation then in flight."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            sink.append(
                {
                    "start_ms": start.timestamp() * 1000,
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def op_at(ops: list[Op], t_ms: float) -> Op | None:
    """The operation in flight at wall time ``t_ms``."""
    for o in ops:
        if o.start_ms <= t_ms <= o.end_ms:
            return o
    return None


def attribute_event_log(log_dir: str, ops: list[Op]) -> dict:
    """Fill ``op.spark`` from the event log; returns application totals.

    Call it after the workload's last job: Spark flushes the log at every
    job end, so it is complete then."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    by_group = {o.group: o for o in ops}
    stage_op: dict[int, Op | None] = {}
    totals = dict.fromkeys(SPARK_METRICS, 0.0)

    def owner(props: dict, submitted: float) -> Op | None:
        return by_group.get(props.get("spark.jobGroup.id")) or op_at(ops, submitted)

    def add(op: Op | None, key: str, value: float) -> None:
        totals[key] += value
        if op is not None:
            op.spark[key] += value

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = owner(ev.get("Properties") or {}, ev.get("Submission Time", 0))
                    add(op, "jobs", 1)
                    for sid in ev.get("Stage IDs", []):
                        stage_op.setdefault(sid, op)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    op = stage_op.get(info["Stage ID"])
                    add(op, "stages", 1)
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev["Stage ID"])
                    add(op, "tasks", 1)
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        add(op, "failed_tasks", 1)
                    m = ev.get("Task Metrics") or {}
                    add(op, "executor_run_s", m.get("Executor Run Time", 0) / 1000.0)
                    inp = m.get("Input Metrics") or {}
                    add(op, "input_bytes", inp.get("Bytes Read", 0))
                    add(op, "input_records", inp.get("Records Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    add(op, "shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0))
                    add(
                        op,
                        "spill_bytes",
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == "time to run Python workers":
                            add(op, "python_worker_s", float(acc.get("Update", 0)) / 1000.0)
    return totals
