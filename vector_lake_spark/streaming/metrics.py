"""Streaming lag/latency instrumentation (r05 verdict #6).

``ProgressCapture`` is a ``StreamingQueryListener`` that records every
micro-batch's progress event — input rows, processing rate, trigger
latency, and state-store size — the numbers an operator watches to know
whether a stateful stream is keeping up and whether its state is
actually bounded. ``scripts/stream_metrics.py`` runs the stateful
operators under it and SCALE.md ("Events / streaming") records the
resulting table.

Usage::

    cap = ProgressCapture()
    spark.streams.addListener(cap)
    try:
        ... run the query ...
    finally:
        spark.streams.removeListener(cap)
    for row in cap.rows():
        print(row)
"""

from __future__ import annotations

import json

from pyspark.sql.streaming import StreamingQueryListener


class ProgressCapture(StreamingQueryListener):
    """Collects raw progress dicts; ``rows()`` summarizes per batch."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802 (listener API)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def wait_for(self, n_batches: int, timeout: float = 10.0) -> bool:
        """Listener events are delivered ASYNCHRONOUSLY — the final
        batch's progress can land after ``awaitTermination`` returns.
        Poll until ``n_batches`` non-empty progress events arrived;
        returns True when they did, False on timeout — callers must
        check (a silently truncated metrics table reads as complete —
        r06 review finding)."""
        import time

        deadline = time.time() + timeout
        while time.time() < deadline:
            if len(self.rows()) >= n_batches:
                return True
            time.sleep(0.1)
        return len(self.rows()) >= n_batches

    def rows(self, include_empty: bool = False) -> list[dict]:
        """One summary dict per micro-batch:

        - ``input_rows`` / ``rows_per_sec``: throughput
        - ``batch_ms``: trigger-to-commit latency for the batch
        - ``state_rows`` / ``state_bytes``: total state-store footprint
          across the query's stateful operators after the batch — the
          boundedness evidence (a watermark-evicted operator's rows
          plateau; an unbounded one's grow with every batch)
        """
        return summarize(self.progress, include_empty)


def summarize(progress: list[dict], include_empty: bool = False) -> list[dict]:
    """Per-micro-batch summary rows from raw progress dicts — shared by
    ``ProgressCapture.rows`` and callers that only have
    ``query.recentProgress`` jsons."""
    out = []
    for p in progress:
        if not include_empty and not p.get("numInputRows"):
            continue
        state = p.get("stateOperators") or []
        out.append(
            {
                "name": p.get("name"),
                "batch": p.get("batchId"),
                "input_rows": p.get("numInputRows", 0),
                "rows_per_sec": round(
                    p.get("processedRowsPerSecond") or 0.0, 1
                ),
                "batch_ms": (p.get("durationMs") or {}).get(
                    "triggerExecution"
                ),
                "state_rows": sum(
                    s.get("numRowsTotal", 0) for s in state
                ),
                "state_bytes": sum(
                    s.get("memoryUsedBytes", 0) for s in state
                ),
            }
        )
    return out


def assert_floors(
    rows: list[dict],
    min_rows_per_sec: float,
    max_state_rows: int | None = None,
    min_batches: int = 1,
) -> None:
    """Coarse throughput/state regression gate (r06 verdict #9): the
    SCALE.md streaming tables are evidence, but nothing FAILED if a
    change collapsed streaming throughput or unbounded the state store.
    This turns the captured numbers into a test gate. Floors are set at
    collapse level (an order of magnitude under healthy local-mode
    throughput), not at regression level — CI boxes jitter 2-3×, a 10×+
    drop is a plan defect (a new exchange, a per-row Python path, state
    that stopped evicting)."""
    if len(rows) < min_batches:
        raise AssertionError(
            f"streaming gate: only {len(rows)} progress rows captured, "
            f"expected >= {min_batches}"
        )
    slow = [r for r in rows if r["rows_per_sec"] < min_rows_per_sec]
    if slow:
        raise AssertionError(
            "streaming throughput floor violated "
            f"(min {min_rows_per_sec} rows/s): "
            + ", ".join(
                f"batch {r['batch']}: {r['rows_per_sec']} rows/s"
                for r in slow
            )
        )
    if max_state_rows is not None:
        worst = max(r["state_rows"] for r in rows)
        if worst > max_state_rows:
            raise AssertionError(
                f"state-store bound violated: {worst} rows "
                f"(max allowed {max_state_rows})"
            )
