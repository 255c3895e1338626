"""Streaming counts for the traced run, from a StreamingQueryListener.

The engine's streaming entries replay their input with an
``availableNow`` trigger while the registry call is building the query.
This listener records every micro-batch's progress so the traced run can
report batches, input rows, batch time and state size.
"""

from __future__ import annotations

import statistics
import threading

from pyspark.sql.streaming import StreamingQueryListener


class StreamCounts(StreamingQueryListener):
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.started = 0
            self.terminated = 0
            self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        with self._lock:
            self.batches.append(
                {
                    "run": str(p.runId),
                    "input_rows": p.numInputRows,
                    "batch_ms": p.batchDuration,
                    "state_rows": sum(op.numRowsTotal for op in ops),
                    "state_bytes": sum(op.memoryUsedBytes for op in ops),
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1

    def summary(self) -> dict[str, float]:
        """Totals over every batch seen since the last reset. State rows
        and bytes are taken at each query's largest batch-end value and
        summed over queries."""
        with self._lock:
            batches = list(self.batches)
        peak_rows: dict[str, int] = {}
        peak_bytes: dict[str, int] = {}
        for b in batches:
            peak_rows[b["run"]] = max(peak_rows.get(b["run"], 0), b["state_rows"])
            peak_bytes[b["run"]] = max(peak_bytes.get(b["run"], 0), b["state_bytes"])
        return {
            "batches": len(batches),
            "input_rows": sum(b["input_rows"] for b in batches),
            "batch_p50_ms": statistics.median(b["batch_ms"] for b in batches) if batches else 0.0,
            "state_rows": sum(peak_rows.values()),
            "state_mb": sum(peak_bytes.values()) / 1e6,
        }
