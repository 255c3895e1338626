"""Per-entry watchdog shared by the sweep tools (sf1_timing_sweep,
null_parity_audit, partition_invariance_audit).

The tools import it as ``from _guard import guarded``: running a tool
puts ``tools/`` on ``sys.path``, and the tests that import the tools
add it themselves.
"""
from __future__ import annotations

import contextlib
import threading
from collections.abc import Iterator

from py4j.protocol import Py4JError


@contextlib.contextmanager
def guarded(spark, group: str, seconds: float) -> Iterator[threading.Event]:
    """Run the block under job group ``group``; after ``seconds``,
    cancel the group and stop every active stream.

    Yields an Event that is set once the watchdog fired, so the caller
    can tell a cancelled entry from a failing one. Job groups are
    thread-local: an entry that runs a StreamingQuery executes its
    micro-batches on the stream execution thread and blocks this one in
    awaitTermination, so cancelJobGroup alone cannot interrupt it
    (ADVICE r11). The tools run entries serially, so any active query
    belongs to the hung entry, and stop() unblocks awaitTermination.
    On exit the timer is cancelled and the group reset to "idle".
    """
    sc = spark.sparkContext
    cancelled = threading.Event()

    def cancel() -> None:
        cancelled.set()
        sc.cancelJobGroup(group)
        try:
            for q in spark.streams.active:
                q.stop()
        except Exception:  # noqa: BLE001 — best-effort teardown
            pass

    sc.setJobGroup(group, group, interruptOnCancel=True)
    timer = threading.Timer(seconds, cancel)
    timer.start()
    try:
        yield cancelled
    finally:
        timer.cancel()
        try:
            sc.setJobGroup("idle", "idle")
        except Py4JError:
            # the entry killed the JVM: keep the entry's own error, the
            # caller restarts the session
            pass
