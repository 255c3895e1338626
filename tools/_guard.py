"""The one per-entry runner of the sweep tools (null_parity_audit,
partition_invariance_audit, sf1_timing_sweep, verify_queries): ``sweep``
runs a body once per registry entry under the ``guarded`` watchdog,
records each entry's outcome and restarts a session that an entry
killed.

The tools import it as ``from _guard import sweep``: running a tool
puts ``tools/`` on ``sys.path``, and the tests that import the tools
add it themselves.
"""
from __future__ import annotations

import contextlib
import threading
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

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


@dataclass
class Outcome:
    """One entry's result: ``status`` is "ok", "WATCHDOG" or "error";
    ``value`` is what the body returned, ``error`` what it raised.
    ``restarted`` marks an entry that left the session's context
    stopped, after which the next entry ran on a new session."""

    status: str
    sec: float
    value: Any = None
    error: Exception | None = None
    restarted: bool = False


def _stopped(spark) -> bool:
    try:
        return spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # noqa: BLE001 — py4j gone = dead
        return True


def sweep(
    new_session: Callable[[], Any],
    names: list[str],
    prefix: str,
    watchdog_s: float,
    body: Callable[[Any, str], Any],
    tag: str = "",
) -> dict[str, Outcome]:
    """Run ``body(spark, name)`` for each of ``names`` under job group
    ``{prefix}-{name}`` and a ``watchdog_s`` watchdog; return each
    entry's Outcome and print progress, prefixed by ``tag``, every 25
    entries.

    ``new_session`` returns the live session, building one when none
    runs (``getOrCreate``): it is called once up front and again after
    an entry stopped the context. An entry can kill the whole JVM
    (observed in the r13 --timeskew scout: interpolating a 55k-year gap
    OOMed the driver and every later entry then "errored" on a dead
    context — 200+ cascade rows masking the real findings), so one
    poisoned entry costs one restart, not the rest of the run.
    """
    spark = new_session()
    out: dict[str, Outcome] = {}
    t_all = time.time()
    for i, name in enumerate(names):
        t0 = time.time()
        cancelled = None
        try:
            with guarded(spark, f"{prefix}-{name}", watchdog_s) as cancelled:
                value = body(spark, name)
            outcome = Outcome("ok", 0.0, value)
        except Exception as ex:  # noqa: BLE001 — per-entry isolation
            fired = cancelled is not None and cancelled.is_set()
            outcome = Outcome("WATCHDOG" if fired else "error", 0.0, error=ex)
        outcome.sec = round(time.time() - t0, 2)
        if _stopped(spark):
            outcome.restarted = True
            try:
                spark.stop()
            except Exception:  # noqa: BLE001 — already dead
                pass
            spark = new_session()
        out[name] = outcome
        if (i + 1) % 25 == 0:
            print(f"{tag}{i + 1}/{len(names)} {time.time() - t_all:.0f}s", flush=True)
    return out
