"""The sweep tools' shared watchdog (tools/_guard.py ``guarded``),
driven on a fake SparkContext/session: no Spark, no real job."""

from __future__ import annotations

import os
import sys
import threading
from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JError

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from _guard import guarded  # noqa: E402


class _Context:
    def __init__(self) -> None:
        self.group = None
        self.cancelled: list[str] = []

    def setJobGroup(self, group, description, interruptOnCancel=False):  # noqa: N802
        self.group = group

    def cancelJobGroup(self, group):  # noqa: N802
        self.cancelled.append(group)


class _Stream:
    def __init__(self) -> None:
        self.stopped = False

    def stop(self) -> None:
        self.stopped = True


def _session(n_streams: int = 0):
    streams = [_Stream() for _ in range(n_streams)]
    return SimpleNamespace(
        sparkContext=_Context(), streams=SimpleNamespace(active=streams)
    )


def test_timeout_cancels_group_and_stops_streams():
    spark = _session(n_streams=2)
    with guarded(spark, "sweep-x", 0.05) as cancelled:
        assert spark.sparkContext.group == "sweep-x"
        assert cancelled.wait(timeout=5)
    assert spark.sparkContext.cancelled == ["sweep-x"]
    assert all(q.stopped for q in spark.streams.active)
    assert spark.sparkContext.group == "idle"


def test_group_resets_to_idle_after_normal_and_raised_exit():
    spark = _session()
    with guarded(spark, "sweep-ok", 60) as cancelled:
        pass
    assert spark.sparkContext.group == "idle"
    assert not cancelled.is_set()
    with pytest.raises(RuntimeError):
        with guarded(spark, "sweep-err", 60):
            raise RuntimeError("entry failed")
    assert spark.sparkContext.group == "idle"
    assert spark.sparkContext.cancelled == []


def test_timer_is_cancelled_on_exit(monkeypatch):
    timers: list[threading.Timer] = []
    real_timer = threading.Timer

    def recording_timer(*args, **kwargs):
        timers.append(real_timer(*args, **kwargs))
        return timers[-1]

    monkeypatch.setattr(threading, "Timer", recording_timer)
    spark = _session(n_streams=1)
    with pytest.raises(RuntimeError):
        with guarded(spark, "sweep-y", 60):
            raise RuntimeError("entry failed")
    with guarded(spark, "sweep-z", 60):
        pass
    assert len(timers) == 2
    for t in timers:
        assert t.finished.is_set()
        t.join(timeout=5)
        assert not t.is_alive()
    assert spark.sparkContext.cancelled == []
    assert not spark.streams.active[0].stopped


def test_dead_jvm_keeps_the_entry_error():
    """An entry that kills the JVM leaves the idle reset to fail; the
    caller must still see the entry's own error."""
    spark = _session()

    def dead(group, description, interruptOnCancel=False):  # noqa: N803
        if group == "idle":
            raise Py4JError("gateway gone")

    spark.sparkContext.setJobGroup = dead
    with pytest.raises(RuntimeError, match="entry failed"):
        with guarded(spark, "nullaudit-x", 60):
            raise RuntimeError("entry failed")
