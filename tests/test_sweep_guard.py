"""The sweep tools' shared runner (tools/_guard.py ``sweep``) and its
watchdog (``guarded``), driven on a fake SparkContext/session: no
Spark, no real job."""

from __future__ import annotations

import os
import sys
import threading
from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JError

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from _guard import guarded, sweep  # noqa: E402


class _Context:
    def __init__(self) -> None:
        self.group = None
        self.cancelled: list[str] = []
        self.stopped = False
        self._jsc = SimpleNamespace(
            sc=lambda: SimpleNamespace(isStopped=lambda: self.stopped)
        )

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
        sparkContext=_Context(),
        streams=SimpleNamespace(active=streams),
        stop=lambda: None,
    )


def _factory():
    """A session factory that builds a new fake session only when the
    last one's context is stopped, as ``getOrCreate`` does."""
    built: list = []

    def new_session():
        if not built or built[-1].sparkContext.stopped:
            built.append(_session())
        return built[-1]

    return new_session, built


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


def test_sweep_restarts_a_stopped_context():
    new_session, built = _factory()
    seen = {}

    def body(spark, name):
        seen[name] = spark
        if name == "killer":
            spark.sparkContext.stopped = True
        return name.upper()

    out = sweep(new_session, ["killer", "after"], "t", 60, body)
    assert out["killer"].status == "ok" and out["killer"].restarted
    assert out["after"].status == "ok" and not out["after"].restarted
    assert out["after"].value == "AFTER"
    assert len(built) == 2
    assert seen["killer"] is built[0] and seen["after"] is built[1]


def test_sweep_records_a_guard_that_raises_as_that_entrys_error():
    """An entry whose ``guarded`` call raises before yielding is its own
    error: not the previous entry's watchdog state, not a NameError."""
    new_session, built = _factory()
    spark = new_session()
    hang = threading.Event()

    def body(spark, name):
        if name == "hung":
            hang.wait(timeout=5)
            raise RuntimeError("cancelled")
        return "ok"

    def set_group(group, description, interruptOnCancel=False):  # noqa: N803
        if group == "t-broken":
            raise RuntimeError("no job group")

    def cancel_group(group):  # noqa: N802
        hang.set()

    spark.sparkContext.setJobGroup = set_group
    spark.sparkContext.cancelJobGroup = cancel_group
    out = sweep(new_session, ["hung", "broken", "fine"], "t", 0.05, body)
    assert out["hung"].status == "WATCHDOG"
    assert out["broken"].status == "error"
    assert isinstance(out["broken"].error, RuntimeError)
    assert "no job group" in str(out["broken"].error)
    assert out["fine"].status == "ok" and out["fine"].value == "ok"
    assert len(built) == 1


def test_sweep_records_a_watchdog_cancel():
    new_session, built = _factory()
    spark = new_session()
    cancelled = threading.Event()
    spark.sparkContext.cancelJobGroup = lambda group: cancelled.set()

    def body(spark, name):
        assert cancelled.wait(timeout=5)
        raise RuntimeError("job group cancelled")

    out = sweep(new_session, ["slow"], "t", 0.05, body)
    assert out["slow"].status == "WATCHDOG"
    assert "job group cancelled" in repr(out["slow"].error)
    assert out["slow"].sec >= 0.05 - 0.01
    assert spark.sparkContext.group == "idle"
