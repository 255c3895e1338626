"""The staging helper behind the 14 write-then-read registry entries
(sources/files.py ``staged_dir``): one fixed dir per (scale, entry),
exclusive across concurrent callers, handed over empty. No Spark."""

from __future__ import annotations

import os
import tempfile
import threading

import pytest

from tiny_etl_multiproc_bigdata_spark.sources.files import (
    staged_dir,
    staging_root,
)


@pytest.fixture(autouse=True)
def _tmpdir(monkeypatch, tmp_path):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))


def test_staging_root_is_the_legacy_path(monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", "/var/tmp")
    assert staging_root("/data/sf0.01", "csvrt") == (
        "/var/tmp/spark_csvrt_bce288cb"
    )


def test_yields_an_empty_root_even_over_stale_files():
    root = staging_root("/data/sf0.01", "csvrt")
    os.makedirs(os.path.join(root, "data"))
    with open(os.path.join(root, "data", "part-0.csv"), "w") as f:
        f.write("stale\n")
    with staged_dir("/data/sf0.01", "csvrt") as got:
        assert got == root
        assert os.path.isdir(root) and os.listdir(root) == []
    assert os.path.exists(root + ".lock")


def test_same_dir_blocks_until_the_holder_exits():
    """B tries to enter while A holds the dir; A then waits for B to
    get in. Under the lock that wait times out and A leaves first;
    without it B enters at once and lands before A's exit."""
    order: list[str] = []
    a_in, b_trying, b_in = (threading.Event() for _ in range(3))

    def run_a():
        with staged_dir("/data/sf0.01", "feb"):
            order.append("A in")
            a_in.set()
            b_trying.wait(timeout=5)
            b_in.wait(timeout=0.5)
            order.append("A out")

    def run_b():
        a_in.wait(timeout=5)
        b_trying.set()
        with staged_dir("/data/sf0.01", "feb"):
            order.append("B in")
            b_in.set()

    threads = [threading.Thread(target=run_a), threading.Thread(target=run_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    assert order == ["A in", "A out", "B in"]


@pytest.mark.parametrize(
    "other", [("/data/sf0.1", "feb"), ("/data/sf0.01", "late")]
)
def test_other_scale_or_entry_does_not_block(other):
    a_in, b_done = threading.Event(), threading.Event()
    seen = {}

    def run_a():
        with staged_dir("/data/sf0.01", "feb"):
            a_in.set()
            seen["b_done_while_a_held"] = b_done.wait(timeout=5)

    def run_b():
        a_in.wait(timeout=5)
        with staged_dir(*other):
            pass
        b_done.set()

    threads = [threading.Thread(target=run_a), threading.Thread(target=run_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    assert seen == {"b_done_while_a_held": True}
