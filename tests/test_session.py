"""Session helpers that must hold on managed platforms and any host."""

from __future__ import annotations

import os
from types import SimpleNamespace

from tiny_etl_multiproc_bigdata_spark.session import _cpus, shuffle_partitions


def _stub(value: str):
    return SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: value),
        sparkContext=SimpleNamespace(defaultParallelism=7),
    )


def test_shuffle_partitions_numeric():
    assert shuffle_partitions(_stub("12")) == 12


def test_shuffle_partitions_auto_falls_back_to_default_parallelism():
    # managed platforms set ``auto``; OSS Spark rejects it on conf.set,
    # hence the stub session
    assert shuffle_partitions(_stub("auto")) == 7


def test_cpus_defaults_to_host_core_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _cpus() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _cpus() == 3
