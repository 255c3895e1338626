from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Default-profile test budget.
#
# The full suite is ~1,100 tests. The default run deselects the boards
# marked ``slow`` (~6 min of the ~20-min local wall) so
# `python -m pytest tests/ -x -q` stays short;
# `SPARK_GRAFT_FULL_TESTS=1` runs every test.
#
# What carries the mark — and why leaving it out by default is safe:
# - the sf0.01 arm of every two-SF rewrite-equivalence suite (TWO_SFS
#   below; the sf0.001 arm still runs, so every rewrite keeps a live
#   equivalence gate in the default profile);
# - six boards that are exhaustive sweeps, external-process tests or
#   plan-structure pins (oracle hugeint sweep, time_series_densify
#   timeskew sentinel, the live Thrift-server JDBC roundtrip, two
#   property-fuzz boards, the streaming structure budget) — all still
#   in the full profile.
_TESTDATA = os.path.dirname(SF_DIR.rstrip("/"))
TWO_SFS = [
    os.path.join(_TESTDATA, "sf0.001"),
    pytest.param(os.path.join(_TESTDATA, "sf0.01"), marks=pytest.mark.slow),
]


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: deselected unless SPARK_GRAFT_FULL_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    keep, slow = [], []
    for item in items:
        (slow if item.get_closest_marker("slow") else keep).append(item)
    if slow:
        config.hook.pytest_deselected(items=slow)
        items[:] = keep


@pytest.fixture(scope="session")
def spark():
    from tiny_etl_multiproc_bigdata_spark.session import get_spark

    # master and shuffle partitions come from SPARK_GRAFT_CPUS (default:
    # the host's core count), as for every other session of the package
    spark = get_spark(app_name="tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    from compare import duck_connect

    return duck_connect(SF_DIR)


@pytest.fixture(scope="session")
def nanos_events_dir(tmp_path_factory):
    """A copy of the fixture's events table with ``ts`` rewritten as
    int64 TIMESTAMP(NANOS) — the other vintage the generator has shipped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("nanos_vintage"))
    src = pq.read_table(f"{SF_DIR}/events.parquet")
    i = src.schema.get_field_index("ts")
    ns = src.set_column(
        i, pa.field("ts", pa.timestamp("ns")), src.column("ts").cast(pa.timestamp("ns"))
    )
    pq.write_table(ns, f"{d}/events.parquet")
    return d


@contextlib.contextmanager
def confs(spark, **kv):
    """Temporarily set Spark SQL confs (double-underscore = dot);
    restores (or unsets) previous values on exit. Shared by the
    skew/AQE and Bloom-pruning tests."""
    old = {}
    for k, v in kv.items():
        key = k.replace("__", ".")
        old[key] = spark.conf.get(key, None)
        spark.conf.set(key, v)
    try:
        yield
    finally:
        for key, v in old.items():
            if v is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, v)
