"""catalog.parquet_schema: a fixture file's schema is inferred once per
file identity and schema-relevant confs.

Parquet inference is a one-task Spark job per ``spark.read.parquet``;
the cache removes it from every re-read of an unchanged file. These
tests pin that the cache (a) really starts no job on a re-read, (b)
returns exactly what fresh inference returns, and (c) never serves a
stale schema: a file replaced (new inode) or rewritten in place (new
mtime) is inferred again, a conf that changes inference changes the
key, and a directory is never cached.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import confs
from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType

from tiny_etl_multiproc_bigdata_spark import catalog
from tiny_etl_multiproc_bigdata_spark.catalog import (
    TABLES,
    parquet_schema,
    read_parquet,
    table,
)

NANOS = "spark__sql__legacy__parquet__nanosAsLong"


def _jobs_started(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` starts on this thread, read from
    the status tracker after the listener bus is drained."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema cache test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _write(path: str, column: str) -> None:
    pq.write_table(pa.table({column: pa.array([1, 2, 3], pa.int64())}), path)


def test_second_table_read_starts_no_job(spark, sf_dir):
    for name in TABLES:
        table(spark, sf_dir, name)
    assert _jobs_started(spark, lambda: [table(spark, sf_dir, n) for n in TABLES]) == []
    # the counter sees the inference job an uncached read starts
    path = f"{sf_dir}/region.parquet"
    assert _jobs_started(spark, lambda: spark.read.parquet(path))


def test_cached_schema_equals_fresh_inference(spark, sf_dir):
    with confs(spark, **{NANOS: "true"}):
        for name in TABLES:
            path = f"{sf_dir}/{name}.parquet"
            fresh = spark.read.parquet(path).schema.json()
            parquet_schema(spark, path)  # fills the cache
            assert parquet_schema(spark, path).json() == fresh, name
            assert read_parquet(spark, path).schema.json() == fresh, name


def test_file_replaced_is_inferred_again(spark, tmp_path):
    """``os.replace`` with a same-size, same-mtime file: only the inode
    tells the two apart."""
    path, new = str(tmp_path / "t.parquet"), str(tmp_path / "new.parquet")
    _write(path, "a")
    assert parquet_schema(spark, path).names == ["a"]
    _write(new, "b")
    st = os.stat(path)
    os.utime(new, ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(new, path)
    st2 = os.stat(path)
    assert (st2.st_size, st2.st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    assert st2.st_ino != st.st_ino
    assert parquet_schema(spark, path).names == ["b"]


def test_file_rewritten_in_place_is_inferred_again(spark, tmp_path):
    """Rewritten through the same inode to the same size: only the mtime
    tells the two apart."""
    path, other = str(tmp_path / "t.parquet"), str(tmp_path / "other.parquet")
    _write(path, "a")
    assert parquet_schema(spark, path).names == ["a"]
    _write(other, "b")
    st = os.stat(path)
    with open(other, "rb") as src, open(path, "r+b") as dst:
        dst.write(src.read())
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    st2 = os.stat(path)
    assert (st2.st_ino, st2.st_size) == (st.st_ino, st.st_size)
    assert parquet_schema(spark, path).names == ["b"]


def test_schema_conf_is_part_of_the_key(spark, nanos_events_dir):
    path = f"{nanos_events_dir}/events.parquet"
    with confs(spark, **{NANOS: "true"}):
        assert isinstance(parquet_schema(spark, path)["ts"].dataType, LongType)
    # without the legacy conf Spark cannot read TIMESTAMP(NANOS) at all:
    # the cached int64 schema must not be served
    with confs(spark, **{NANOS: "false"}), pytest.raises(AnalysisException):
        parquet_schema(spark, path)
    with confs(spark, **{NANOS: "true"}):
        assert isinstance(parquet_schema(spark, path)["ts"].dataType, LongType)


def test_directory_is_never_cached(spark, tmp_path):
    d = tmp_path / "dataset"
    d.mkdir()
    _write(str(d / "part-0.parquet"), "a")
    assert parquet_schema(spark, str(d)).names == ["a"]
    _write(str(d / "part-0.parquet"), "b")
    assert parquet_schema(spark, str(d)).names == ["b"]
    assert not any(key[0] == os.path.realpath(d) for key in catalog._schemas)
