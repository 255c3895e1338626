"""The checkpoint file manager every streaming query of the engine uses.

``streaming.jobs._run_available_now`` sets Spark's FileSystem-based
checkpoint manager on the session before each query starts. The default
FileContext-based manager stays the reference here: an aggregation with
an explicit ``checkpointLocation`` must leave the same files and rows
under each, and a checkpoint started under one must resume under the
other without re-running a committed batch.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.plans.registry import REGISTRY
from tiny_etl_multiproc_bigdata_spark.streaming import jobs

KEY = "spark.sql.streaming.checkpointFileManagerClass"
FILE_SYSTEM = jobs._CHECKPOINT_FILE_MANAGER
# None: the key unset, so Spark picks FileContextBasedCheckpointFileManager
MANAGERS = [None, FILE_SYSTEM]


@pytest.fixture
def no_manager(spark):
    """The session without the key, as a caller-built session starts;
    the previous value comes back afterwards."""
    before = spark.conf.get(KEY, None)
    spark.conf.unset(KEY)
    yield
    if before is None:
        spark.conf.unset(KEY)
    else:
        spark.conf.set(KEY, before)


@pytest.fixture
def source(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(0, 50).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    ).write.parquet(os.path.join(src, "part0"))
    return src, spark.read.parquet(os.path.join(src, "part0")).schema


def _aggregate(spark, source, ckpt, manager):
    """One availableNow run of a stateful aggregation under ``manager``;
    returns the ``(batch_id, rows)`` pairs its sink received."""
    src, schema = source
    if manager is None:
        spark.conf.unset(KEY)
    else:
        spark.conf.set(KEY, manager)
    batches = []

    def sink(df, batch_id):
        batches.append((batch_id, sorted(map(tuple, df.collect()))))

    q = (
        spark.readStream.schema(schema)
        .parquet(os.path.join(src, "*"))
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return batches


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, names in os.walk(root)
        for f in names
    )


def test_managers_write_the_same_checkpoint(spark, source, tmp_path, no_manager):
    runs = {
        m: _aggregate(spark, source, str(tmp_path / f"ckpt{i}"), m)
        for i, m in enumerate(MANAGERS)
    }
    ref, fs = runs[None], runs[FILE_SYSTEM]
    assert ref == fs
    assert ref == [(0, [(k, 10, 225 + 10 * k) for k in range(5)])]
    ref_files = _files(str(tmp_path / "ckpt0"))
    assert ref_files == _files(str(tmp_path / "ckpt1"))
    # Hadoop's .crc sidecar beside every checkpoint file, Spark's own
    # state-store checksum beside every delta file, and the state files
    # themselves: the comparison above covers all three kinds
    assert "offsets/.0.crc" in ref_files and "commits/.0.crc" in ref_files
    assert "state/0/0/1.delta.crc" in ref_files
    assert "state/0/0/1.delta" in ref_files


@pytest.mark.parametrize("first", MANAGERS, ids=["filecontext", "filesystem"])
def test_checkpoint_resumes_under_the_other_manager(
    spark, source, tmp_path, no_manager, first
):
    second = FILE_SYSTEM if first is None else None
    ckpt = str(tmp_path / "ckpt")
    assert len(_aggregate(spark, source, ckpt, first)) == 1
    before = {f: os.path.getmtime(os.path.join(ckpt, f)) for f in _files(ckpt)}
    assert _aggregate(spark, source, ckpt, second) == []
    # no committed batch re-ran: no new offsets, commits or state files
    assert {
        f: os.path.getmtime(os.path.join(ckpt, f)) for f in _files(ckpt)
    } == before


def test_key_is_read_when_a_query_starts(spark, source, tmp_path, no_manager):
    """A class name set on the session after it started reaches the next
    query, which is why the engine sets it at use time."""
    with pytest.raises(Exception, match="NoSuchCheckpointFileManager"):
        _aggregate(
            spark, source, str(tmp_path / "ckpt"), "org.example.NoSuchCheckpointFileManager"
        )


@pytest.mark.parametrize(
    "name", ["streaming_tumbling_counts", "streaming_foreach_batch"]
)
def test_entries_set_the_manager_at_use_time(spark, sf_dir, no_manager, name):
    """One ``_run_to_memory`` entry and one ``staged_dir`` writer entry,
    started on a session without the key, leave the FileSystem-based
    manager set on it."""
    assert spark.conf.get(KEY, None) is None
    REGISTRY[name].fn(spark, sf_dir).count()
    assert spark.conf.get(KEY) == FILE_SYSTEM


def test_run_stats_carry_phase_times(spark, sf_dir):
    before = len(jobs.RUN_STATS)
    REGISTRY["streaming_stream_static_join"].fn(spark, sf_dir)
    (run,) = jobs.RUN_STATS[before:]
    phases = run["duration_ms"]
    assert set(phases) == {
        "latestOffset", "walCommit", "queryPlanning", "addBatch",
        "commitOffsets", "triggerExecution",
    }
    assert all(isinstance(v, int) and v >= 0 for v in phases.values())
    # the replay commits one batch with data, so its phases ran
    assert phases["addBatch"] > 0 and phases["triggerExecution"] > 0
