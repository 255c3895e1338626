"""The event-log stage parser on a tiny query, and the streaming counts
the listener reports on a tiny replay. One local session serves both;
it is stopped before the assertions so the event log is complete."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import boot
import eventlog
from listener import StreamCounts

ROWS, KEYS = 100, 10


@pytest.fixture(scope="module")
def ran(tmp_path_factory):
    from tiny_etl_multiproc_bigdata_spark.session import get_spark

    work = tmp_path_factory.mktemp("spark")
    spark = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf=boot.spark_conf(work, work / "eventlog"),
    )
    stream = StreamCounts()
    try:
        spark.streams.addListener(stream)
        sc = spark.sparkContext

        sc.setJobGroup("test:tiny", "tiny")
        got = spark.range(1000, numPartitions=4).selectExpr("id % 7 AS k").groupBy("k").count().collect()

        src = work / "events"
        src.mkdir()
        pq.write_table(
            pa.table({"k": [i % KEYS for i in range(ROWS)], "v": list(range(ROWS))}),
            str(src / "part-0.parquet"),
        )
        sc.setJobGroup("test:stream", "stream")
        q = (
            spark.readStream.schema("k long, v long")
            .parquet(str(src))
            .groupBy("k")
            .count()
            .writeStream.format("memory")
            .queryName("tiny_replay")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        replay_rows = spark.table("tiny_replay").count()
    finally:
        boot.stop(spark)
    return {
        "groups": len(got),
        "replay_rows": replay_rows,
        "stream": stream.summary(),
        "terminated": stream.terminated,
        "log": eventlog.parse(eventlog.find(work / "eventlog")),
    }


def test_event_log_parser_attributes_tasks_to_the_job_group(ran):
    log = ran["log"]
    jobs = {j for j, g in log.job_group.items() if g == "test:tiny"}
    assert jobs and ran["groups"] == 7
    stats = eventlog.summarize(log, jobs)
    # four map tasks over the range, then the reduce side
    assert stats["tasks"] >= 5
    assert stats["cpu_s"] > 0
    assert stats["shuffle_write_mb"] > 0
    assert stats["spill_mb"] == 0
    assert stats["task_skew"] >= 1.0
    # tasks of other groups are not counted
    assert eventlog.summarize(log, set())["tasks"] == 0
    assert stats["tasks"] < len(log.tasks)


def test_listener_counts_a_tiny_replay(ran):
    s = ran["stream"]
    assert ran["terminated"] == 1
    assert s["batches"] >= 1
    assert s["input_rows"] == ROWS
    assert s["state_rows"] == KEYS == ran["replay_rows"]
    assert s["state_mb"] > 0
    assert s["batch_p50_ms"] > 0
