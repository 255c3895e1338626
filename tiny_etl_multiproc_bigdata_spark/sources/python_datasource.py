"""Python DataSource API (Spark 4) — the modern, Spark-idiomatic form
of the reference's custom-extractor contract (AbstractExtractor,
extractors/files.py:7-26): user code defines partitions and a per-
partition row generator, and the engine schedules it as a distributed
scan (one task per InputPartition, schema declared up front, predicate/
column handling by Catalyst above the source).

The registered entry reads a deterministic synthetic document feed —
what a custom crawler/API extractor would look like — and aggregates
per shard, with a DuckDB range()-based oracle reproducing the affine
generator exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.plans.registry import register
from tiny_etl_multiproc_bigdata_spark.sources.files import staged_dir

_N = 4000
_PARTS = 8
# Knuth multiplicative hash constant; % 97 keeps the scores small
_MULT = 2654435761
_MOD = 97


@register(
    "python_datasource_scan",
    oracle=f"""
    SELECT CAST(id % {_PARTS} AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum((id * {_MULT}) % {_MOD}) AS BIGINT) AS sum_score,
           CAST(sum(CAST(len('doc_' || CAST(id AS VARCHAR)) AS BIGINT)) AS BIGINT)
             AS sum_name_len
    FROM range({_N}) t(id)
    GROUP BY 1
    """,
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom batch source via the Python DataSource API: partitions()
    declares 8 splits (``_PARTS``), read() streams each split's rows on the
    executor (nothing materializes on the driver — the S1-S5 extractor
    contract, but distributed). Classes are defined locally so they
    pickle by value to workers (repo pickling rule). At scale this is
    how a bespoke feed (crawl frontier, internal API pager) enters the
    engine when no built-in connector exists; each InputPartition maps
    to one retry-able task."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    n, parts, mult, mod = _N, _PARTS, _MULT, _MOD

    class SynthReader(DataSourceReader):
        def partitions(self):  # noqa: ANN201
            return [InputPartition(i) for i in range(parts)]

        def read(self, partition):  # noqa: ANN001, ANN201
            # shard i carries ids ≡ i (mod parts): deterministic,
            # partition-count-stable assignment
            i = partition.value
            for k in range(i, n, parts):
                yield (k, f"doc_{k}", (k * mult) % mod)

    class SynthDocsSource(DataSource):
        @classmethod
        def name(cls):  # noqa: ANN206
            return "synthdocs"

        def schema(self):  # noqa: ANN201
            return "id bigint, name string, score bigint"

        def reader(self, schema):  # noqa: ANN001, ANN201
            return SynthReader()

    spark.dataSource.register(SynthDocsSource)
    feed = spark.read.format("synthdocs").load()
    return (
        feed.groupBy((F.col("id") % parts).cast("bigint").alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("score").alias("sum_score"),
            F.sum(F.length("name").cast("bigint")).alias("sum_name_len"),
        )
    )


@register(
    "python_datasource_stream_scan",
    oracle=f"""
    SELECT CAST(id % {_PARTS} AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum((id * {_MULT}) % {_MOD}) AS BIGINT) AS sum_score
    FROM range({_N}) t(id)
    GROUP BY 1
    """,
)
def python_datasource_stream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Python DataSource (Spark 4,
    SimpleDataSourceStreamReader): the same synthetic affine feed as
    python_datasource_scan, but entering through readStream — offsets
    are plain dicts, read(start) returns (rows, next_offset), and
    readBetweenOffsets replays a committed range on recovery; this is
    the custom-source contract for queue/API feeds that have no
    built-in connector. The bounded feed emits in one micro-batch (the
    Python micro-batch stream does not support AvailableNow's
    multi-batch planning — Spark logs the single-batch fallback), and
    the complete-mode aggregation over it equals the batch oracle.
    At scale the reader is rate-limited by returning bounded slices
    per read() call; state (the offset dict) lives in the checkpoint."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    n, parts, mult, mod = _N, _PARTS, _MULT, _MOD

    class SynthStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):  # noqa: ANN201
            return {"i": 0}

        def read(self, start):  # noqa: ANN001, ANN201
            i = start["i"]
            rows = [(k, (k * mult) % mod) for k in range(i, n)]
            return iter(rows), {"i": n}

        def readBetweenOffsets(self, start, end):  # noqa: ANN001, ANN201
            return iter(
                (k, (k * mult) % mod)
                for k in range(start["i"], end["i"])
            )

    class SynthStreamSource(DataSource):
        @classmethod
        def name(cls):  # noqa: ANN206
            return "synthdocs_stream"

        def schema(self):  # noqa: ANN201
            return "id bigint, score bigint"

        def simpleStreamReader(self, schema):  # noqa: ANN001, ANN201
            return SynthStreamReader()

    spark.dataSource.register(SynthStreamSource)
    feed = spark.readStream.format("synthdocs_stream").load()
    agg = feed.groupBy(
        (F.col("id") % parts).cast("bigint").alias("shard")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("score").alias("sum_score"),
    )
    from tiny_etl_multiproc_bigdata_spark.streaming.jobs import _run_to_memory

    return _run_to_memory(agg, spark, "pyds_stream", "complete")


@register(
    "python_datasource_write",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def python_datasource_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via the Python DataSource writer API (Spark 4) —
    the Spark-idiomatic form of the reference's loader contract
    (AbstractLoader / CsvFileLoader, loaders/files.py): each task's
    write(iterator) lands its partition as one JSONL shard on the
    executor side and returns a commit message; the driver's commit
    barrier makes the job all-or-nothing, exactly the ack/no-ack
    protocol the reference's loaders implement per-bag. The entry
    pushes a per-language aggregate through the sink, reads the
    shards back, and must reproduce the direct aggregation — a
    write-path roundtrip staged in ``staged_dir``.

    100 TB shape: writes are partition-parallel with no driver data
    movement; a real sink swaps the local directory for an object
    store / queue client created INSIDE write() (per-task
    connections, the L5 JDBC pattern)."""
    import json
    import os

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    from tiny_etl_multiproc_bigdata_spark.catalog import table

    class JsonlWriter(DataSourceWriter):
        def __init__(self, options):  # noqa: ANN001
            self.path = options.get("path")

        def write(self, it):  # noqa: ANN001, ANN201
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            out = os.path.join(self.path, f"part-{pid:05d}.jsonl")
            with open(out, "w") as f:
                for row in it:
                    f.write(json.dumps(row.asDict()) + "\n")
            return WriterCommitMessage()

    class JsonlSink(DataSource):
        @classmethod
        def name(cls):  # noqa: ANN206
            return "tiny_etl_jsonl_sink"

        def writer(self, schema, overwrite):  # noqa: ANN001, ANN201
            return JsonlWriter(self.options)

    spark.dataSource.register(JsonlSink)
    agg = (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .coalesce(2)
    )
    with staged_dir(sf_dir, "pydsw") as root:
        data_dir = os.path.join(root, "data")
        os.makedirs(data_dir)
        agg.write.format("tiny_etl_jsonl_sink").option(
            "path", data_dir
        ).mode("append").save()
        # explicit schema (r11 empty-input audit): an empty sink
        # dir has no JSONL to infer columns from
        back = (
            spark.read.schema("lang string, n_docs bigint, total_chars bigint")
            .json(data_dir)
            .select(
                "lang",
                F.col("n_docs").cast("bigint").alias("n_docs"),
                F.col("total_chars").cast("bigint").alias("total_chars"),
            )
            .localCheckpoint(eager=True)
        )
    return back


@register(
    "python_datasource_stream_write",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events GROUP BY event_type
    """,
)
def python_datasource_stream_write(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom STREAMING sink via DataSourceStreamWriter (Spark 4) —
    completes the Python-connector matrix (batch read/write + stream
    read already registered): each micro-batch's partitions land as
    batch-stamped JSONL shards, and commit(messages, batchId) runs
    once per batch at the driver — the exactly-once hook (a real sink
    records batchId and makes the write idempotent on replay, the
    same contract foreachBatch users hand-roll). The entry streams
    the events fixture through the sink (availableNow), reads every
    shard back, and the per-type totals must equal the batch
    aggregation — nothing lost, nothing doubled. Stages in
    ``staged_dir``.

    100 TB shape: per-partition writes on executors, a metadata-only
    commit at the driver; backpressure and replay are the stream
    engine's problem, not the sink's."""
    import json
    import os

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    class JsonlStreamWriter(DataSourceStreamWriter):
        def __init__(self, options):  # noqa: ANN001
            self.path = options.get("path")

        def write(self, it):  # noqa: ANN001, ANN201
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId()
            out = os.path.join(
                self.path, f"shard-{ctx.stageId()}-{pid:05d}.jsonl"
            )
            with open(out, "w") as f:
                for row in it:
                    f.write(json.dumps(row.asDict()) + "\n")
            return WriterCommitMessage()

        def commit(self, messages, batchId):  # noqa: ANN001, ANN201, N803
            # a durable sink would persist batchId here for idempotent
            # replay; the roundtrip check below relies on the engine
            # replaying each batch at most once under availableNow
            return None

    class JsonlStreamSink(DataSource):
        @classmethod
        def name(cls):  # noqa: ANN206
            return "tiny_etl_jsonl_stream_sink"

        def streamWriter(self, schema, overwrite):  # noqa: ANN001, ANN201, N802
            return JsonlStreamWriter(self.options)

    spark.dataSource.register(JsonlStreamSink)
    from tiny_etl_multiproc_bigdata_spark.streaming.jobs import (
        _events_stream,
        _run_available_now,
    )

    ev = (
        _events_stream(spark, sf_dir, require_measure_domain=True)
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
    )
    with staged_dir(sf_dir, "pydssw") as root:
        data_dir = os.path.join(root, "data")
        os.makedirs(data_dir)
        _run_available_now(
            spark,
            ev.writeStream.format("tiny_etl_jsonl_stream_sink")
            .option("path", data_dir)
            .option("checkpointLocation", os.path.join(root, "ckpt")),
        )
        # explicit schema (r11 empty-input audit), as above
        back = (
            spark.read.schema("event_type string, cents bigint")
            .json(data_dir)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("cents").cast("bigint").alias("total_cents"),
            )
            .localCheckpoint(eager=True)
        )
    return back
