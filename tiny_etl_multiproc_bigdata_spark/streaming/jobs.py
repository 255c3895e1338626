"""Streaming jobs over the `events` fixture, replayed through a file
source with an `availableNow` trigger — the bounded-replay equivalent of
the reference's continuous queue pipeline (it too processes a finite
file list through a streaming topology, pipline.py:92-145).

Each job: readStream → event-time transform (watermark + window /
stateful dedup / session window) → memory sink → returned as a
DataFrame. Because the replay is bounded and aggregations run in
`complete` mode, the final streaming state equals the batch answer —
so each job carries a full DuckDB oracle (outputs use epoch seconds
and key-only projections to stay engine-portable); the batch twins in
plans/windows.py are additionally cross-checked in
tests/test_streaming.py.

Scale notes: identical code runs against Kafka/files on a cluster; the
state store partitions by the grouping key (shuffle.partitions tasks),
watermarks bound state size, and `availableNow` gives incremental
backfill with rate limiting. Every query starts through
``_run_available_now``, which manages checkpoint files through Hadoop's
FileSystem API instead of FileContext: the same files are written, and
the rename that commits each one is a single ``FileSystem.rename``,
atomic wherever FileContext's rename is (one POSIX ``rename(2)`` on a
local disk, a namenode rename on HDFS; neither API makes an object
store's rename atomic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from tiny_etl_multiproc_bigdata_spark.catalog import parquet_schema
from tiny_etl_multiproc_bigdata_spark.functions.hashing import duck_md5_long
from tiny_etl_multiproc_bigdata_spark.functions.rounding import (
    exact_round,
)
from tiny_etl_multiproc_bigdata_spark.functions.timedomain import (
    stream_time_domain_sql,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import register
from tiny_etl_multiproc_bigdata_spark.sources.files import staged_dir


def _events_stream(
    spark: SparkSession, sf_dir: str, *, require_event_time: bool = False,
    require_measure_domain: bool = False,
    require_time_domain: bool = False,
    require_kernel_time_domain: bool = False,
) -> DataFrame:
    """File-source stream of the events table (schema from a batch
    read).

    ``require_event_time=True`` states the event-time contract of a
    watermarked operator explicitly (r11 NULL-parity audit + review):
    rows without a ``ts`` are dropped with a scan-pushed filter, and
    the caller's oracle carries the same ``WHERE ts IS NOT NULL`` —
    Spark's watermark machinery would drop them anyway, but silently
    and only on aggregated paths; the parameter makes the contract one
    declaration instead of nine copy-pasted filters.

    ``require_measure_domain=True`` is the same one-declaration shape
    for the r13 non-finite matrix (functions/numerics.py): operators
    that consume ``value`` arithmetically drop rows whose value lies
    outside the quantization-grid domain — a NaN/±Inf/corrupt
    measurement would otherwise crash Spark's ANSI CAST in the
    quantizing legs (and the oracle's DuckDB CAST differently), or
    silently saturate aggregates. The caller's oracle carries the
    matching range conjuncts.

    ``require_time_domain=True`` declares the r13 --timeskew
    STREAMING-TIME-DOMAIN contract (functions/timedomain.py,
    [epoch, 9999-12-31]): one schema-legal corrupt instant (year
    57552 from a nanos-as-micros unit bug) advances the WATERMARK
    past every honest row — the silent drop-everything failure,
    invisible in a single-batch replay but fatal in production — and
    the epoch FLOOR is Spark's own: the watermark clock starts at 0
    and only advances, so a pre-epoch event is born late and
    silently dropped whatever the delay (observed: three missing
    pre-epoch sessions, engine side only). The filter is an instant
    comparison against epoch-micros literals, session-zone-free (a
    string-literal LTZ comparison would reintroduce the zone
    dependence the partition-invariance board checks).

    ``require_kernel_time_domain=True`` tightens the ceiling to the
    Arrow/pandas datetime64[ns] limit ([epoch, 2262-04-11)) for
    operators that route rows through applyInPandas(WithState): an
    in-portable-domain year-9999 event crashes the worker's
    Arrow→pandas conversion (observed: StreamingQueryException one
    side only).

    Watermarks require TIMESTAMP (with local tz), so both
    fixture vintages of `ts` normalize to an absolute-epoch LTZ where
    the instant equals the naive value interpreted as UTC (matching the
    DuckDB oracles' `epoch(ts)`): int64 nanos are already epoch-encoded;
    TIMESTAMP_NTZ converts via exact tz-free NTZ micro-arithmetic
    (``timestampdiff(MICROSECOND, epoch, ts)``) — NOT the old
    ``to_unix_timestamp*1e6 + SSSSSS`` reconstruction, which
    double-counts the sub-second fraction on PRE-EPOCH timestamps
    (to_unix_timestamp truncates toward zero, then the positive
    fraction adds the wrong way; r13 --timeskew, latent on the
    post-epoch committed fixtures)."""
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    # the file stream source wants a directory basePath; select just the
    # events file from the fixture dir via glob filter
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(schema["ts"].dataType, LongType):
        out = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        epoch_us = F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
        out = raw.withColumn("ts", F.timestamp_micros(epoch_us))
    if require_event_time:
        out = out.filter(F.col("ts").isNotNull())
    if require_measure_domain:
        from tiny_etl_multiproc_bigdata_spark.functions.numerics import (
            in_grid_domain,
        )

        out = out.filter(in_grid_domain(F.col("value")))
    if require_kernel_time_domain:
        from tiny_etl_multiproc_bigdata_spark.functions.timedomain import (
            in_stream_kernel_time_domain_instant,
        )

        out = out.filter(in_stream_kernel_time_domain_instant(F.col("ts")))
    elif require_time_domain:
        from tiny_etl_multiproc_bigdata_spark.functions.timedomain import (
            in_stream_time_domain_instant,
        )

        out = out.filter(in_stream_time_domain_instant(F.col("ts")))
    return out


_RUN_SEQ = [0]

# Structural stats of every _run_to_memory execution, appended in run
# order (r08, VERDICT r07 item 3): tests/test_plan_budget.py reads this
# to pin a per-entry budget on streaming STATE OPERATOR and SOURCE
# counts — the streaming analog of the batch scan/Exchange budget. A
# stateful-node count that silently grows (e.g. an accidental extra
# dropDuplicates or agg in a refactor) multiplies state-store size and
# checkpoint traffic at scale exactly like lineage re-execution
# multiplies scans, and value sweeps cannot see it.
# Each record also carries the last trigger's phase times
# (``duration_ms``), so a run's checkpoint cost (walCommit,
# commitOffsets) reads apart from its Spark jobs (addBatch); a phase the
# last trigger did not run (a trigger that found no new data) reads 0.
RUN_STATS: list[dict] = []

_PHASES = (
    "latestOffset", "walCommit", "queryPlanning", "addBatch",
    "commitOffsets", "triggerExecution",
)

_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _run_available_now(spark: SparkSession, writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer`` as a bounded ``availableNow`` query and wait for
    it to end. Every streaming query of the engine starts here.

    Checkpoint files go through Spark's FileSystem-based manager, not
    the default FileContext one. Both write the same files (offsets,
    commits, sources, state deltas and snapshots, each with its Hadoop
    ``.crc`` sidecar) through a temporary file renamed into place, and
    a checkpoint started under one resumes under the other. Without a
    native Hadoop library, FileContext's rename asks for the link status
    of the file and of its ``.crc`` at source and destination, and each
    such call forks ``readlink``: 80 processes per
    ``streaming_stream_static_join`` replay (JFR ``jdk.ProcessStart``,
    sf0.01). ``FileSystem.rename`` is one POSIX ``rename(2)`` on a local
    disk, and it is atomic wherever FileContext's rename is (HDFS too; on
    an object store neither is).

    Spark reads the key when a query starts, so it is set here, at use
    time, and also reaches a session the caller built, as
    ``_events_stream`` sets ``nanosAsLong``."""
    spark.conf.set(
        "spark.sql.streaming.checkpointFileManagerClass", _CHECKPOINT_FILE_MANAGER
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def _run_to_memory(df: DataFrame, spark: SparkSession, name: str, output_mode: str) -> DataFrame:
    """Run a bounded stream to a memory sink and return the result.

    Aggregations use `complete` mode: with `availableNow` over finite
    input, `append` would hold the final windows in state forever
    (the closing watermark never arrives), silently truncating results.
    """
    _RUN_SEQ[0] += 1
    qname = f"{name}_{_RUN_SEQ[0]}"
    q = _run_available_now(
        spark,
        df.writeStream.format("memory").queryName(qname).outputMode(output_mode),
    )
    prog = q.lastProgress or {}
    durations = prog.get("durationMs", {})
    RUN_STATS.append(
        {
            "name": name,
            "num_state_operators": len(prog.get("stateOperators", [])),
            "num_sources": len(prog.get("sources", [])),
            "state_rows_total": sum(
                int(op.get("numRowsTotal", 0))
                for op in prog.get("stateOperators", [])
            ),
            "duration_ms": {k: int(durations.get(k, 0)) for k in _PHASES},
        }
    )
    return spark.table(qname)


def _attribution_join(
    spark: SparkSession, sf_dir: str, how: str = "inner", *,
    require_time_domain: bool = False,
) -> DataFrame:
    """Click→purchase attribution: clicks (``click_id, user_id, c_ts``)
    join purchases (``purchase_id, p_user_id, p_ts``) of the same user
    at or up to 30 minutes after the click, both sides watermarked by 1
    hour. Shared by the four join-family entries and
    streaming_join_then_window.

    State topology, the same for every ``how``: two sources and one
    join whose state store is keyed by user across the shuffle and
    bounded by the range condition — a buffered click is evicted once
    the purchase-side watermark passes c_ts + 30 min (Spark derives the
    state watermark from the range condition), so state is O(events in
    the attribution window), not O(stream). An outer join adds only the
    eviction-time null emission of its preserved side, no extra state.
    ``require_time_domain`` declares the streaming-time-domain contract
    of ``_events_stream`` on both inputs."""
    clicks = (
        _events_stream(spark, sf_dir, require_time_domain=require_time_domain)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir, require_time_domain=require_time_domain)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        how,
    )


def _attribution_rows(joined: DataFrame) -> DataFrame:
    """The join family's output row. ``coalesce`` names the purchase's
    user on null-extended purchase rows; elsewhere it is the click's
    user (matched rows carry equal keys, unmatched clicks a NULL
    ``p_user_id``)."""
    return joined.select(
        "click_id",
        "purchase_id",
        F.coalesce("user_id", "p_user_id").alias("user_id"),
        (
            F.floor(F.unix_timestamp("p_ts"))
            - F.floor(F.unix_timestamp("c_ts"))
        )
        .cast("bigint")
        .alias("gap_s"),
    )


def _session_counts(ev: DataFrame, gap: str | Column) -> DataFrame:
    """Per-user session windows over a 1-hour watermark, counted and
    projected to epoch seconds; ``gap`` is a duration string or a
    per-row duration expression."""
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("sw.start")).cast("bigint").alias(
                "session_start_epoch"
            ),
            F.unix_timestamp(F.col("sw.end")).cast("bigint").alias(
                "session_end_epoch"
            ),
            "n_events",
        )
    )


@register(
    "streaming_tumbling_counts",
    oracle=f"""
    SELECT (epoch_us(time_bucket(INTERVAL '5 minutes', ts)) // 1000000)
             AS window_start_epoch,
           event_type,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE), 2) AS sum_value
    FROM (SELECT * FROM events WHERE (value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) AND {stream_time_domain_sql()}) events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute windowed aggregation with a 10-minute
    watermark — the streaming twin of window_tumbling_counts. r13
    --timeskew: streaming-time-domain contract; the oracle spells
    window starts via time_bucket (µs-exact, floor-aligned exactly
    like F.window — the double floor(epoch/300) misbuckets the last
    second of 9999)."""
    ev = _events_stream(spark, sf_dir, require_event_time=True, require_measure_domain=True, require_time_domain=True)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            exact_round(
                F.sum(F.col("value").cast("decimal(30,2)")).cast("double"), 2
            ).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias(
                "window_start_epoch"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _run_to_memory(agg, spark, "stream_tumbling_counts", "complete")


@register(
    "streaming_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dropDuplicates on (user_id, event_type)
    within the watermark — the streaming analog of the reference's
    ConcurrentKeyBagSet dedup state (commons.py:261-309): the state
    store IS the bag, keyed and partitioned by the dedup key."""
    ev = _events_stream(spark, sf_dir)
    # project to the key columns only: which concrete row survives a
    # dedup is partition-order dependent, the surviving KEY SET is not
    dedup = (
        ev.withWatermark("ts", "30 minutes")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(dedup, spark, "stream_dedup", "append")


@register(
    "streaming_session_window",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
             -- µs gap comparison: session_window splits at the ts
             -- precision, not floored seconds
      FROM events
      WHERE ts IS NOT NULL AND {stream_time_domain_sql()}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    )
    SELECT user_id,
           (epoch_us(min(ts)) // 1000000)        AS session_start_epoch,
           (epoch_us(max(ts)) // 1000000) + 1800 AS session_end_epoch,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap) with watermark — the
    streaming analog of sessionize_events (gaps-and-islands); session
    state merges incrementally as events arrive. r13 --timeskew:
    streaming-time-domain contract (watermark clock floors at the
    epoch; far-future poisons it) + epoch_us-exact oracle bounds."""
    ev = _events_stream(spark, sf_dir, require_event_time=True, require_time_domain=True)
    sess = _session_counts(ev, "30 minutes")
    return _run_to_memory(sess, spark, "stream_session_window", "complete")


@register(
    "streaming_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           count(*) AS n,
           round(CAST(sum(CAST(e.value AS DECIMAL(30,2))) AS DOUBLE), 2)
             AS sum_value
    FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def streaming_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static
    customer dimension (per-micro-batch broadcast hash join — no
    streaming state for the static side), then aggregates revenue by
    market segment. The standard "enrich the firehose with a dim table"
    topology; at scale the dim refreshes per micro-batch from its
    source, and the broadcast keeps the stream side shuffle-free."""
    from tiny_etl_multiproc_bigdata_spark.catalog import table

    ev = _events_stream(spark, sf_dir, require_measure_domain=True)
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    joined = ev.join(F.broadcast(dim), ev["user_id"] == dim["c_custkey"])
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n"),
        exact_round(
            F.sum(F.col("value").cast("decimal(30,2)")).cast("double"), 2
        ).alias("sum_value"),
    )
    return _run_to_memory(agg, spark, "stream_static_join", "complete")


@register(
    "streaming_foreach_batch",
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def streaming_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink integration: each micro-batch is handed to a
    driver-side callback that reuses the BATCH loader layer — here
    ``sinks.csv_load`` (L4), the reference's loader under streaming.
    Each batch overwrites its own ``batch_id=N`` directory, so a
    retried micro-batch rewrites the same files instead of appending
    duplicates (idempotent writes = effective exactly-once; a blind
    append would only be at-least-once under retry). The stage is read
    back as the result and hash-checked lossless against the batch
    oracle. Stages in ``staged_dir``."""
    import os

    from tiny_etl_multiproc_bigdata_spark.sinks import csv_load

    ev = _events_stream(spark, sf_dir).select("event_id", "user_id", "event_type")
    with staged_dir(sf_dir, "feb") as root:
        data_dir = os.path.join(root, "data")

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            csv_load(batch_df, os.path.join(data_dir, f"batch_id={batch_id}"))

        _run_available_now(
            spark,
            ev.writeStream.foreachBatch(write_batch).option(
                "checkpointLocation", os.path.join(root, "ckpt")
            ),
        )
        out = (
            spark.read.option("sep", ";")
            .option("header", "true")
            .schema("event_id bigint, user_id bigint, event_type string")
            .csv(os.path.join(data_dir, "batch_id=*"))
        )
        # Eager localCheckpoint snapshots the scan into executor block
        # storage JVM-side — no driver round-trip (the r04 verdict
        # flagged the previous toPandas snapshot as the one
        # driver-side materialization outside k-means) — and
        # truncates lineage so downstream actions never re-read
        # the CSVs.
        out = out.localCheckpoint(eager=True)
    return out


@register(
    "streaming_stream_stream_join",
    oracle="""
    SELECT c.event_id  AS click_id,
           p.event_id  AS purchase_id,
           c.user_id,
           CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS gap_s
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: click→purchase attribution
    within a 30-minute window, both sides unbounded streams.
    Inner-join matches emit as found, so `append` mode returns every
    pair under availableNow replay. State topology: see
    ``_attribution_join``."""
    joined = _attribution_rows(_attribution_join(spark, sf_dir))
    return _run_to_memory(joined, spark, "stream_stream_join", "append")


@register(
    "streaming_late_data_drop",
    oracle=f"""
    WITH f1 AS (
      SELECT event_id, ts FROM events
      WHERE ts >= TIMESTAMP '2024-01-16' AND ts < TIMESTAMP '2024-01-24'
        AND (event_id & 15) <> 3
    ), f2 AS (
      SELECT event_id, ts FROM events
      WHERE ts >= TIMESTAMP '2024-01-24' AND {stream_time_domain_sql()}
    ), strag AS (
      SELECT event_id, ts FROM events
      WHERE ts >= TIMESTAMP '2024-01-16' AND ts < TIMESTAMP '2024-01-24'
        AND (event_id & 15) = 3
    ), wml AS (
      -- late-row watermark during the straggler batch = watermark
      -- after file1 (Spark tracks max event time in MILLISECONDS)
      SELECT (epoch_us(max(ts)) // 1000 - 1800000) * 1000 AS us FROM f1
    ), wmf AS (
      -- final watermark (file2 carries the global max)
      SELECT (epoch_us(max(ts)) // 1000 - 1800000) * 1000 AS us FROM f2
    ), kept AS (
      SELECT ts FROM f1
      UNION ALL SELECT ts FROM f2
      UNION ALL
      -- a straggler survives iff its WINDOW END outlives the late-row
      -- watermark (the filter is on window.end, not the row ts —
      -- empirically pinned, see docstring)
      SELECT s.ts FROM strag s, wml
      WHERE ((epoch_us(time_bucket(INTERVAL '5 minutes', s.ts)) // 1000000)
             + 300) * 1000000 > wml.us
    )
    SELECT (epoch_us(time_bucket(INTERVAL '5 minutes', ts)) // 1000000)
             AS window_start_epoch,
           count(*) AS n
    FROM kept, wmf
    GROUP BY 1, wmf.us
    HAVING ((epoch_us(time_bucket(INTERVAL '5 minutes', ts)) // 1000000)
            + 300) * 1000000 <= wmf.us
    """,
)
def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics, demonstrated deterministically
    with a three-file replay: file1 = [Jan 16, Jan 24) minus a
    straggler subset (event_id & 15 == 3), file2 = [Jan 24, ∞) — which
    advances the watermark and EVICTS file1's windows — then file3 =
    the stragglers, arriving after their windows were finalized.

    Pinned semantics (verified against progress metrics — batch 2
    reports numRowsDroppedByWatermark == |dropped stragglers|):

    * the late-row filter drops an input row iff its WINDOW END ≤ the
      PREVIOUS batch's watermark (one-batch lag; a straggler whose ts
      is below the watermark but whose 5-min window end is above it is
      ADMITTED and merges into the still-open window — no duplicate
      append output);
    * the watermark is (max event time floored to ms) − delay, so it
      can never equal a whole-second window end — the <-vs-≤ boundary
      is unreachable on real data;
    * with `append` output, only windows whose end ≤ final watermark
      emit (the last 30 minutes stay in state forever on a bounded
      replay).

    The oracle reproduces all three effects. Stages in
    ``staged_dir``; replay order is forced via mtimes (the file source
    processes files in modification-time order)."""
    import datetime
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    with staged_dir(sf_dir, "late") as root:
        src = pq.read_table(os.path.join(sf_dir, "events.parquet")).select(
            ["event_id", "ts"]
        )
        ts = src.column("ts")
        import pyarrow as pa

        if ts.type == "int64":  # raw epoch-nanos longs
            ts = pc.divide(ts, 1000).cast(pa.timestamp("us"))
            src = src.set_column(1, "ts", ts)
        elif pa.types.is_timestamp(ts.type) and ts.type.unit != "us":
            # the TIMESTAMP(NANOS) vintage reads as timestamp[ns]
            # in PYARROW (the int64 manifestation above is Spark's
            # nanosAsLong view, which pyarrow never produces) — the
            # original check missed this, so the stage re-wrote
            # nanos parquet verbatim and this entry's own
            # readStream below choked on it (PARQUET_TYPE_ILLEGAL
            # without the legacy conf, a long ts with it). Found by
            # the r12 partition-invariance audit's nanos-vintage
            # fixture; latent-only on the committed micros
            # fixtures. Staged files are always TIMESTAMP(MICROS).
            ts = ts.cast(pa.timestamp("us"))
            src = src.set_column(1, "ts", ts)
        j16 = datetime.datetime(2024, 1, 16)
        j24 = datetime.datetime(2024, 1, 24)
        mid = src.filter(
            pc.and_(
                pc.greater_equal(src.column("ts"), j16),
                pc.less(src.column("ts"), j24),
            )
        )
        strag_mask = pc.equal(
            pc.bit_wise_and(mid.column("event_id"), 15), 3
        )
        paths = [os.path.join(root, f"f{i}.parquet") for i in (1, 2, 3)]
        pq.write_table(mid.filter(pc.invert(strag_mask)), paths[0])
        # f2 carries everything from Jan 24 on, BOUNDED to the
        # streaming time domain (r13 --timeskew): one corrupt
        # far-future instant in f2 would set the watermark
        # millennia ahead and silently evict every honest window
        # — the drop-everything poison this entry exists to
        # demonstrate the *correct* version of. Mirrored by the
        # oracle's f2 conjunct.
        dmax = datetime.datetime(9999, 12, 31, 23, 59, 59, 999999)
        pq.write_table(
            src.filter(
                pc.and_(
                    pc.greater_equal(src.column("ts"), j24),
                    pc.less_equal(src.column("ts"), dmax),
                )
            ),
            paths[1],
        )
        pq.write_table(mid.filter(strag_mask), paths[2])
        now = os.path.getmtime(paths[2])
        os.utime(paths[0], (now - 200, now - 200))
        os.utime(paths[1], (now - 100, now - 100))

        schema = spark.read.parquet(root).schema
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(root)
        )
        epoch_us = F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
        ev = raw.withColumn("ts", F.timestamp_micros(epoch_us))
        agg = (
            ev.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(
                F.unix_timestamp(F.col("w.start")).cast("bigint").alias(
                    "window_start_epoch"
                ),
                "n",
            )
        )
        # _run_to_memory awaits termination, so the stream is done
        # with the staged files before the lock releases
        out = _run_to_memory(agg, spark, "late_drop", "append")
    return out


@register(
    "streaming_sliding_counts",
    oracle=f"""
    SELECT (epoch_us(time_bucket(INTERVAL '5 minutes', ts)) // 1000000)
             - o.off AS window_start_epoch,
           event_type,
           count(*) AS n
    FROM events, unnest([0, 300]) AS o(off)
    WHERE ts IS NOT NULL AND {stream_time_domain_sql()}
    GROUP BY 1, 2
    """,
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregation: 10-minute windows every 5
    minutes, so each event lands in exactly two open windows — the
    overlap shape the tumbling entry cannot exercise (state holds
    window-count × key rows; watermark closes both). Streaming twin of
    window_sliding_counts with the same two-offset oracle. r13
    --timeskew: streaming-time-domain contract + time_bucket-exact
    oracle window starts."""
    ev = _events_stream(spark, sf_dir, require_event_time=True, require_time_domain=True)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias(
                "window_start_epoch"
            ),
            "event_type",
            "n",
        )
    )
    return _run_to_memory(agg, spark, "stream_sliding_counts", "complete")


@register(
    "streaming_complete_topk",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY n DESC, event_type ASC
    LIMIT 3
    """,
)
def streaming_complete_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-mode streaming top-k: a global aggregation re-emitted
    in full each trigger with ORDER BY + LIMIT on top — the live
    leaderboard shape, and the one output mode the other entries do
    not exercise with a sort (sorting a streaming relation is legal
    ONLY in complete mode after an aggregation). Deterministic
    tie-break on the key; bounded replay makes the final emission equal
    the batch oracle."""
    ev = _events_stream(spark, sf_dir)
    top = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
        .limit(3)
    )
    return _run_to_memory(top, spark, "stream_complete_topk", "complete")


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the documents table (schema from a batch
    read), replayed with availableNow for bounded runs."""
    schema = parquet_schema(spark, f"{sf_dir}/documents.parquet")
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def _register_streaming_segment_dedup() -> None:
    from tiny_etl_multiproc_bigdata_spark.functions.text import DUCK_TOKS
    from tiny_etl_multiproc_bigdata_spark.plans.corpus_ops import (
        _SEG,
        segment_hash_structs,
    )

    @register(
        "streaming_segment_dedup",
        oracle=rf"""
        WITH t AS (
          SELECT doc_id, {DUCK_TOKS} AS l FROM documents
        ), t2 AS (
          SELECT doc_id, l FROM t WHERE len(l) >= 1
        )
        SELECT DISTINCT
               md5(array_to_string(l[s.s*{_SEG}+1 : s.s*{_SEG}+{_SEG}], ' '))
                 AS h,
               CAST(len(l[s.s*{_SEG}+1 : s.s*{_SEG}+{_SEG}]) AS BIGINT)
                 AS seg_len
        FROM t2,
             unnest(range(0, CAST(ceil(len(l) / {_SEG}.0) AS BIGINT))) AS s(s)
        """,
    )
    def streaming_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The streaming half of the C4-style segment dedup: documents
        arrive as a stream, segments are cut with EXACTLY the batch
        family's boundaries (shared segment_hash_structs helper), and
        first-seen segment hashes pass a stateful dropDuplicates — the
        state store, keyed and hash-partitioned on the segment md5, IS
        the distributed corpus dedup set (RocksDB-backed at cluster
        scale; the reference's ConcurrentKeyBagSet under a lock is the
        single-process version, commons.py:261-309). Projected to the
        (h, seg_len) key set because WHICH doc first contributed a
        segment is arrival-order dependent; the surviving key set is
        not, so the entry carries a full value-hash oracle — unusual
        for a streaming entry. Deliberately no watermark: corpus-level
        dedup state is corpus-sized by definition; a retention-bounded
        variant swaps in dropDuplicatesWithinWatermark unchanged."""
        docs = _docs_stream(spark, sf_dir)
        from tiny_etl_multiproc_bigdata_spark.functions.text import (
            tokenize_words_nonempty,
        )

        segs = (
            docs.select(tokenize_words_nonempty("text").alias("l"))
            .where(F.size("l") >= 1)
            .select(F.explode(segment_hash_structs()).alias("s"))
            .select(
                F.col("s.h").alias("h"),
                F.col("s.seg_len").cast("bigint").alias("seg_len"),
            )
            .dropDuplicates(["h"])
        )
        return _run_to_memory(
            segs, spark, "stream_segment_dedup", "append"
        )


_register_streaming_segment_dedup()


@register(
    "streaming_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`dropDuplicatesWithinWatermark` (Spark 3.5+): dedup whose state
    entries EXPIRE once the watermark passes them — the bounded-state
    variant of streaming_dedup, and the API that makes infinite-stream
    dedup survivable (plain dropDuplicates state grows forever; this
    caps it at one watermark interval of keys). The 100 TB trade: keys
    recurring further apart than the watermark re-emit — acceptable
    for idempotency dedup (retries/replays arrive close together),
    wrong for global uniqueness; pair with a batch reconcile
    (dedup_exact) when the latter matters. Here the whole fixture
    replays as ONE availableNow batch, so nothing expires mid-stream
    and the surviving key set equals DISTINCT — which is exactly what
    the oracle checks (the TTL semantics are the documented delta, the
    state plumbing is what this entry pins)."""
    ev = _events_stream(spark, sf_dir)
    dedup = (
        ev.withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(dedup, spark, "stream_dedup_wm", "append")


@register(
    "streaming_stream_stream_left_outer",
    oracle=f"""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
      WHERE event_type = 'click' AND {stream_time_domain_sql()}
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
      WHERE event_type = 'purchase' AND {stream_time_domain_sql()}
    ),
    wm AS (
      -- final global watermark: min over both inputs of
      -- (max event time in ms) - 1h, Spark tracks millis
      SELECT least((SELECT epoch_us(max(c_ts)) // 1000 FROM clicks),
                   (SELECT epoch_us(max(p_ts)) // 1000 FROM purchases))
             - 3600000 AS ms
    ),
    matched AS (
      SELECT c.click_id, p.purchase_id, c.user_id,
             (epoch_us(p.p_ts) // 1000000) - (epoch_us(c.c_ts) // 1000000)
               AS gap_s,
             c.c_ts
      FROM clicks c JOIN purchases p
        ON c.user_id = p.user_id
       AND p.p_ts >= c.c_ts
       AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
    )
    SELECT click_id, purchase_id, user_id, gap_s FROM matched
    UNION ALL
    -- unmatched clicks emit a NULL purchase only once the final
    -- watermark passes their join-window end (state eviction)
    SELECT c.click_id, NULL, c.user_id, NULL
    FROM clicks c, wm
    WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.click_id)
      AND (epoch_us(c.c_ts) // 1000) + 1800000 < wm.ms
    """,
)
def streaming_stream_stream_left_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the attribution
    question streaming_stream_stream_join cannot answer: which clicks
    NEVER converted? Outer results are the semantically hard part of
    streaming joins: a null-extended row can only be emitted once the
    global watermark (min over both inputs of max-event-time - delay)
    has passed the click's join-window end, proving no matching
    purchase can still arrive — so unmatched rows surface in the
    closing no-data micro-batch, and clicks whose state the final
    watermark has NOT yet closed are withheld entirely (correctly: a
    purchase could still arrive). The oracle reproduces exactly that:
    inner matches unconditionally, plus unmatched clicks gated on
    c_ts + 30min < final watermark (millisecond floor — Spark tracks
    event time in ms).

    State topology: see ``_attribution_join``. r13 --timeskew:
    streaming-time-domain contract on BOTH inputs (a corrupt
    far-future click poisons the shared global watermark and evicts
    every honest pending match)."""
    joined = _attribution_rows(
        _attribution_join(spark, sf_dir, "left_outer", require_time_domain=True)
    )
    return _run_to_memory(joined, spark, "stream_stream_loj", "append")


@register(
    "streaming_ohlc_candles",
    oracle=f"""
    WITH v AS (
      SELECT event_type,
             (epoch_us(time_bucket(INTERVAL '1 day', ts)) // 1000000)
               AS day_epoch,
             ts, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM (SELECT * FROM events WHERE (value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) AND {stream_time_domain_sql()}) events WHERE ts IS NOT NULL
    ),
    r AS (
      SELECT event_type, day_epoch, cents,
             row_number() OVER (PARTITION BY event_type, day_epoch
                                ORDER BY ts ASC, event_id ASC) AS rn_a,
             row_number() OVER (PARTITION BY event_type, day_epoch
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM v
    )
    SELECT event_type, day_epoch,
           CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open,
           CAST(max(cents) AS BIGINT) AS high,
           CAST(min(cents) AS BIGINT) AS low,
           CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM r GROUP BY event_type, day_epoch
    """,
)
def streaming_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ohlc_daily_candles: tumbling 1-day event-time
    windows maintaining open/high/low/close incrementally. Where the
    batch plan ranks rows inside each bucket, a stream cannot rank —
    first/last become min_by/max_by over a composite (ts, event_id)
    struct key, which Spark folds into the window's running state
    (pairwise-mergeable, so partial aggregation and state-store merge
    both stay correct, and the event_id tiebreak keeps replay
    deterministic even if two events share a timestamp). The oracle is
    the batch ranking formulation — the two lowerings must agree
    exactly on the final state.

    100 TB shape: state is one (open,high,low,close,n) tuple per
    (event_type, day) window — constant per key per day regardless of
    event volume; the watermark bounds how many day-windows stay
    open. r13 --timeskew: streaming-time-domain contract +
    time_bucket-exact oracle day buckets."""
    ev = _events_stream(spark, sf_dir, require_event_time=True, require_measure_domain=True, require_time_domain=True)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        ev.select("event_type", "ts", "event_id", cents.alias("cents"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.min_by("cents", key).cast("bigint").alias("open"),
            F.max("cents").cast("bigint").alias("high"),
            F.min("cents").cast("bigint").alias("low"),
            F.max_by("cents", key).cast("bigint").alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(
            "event_type",
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias(
                "day_epoch"
            ),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )
    return _run_to_memory(agg, spark, "stream_ohlc", "complete")


@register(
    "streaming_session_dynamic_gap",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, ts, event_id, epoch_us(ts) AS t_us,
             CASE WHEN event_type = 'purchase'
                  THEN 600000000 ELSE 1800000000 END AS gap_us
      FROM events
      WHERE ts IS NOT NULL AND {stream_time_domain_sql()}
    ),
    flagged AS (
      SELECT user_id, ts, event_id, t_us, gap_us,
             CASE WHEN max(t_us + gap_us) OVER wprev IS NULL
                       OR t_us > max(t_us + gap_us) OVER wprev
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
      WINDOW wprev AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    sessions AS (
      SELECT user_id, ts, t_us, gap_us,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           (epoch_us(min(ts)) // 1000000) AS session_start_epoch,
           CAST(max(t_us + gap_us) // 1000000 AS BIGINT)
             AS session_end_epoch,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def streaming_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC, per-event gap (Spark's
    expression-valued session_window gap): purchases close their
    session after 10 minutes, everything else keeps the 30-minute
    default — the "checkout ends the visit" rule no fixed-gap
    sessionizer can express. Semantics differ subtly from lag-gap
    sessionization: each event contributes a window [ts, ts+gap) and
    sessions merge while windows OVERLAP, so the oracle's new-session
    test compares against the running max of (ts + gap) over all
    prior events — a short-gap event inside a long-gap event's window
    does NOT truncate the session (the prior window still covers it).
    Session end is max(ts + gap), not last-event + constant.

    100 TB shape: same merging state store as the fixed-gap entry,
    partitioned by user; the gap expression evaluates row-local at
    ingest, adding nothing to state. r13 --timeskew: streaming-time-
    domain contract (watermark clock floors at the epoch) +
    epoch_us-exact oracle session start."""
    ev = _events_stream(spark, sf_dir, require_event_time=True, require_time_domain=True)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("10 minutes")
    ).otherwise(F.lit("30 minutes"))
    sess = _session_counts(ev, gap)
    return _run_to_memory(sess, spark, "stream_session_dyn", "complete")


@register(
    "streaming_stream_stream_full_outer",
    oracle=f"""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
      WHERE event_type = 'click' AND {stream_time_domain_sql()}
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
      WHERE event_type = 'purchase' AND {stream_time_domain_sql()}
    ),
    wm AS (
      SELECT least((SELECT epoch_us(max(c_ts)) // 1000 FROM clicks),
                   (SELECT epoch_us(max(p_ts)) // 1000 FROM purchases))
             - 3600000 AS ms
    ),
    matched AS (
      SELECT c.click_id, p.purchase_id, c.user_id,
             (epoch_us(p.p_ts) // 1000000) - (epoch_us(c.c_ts) // 1000000)
               AS gap_s,
             c.c_ts, p.p_ts
      FROM clicks c JOIN purchases p
        ON c.user_id = p.user_id
       AND p.p_ts >= c.c_ts
       AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
    )
    SELECT click_id, purchase_id, user_id, gap_s FROM matched
    UNION ALL
    -- unmatched clicks: state closes when the final watermark passes
    -- the click's join-window END (c_ts + 30min)
    SELECT c.click_id, NULL, c.user_id, NULL
    FROM clicks c, wm
    WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.click_id)
      AND (epoch_us(c.c_ts) // 1000) + 1800000 < wm.ms
    UNION ALL
    -- unmatched purchases: a purchase joins only clicks with
    -- c_ts <= p_ts, so its state closes as soon as the watermark
    -- passes p_ts itself — no +30min grace on this side
    SELECT NULL, p.purchase_id, p.user_id, NULL
    FROM purchases p, wm
    WHERE NOT EXISTS (SELECT 1 FROM matched m
                      WHERE m.purchase_id = p.purchase_id)
      AND (epoch_us(p.p_ts) // 1000) < wm.ms
    """,
)
def streaming_stream_stream_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join — completes the
    outer-join family (inner / left_outer registered alongside): every
    click that never converted AND every purchase with no preceding
    click in its 30-minute window surfaces exactly once with a NULL
    partner. The two null-extension gates are ASYMMETRIC, and that
    asymmetry is the semantics under test: a click can still match
    purchases up to c_ts + 30min, so its state (and null emission)
    waits for the watermark to pass that end; a purchase only ever
    matches clicks at or before p_ts, so its state closes the moment
    the watermark passes p_ts itself. The oracle states both gates
    against the final global watermark (min across inputs of max
    event-time minus the 1h delay, in Spark's millisecond floor).

    State topology: see ``_attribution_join``. r13 --timeskew:
    streaming-time-domain contract on BOTH inputs (a corrupt
    far-future event poisons the shared global watermark)."""
    joined = _attribution_rows(
        _attribution_join(spark, sf_dir, "full_outer", require_time_domain=True)
    )
    return _run_to_memory(joined, spark, "stream_stream_foj", "append")


@register(
    "streaming_join_then_window",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    joined AS (
      SELECT p.ts AS p_ts
      FROM clicks c JOIN purchases p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts
       AND p.ts <= c.ts + INTERVAL 30 MINUTE
    ),
    wm AS (
      -- final global watermark (ms): append mode only emits windows
      -- the watermark has closed; the trailing hour stays in state
      -- the downstream (window) operator sees the join's OUTPUT
      -- watermark: the global watermark minus the join's 30-minute
      -- interval span on the carried p_ts column — watermark
      -- propagation through chained stateful operators, verified
      -- against the engine at three scales
      SELECT least((SELECT epoch_us(max(ts)) // 1000 FROM clicks),
                   (SELECT epoch_us(max(ts)) // 1000 FROM purchases))
             - 3600000 - 1800000 AS ms
    )
    SELECT CAST(floor(epoch(p_ts) / 3600) * 3600 AS BIGINT)
             AS window_start_epoch,
           count(*) AS n_attributed
    FROM joined, wm
    GROUP BY 1, wm.ms
    HAVING (floor(epoch(min(p_ts)) / 3600) * 3600 + 3600) * 1000 <= wm.ms
    """,
)
def streaming_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 3.4+/
    4.x capability): a watermarked stream-stream interval join whose
    output feeds a tumbling-window aggregation — attribution counts
    per hour, end to end in one micro-batch pipeline. Historically
    Spark rejected a second stateful operator after a join; the
    unblocked form requires the join to carry the event-time column
    forward (p_ts here) so the downstream window can re-derive its
    watermark. Counts are per (purchase x matching click) pair — the
    join multiplicity — which is what the batch oracle states.

    100 TB shape: two stateful exchanges (join keyed on user, window
    keyed on hour bucket); the join's range condition bounds its
    state, the window's watermark bounds the open-bucket count. No
    extra pass between them — the window consumes join output
    within the same micro-batch."""
    joined = _attribution_join(spark, sf_dir).select("p_ts")
    agg = (
        joined.groupBy(F.window("p_ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_attributed"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias(
                "window_start_epoch"
            ),
            "n_attributed",
        )
    )
    return _run_to_memory(agg, spark, "stream_join_then_window", "append")


@register(
    "streaming_denylist_filter",
    oracle=f"""
    WITH deny AS (
      SELECT c_custkey AS k FROM customer
      WHERE {duck_md5_long("CAST(c_custkey AS VARCHAR)")} % 100 < 5
    )
    SELECT event_type,
           count(*) AS n_kept,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS kept_cents
    FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
    WHERE ts IS NOT NULL
      -- anti-join semantics: a NULL user matches no denylist key and
      -- is KEPT; bare NOT IN would 3VL-drop it (r11 NULL-parity audit)
      AND (user_id NOT IN (SELECT k FROM deny) OR user_id IS NULL)
    GROUP BY event_type
    """,
)
def streaming_denylist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT ANTI join: filter a live event stream against
    a static denylist table (the erasure cohort of
    right_to_erasure_cascade — the enforcement half of that audit:
    once a subject is erased, their events must stop flowing
    downstream). Anti is the one stream-static join shape the inner
    stream_static entry doesn't exercise; the static side is re-read
    per micro-batch, so denylist updates take effect on the next
    batch without restarting the query.

    100 TB shape: the denylist broadcasts under AQE-less streaming
    rules (static side is batch-planned per micro-batch); no
    streaming state at all — stateless filtering, then the windowless
    global aggregate carries (type)-sized state."""
    from tiny_etl_multiproc_bigdata_spark.catalog import table
    from tiny_etl_multiproc_bigdata_spark.functions.hashing import md5_long

    deny = (
        table(spark, sf_dir, "customer")
        .filter(
            md5_long(F.col("c_custkey").cast("string")) % 100 < 5
        )
        .select(F.col("c_custkey").alias("k"))
    )
    ev = _events_stream(spark, sf_dir, require_event_time=True, require_measure_domain=True)
    kept = ev.join(
        F.broadcast(deny), ev["user_id"] == deny["k"], "left_anti"
    )
    agg = kept.groupBy("event_type").agg(
        F.count("*").alias("n_kept"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("kept_cents"),
    )
    return _run_to_memory(agg, spark, "stream_denylist", "complete")


@register(
    "streaming_windowed_distinct_users",
    oracle=f"""
    WITH w AS (
      SELECT (epoch_us(time_bucket(INTERVAL '1 hour', ts)) // 1000000)
               AS window_start_epoch,
             user_id
      FROM events
      WHERE ts IS NOT NULL AND {stream_time_domain_sql()}
    )
    SELECT window_start_epoch,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM w GROUP BY window_start_epoch
    """,
)
def streaming_windowed_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT distinct users per hour window on a stream — the second
    chained-stateful shape (streaming_join_then_window pins join→agg;
    this pins dedup→agg): streaming count(DISTINCT) is unsupported
    directly, and the approx_count_distinct escape hatch trades
    exactness away; the exact lowering is dropDuplicates on
    (window, user) — state = one tombstone per (window, user), evicted
    by the watermark — feeding an ordinary windowed count. Complete
    mode keeps the final counts queryable at replay end (the dedup
    state, not the output mode, carries the distinctness).

    100 TB shape: dedup state is bounded by distinct (window, user)
    pairs inside the watermark horizon — the exact cost of exactness;
    when that dominates, the registered HLL entries are the
    fixed-state alternative. Both stateful stages key on the same
    window column, so the agg reuses the dedup's shuffle."""
    ev = _events_stream(spark, sf_dir, require_event_time=True, require_time_domain=True)
    bucketed = (
        ev.withWatermark("ts", "1 hour")
        .select(
            F.window("ts", "1 hour").alias("w"),
            "user_id",
            "ts",
        )
        .dropDuplicates(["w", "user_id"])
    )
    agg = (
        bucketed.groupBy("w")
        # count the user COLUMN, not the rows: SQL count(DISTINCT
        # user_id) skips NULL users, and the dedup keeps one
        # (window, NULL) tombstone that a count(*) would tally
        # (r11 NULL-parity audit)
        .agg(F.count("user_id").alias("n_users"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias(
                "window_start_epoch"
            ),
            "n_users",
        )
    )
    return _run_to_memory(agg, spark, "stream_windowed_distinct", "complete")


@register(
    "streaming_stream_stream_right_outer",
    oracle="""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
      WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
      WHERE event_type = 'purchase'
    ),
    wm AS (
      SELECT least((SELECT epoch_us(max(c_ts)) // 1000 FROM clicks),
                   (SELECT epoch_us(max(p_ts)) // 1000 FROM purchases))
             - 3600000 AS ms
    ),
    matched AS (
      SELECT c.click_id, p.purchase_id, c.user_id,
             CAST(floor(epoch(p.p_ts)) - floor(epoch(c.c_ts)) AS BIGINT)
               AS gap_s
      FROM clicks c JOIN purchases p
        ON c.user_id = p.user_id
       AND p.p_ts >= c.c_ts
       AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
    )
    SELECT click_id, purchase_id, user_id, gap_s FROM matched
    UNION ALL
    -- the preserved (right) side: unmatched purchases emit once the
    -- watermark passes p_ts — the same asymmetric gate the full-outer
    -- entry pins, isolated here without the click-side nulls
    SELECT NULL, p.purchase_id, p.user_id, NULL
    FROM purchases p, wm
    WHERE NOT EXISTS (SELECT 1 FROM matched m
                      WHERE m.purchase_id = p.purchase_id)
      AND (epoch_us(p.p_ts) // 1000) < wm.ms
    """,
)
def streaming_stream_stream_right_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream RIGHT OUTER join — completes the
    four-shape join family (inner / left / right / full all
    registered, each hash-matched against an oracle that states its
    eviction gates explicitly). Right outer preserves purchases: a
    purchase with no qualifying click in its trailing 30-minute window
    surfaces once, null-extended, when the watermark passes p_ts —
    the short gate, because clicks can only precede their purchase;
    unconverted clicks (the left side's concern) never appear here.
    State topology: see ``_attribution_join``."""
    joined = _attribution_rows(_attribution_join(spark, sf_dir, "right_outer"))
    return _run_to_memory(joined, spark, "stream_stream_roj", "append")
