"""Window functions (SURVEY §2.6) and batch event-time operations over
the `events` fixture.

Every ordered window carries a full tiebreak (a unique key last in the
ORDER BY) so results are deterministic and hash-comparable across
engines — the reference's output order is explicitly nondeterministic
(pipline.py:122-135), so correctness is always order-insensitive, but
ranking VALUES must be stable.

Scale notes: window partitions here are natural keys (customer, user);
a skewed key bounds a single task — for the running-sum shape that is
inherent to the semantics. Tumbling buckets go through groupBy (partial
agg), never a window, since bucket aggregation is commutative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.functions.ordering import (
    event_time_order,
)
from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.jsonpath import (
    duck_json_bigint,
    json_bigint,
)
from tiny_etl_multiproc_bigdata_spark.functions.numerics import in_grid_domain
from tiny_etl_multiproc_bigdata_spark.functions.timedomain import (
    epoch_us_ntz,
    in_obs_window,
    in_time_domain,
    obs_window_sql,
    time_domain_sql,
)
from tiny_etl_multiproc_bigdata_spark.functions.rounding import (
    exact_round,
    round_half_up,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import register
from tiny_etl_multiproc_bigdata_spark.plans.stat_tests import (
    _DUCK_DAILY,
    _daily_revenue,
)


@register(
    "window_row_number_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def window_row_number_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number — the distributed answer to
    'LIMIT per group'; one shuffle on the partition key."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            exact_round("o_totalprice", 2).alias("totalprice"),
            "rn",
        )
    )


@register(
    "window_rank_dense",
    oracle="""
    SELECT o_orderstatus, o_orderkey,
           rank()       OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC) AS price_rank,
           dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC) AS price_dense_rank
    FROM orders
    WHERE o_totalprice > 95000
    """,
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 95000)
    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"))
    return o.select(
        "o_orderstatus",
        "o_orderkey",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


@register(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,2)))
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
             AS running_total
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative frame (ROWS UNBOUNDED PRECEDING → CURRENT). Integer
    cent accumulation keeps the prefix sums exact under any
    partitioning (r13: was a per-row DECIMAL(30,2) window fold — the
    long fold is the same exact value at codegen speed, and the
    per-row cents→double conversion is a single correctly-rounded
    IEEE divide, identical to the decimal→double cast the old plan
    did: both produce nearest-double(S_k/100). Cent-exact input class
    unchanged — see relational._cents. Per-customer prefix sums are
    bounded by customer order volume, so the long fold cannot
    overflow under ANSI at any corpus scale)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return o.select(
        "o_custkey",
        "o_orderkey",
        exact_round(
            F.sum(cents).over(w).cast("double") / F.lit(100.0),
            2,
        ).alias("running_total"),
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT user_id, event_id,
           round(value, 2) AS value,
           round(lag(value)  OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC), 2) AS prev_value,
           round(lead(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC), 2) AS next_value
    FROM events
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    # asc_nulls_last matches DuckDB's ASC default — a NULL-ts row must
    # sit at the partition END like the oracle's, or its lag/lead
    # neighbors differ (r11 NULL-parity audit class)
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    return e.select(
        "user_id",
        "event_id",
        exact_round("value", 2).alias("value"),
        exact_round(F.lag("value").over(w), 2).alias("prev_value"),
        exact_round(F.lead("value").over(w), 2).alias("next_value"),
    )


@register(
    "window_tumbling_counts",
    oracle=f"""
    SELECT CAST(floor((epoch_us(ts) // 1000000) / 300) AS BIGINT) AS bucket,
           event_type,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE), 2) AS sum_value
    FROM (SELECT * FROM events WHERE (value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) AND {time_domain_sql()}) events
    GROUP BY 1, 2
    """,
)
def window_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute event-time buckets as a plain groupBy — the
    batch twin of the streaming window aggregation (streaming/jobs.py);
    partial aggregation applies, unlike an ordered window. r13
    --timeskew: portable-time-domain filter, and the oracle mirrors
    the engine's trunc-seconds chain exactly (``epoch_us // 1e6``
    then floor-div) — ``floor(epoch(ts)/300)`` is double arithmetic
    whose ulp exceeds 1µs past year 2242, shifting the last second of
    9999 into the next bucket."""
    e = table(spark, sf_dir, "events").filter(
        in_grid_domain(F.col("value")) & in_time_domain(F.col("ts"))
    )
    bucket = F.floor(F.unix_timestamp("ts") / 300).cast("bigint").alias("bucket")
    return e.groupBy(bucket, "event_type").agg(
        F.count("*").alias("n"),
        exact_round(F.sum(F.col("value").cast("decimal(30,2)")).cast("double"), 2).alias(
            "sum_value"
        ),
    )


@register(
    "window_sliding_counts",
    oracle=f"""
    SELECT (epoch_us(time_bucket(INTERVAL '5 minutes', ts)) // 1000000)
             - o.off AS window_start_epoch,
           event_type,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE), 2)
             AS sum_value
    FROM (SELECT * FROM events WHERE (value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) AND {time_domain_sql()}) events, unnest([0, 300]) AS o(off)
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def window_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (10-minute span, 5-minute slide):
    every event lands in exactly two overlapping windows. Spark's
    ``window()`` replicates each row per covering window before the
    aggregation — same partial+final agg shape as tumbling, with a
    constant span/slide row-amplification factor (the oracle mirrors it
    with an explicit 2-offset unnest).

    Input contract (r11 NULL-parity audit): rows without an event time
    have no window — ``F.window`` already drops them silently; the
    explicit filter makes the contract visible and the oracle mirrors
    it (unlike batch tumbling above, whose NULL bucket survives
    identically on both engines). r13 --timeskew: portable-time-domain
    filter, and the oracle spells window starts as
    ``epoch_us(time_bucket(...))`` — µs-exact and floor-aligned
    exactly like ``F.window`` (verified on pre-epoch and year-9999
    spikes), where ``floor(epoch(ts)/300)*300`` is double arithmetic
    that misbuckets the last second of 9999."""
    e = (
        table(spark, sf_dir, "events")
        .filter(in_grid_domain(F.col("value")) & in_time_domain(F.col("ts")))
        .filter(F.col("ts").isNotNull())
    )
    w = F.window("ts", "10 minutes", "5 minutes").alias("w")
    return (
        e.groupBy(w, "event_type")
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


@register(
    "sessionize_events",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR (epoch_us(ts) // 1000000)
                          - (epoch_us(lag(ts) OVER w) // 1000000) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WHERE ts IS NOT NULL AND {time_domain_sql()}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), sessions AS (
      SELECT user_id, ts, event_id,
             CAST(sum(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts ASC, event_id ASC
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           (epoch_us(min(ts)) // 1000000) AS session_start_epoch,
           (epoch_us(max(ts)) // 1000000) AS session_end_epoch
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap) via gaps-and-islands:
    lag → new-session flag → running sum → group. One shuffle on
    user_id; the streaming analog is session_window (streaming/jobs.py).

    Input contract (r11 NULL-parity audit): a session is an event-TIME
    construct — rows without a timestamp are excluded explicitly on
    both engines (they'd otherwise sessionize at opposite partition
    ends under the engines' opposite NULL sort defaults). r13
    --timeskew: portable-time-domain filter (functions/timedomain.py)
    and the oracle's seconds spelled epoch_us-integer-exact —
    ``floor(epoch(ts))`` is a DOUBLE whose ulp exceeds 1µs past year
    2242, rounding 9999-12-31 23:59:59.999999 up a full second, and
    floors where Spark's unix_timestamp truncs on pre-epoch
    fractions; ``epoch_us(ts) // 1000000`` is trunc on both engines
    and exact at every in-domain magnitude."""
    e = table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & in_time_domain(F.col("ts"))
    )
    w = Window.partitionBy("user_id").orderBy(*event_time_order())
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > 1800
            ),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wrun))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.floor(F.unix_timestamp(F.min("ts"))).cast("bigint").alias("session_start_epoch"),
        F.floor(F.unix_timestamp(F.max("ts"))).cast("bigint").alias("session_end_epoch"),
    )


@register(
    "time_weighted_average",
    oracle="""
    WITH w AS (
      SELECT user_id, value,
             CAST(floor(epoch(lead(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts ASC, event_id ASC)))
                  - floor(epoch(ts)) AS BIGINT) AS wt
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
    )
    SELECT user_id,
           CAST(sum(wt) AS BIGINT) AS total_seconds,
           (floor(CAST(sum(CAST(value AS DECIMAL(18,2)) * wt) AS DOUBLE)
                  / sum(wt) * 10000 + 0.5) / 10000) AS twa_value
    FROM w
    WHERE wt IS NOT NULL
    GROUP BY user_id
    HAVING sum(wt) > 0
    """,
)
def time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user (metering/IoT semantics: each
    reading holds until the next one): weight = seconds to the next
    event via lead(), last reading carries no weight. Per-row
    DECIMAL×seconds products keep the weighted sum exact and
    shuffle-order-independent; (ts, event_id) ordering breaks
    simultaneous-event ties identically in both engines."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value")))
    w = Window.partitionBy("user_id").orderBy(*event_time_order())
    wt = (
        F.unix_timestamp(F.lead("ts").over(w)) - F.unix_timestamp("ts")
    ).cast("bigint")
    weighted = e.select(
        "user_id",
        wt.alias("wt"),
        (F.col("value").cast("decimal(18,2)") * wt).alias("vw"),
    ).filter(F.col("wt").isNotNull())
    return (
        weighted.groupBy("user_id")
        .agg(
            F.sum("wt").cast("bigint").alias("total_seconds"),
            round_half_up(
                F.sum("vw").cast("double") / F.sum("wt"), 4
            ).alias("twa_value"),
        )
        .filter(F.col("total_seconds") > 0)
    )


@register(
    "concurrent_sessions_peak",
    oracle=f"""
    WITH pts AS (
      SELECT day, t, delta
      FROM (
        -- seconds are epoch_us-integer-exact (r13 --timeskew:
        -- epoch() is a DOUBLE whose ulp exceeds 1µs past year 2242,
        -- rounding the last second of 9999 into the next day); the
        -- explicit floor(t0 / 86400) then divides an exact BIGINT
        -- (DuckDB's // on DOUBLE operands is plain division and
        -- CAST(double AS BIGINT) rounds to nearest)
        SELECT (epoch_us(ts) // 1000000) AS t0,
               CAST(floor((epoch_us(ts) // 1000000) / 86400) AS BIGINT)
                 AS day
        FROM events
        WHERE {time_domain_sql()}
      ), LATERAL (VALUES
        (t0, 1),
        (least(t0 + 1800, (day + 1) * 86400), -1)
      ) v(t, delta)
    ), run AS (
      SELECT day,
             sum(delta) OVER (PARTITION BY day ORDER BY t, delta) AS active
      FROM pts
    )
    SELECT day,
           CAST(max(active) AS BIGINT) AS peak_concurrent,
           CAST(count(*) // 2 AS BIGINT) AS n_sessions
    FROM run GROUP BY day
    """,
)
def concurrent_sessions_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency: each event opens a half-open
    30-minute session [t, t+1800) clipped to its start day; +1/-1
    boundary points sorted within the day give a running active count
    whose max is the day's peak simultaneous sessions — the classic
    interval-overlap aggregation (capacity planning, rate limiting)
    that needs no self-join. Tie semantics are pinned by ordering
    (t, delta): releases (-1) sort before starts (+1) at the same
    instant, matching the half-open interval. The default RANGE window
    frame sums whole tie groups, so the per-row running value — and
    therefore the max — is identical however the engine orders peers.
    Scale shape: partitioned by day (bounded partitions, the sweep is
    a per-partition sort, no global order); a skewed day would split
    into sub-windows whose boundary counts merge in a second pass —
    same topology, one extra tiny agg. r13 --timeskew: portable-time-
    domain filter + epoch_us-exact oracle seconds (see
    functions/timedomain.py)."""
    e = table(spark, sf_dir, "events").filter(in_time_domain(F.col("ts")))
    t0 = F.floor(F.unix_timestamp("ts")).cast("bigint")
    day = F.floor(t0 / 86400).cast("bigint")
    pts = e.select(
        day.alias("day"),
        F.explode(
            F.array(
                F.struct(t0.alias("t"), F.lit(1).alias("delta")),
                F.struct(
                    F.least(t0 + 1800, (day + 1) * 86400).alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("p"),
    ).select("day", "p.t", "p.delta")
    w = Window.partitionBy("day").orderBy("t", "delta")
    run = pts.select("day", F.sum("delta").over(w).alias("active"))
    return run.groupBy("day").agg(
        F.max("active").cast("bigint").alias("peak_concurrent"),
        (F.count("*") / 2).cast("bigint").alias("n_sessions"),
    )


_EWMA_HORIZON = 16


@register(
    "ewma_fixed_horizon",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_id, ts,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
    )
    SELECT user_id, event_id,
           (floor((
             {" + ".join(
                 f"coalesce(lag(cents, {k}) OVER "
                 f"(PARTITION BY user_id ORDER BY ts, event_id), 0)"
                 f" * {2.0 ** -(k + 1)!r}"
                 for k in range(16)
             )}
           ) / 100 * 10000 + 0.5) / 10000) AS ewma_value
    FROM c
    """,
)
def ewma_fixed_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-horizon EWMA (α = 1/2, 16 taps) per user: the classic
    smoother restated as a FINITE convolution so it runs as a window
    expression instead of an unbounded recursion — y_t = Σ_{{k<16}}
    x_{{t-k}} / 2^(k+1), which equals true EWMA up to a 2^-16 tail.
    EXACT cross-engine by construction: inputs quantize to integer
    cents, every coefficient is a power of two (dyadic values are
    representable; the 16-term sum stays within the double mantissa),
    and the lag chain is written in the same fixed order in both
    engines — no float accumulation ambiguity anywhere, unlike a
    pow()-based closed form. Scale: one window partitioned by user
    (the inherent running-sum shape), 16 lags in one pass."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value")))
    cents = F.col("value").cast("decimal(18,2)") * 100
    c = e.select(
        "user_id", "event_id", "ts", cents.cast("bigint").alias("cents")
    )
    # asc_nulls_last: match the oracle's DuckDB NULLS LAST default so a
    # NULL-ts row reads the same lag taps (r11 NULL-parity audit class)
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    acc = F.lit(0.0)
    for k in range(_EWMA_HORIZON):
        acc = acc + F.coalesce(F.lag("cents", k).over(w), F.lit(0)) * F.lit(
            2.0 ** -(k + 1)
        )
    return c.select(
        "user_id",
        "event_id",
        round_half_up(acc / 100, 4).alias("ewma_value"),
    )


# ---- first-order Markov chain over event types ---------------------------
#
# Five entries model the per-user event sequence as a Markov chain;
# each reads its transitions through _markov_seq / _transition_counts
# and their DuckDB twins.


def _markov_seq(spark: SparkSession, sf_dir: str, *keep: str) -> DataFrame:
    """(keep..., event_type, prev_type): every event with its user's
    preceding event type, first events dropped. The lag orders by ts
    with the event_id tiebreak, ASC NULLS LAST: a NULL-ts row must take
    the same sequence position as in the oracles, or different
    transition pairs exist."""
    w = Window.partitionBy("user_id").orderBy(*event_time_order())
    return (
        table(spark, sf_dir, "events")
        .select(*keep, "event_type", F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNotNull())
    )


def _transition_counts(seq: DataFrame) -> DataFrame:
    """(prev_type, next_type, n) transition counts of a _markov_seq."""
    return seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))


# DuckDB twins: the lag sequence (opening the WITH list), its transition
# counts, and the even-user train counts of the held-out evaluations
_DUCK_MARKOV_SEQ = """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS prev_type
      FROM events
    )"""
_DUCK_TR = """tr AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )"""
_DUCK_TRAIN = """train AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL AND user_id % 2 = 0
      GROUP BY 1, 2
    )"""


@register(
    "event_transition_matrix",
    oracle=f"""{_DUCK_MARKOV_SEQ}, {_DUCK_TR}, tot AS (
      SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total FROM tr GROUP BY 1
    )
    SELECT tr.prev_type, tr.next_type, tr.n,
           (floor(CAST(tr.n AS DOUBLE) / tot.row_total * 10000 + 0.5)
            / 10000) AS prob
    FROM tr JOIN tot ON tr.prev_type = tot.prev_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag() pairs each event with its predecessor (ordered by
    ts with the event_id tiebreak), transitions aggregate globally, and
    each row normalizes by its source-state total — the behavioral
    model behind next-action prediction and anomaly scoring. Scale
    shape: one user-partitioned window pass (the sequence lives where
    the data lives), then two tiny aggregations over the |states|²
    transition space; the probability is one double division, 4-dp
    quantized."""
    tr = _transition_counts(_markov_seq(spark, sf_dir))
    tot = tr.groupBy(F.col("prev_type").alias("t_prev")).agg(
        F.sum("n").cast("bigint").alias("row_total")
    )
    return (
        tr.join(F.broadcast(tot), tr.prev_type == F.col("t_prev"))
        .select(
            "prev_type",
            "next_type",
            "n",
            round_half_up(
                F.col("n").cast("double") / F.col("row_total"), 4
            ).alias("prob"),
        )
    )


@register(
    "seasonal_decompose_daily",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
               AS dow,
             count(*) AS n
      FROM events
      WHERE {time_domain_sql()}
      GROUP BY 1, 2
    ), seasonal AS (
      SELECT dow,
             (floor(CAST(sum(n) AS DOUBLE) / count(*) * 10000 + 0.5)
              / 10000) AS seasonal_mean
      FROM daily GROUP BY dow
    )
    SELECT d.day, CAST(d.dow AS BIGINT) AS dow,
           CAST(d.n AS BIGINT) AS n,
           s.seasonal_mean,
           (floor((d.n - s.seasonal_mean) * 10000 + 0.5) / 10000)
             AS residual
    FROM daily d JOIN seasonal s ON d.dow = s.dow
    """,
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily event volume:
    seasonal component = mean count per day-of-week, residual = day −
    seasonal — the first-line anomaly baseline for any metrics stream
    (a spike is a residual, not a Monday). Day-of-week is computed as
    epoch-days mod 7 (NOT each engine's dayofweek(), whose 0/1-based
    Sunday conventions differ); the seasonal mean is 4-dp quantized
    before the residual subtraction so both engines round identically.

    100 TB shape: two fixed-width aggregates (daily counts — map-side
    combined; 7-row seasonal means) and a broadcast join back onto
    day-cardinality rows. Decomposition of a 100 TB event stream costs
    one scan; the multiplicative/trend variants (STL) ride the same
    plan with a window over the day spine. r13 --timeskew: portable-
    time-domain filter (a BC/year-57552 day crashes the client date
    conversion one side only; functions/timedomain.py)."""
    e = table(spark, sf_dir, "events").filter(in_time_domain(F.col("ts")))
    daily = (
        e.select(
            F.col("ts").cast("date").alias("day"),
        )
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "dow",
            (F.datediff(F.col("day"), F.lit("1970-01-01")) % 7).cast(
                "bigint"
            ),
        )
    )
    seasonal = daily.groupBy("dow").agg(
        round_half_up(
            F.sum("n").cast("double") / F.count("*"), 4
        ).alias("seasonal_mean")
    )
    return daily.join(F.broadcast(seasonal), "dow").select(
        "day",
        "dow",
        F.col("n").cast("bigint").alias("n"),
        "seasonal_mean",
        round_half_up(
            F.col("n") - F.col("seasonal_mean"), 4
        ).alias("residual"),
    )


_ATTR_WINDOW_S = 7 * 86400  # attribution lookback (seconds)


@register(
    "attribution_linear",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us
      FROM events
    ), purchases AS (
      SELECT user_id, event_id AS purchase_id, t_us AS pt
      FROM ev WHERE event_type = 'purchase'
    ), touches AS (
      SELECT user_id, event_id AS touch_id, event_type AS channel,
             t_us AS tt
      FROM ev WHERE event_type IN ('click', 'view')
    ), credited AS (
      SELECT p.purchase_id, t.channel,
             count(*) OVER (PARTITION BY p.purchase_id) AS n_touches
      FROM purchases p
      JOIN touches t
        ON t.user_id = p.user_id
       AND t.tt <= p.pt
       AND t.tt > p.pt - {_ATTR_WINDOW_S}::BIGINT * 1000000
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_credited_touches,
           (floor(CAST(sum(CAST(floor(1000000.0 / n_touches + 0.5)
                                AS BIGINT)) AS DOUBLE)
                  / 1000000 * 10000 + 0.5) / 10000)
             AS attributed_conversions
    FROM credited
    GROUP BY channel
    """,
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every click/view in the 7 days
    before a purchase shares that conversion equally (credit = 1/n per
    touch), rolled up per channel — the marketing-analytics allocation
    the last-touch as-of entries (asof_last_signup) can't express.
    Each touch's 1/n credit is micro-quantized to an INTEGER ppm
    share BEFORE the channel sum (the repo's accumulation-order-free
    convention), then the total converts back at 4 dp; the
    per-purchase touch count is a purchase-partitioned window (bounded
    by touches-per-user-week, never corpus-wide).

    100 TB shape: the purchases⨝touches range join is user-keyed —
    both sides shuffle once on user_id and the time predicate prunes
    within co-located partitions (the range_join_bucketed recipe
    applies verbatim if a power user's week explodes)."""
    e = table(spark, sf_dir, "events")
    t_us = (
        epoch_us_ntz("ts")
    ).alias("t_us")
    ev = e.select("user_id", "event_id", "event_type", t_us)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("t_us").alias("pt"),
    )
    touches = ev.where(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("t_us").alias("tt"),
    )
    credited = purchases.join(touches, "user_id").where(
        (F.col("tt") <= F.col("pt"))
        & (
            F.col("tt")
            > F.col("pt")
            - F.lit(_ATTR_WINDOW_S).cast("bigint") * F.lit(1_000_000)
        )
    )
    w = Window.partitionBy("purchase_id")
    credited = credited.withColumn("n_touches", F.count("*").over(w))
    return credited.groupBy("channel").agg(
        F.count("*").cast("bigint").alias("n_credited_touches"),
        round_half_up(
            F.sum(
                F.floor(F.lit(1_000_000.0) / F.col("n_touches") + 0.5).cast(
                    "bigint"
                )
            ).cast("double")
            / 1_000_000,
            4,
        ).alias("attributed_conversions"),
    )


@register(
    "anomaly_rolling_zscore",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, value,
             count(value) OVER win AS k,
             CAST(sum(CAST(value AS DECIMAL(30,2))) OVER win AS DOUBLE)
               AS sx,
             CAST(sum(CAST(value AS DECIMAL(30,2))
                      * CAST(value AS DECIMAL(30,2))) OVER win AS DOUBLE)
               AS sxx
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
    ), z AS (
      SELECT user_id, event_id, value, k,
             CASE WHEN k >= 3 AND value IS NOT NULL
                       AND (sxx - sx * sx / k) / (k - 1) > 0
                  THEN (value - sx / k)
                       / sqrt((sxx - sx * sx / k) / (k - 1)) END AS z
      FROM w
    )
    SELECT user_id, event_id, value,
           CAST(k AS BIGINT) AS n_baseline,
           (floor(z * 10000 + 0.5) / 10000) AS zscore,
           coalesce(abs(z) > 3, false) AS is_anomaly
    FROM z
    """,
)
def anomaly_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection per user: each event's value
    against the mean/std of its previous ≤6 values (trailing frame
    excludes the current row — the leak-free formulation). Rows with
    under 3 baseline points, a null value, or zero variance get a null
    score and are never flagged.

    Cross-engine exactness: the window mean/variance come from exact
    DECIMAL power sums cast to double (the agg_moment_stats recipe per
    window frame), so both engines divide and sqrt the IDENTICAL
    doubles — sqrt is correctly rounded under IEEE-754, the var>0
    guard decides NaN cases identically, and the final score rounds
    via the portable half-up form.

    100 TB shape: one shuffle on user_id, per-partition sort, single
    pass — the standard bounded-frame window; the 6-row frame keeps
    state O(1) per row. The streaming twin would be
    applyInPandasWithState over the same power sums."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value")))
    dec = F.col("value").cast("decimal(30,2)")
    # asc_nulls_last: a NULL-ts row must read the same trailing
    # baseline as under the oracle's NULLS LAST order (r11 NULL-parity
    # audit class)
    win = (
        Window.partitionBy("user_id")
        .orderBy(*event_time_order())
        .rowsBetween(-6, -1)
    )
    w = e.select(
        "user_id",
        "event_id",
        "value",
        F.count("value").over(win).alias("k"),
        F.sum(dec).over(win).cast("double").alias("sx"),
        F.sum(dec * dec).over(win).cast("double").alias("sxx"),
    )
    k, sx, sxx = F.col("k"), F.col("sx"), F.col("sxx")
    var = (sxx - sx * sx / k) / (k - F.lit(1))
    z = F.when(
        (k >= 3) & F.col("value").isNotNull() & (var > 0),
        (F.col("value") - sx / k) / F.sqrt(var),
    )
    return w.select(
        "user_id",
        "event_id",
        "value",
        k.cast("bigint").alias("n_baseline"),
        round_half_up(z, 4).alias("zscore"),
        F.coalesce(F.abs(z) > 3, F.lit(False)).alias("is_anomaly"),
    )


_COV_WIN_S = 1800  # each event covers [ts, ts + 30 min)


@register(
    "interval_coverage_union",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events
      WHERE ts IS NOT NULL
    ), flagged AS (
      SELECT user_id, t_us,
             CASE WHEN lag(t_us) OVER w IS NULL
                       OR t_us - lag(t_us) OVER w > {_COV_WIN_S} * 1000000
                  THEN 1 ELSE 0 END AS new_island
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY t_us ASC, event_id ASC)
    ), islands AS (
      SELECT user_id, t_us,
             sum(new_island) OVER (PARTITION BY user_id
                                   ORDER BY t_us ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS island_id
      FROM flagged
    ), per_island AS (
      SELECT user_id, island_id,
             max(t_us) - min(t_us) + {_COV_WIN_S} * 1000000 AS cov_us
      FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(cov_us) // 1000000 AS BIGINT) AS covered_seconds
    FROM per_island GROUP BY user_id
    """,
)
def interval_coverage_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-intervals coverage per user: each event covers
    [ts, ts+30 min); overlapping intervals merge (gaps-and-islands on
    the 30-minute gap), and the entry reports merged-interval count
    and total covered seconds — the utilization/SLA measure that
    sessionize_events' session COUNT does not give you. Pure integer
    epoch-microsecond arithmetic end to end (positive floor division),
    so the result is engine-exact with no rounding at all.

    100 TB shape: the standard two-window gaps-and-islands — one
    shuffle on user_id, per-partition sort shared by both windows
    (Catalyst plans them in a single WindowExec), then a partial-agg'd
    rollup on (user, island).

    Input contract (r11 NULL-parity audit): an interval needs a start
    time — NULL-ts rows excluded explicitly on both engines."""
    e = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    t_us = (
        epoch_us_ntz("ts")
    ).alias("t_us")
    base = e.select("user_id", "event_id", t_us)
    w = Window.partitionBy("user_id").orderBy(*event_time_order("t_us"))
    gap = F.col("t_us") - F.lag("t_us").over(w)
    flagged = base.select(
        "user_id",
        "t_us",
        F.when(
            gap.isNull() | (gap > _COV_WIN_S * 1_000_000), 1
        ).otherwise(0).alias("new_island"),
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("t_us"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.select(
        "user_id", "t_us", F.sum("new_island").over(wc).alias("island_id")
    )
    per_island = islands.groupBy("user_id", "island_id").agg(
        (
            F.max("t_us") - F.min("t_us") + F.lit(_COV_WIN_S * 1_000_000)
        ).alias("cov_us")
    )
    return per_island.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.floor(F.sum("cov_us") / 1_000_000)
        .cast("bigint")
        .alias("covered_seconds"),
    )


@register(
    "window_ntile_buckets",
    oracle="""
    SELECT o_orderstatus, o_orderkey,
           CAST(ntile(4) OVER (PARTITION BY o_orderstatus
                               ORDER BY CAST(floor(o_totalprice * 100 + 0.5)
                                             AS BIGINT) DESC,
                                        o_orderkey ASC) AS BIGINT)
             AS price_quartile
    FROM orders
    """,
)
def window_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) price quartiles per order status — the last previously
    uncovered standard window function. Both engines implement the SQL
    ntile rule (the first n mod k buckets take one extra row) over the
    SAME deterministic total order (integer cents desc, key asc), so
    bucket assignments are engine-exact with no rounding.

    Scale caveat, by design: ntile needs a full sort of each partition
    — fine when the partition key has real cardinality, but on few fat
    groups (as here: 3 statuses) the per-partition sort serializes.
    The production substitute at that shape is the two-pass
    percentile-threshold recipe (rfm_segmentation /
    ccnet_perplexity_buckets), which this registry carries — this
    entry exists to cover the API and to document exactly that
    trade-off."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").desc(),
        F.asc("o_orderkey"),
    )
    return o.select(
        "o_orderstatus",
        "o_orderkey",
        F.ntile(4).over(w).cast("bigint").alias("price_quartile"),
    )


# ---- skyline / Pareto frontier -------------------------------------------

_SKY_BUCKETS = 32


@register(
    "skyline_pareto_parts",
    oracle="""
    WITH p AS (
      SELECT p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS p_size
      FROM part
    )
    SELECT p.p_partkey, p.price_cents, p.p_size
    FROM p
    WHERE NOT EXISTS (
      SELECT 1 FROM p q
      WHERE q.price_cents <= p.price_cents AND q.p_size >= p.p_size
        AND (q.price_cents < p.price_cents OR q.p_size > p.p_size)
    )
    """,
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of parts: minimize price, maximize
    size — a part survives iff no other part is at-least-as-good on
    both axes and strictly better on one (Börzsönyi et al., ICDE'01).
    The oracle is the quadratic NOT EXISTS definition; the engine is
    the two-phase distributed sweep, exact by dominance transitivity.

    100 TB shape: phase 1 computes a LOCAL skyline per hash bucket —
    sort each bucket by price and keep rows whose size beats the
    running max (two RANGE-frame window maxes distinguish the
    strictly-cheaper from the tied-price case, so duplicate points
    and price ties follow the strict-dominance rule exactly). Any
    globally non-dominated row is locally non-dominated, so phase 1
    never drops a skyline member while shrinking n to ~frontier-size
    per bucket. Phase 2 re-runs the same sweep globally over the tiny
    candidate union — the only single-partition sort touches
    |buckets| x |local frontier| rows, not the table. Prices compare
    as exact integer cents (cent-exact stored doubles)."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        exact_round(F.col("p_retailprice") * 100, 0)
        .cast("bigint")
        .alias("price_cents"),
        F.col("p_size").cast("bigint").alias("p_size"),
    )

    def sweep(df: DataFrame, bucketed: bool) -> DataFrame:
        part_cols = ["bucket"] if bucketed else []
        base = Window.partitionBy(*part_cols).orderBy("price_cents")
        m_lt = F.max("p_size").over(
            base.rangeBetween(Window.unboundedPreceding, -1)
        )
        m_le = F.max("p_size").over(
            base.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            df.withColumn("dominated",
                          (F.coalesce(m_lt, F.lit(-1)) >= F.col("p_size"))
                          | (m_le > F.col("p_size")))
            .filter(~F.col("dominated"))
            .drop("dominated")
        )

    local = sweep(
        p.withColumn("bucket", F.pmod(F.hash("p_partkey"), F.lit(_SKY_BUCKETS))),
        bucketed=True,
    ).drop("bucket")
    return sweep(local, bucketed=False)


# ---- exact rolling median ------------------------------------------------


@register(
    "rolling_median_exact",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
    )
    SELECT user_id, event_id,
           CAST(median(cents) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS med_cents
    FROM v
    """,
)
def rolling_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-window median (7 rows) of event value per user —
    the robust-statistics twin of window_running_sum; medians resist
    the outliers that EWMA/mean smoothers follow. Spark has no holistic
    median window aggregate, so the engine collects the BOUNDED frame
    into an array (<= 7 elements — constant memory per row, unlike an
    unbounded collect) and takes the middle of array_sort; even counts
    average the two middles, matching DuckDB's interpolating median
    bit-exactly because integer-cent midpoints are dyadic rationals.

    100 TB shape: one shuffle on user_id (the window partition key);
    the frame bound keeps per-row state at 7 values regardless of user
    history length. The tiebroken ORDER BY (ts, event_id) makes the
    ROWS frame — and hence the median — deterministic under ts ties."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value"))).select(
        "user_id",
        "event_id",
        "ts",
        exact_round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(*event_time_order())
        .rowsBetween(-6, Window.currentRow)
    )
    vals = F.array_sort(F.collect_list("cents").over(w))
    n = F.size(vals)
    lo = ((n + 1) / 2).cast("int")  # n odd: the middle; n even: lower middle
    hi = (n / 2 + 1).cast("int")
    # n == 0 guard: collect_list skips NULL cents, so an all-NULL frame
    # yields an empty array — element_at(vals, 0) would THROW (SQL
    # arrays are 1-based) where the oracle's median over an all-NULL
    # frame is NULL (r11 NULL-parity audit class)
    med = F.when(n == 0, F.lit(None).cast("double")).when(
        n % 2 == 1, F.element_at(vals, lo).cast("double")
    ).otherwise((F.element_at(vals, lo) + F.element_at(vals, hi)) / 2.0)
    return e.select("user_id", "event_id", med.alias("med_cents"))


# ---- CUSUM change-point --------------------------------------------------


@register(
    "cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events WHERE ts IS NOT NULL
      GROUP BY event_type, CAST(ts AS DATE)
    ),
    c AS (
      SELECT event_type, day,
             (count(*) OVER (PARTITION BY event_type))
               * (sum(x) OVER (PARTITION BY event_type ORDER BY day
                               ROWS UNBOUNDED PRECEDING))
             - (row_number() OVER (PARTITION BY event_type ORDER BY day))
               * (sum(x) OVER (PARTITION BY event_type)) AS cusum
      FROM daily
    )
    SELECT event_type, day AS change_day, CAST(cusum AS BIGINT) AS cusum_stat
    FROM (
      SELECT event_type, day, cusum,
             row_number() OVER (
               PARTITION BY event_type ORDER BY abs(cusum) DESC, day ASC
             ) AS rn
      FROM c
    ) WHERE rn = 1
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM single change-point estimate per event_type over the
    daily revenue series (Page 1954 / Pettitt-style location): the day
    maximizing |n·S_t − t·S_n| — the scaled form of the cumulative
    deviation from the mean Σ(x_i − x̄), kept in pure INTEGER cents so
    both engines agree bit-exactly with no float mean. Ties broken to
    the earliest day.

    100 TB shape: the heavy input reduces to |types| x |days| rows via
    one partially-aggregated groupBy before any window touches it; the
    per-type running sums then act on tiny ordered series, and the
    final argmax folds map-side via min(struct). No global sort, no
    per-event window.

    Input contract (r11 NULL-parity audit): a change-POINT needs a
    date — NULL-ts rows excluded explicitly on both engines."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value"))).filter(F.col("ts").isNotNull())
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(exact_round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
    )
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("day")
    c = daily.select(
        "event_type",
        "day",
        (
            F.count(F.lit(1)).over(wp)
            * F.sum("x").over(wo.rowsBetween(Window.unboundedPreceding, 0))
            - F.row_number().over(wo) * F.sum("x").over(wp)
        ).alias("cusum"),
    )
    pick = c.groupBy("event_type").agg(
        F.min(
            F.struct(
                (-F.abs(F.col("cusum"))).alias("na"),
                F.col("day"),
                F.col("cusum"),
            )
        ).alias("m")
    )
    return pick.select(
        "event_type",
        F.col("m.day").alias("change_day"),
        F.col("m.cusum").cast("bigint").alias("cusum_stat"),
    )


# ---- online CUSUM alert path ---------------------------------------------

# one-sided CUSUM parameters (integer cents): reference slightly above
# the series mean so the statistic resets often; threshold tuned to the
# fixture's value scale so alerts fire but stay rare
_CUSUM_K = 5500
_CUSUM_H = 20000

# shared verbatim by the streaming twin (streaming_cusum_alert) — the
# two entries MUST stay value-identical
CUSUM_ALERT_ORACLE = f"""
    WITH v AS (
      SELECT event_type, event_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) - {_CUSUM_K} AS d
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events WHERE ts IS NOT NULL
    ),
    s AS (
      SELECT event_type, event_id, ts,
             sum(d) OVER (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS s
      FROM v
    )
    SELECT event_type, event_id,
           CAST(s - least(0, min(s) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT)
             AS g,
           (s - least(0, min(s) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) > {_CUSUM_H}
             AS alert
    FROM s
    """


@register("cusum_alert_path", oracle=CUSUM_ALERT_ORACLE)
def cusum_alert_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online one-sided CUSUM alerting (Page 1954) over each
    event_type's value stream: g_t = max(0, g_{{t-1}} + x_t − k),
    alert when g_t crosses h — the sequential drift detector behind
    SPC dashboards and data-quality monitors. The nonlinear recurrence
    is NOT a window aggregate, but its closed form IS:
    g_t = S_t − min(0, min_{{j≤t}} S_j) with S the running sum of
    (x_t − k) — two stacked windows, all integer cents, bit-exact.

    100 TB shape: the window partition key is the monitored series id;
    state per series is O(1) in the streaming twin, and a deployment
    monitors many series (type × region × tier), so parallelism comes
    from series count. For few-series/many-rows inputs the right move
    is pre-aggregating to a time grain first (the cusum_changepoint
    entry's shape) — documented here as the substitution, same
    caveat class as window_ntile_buckets.

    Input contract (r11 NULL-parity audit): an ONLINE detector is an
    event-time state machine — NULL-ts rows excluded explicitly on
    both engines (the streaming twin's watermark drops them anyway,
    so this also harmonizes the batch and streaming twins)."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value"))).filter(F.col("ts").isNotNull())
    v = e.select(
        "event_type",
        "event_id",
        "ts",
        (
            exact_round(F.col("value") * 100, 0).cast("bigint") - _CUSUM_K
        ).alias("d"),
    )
    wo = Window.partitionBy("event_type").orderBy(*event_time_order())
    s = v.select(
        "event_type",
        "event_id",
        "ts",
        F.sum("d").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("s"),
    )
    # stacked window over the SAME (ts, event_id) ordering — Catalyst
    # reuses the one sort+shuffle for both window operators
    wmin = wo.rowsBetween(Window.unboundedPreceding, 0)
    g = F.col("s") - F.least(F.lit(0).cast("bigint"), F.min("s").over(wmin))
    return s.select(
        "event_type",
        "event_id",
        g.cast("bigint").alias("g"),
        (g > _CUSUM_H).alias("alert"),
    )


# ---- held-out Markov next-event evaluation -------------------------------


@register(
    "markov_next_event_eval",
    oracle=f"""{_DUCK_MARKOV_SEQ},
    {_DUCK_TRAIN},
    model AS (
      SELECT prev_type, next_type AS predicted FROM (
        SELECT prev_type, next_type,
               row_number() OVER (PARTITION BY prev_type
                                  ORDER BY n DESC, next_type ASC) AS rn
        FROM train
      ) WHERE rn = 1
    )
    SELECT s.prev_type,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(count(*) FILTER (s.event_type = m.predicted) AS BIGINT)
             AS n_correct,
           (floor(CAST(count(*) FILTER (s.event_type = m.predicted) AS DOUBLE)
                  / count(*) * 10000 + 0.5) / 10000) AS accuracy
    FROM seq s JOIN model m ON s.prev_type = m.prev_type
    WHERE s.user_id % 2 = 1
    GROUP BY s.prev_type
    """,
)
def markov_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of the first-order Markov next-event model:
    TRAIN the argmax-next-state predictor on even user_ids (most
    frequent successor per state, smallest-label tie break — the
    deterministic rule again), then score it on odd users' transitions
    and report per-state accuracy. This is the model-eval pattern the
    transition matrix (event_transition_matrix) feeds in production:
    fit on one cohort, measure on a disjoint one, never leak.

    100 TB shape: one user-partitioned lag pass produces ALL
    transitions; train counts and the |states|-row argmax model are
    tiny and broadcast back onto the held-out stream; accuracy is a
    partially-aggregated filtered count plus one division. The
    train/eval split is a pure expression on the partition key — zero
    extra passes."""
    # feeds train AND eval
    seq = _markov_seq(spark, sf_dir, "user_id").localCheckpoint(eager=True)
    train = _transition_counts(seq.filter(F.col("user_id") % 2 == 0))
    model = train.groupBy("prev_type").agg(
        F.min(
            F.struct((-F.col("n")).alias("nn"), F.col("next_type"))
        ).alias("m")
    ).select("prev_type", F.col("m.next_type").alias("predicted"))
    ev = seq.filter(F.col("user_id") % 2 == 1).join(
        F.broadcast(model), "prev_type"
    )
    return ev.groupBy("prev_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.count_if(F.col("event_type") == F.col("predicted"))
        .cast("bigint")
        .alias("n_correct"),
        round_half_up(
            F.count_if(F.col("event_type") == F.col("predicted")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("accuracy"),
    )


# ---- calibration of the Markov predictor ---------------------------------


@register(
    "markov_calibration_bins",
    oracle=f"""{_DUCK_MARKOV_SEQ},
    {_DUCK_TRAIN},
    model AS (
      SELECT prev_type, next_type AS predicted,
             CAST(n * 10000 // row_total AS BIGINT) AS p10k
      FROM (
        SELECT prev_type, next_type, n,
               sum(n) OVER (PARTITION BY prev_type) AS row_total,
               row_number() OVER (PARTITION BY prev_type
                                  ORDER BY n DESC, next_type ASC) AS rn
        FROM train
      ) WHERE rn = 1
    )
    SELECT CAST(m.p10k // 1000 AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_obs,
           (floor(CAST(sum(m.p10k) AS DOUBLE) / count(*) / 10000
                  * 10000 + 0.5) / 10000) AS avg_confidence,
           (floor(CAST(count(*) FILTER (s.event_type = m.predicted)
                       AS DOUBLE) / count(*) * 10000 + 0.5) / 10000)
             AS accuracy
    FROM seq s JOIN model m ON s.prev_type = m.prev_type
    WHERE s.user_id % 2 = 1
    GROUP BY 1
    """,
)
def markov_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability-diagram) evaluation of the Markov
    next-event predictor: the model's own confidence — the trained
    argmax transition probability, integer-scaled to 1e4 — is binned
    into deciles and compared against the held-out accuracy inside
    each bin. A well-calibrated predictor shows avg_confidence ≈
    accuracy per bin; the gap is what ECE sums. Completes the model-
    eval tier beside accuracy (markov_next_event_eval), ranking
    quality (ndcg_ranking_eval) and retrieval recall — calibration is
    the axis those miss. Confidence stays an INTEGER (n·10⁴ div total)
    end to end, so bin assignment and both ratios are engine-exact.

    100 TB shape: identical to markov_next_event_eval — one lag pass,
    a broadcast |states|-row model, one partially-aggregated groupBy
    on the (few) confidence bins."""
    # feeds train AND eval
    seq = _markov_seq(spark, sf_dir, "user_id").localCheckpoint(eager=True)
    train = _transition_counts(seq.filter(F.col("user_id") % 2 == 0))
    wt = Window.partitionBy("prev_type")
    model = (
        train.withColumn("row_total", F.sum("n").over(wt))
        .groupBy("prev_type")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n")).alias("nn"),
                    F.col("next_type"),
                    F.expr("n * 10000 div row_total").alias("p10k"),
                )
            ).alias("m")
        )
        .select(
            "prev_type",
            F.col("m.next_type").alias("predicted"),
            F.col("m.p10k").cast("bigint").alias("p10k"),
        )
    )
    ev = seq.filter(F.col("user_id") % 2 == 1).join(
        F.broadcast(model), "prev_type"
    )
    hit = F.count_if(F.col("event_type") == F.col("predicted"))
    return ev.groupBy(
        F.expr("p10k div 1000").cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        round_half_up(
            F.sum("p10k").cast("double") / F.count(F.lit(1)) / 10000, 4
        ).alias("avg_confidence"),
        round_half_up(hit.cast("double") / F.count(F.lit(1)), 4).alias(
            "accuracy"
        ),
    )


# ---- last-observation-carried-forward imputation -------------------------


@register(
    "locf_impute",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS cents
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
    ),
    rows_n AS (
      SELECT user_id, event_id, ts, cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM v
    ),
    numbered AS (
      SELECT user_id, event_id, cents,
             max(CASE WHEN cents IS NOT NULL
                      THEN struct_pack(rn := rn, v := cents) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS carry
      FROM rows_n
    )
    SELECT user_id, event_id,
           cents AS observed_cents,
           COALESCE(cents, carry.v) AS filled_cents,
           cents IS NULL AND carry.v IS NOT NULL AS imputed,
           cents IS NULL AND carry.v IS NULL AS unfillable
    FROM numbered
    """,
)
def locf_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward imputation per user series
    (readings during 'error' events are treated as missing — the
    sensor-dropout simulation): each gap fills from the most recent
    non-missing value at-or-before it; leading gaps with no prior
    observation stay NULL and are flagged unfillable, never silently
    zero-filled. The carry is a running MAX of (row-number, value)
    structs over non-missing rows — the engine-portable spelling of
    last_value(... IGNORE NULLS), which the two engines otherwise
    disagree on syntactically.

    100 TB shape: one shuffle on the series key, one ordered pass —
    identical to every other per-user window here; LOCF is also the
    state-carry shape of the streaming twin pattern (two values of
    state per series)."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value")))
    v = e.select(
        "user_id",
        "event_id",
        "ts",
        # mirror the oracle's CASE polarity exactly: only event_type =
        # 'error' masks the reading — a NULL event_type must KEEP its
        # value (the `!= 'error'` spelling is three-valued-logic NULL
        # for NULL types and silently masked them; r11 NULL-parity
        # audit class)
        F.when(
            F.col("event_type") == "error", F.lit(None).cast("bigint")
        )
        .otherwise(exact_round(F.col("value") * 100, 0).cast("bigint"))
        .alias("cents"),
    )
    wo = Window.partitionBy("user_id").orderBy(*event_time_order())
    rn = F.row_number().over(wo)
    carry = F.max(
        F.when(
            F.col("cents").isNotNull(),
            F.struct(F.col("rn").alias("rn"), F.col("cents").alias("v")),
        )
    ).over(wo.rowsBetween(Window.unboundedPreceding, 0))
    numbered = v.withColumn("rn", rn).withColumn("carry", carry)
    return numbered.select(
        "user_id",
        "event_id",
        F.col("cents").alias("observed_cents"),
        F.coalesce(F.col("cents"), F.col("carry.v")).alias("filled_cents"),
        (F.col("cents").isNull() & F.col("carry.v").isNotNull()).alias(
            "imputed"
        ),
        (F.col("cents").isNull() & F.col("carry.v").isNull()).alias(
            "unfillable"
        ),
    )


# ---- session path signatures ---------------------------------------------


@register(
    "session_path_signatures",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR CAST(floor(epoch(ts)) AS BIGINT)
                          - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    numbered AS (
      SELECT user_id, session_id, event_type,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts ASC, event_id ASC) AS rn
      FROM sess
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM numbered WHERE rn <= 3
      GROUP BY user_id, session_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    """,
)
def session_path_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey analysis: each session's first three event
    types concatenated into a path signature ('view>click>purchase'),
    counted across the corpus — the table behind every Sankey/flow
    diagram of how users enter the product. Sessionization reuses the
    30-minute-gap rule of sessionize_events (flag + running sum);
    the path is an ordered string_agg over the ≤3 kept rows.

    100 TB shape: one user-partitioned ordered pass for session ids
    (same as sessionize_events), the rn<=3 filter drops everything
    else BEFORE the path aggregation, and the final count groups on
    |distinct paths| ≤ |event types|³ keys — tiny.

    Input contract (r11 NULL-parity audit): sessions are event-TIME
    constructs — NULL-ts rows excluded explicitly on both engines."""
    e = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy(*event_time_order())
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull() | (gap > 1800), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    numbered = sess.withColumn("rn", F.row_number().over(ws)).filter(
        F.col("rn") <= 3
    )
    # array_join skips NULL event_types exactly like the oracle's
    # string_agg, but an ALL-NULL session must yield a NULL path (SQL
    # string_agg over no non-null inputs), not '' — hence the non-null
    # count guard (r11 NULL-parity audit class)
    paths = numbered.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("joined"),
        F.count("event_type").alias("k_nonnull"),
    )
    paths = paths.select(
        F.when(F.col("k_nonnull") > 0, F.col("joined")).alias("path")
    )
    return paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )


# ---- Markov conditional entropy per state --------------------------------


@register(
    "markov_entropy_rate",
    ulp_sensitive=True,
    oracle=f"""{_DUCK_MARKOV_SEQ}, {_DUCK_TR}, tot AS (
      SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_out FROM tr GROUP BY 1
    ), terms AS (
      SELECT tr.prev_type, tot.n_out,
             CASE WHEN tr.n = tot.n_out THEN 0
                  ELSE CAST(floor(
                    -(CAST(tr.n AS DOUBLE) / tot.n_out)
                    * log2(CAST(tr.n AS DOUBLE) / tot.n_out)
                    * 100000000 + 0.5) AS BIGINT)
             END AS h_e8
      FROM tr JOIN tot ON tr.prev_type = tot.prev_type
    )
    SELECT prev_type, n_out,
           CAST(sum(h_e8) AS BIGINT) AS cond_entropy_e8
    FROM terms GROUP BY prev_type, n_out
    """,
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional Shannon entropy of the next event given the current
    one, per source state: H(next | prev=s) = −Σ_t p(t|s)·log2 p(t|s)
    over the same per-user lag() transition counts as
    event_transition_matrix — the predictability readout of the
    behavioral Markov model (a state near 0 bits is deterministic;
    near log2|states| is noise). Weighting these rows by n_out/Σn_out
    gives the chain's empirical entropy rate. Each term quantizes to
    integer 1e-8-bit units BEFORE the per-state sum (the
    unigram_logprob_score recipe), so float accumulation order cannot
    flip the output; the deterministic n = n_out branch pins the
    p = 1 ⇒ 0·log 0 = 0 case to an exact zero on both engines rather
    than trusting -0.0 quantization.

    ulp_sensitive: log2 is JVM-vs-libm (1-ULP class), same policy as
    the other log-based entries.

    100 TB shape: one user-partitioned ordered window pass, then all
    arithmetic happens on the |states|² transition table. Nothing else
    touches row-scale data."""
    tr = _transition_counts(_markov_seq(spark, sf_dir))
    tot = tr.groupBy(F.col("prev_type").alias("t_prev")).agg(
        F.sum("n").cast("bigint").alias("n_out")
    )
    p = F.col("n").cast("double") / F.col("n_out")
    terms = tr.join(F.broadcast(tot), tr.prev_type == F.col("t_prev")).select(
        "prev_type",
        "n_out",
        F.when(F.col("n") == F.col("n_out"), F.lit(0).cast("bigint"))
        .otherwise(
            F.floor(-p * F.log2(p) * 100_000_000 + F.lit(0.5)).cast("bigint")
        )
        .alias("h_e8"),
    )
    return terms.groupBy("prev_type", "n_out").agg(
        F.sum("h_e8").cast("bigint").alias("cond_entropy_e8")
    )


# ---- inter-arrival burstiness per user -----------------------------------


@register(
    "interarrival_burstiness",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id,
             (epoch_us(ts) // 1000000)
             - (epoch_us(lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts ASC,
                                                event_id ASC))
                // 1000000) AS g
      FROM events
      WHERE {time_domain_sql()}
    ),
    stats AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(g) AS BIGINT) AS s,
             sum(CAST(g AS HUGEINT) * g) AS q
      FROM gaps WHERE g IS NOT NULL
      GROUP BY user_id
      HAVING count(*) >= 2
    )
    SELECT user_id, n,
           (floor(CAST(s AS DOUBLE) / n * 100 + 0.5) / 100) AS mean_gap_s,
           (floor(
             (sqrt(CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
              - CAST(s AS DOUBLE))
             / nullif(sqrt(CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      + CAST(s AS DOUBLE), 0)
             * 10000 + 0.5) / 10000) AS burstiness
    FROM stats
    """,
)
def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness of each user's inter-event gaps:
    B = (σ−μ)/(σ+μ) over the per-user inter-arrival times in seconds —
    −1 for a metronome, 0 for Poisson arrivals, →1 for heavy bursts.
    The behavioral-rhythm feature bot-detection and engagement models
    key on, complementing sessionize_events (which thresholds gaps)
    by characterizing their whole distribution. Exact integer
    sufficient statistics (n, Σg, Σg²) feed the population-σ identity
    σ·n = √(nΣg²−(Σg)²), so B reduces to (√d − s)/(√d + s): every
    float op is a correctly-rounded IEEE operation on identical
    operands — bit-exact cross-engine with no ulp flag (the
    welch_t_test_ab argument, sqrt included). The all-equal-gaps
    degenerate case (d = 0, σ = 0) yields B = −1 naturally unless
    s = 0 too, which nullif turns into NULL on both engines.

    100 TB shape: one user-partitioned ordered window pass computes
    gaps where the events already live, then a partial-agg'd groupBy
    to user grain; nothing after is corpus-scale. The n·Σg² product
    is evaluated in double (exact through ~2^53): a century of
    per-second gaps per user stays clear by orders of magnitude.

    r13 --timeskew: portable-time-domain filter + epoch_us-exact
    oracle seconds, and Σg² widened to DECIMAL(38)/HUGEINT (the
    bollinger_bands precedent): an in-domain year-1→9999 gap squares
    to ~1e23, past int64 — one corrupt-clock pair per user crashed the
    whole aggregate under ANSI. The exact wide integer converts to
    double once, correctly rounded identically on both engines, so
    the fixed-IEEE-tree determinism argument above still holds."""
    e = table(spark, sf_dir, "events").filter(in_time_domain(F.col("ts")))
    w = Window.partitionBy("user_id").orderBy(*event_time_order())
    g = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    gaps = e.select("user_id", g.alias("g")).filter(F.col("g").isNotNull())
    stats = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("g").cast("bigint").alias("s"),
            F.sum(
                F.col("g").cast("decimal(19,0)")
                * F.col("g").cast("decimal(19,0)")
            ).alias("q"),
        )
        .filter(F.col("n") >= 2)
    )
    d = (
        F.col("n").cast("double") * F.col("q").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
    )
    sd = F.sqrt(d)
    return stats.select(
        "user_id",
        "n",
        round_half_up(F.col("s").cast("double") / F.col("n"), 2).alias(
            "mean_gap_s"
        ),
        round_half_up(
            (sd - F.col("s").cast("double"))
            / F.nullif(sd + F.col("s").cast("double"), F.lit(0.0)),
            4,
        ).alias("burstiness"),
    )


# ---- Bollinger bands over daily revenue ------------------------------------

_BOLL_W = 6  # trailing frame: 6 preceding + current = 7 days
_BOLL_MIN = 4  # minimum frame rows before bands are emitted


@register(
    "bollinger_bands",
    oracle=f"""
    WITH {_DUCK_DAILY},
    framed AS (
      SELECT d, r,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(r) OVER w AS BIGINT) AS s,
             CAST(sum(CAST(r AS HUGEINT) * r) OVER w AS DOUBLE) AS q
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN {_BOLL_W} PRECEDING
                   AND CURRENT ROW)
    )
    SELECT d, r,
           (floor(CAST(s AS DOUBLE) / n + 0.5) / 100) AS mean_dollars,
           (floor((CAST(s AS DOUBLE) / n
                   + 2 * sqrt((q - CAST(s AS DOUBLE) * s / n) / (n - 1)))
                  + 0.5) / 100) AS upper_dollars,
           (floor((CAST(s AS DOUBLE) / n
                   - 2 * sqrt((q - CAST(s AS DOUBLE) * s / n) / (n - 1)))
                  + 0.5) / 100) AS lower_dollars,
           CAST(r AS DOUBLE) > CAST(s AS DOUBLE) / n
             + 2 * sqrt((q - CAST(s AS DOUBLE) * s / n) / (n - 1))
             AS breakout
    FROM framed WHERE n >= {_BOLL_MIN}
    """,
)
def bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands on the daily order-revenue series: trailing
    {W}-day mean ± 2 sigma with a breakout flag — the rolling
    mean-reversion envelope (anomaly_rolling_zscore flags per-point
    z-scores; this publishes the band series itself, what monitoring
    dashboards actually plot). Frame statistics are EXACT integer sums
    over the bounded ROWS frame (sum of cents, int128 sum of squared
    cents), so mean/sigma/breakout are one fixed IEEE tree per row —
    bit-deterministic, and the breakout comparison reuses the same
    expression, so the flag cannot disagree with the band it plots.

    100 TB shape: one partial-agg'd groupBy to day grain (the only
    corpus-scale stage); the window runs over the bounded day series.
    Squared daily cents pass int64 at ~1e9-dollar days — hence the
    decimal/HUGEINT product inside the frame sum."""
    daily = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("d").rowsBetween(-_BOLL_W, 0)
    framed = daily.select(
        "d",
        "r",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("r").over(w).cast("bigint").alias("s"),
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("r"))
        .over(w)
        .cast("double")
        .alias("q"),
    ).filter(F.col("n") >= _BOLL_MIN)
    mean = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
    )
    dollars = lambda c: F.floor(c + F.lit(0.5)) / F.lit(100)  # noqa: E731
    return framed.select(
        "d",
        "r",
        dollars(mean).alias("mean_dollars"),
        dollars(mean + 2 * sd).alias("upper_dollars"),
        dollars(mean - 2 * sd).alias("lower_dollars"),
        (F.col("r").cast("double") > mean + 2 * sd).alias("breakout"),
    )


# ---- Markov stationary distribution -----------------------------------------

_STAT_SCALE = 1_000_000
_STAT_ITERS = 4


def _stationary_oracle() -> str:
    head = f"""{_DUCK_MARKOV_SEQ},
    tr AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    rt AS (
      SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total
      FROM tr GROUP BY 1
    ),
    states AS (SELECT DISTINCT prev_type AS state FROM tr),
    pi0 AS (SELECT state, CAST({_STAT_SCALE} AS BIGINT) AS p FROM states)"""
    steps = []
    for k in range(1, _STAT_ITERS + 1):
        steps.append(
            f""",
    pi{k} AS (
      SELECT t.next_type AS state,
             CAST(sum((p.p * t.n) // r.row_total) AS BIGINT) AS p
      FROM pi{k - 1} p
      JOIN tr t ON t.prev_type = p.state
      JOIN rt r ON r.prev_type = p.state
      GROUP BY t.next_type
    )"""
        )
    return (
        head
        + "".join(steps)
        + f"""
    SELECT state, p AS pi_scaled FROM pi{_STAT_ITERS}"""
    )


@register("markov_stationary_distribution", oracle=_stationary_oracle())
def markov_stationary_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stationary distribution of the event-type Markov chain by
    {ITERS} fixed power-iteration steps in integer arithmetic
    (pi_k+1(j) = sum_i (pi_k(i) * n_ij) div rowtotal_i at scale 1e6 —
    the pagerank_scaled recurrence applied to the behavioral chain):
    where a user's session ultimately spends its time, the long-run
    complement of event_transition_matrix (one step),
    markov_entropy_rate (uncertainty) and markov_next_event_eval
    (accuracy). All operands positive, so truncating and flooring
    integer division agree — the cross-engine div contract.

    100 TB shape: the transition counts are the only corpus-scale work
    (one lag window + one groupBy); each iteration is a join over the
    |states|^2 matrix — dimension-sized at any corpus scale, so the
    whole recurrence is effectively free after the count build."""
    # consumers: row totals, states, ITERS joins
    tr = _transition_counts(_markov_seq(spark, sf_dir)).localCheckpoint(
        eager=True
    )
    rt = tr.groupBy("prev_type").agg(
        F.sum("n").cast("bigint").alias("row_total")
    )
    trr = tr.join(rt, "prev_type")
    pi = tr.select(F.col("prev_type").alias("state")).distinct().select(
        "state", F.lit(_STAT_SCALE).cast("bigint").alias("p")
    )
    for _ in range(_STAT_ITERS):
        pi = (
            pi.join(trr, pi.state == trr.prev_type)
            .select(
                F.col("next_type").alias("state"),
                F.expr("(p * n) div row_total").alias("c"),
            )
            .groupBy("state")
            .agg(F.sum("c").cast("bigint").alias("p"))
        )
    return pi.select("state", F.col("p").alias("pi_scaled"))


# ---- DAU / WAU stickiness ----------------------------------------------------


@register(
    "dau_wau_stickiness",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT
             CAST(floor((epoch_us(ts) // 1000000) / 86400) AS BIGINT) AS d,
             user_id
      FROM events
      WHERE {time_domain_sql()}
    ),
    days AS (SELECT DISTINCT d FROM du),
    dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY d),
    wau AS (
      SELECT days.d, CAST(count(DISTINCT du.user_id) AS BIGINT) AS wau
      FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
      GROUP BY days.d
    )
    SELECT dau.d AS day_epoch, dau.dau, wau.wau,
           (floor(CAST(dau.dau AS DOUBLE) / wau.wau * 10000 + 0.5) / 10000)
             AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    """,
)
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement ratio product teams
    track (1/7 = users appear one day a week; 1.0 = every active user
    is active daily). WAU needs DISTINCT users over a trailing window,
    which no windowed aggregate can give (distinct doesn't decompose
    into frame sums — the trap naive 'sum of daily DAU' dashboards
    fall into, double-counting returning users); the exact shape is a
    7-day band join of the (day, user) pair table against the day
    spine, then a distinct count per spine day.

    100 TB shape: the (day, user) pre-dedup is the corpus-scale
    shuffle (same grain any DAU job pays); the band join fans each
    pair x7 onto a |days|-row spine — bounded fan-out on an already
    user-deduped table — and the per-day distinct is the standard
    two-level agg. At 100 TB the exact WAU swaps for the mergeable
    HLL sketch (hll_sketch_partition_merge) with ~1% error.

    r13 --timeskew: portable-time-domain filter + epoch_us-exact
    oracle day index (``floor(epoch(ts)/86400)`` is double arithmetic
    that rounds the last second of 9999 into the next day)."""
    e = table(spark, sf_dir, "events").filter(in_time_domain(F.col("ts")))
    du = (
        e.select(
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("d"),
            "user_id",
        )
        .distinct()
        .localCheckpoint(eager=True)  # consumers: spine, dau, band join
    )
    days = du.select("d").distinct().select(F.col("d").alias("sd"))
    dau = du.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    wau = (
        days.join(
            du,
            (F.col("d") >= F.col("sd") - 6) & (F.col("d") <= F.col("sd")),
        )
        .groupBy(F.col("sd"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("wau"))
    )
    return (
        dau.join(wau, dau.d == wau.sd)
        .select(
            F.col("d").alias("day_epoch"),
            "dau",
            "wau",
            round_half_up(
                F.col("dau").cast("double") / F.col("wau"), 4
            ).alias("stickiness"),
        )
    )


# ---- sequential pattern support ------------------------------------------


@register(
    "sequential_pattern_support",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type, min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY user_id, event_type
    )
    SELECT a.event_type AS antecedent, b.event_type AS consequent,
           CAST(sum(CASE WHEN a.first_ts < b.last_ts THEN 1 ELSE 0 END)
                AS BIGINT) AS n_support,
           CAST(count(*) AS BIGINT) AS n_both
    FROM per a JOIN per b
      ON a.user_id = b.user_id AND a.event_type <> b.event_type
    GROUP BY 1, 2
    """,
)
def sequential_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining, level 2 (PrefixSpan support counting
    for length-2 patterns): for every ordered pair of event types
    (A then-later B), the number of users whose history contains SOME
    A-event strictly before SOME B-event — the gapped-subsequence
    semantics of GSP/PrefixSpan, NOT the adjacent-transition counts of
    event_transition_matrix or the contiguous session paths of
    session_path_signatures. The existence test collapses exactly to
    min(ts of A) < max(ts of B), so no pairwise event join is ever
    needed: one (user, type) fold computes first/last timestamps, and
    the per-user type×type expansion is bounded by |event types|².
    n_both (users having both types at all) is the natural support
    denominator for sequence-confidence.

    100 TB shape: one shuffle on (user_id, event_type) with map-side
    partial min/max, then a self-join co-partitioned on user_id whose
    fan-out is |types|² ≤ ~36 rows per user — linear in users; the
    final groupBy lands on ≤ |types|² keys."""
    e = table(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    a = per.select(
        "user_id", F.col("event_type").alias("antecedent"), "first_ts"
    )
    b = per.select(
        "user_id", F.col("event_type").alias("consequent"), "last_ts"
    )
    pairs = a.join(b, "user_id").filter(
        F.col("antecedent") != F.col("consequent")
    )
    return pairs.groupBy("antecedent", "consequent").agg(
        F.sum(
            F.when(F.col("first_ts") < F.col("last_ts"), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("n_support"),
        F.count(F.lit(1)).cast("bigint").alias("n_both"),
    )


# ---- GROUPS-frame (tie-group) windowed sum -------------------------------


@register(
    "window_groups_frame_sum",
    oracle=f"""
    WITH v AS (
      SELECT event_id, event_type, CAST(ts AS DATE) AS day,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM (SELECT * FROM events WHERE (value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) AND {time_domain_sql()}) events
    ),
    r AS (
      SELECT event_id, event_type, day, cents,
             dense_rank() OVER (PARTITION BY event_type ORDER BY day) AS grp
      FROM v
    )
    SELECT event_id, event_type, day,
           CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY grp
                                 RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)
                AS BIGINT) AS grp_sum_cents
    FROM r
    """,
)
def window_groups_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPS-mode window frame (SQL:2016 `GROUPS BETWEEN 1 PRECEDING
    AND 1 FOLLOWING`) — the frame unit neither Spark nor DuckDB ships
    natively (Spark has ROWS/RANGE only; DuckDB parses GROUPS but
    raises not-implemented). Semantics: each row's frame spans its
    whole tie-group (all rows sharing its ORDER BY value) plus one
    tie-group on each side — here, every event sees the total event
    cents of its calendar day AND the adjacent *observed* days for its
    event type (not calendar-adjacent: a gap day is skipped, which is
    exactly what RANGE on the date could not express). The portable
    lowering is the two-pass identity GROUPS k = dense_rank() then
    RANGE k over the rank — applied identically on both engines.

    100 TB shape: two windows over the same (event_type ORDER BY
    day/grp) sort — Catalyst reuses the single sort+partition for
    both passes (no second shuffle); partitions are per-event-type,
    the natural key of the statement. r13 --timeskew: portable-time-
    domain filter (a BC/year-57552 day crashes the client date
    conversion one side only)."""
    e = table(spark, sf_dir, "events").filter(
        in_grid_domain(F.col("value")) & in_time_domain(F.col("ts"))
    )
    v = e.select(
        "event_id",
        "event_type",
        F.to_date("ts").alias("day"),
        exact_round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    # asc_nulls_last: DuckDB's ASC default is NULLS LAST while Spark's
    # is NULLS FIRST — with plain asc a NULL-day tie group would rank
    # FIRST here but LAST in the oracle, putting it adjacent to a
    # different observed day (r11 NULL-parity audit finding; latent on
    # the NULL-free driver fixtures, identical ranks otherwise)
    wd = Window.partitionBy("event_type").orderBy(F.asc_nulls_last("day"))
    r = v.withColumn("grp", F.dense_rank().over(wd))
    wr = (
        Window.partitionBy("event_type")
        .orderBy("grp")
        .rangeBetween(-1, 1)
    )
    return r.select(
        "event_id",
        "event_type",
        "day",
        F.sum("cents").over(wr).cast("bigint").alias("grp_sum_cents"),
    )


# ---- leave-one-out target encoding (EXCLUDE CURRENT ROW) -----------------


@register(
    "leave_one_out_encoding",
    oracle="""
    WITH v AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderkey, o_custkey,
           CAST(sum(cents) OVER (PARTITION BY o_custkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND UNBOUNDED FOLLOWING
                                 EXCLUDE CURRENT ROW) AS BIGINT)
             AS loo_sum_cents,
           CAST(count(*) OVER (PARTITION BY o_custkey) - 1 AS BIGINT)
             AS loo_n
    FROM v
    """,
)
def leave_one_out_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — for every order, the total order
    value of the SAME customer's OTHER orders. The ML-features staple
    (LOO mean encodings avoid self-leakage when the target feeds the
    feature) and an API-parity case: SQL:2016 frame exclusion
    (`EXCLUDE CURRENT ROW`), which DuckDB executes natively in the
    oracle while Spark has no EXCLUDE clause at all — the engine lowers
    it algebraically to whole-partition sum minus the row's own value,
    with the singleton-partition frame coming out empty (NULL, exactly
    as the standard specifies — not 0, which the naive subtraction
    would produce).

    100 TB shape: one unordered window partition per customer — no
    sort needed (Spark plans an unordered WindowExec), no second
    shuffle for the two window functions, and the subtraction lowering
    means no self-join."""
    o = table(spark, sf_dir, "orders")
    v = o.select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    wp = Window.partitionBy("o_custkey")
    n = F.count(F.lit(1)).over(wp)
    return v.select(
        "o_orderkey",
        "o_custkey",
        F.when(n > 1, F.sum("cents").over(wp) - F.col("cents"))
        .cast("bigint")
        .alias("loo_sum_cents"),
        (n - 1).cast("bigint").alias("loo_n"),
    )


# ---- daily OHLC candles --------------------------------------------------


@register(
    "ohlc_daily_candles",
    oracle=f"""
    WITH v AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM (SELECT * FROM events WHERE (value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) AND {time_domain_sql()}) events
    ),
    r AS (
      SELECT event_type, day, cents,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY ts ASC, event_id ASC) AS rn_a,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM v
    )
    SELECT event_type, day,
           CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open,
           CAST(max(cents) AS BIGINT) AS high,
           CAST(min(cents) AS BIGINT) AS low,
           CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM r GROUP BY event_type, day
    """,
)
def ohlc_daily_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle rollup — the canonical time-series downsampling
    (open/high/low/close per bucket), here per event type per day over
    the event values. First/last-in-bucket are ORDER-dependent
    aggregates, which hash-based groupBy can't see — the portable
    lowering is one ranked window pass (full (ts, event_id) tiebreak,
    both directions from the same sort) feeding a conditional max, so
    ties can never make open/close nondeterministic (the reason this
    avoids arg_min/min_by: neither engine's version takes a composite
    ordering key).

    100 TB shape: one shuffle on (event_type, day) — the window and
    the final groupBy share it (same keys, Catalyst reuses the
    partitioning); high/low/count fold map-side. Bucket-sized state,
    never day-spanning. r13 --timeskew: portable-time-domain filter
    (a BC/year-57552 day crashes the client date conversion one side
    only)."""
    e = table(spark, sf_dir, "events").filter(
        in_grid_domain(F.col("value")) & in_time_domain(F.col("ts"))
    )
    v = e.select(
        "event_type",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        exact_round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    wb = Window.partitionBy("event_type", "day")
    r = v.select(
        "event_type",
        "day",
        "cents",
        F.row_number()
        .over(wb.orderBy(*event_time_order()))
        .alias("rn_a"),
        F.row_number()
        .over(wb.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn_d"),
    )
    return r.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("cents")))
        .cast("bigint")
        .alias("open"),
        F.max("cents").cast("bigint").alias("high"),
        F.min("cents").cast("bigint").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("cents")))
        .cast("bigint")
        .alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


# ---- volume-weighted average value (JSON-typed weights) ------------------


@register(
    "vwap_daily",
    oracle=f"""
    WITH v AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             {duck_json_bigint("props", "$.k")} AS vol
      FROM (SELECT * FROM events WHERE (value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) AND {time_domain_sql()}) events
    )
    SELECT day,
           CAST(sum(cents * vol) AS BIGINT) AS notional_cents,
           CAST(sum(vol) AS BIGINT) AS volume,
           (floor(CAST(sum(cents * vol) AS DOUBLE)
                  / nullif(sum(vol), 0) / 100 * 10000 + 0.5) / 10000)
             AS vwap
    FROM v GROUP BY day
    """,
)
def vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average value per day, with the weight pulled
    out of the semi-structured `props` JSON column (`$.k`) — the
    finance VWAP shape composed with schema-on-read extraction. The
    numerator and denominator are exact integer sums (cents x integer
    volume); only the final ratio is floating, quantized half-up at 4
    decimals with a nullif guard for zero-volume days (every event
    with k=0 still counts into the day, contributing no notional).

    100 TB shape: single scan, JSON path evaluated JVM-side
    (get_json_object, codegen'd), one map-side-combined groupBy on
    day. Nothing else moves. r13 --timeskew: portable-time-domain
    filter (a BC/year-57552 day crashes the client date conversion
    one side only)."""
    e = table(spark, sf_dir, "events").filter(
        in_grid_domain(F.col("value")) & in_time_domain(F.col("ts"))
    )
    v = e.select(
        F.to_date("ts").alias("day"),
        exact_round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        json_bigint("props", "$.k").alias("vol"),
    )
    notional = F.sum(F.col("cents") * F.col("vol"))
    volume = F.sum("vol")
    return v.groupBy("day").agg(
        notional.cast("bigint").alias("notional_cents"),
        volume.cast("bigint").alias("volume"),
        round_half_up(
            notional.cast("double") / F.nullif(volume, F.lit(0)) / 100, 4
        ).alias("vwap"),
    )


# ---- longest monotone streak (gaps-and-islands) --------------------------


@register(
    "monotone_streak_lengths",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS rn
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
    ),
    f AS (
      SELECT user_id, rn,
             CASE WHEN cents > lag(cents) OVER (PARTITION BY user_id
                                                ORDER BY rn)
                  THEN 1 ELSE 0 END AS inc
      FROM v
    ),
    isl AS (
      SELECT user_id,
             rn - row_number() OVER (PARTITION BY user_id ORDER BY rn)
               AS island
      FROM f WHERE inc = 1
    ),
    runs AS (
      SELECT user_id, island, count(*) AS len
      FROM isl GROUP BY user_id, island
    ),
    best AS (SELECT user_id, max(len) AS max_incs FROM runs GROUP BY user_id),
    n AS (SELECT user_id, count(*) AS n_events FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events GROUP BY user_id)
    SELECT n.user_id, CAST(n.n_events AS BIGINT) AS n_events,
           CAST(coalesce(best.max_incs + 1, 1) AS BIGINT) AS longest_streak
    FROM n LEFT JOIN best ON n.user_id = best.user_id
    """,
)
def monotone_streak_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest strictly-increasing streak of event values per user —
    the gaps-and-islands pattern (MATCH_RECOGNIZE territory in engines
    that have it, lowered here to the portable rn-minus-rank island
    id): consecutive rising steps share `rn - rank_among_rising`, so
    runs become groupBy keys. Comparisons are on exact integer cents,
    so "strictly rising" can't flip on float noise; users with no
    rising step (or a single event) report streak 1. Distinct from
    runs_test_randomness (a global sign-runs statistic) — this is
    per-entity longest-run extraction, the building block of
    engagement-streak and uptime features.

    100 TB shape: two per-user ordered window passes over one shuffle
    (Catalyst reuses the user_id sort), islands aggregate to at most
    one row per rising run, and the final join is per-user — all keys
    natural, no global ordering anywhere."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value")))
    wu = Window.partitionBy("user_id").orderBy(*event_time_order())
    v = e.select(
        "user_id",
        exact_round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.row_number().over(wu).alias("rn"),
    )
    wr = Window.partitionBy("user_id").orderBy("rn")
    f = v.select(
        "user_id",
        "rn",
        F.when(F.col("cents") > F.lag("cents").over(wr), 1)
        .otherwise(0)
        .alias("inc"),
    )
    isl = f.filter(F.col("inc") == 1).select(
        "user_id",
        (F.col("rn") - F.row_number().over(wr)).alias("island"),
    )
    best = (
        isl.groupBy("user_id", "island")
        .agg(F.count(F.lit(1)).alias("len"))
        .groupBy("user_id")
        .agg(F.max("len").alias("max_incs"))
    )
    n = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    return n.join(best, "user_id", "left").select(
        "user_id",
        "n_events",
        F.coalesce(F.col("max_incs") + 1, F.lit(1))
        .cast("bigint")
        .alias("longest_streak"),
    )


@register(
    "attribution_u_shaped",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us
      FROM events
    ), purchases AS (
      SELECT user_id, event_id AS purchase_id, t_us AS pt
      FROM ev WHERE event_type = 'purchase'
    ), touches AS (
      SELECT user_id, event_id AS touch_id, event_type AS channel,
             t_us AS tt
      FROM ev WHERE event_type IN ('click', 'view')
    ), credited AS (
      SELECT p.purchase_id, t.channel,
             row_number() OVER (PARTITION BY p.purchase_id
                                ORDER BY t.tt ASC, t.touch_id ASC) AS pos,
             count(*) OVER (PARTITION BY p.purchase_id) AS n
      FROM purchases p
      JOIN touches t
        ON t.user_id = p.user_id
       AND t.tt <= p.pt
       AND t.tt > p.pt - {{w}}::BIGINT * 1000000
    ), weighted AS (
      SELECT channel,
             CASE
               WHEN n = 1 THEN 1000000
               WHEN n = 2 THEN 500000
               WHEN pos = 1 OR pos = n THEN 400000
               ELSE 200000 // (n - 2)
                    + CASE WHEN pos = 2
                           THEN 200000 - (n - 2) * (200000 // (n - 2))
                           ELSE 0 END
             END AS credit_micro
      FROM credited
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_credited_touches,
           (floor(CAST(sum(credit_micro) AS DOUBLE)
                  / 1000000 * 10000 + 0.5) / 10000)
             AS attributed_conversions
    FROM weighted GROUP BY channel
    """.replace("{w}", str(_ATTR_WINDOW_S)),
)
def attribution_u_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) multi-touch attribution —
    the industry-standard complement to attribution_linear: the first
    and last touchpoint before each purchase get 40% of the conversion
    credit each, middle touches split the remaining 20%. Credit is
    integer micro-conversions so every path sums to EXACTLY 1,000,000
    regardless of touch count: the middle share divides by floor and
    the remainder lands deterministically on the earliest middle touch
    (pos=2) — conservation is exact, not approximate, which keeps the
    channel totals hash-comparable and auditable (sum over channels ==
    number of credited purchases).

    100 TB shape: identical join topology to attribution_linear (range
    join on user co-partitioned streams, 7-day lookback bounding the
    fan-out); the position ranks are one window over the per-purchase
    touch set; the rollup lands on |channels| keys."""
    e = table(spark, sf_dir, "events")
    ev = e.select(
        "user_id",
        "event_id",
        "event_type",
        (
            epoch_us_ntz("ts")
        ).alias("t_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("t_us").alias("pt"),
    )
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
        F.col("t_us").alias("tt"),
    )
    credited = purchases.join(
        touches,
        (purchases["user_id"] == touches["user_id"])
        & (touches["tt"] <= purchases["pt"])
        & (
            touches["tt"]
            > purchases["pt"] - F.lit(_ATTR_WINDOW_S * 1_000_000).cast("bigint")
        ),
    ).select("purchase_id", "channel", "tt", "touch_id")
    wp = Window.partitionBy("purchase_id")
    pos = F.row_number().over(
        wp.orderBy(F.asc("tt"), F.asc("touch_id"))
    )
    n = F.count(F.lit(1)).over(wp)
    mid_base = F.floor(F.lit(200_000) / (F.col("n") - 2)).cast("bigint")
    credit = (
        F.when(F.col("n") == 1, F.lit(1_000_000))
        .when(F.col("n") == 2, F.lit(500_000))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("n")),
            F.lit(400_000),
        )
        .otherwise(
            mid_base
            + F.when(
                F.col("pos") == 2,
                F.lit(200_000) - (F.col("n") - 2) * mid_base,
            ).otherwise(F.lit(0))
        )
    )
    weighted = credited.select(
        "channel", pos.alias("pos"), n.alias("n")
    ).select("channel", credit.alias("credit_micro"))
    return weighted.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_credited_touches"),
        round_half_up(
            F.sum("credit_micro").cast("double") / 1_000_000, 4
        ).alias("attributed_conversions"),
    )


# ---- MASE forecast scoring -----------------------------------------------


@register(
    "mase_forecast_eval",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS x
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events GROUP BY 1, 2
    ),
    scored AS (
      SELECT a.event_type,
             abs(a.x - s.x) AS ae_snaive,
             abs(a.x - n.x) AS ae_naive
      FROM daily a
      JOIN daily s ON s.event_type = a.event_type AND s.day = a.day - 7
      JOIN daily n ON n.event_type = a.event_type AND n.day = a.day - 1
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days_scored,
           CAST(sum(ae_snaive) AS BIGINT) AS sae_snaive_cents,
           CAST(sum(ae_naive) AS BIGINT) AS sae_naive_cents,
           (floor(CAST(sum(ae_snaive) AS DOUBLE) / nullif(sum(ae_naive), 0)
                  * 10000 + 0.5) / 10000) AS mase
    FROM scored GROUP BY event_type
    """,
)
def mase_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE-style forecast scoring (Hyndman's scaled error): compare a
    seasonal-naive forecast (same weekday last week) against the naive
    one-step forecast (yesterday) on daily event revenue, per event
    type. A MASE below 1 says weekly seasonality carries signal beyond
    persistence — the standard go/no-go gate before fitting anything
    fancier (and the complement of pinball_loss_eval, which scores
    quantile forecasts). Absolute errors are exact integer cents; only
    the final ratio floats, quantized half-up with a zero-denominator
    guard. Days are matched by CALENDAR join (day-7 / day-1), so gap
    days drop out of scoring instead of silently comparing
    non-adjacent rows as a row-lag would.

    100 TB shape: the daily rollup collapses the corpus to
    |types| x |days| rows with map-side partial sums; both forecast
    joins and the final aggregation run on that tiny frame."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value")))
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(exact_round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    a = daily.alias("a")
    s = daily.select(
        F.col("event_type").alias("s_type"),
        F.col("day").alias("s_day"),
        F.col("x").alias("s_x"),
    )
    n = daily.select(
        F.col("event_type").alias("n_type"),
        F.col("day").alias("n_day"),
        F.col("x").alias("n_x"),
    )
    scored = (
        a.join(
            s,
            (F.col("s_type") == F.col("a.event_type"))
            & (F.col("s_day") == F.date_sub(F.col("a.day"), 7)),
        )
        .join(
            n,
            (F.col("n_type") == F.col("a.event_type"))
            & (F.col("n_day") == F.date_sub(F.col("a.day"), 1)),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.abs(F.col("a.x") - F.col("s_x")).alias("ae_snaive"),
            F.abs(F.col("a.x") - F.col("n_x")).alias("ae_naive"),
        )
    )
    sae_s = F.sum("ae_snaive")
    sae_n = F.sum("ae_naive")
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days_scored"),
        sae_s.cast("bigint").alias("sae_snaive_cents"),
        sae_n.cast("bigint").alias("sae_naive_cents"),
        round_half_up(
            sae_s.cast("double") / F.nullif(sae_n, F.lit(0)), 4
        ).alias("mase"),
    )


# ---- cumulative distinct users -------------------------------------------


@register(
    "cumulative_distinct_users",
    oracle=f"""
    WITH e AS (SELECT * FROM events WHERE {time_domain_sql()}),
    firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM e
      GROUP BY user_id
    ),
    daily AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n_events FROM e
      GROUP BY 1
    ),
    news AS (
      SELECT first_day AS day, count(*) AS n_new FROM firsts GROUP BY 1
    )
    SELECT d.day,
           CAST(d.n_events AS BIGINT) AS n_events,
           CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new_users,
           CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY d.day
                ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_distinct_users
    FROM daily d LEFT JOIN news n ON d.day = n.day
    """,
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users to date, per day — the growth-curve
    metric. The naive formulation (count(DISTINCT user) over an
    expanding window) re-deduplicates the entire history per day —
    O(days x users) state and a scale killer; the first-appearance
    lowering is exact and linear: distinct-to-date == running sum of
    first-seen counts, because each user increments exactly one day.
    One shuffle on user for the min-day fold, then everything runs on
    |days|-sized frames.

    100 TB shape: the user fold is map-side combined; the final
    running sum orders a calendar-bounded table (thousands of rows)
    — the single-partition window there is free. Skew-proof: no
    per-day distinct state anywhere. r13 --timeskew: portable-time-
    domain filter (a BC/year-57552 day crashes the client date
    conversion one side only)."""
    e = table(spark, sf_dir, "events").filter(in_time_domain(F.col("ts")))
    firsts = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    news = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    # asc_nulls_last: the NULL-day group (events without a timestamp)
    # must accumulate at the END of the running sum like the oracle's
    # NULLS LAST order (r11 NULL-parity audit class)
    w = Window.orderBy(F.asc_nulls_last("day")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        daily.join(news, "day", "left")
        .select(
            "day",
            "n_events",
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new_users"),
            F.sum(F.coalesce("n_new", F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("cum_distinct_users"),
        )
    )


# ---- half-life time-decayed revenue --------------------------------------


@register(
    "half_life_weighted_revenue",
    oracle="""
    WITH ref AS (SELECT max(CAST(ts AS DATE)) AS ref_day FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events),
    v AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             CAST(ref.ref_day - CAST(ts AS DATE) AS BIGINT) // 7 AS age_w
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events, ref
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS raw_cents,
           CAST(sum(cents >> least(age_w, 62)) AS BIGINT)
             AS decayed_cents
    FROM v GROUP BY event_type
    """,
)
def half_life_weighted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed (half-life) revenue: each event's cents are worth
    half as much for every week of age relative to the newest event —
    recency weighting for engagement/LTV scoring. The decay is an
    EXACT integer operation (cents // 2^age_weeks, shift capped at 62
    to dodge overflow on ancient rows) instead of the usual
    pow(0.5, age/7.0) double — so partial sums commute bit-exactly
    across engines and partitions, the same motivation as every other
    integer-exact entry, here applied to the one aggregate people
    always compute with floats. The reference day is an aggregate
    broadcast, not a driver-side now(). The oracle spells the decay as
    ``cents >> least(age_w, 62)`` because DuckDB's ``>>`` is the same
    arithmetic (floor) shift as Spark's shiftright for NEGATIVE cents
    (refunds), while DuckDB's ``//`` truncates toward zero (-400//256
    = -1 vs -400>>8 = -2) — found by the r13 --stuck arm's negative
    constant group; the committed fixture's values are all positive,
    so the old ``// (1<<k)`` spelling was green-but-latent.

    100 TB shape: one scan + map-side combined groupBy; the ref-day
    scalar joins by broadcast. Nothing ordered, nothing windowed."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value")))
    ref = e.agg(F.max(F.to_date("ts")).alias("ref_day"))
    v = e.crossJoin(F.broadcast(ref)).select(
        "event_type",
        exact_round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.floor(
            F.datediff(F.col("ref_day"), F.to_date("ts")) / 7
        )
        .cast("bigint")
        .alias("age_w"),
    )
    decayed = F.expr(
        "shiftright(cents, cast(least(age_w, 62L) as int))"
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("raw_cents"),
        F.sum(decayed).cast("bigint").alias("decayed_cents"),
    )


# ---- interval-based RANGE frame ------------------------------------------

_RI_7D_US = 7 * 86400 * 1_000_000  # the oracle's INTERVAL 7 DAY, in micros


@register(
    "window_range_interval_frame",
    oracle="""
    SELECT event_id, event_type,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
             PARTITION BY event_type ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
             AS BIGINT) AS trailing7d_cents,
           CAST(count(*) OVER (
             PARTITION BY event_type ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
             AS BIGINT) AS trailing7d_events
    FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
    """,
)
def window_range_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame with a calendar-INTERVAL offset — a trailing 7-day
    sum/count per event, frame bounds resolved against the ordering
    timestamp's VALUE (every event within 168 hours, however many rows
    that is), the semantics neither ROWS frames nor day-bucketed
    rollups give: two events 1 second apart across midnight share
    almost their whole frame. Tie-safety is inherent to RANGE (peers
    share a frame). The oracle IS the naive interval-RANGE window —
    the semantic spec.

    100 TB shape (r10 REWRITE — the r09 docstring's "two pointers,
    invertible sum" claim was WRONG for Spark's engine): Spark
    executes a moving-start bounded-end frame by re-aggregating the
    in-frame row buffer PER ROW (SlidingWindowFunctionFrame has no
    retraction), and an interval-RANGE frame's row count grows with
    data density — O(rows × rows-per-7d), quadratic in corpus
    density: measured 81-92s at sf1 on 1M rows vs 2.3-5s for this
    formulation (−97%, bit-identical at three scales, r10 full-board
    sf1 timing sweep finding). The rewrite uses only GROWING frames
    (which Spark executes incrementally): collapse RANGE peers to per
    (type, distinct ts) sums, then trailing(t) = running_cumsum(≤ t)
    − cumsum(< t−7d), the second term read by a 0-contribution PROBE
    row at t−7d merged into the same running window (probes sort
    before data at equal timestamps, so the probe sees strictly-less
    rows — the at-or-after-t−7d boundary stays inside the frame,
    matching RANGE's inclusive lower bound). One shuffle on
    event_type for the window; two (type, ts) equi-joins hand the
    per-timestamp result back to events.

    NULL parity (ADVICE r10): SQL's windowed SUM over a frame whose
    values are ALL NULL yields NULL, not 0 — which a plain cumsum
    subtraction can't see (two equal running sums subtract to 0
    whether the frame was all-NULL or summed to zero). Probe rows
    therefore carry a NULL sum contribution (only the count probe is
    0), and a third running counter tracks NON-NULL values so the
    final projection maps an all-NULL frame back to NULL; count(*)
    stays NULL-blind per SQL. The two hand-back joins are NULL-SAFE:
    a NULL partition key (event_type) and a NULL order key (ts — SQL
    frames NULL order keys as their peer group) are real output rows
    that plain equi-joins would drop. Pinned on constructed data in
    tests/test_plans.py::test_interval_range_frame_all_null_is_null."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value"))).select(
        "event_id",
        "event_type",
        (
            epoch_us_ntz("ts")
        ).alias("t_us"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    per_ts = e.groupBy("event_type", "t_us").agg(
        F.sum("cents").alias("s"),
        F.count(F.lit(1)).alias("c"),
        F.count("cents").alias("nn"),
    )
    data = per_ts.select(
        "event_type",
        F.col("t_us").alias("o_us"),
        "s",
        "c",
        "nn",
        F.lit(1).alias("tag"),
        F.col("t_us").alias("key_us"),
    )
    probes = per_ts.select(
        "event_type",
        (F.col("t_us") - F.lit(_RI_7D_US)).alias("o_us"),
        F.lit(None).cast("bigint").alias("s"),
        F.lit(0).alias("c"),
        F.lit(0).alias("nn"),
        F.lit(0).alias("tag"),
        F.col("t_us").alias("key_us"),
    )
    u = data.unionByName(probes)
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.asc("o_us"), F.asc("tag"), F.asc("key_us"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = u.select(
        "event_type",
        "tag",
        "key_us",
        F.sum("s").over(w).alias("rs"),
        F.sum("c").over(w).alias("rc"),
        F.sum("nn").over(w).alias("rn"),
    )
    cum = run.filter(F.col("tag") == 1).select(
        "event_type",
        F.col("key_us").alias("t_us"),
        F.col("rs").alias("cum_s"),
        F.col("rc").alias("cum_c"),
        F.col("rn").alias("cum_n"),
    )
    before = run.filter(F.col("tag") == 0).select(
        F.col("event_type").alias("b_type"),
        F.col("key_us").alias("b_us"),
        F.col("rs").alias("bef_s"),
        F.col("rc").alias("bef_c"),
        F.col("rn").alias("bef_n"),
    )
    # Null-safe hand-back joins: a NULL event_type is a real window
    # PARTITION (SQL: one NULL group) and a NULL ts is a real peer
    # group (SQL RANGE: NULL order keys frame exactly their peers —
    # which the probe-union arithmetic already computes, since the
    # NULL-keyed probe's running sums see only the NULL block). Plain
    # equi-joins would silently DROP those rows from the output — a
    # row-count divergence from the oracle, latent on the NULL-free
    # driver fixtures; pinned with NULL-key rows in
    # tests/test_plans.py::test_interval_range_frame_all_null_is_null.
    # EqualNullSafe keys stay on the hash/sort-merge equi-join path.
    res = cum.join(
        before,
        F.col("event_type").eqNullSafe(F.col("b_type"))
        & F.col("t_us").eqNullSafe(F.col("b_us")),
    ).select(
        "event_type",
        "t_us",
        F.when(
            F.col("cum_n") - F.col("bef_n") > 0,
            F.coalesce(F.col("cum_s"), F.lit(0))
            - F.coalesce(F.col("bef_s"), F.lit(0)),
        )
        .cast("bigint")
        .alias("trailing7d_cents"),
        (F.col("cum_c") - F.col("bef_c"))
        .cast("bigint")
        .alias("trailing7d_events"),
    )
    res = res.select(
        F.col("event_type").alias("r_type"),
        F.col("t_us").alias("r_us"),
        "trailing7d_cents",
        "trailing7d_events",
    )
    return e.join(
        res,
        F.col("event_type").eqNullSafe(F.col("r_type"))
        & F.col("t_us").eqNullSafe(F.col("r_us")),
    ).select("event_id", "event_type", "trailing7d_cents", "trailing7d_events")


# ---- session-gap sensitivity curve ---------------------------------------

_GAP_GRID_S = (300, 900, 1800, 3600)


@register(
    "session_gap_sensitivity",
    oracle=f"""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    u AS (SELECT count(DISTINCT user_id) AS n_users FROM events)
    SELECT t.gap_s,
           CAST(u.n_users + (SELECT count(*) FROM g
                             WHERE gap_us > t.gap_s * 1000000::BIGINT)
                AS BIGINT) AS n_sessions
    FROM (VALUES {", ".join(f"({g})" for g in _GAP_GRID_S)}) t(gap_s), u
    """,
)
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization threshold tuning as ONE aggregation: the session
    count at inactivity gap g is n_users + |inter-event gaps > g|
    (every user starts one session; each over-threshold gap starts
    another), so the whole sensitivity curve — how session counts
    respond to the 5/15/30/60-minute knob — comes from a single pass
    over the gap distribution instead of re-sessionizing per
    threshold. The identity is exact, not an estimate; the grid is
    one shared tuple on both engines.

    100 TB shape: one user-partitioned lag pass; the curve itself is
    |grid| conditional counts folded map-side. Re-running full
    sessionization per candidate gap — the naive tuning loop — scans
    the corpus |grid| times for the same numbers."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(*event_time_order())
    t_us = (
        epoch_us_ntz("ts")
    )
    g = e.select((t_us - F.lag(t_us).over(w)).alias("gap_us"))
    n_users = e.agg(
        F.count_distinct("user_id").alias("n_users")
    )
    # aggregate the gaps ALONE, then attach the user count: the old
    # crossJoin-then-agg collapsed to a single all-NULL row on an
    # EMPTY events table (first() over nothing) where the oracle's
    # grid yields n_sessions = 0 (r11 empty-input audit); a global
    # agg always returns one row, and coalesce pins the empty sums
    # to the oracle's count(*) = 0
    over = g.agg(
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("gap_us") > gap * 1_000_000, 1
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias(f"over_{gap}")
            for gap in _GAP_GRID_S
        ]
    )
    counts = over.crossJoin(F.broadcast(n_users))
    rows = F.array(
        *[
            F.struct(
                F.lit(gap).alias("gap_s"),
                (F.col("n_users") + F.col(f"over_{gap}"))
                .cast("bigint")
                .alias("n_sessions"),
            )
            for gap in _GAP_GRID_S
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select(
        F.col("r.gap_s").cast("bigint").alias("gap_s"), "r.n_sessions"
    )


# ---- multi-granularity time rollup (DataFrame groupingSets) --------------


@register(
    "time_grouping_sets_rollup",
    oracle=f"""
    WITH v AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(date_trunc('month', ts) AS DATE) AS mon,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM (SELECT * FROM events WHERE (value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) AND {time_domain_sql()}) events
    )
    SELECT CASE WHEN GROUPING(day) = 0 THEN 'day'
                WHEN GROUPING(mon) = 0 THEN 'month'
                ELSE 'total' END AS grain,
           coalesce(CAST(day AS VARCHAR), CAST(mon AS VARCHAR), '*')
             AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM v
    GROUP BY GROUPING SETS ((day), (mon), ())
    """,
)
def time_grouping_sets_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily + monthly + grand-total revenue in ONE pass via GROUPING
    SETS — through the DataFrame `groupingSets` API new in Spark 4
    (agg_grouping_sets pins the SQL syntax; this pins the programmatic
    surface on a time hierarchy, the rollup-cache shape every BI layer
    materializes). GROUPING() disambiguates which grain produced each
    row — never `IS NULL` on the key, which conflates a rolled-up
    bucket with a genuinely null one. The engine expands the sets with
    a single Expand node over one scan: three rollups, one shuffle.

    100 TB shape: Expand multiplies rows x|sets| BEFORE the partial
    aggregate but each replica carries only its set's keys, and
    map-side combine collapses them immediately — still one scan and
    one exchange versus three separate jobs (the union-of-aggregates
    alternative scans 3x). r13 --timeskew: portable-time-domain filter
    — beyond it the engines' VARCHAR renderings split ('+57552-01-01'
    vs '57552-01-01') and the client date conversion crashes one side
    only."""
    e = table(spark, sf_dir, "events").filter(
        in_grid_domain(F.col("value")) & in_time_domain(F.col("ts"))
    )
    v = e.select(
        F.to_date("ts").alias("day"),
        F.trunc("ts", "month").alias("mon"),
        exact_round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    g = v.groupingSets([["day"], ["mon"], []], "day", "mon").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
        F.grouping("day").alias("g_day"),
        F.grouping("mon").alias("g_mon"),
    )
    return g.select(
        F.when(F.col("g_day") == 0, F.lit("day"))
        .when(F.col("g_mon") == 0, F.lit("month"))
        .otherwise(F.lit("total"))
        .alias("grain"),
        F.coalesce(
            F.col("day").cast("string"),
            F.col("mon").cast("string"),
            F.lit("*"),
        ).alias("bucket"),
        "n",
        "cents",
    )


# ---- linear interpolation of daily gaps ----------------------------------


@register(
    "linear_interpolate_gaps",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM (SELECT * FROM events WHERE (value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) AND {obs_window_sql()}) events WHERE user_id < 40 GROUP BY 1, 2
    ),
    span AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily
      GROUP BY user_id
    ),
    spine AS (
      SELECT s.user_id, CAST(g.g AS DATE) AS day
      FROM span s, LATERAL (
        SELECT unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS g
      ) g
    ),
    j AS (
      SELECT sp.user_id, sp.day, d.cents,
             last_value(d.cents IGNORE NULLS) OVER wp AS prev_v,
             last_value(CASE WHEN d.cents IS NOT NULL THEN sp.day END
                        IGNORE NULLS) OVER wp AS prev_d,
             first_value(d.cents IGNORE NULLS) OVER wf AS next_v,
             first_value(CASE WHEN d.cents IS NOT NULL THEN sp.day END
                         IGNORE NULLS) OVER wf AS next_d
      FROM spine sp LEFT JOIN daily d
        ON d.user_id = sp.user_id AND d.day = sp.day
      WINDOW wp AS (PARTITION BY sp.user_id ORDER BY sp.day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             wf AS (PARTITION BY sp.user_id ORDER BY sp.day
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day,
           CAST(coalesce(cents,
                 prev_v + CAST(floor(
                   CAST((next_v - prev_v)
                        * CAST(day - prev_d AS BIGINT) AS DOUBLE)
                   / CAST(next_d - prev_d AS BIGINT)) AS BIGINT))
                AS BIGINT) AS cents,
           (cents IS NULL) AS imputed
    FROM j
    """,
)
def linear_interpolate_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over missing days in each user's daily
    spend series — the imputation step up from locf_impute (which
    holds the last value flat, biasing trends): a gap day between two
    observed days takes the straight-line value, computed as an exact
    lerp: prev + floor((next-prev)·offset / span) with the floor
    spelled out on BOTH engines — DuckDB's `//` truncates toward zero
    on negative quotients (observed: -7 // 2 = -3) while Spark's
    floor() floors, so the naive integer-division form silently
    diverges one cent on every declining gap. The double quotient is
    exact-input (operands < 2^53), making the explicit floor
    engine-identical. The calendar spine comes from sequence()/generate_series
    per user between their own first and last active day, so no
    global calendar join and no rows outside a user's lifetime.

    100 TB shape: spine expansion is bounded by |users| x |span
    days|; the two IGNORE-NULLS window passes share one user
    partitioning. The interpolation never looks beyond the partition
    — shard-safe.

    r13 --timeskew: SPINE-GENERATING entry — rides the bounded
    observation window [1970, 2100) (functions/timedomain.py
    in_obs_window), not just the portable domain: spine cost is
    proportional to the SPAN, and one corrupt year-1/9999 event
    per user would inflate the per-user spine to 3.65M rows (the
    pre-contract unit-bug shape OOMed the JVM)."""
    e = (
        table(spark, sf_dir, "events")
        .filter(in_grid_domain(F.col("value")) & in_obs_window(F.col("ts")))
        .filter(F.col("user_id") < 40)
    )
    daily = e.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("cents")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1")).alias("day"),
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # "first observed value on a LATER day" as a running frame over the
    # DESC ordering (day is unique within the spine, so ROWS frames map
    # exactly): F.last over desc-preceding == F.first over
    # asc-following, but runs as a streaming accumulator instead of the
    # per-row re-aggregation a shifted-unboundedFollowing frame costs —
    # O(p^2) in the partition (the caliper_nearest_match r09 finding).
    # Here p is calendar-bounded, but the linear form costs only a
    # second in-partition sort.
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("day"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    obs_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    j2 = j.select(
        "user_id",
        "day",
        "cents",
        F.last("cents", ignorenulls=True).over(wp).alias("prev_v"),
        F.last(obs_day, ignorenulls=True).over(wp).alias("prev_d"),
        F.last("cents", ignorenulls=True).over(wf).alias("next_v"),
        F.last(obs_day, ignorenulls=True).over(wf).alias("next_d"),
    )
    lerp = F.col("prev_v") + F.floor(
        (F.col("next_v") - F.col("prev_v"))
        * F.datediff("day", "prev_d")
        / F.datediff("next_d", "prev_d")
    ).cast("bigint")
    return j2.select(
        "user_id",
        "day",
        F.coalesce("cents", lerp).cast("bigint").alias("cents"),
        F.col("cents").isNull().alias("imputed"),
    )


@register(
    "first_touch_type_distribution",
    oracle="""
    WITH f AS (
      SELECT user_id,
             arg_min(event_type, ts) AS first_type
      FROM (
        SELECT user_id, ts, event_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC) AS rn
        FROM events
      ) WHERE rn = 1
      GROUP BY user_id
    )
    SELECT first_type,
           CAST(count(*) AS BIGINT) AS n_users,
           (floor(CAST(count(*) AS DOUBLE)
                  / (SELECT count(*) FROM f) * 10000 + 0.5) / 10000)
             AS share
    FROM f GROUP BY first_type
    """,
)
def first_touch_type_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Entry-point analysis: the distribution of each user's FIRST
    event type — which door do users arrive through, and what share
    arrive already converting (first touch = purchase, the
    attribution blind spot every lookback model has). First-touch is
    a min-of-struct fold with the full (ts, event_id) tiebreak, so a
    user's first event is deterministic even under timestamp ties;
    shares quantize half-up against the exact user total.

    100 TB shape: one map-side min-of-struct fold per user, then a
    |types|-key rollup; the share denominator is a broadcast scalar.
    No window, no sort — the rn=1 form in the oracle is the
    SQL-readable twin of the same fold."""
    e = table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.min(
            F.struct(
                F.col("ts"), F.col("event_id"), F.col("event_type")
            )
        ).alias("m")
    ).select(F.col("m.event_type").alias("first_type"))
    tot = first.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        first.groupBy("first_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .crossJoin(F.broadcast(tot))
        .select(
            "first_type",
            "n_users",
            round_half_up(
                F.col("n_users").cast("double") / F.col("n_total"), 4
            ).alias("share"),
        )
    )
