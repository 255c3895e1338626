"""Table maintenance & ops diagnostics: CDC-style upsert merge,
per-column profiling, and hot-key detection — the operational layer a
long-running ingest needs around the analytic operators.

Scale shape (100 TB):
* merge_upsert — NOT a full-outer join (Spark cannot broadcast a
  full-outer side; it would force a sort-merge shuffle of the whole
  base): updates apply via a broadcast LEFT join (update keys are a
  subset of base keys), inserts append via union. One base scan, zero
  base-side shuffle. At production scale the write side is dynamic
  partition overwrite / bucketed so only changed buckets rewrite.
* table_profile — ONE corpus scan computing every per-column metric as
  parallel aggregates, then a constant-width stack; never one scan per
  column.
* key_skew_profile — partial-agg'd count per key + global top-k
  (TakeOrdered): the pre-flight check that decides whether a join
  needs salting (scale_patterns.skew_salted_join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.numerics import in_grid_domain
from tiny_etl_multiproc_bigdata_spark.functions.hashing import duck_md5_long, md5_long
from tiny_etl_multiproc_bigdata_spark.functions.rounding import (
    exact_round,
    round_half_up,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import register
from tiny_etl_multiproc_bigdata_spark.sources.files import staged_dir

# Inserted rows get keys shifted far past the fixture key range.
_NEW_KEY_OFFSET = 1_000_000_000


@register(
    "merge_upsert",
    oracle=f"""
    WITH chg AS (
      SELECT o_orderkey AS k, 'X' AS status,
             CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS total
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey + {_NEW_KEY_OFFSET}, 'N',
             CAST(o_totalprice AS DECIMAL(18,2))
      FROM orders WHERE o_orderkey % 7 = 3
    )
    SELECT coalesce(c.k, b.o_orderkey) AS o_orderkey,
           coalesce(c.status, b.o_orderstatus) AS o_orderstatus,
           round(CAST(coalesce(c.total,
                               CAST(b.o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS o_totalprice
    FROM orders b FULL JOIN chg c ON b.o_orderkey = c.k
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert (MERGE semantics on plain tables): a change set of
    updates (every 10th key: status X, price doubled) and inserts
    (shifted new keys, disjoint from base) merged into the base —
    update wins, insert appends, untouched rows pass through. The
    oracle states it as one FULL JOIN; the Spark plan deliberately
    decomposes it into broadcast-LEFT-join + union (see module
    docstring), which is equivalent because update keys ⊆ base keys
    and insert keys are disjoint. Money math stays DECIMAL until the
    final display round."""
    o = table(spark, sf_dir, "orders")
    total_dec = F.col("o_totalprice").cast("decimal(18,2)")
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("X").alias("status"),
        (total_dec * 2).alias("total"),
    )
    inserts = o.filter(F.col("o_orderkey") % 7 == 3).select(
        (F.col("o_orderkey") + _NEW_KEY_OFFSET).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        exact_round(total_dec.cast("double"), 2).alias("o_totalprice"),
    )
    b = o.alias("b")
    u = updates.alias("u")
    upserted = b.join(
        F.broadcast(u), F.col("b.o_orderkey") == F.col("u.k"), "left"
    ).select(
        F.col("b.o_orderkey").alias("o_orderkey"),
        F.coalesce("u.status", "b.o_orderstatus").alias("o_orderstatus"),
        exact_round(
            F.coalesce(F.col("u.total"), F.col("b.o_totalprice").cast("decimal(18,2)"))
            .cast("double"),
            2,
        ).alias("o_totalprice"),
    )
    return upserted.unionByName(inserts)


_PROFILE_COLS = ("o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice")


def _profile_oracle() -> str:
    parts = [
        f"""
        SELECT '{c}' AS column_name,
               count(*) AS n_rows,
               count(*) - count({c}) AS n_null,
               count(DISTINCT {c}) AS n_distinct
        FROM orders"""
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


@register("table_profile", oracle=_profile_oracle())
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile (row/null/distinct counts) in
    ONE scan: all metrics aggregate in parallel into a single row,
    then a constant-width stack pivots them to one row per column —
    never a scan per column."""
    o = table(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    one = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_rows - nn_{c}, nd_{c}" for c in _PROFILE_COLS
    )
    return one.selectExpr(
        "n_rows",
        f"stack({len(_PROFILE_COLS)}, {stack_args})"
        " AS (column_name, n_null, n_distinct)",
    ).select("column_name", "n_rows", "n_null", "n_distinct")


@register(
    "key_skew_profile",
    oracle="""
    WITH counts AS (
      SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey
    ), tot AS (SELECT sum(n) AS t FROM counts)
    SELECT l_suppkey, n,
           (floor(CAST(n AS DOUBLE) / t * 1000000 + 0.5) / 1000000) AS share
    FROM counts, tot
    ORDER BY n DESC, l_suppkey ASC
    LIMIT 10
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostic: the 10 heaviest join keys with their row
    share — the pre-flight that decides whether a join needs salting
    or AQE skew handling. Partial-agg'd per-key counts, a 1-row total
    broadcast back, TakeOrdered top-k; (count, key) tiebreak keeps the
    cut deterministic."""
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "l_suppkey",
            "n",
            round_half_up(F.col("n").cast("double") / F.col("t"), 6).alias("share"),
        )
        .orderBy(F.desc("n"), F.asc("l_suppkey"))
        .limit(10)
    )


@register(
    "agg_mode_deterministic",
    oracle="""
    WITH counts AS (
      SELECT c_mktsegment, c_nationkey, count(*) AS n
      FROM customer GROUP BY 1, 2
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY n DESC, c_nationkey ASC) AS rn
      FROM counts
    )
    SELECT c_mktsegment, c_nationkey AS mode_nation, n AS n_customers
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent value per group with an explicit (count, key)
    tiebreak — NOT the engines' built-in mode(), whose tie choice is
    implementation-defined and diverges between engines. Two partial-
    agg'd shuffles (count, then a per-group top-1 window over the
    already-reduced counts)."""
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    counts = c.groupBy("c_mktsegment", "c_nationkey").agg(F.count("*").alias("n"))
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("n"), F.asc("c_nationkey")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("c_nationkey").alias("mode_nation"),
            F.col("n").alias("n_customers"),
        )
    )


@register(
    "robust_outlier_bounds",
    oracle="""
    WITH med AS (
      SELECT CAST(quantile_cont(value, 0.5) AS DOUBLE) AS m FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
    ), mad AS (
      SELECT CAST(quantile_cont(abs(value - m), 0.5) AS DOUBLE) AS d
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events, med
    )
    SELECT e.event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN abs(e.value - med.m) > 3 * mad.d
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) e, med, mad
    GROUP BY e.event_type
    """,
)
def robust_outlier_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier detection (robust to the outliers themselves,
    unlike mean/stddev): two-pass exact medians aggregated to single
    rows and broadcast back — the thresholds never shuffle the event
    log. Exact `percentile` interpolates identically to DuckDB
    quantile_cont (verified property of this engine pair), so the
    |x - m| > 3*MAD cut is bit-identical."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value")))
    med = e.agg(F.expr("percentile(value, 0.5)").alias("m"))
    mad = (
        e.crossJoin(F.broadcast(med))
        .agg(F.expr("percentile(abs(value - m), 0.5)").alias("d"))
    )
    flagged = e.crossJoin(F.broadcast(med)).crossJoin(F.broadcast(mad))
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.when(F.abs(F.col("value") - F.col("m")) > 3 * F.col("d"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_outliers"),
    )


@register(
    "observe_pipeline_metrics",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
             AS n_discounted,
           CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_returnflag = 'R'
    """,
)
def observe_pipeline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight pipeline metrics via DataFrame.observe — the Spark
    analog of the reference's loader acknowledgement counters (L1
    `Loader.load` returns per-chunk ack counts, loaders/mysql.py):
    named aggregates piggyback on the SAME job that materializes the
    data (zero extra scans, collected on the driver as one fixed-width
    row), so every production write reports row counts and data-quality
    tallies for free. The observed metrics are returned as a 1-row
    frame for oracle checking; in production they'd feed the ingest
    ledger / alerting instead."""
    from pyspark.sql import Observation

    obs = Observation()
    df = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
            F.sum(F.col("l_quantity").cast("decimal(30,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )
    df.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_discounted"], m["sum_qty"])],
        schema="n_rows bigint, n_discounted bigint, sum_qty double",
    )


@register(
    "data_quality_checks",
    oracle="""
    SELECT 'lineitem_quantity_range' AS rule,
           (SELECT count(*) FROM lineitem) AS n_checked,
           (SELECT count(*) FROM lineitem
            WHERE l_quantity IS NULL
               OR l_quantity < 1 OR l_quantity > 50) AS n_violations
    UNION ALL
    SELECT 'orders_custkey_references_customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer_custkey_unique',
           (SELECT count(*) FROM customer),
           (SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
    UNION ALL
    SELECT 'lineitem_returnflag_domain',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem
            WHERE l_returnflag NOT IN ('A', 'N', 'R')
               OR l_returnflag IS NULL)
    UNION ALL
    SELECT 'orders_totalprice_positive',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders
            WHERE o_totalprice IS NULL OR o_totalprice <= 0)
    """,
)
def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality validation (the Deequ / expectations
    pattern): a fixed rule book — range, referential integrity,
    key uniqueness, accepted-values domain, positivity — evaluated as
    one UNION of per-rule (checked, violations) counts. The analytics
    engine's ingest gate: run after every load, alert on any
    n_violations > 0.

    100 TB shape: each rule is a full-scan AGGREGATE (no row-level
    output), so map-side partial aggregation reduces every rule to one
    fixed-width row; the referential check is a null-producing
    broadcast-able join (customer keys ≪ orders rows at TPC-H ratios,
    and Spark picks broadcast automatically under AQE); the uniqueness
    check is count vs count_distinct, one shuffle of distinct keys.
    Rules over the SAME table share ONE scan via conditional
    aggregates (the observe_pipeline_metrics trick; r07 plan audit —
    the one-rule-one-union form scanned its inputs 10 times): lineitem
    rules ride one scan, both orders rules ride one scan through the
    broadcast referential join (the anti-join becomes a
    count-where-unmatched over the same join), customer's uniqueness
    check is its own scan. The oracle stays the literal per-rule
    form."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    def rows(agg: DataFrame, *rules: tuple[str, str]) -> DataFrame:
        return agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("rule"),
                            F.col("n").alias("n_checked"),
                            F.col(vcol).alias("n_violations"),
                        )
                        for name, vcol in rules
                    ]
                )
            ).alias("r")
        ).select("r.rule", "r.n_checked", "r.n_violations")

    li_rows = rows(
        li.agg(
            F.count("*").cast("bigint").alias("n"),
            F.count_if(
                F.col("l_quantity").isNull()
                | (F.col("l_quantity") < 1)
                | (F.col("l_quantity") > 50)
            )
            .cast("bigint")
            .alias("qv"),
            F.count_if(
                ~F.col("l_returnflag").isin("A", "N", "R")
                | F.col("l_returnflag").isNull()
            )
            .cast("bigint")
            .alias("fv"),
        ),
        ("lineitem_quantity_range", "qv"),
        ("lineitem_returnflag_domain", "fv"),
    )
    o_rows = rows(
        o.join(
            F.broadcast(c.select("c_custkey")),
            o.o_custkey == F.col("c_custkey"),
            "left",
        ).agg(
            F.count("*").cast("bigint").alias("n"),
            F.count_if(F.col("c_custkey").isNull())
            .cast("bigint")
            .alias("rv"),
            F.count_if(
                F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
            )
            .cast("bigint")
            .alias("pv"),
        ),
        ("orders_custkey_references_customer", "rv"),
        ("orders_totalprice_positive", "pv"),
    )
    c_rows = c.agg(
        F.count("*").cast("bigint").alias("n_checked"),
        (F.count("*") - F.count_distinct("c_custkey"))
        .cast("bigint")
        .alias("n_violations"),
    ).select(
        F.lit("customer_custkey_unique").alias("rule"),
        "n_checked",
        "n_violations",
    )
    return li_rows.unionAll(o_rows).unionAll(c_rows)


_ROLLUP_SPLIT = "1996-01-01"


@register(
    "incremental_rollup_merge",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents,
           CAST(min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS min_cents,
           CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS max_cents
    FROM orders
    GROUP BY 1
    """,
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact incremental aggregation via mergeable partial states — the
    materialized-view maintenance pattern (and the exact twin of
    hll_sketch_partition_merge's approx rollups): a historical BASE
    partial-agg (orders before 1996-01-01) and a new-arrivals DELTA
    partial-agg are computed independently, then MERGED
    (sum-of-counts, sum-of-sums, min-of-mins, max-of-maxes) without
    touching base rows again. The oracle aggregates the full table in
    one pass — merge(partial(A), partial(B)) == agg(A ∪ B) is the
    correctness claim, and it holds EXACTLY because every state is an
    integer semigroup value (prices pre-quantized to cents per row).

    100 TB shape: this is WHY nightly ingest doesn't re-scan history —
    the base state is month-cardinality rows (kilobytes), only the
    delta partition is scanned, and the merge is a fixed-width groupBy.
    AVG-style states ride along as (sum, n) pairs; percentiles need the
    t-digest entry's sketches instead."""
    o = table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
        F.col("o_orderdate").alias("d"),
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("month").agg(
            F.count("*").alias("n"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.min("cents").cast("bigint").alias("min_cents"),
            F.max("cents").cast("bigint").alias("max_cents"),
        )

    base = partial(o.where(F.col("d") < F.lit(_ROLLUP_SPLIT)))
    delta = partial(o.where(F.col("d") >= F.lit(_ROLLUP_SPLIT)))
    return (
        base.unionAll(delta)
        .groupBy("month")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("total_cents").cast("bigint").alias("total_cents"),
            F.min("min_cents").cast("bigint").alias("min_cents"),
            F.max("max_cents").cast("bigint").alias("max_cents"),
        )
    )


_PSI_BUCKET_W = 50_000.0  # equi-width price buckets
_PSI_N_BUCKETS = 10


@register(
    "distribution_drift_psi",
    ulp_sensitive=True,
    oracle=f"""
    WITH binned AS (
      SELECT CASE WHEN CAST(floor(o_totalprice / {_PSI_BUCKET_W}) AS BIGINT)
                       > {_PSI_N_BUCKETS - 1}
                  THEN {_PSI_N_BUCKETS - 1}
                  ELSE CAST(floor(o_totalprice / {_PSI_BUCKET_W}) AS BIGINT)
             END AS bucket,
             (o_orderdate < TIMESTAMP '1996-01-01') AS is_base
      FROM orders
    ), per_bucket AS (
      SELECT b.b AS bucket,
             CAST(coalesce(sum(CASE WHEN is_base THEN 1 END), 0) AS BIGINT)
               AS n_base,
             CAST(coalesce(sum(CASE WHEN NOT is_base THEN 1 END), 0)
                  AS BIGINT) AS n_cur
      FROM (SELECT unnest(range(0, {_PSI_N_BUCKETS})) AS b) b
      LEFT JOIN binned ON binned.bucket = b.b
      GROUP BY b.b
    ), tot AS (
      SELECT CAST(sum(n_base) AS BIGINT) AS tb,
             CAST(sum(n_cur) AS BIGINT) AS tc
      FROM per_bucket
    )
    SELECT bucket, n_base, n_cur,
           CAST(floor(
             ((CAST(n_base + 1 AS DOUBLE) / (tb + {_PSI_N_BUCKETS}))
              - (CAST(n_cur + 1 AS DOUBLE) / (tc + {_PSI_N_BUCKETS})))
             * ln((CAST(n_base + 1 AS DOUBLE) / (tb + {_PSI_N_BUCKETS}))
                  / (CAST(n_cur + 1 AS DOUBLE) / (tc + {_PSI_N_BUCKETS})))
             * 100000000 + 0.5) AS BIGINT) AS psi_contrib_e8
    FROM per_bucket, tot
    """,
)
def distribution_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitoring — the standard
    ML-ops check that a feature's distribution hasn't shifted between a
    baseline window and the current one (PSI > 0.2 = retrain alarm).
    Baseline = orders before 1996-01-01, current = after; equi-width
    price buckets; Laplace-smoothed proportions ((n+1)/(N+B), so empty
    buckets never hit ln(0)) keep every input an exact integer-derived
    rational, and each bucket's (p−q)·ln(p/q) contribution is
    micro-quantized to 1e-8 — summing the 10 bucket rows reproduces
    total PSI with no accumulation-order hazard.

    100 TB shape: one full-scan aggregate to {{bucket}}×{{window}}
    counts (map-side combined, 20 cells), then constant-size
    arithmetic — drift monitoring is free at any scale. The bucket
    spine is generated, not derived, so structurally-empty buckets
    still report (a silent missing bucket is itself drift signal)."""
    o = table(spark, sf_dir, "orders")
    b = F.floor(F.col("o_totalprice") / F.lit(_PSI_BUCKET_W)).cast("bigint")
    binned = o.select(
        F.least(b, F.lit(_PSI_N_BUCKETS - 1)).alias("bucket"),
        (F.col("o_orderdate") < F.lit("1996-01-01")).alias("is_base"),
    )
    # aggregate the fact scan FIRST (map-side combinable, <=10 result
    # rows), THEN join the bucket spine to the tiny aggregate — joining
    # the spine to the raw rows would shuffle the whole table onto 10
    # join keys before any combine (r6 review finding)
    counts = binned.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_base"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_base"),
        F.sum(F.when(~F.col("is_base"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_cur"),
    )
    spine = spark.range(_PSI_N_BUCKETS).select(F.col("id").alias("bucket"))
    per_bucket = spine.join(F.broadcast(counts), "bucket", "left").select(
        "bucket",
        F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
        F.coalesce("n_cur", F.lit(0)).cast("bigint").alias("n_cur"),
    )
    tot = per_bucket.agg(
        F.sum("n_base").cast("bigint").alias("tb"),
        F.sum("n_cur").cast("bigint").alias("tc"),
    )
    nb = _PSI_N_BUCKETS
    p = (F.col("n_base") + 1).cast("double") / (F.col("tb") + nb)
    q = (F.col("n_cur") + 1).cast("double") / (F.col("tc") + nb)
    return per_bucket.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_base",
        "n_cur",
        F.floor((p - q) * F.log(p / q) * 100_000_000 + 0.5)
        .cast("bigint")
        .alias("psi_contrib_e8"),
    )


# ---- privacy: k-anonymity / l-diversity audit ----------------------------

_KANON_K = 5
_LDIV_L = 3


@register(
    "k_anonymity_audit",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                AS BIGINT) AS l_diversity,
           count(*) >= {_KANON_K} AS k_ok,
           count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
             >= {_LDIV_L} AS l_ok
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-release audit per quasi-identifier group (Sweeney 2002 /
    Machanavajjhala 2007): k-anonymity = every (nationkey, mktsegment)
    equivalence class must hold >= {K} records, l-diversity = each
    class must span >= {L} distinct sensitive values (here the
    thousand-dollar account-balance band). Groups failing either flag
    are what a release pipeline must suppress or generalize — this
    entry is the decision table that drives that, a mandatory
    pre-release step for any user-derived training corpus.

    100 TB shape: one partially-aggregated groupBy on the QI columns;
    the distinct-sensitive count is the only shuffle-heavy part and is
    a standard two-level aggregate. Output is |QI classes| rows."""
    c = table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000).cast("bigint")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.count_distinct(band).cast("bigint").alias("l_diversity"),
    )
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "k",
        "l_diversity",
        (F.col("k") >= _KANON_K).alias("k_ok"),
        (F.col("l_diversity") >= _LDIV_L).alias("l_ok"),
    )


# ---- incremental join-view maintenance -----------------------------------


@register(
    "incremental_join_view",
    oracle="""
    SELECT o.o_custkey,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
    """,
)
def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of an aggregate JOIN view (per-customer
    item count + quantity over orders⋈lineitem) under inserts to BOTH
    base tables — the delta rule V_new = V_old ⊕ agg(ΔA⋈B ∪ A⋈ΔB ∪
    ΔA⋈ΔB), the algebra under every materialized-view refresh and
    streaming join maintenance engine (DBSP/Materialize-style). The
    entry SIMULATES the increment by splitting each fixture table into
    an old snapshot and a delta batch (orders: custkey%10==0 arrives
    late; lineitem: suppkey%7==0 arrives late), runs the three delta
    joins plus the old view, and merges by summing partials. The
    oracle is the full recompute over the complete tables — equality
    IS the correctness theorem for the delta rule.

    100 TB shape: the point of the pattern — each refresh joins
    delta-sized inputs against the standing side instead of
    recomputing A⋈B; the merge is a partial-agg union (count/sum are
    abelian-group aggregates, so ⊕ is just +). The standing sides
    are localCheckpointed once; at warehouse scale they'd be the
    materialized base relations."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    o = o.localCheckpoint(eager=True)
    li = li.localCheckpoint(eager=True)
    a_old = o.filter(F.col("o_custkey") % 10 != 0)
    a_del = o.filter(F.col("o_custkey") % 10 == 0)
    b_old = li.filter(F.col("l_suppkey") % 7 != 0)
    b_del = li.filter(F.col("l_suppkey") % 7 == 0)

    def agg_join(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(b, a.o_orderkey == b.l_orderkey)
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
            )
        )

    v_old = agg_join(a_old, b_old)
    deltas = (
        agg_join(a_del, b_old)
        .unionAll(agg_join(a_old, b_del))
        .unionAll(agg_join(a_del, b_del))
    )
    return (
        v_old.unionAll(deltas)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_items").cast("bigint").alias("n_items"),
            F.sum("total_qty").cast("bigint").alias("total_qty"),
        )
    )


# ---- Benford's-law first-digit audit -------------------------------------

# log10(1 + 1/d) expectations as SHARED 17-digit literals — no log at
# query time (the SPRT constants convention)
_BENFORD_P = (
    "0.3010299956639812",
    "0.17609125905568124",
    "0.12493873660829993",
    "0.09691001300805642",
    "0.07918124604762482",
    "0.06694678963061322",
    "0.05799194697768673",
    "0.05115252244738129",
    "0.04575749056067514",
)


def _benford_oracle() -> str:
    probs = ", ".join(
        f"(CAST({d + 1} AS BIGINT), CAST({p} AS DOUBLE))"
        for d, p in enumerate(_BENFORD_P)
    )
    return f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    expect(d, p) AS (VALUES {probs}),
    obs AS (
      SELECT d, count(*) AS o FROM digits GROUP BY d
    ),
    tot AS (SELECT sum(o) AS n FROM obs)
    SELECT e.d AS digit,
           CAST(COALESCE(o.o, 0) AS BIGINT) AS observed,
           (floor(e.p * t.n * 100 + 0.5) / 100) AS expected,
           (floor((COALESCE(o.o, 0) - e.p * t.n)
                  * (COALESCE(o.o, 0) - e.p * t.n)
                  / (e.p * t.n) * 10000 + 0.5) / 10000) AS chi2_term
    FROM expect e LEFT JOIN obs o ON e.d = o.d CROSS JOIN tot t
    """


@register("benford_digit_audit", oracle=_benford_oracle())
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of order totals —
    the classic forensic-accounting / synthetic-data smell test:
    naturally-occurring amounts follow P(d) = log10(1+1/d), and the
    per-digit χ² terms localize where a generated or manipulated
    column deviates (the fixture's uniform-ish prices deviate loudly —
    the audit SHOWING that is the point). Expected frequencies are
    shared 17-digit literals, observed counts exact integers; the χ²
    terms are fixed double expression trees on both — bit-exact, no
    log at query time.

    100 TB shape: one partially-aggregated 9-group count; the
    expectation table is 9 literal rows."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("bigint")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("o"))
    expect = spark.createDataFrame(
        [(d + 1, float(p)) for d, p in enumerate(_BENFORD_P)], "d long, p double"
    )
    tot = obs.agg(F.sum("o").alias("n"))
    j = (
        expect.join(obs, "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("digit"),
            F.coalesce(F.col("o"), F.lit(0)).cast("bigint").alias("observed"),
            (F.col("p") * F.col("n")).alias("e"),
        )
    )
    return j.select(
        "digit",
        "observed",
        round_half_up(F.col("e"), 2).alias("expected"),
        round_half_up(
            (F.col("observed") - F.col("e"))
            * (F.col("observed") - F.col("e"))
            / F.col("e"),
            4,
        ).alias("chi2_term"),
    )


# ---- differential privacy: Laplace-noised release -------------------------

_DP_EPS = "1.0"  # shared literal so both engines parse the same double
_DP_U_DENOM = str(1 << 60)  # md5_long range (the poisson_bootstrap idiom)


@register(
    "dp_noisy_counts",
    ulp_sensitive=True,
    oracle=f"""
    WITH g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events
      GROUP BY event_type
    ),
    u AS (
      SELECT event_type, n,
             {duck_md5_long("'dp|' || event_type")} / {_DP_U_DENOM} AS u
      FROM g
    )
    SELECT event_type, CAST({_DP_EPS} AS DOUBLE) AS epsilon,
           (floor((n + (CASE WHEN u < 0.5 THEN 1 ELSE -1 END)
                       * ln(1 - 2 * abs(u - 0.5)) / (-{_DP_EPS}))
                  * 100 + 0.5) / 100) AS noisy_count
    FROM u
    """,
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release per event type: the
    Laplace mechanism (Dwork et al. 2006) with sensitivity 1 and
    epsilon {EPS} — noise = -sign(u-.5)*ln(1-2|u-.5|)/eps drawn by
    inverse CDF from the md5 uniform (the poisson_bootstrap_ci
    determinism idiom: identical md5 strings -> identical doubles ->
    one exact IEEE division). This is the release step a privacy
    pipeline runs AFTER k_anonymity_audit decides what may leave at
    all; a real release would drop the internal exact count — kept
    out of the output here too (epsilon + noisy value only). The one
    transcendental (ln) makes the entry ulp-flagged, same policy as
    every log-scored entry.

    100 TB shape: one partial-agg'd groupBy to the |event types| rows;
    noise is a per-GROUP scalar expression — the mechanism's cost is
    independent of corpus size by construction."""
    e = table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    u = md5_long(F.concat(F.lit("dp|"), F.col("event_type"))) / F.lit(
        float(_DP_U_DENOM)
    )
    eps = float(_DP_EPS)
    lap = (
        F.when(u < 0.5, F.lit(1)).otherwise(F.lit(-1))
        * F.log(1 - 2 * F.abs(u - 0.5))
        / F.lit(-eps)
    )
    return g.select(
        "event_type",
        F.lit(eps).alias("epsilon"),
        round_half_up(F.col("n") + lap, 2).alias("noisy_count"),
    )


# ---- equi-depth histogram (optimizer statistics) ---------------------------

_EQD_DECILES = tuple(f"0.{i}" for i in range(1, 10))


@register(
    "equi_depth_histogram",
    oracle=f"""
    WITH v AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
      FROM orders
    ),
    bs AS (
      SELECT quantile_cont(CAST(y AS DOUBLE), [{", ".join(_EQD_DECILES)}])
               AS b
      FROM v
    ),
    binned AS (
      SELECT y,
             CAST(len(list_filter(bs.b, x -> CAST(y AS DOUBLE) >= x))
                  AS BIGINT) AS bucket
      FROM v, bs
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(y) AS BIGINT) AS min_cents,
           CAST(max(y) AS BIGINT) AS max_cents
    FROM binned GROUP BY bucket
    """,
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram of order totals — the
    statistic a cost-based optimizer's ANALYZE computes for selectivity
    estimation, and the right histogram for skewed money columns
    (width_bucket_histogram's fixed bins starve where mass
    concentrates; depth bins adapt). Bucket membership counts the
    decile boundaries <= y via an array fold, so a row's bin is a pure
    expression of the broadcast boundary list; near-equal n_rows
    across buckets IS the equi-depth property (exact equality is
    impossible with value ties — the min/max columns expose the actual
    bin edges).

    100 TB shape: one percentile pass (t-digest at corpus scale — the
    agg_percentiles note), one classify-and-count pass with the 9
    boundaries broadcast; both partial-agg map-side."""
    o = table(spark, sf_dir, "orders")
    v = o.select(
        exact_round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("y")
    ).localCheckpoint(eager=True)  # consumers: boundaries + classify pass
    pcts = F.array(*[F.lit(float(q)) for q in _EQD_DECILES])
    bs = v.agg(F.percentile(F.col("y").cast("double"), pcts).alias("b"))
    bucket = F.aggregate(
        F.col("b"),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc
        + F.when(F.col("y").cast("double") >= x, F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    binned = v.crossJoin(F.broadcast(bs)).select(
        "y", bucket.alias("bucket")
    )
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("y").cast("bigint").alias("min_cents"),
        F.max("y").cast("bigint").alias("max_cents"),
    )


# ---- order-invariant partition checksums ---------------------------------

_CKSUM_BUCKETS = 64


@register(
    "merkle_partition_checksums",
    oracle=f"""
    WITH h AS (
      SELECT o_orderkey % {_CKSUM_BUCKETS} AS bucket,
             {duck_md5_long(
                 "CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' || "
                 "CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)"
             )} AS rh
      FROM orders
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(rh) AS BIGINT) AS checksum
    FROM h GROUP BY bucket
    """,
)
def merkle_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant per-bucket table checksums — the reconciliation
    primitive behind anti-entropy / replica-diff protocols (and the
    cheap way to answer "did this 100 TB copy drift?" without moving
    rows): each row hashes its canonical serialization (key, status,
    exact cents) to 60 portable md5 bits, buckets fold them with XOR —
    commutative and associative, so partial results merge in ANY order
    and ANY partitioning, which is precisely why XOR (not sum, which
    overflows, and not a hash of a sorted list, which needs a sort) is
    the right fold. Two mismatched buckets localize a diff to 1/64 of
    the keyspace; recursing on a mismatched bucket is the Merkle
    descent.

    100 TB shape: one scan, map-side XOR partials, a 64-row shuffle.
    Verification of a replica costs a second scan THERE plus
    exchanging 64 rows — never row shipping."""
    o = table(spark, sf_dir, "orders")
    rh = md5_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .cast("string"),
        )
    )
    return (
        o.select(
            (F.col("o_orderkey") % _CKSUM_BUCKETS).alias("bucket"),
            rh.alias("rh"),
        )
        .groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.bit_xor("rh").cast("bigint").alias("checksum"),
        )
    )


# ---- right-to-erasure cascade audit --------------------------------------

_ERASE_PCT = 5  # md5-bucket percentage of users selected for erasure


@register(
    "right_to_erasure_cascade",
    oracle=f"""
    WITH victims AS (
      SELECT c_custkey AS k FROM customer
      WHERE {duck_md5_long("CAST(c_custkey AS VARCHAR)")} % 100 < {_ERASE_PCT}
    ),
    o_del AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT k FROM victims)
    )
    SELECT 'customer' AS tbl,
           CAST((SELECT count(*) FROM victims) AS BIGINT) AS n_delete,
           CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_total
    UNION ALL
    SELECT 'orders',
           CAST((SELECT count(*) FROM o_del) AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_orderkey IN (SELECT o_orderkey FROM o_del))
                AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'events',
           CAST((SELECT count(*) FROM events
                 WHERE user_id IN (SELECT k FROM victims)) AS BIGINT),
           CAST((SELECT count(*) FROM events) AS BIGINT)
    """,
)
def right_to_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure (GDPR Art. 17) impact audit: given a
    deterministic cohort of data subjects (md5-bucketed 5% of
    customers), count the rows each table must delete when the
    deletion CASCADES through the schema's foreign keys — customer →
    orders → lineitem directly, plus the behavioral events stream by
    user id. This is the pre-flight report a compliance pipeline
    produces before issuing the actual deletes (and its row counts
    are the acceptance test afterwards); the oracle's IN-subquery
    formulation and the engine's semi-joins must agree exactly.

    100 TB shape: the victim set is customer-scale but tiny after the
    bucket filter — broadcast semi-joins down the cascade; the
    lineitem leg semi-joins against the deleted-orders keys, which at
    worst falls back to a shuffled semi-join on orderkey. One scan
    per audited table, no row ever moves — only counts."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    e = table(spark, sf_dir, "events")
    # the victim set feeds 3 legs and o_del feeds 2 (its own count +
    # the lineitem semi-join) — pin both so the cascade costs one scan
    # per audited table instead of re-running the upstream subtree per
    # consumer (the test_plan_budget multi-consumer class)
    victims = (
        c.filter(
            md5_long(F.col("c_custkey").cast("string")) % 100 < _ERASE_PCT
        )
        .select(F.col("c_custkey").alias("k"))
        .localCheckpoint(eager=True)
    )
    o_del = (
        o.join(
            F.broadcast(victims), o["o_custkey"] == victims["k"], "left_semi"
        )
        .select("o_orderkey")
        .localCheckpoint(eager=True)
    )
    li_del = li.join(
        o_del, li["l_orderkey"] == o_del["o_orderkey"], "left_semi"
    )
    e_del = e.join(
        F.broadcast(victims), e["user_id"] == victims["k"], "left_semi"
    )

    def row(tbl: str, deleted: DataFrame, total: DataFrame) -> DataFrame:
        return deleted.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_delete")
        ).crossJoin(
            F.broadcast(
                total.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
            )
        ).select(F.lit(tbl).alias("tbl"), "n_delete", "n_total")

    return (
        row("customer", victims, c)
        .unionAll(row("orders", o_del, o))
        .unionAll(row("lineitem", li_del, li))
        .unionAll(row("events", e_del, e))
    )


# ---- replica drift repair plan --------------------------------------------


@register(
    "replica_drift_repair_plan",
    oracle=f"""
    WITH replica AS (
      -- simulated drifted copy: 2%% of rows lost in transfer, 1%%
      -- corrupted (status flipped) — md5-bucketed so both engines
      -- build the identical replica
      SELECT o_orderkey,
             CASE WHEN {duck_md5_long("'corrupt|' || CAST(o_orderkey AS VARCHAR)")}
                       % 100 < 1
                  THEN 'X' ELSE o_orderstatus END AS o_orderstatus
      FROM orders
      WHERE {duck_md5_long("'drop|' || CAST(o_orderkey AS VARCHAR)")} % 100 >= 2
    ),
    j AS (
      SELECT p.o_orderkey AS pk, r.o_orderkey AS rk,
             p.o_orderstatus AS ps, r.o_orderstatus AS rs
      FROM orders p FULL JOIN replica r ON p.o_orderkey = r.o_orderkey
    )
    SELECT CAST(coalesce(pk, rk) % {_CKSUM_BUCKETS} AS BIGINT) AS bucket,
           CAST(sum(CASE WHEN rk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing,
           CAST(sum(CASE WHEN pk IS NOT NULL AND rk IS NOT NULL
                              AND ps <> rs THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupt,
           CAST(count(*) AS BIGINT) AS n_keys
    FROM j GROUP BY 1
    HAVING sum(CASE WHEN rk IS NULL THEN 1 ELSE 0 END)
           + sum(CASE WHEN pk IS NOT NULL AND rk IS NOT NULL
                           AND ps <> rs THEN 1 ELSE 0 END) > 0
    """,
)
def replica_drift_repair_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reconciliation step AFTER merkle_partition_checksums flags
    mismatched buckets: diff the primary against a drifted replica
    (deterministically simulated — 2% of rows dropped, 1% status-
    corrupted, both md5-bucketed) and emit the per-bucket repair plan:
    how many keys to re-ship (missing) and how many to overwrite
    (corrupt), only for buckets that actually need repair. Full outer
    join on the key is the exhaustive form; in production it runs only
    over the buckets the checksum pass flagged — 1/64th of the
    keyspace per flagged bucket, which is the whole point of the
    two-phase protocol.

    100 TB shape: one co-partitioned full join on the primary key
    (both sides cluster by it on disk in a real lake), counts fold
    map-side; the HAVING keeps the output at |damaged buckets|."""
    o = table(spark, sf_dir, "orders")
    keep = (
        md5_long(
            F.concat(F.lit("drop|"), F.col("o_orderkey").cast("string"))
        )
        % 100
        >= 2
    )
    corrupt = (
        md5_long(
            F.concat(F.lit("corrupt|"), F.col("o_orderkey").cast("string"))
        )
        % 100
        < 1
    )
    replica = o.filter(keep).select(
        F.col("o_orderkey").alias("rk"),
        F.when(corrupt, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("rs"),
    )
    primary = o.select(
        F.col("o_orderkey").alias("pk"), F.col("o_orderstatus").alias("ps")
    )
    j = primary.join(replica, primary["pk"] == replica["rk"], "full_outer")
    missing = F.sum(F.when(F.col("rk").isNull(), 1).otherwise(0))
    corrupted = F.sum(
        F.when(
            F.col("pk").isNotNull()
            & F.col("rk").isNotNull()
            & (F.col("ps") != F.col("rs")),
            1,
        ).otherwise(0)
    )
    return (
        j.groupBy(
            (F.coalesce("pk", "rk") % _CKSUM_BUCKETS)
            .cast("bigint")
            .alias("bucket")
        )
        .agg(
            missing.cast("bigint").alias("n_missing"),
            corrupted.cast("bigint").alias("n_corrupt"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        )
        .filter(F.col("n_missing") + F.col("n_corrupt") > 0)
    )


# ---- sorted-write layout rewrite (r08) ------------------------------------
#
# The r07 sf1 cardinality audit found the one genuine key-growth effect
# at scale: 10x distinct orderkey/partkey values defeat parquet
# dictionary encoding (each row group sees ~the whole key space, the
# dictionary page overflows, the writer falls back to PLAIN) and q1/q9
# per-row scan cost rises ~1.6x (SCALE_NOTES "sf1 audit results"). The
# remedy is a storage-layout rewrite, not a plan change: range-
# repartition + sort-within-partitions on the hot key columns so each
# row group holds a narrow key range and dictionary/RLE density comes
# back. This entry executes that rewrite and pins its LOSSLESSNESS with
# an oracle (identical fidelity aggregates from both layouts); the
# scan-rate recovery itself is measured by bench.py's layout section at
# sf1, where the effect exists (BENCH_r08 "layout").

_LAYOUT_PARTS = 4


@register(
    "sorted_write_layout",
    oracle="""
    WITH agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orderkeys,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS price_cents,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem
    )
    SELECT 'arrival' AS layout, n, n_orderkeys, price_cents, total_qty
    FROM agg
    UNION ALL
    SELECT 'sorted', n, n_orderkeys, price_cents, total_qty FROM agg
    """,
)
def sorted_write_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-by-key parquet rewrite (the OPTIMIZE ZORDER/SORT BY analog):
    stage lineitem in its arrival layout AND key-sorted via
    ``repartitionByRange(l_shipdate, l_orderkey)`` +
    ``sortWithinPartitions`` — the idiom that keeps per-row-group key
    ranges narrow so dictionary/RLE encoding survives key-space growth
    (delta-encodable monotone runs, prunable min/max page stats on the
    q1 shipdate predicate). Reads BOTH layouts back and returns one
    fidelity-aggregate row per layout; the oracle computes the same
    aggregates from the original table twice, so any row lost,
    duplicated or mangled by the rewrite goes hash-red.

    100 TB shape: the rewrite is a one-range-shuffle batch job over the
    hot table (exactly how Delta/Iceberg implement OPTIMIZE SORT BY);
    reads stay partition-parallel. Scan-cost recovery is measured in
    bench.py at sf1 (real 10x key growth) rather than asserted here —
    the sf0.01 fixture's key space never overflows a dictionary page,
    so the effect only exists at scale. Stages in ``staged_dir``."""
    import os

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_quantity",
        "l_extendedprice",
        "l_shipdate",
    )
    with staged_dir(sf_dir, "sortlayout") as root:
        arrival_dir = os.path.join(root, "arrival")
        sorted_dir = os.path.join(root, "sorted")
        li.write.mode("overwrite").parquet(arrival_dir)
        (
            li.repartitionByRange(_LAYOUT_PARTS, "l_shipdate", "l_orderkey")
            .sortWithinPartitions("l_shipdate", "l_orderkey")
            .write.mode("overwrite")
            .parquet(sorted_dir)
        )
        snaps = {
            name: spark.read.parquet(path).localCheckpoint(eager=True)
            for name, path in (
                ("arrival", arrival_dir),
                ("sorted", sorted_dir),
            )
        }

    def fidelity(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count_distinct("l_orderkey").cast("bigint").alias(
                "n_orderkeys"
            ),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("price_cents"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("total_qty"),
        ).select(
            F.lit(name).alias("layout"),
            "n",
            "n_orderkeys",
            "price_cents",
            "total_qty",
        )

    return fidelity("arrival", snaps["arrival"]).unionAll(
        fidelity("sorted", snaps["sorted"])
    )
