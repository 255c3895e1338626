"""Advanced relational surface: exact percentiles, moment statistics,
pivot/unpivot, min_by/max_by, distribution window functions, range
frames, array functions, IN-subqueries, sampling/approximate ops, and
the (deliberately cold-path) Python UDF bridge.

Numeric determinism notes:
* percentile: Spark's exact `percentile` and DuckDB's `quantile_cont`
  share the linear-interpolation definition; inputs are doubles, the
  interpolation arithmetic is IEEE on both sides, rounded to 6.
* stddev/variance: never the built-in double implementations (their
  accumulation order is shuffle-dependent) — computed from exact
  decimal sums of x and x², which stay associative at any scale.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves string type hints here
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.functions.ordering import (
    event_time_order,
)
from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.numerics import in_grid_domain
from tiny_etl_multiproc_bigdata_spark.functions.timedomain import (
    epoch_us_ntz,
    in_obs_window,
    obs_window_sql,
)
from tiny_etl_multiproc_bigdata_spark.functions.hashing import (
    duck_md5_long,
    stable_token_hash,
)
from tiny_etl_multiproc_bigdata_spark.functions.rounding import (
    exact_round,
    duck_round,
    round_half_up,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import register


@register(
    "agg_percentiles",
    oracle="""
    SELECT o_orderstatus,
           (floor(quantile_cont(o_totalprice, 0.5) * 10000 + 0.5) / 10000)  AS p50,
           (floor(quantile_cont(o_totalprice, 0.9) * 10000 + 0.5) / 10000)  AS p90,
           (floor(quantile_cont(o_totalprice, 0.99) * 10000 + 0.5) / 10000) AS p99
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles. At 100 TB you'd reach for
    approx_percentile (t-digest, mergeable, one pass) — registered
    separately as a rows-only entry since approximation defies an exact
    oracle."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        round_half_up(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        round_half_up(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        round_half_up(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


@register(
    "agg_moment_stats",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE)        AS sx,
             CAST(sum(CAST(l_quantity AS DECIMAL(30,4))
                      * CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE)      AS sxx
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (floor(sx / n * 1000000 + 0.5) / 1000000)          AS mean_qty,
           (floor((sxx - sx * sx / n) / (n - 1) * 1000000 + 0.5) / 1000000) AS var_qty,
           (floor(sqrt((sxx - sx * sx / n) / (n - 1)) * 1000000 + 0.5) / 1000000) AS stddev_qty
    FROM s
    """,
)
def agg_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/variance/stddev from exact decimal power sums — the
    shuffle-order-independent formulation (built-in stddev accumulates
    doubles in partition order and is not bitwise reproducible)."""
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(30,4)")
    grouped = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(q * q).cast("double").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    var = (sxx - sx * sx / n) / (n - F.lit(1))
    return grouped.select(
        "l_returnflag",
        "n",
        round_half_up(sx / n, 6).alias("mean_qty"),
        round_half_up(var, 6).alias("var_qty"),
        round_half_up(F.sqrt(var), 6).alias("stddev_qty"),
    )


@register(
    "agg_correlation",
    oracle="""
    WITH s AS (
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE)          AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)     AS sy,
             CAST(sum(CAST(l_quantity AS DECIMAL(30,4))
                      * CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE)        AS sxx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))
                      * CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)   AS syy,
             CAST(sum(CAST(l_quantity AS DECIMAL(30,4))
                      * CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)   AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           (floor((n * sxy - sx * sy)
                  / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                  * 1000000 + 0.5) / 1000000) AS corr_qty_price
    FROM s
    """,
)
def agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact decimal power sums (same
    shuffle-order-independence rationale as agg_moment_stats; the
    built-in corr accumulates doubles non-deterministically)."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(30,4)")
    y = F.col("l_extendedprice").cast("decimal(30,4)")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "syy", "sxy"))
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return s.select("l_returnflag", round_half_up(corr, 6).alias("corr_qty_price"))


@register(
    "agg_min_by_max_by",
    oracle="""
    SELECT o_orderstatus,
           min_by(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 100000000
                              + o_orderkey) AS cheapest_order,
           max_by(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 100000000
                              + o_orderkey) AS priciest_order
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_min_by_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmin/argmax. The ordering key packs (cents, orderkey) into one
    BIGINT: ties on price resolve by key, deterministically in both
    engines (DuckDB's min_by can't order by a struct)."""
    o = table(spark, sf_dir, "orders")
    key = (
        exact_round(F.col("o_totalprice") * 100).cast("bigint") * F.lit(100000000)
        + F.col("o_orderkey")
    )
    return o.groupBy("o_orderstatus").agg(
        F.min_by("o_orderkey", key).alias("cheapest_order"),
        F.max_by("o_orderkey", key).alias("priciest_order"),
    )


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never the inferred form at
    scale — value inference is an extra distinct job over the fact
    table)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))  # pivot rejects the '*' star form
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("status_f"),
            F.coalesce("O", F.lit(0)).alias("status_o"),
            F.coalesce("P", F.lit(0)).alias("status_p"),
        )
    )


@register(
    "unpivot_part_measures",
    oracle="""
    SELECT p_partkey, measure, round(value, 4) AS value
    FROM (
      SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
      UNION ALL
      SELECT p_partkey, 'retailprice', p_retailprice FROM part
    )
    """,
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long): Spark's native unpivot/melt."""
    p = table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").alias("retailprice"),
        )
        .unpivot("p_partkey", ["size", "retailprice"], "measure", "value")
        .select("p_partkey", "measure", exact_round("value", 4).alias("value"))
    )


@register(
    "window_distribution_fns",
    oracle="""
    SELECT o_orderkey,
           ntile(4)       OVER w AS quartile,
           (floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000) AS pct_rank,
           (floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000) AS cume
    FROM orders
    WHERE o_totalprice > 97000
    WINDOW w AS (ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def window_distribution_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist over a fully-tiebroken global
    order, WITHOUT a global single-task window (r03: the naive
    ``Window.orderBy`` funnels every row through one sort task). The
    scale-safe two-pass global rank: pass 1 runs approx_percentile for
    7 octile boundaries of the sort value and collects them AT PLAN
    CONSTRUCTION into literals (7 doubles — scale-independent driver
    traffic, the kmeans-centroid pattern; exact percentile would
    buffer every distinct value in one merge task at 100 TB, and a
    non-literal boundary subtree could re-evaluate differently in the
    two consuming branches). Every row is assigned its CHUNK by
    comparing against the literal boundaries (ties share a chunk,
    ``>=`` sends boundary rows up) — nothing pinned, no
    localCheckpoint, no spark_partition_id, no AQE hazard. Boundary
    skew from the approximation only shifts chunk sizes, never ranks:
    rank arithmetic uses actual counts. Chunk counts become cumulative
    offsets (a window over 8 rows), and
    rank = broadcast offset + within-chunk row_number. The three
    distribution functions are then pure expressions of (rank, N) —
    exact because the (o_totalprice, o_orderkey) sort tuple is unique,
    so there are no peer groups: percent_rank = (rank-1)/(N-1),
    cume_dist = rank/N, and ntile(4) follows Spark/DuckDB's shared
    first-buckets-get-the-remainder rule."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 97000)
        .select("o_orderkey", "o_totalprice")
    )
    octiles = ", ".join(str(i / 8) for i in range(1, 8))
    bounds = (
        o.agg(
            F.expr(
                f"approx_percentile(o_totalprice, array({octiles}), 10000)"
            ).alias("qs")
        )
        .collect()[0]
        .qs
        # empty input: approx_percentile returns NULL, not [] — with no
        # boundaries every (nonexistent) row lands in chunk 0 and the
        # output is empty like the oracle's (r11 empty-input audit)
        or []
    )
    chunk = F.lit(0)
    for b in bounds:
        chunk = chunk + F.when(F.col("o_totalprice") >= F.lit(b), 1).otherwise(0)
    chunked = o.select("o_orderkey", "o_totalprice", chunk.alias("chunk"))
    counts = chunked.groupBy("chunk").agg(F.count(F.lit(1)).alias("cnt"))
    # Window over the per-chunk counts only — bounded by 8 rows, never
    # by data volume, so the unpartitioned frame is safe.
    wo = Window.orderBy("chunk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "chunk",
        F.coalesce(F.sum("cnt").over(wo), F.lit(0)).alias("offset"),
        F.sum("cnt").over(
            Window.orderBy("chunk").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_total"),
    )
    wp = Window.partitionBy("chunk").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    ranked = (
        chunked.withColumn("rn", F.row_number().over(wp))
        .join(F.broadcast(offsets), "chunk")
        .select(
            "o_orderkey",
            (F.col("offset") + F.col("rn")).alias("rank"),
            F.col("n_total").alias("n"),
        )
    )
    base = (F.col("n") / 4).cast("bigint")
    rem = F.col("n") % 4
    in_big = F.col("rank") <= rem * (base + 1)
    quartile = (
        F.when(in_big, ((F.col("rank") - 1) / (base + 1)).cast("bigint") + 1)
        .otherwise(
            rem + ((F.col("rank") - rem * (base + 1) - 1) / base).cast("bigint") + 1
        )
        .cast("int")
    )
    pct = F.when(
        F.col("n") > 1, (F.col("rank") - 1) / (F.col("n") - 1)
    ).otherwise(F.lit(0.0))
    return ranked.select(
        "o_orderkey",
        quartile.alias("quartile"),
        round_half_up(pct, 6).alias("pct_rank"),
        round_half_up(F.col("rank") / F.col("n"), 6).alias("cume"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           count(*) OVER (PARTITION BY o_custkey
                          ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
                          RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
             AS orders_trailing_7d
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event-time seconds: trailing-7-day order count
    per customer — the sliding-window aggregate shape."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-604800, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).alias("orders_trailing_7d"),
    )


@register(
    "array_functions",
    oracle=f"""
    SELECT vec_id,
           {duck_round("list_max(embedding::DOUBLE[])", 4)}  AS max_component,
           {duck_round("list_min(embedding::DOUBLE[])", 4)}  AS min_component,
           len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS n_positive,
           {duck_round("embedding[1]::DOUBLE", 4)}           AS first_component
    FROM embeddings WHERE vec_id < 100
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface over the embedding column: min/max,
    lambda filter, positional access — all JVM-side. Components are
    arbitrary float32 (not exact at scale 4), so rounding uses the
    engine-portable half-up formula, not built-in round() — the r07
    rounding-sweep convention (functions/rounding.py)."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    emb = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        round_half_up(F.array_max(emb), 4).alias("max_component"),
        round_half_up(F.array_min(emb), 4).alias("min_component"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_positive"),
        round_half_up(F.element_at(emb, 1), 4).alias("first_component"),
    )


@register(
    "in_subquery_filter",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
      AND o_totalprice > 95000
    """,
)
def in_subquery_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery predicate — planned as a broadcast left-semi join."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_in_orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView("_in_customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey FROM _in_orders
        WHERE o_custkey IN (SELECT c_custkey FROM _in_customer
                            WHERE c_mktsegment = 'MACHINERY')
          AND o_totalprice > 95000
        """
    )


@register("approx_count_distinct_hll", oracle=None)
def approx_count_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimation (rows-only check: the estimate
    is engine-specific by nature). The scale workhorse: one pass,
    mergeable sketches, no expand like exact COUNT(DISTINCT)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers")
    )


@register("approx_percentile_tdigest", oracle=None)
def approx_percentile_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (rows-only): the mergeable one-pass
    sketch used instead of exact percentile at scale."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(1000)).alias("p50_approx")
    )


@register("table_sample", oracle=None)
def table_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sampling (rows-only: row pick is engine-RNG
    specific). Sampling is partition-local — no shuffle."""
    li = table(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).select("l_orderkey", "l_linenumber")


@register(
    "udf_pandas_bridge",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT)    AS n_chars_udf,
           upper(substr(text, 1, 8))       AS head_upper
    FROM documents WHERE doc_id < 200
    """,
)
def udf_pandas_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python-extension escape hatch (reference §2.9: arbitrary
    callables are its only extension mechanism). Arrow-batched pandas
    UDF — never row-at-a-time — and deliberately NOT used by any other
    operator in this engine: everything else stays JVM-side. Defined as
    a local closure so it pickles by value (workers don't import this
    package)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def n_chars(s: pd.Series) -> pd.Series:
        return s.str.len().astype("int64")

    @pandas_udf("string")
    def head_upper(s: pd.Series) -> pd.Series:
        return s.str.slice(0, 8).str.upper()

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        n_chars("text").alias("n_chars_udf"),
        head_upper("text").alias("head_upper"),
    )


@register("hll_sketch_partition_merge", oracle=None)
def hll_sketch_partition_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Spark 3.5+ Datasketches surface):
    per-status sketches materialize as BINARY columns, then
    hll_union_agg folds them into a corpus-wide estimate WITHOUT
    touching the raw data again — the re-aggregatable-rollup primitive
    behind pre-aggregated cubes at 100 TB (store one sketch per
    partition/day/segment; any coarser rollup is a cheap union of
    sketch bytes, never a re-scan). Rows-only at the driver (the
    estimate is engine-specific by nature, like approx_count_distinct);
    tests/test_sketch_invariants.py pins the merged estimate within
    the documented error bound of exact COUNT(DISTINCT) and pins
    determinism across runs. Output: one row per status plus the
    sketch-merged ALL row."""
    o = table(spark, sf_dir, "orders")
    per = o.groupBy("o_orderstatus").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    by_status = per.select(
        F.col("o_orderstatus").alias("scope"),
        F.hll_sketch_estimate("sk").alias("approx_customers"),
    )
    merged = per.agg(
        F.lit("ALL").alias("scope"),
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias(
            "approx_customers"
        ),
    )
    return by_status.unionByName(merged)


# agg_listagg_ordered refuses to run when any group's concatenated
# payload would exceed this many bytes: the whole group's string is
# materialized on ONE executor, so an unbounded group is an OOM, not a
# slow query. 64 MiB is far below executor memory but far above any
# sane report cell. Same hard-guard pattern as _COSINE_BLOCK_CAP
# (VERDICT r05 item 7; raising path covered in tests/test_operators.py).
_LISTAGG_PAYLOAD_CAP = 64 * 2**20


@register(
    "agg_listagg_ordered",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name ASC) AS nations,
           count(*) AS n
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — Spark 4's listagg WITHIN GROUP
    against DuckDB's string_agg ORDER BY: the denormalization shape
    every report/export pipeline needs (ids-per-group as one cell).
    The WITHIN GROUP ordering makes the concatenation deterministic
    under any partitioning — an unordered listagg would be
    shuffle-order-dependent and hash-flaky by construction.

    Hard guard: before aggregating, the largest group's summed payload
    (value bytes + separators) is measured distributed; above
    ``_LISTAGG_PAYLOAD_CAP`` this RAISES with a pointer to the
    collect_set + explode path instead of OOMing the one executor that
    would own the giant string — a giant group is a modeling error,
    not a capacity problem."""
    n = table(spark, sf_dir, "nation")
    biggest = (
        n.groupBy("n_regionkey")
        .agg((F.sum(F.length("n_name")) + F.count("*")).alias("payload"))
        .agg(F.max("payload"))
        .first()[0]
        or 0
    )
    if biggest > _LISTAGG_PAYLOAD_CAP:
        raise ValueError(
            f"agg_listagg_ordered: largest group would concatenate "
            f"~{biggest} bytes on a single executor (cap "
            f"{_LISTAGG_PAYLOAD_CAP}). listagg materializes the whole "
            "group in one cell; keep groups bounded or switch to "
            "collect_set + explode (array stays chunked/columnar) for "
            "unbounded groups."
        )
    return n.groupBy("n_regionkey").agg(
        F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name ASC)").alias(
            "nations"
        ),
        F.count("*").alias("n"),
    )


@register(
    "try_arithmetic_suite",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_custkey % 10 = 0 THEN NULL
                ELSE (floor(o_totalprice / (o_custkey % 10) * 10000 + 0.5)
                      / 10000) END AS price_per_bucket,
           TRY_CAST(o_orderpriority AS BIGINT) AS prio_num,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS prio_digit
    FROM orders
    WHERE o_orderkey < 1000
    """,
)
def try_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface: try_divide and try_cast return
    NULL instead of raising under ANSI mode — the ingestion-hardening
    primitives (one malformed row must not kill a 100 TB job; the
    NULLs flow to a quarantine filter instead). The oracle spells the
    same semantics as CASE/TRY_CAST; quotient values go through the
    portable half-up rounding so the divide path is hash-comparable."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        round_half_up(
            F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 10), 4
        ).alias("price_per_bucket"),
        F.expr("try_cast(o_orderpriority AS BIGINT)").alias("prio_num"),
        F.expr(
            "try_cast(substr(o_orderpriority, 1, 1) AS BIGINT)"
        ).alias("prio_digit"),
    )


@register(
    "bitmap_distinct_counts",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events
    GROUP BY event_type
    """,
)
def bitmap_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregation (Spark 3.5+
    bitmap_construct_agg / bitmap_count — the roaring-bitmap-style
    primitive): ids map to (bucket, bit-position), per-(group, bucket)
    bitmaps OR together map-side, and the final count is a popcount sum.
    The oracle is plain count(DISTINCT) — bitmaps are a physical
    acceleration, never a semantic change.

    100 TB shape: this is the materialized-distinct-count recipe that
    beats both count_distinct (shuffles every distinct id) and HLL
    (approximate): per-bucket bitmaps are FIXED-SIZE (4 KB per 32k-id
    bucket) mergeable states, so the shuffle moves bounded bitmap
    blobs instead of raw ids, and — like the HLL sketch entry's
    rollups — stored per-partition bitmaps re-aggregate without
    re-scanning history, but exactly."""
    e = table(spark, sf_dir, "events")
    e.createOrReplaceTempView("_bitmap_events")
    return spark.sql(
        """
        SELECT event_type, CAST(sum(cnt) AS BIGINT) AS distinct_users
        FROM (
          SELECT event_type,
                 bitmap_count(bitmap_construct_agg(
                   bitmap_bit_position(user_id))) AS cnt
          FROM _bitmap_events
          GROUP BY event_type, bitmap_bucket_number(user_id)
        )
        GROUP BY event_type
        """
    )


_DD_GAMMA = 1.02  # DDSketch relative-accuracy parameter (~2%)
_DD_OFF = 100_000  # positive shift for floor-division of negative log buckets


@register(
    "ddsketch_quantiles",
    ulp_sensitive=True,
    oracle=f"""
    WITH pos AS (
      SELECT event_type, value,
             CAST(floor(ln(value) * 1000000 + 0.5) AS BIGINT) AS lq,
             CAST(floor(ln({_DD_GAMMA}) * 1000000 + 0.5) AS BIGINT) AS g
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events WHERE value > 0
    ), b AS (
      SELECT event_type,
             CAST(floor((lq + {_DD_OFF} * g) / g) AS BIGINT) - {_DD_OFF}
               AS bucket
      FROM pos
    ), counts AS (
      SELECT event_type, bucket, count(*) AS c
      FROM b GROUP BY event_type, bucket
    ), cum AS (
      SELECT event_type, bucket, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY bucket ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cc,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM counts
    ), picks AS (
      SELECT event_type, max(n) AS n,
             min(CASE WHEN cc >= (n + 1) // 2 THEN bucket END)      AS b50,
             min(CASE WHEN cc >= (9 * n + 9) // 10 THEN bucket END) AS b90,
             min(CASE WHEN cc >= (99 * n + 99) // 100 THEN bucket END) AS b99
      FROM cum GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT)   AS n,
           CAST(b50 AS BIGINT) AS b50,
           CAST(b90 AS BIGINT) AS b90,
           CAST(b99 AS BIGINT) AS b99,
           (floor(power({_DD_GAMMA}, b50 + 1) * 2 / (1 + {_DD_GAMMA}) * 10000
                  + 0.5) / 10000) AS q50_est,
           (floor(power({_DD_GAMMA}, b90 + 1) * 2 / (1 + {_DD_GAMMA}) * 10000
                  + 0.5) / 10000) AS q90_est,
           (floor(power({_DD_GAMMA}, b99 + 1) * 2 / (1 + {_DD_GAMMA}) * 10000
                  + 0.5) / 10000) AS q99_est
    FROM picks
    """,
)
def ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch-style relative-error quantiles (q50/q90/q99 per event
    type): log-γ bucket counts with γ = 1.02, quantiles read off the
    cumulative bucket histogram, per-bucket estimate 2γ^b/(1+γ) —
    relative error ≤ (γ−1)/(γ+1) ≈ 1% by construction.

    Unlike the t-digest entry (rows-only: its centroids are
    merge-order-dependent), DDSketch buckets are DETERMINISTIC — so
    this sketch carries a full value-hash oracle while still being
    mergeable: bucket counts are plain partial sums, so per-partition
    (or per-day) sketches re-aggregate by addition without re-scanning,
    the property that makes it the production quantile sketch at
    100 TB (one map-side-combined agg over ~500 buckets per group, a
    tiny window over bucket counts, nothing driver-side).

    Cross-engine exactness: ln(value) and ln(γ) are micro-quantized to
    integers BEFORE the bucket division (ulp_sensitive); the division
    runs on positive-shifted integers so floor() agrees across the
    engines' truncate-vs-floor semantics; quantile thresholds
    ceil(q·n) are pure integer arithmetic; the final γ^b estimate is
    one power() per group-bucket, quantized by the portable floor
    form."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value"))).filter(F.col("value") > 0)
    lq = F.floor(F.log(F.col("value")) * 1_000_000 + 0.5).cast("bigint")
    g = F.floor(F.log(F.lit(float(_DD_GAMMA))) * 1_000_000 + 0.5).cast(
        "bigint"
    )
    bucket = (
        F.floor((lq + F.lit(_DD_OFF).cast("bigint") * g) / g)
        .cast("bigint")
        - F.lit(_DD_OFF)
    ).alias("bucket")
    counts = e.select("event_type", bucket).groupBy(
        "event_type", "bucket"
    ).agg(F.count("*").alias("c"))
    wc = (
        Window.partitionBy("event_type")
        .orderBy(F.asc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    cum = counts.select(
        "event_type",
        "bucket",
        F.sum("c").over(wc).alias("cc"),
        F.sum("c").over(wn).alias("n"),
    )
    n = F.col("n")

    def pick(thresh):
        return F.min(F.when(F.col("cc") >= thresh, F.col("bucket")))

    picks = cum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        pick(F.floor((n + 1) / 2).cast("bigint")).alias("b50"),
        pick(F.floor((9 * n + 9) / 10).cast("bigint")).alias("b90"),
        pick(F.floor((99 * n + 99) / 100).cast("bigint")).alias("b99"),
    )

    def est(bcol):
        # floor-convention bucket b covers [γ^b, γ^(b+1)) — the matching
        # midpoint estimator is 2γ^(b+1)/(1+γ) (the ceil-convention
        # DDSketch paper form shifted by one)
        return F.floor(
            F.pow(F.lit(float(_DD_GAMMA)), bcol + F.lit(1))
            * 2
            / (1 + _DD_GAMMA)
            * 10_000
            + 0.5
        ) / 10_000

    return picks.select(
        "event_type",
        "n",
        F.col("b50").cast("bigint").alias("b50"),
        F.col("b90").cast("bigint").alias("b90"),
        F.col("b99").cast("bigint").alias("b99"),
        est(F.col("b50")).alias("q50_est"),
        est(F.col("b90")).alias("q90_est"),
        est(F.col("b99")).alias("q99_est"),
    )


# ---- grouped OLS trend regression ----------------------------------------

_OLS_EPOCH = "2024-01-01"  # x origin: keeps day indices 0..~60, sums tiny


@register(
    "grouped_ols_trend",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '{_OLS_EPOCH}' AS BIGINT) AS x,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM (SELECT * FROM events WHERE (value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) AND {obs_window_sql()}) events GROUP BY event_type, CAST(ts AS DATE)
    ),
    s AS (
      SELECT event_type,
             count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM daily GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           (floor(CAST(n * sxy - sx * sy AS DOUBLE)
                  / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0)
                  * 10000 + 0.5) / 10000)
             AS slope_cents_per_day,
           (floor(CAST(sy * sxx - sx * sxy AS DOUBLE)
                  / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0)
                  * 100 + 0.5) / 100)
             AS intercept_cents
    FROM s
    """,
)
def grouped_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares trend: regress daily revenue
    (integer cents) on the day index for each event_type — the
    workhorse "is this metric drifting" query. Slope and intercept are
    each ONE division of two exact integer cross-sums (n·Σxy − Σx·Σy
    over n·Σx² − (Σx)², closed-form OLS), so there is no iterative
    fitting and no float accumulation: both engines divide the same
    two integers and IEEE division is correctly rounded — bit-exact
    without any tolerance flag. The day index is rebased to the
    fixture epoch so x stays tiny and the cross-sums stay far from
    64-bit range at any fixture scale.

    100 TB shape: the raw table collapses to |groups| x |days| rows in
    one partially-aggregated pass; the regression itself runs on that
    tiny summary. This is the pattern for ANY closed-form sufficient-
    statistics model at scale — never feed raw rows to the fit.

    Input contract (r13 --stuck arm): a group whose x has zero
    variance (a single-day series — the flatlined/brand-new-metric
    shape) has NO defined slope; the denominator is nullif-guarded to
    NULL on both engines. Unguarded, Spark 4 ANSI raises
    DIVIDE_BY_ZERO and takes down the WHOLE query on one such group,
    while DuckDB's double division returns NULL — crash-one-side.

    r13 --timeskew: rides the bounded OBSERVATION WINDOW [1970, 2100)
    (functions/timedomain.py in_obs_window), not just the portable
    domain: the cross-products grow QUADRATICALLY in the day-index
    span (sy*sxx with one year-9999 day is ~1e19, past int64 — one
    corrupt clock crashed the whole fit under ANSI), and a trend
    slope over a multi-millennium x range is statistically
    meaningless anyway — the window keeps every product exactly
    representable."""
    e = table(spark, sf_dir, "events").filter(
        in_grid_domain(F.col("value")) & in_obs_window(F.col("ts"))
    )
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(exact_round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("y")
    ).select(
        "event_type",
        F.datediff("day", F.lit(_OLS_EPOCH).cast("date"))
        .cast("bigint")
        .alias("x"),
        "y",
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    denom = F.nullif(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
        F.lit(0.0),
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        round_half_up(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / denom,
            4,
        ).alias("slope_cents_per_day"),
        round_half_up(
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast("double")
            / denom,
            2,
        ).alias("intercept_cents"),
    )


# ---- Welch's t-test (A/B experiment readout) -----------------------------


@register(
    "welch_t_test_ab",
    oracle="""
    WITH v AS (
      SELECT event_type, user_id % 2 AS cohort,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
    ),
    s AS (
      SELECT event_type,
             count(*) FILTER (cohort = 0) AS na,
             sum(y)   FILTER (cohort = 0) AS sa,
             sum(y*y) FILTER (cohort = 0) AS qa,
             count(*) FILTER (cohort = 1) AS nb,
             sum(y)   FILTER (cohort = 1) AS sb,
             sum(y*y) FILTER (cohort = 1) AS qb
      FROM v GROUP BY event_type
    )
    SELECT event_type,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           (floor((CAST(sa AS DOUBLE)/nullif(na, 0)
                   - CAST(sb AS DOUBLE)/nullif(nb, 0)) * 100 + 0.5)
             / 100) AS mean_diff_cents,
           (floor(
             (CAST(sa AS DOUBLE)/nullif(na, 0)
              - CAST(sb AS DOUBLE)/nullif(nb, 0))
             / sqrt(nullif(
                 (CAST(na*qa - sa*sa AS DOUBLE)
                    / nullif(na, 0) / nullif(na-1, 0)) / nullif(na, 0)
               + (CAST(nb*qb - sb*sb AS DOUBLE)
                    / nullif(nb, 0) / nullif(nb-1, 0)) / nullif(nb, 0), 0.0)
             ) * 10000 + 0.5) / 10000) AS t_stat
    FROM s
    """,
)
def welch_t_test_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test per event_type between two user
    cohorts (user_id parity as the deterministic A/B assignment) — the
    standard experiment readout. Means and variances come from exact
    integer sufficient statistics (n, Σy, Σy² in cents), so the only
    float work is a fixed expression tree of IEEE divisions and ONE
    sqrt — all correctly-rounded operations on identical operands,
    hence bit-exact cross-engine with no tolerance flag (contrast the
    log-based entries, which need ulp_sensitive: libm log is NOT
    correctly rounded but IEEE-754 sqrt is).

    100 TB shape: one partially-aggregated pass over the fact table
    produces six numbers per group; the test statistic is computed on
    the |groups|-row summary. Cohort assignment is a pure expression —
    no user-table join.

    Input contract (r13 --stuck arm): a group where one cohort is
    empty (n=0), has one row (n-1=0), or both cohorts are constant
    (pooled variance 0) has NO defined t — every denominator is
    nullif-guarded to NULL on both engines. Unguarded, Spark 4 ANSI
    raises DIVIDE_BY_ZERO on the whole query at the first such group
    (one new event_type routed entirely to one cohort suffices) while
    DuckDB's double division returns NULL — crash-one-side."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value")))
    v = e.select(
        "event_type",
        (F.col("user_id") % 2).alias("cohort"),
        exact_round(F.col("value") * 100, 0).cast("bigint").alias("y"),
    )
    s = v.groupBy("event_type").agg(
        F.count_if(F.col("cohort") == 0).alias("na"),
        F.sum(F.when(F.col("cohort") == 0, F.col("y"))).alias("sa"),
        F.sum(F.when(F.col("cohort") == 0, F.col("y") * F.col("y"))).alias("qa"),
        F.count_if(F.col("cohort") == 1).alias("nb"),
        F.sum(F.when(F.col("cohort") == 1, F.col("y"))).alias("sb"),
        F.sum(F.when(F.col("cohort") == 1, F.col("y") * F.col("y"))).alias("qb"),
    )
    na = F.nullif(F.col("na"), F.lit(0))
    nb = F.nullif(F.col("nb"), F.lit(0))
    na1 = F.nullif(F.col("na") - 1, F.lit(0))
    nb1 = F.nullif(F.col("nb") - 1, F.lit(0))
    mean_a = F.col("sa").cast("double") / na
    mean_b = F.col("sb").cast("double") / nb
    var_a = (
        (F.col("na") * F.col("qa") - F.col("sa") * F.col("sa")).cast("double")
        / na
        / na1
    )
    var_b = (
        (F.col("nb") * F.col("qb") - F.col("sb") * F.col("sb")).cast("double")
        / nb
        / nb1
    )
    return s.select(
        "event_type",
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        round_half_up(mean_a - mean_b, 2).alias("mean_diff_cents"),
        round_half_up(
            (mean_a - mean_b)
            / F.sqrt(F.nullif(var_a / na + var_b / nb, F.lit(0.0))),
            4,
        ).alias("t_stat"),
    )


# ---- chi-square test of independence -------------------------------------


@register(
    "chi_square_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type, user_id % 3 AS cohort, count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, cohort, o,
             sum(o) OVER (PARTITION BY event_type) AS rt,
             sum(o) OVER (PARTITION BY cohort) AS ct,
             sum(o) OVER () AS n
      FROM cells
    ),
    contrib AS (
      SELECT n, event_type, cohort,
             CAST(floor(
               CAST(n * o - rt * ct AS DOUBLE)
               * CAST(n * o - rt * ct AS DOUBLE)
               / CAST(n AS DOUBLE) / CAST(rt AS DOUBLE) / CAST(ct AS DOUBLE)
               * 1000000 + 0.5) AS BIGINT) AS chi_e6
      FROM m
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT cohort) - 1) AS BIGINT) AS dof,
           CAST(sum(chi_e6) AS BIGINT) AS chi2_e6
    FROM contrib
    """,
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event_type and
    a deterministic 3-way user cohort (user_id % 3) — the categorical
    sibling of welch_t_test_ab, the standard guardrail check that an
    experiment's assignment is independent of behavior (sample-ratio
    mismatch detection). Each cell's contribution uses the identity
    (o − rt·ct/n)²/(rt·ct/n) = (n·o − rt·ct)²/(n·rt·ct): the numerator
    is an EXACT bigint difference cast to double (< 2^53 up to ~10⁹
    events per cell product), so the per-cell value is a fixed tree of
    correctly-rounded IEEE ops — quantized to integer micro-units
    BEFORE the cross-cell sum, making accumulation order irrelevant.

    100 TB shape: one partially-aggregated groupBy produces the
    |types|×|cohorts| contingency table; every window/total runs over
    that tiny table. At 100 TB the n·o product can pass 2^53 — switch
    the numerator to DECIMAL(38,0) there (the decision_stump_split
    recipe), noted here because the fixture can't reach it."""
    e = table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", (F.col("user_id") % 3).alias("cohort")
    ).agg(F.count(F.lit(1)).alias("o"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("cohort")
    wn = Window.partitionBy()
    m = cells.select(
        "event_type",
        "cohort",
        "o",
        F.sum("o").over(wr).alias("rt"),
        F.sum("o").over(wc).alias("ct"),
        F.sum("o").over(wn).alias("n"),
    )
    num = (F.col("n") * F.col("o") - F.col("rt") * F.col("ct")).cast("double")
    contrib = m.select(
        "n",
        "event_type",
        "cohort",
        F.floor(
            num
            * num
            / F.col("n").cast("double")
            / F.col("rt").cast("double")
            / F.col("ct").cast("double")
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("chi_e6"),
    )
    return contrib.agg(
        F.max("n").cast("bigint").alias("n"),
        (
            (F.count_distinct("event_type") - 1)
            * (F.count_distinct("cohort") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        F.sum("chi_e6").cast("bigint").alias("chi2_e6"),
    )


# ---- decision-stump split search -----------------------------------------


@register(
    "decision_stump_split",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events WHERE ts IS NOT NULL
    ),
    per_h AS (
      SELECT event_type, h, count(*) AS nh, sum(y) AS sh
      FROM v GROUP BY event_type, h
    ),
    cum AS (
      SELECT event_type, h,
             CAST(sum(nh) OVER wc AS DECIMAL(38,0)) AS nl,
             CAST(sum(sh) OVER wc AS DECIMAL(38,0)) AS sl,
             CAST(sum(nh) OVER wt AS DECIMAL(38,0)) AS n,
             CAST(sum(sh) OVER wt AS DECIMAL(38,0)) AS s
      FROM per_h
      WINDOW wc AS (PARTITION BY event_type ORDER BY h
                    ROWS UNBOUNDED PRECEDING),
             wt AS (PARTITION BY event_type)
    ),
    gains AS (
      SELECT event_type, h,
             CAST(nl AS BIGINT) AS n_left,
             CAST(n - nl AS BIGINT) AS n_right,
             floor((CAST(sl * sl * (n - nl) + (s - sl) * (s - sl) * nl
                         AS DOUBLE)
                    / CAST(nl * (n - nl) AS DOUBLE)
                    - CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE))
                   * 100 + 0.5) AS gain_q
      FROM cum WHERE nl < n
    )
    SELECT event_type, h AS split_hour, n_left, n_right,
           CAST(gain_q AS BIGINT) AS sse_reduction_q
    FROM (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY gain_q DESC, h ASC) AS rn
      FROM gains
    ) WHERE rn = 1
    """,
)
def decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree split search as pure SQL aggregates: for each
    event_type, find the hour-of-day threshold h* that best splits the
    value series by SSE reduction — the inner loop of CART/GBDT
    training, evaluated for ALL candidate splits from ONE pass of
    sufficient statistics (n, Σy, Σy² per hour, then prefix sums give
    every split's left/right stats — no per-candidate re-scan). The
    variance-reduction objective simplifies to sL²/nL + sR²/nR − s²/n
    (the Σy² terms cancel), computed from exact DECIMAL(38,0) prefix
    sums with only IEEE divisions at the end; gains quantize at 1e-2
    before the deterministic (gain DESC, h ASC) argmax.

    100 TB shape: the fact table reduces to |groups| × 24 sufficient-
    statistic rows before any window; split search cost is independent
    of row count — the property that makes distributed GBDT histogram
    training (LightGBM-style) work.

    Input contract (r11 NULL-parity audit): an hour threshold cannot
    place a row with no timestamp on either side — NULL-ts rows
    excluded explicitly on both engines."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value"))).filter(F.col("ts").isNotNull())
    v = e.select(
        "event_type",
        F.hour("ts").cast("bigint").alias("h"),
        exact_round(F.col("value") * 100, 0).cast("bigint").alias("y"),
    )
    per_h = v.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("y").alias("sh"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("event_type")
    dec = "decimal(38,0)"
    cum = per_h.select(
        "event_type",
        "h",
        F.sum("nh").over(wc).cast(dec).alias("nl"),
        F.sum("sh").over(wc).cast(dec).alias("sl"),
        F.sum("nh").over(wt).cast(dec).alias("n"),
        F.sum("sh").over(wt).cast(dec).alias("s"),
    ).filter(F.col("nl") < F.col("n"))
    nr = F.col("n") - F.col("nl")
    sr = F.col("s") - F.col("sl")
    gain = (
        (F.col("sl") * F.col("sl") * nr + sr * sr * F.col("nl")).cast("double")
        / (F.col("nl") * nr).cast("double")
        - (F.col("s") * F.col("s")).cast("double") / F.col("n").cast("double")
    )
    gains = cum.select(
        "event_type",
        "h",
        F.col("nl").cast("bigint").alias("n_left"),
        nr.cast("bigint").alias("n_right"),
        F.floor(gain * 100 + F.lit(0.5)).alias("gain_q"),
    )
    pick = gains.groupBy("event_type").agg(
        F.min(
            F.struct(
                (-F.col("gain_q")).alias("ng"),
                F.col("h"),
                F.col("n_left"),
                F.col("n_right"),
                F.col("gain_q"),
            )
        ).alias("m")
    )
    return pick.select(
        "event_type",
        F.col("m.h").alias("split_hour"),
        F.col("m.n_left").alias("n_left"),
        F.col("m.n_right").alias("n_right"),
        F.col("m.gain_q").cast("bigint").alias("sse_reduction_q"),
    )


# ---- Kaplan-Meier survival curve -----------------------------------------

_KM_CENSOR_DAYS = 7  # users last seen in the final week are censored
_KM_NEG_INF = -(10**12)  # "-infinity" microbits: exp(-1e6) underflows to 0.0


@register(
    "kaplan_meier_retention",
    ulp_sensitive=True,
    oracle=f"""
    WITH w AS (SELECT max(ts) AS w_end FROM events),
    per_user AS (
      SELECT user_id,
             CAST(CAST(max(ts) AS DATE) - CAST(min(ts) AS DATE) AS BIGINT)
               AS dur,
             max(ts) > (SELECT w_end FROM w) - INTERVAL {_KM_CENSOR_DAYS} DAY
               AS censored
      FROM events GROUP BY user_id
    ),
    by_dur AS (
      SELECT dur,
             count(*) AS n_total,
             count(*) FILTER (NOT censored) AS n_events,
             count(*) FILTER (censored) AS n_censored
      FROM per_user GROUP BY dur
    ),
    risk AS (
      SELECT dur, n_events, n_censored,
             CAST(sum(n_total) OVER () AS BIGINT)
             - CAST(COALESCE(sum(n_total) OVER (
                 ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
      FROM by_dur
    ),
    f AS (
      SELECT dur, n_at_risk, n_events, n_censored,
             CASE WHEN n_events = 0 THEN 0
                  WHEN n_events = n_at_risk THEN {_KM_NEG_INF}
                  ELSE CAST(floor(ln(1 - CAST(n_events AS DOUBLE) / n_at_risk)
                                  * 1000000 + 0.5) AS BIGINT)
             END AS lf_micro
      FROM risk
    )
    SELECT dur AS duration_days,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_censored AS BIGINT) AS n_censored,
           CAST(sum(lf_micro) OVER (ORDER BY dur
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS log_survival_micro,
           (floor(exp(CAST(sum(lf_micro) OVER (ORDER BY dur
                            ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1000000)
                  * 10000 + 0.5) / 10000) AS km_survival
    FROM f
    """,
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of user lifetime (first event →
    last event, in days), with right-censoring for users still active
    in the observation window's final {CD} days — the retention
    curve product-limit estimator (Kaplan & Meier 1958). Each hazard
    factor ln(1 − d_i/n_i) quantizes to integer microbits before the
    cumulative sum, so the log-survival column is an EXACT integer at
    every duration (ulp on the ln input only); the probability column
    re-exponentiates for readability, with an explicit −∞ sentinel
    when the risk set empties (exp underflows to exactly 0.0 in both
    engines).

    100 TB shape: per-user lifetimes are one partially-aggregated
    groupBy; the curve itself lives on the |distinct durations| rows
    (bounded by the observation window in days), so every window here
    orders a duration-sized series, never the fact table."""
    e = table(spark, sf_dir, "events")
    w_end = e.agg(F.max("ts").alias("w_end"))
    per_user = (
        e.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .crossJoin(F.broadcast(w_end))
        .select(
            F.datediff(F.to_date("last_ts"), F.to_date("first_ts"))
            .cast("bigint")
            .alias("dur"),
            (
                F.col("last_ts")
                > F.col("w_end") - F.expr(f"INTERVAL {_KM_CENSOR_DAYS} DAY")
            ).alias("censored"),
        )
    )
    by_dur = per_user.groupBy("dur").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(~F.col("censored")).alias("n_events"),
        F.count_if(F.col("censored")).alias("n_censored"),
    )
    wt = Window.partitionBy()
    wp = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = by_dur.select(
        "dur",
        "n_events",
        "n_censored",
        (
            F.sum("n_total").over(wt)
            - F.coalesce(F.sum("n_total").over(wp), F.lit(0))
        )
        .cast("bigint")
        .alias("n_at_risk"),
    )
    lf = (
        F.when(F.col("n_events") == 0, F.lit(0).cast("bigint"))
        .when(
            F.col("n_events") == F.col("n_at_risk"),
            F.lit(_KM_NEG_INF).cast("bigint"),
        )
        .otherwise(
            F.floor(
                F.log(
                    1 - F.col("n_events").cast("double") / F.col("n_at_risk")
                )
                * 1_000_000
                + F.lit(0.5)
            ).cast("bigint")
        )
    )
    wc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    f = risk.withColumn("lf_micro", lf)
    cum = F.sum("lf_micro").over(wc).cast("bigint")
    return f.select(
        F.col("dur").alias("duration_days"),
        "n_at_risk",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("n_censored").cast("bigint").alias("n_censored"),
        cum.alias("log_survival_micro"),
        round_half_up(F.exp(cum.cast("double") / 1_000_000), 4).alias(
            "km_survival"
        ),
    )


# ---- causal inference: caliper matching + diff-in-differences ------------

_MATCH_CALIPER = 500  # cents: max covariate distance for a valid match


@register(
    "caliper_nearest_match",
    oracle=f"""
    WITH u AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal,
             c_custkey % 2 = 1 AS treated
      FROM customer
    ),
    tagged AS (
      SELECT k, seg, bal, treated,
             min(CASE WHEN NOT treated
                      THEN struct_pack(nb := -bal, ck := k) END)
               OVER (PARTITION BY seg ORDER BY bal
                     RANGE BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS prev_c,
             min(CASE WHEN NOT treated
                      THEN struct_pack(b := bal, ck := k) END)
               OVER (PARTITION BY seg ORDER BY bal
                     RANGE BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS next_c
      FROM u
    ),
    scored AS (
      SELECT k, seg, bal,
             bal - (-(prev_c.nb)) AS d_prev, prev_c.ck AS prev_k,
             (next_c.b) - bal AS d_next, next_c.ck AS next_k
      FROM tagged WHERE treated
    )
    SELECT k AS treated_key, seg AS segment,
           CASE WHEN best_d IS NOT NULL AND best_d <= {_MATCH_CALIPER}
                THEN best_k END AS control_key,
           CASE WHEN best_d IS NOT NULL AND best_d <= {_MATCH_CALIPER}
                THEN best_d END AS distance_cents,
           COALESCE(best_d <= {_MATCH_CALIPER}, false) AS matched
    FROM (
      SELECT k, seg,
             CASE WHEN d_prev IS NULL THEN d_next
                  WHEN d_next IS NULL THEN d_prev
                  WHEN d_prev <= d_next THEN d_prev ELSE d_next END AS best_d,
             CASE WHEN d_prev IS NULL THEN next_k
                  WHEN d_next IS NULL THEN prev_k
                  WHEN d_prev <= d_next THEN prev_k ELSE next_k END AS best_k
      FROM scored
    )
    """,
)
def caliper_nearest_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor covariate matching with a caliper (the
    propensity-matching workhorse, Rosenbaum & Rubin 1985): every
    treated customer (odd custkey) is matched, WITHIN ITS MARKET
    SEGMENT (exact-match stratification), to the control customer
    whose account balance is closest, but only within {CAL} cents —
    beyond the caliper the unit stays unmatched, which is exactly what
    guards a causal readout against off-support comparisons. ZERO
    joins: both sides sort once into one tagged stream, and each
    treated unit reads its nearest control from a backward RANGE
    running-min (of (-balance, key) structs — largest balance ≤ mine,
    smallest key on ties) and a forward RANGE running-min; RANGE frames
    include equal-balance peers in BOTH directions, so distance-0
    matches are found regardless of sort position. Tie between equal
    backward/forward distances resolves backward — pinned identically
    in both engines.

    100 TB shape: the tagged-stream trick is the asof_tolerance_join
    pattern — one SEGMENT-PARTITIONED sort on the covariate replaces a
    treated×control join entirely (the stratification key is also the
    parallelism key, as production matching always blocks on exact
    covariates first); everything after is per-row."""
    c = table(spark, sf_dir, "customer")
    u = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        exact_round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("bal"),
        (F.col("c_custkey") % 2 == 1).alias("treated"),
    )
    wb = (
        Window.partitionBy("seg")
        .orderBy("bal")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    # the forward-looking min ("nearest control with bal >= mine") is
    # expressed as a RUNNING frame over the DESC ordering — the same
    # row set (RANGE frames include equal-balance peers on both
    # orderings), but Spark executes running frames with a streaming
    # accumulator while a (0, unboundedFollowing) frame re-aggregates
    # per row, quadratic in the partition: 33.1s -> 0.57s on the sf1
    # fixture's 150k customers / 5 segments (r09 bench finding)
    wf = (
        Window.partitionBy("seg")
        .orderBy(F.desc("bal"))
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    ctrl_prev = F.when(
        ~F.col("treated"),
        F.struct((-F.col("bal")).alias("nb"), F.col("k").alias("ck")),
    )
    ctrl_next = F.when(
        ~F.col("treated"),
        F.struct(F.col("bal").alias("b"), F.col("k").alias("ck")),
    )
    tagged = u.select(
        "k",
        "seg",
        "bal",
        "treated",
        F.min(ctrl_prev).over(wb).alias("prev_c"),
        F.min(ctrl_next).over(wf).alias("next_c"),
    ).filter(F.col("treated"))
    scored = tagged.select(
        "k",
        "seg",
        (F.col("bal") + F.col("prev_c.nb")).alias("d_prev"),
        F.col("prev_c.ck").alias("prev_k"),
        (F.col("next_c.b") - F.col("bal")).alias("d_next"),
        F.col("next_c.ck").alias("next_k"),
    )
    best_d = (
        F.when(F.col("d_prev").isNull(), F.col("d_next"))
        .when(F.col("d_next").isNull(), F.col("d_prev"))
        .when(F.col("d_prev") <= F.col("d_next"), F.col("d_prev"))
        .otherwise(F.col("d_next"))
    )
    best_k = (
        F.when(F.col("d_prev").isNull(), F.col("next_k"))
        .when(F.col("d_next").isNull(), F.col("prev_k"))
        .when(F.col("d_prev") <= F.col("d_next"), F.col("prev_k"))
        .otherwise(F.col("next_k"))
    )
    s = scored.select(
        F.col("k").alias("treated_key"),
        F.col("seg").alias("segment"),
        best_d.alias("best_d"),
        best_k.alias("best_k"),
    )
    ok = F.col("best_d").isNotNull() & (F.col("best_d") <= _MATCH_CALIPER)
    return s.select(
        "treated_key",
        "segment",
        F.when(ok, F.col("best_k")).alias("control_key"),
        F.when(ok, F.col("best_d")).alias("distance_cents"),
        F.coalesce(
            F.col("best_d") <= _MATCH_CALIPER, F.lit(False)
        ).alias("matched"),
    )


@register(
    "diff_in_differences",
    oracle="""
    WITH w AS (
      SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid_us
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
    ),
    v AS (
      SELECT event_type,
             user_id % 2 = 1 AS treated,
             epoch_us(ts) > (SELECT mid_us FROM w) AS post,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
    ),
    cells AS (
      SELECT event_type,
             sum(y) FILTER (treated AND post)          AS s_tp,
             count(*) FILTER (treated AND post)        AS n_tp,
             sum(y) FILTER (treated AND NOT post)      AS s_t0,
             count(*) FILTER (treated AND NOT post)    AS n_t0,
             sum(y) FILTER (NOT treated AND post)      AS s_cp,
             count(*) FILTER (NOT treated AND post)    AS n_cp,
             sum(y) FILTER (NOT treated AND NOT post)  AS s_c0,
             count(*) FILTER (NOT treated AND NOT post) AS n_c0
      FROM v GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_tp + n_t0 + n_cp + n_c0 AS BIGINT) AS n_obs,
           (floor(((CAST(s_tp AS DOUBLE)/n_tp - CAST(s_t0 AS DOUBLE)/n_t0)
                 - (CAST(s_cp AS DOUBLE)/n_cp - CAST(s_c0 AS DOUBLE)/n_c0))
                  * 100 + 0.5) / 100) AS did_cents
    FROM cells
    """,
)
def diff_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator per event_type: treatment =
    user parity, pre/post split at the observation window's midpoint
    timestamp; DiD = (ȳ_treated,post − ȳ_treated,pre) − (ȳ_control,post
    − ȳ_control,pre) — the 2×2 panel estimator, computed from the four
    cells' exact integer sums in ONE pass (filtered aggregates, no
    self-joins). Only IEEE divisions and subtractions touch floats ⇒
    bit-exact cross-engine.

    100 TB shape: one partially-aggregated groupBy producing eight
    numbers per group; cohort and period assignment are pure
    expressions. The midpoint is a 1-row broadcast aggregate."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value")))
    # portable epoch-micros of the naive timestamp (the asof_last_signup
    # idiom — matches DuckDB's epoch_us on TIMESTAMP_NTZ)
    t_us = epoch_us_ntz("ts")
    ep = e.withColumn("t_us", t_us)
    mid = ep.agg(
        F.expr("(min(t_us) + max(t_us)) div 2").alias("mid_us")
    )
    v = ep.crossJoin(F.broadcast(mid)).select(
        "event_type",
        (F.col("user_id") % 2 == 1).alias("treated"),
        (F.col("t_us") > F.col("mid_us")).alias("post"),
        exact_round(F.col("value") * 100, 0).cast("bigint").alias("y"),
    )

    def cell(tr: bool, po: bool, what: str):
        cond = (F.col("treated") == tr) & (F.col("post") == po)
        if what == "s":
            return F.sum(F.when(cond, F.col("y")))
        return F.count_if(cond)

    cells = v.groupBy("event_type").agg(
        cell(True, True, "s").alias("s_tp"),
        cell(True, True, "n").alias("n_tp"),
        cell(True, False, "s").alias("s_t0"),
        cell(True, False, "n").alias("n_t0"),
        cell(False, True, "s").alias("s_cp"),
        cell(False, True, "n").alias("n_cp"),
        cell(False, False, "s").alias("s_c0"),
        cell(False, False, "n").alias("n_c0"),
    )
    mean = lambda s, n: F.col(s).cast("double") / F.col(n)  # noqa: E731
    return cells.select(
        "event_type",
        (F.col("n_tp") + F.col("n_t0") + F.col("n_cp") + F.col("n_c0"))
        .cast("bigint")
        .alias("n_obs"),
        round_half_up(
            (mean("s_tp", "n_tp") - mean("s_t0", "n_t0"))
            - (mean("s_cp", "n_cp") - mean("s_c0", "n_c0")),
            2,
        ).alias("did_cents"),
    )


# ---- sequential probability ratio test (SPRT) ----------------------------

# H0: p = 0.4 vs H1: p = 0.5 for P(high-value event), alpha = beta = 0.05.
# The per-observation LLR increments and the decision bound are FIXED
# INTEGER MICRO-NAT CONSTANTS precomputed in Python (ln(0.5/0.4),
# ln(0.5/0.6), ln(19)), so neither engine evaluates a log at all — the
# whole test is integer arithmetic, no ulp flag needed (the _CCNET_QS
# shared-literal convention, one step further).
_SPRT_LA = 223144      # round(ln(p1/p0) * 1e6)
_SPRT_LB = -182322     # round(ln((1-p1)/(1-p0)) * 1e6)
_SPRT_BOUND = 2944439  # round(ln((1-beta)/alpha) * 1e6)
_SPRT_HI = 5000        # "high-value" threshold, integer cents


@register(
    "sprt_sequential_test",
    oracle=f"""
    WITH v AS (
      SELECT user_id % 2 AS cohort, ts, event_id,
             CASE WHEN CAST(floor(value * 100 + 0.5) AS BIGINT) > {_SPRT_HI}
                  THEN 1 ELSE 0 END AS x
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
    ),
    walk AS (
      SELECT cohort, ts, event_id,
             row_number() OVER w AS n,
             sum(CASE WHEN x = 1 THEN {_SPRT_LA}
                      ELSE {_SPRT_LB} END) OVER
               (PARTITION BY cohort ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS llr
      FROM v
      WINDOW w AS (PARTITION BY cohort ORDER BY ts, event_id)
    ),
    crossings AS (
      SELECT cohort, n, llr,
             CASE WHEN llr >= {_SPRT_BOUND} THEN 'accept_h1'
                  ELSE 'accept_h0' END AS decision
      FROM walk
      WHERE llr >= {_SPRT_BOUND} OR llr <= -{_SPRT_BOUND}
    )
    SELECT cohort,
           CAST(n AS BIGINT) AS n_at_decision,
           CAST(llr AS BIGINT) AS llr_micro,
           decision
    FROM (
      SELECT cohort, n, llr, decision,
             row_number() OVER (PARTITION BY cohort ORDER BY n) AS rn
      FROM crossings
    ) WHERE rn = 1
    """,
)
def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test (SPRT, 1945) per user
    cohort: monitor the rate of high-value events against H0 p=0.4 vs
    H1 p=0.5 and report the FIRST observation at which the cumulative
    log-likelihood ratio crosses a decision bound — the always-valid
    early-stopping design that replaces fixed-horizon A/B tests. All
    constants (per-observation increments, bounds) are precomputed
    integer micro-nats, so the walk is a pure integer running sum —
    bit-exact with NO log evaluated in either engine.

    100 TB shape: same as the CUSUM pair — one ordered window per
    monitored series, then a partial-agg argmin picks the earliest
    crossing; a deployment parallelizes over many (experiment, arm)
    series. The streaming version is the streaming_cusum_alert
    pattern with (n, llr, decided) state."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value")))
    v = e.select(
        (F.col("user_id") % 2).alias("cohort"),
        "ts",
        "event_id",
        F.when(
            exact_round(F.col("value") * 100, 0).cast("bigint") > _SPRT_HI,
            F.lit(_SPRT_LA),
        )
        .otherwise(F.lit(_SPRT_LB))
        .alias("inc"),
    )
    wo = Window.partitionBy("cohort").orderBy(*event_time_order())
    walk = v.select(
        "cohort",
        F.row_number().over(wo).alias("n"),
        F.sum("inc")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .alias("llr"),
    )
    crossings = walk.filter(
        (F.col("llr") >= _SPRT_BOUND) | (F.col("llr") <= -_SPRT_BOUND)
    ).select(
        "cohort",
        "n",
        "llr",
        F.when(F.col("llr") >= _SPRT_BOUND, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
    )
    pick = crossings.groupBy("cohort").agg(
        F.min(F.struct("n", "llr", "decision")).alias("m")
    )
    return pick.select(
        "cohort",
        F.col("m.n").cast("bigint").alias("n_at_decision"),
        F.col("m.llr").cast("bigint").alias("llr_micro"),
        F.col("m.decision").alias("decision"),
    )


# ---- Poisson bootstrap confidence intervals ------------------------------

_BOOT_B = 32  # bootstrap replicas
# Poisson(1) inverse-CDF breakpoints as SHARED DECIMAL LITERALS (the
# _CCNET_QS convention): both engines parse the identical 17-digit
# strings to the identical doubles, the md5 uniform is an exact IEEE
# division, so every replica weight is bit-deterministic.
_POIS_CUM = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
)
_U_DENOM = str(1 << 60)  # md5_long range


def _pois_w_sql(u: str) -> str:
    """Shared CASE chain: uniform -> Poisson(1) draw (capped at 7)."""
    branches = "".join(
        f" WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CUM)
    )
    return f"CASE{branches} ELSE 7 END"


@register(
    "poisson_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
      SELECT e.event_type, b.b,
             CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS y,
             {_pois_w_sql(
                 "(" + duck_md5_long(
                     "CAST(e.event_id AS VARCHAR) || '|' || CAST(b.b AS VARCHAR)"
                 ) + f" / {_U_DENOM})"
             )} AS w
      FROM (SELECT * FROM events WHERE value > -9007199254.740992 AND value < 9007199254.740992) e, range(0, {_BOOT_B}) b(b)
      WHERE e.value IS NOT NULL
    ),
    means AS (
      SELECT event_type, b,
             CAST(sum(w * y) AS DOUBLE) / sum(w) AS m
      FROM reps GROUP BY event_type, b
      HAVING sum(w) > 0
    ),
    sorted AS (
      SELECT event_type, list_sort(list(m)) AS ms FROM means
      GROUP BY event_type
    )
    SELECT s.event_type,
           (floor(CAST(p.s AS DOUBLE) / p.n * 100 + 0.5) / 100)
             AS mean_cents,
           (floor(ms[1] * 100 + 0.5) / 100) AS ci_lo_cents,
           (floor(ms[len(ms)] * 100 + 0.5) / 100) AS ci_hi_cents,
           CAST(len(ms) AS BIGINT) AS n_replicas
    FROM sorted s
    JOIN (SELECT event_type,
                 sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s,
                 count(*) AS n
          FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events WHERE value IS NOT NULL
          GROUP BY event_type) p
      ON s.event_type = p.event_type
    """,
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al. 2012, "Estimating uncertainty
    for massive data streams" — Google's web-scale bootstrap): each row
    joins every replica with an independent Poisson(1) weight, so
    resampling needs NO global n and parallelizes row-by-row — the
    property that makes bootstrap possible on a sharded 100 TB table
    where classical multinomial resampling cannot even be defined
    per-partition. Weights are DETERMINISTIC md5 uniforms pushed
    through a shared inverse-CDF literal chain; replica means are
    single divisions of exact integer sums; the min/max of the {B}
    replica means bounds the CI (~±3σ coverage at B={B}).

    100 TB shape: one row-local {B}× fan-out (map-only), one partial-
    agg per (group, replica), then a {B}-element array per group — the
    shuffle moves |groups|·{B} aggregates, never resampled data.

    Input contract (r11 NULL-parity audit, widened matrix): a
    bootstrap resamples MEASURED values — rows with NULL value are
    excluded on both engines (an all-NULL group's replica means would
    otherwise be an empty collect_list and element_at(ms, 1) throws,
    while DuckDB's list() keeps NULLs and emits a NULL CI)."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value"))).filter(F.col("value").isNotNull())
    reps = e.crossJoin(
        spark.range(_BOOT_B).select(F.col("id").alias("b"))
    ).select(
        "event_type",
        "b",
        exact_round(F.col("value") * 100, 0).cast("bigint").alias("y"),
        F.expr(
            _pois_w_sql(
                "(CAST(conv(substring(md5(CAST(event_id AS STRING)"
                " || '|' || CAST(b AS STRING)), 1, 15), 16, 10)"
                f" AS BIGINT) / {_U_DENOM})"
            )
        ).alias("w"),
    )
    means = (
        reps.groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w") * F.col("y")).alias("sw"),
            F.sum("w").alias("n_w"),
        )
        .filter(F.col("n_w") > 0)
        .select(
            "event_type",
            (F.col("sw").cast("double") / F.col("n_w")).alias("m"),
        )
    )
    sorted_ = means.groupBy("event_type").agg(
        F.array_sort(F.collect_list("m")).alias("ms")
    )
    point = e.groupBy("event_type").agg(
        F.sum(exact_round(F.col("value") * 100, 0).cast("bigint")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return sorted_.join(point, "event_type").select(
        "event_type",
        round_half_up(F.col("s").cast("double") / F.col("n"), 2).alias(
            "mean_cents"
        ),
        round_half_up(F.element_at("ms", 1), 2).alias("ci_lo_cents"),
        round_half_up(F.element_at("ms", F.size("ms")), 2).alias(
            "ci_hi_cents"
        ),
        F.size("ms").cast("bigint").alias("n_replicas"),
    )


# ---- gradient boosting: two rounds of stumps --------------------------------


def _gbdt_gain_cte(k: int, fname: str, fcol: str) -> str:
    return f"""
    g_{fcol}{k} AS (
      SELECT '{fname}' AS feature, f AS thr, nl, sl, n, s,
             floor((CAST(sl * sl * (n - nl) + (s - sl) * (s - sl) * nl
                         AS DOUBLE)
                    / CAST(nl * (n - nl) AS DOUBLE)
                    - CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE))
                   * 100 + 0.5) AS gain_q
      FROM (
        SELECT f,
               CAST(sum(cnt) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING)
                    AS DECIMAL(38,0)) AS nl,
               CAST(sum(st) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING)
                    AS DECIMAL(38,0)) AS sl,
               CAST(sum(cnt) OVER () AS DECIMAL(38,0)) AS n,
               CAST(sum(st) OVER () AS DECIMAL(38,0)) AS s
        FROM (SELECT {fcol} AS f, count(*) AS cnt, sum(y) AS st
              FROM v{k} GROUP BY 1)
      ) WHERE nl < n
    )"""


def _gbdt_round_ctes(k: int) -> str:
    return f"""{_gbdt_gain_cte(k, "hour", "h")},{_gbdt_gain_cte(k, "cohort", "c")},
    w{k} AS (
      SELECT feature, thr,
             CAST(floor(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE) + 0.5)
                  AS BIGINT) AS gl,
             CAST(floor(CAST(s - sl AS DOUBLE) / CAST(n - nl AS DOUBLE)
                        + 0.5) AS BIGINT) AS gr,
             CAST(gain_q AS BIGINT) AS gain_q
      FROM (
        SELECT *, row_number() OVER (
          ORDER BY gain_q DESC, feature ASC, thr ASC) AS rn
        FROM (SELECT * FROM g_h{k} UNION ALL SELECT * FROM g_c{k})
      ) WHERE rn = 1
    ),
    v{k + 1} AS (
      SELECT v{k}.h, v{k}.c,
             v{k}.y - CASE WHEN w{k}.feature = 'hour'
                  THEN CASE WHEN v{k}.h <= w{k}.thr
                            THEN w{k}.gl ELSE w{k}.gr END
                  ELSE CASE WHEN v{k}.c <= w{k}.thr
                            THEN w{k}.gl ELSE w{k}.gr END END AS y
      FROM v{k}, w{k}
    ),
    sse{k} AS (
      SELECT CAST(sum(CAST(y AS HUGEINT) * y) AS BIGINT) AS sse
      FROM v{k + 1}
    )"""


@register(
    "gbdt_boosted_stumps",
    oracle=f"""
    WITH v1 AS (
      SELECT CAST(hour(ts) AS BIGINT) AS h,
             CAST(user_id % 7 AS BIGINT) AS c,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),{_gbdt_round_ctes(1)},{_gbdt_round_ctes(2)}
    SELECT 1 AS round, w1.feature, w1.thr AS threshold,
           w1.gl AS gamma_left, w1.gr AS gamma_right,
           sse1.sse AS sse_after_q
    FROM w1, sse1
    UNION ALL
    SELECT 2, w2.feature, w2.thr, w2.gl, w2.gr, sse2.sse
    FROM w2, sse2
    """,
)
def gbdt_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO rounds of gradient boosting with depth-1 trees over the
    event value series, features = hour-of-day and user-cohort
    (user_id % 7): round 1 fits the best stump across BOTH feature
    histograms (decision_stump_split's one-pass prefix-sum search,
    now with feature selection), emits integer leaf values
    gamma = round(mean), and round 2 refits on the INTEGER residuals —
    the actual GBDT recurrence (fit, subtract, refit), run as one lazy
    relational plan with nothing on the driver. Residuals stay exact
    integers because leaves are rounded to whole cents, so every
    round's histogram/gain/SSE arithmetic is as exact as round 1's;
    leaf means use floor(x+0.5) on an IEEE quotient (identical both
    engines) rather than integer division, whose negative-operand
    semantics diverge between engines (the kmeans offset lesson —
    residuals go negative by construction).

    100 TB shape: each round reduces the corpus to (24 + 7)
    sufficient-statistic rows before any window (the LightGBM
    histogram property — split cost independent of row count); the
    1-row winner broadcasts back for the residual map. Adding rounds
    or features grows the plan linearly, never the shuffles.

    Input contract (r11 NULL-parity audit): a stump threshold cannot
    place a row with a NULL feature (no timestamp / no user) on either
    side — excluded explicitly on both engines."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value"))).filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    v = e.select(
        F.hour("ts").cast("bigint").alias("h"),
        (F.col("user_id") % 7).cast("bigint").alias("c"),
        exact_round(F.col("value") * 100, 0).cast("bigint").alias("y"),
    ).localCheckpoint(eager=True)  # consumers: 2 histograms + residual map
    dec = "decimal(38,0)"

    def stump(df: DataFrame, fname: str, fcol: str) -> DataFrame:
        per_f = df.groupBy(F.col(fcol).alias("f")).agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("st")
        )
        wc = Window.orderBy("f").rowsBetween(Window.unboundedPreceding, 0)
        wt = Window.partitionBy()
        cum = per_f.select(
            "f",
            F.sum("cnt").over(wc).cast(dec).alias("nl"),
            F.sum("st").over(wc).cast(dec).alias("sl"),
            F.sum("cnt").over(wt).cast(dec).alias("n"),
            F.sum("st").over(wt).cast(dec).alias("s"),
        ).filter(F.col("nl") < F.col("n"))
        nr = F.col("n") - F.col("nl")
        sr = F.col("s") - F.col("sl")
        gain = (
            (F.col("sl") * F.col("sl") * nr + sr * sr * F.col("nl")).cast(
                "double"
            )
            / (F.col("nl") * nr).cast("double")
            - (F.col("s") * F.col("s")).cast("double")
            / F.col("n").cast("double")
        )
        return cum.select(
            F.lit(fname).alias("feature"),
            F.col("f").alias("thr"),
            "nl",
            "sl",
            "n",
            "s",
            F.floor(gain * 100 + F.lit(0.5)).alias("gain_q"),
        )

    def fit_round(df: DataFrame):
        gains = stump(df, "hour", "h").unionAll(stump(df, "cohort", "c"))
        wr = Window.orderBy(
            F.desc("gain_q"), F.asc("feature"), F.asc("thr")
        )
        return (
            gains.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select(
                "feature",
                "thr",
                F.floor(
                    F.col("sl").cast("double") / F.col("nl").cast("double")
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("gl"),
                F.floor(
                    (F.col("s") - F.col("sl")).cast("double")
                    / (F.col("n") - F.col("nl")).cast("double")
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("gr"),
                F.col("gain_q").cast("bigint").alias("gain_q"),
            )
        )

    def apply_round(df: DataFrame, w: DataFrame) -> DataFrame:
        pred = F.when(
            F.col("feature") == "hour",
            F.when(F.col("h") <= F.col("thr"), F.col("gl")).otherwise(
                F.col("gr")
            ),
        ).otherwise(
            F.when(F.col("c") <= F.col("thr"), F.col("gl")).otherwise(
                F.col("gr")
            )
        )
        return df.crossJoin(F.broadcast(w)).select(
            "h", "c", (F.col("y") - pred).alias("y")
        )

    w1 = fit_round(v).localCheckpoint(eager=True)
    v2 = apply_round(v, w1).localCheckpoint(eager=True)
    sse1 = v2.agg(
        F.sum(F.col("y").cast(dec) * F.col("y")).cast("bigint").alias("sse")
    )
    w2 = fit_round(v2).localCheckpoint(eager=True)
    v3 = apply_round(v2, w2)
    sse2 = v3.agg(
        F.sum(F.col("y").cast(dec) * F.col("y")).cast("bigint").alias("sse")
    )

    def out(k: int, w: DataFrame, sse: DataFrame) -> DataFrame:
        return w.crossJoin(F.broadcast(sse)).select(
            F.lit(k).cast("bigint").alias("round"),
            "feature",
            F.col("thr").alias("threshold"),
            F.col("gl").alias("gamma_left"),
            F.col("gr").alias("gamma_right"),
            F.col("sse").alias("sse_after_q"),
        )

    return out(1, w1, sse1).unionAll(out(2, w2, sse2))


# ---- Bloom filter membership with exact FPR accounting -------------------

# m bits / k hashes sized for the fixture's member cardinality; both
# sides derive every position from the same md5 construction
# (functions/hashing.py), so unlike the HLL/CMS entries this sketch is
# EXACTLY reproducible cross-engine — the false-positive SET itself is
# deterministic, not just its expected rate
_BLOOM_M = 4096
_BLOOM_K = 3


def _bloom_positions_sql(key_expr: str) -> str:
    parts = ", ".join(
        duck_md5_long(f"'{i}|' || CAST({key_expr} AS VARCHAR)") + f" % {_BLOOM_M}"
        for i in range(_BLOOM_K)
    )
    return f"unnest([{parts}])"


@register(
    "bloom_membership_fpr",
    oracle=f"""
    WITH members AS (
      SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    probes AS (SELECT DISTINCT o_custkey AS k FROM orders),
    bits AS (
      SELECT DISTINCT {_bloom_positions_sql('k')} AS b FROM members
    ),
    pp AS (
      SELECT DISTINCT k, b FROM (
        SELECT k, {_bloom_positions_sql('k')} AS b FROM probes
      )
    ),
    perkey AS (
      SELECT pp.k, count(*) AS n_pos,
             sum(CASE WHEN bits.b IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM pp LEFT JOIN bits ON pp.b = bits.b
      GROUP BY pp.k
    ),
    flags AS (
      SELECT p.k, (p.n_hit = p.n_pos) AS bloom_pos,
             EXISTS (SELECT 1 FROM members m WHERE m.k = p.k) AS is_member
      FROM perkey p
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probed,
           CAST(sum(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_positive,
           CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_members,
           CAST(sum(CASE WHEN bloom_pos AND NOT is_member THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positive,
           (floor(CAST(sum(CASE WHEN bloom_pos AND NOT is_member
                                THEN 1 ELSE 0 END) AS DOUBLE)
                  / nullif(count(*) - sum(CASE WHEN is_member THEN 1 ELSE 0
                                          END), 0) * 10000 + 0.5) / 10000)
             AS fpr
    FROM flags
    """,
)
def bloom_membership_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership, end to end IN the engine with exact
    false-positive accounting: build an m=4096-bit / k=3-hash
    filter over one segment's customers (bit positions = seeded md5,
    the repo's standard portable hash), probe every ordering customer,
    and report the measured FPR against ground truth from an exact
    semi-join. This is the runtime-filter pattern Spark itself applies
    in bloom-join pruning, surfaced as a first-class, value-checked
    operator — and unlike the HLL/CMS entries (rows-only by design,
    engine-internal layouts), every bit here is engine-portable, so
    the oracle verifies the exact false-positive SET, not a rate
    estimate. No false negative is possible by construction; the
    n_hit = n_pos gate works on DISTINCT (key, position) pairs so
    intra-key hash collisions can't under-count.

    100 TB shape: the filter is <= m distinct bit rows — broadcast to
    the probe side, which therefore never shuffles; ground truth is a
    broadcast semi-join against the member keys. Probe cost is one
    scan + a x-k map-side expansion."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    members = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    probes = o.select(F.col("o_custkey").alias("k")).distinct()

    def positions(df: DataFrame) -> DataFrame:
        pos = F.array(
            *[
                stable_token_hash(F.col("k").cast("string"), seed=i)
                % _BLOOM_M
                for i in range(_BLOOM_K)
            ]
        )
        return df.select("k", F.explode(pos).alias("b"))

    bits = positions(members).select("b").distinct()
    pp = positions(probes).distinct()
    perkey = (
        pp.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "b", "left")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"),
        )
    )
    flags = perkey.join(
        F.broadcast(members.withColumn("is_m", F.lit(1))), "k", "left"
    ).select(
        (F.col("n_hit") == F.col("n_pos")).alias("bloom_pos"),
        F.coalesce("is_m", F.lit(0)).alias("is_member"),
    )
    fp = F.sum(
        F.when((F.col("bloom_pos")) & (F.col("is_member") == 0), 1).otherwise(
            0
        )
    )
    nm = F.sum("is_member")
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probed"),
        F.sum(F.when(F.col("bloom_pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bloom_positive"),
        nm.cast("bigint").alias("n_members"),
        fp.cast("bigint").alias("n_false_positive"),
        round_half_up(
            fp.cast("double")
            / F.nullif(F.count(F.lit(1)) - nm, F.lit(0)),
            4,
        ).alias("fpr"),
    )


# ---- full correlation matrix over lineitem features ----------------------

# feature -> source column; pair list generated from this dict on BOTH
# engines so adding a feature cannot desynchronize them
_CORRM_FEATS = {
    "qty": "l_quantity",
    "price": "l_extendedprice",
    "disc": "l_discount",
    "tax": "l_tax",
}
_CORRM_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORRM_FEATS)
    for b in list(_CORRM_FEATS)[i + 1 :]
]


def _corrm_oracle() -> str:
    sums = ["count(*) AS n"]
    for f, col in _CORRM_FEATS.items():
        sums.append(
            f"CAST(sum(CAST({col} AS DECIMAL(30,4))) AS DOUBLE) AS s_{f}"
        )
    for a, b in [(f, f) for f in _CORRM_FEATS] + _CORRM_PAIRS:
        sums.append(
            f"CAST(sum(CAST({_CORRM_FEATS[a]} AS DECIMAL(30,4))"
            f" * CAST({_CORRM_FEATS[b]} AS DECIMAL(30,4))) AS DOUBLE)"
            f" AS s_{a}_{b}"
        )
    rows = "\n    UNION ALL\n    ".join(
        f"""SELECT '{a}' AS feature_a, '{b}' AS feature_b,
           (floor((n * s_{a}_{b} - s_{a} * s_{b})
                  / nullif(sqrt(n * s_{a}_{a} - s_{a} * s_{a})
                           * sqrt(n * s_{b}_{b} - s_{b} * s_{b}), 0)
                  * 1000000 + 0.5) / 1000000) AS corr FROM s"""
        for a, b in _CORRM_PAIRS
    )
    return f"WITH s AS (\n      SELECT {', '.join(sums)} FROM lineitem\n    )\n    {rows}"


@register("corr_matrix_features", oracle=_corrm_oracle())
def corr_matrix_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation MATRIX over four lineitem measures
    in ONE pass — the EDA staple (agg_correlation's single pair,
    generalized): all 4 sums + 10 product sums accumulate as exact
    DECIMAL(30,4) in a single aggregation, and the 6 upper-triangle
    correlations are pure row-local arithmetic on that one row.
    Adding a feature is a dict entry; the pair list and both engines'
    expressions are generated from the same dict (the knob-desync
    guard). Cross-engine agreement is the agg_correlation argument:
    exact decimal sums -> identical doubles -> identical IEEE
    formula -> 1e-6 quantization, with a nullif guard for
    zero-variance features.

    100 TB shape: one scan, 15 map-side-combined decimal
    accumulators, a 1-row result fanned to 6 — the naive per-pair
    corr() would scan the table 6 times."""
    li = table(spark, sf_dir, "lineitem")
    dec = {
        f: F.col(c).cast("decimal(30,4)") for f, c in _CORRM_FEATS.items()
    }
    aggs = [F.count(F.lit(1)).alias("n")]
    for f in _CORRM_FEATS:
        aggs.append(F.sum(dec[f]).cast("double").alias(f"s_{f}"))
    for a, b in [(f, f) for f in _CORRM_FEATS] + _CORRM_PAIRS:
        aggs.append(
            F.sum(dec[a] * dec[b]).cast("double").alias(f"s_{a}_{b}")
        )
    s = li.agg(*aggs)
    n = F.col("n")

    def corr(a: str, b: str) -> F.Column:
        num = n * F.col(f"s_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        den = F.sqrt(
            n * F.col(f"s_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
        ) * F.sqrt(
            n * F.col(f"s_{b}_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        )
        return F.floor(
            num / F.nullif(den, F.lit(0.0)) * 1_000_000 + 0.5
        ) / 1_000_000

    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("feature_a"),
                F.lit(b).alias("feature_b"),
                corr(a, b).alias("corr"),
            )
            for a, b in _CORRM_PAIRS
        ]
    )
    return s.select(F.explode(pairs).alias("p")).select("p.*")


# ---- exact weighted median -----------------------------------------------


@register(
    "weighted_median_exact",
    oracle="""
    WITH v AS (
      SELECT l_returnflag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ),
    agg AS (
      SELECT l_returnflag, cents, sum(w) AS w
      FROM v GROUP BY l_returnflag, cents
    ),
    c AS (
      SELECT l_returnflag, cents, w,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(w) OVER (PARTITION BY l_returnflag) AS tot
      FROM agg
    )
    SELECT l_returnflag,
           CAST(min(cents) AS BIGINT) AS weighted_median_cents,
           CAST(min(tot) AS BIGINT) AS total_weight
    FROM c WHERE cum * 2 >= tot
    GROUP BY l_returnflag
    """,
)
def weighted_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median (50% of QUANTITY mass, not of rows): the
    smallest price whose cumulative weight reaches half the total —
    the lower weighted median, a pure integer definition with no
    interpolation to disagree on. Rows collapse to (group, value)
    weight sums FIRST, so the ordered pass runs over distinct values,
    not raw rows — on a 100 TB fact table that is the difference
    between sorting billions of rows and thousands of price points.
    Complements agg_percentiles (row-counted, unweighted): reweighting
    by quantity answers "the median UNIT sells at what price?", which
    row medians get wrong whenever cheap items ship in bulk.

    100 TB shape: map-side combined (group, value) fold, then a
    per-group ordered walk over the collapsed distribution; total
    weight rides the same window. One shuffle, value-domain-sized
    state."""
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    agg = v.groupBy("l_returnflag", "cents").agg(F.sum("w").alias("w"))
    wp = Window.partitionBy("l_returnflag")
    c = agg.select(
        "l_returnflag",
        "cents",
        F.sum("w")
        .over(wp.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("w").over(wp).alias("tot"),
    )
    return (
        c.filter(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").cast("bigint").alias("weighted_median_cents"),
            F.min("tot").cast("bigint").alias("total_weight"),
        )
    )
