"""Nonparametric statistics and graph-structure metrics with exact
cross-engine oracles.

The reference's aggregation tier (tiny_etl/transformers/reducers.py)
stops at count/fold; real data-quality and experimentation work on a
100 TB corpus needs the distribution-comparison toolbox: rank tests
(Mann-Whitney), distribution-distance tests (Kolmogorov-Smirnov), rank
correlation (Spearman), serial dependence (autocorrelation), robust
regression (Theil-Sen), and graph mixing/link-prediction structure
(assortativity, resource allocation). Every entry here follows the
repo's exactness conventions:

* rank statistics never sort individual rows — values aggregate to a
  per-value histogram first, and the midrank identity works at 2x
  scale so ranks stay integer (the roc_auc_eval trick);
* float outputs are produced by an identical sequence of
  correctly-rounded IEEE operations on exact integer-valued operands
  on both engines (the welch_t_test_ab argument), then quantized with
  round_half_up;
* products that can exceed 2^63 at scale are cast to decimal(38,0) on
  the engine and HUGEINT in the oracle BEFORE multiplying.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.hashing import duck_md5_long
from tiny_etl_multiproc_bigdata_spark.functions.jsonpath import (
    duck_json_bigint,
    json_bigint,
)
from tiny_etl_multiproc_bigdata_spark.functions.numerics import in_grid_domain
from tiny_etl_multiproc_bigdata_spark.functions.timedomain import (
    epoch_us_ntz,
    in_time_domain,
    time_domain_sql,
)
from tiny_etl_multiproc_bigdata_spark.functions.rounding import (
    exact_round,
    round_half_up,
)
from tiny_etl_multiproc_bigdata_spark.functions.text import DUCK_TOKS
from tiny_etl_multiproc_bigdata_spark.plans.registry import register


# ---- Mann-Whitney U rank test ---------------------------------------------


@register(
    "mann_whitney_u",
    oracle="""
    WITH scored AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
             o_orderpriority = '1-URGENT' AS pos
      FROM orders
    ),
    per_v AS (
      SELECT v, CAST(count(*) AS BIGINT) AS n_s,
             CAST(count(*) FILTER (pos) AS BIGINT) AS n_pos_s
      FROM scored GROUP BY v
    ),
    ranked AS (
      SELECT v, n_s, n_pos_s,
             COALESCE(sum(n_s) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below
      FROM per_v
    ),
    s AS (
      SELECT CAST(sum(n_pos_s * (2 * below + n_s + 1)) AS BIGINT) AS r2,
             CAST(sum(n_pos_s) AS BIGINT) AS na,
             CAST(sum(n_s - n_pos_s) AS BIGINT) AS nn,
             CAST(sum(CAST(n_s AS HUGEINT) * n_s * n_s - n_s)
                  AS DOUBLE) AS tt
      FROM ranked
    )
    SELECT na AS n_urgent, nn AS n_other,
           CAST(r2 - na * (na + 1) AS BIGINT) AS u2_stat,
           (floor((CAST(r2 - na * (na + 1) AS DOUBLE)
                   - CAST(na AS DOUBLE) * CAST(nn AS DOUBLE))
                  / (2 * sqrt(CAST(na AS DOUBLE) * CAST(nn AS DOUBLE)
                       * ((CAST(na + nn AS DOUBLE) + 1)
                          - tt / (CAST(na + nn AS DOUBLE)
                                  * (CAST(na + nn AS DOUBLE) - 1)))
                       / 12))
                  * 10000 + 0.5) / 10000) AS z
    FROM s
    """,
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test for a location shift of URGENT-priority
    order totals vs everything else — the nonparametric sibling of
    welch_t_test_ab (no normality assumption), and the estimator
    underlying roc_auc_eval generalized to an explicit two-sample
    test with the tie-corrected normal approximation. Values quantize
    to exact cents, aggregate to a per-value histogram, and the
    2x-scaled midrank identity keeps the rank sum integer:
    U2 = 2U = R2 - na(na+1). The z statistic divides the centered U2
    by twice the tie-corrected sigma — every float op is the same
    correctly-rounded IEEE expression on exact operands on both
    engines, so no ulp flag is needed (sqrt included). The tie term
    sum(t^3 - t) multiplies as int128/decimal BEFORE the sum because
    a single hot value's cube overflows int64 long before int128.

    100 TB shape: one partial-agg'd histogram shuffle on the cents key
    (bounded by the representable price range), one ordered prefix
    window over that bounded table, one scalar aggregate. U2 <= 2*na*nn
    stays inside int64 through ~3e9 rows per side; past that the u2
    column is the decimal switch documented here."""
    o = table(spark, sf_dir, "orders")
    scored = o.select(
        exact_round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").alias("pos"),
    )
    per_v = scored.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s"),
        F.count_if(F.col("pos")).cast("bigint").alias("n_pos_s"),
    )
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.withColumn(
        "below", F.coalesce(F.sum("n_s").over(wb), F.lit(0))
    )
    s = ranked.agg(
        F.sum(F.col("n_pos_s") * (2 * F.col("below") + F.col("n_s") + 1))
        .cast("bigint")
        .alias("r2"),
        F.sum("n_pos_s").cast("bigint").alias("na"),
        F.sum(F.col("n_s") - F.col("n_pos_s")).cast("bigint").alias("nn"),
        F.sum(
            F.col("n_s").cast("decimal(38,0)") * F.col("n_s") * F.col("n_s")
            - F.col("n_s")
        )
        .cast("double")
        .alias("tt"),
    )
    na, nn = F.col("na").cast("double"), F.col("nn").cast("double")
    big_n = na + nn
    u2 = F.col("r2") - F.col("na") * (F.col("na") + 1)
    sigma = F.sqrt(
        na * nn * ((big_n + 1) - F.col("tt") / (big_n * (big_n - 1))) / 12
    )
    return s.select(
        F.col("na").alias("n_urgent"),
        F.col("nn").alias("n_other"),
        u2.cast("bigint").alias("u2_stat"),
        round_half_up((u2.cast("double") - na * nn) / (2 * sigma), 4).alias(
            "z"
        ),
    )


# ---- two-sample Kolmogorov-Smirnov ----------------------------------------


@register(
    "ks_two_sample",
    oracle="""
    WITH scored AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
             l_returnflag = 'R' AS pos
      FROM lineitem
    ),
    per_v AS (
      SELECT v, CAST(count(*) FILTER (pos) AS BIGINT) AS ca,
             CAST(count(*) FILTER (NOT pos) AS BIGINT) AS cb
      FROM scored GROUP BY v
    ),
    cdf AS (
      SELECT sum(ca) OVER w AS acc_a, sum(cb) OVER w AS acc_b
      FROM per_v
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                   CAST(sum(cb) AS BIGINT) AS nb FROM per_v)
    SELECT t.na AS n_returned, t.nb AS n_other,
           CAST(max(abs(c.acc_a * t.nb - c.acc_b * t.na)) AS BIGINT)
             AS d_num,
           (floor(CAST(max(abs(c.acc_a * t.nb - c.acc_b * t.na)) AS DOUBLE)
                  / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE))
                  * 1000000 + 0.5) / 1000000) AS d_stat
    FROM cdf c, tot t
    GROUP BY t.na, t.nb
    """,
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    extended-price distributions of returned ('R') and non-returned
    lineitems: D = max_v |F_a(v) - F_b(v)|, the standard
    distribution-drift test (distribution_drift_psi bins and
    approximates; this is the exact sup-norm twin). The empirical CDFs
    never materialize per-row ranks: values aggregate to a per-cent
    histogram, one ordered window computes both running counts, and D
    stays integer as the cross-multiplied numerator
    |A_v*nb - B_v*na| (max of exact int64 values; the division by
    na*nb happens once, on the already-maximized integer). No float
    comparison ever decides the max, so the result is bit-exact on
    both engines by construction.

    100 TB shape: identical to mann_whitney_u — histogram shuffle on a
    bounded cents key space, one window over the bounded table, one
    scalar agg. A_v*nb <= na*nb overflows int64 only past ~3e9 rows
    per side (then: decimal)."""
    li = table(spark, sf_dir, "lineitem")
    scored = li.select(
        exact_round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("v"),
        (F.col("l_returnflag") == "R").alias("pos"),
    )
    per_v = scored.groupBy("v").agg(
        F.count_if(F.col("pos")).cast("bigint").alias("ca"),
        F.count_if(~F.col("pos")).cast("bigint").alias("cb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cdf = per_v.select(
        F.sum("ca").over(w).alias("acc_a"),
        F.sum("cb").over(w).alias("acc_b"),
    )
    # max of |acc_a*nb - acc_b*na| needs the totals first: broadcast
    # them back over the bounded cdf table, then one scalar max.
    tot = per_v.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    dn = F.abs(
        F.col("acc_a") * F.col("nb") - F.col("acc_b") * F.col("na")
    )
    return (
        cdf.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(F.max(dn).cast("bigint").alias("d_num"))
        .select(
            F.col("na").alias("n_returned"),
            F.col("nb").alias("n_other"),
            "d_num",
            round_half_up(
                F.col("d_num").cast("double")
                / (F.col("na").cast("double") * F.col("nb").cast("double")),
                6,
            ).alias("d_stat"),
        )
    )


# ---- Spearman rank correlation --------------------------------------------


@register(
    "spearman_rho",
    oracle="""
    WITH pairs AS (
      SELECT c.c_custkey,
             CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS x,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    hx AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY x),
    rx AS (
      SELECT x, 2 * COALESCE(sum(c) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + c + 1 AS r2
      FROM hx
    ),
    hy AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY y),
    ry AS (
      SELECT y, 2 * COALESCE(sum(c) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + c + 1 AS r2
      FROM hy
    ),
    ranked AS (
      SELECT rx.r2 AS a, ry.r2 AS b
      FROM pairs JOIN rx ON pairs.x = rx.x JOIN ry ON pairs.y = ry.y
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(a) AS DOUBLE) AS sa, CAST(sum(b) AS DOUBLE) AS sb,
             CAST(sum(a * a) AS DOUBLE) AS saa,
             CAST(sum(b * b) AS DOUBLE) AS sbb,
             CAST(sum(a * b) AS DOUBLE) AS sab
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           (floor((n * sab - sa * sb)
                  / (sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb))
                  * 1000000 + 0.5) / 1000000) AS rho
    FROM s
    """,
)
def spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a customer's account balance
    and their total order spend — the monotone-association twin of
    agg_correlation's Pearson (rank correlation is what robust feature
    screens use, immune to the heavy right tail of spend). Ranks are
    proper tie-midranks, computed WITHOUT sorting customers: each
    variable aggregates to a value histogram, the 2x-scaled midrank
    r2 = 2*below + c + 1 stays integer, and two rank-back joins
    annotate each pair. Spearman is then Pearson on the midranks (the
    2x scales cancel), from exact integer power sums cast once to
    double — same correctly-rounded-IEEE determinism argument as
    agg_moment_stats, no ulp flag.

    100 TB shape: the per-customer pair build is the only corpus-scale
    shuffle; each histogram is bounded by its distinct-value count and
    the rank-back joins shuffle on the value key (broadcastable while
    the histogram is small, hash join past that). Power sums of
    midranks overflow int64 past ~10^6 customers per engine-doc note:
    the decimal(38,0) switch is one cast at the marked line."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    pairs = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy(
            "c_custkey",
            exact_round(F.col("c_acctbal") * 100, 0)
            .cast("bigint")
            .alias("x"),
        )
        .agg(
            F.sum(
                exact_round(F.col("o_totalprice") * 100, 0).cast("bigint")
            )
            .cast("bigint")
            .alias("y")
        )
        .localCheckpoint(eager=True)  # 3 consumers: hist x, hist y, join-back
    )
    wb = lambda col: Window.orderBy(col).rowsBetween(  # noqa: E731
        Window.unboundedPreceding, -1
    )

    def rank2(col: str) -> DataFrame:
        h = pairs.groupBy(col).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        return h.select(
            col,
            (
                2 * F.coalesce(F.sum("c").over(wb(col)), F.lit(0))
                + F.col("c")
                + 1
            ).alias("r2"),
        )

    rx = rank2("x").withColumnRenamed("r2", "a")
    ry = rank2("y").withColumnRenamed("r2", "b")
    ranked = pairs.join(rx, "x").join(ry, "y")
    # int64 is exact here; decimal(38,0) is the documented switch at
    # >1e6 customers (midrank^2 * n exceeds 2^63).
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("a").cast("double").alias("sa"),
        F.sum("b").cast("double").alias("sb"),
        F.sum(F.col("a") * F.col("a")).cast("double").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("double").alias("sbb"),
        F.sum(F.col("a") * F.col("b")).cast("double").alias("sab"),
    )
    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    rho = (n * F.col("sab") - sa * sb) / (
        F.sqrt(n * F.col("saa") - sa * sa)
        * F.sqrt(n * F.col("sbb") - sb * sb)
    )
    return s.select(
        n.cast("bigint").alias("n_customers"),
        round_half_up(rho, 6).alias("rho"),
    )


# ---- autocorrelation function of daily revenue ----------------------------

_ACF_MAX_LAG = 7


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, r): order revenue per o_orderdate in exact integer cents —
    the day series of autocorrelation_lags, runs_test_randomness,
    pinball_loss_eval and windows.bollinger_bands."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(exact_round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("r")
        )
    )


# DuckDB twin of _daily_revenue, a CTE named daily
_DUCK_DAILY = """daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS r
      FROM orders GROUP BY o_orderdate
    )"""


@register(
    "autocorrelation_lags",
    oracle=f"""
    WITH {_DUCK_DAILY},
    idx AS (SELECT row_number() OVER (ORDER BY d) AS t, r FROM daily),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(r) AS BIGINT) AS s FROM idx),
    dev AS (
      SELECT t, CAST(tot.n * idx.r - tot.s AS BIGINT) AS dv
      FROM idx, tot
    ),
    den AS (
      SELECT CAST(sum(CAST(dv AS HUGEINT) * dv) AS DOUBLE) AS dd FROM dev
    ),
    num AS (
      SELECT b.t - a.t AS lag_k, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CAST(a.dv AS HUGEINT) * b.dv) AS DOUBLE) AS nm
      FROM dev a JOIN dev b
        ON b.t - a.t BETWEEN 1 AND {_ACF_MAX_LAG}
      GROUP BY 1
    )
    SELECT CAST(lag_k AS BIGINT) AS lag_k, n_pairs,
           (floor(nm / dd * 1000000 + 0.5) / 1000000) AS acf
    FROM num, den
    """,
)
def autocorrelation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily order-revenue series at
    lags 1..{_ACF_MAX_LAG} — the serial-dependence diagnostic behind
    seasonal_decompose_daily (which ASSUMES a weekly cycle; the ACF is
    how you'd detect one). Uses the standard biased estimator
    rho(k) = sum_t dv_t*dv_(t+k) / sum_t dv_t^2 with N-scaled integer
    deviations dv_t = N*r_t - S (multiplying through by N keeps the
    mean subtraction exact without rationals; the N^2 factors cancel
    in the ratio). Deviation products are int128/decimal — a day's
    scaled revenue squares past int64 even at sf0.1.

    100 TB shape: the corpus-scale work is ONE partial-agg'd groupBy
    to day grain; the series itself is bounded (~2,400 rows for
    TPC-H's 7-year calendar) and is localCheckpointed once, so the
    row_number sort, the self-join band, and the scalar denominator
    all run on a table that fits in a single task. The lag join is a
    1-to-{_ACF_MAX_LAG} band self-join on consecutive integers —
    never a cross product."""
    daily = _daily_revenue(spark, sf_dir)
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("t"), "r"
    )
    tot = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("s"),
    )
    dev = (
        idx.crossJoin(F.broadcast(tot))
        .select(
            "t", (F.col("n") * F.col("r") - F.col("s")).alias("dv")
        )
        .localCheckpoint(eager=True)  # 3 consumers: denominator + 2 join arms
    )
    den = dev.agg(
        F.sum(F.col("dv").cast("decimal(38,0)") * F.col("dv"))
        .cast("double")
        .alias("dd")
    )
    a = dev.select(F.col("t").alias("ta"), F.col("dv").alias("dva"))
    b = dev.select(F.col("t").alias("tb"), F.col("dv").alias("dvb"))
    num = (
        a.join(
            b,
            (F.col("tb") - F.col("ta") >= 1)
            & (F.col("tb") - F.col("ta") <= _ACF_MAX_LAG),
        )
        .groupBy((F.col("tb") - F.col("ta")).alias("lag_k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col("dva").cast("decimal(38,0)") * F.col("dvb"))
            .cast("double")
            .alias("nm"),
        )
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("lag_k").cast("bigint").alias("lag_k"),
        "n_pairs",
        round_half_up(F.col("nm") / F.col("dd"), 6).alias("acf"),
    )


# ---- degree assortativity of the purchase graph ---------------------------


@register(
    "degree_assortativity",
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    dc AS (SELECT c, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY c),
    ds AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY s),
    xy AS (
      SELECT dc.d AS x, ds.d AS y
      FROM e JOIN dc ON e.c = dc.c JOIN ds ON e.s = ds.s
    ),
    st AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy,
             CAST(sum(x * y) AS DOUBLE) AS sxy
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_edges,
           (floor((n * sxy - sx * sy)
                  / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                  * 1000000 + 0.5) / 1000000) AS assortativity
    FROM st
    """,
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer->supplier purchase graph
    (Newman 2002): the Pearson correlation between source out-degree
    and target in-degree across edges — negative means hubs attach to
    leaves (the typical bipartite marketplace shape), positive means
    hub-to-hub mixing. This is the one-number structural summary the
    graph suite (pagerank/k-core/triangles) was missing: it predicts
    which of those algorithms will skew (disassortative graphs
    concentrate triangles and k-core mass on few nodes). Exact integer
    degree sums -> the agg_correlation power-sum form, double-cast
    once.

    100 TB shape: one distinct-edge shuffle (the corpus-scale step),
    two partial-agg'd degree tables joined back on their own keys —
    the degree tables are node-cardinality, broadcastable for the
    supplier side and hash-joined for the customer side; the Pearson
    sums are one scalar aggregate. Degree products overflow int64 only
    past ~3e9-degree hubs (then: decimal, same one-cast switch as
    spearman_rho)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=True)  # 3 consumers: 2 degree tables + edges
    )
    dc = e.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    ds = e.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    xy = e.join(dc, "c").join(ds, "s")
    st = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    r = (n * F.col("sxy") - sx * sy) / (
        F.sqrt(n * F.col("sxx") - sx * sx)
        * F.sqrt(n * F.col("syy") - sy * sy)
    )
    return st.select(
        n.cast("bigint").alias("n_edges"),
        round_half_up(r, 6).alias("assortativity"),
    )


# ---- resource-allocation link prediction ----------------------------------

_RA_DEG_CAP = 25
_RA_SCALE = 100_000_000
_RA_TOPK = 20


@register(
    "resource_allocation_linkpred",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (SELECT c, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY c),
    kept AS (
      SELECT e.c, e.s, deg.d FROM e JOIN deg ON e.c = deg.c
      WHERE deg.d <= {_RA_DEG_CAP}
    ),
    scored AS (
      SELECT a.s AS supp_a, b.s AS supp_b,
             CAST(sum({_RA_SCALE} // a.d) AS BIGINT) AS ra_e8,
             CAST(count(*) AS BIGINT) AS common_customers
      FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2
    )
    SELECT supp_a, supp_b, common_customers, ra_e8
    FROM scored
    ORDER BY ra_e8 DESC, supp_a ASC, supp_b ASC
    LIMIT {_RA_TOPK}
    """,
)
def resource_allocation_linkpred(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Resource-allocation link prediction (Zhou, Lu & Zhang 2009)
    over supplier pairs: RA(a,b) = sum over shared customers z of
    1/deg(z) — the strongest of the classic local link-prediction
    indices, here predicting which supplier pairs share a latent
    market. Unlike Adamic-Adar (1/log deg) the RA kernel is a pure
    rational, so each term is the INTEGER floor division 1e8 // deg
    and the score is bit-exact on both engines with no float anywhere.
    Top-{_RA_TOPK} by (score, pair) is fully deterministic.

    100 TB shape: the co-occurrence self-join fans out quadratically
    in customer degree, so customers above {_RA_DEG_CAP} suppliers are
    dropped BEFORE pairing — the same frequent-blocker cap the
    similarity-join literature (and dedup_ngram_jaccard's df-cap) uses,
    bounding per-customer fan-out at C({_RA_DEG_CAP},2) pairs. High-
    degree customers carry negligible RA mass anyway (each contributes
    <= 1e8/{_RA_DEG_CAP + 1} per pair) — the cap is principled, not
    just cheap. One edge shuffle (collect_set dedupes map-side), a
    map-side C(d,2) pair explode, one pair-key shuffle of partials."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # One exchange replaces the old distinct + degree join + pair
    # self-join chain: collect_set dedupes (c, s) map-side, the degree
    # is the set size (+1 if a NULL supplier row existed — DISTINCT
    # keeps exactly one NULL, and the old per-c count included it),
    # and the bounded C(d,2) pair fan-out explodes map-side from the
    # sorted set, so no edge table is ever shuffled twice. NULL c rows
    # never paired before (equi-join key), so they drop up front.
    per_c = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .filter(F.col("c").isNotNull())
        .groupBy("c")
        .agg(
            F.sort_array(F.collect_set("s")).alias("ss"),
            F.max(F.col("s").isNull()).alias("hn"),
        )
        .select(
            "ss",
            (F.size("ss") + F.col("hn").cast("int")).cast("bigint").alias("d"),
        )
        .filter(F.col("d") <= _RA_DEG_CAP)
    )
    pair_expr = F.expr(
        "flatten(transform(ss, (x, i) -> "
        "transform(slice(ss, i + 2, size(ss) - i - 1), "
        "y -> struct(x as supp_a, y as supp_b))))"
    )
    return (
        per_c.select(
            F.explode(pair_expr).alias("p"),
            F.expr(f"{_RA_SCALE} div d").alias("t"),
        )
        .groupBy(
            F.col("p.supp_a").alias("supp_a"),
            F.col("p.supp_b").alias("supp_b"),
        )
        .agg(
            F.sum("t").cast("bigint").alias("ra_e8"),
            F.count(F.lit(1)).cast("bigint").alias("common_customers"),
        )
        .select("supp_a", "supp_b", "common_customers", "ra_e8")
        .orderBy(F.desc("ra_e8"), F.asc("supp_a"), F.asc("supp_b"))
        .limit(_RA_TOPK)
    )


# ---- grouped Theil-Sen robust slope ----------------------------------------

# Pair-stage sample budget (r10, found by the sf1 cardinality audit):
# (brand, type) families are sliced from the part TABLE by dimension
# values, so |family| grows linearly with sf and the pair stage grows
# QUADRATICALLY — measured 1,333,422 pairs at sf0.1 -> 134,242,200 at
# sf1 (x100.7), the caliper class of silent scale stall. The estimator
# therefore runs on a deterministic sample: the _TS_FAMILY_CAP
# smallest-partkey points per family (sampled Theil-Sen, the standard
# scaling form — the median-of-pairwise-slopes over a size-K sample is
# a consistent slope estimator with breakdown unchanged). The cap is
# chosen ABOVE the largest sf0.1 family (165), so every committed
# driver-scale value is bit-identical to the uncapped r01-r09 entry;
# above the cap, pairs are bounded at C(200,2) per family regardless
# of sf. ONE knob feeds engine and oracle (the winnowing lockstep
# convention).
_TS_FAMILY_CAP = 200


@register(
    "theil_sen_grouped",
    oracle=f"""
    WITH ranked AS (
      SELECT p_brand, p_type, p_partkey,
             CAST(p_size AS BIGINT) AS x,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS y,
             row_number() OVER (PARTITION BY p_brand, p_type
                                ORDER BY p_partkey ASC) AS rn
      FROM part
    ),
    p AS (
      SELECT p_brand, p_type, p_partkey, x, y FROM ranked
      WHERE rn <= {_TS_FAMILY_CAP}
    ),
    slopes AS (
      SELECT a.p_brand, a.p_type,
             CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS m
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.p_type = b.p_type
       AND a.p_partkey < b.p_partkey AND a.x <> b.x
    )
    SELECT p_brand, p_type, CAST(count(*) AS BIGINT) AS n_slopes,
           (floor(quantile_cont(m, 0.5) * 10000 + 0.5) / 10000)
             AS theil_sen_slope
    FROM slopes
    GROUP BY p_brand, p_type
    HAVING count(*) >= 3
    """,
)
def theil_sen_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of retail price vs size within each
    (brand, type) part family: the median of all pairwise slopes
    — 29%-breakdown-point regression, the robust twin of
    grouped_ols_trend (whose least squares one fat-finger price
    outlier can drag arbitrarily). Slopes are single IEEE divisions of
    exact integer deltas (cents over size units), identical on both
    engines; the median uses the same linear-interpolation definition
    Spark `percentile` and DuckDB `quantile_cont` share (the
    agg_percentiles precedent), on operands that are themselves
    deterministic doubles.

    100 TB shape (r10 revision — the sf1 cardinality audit measured
    the original "families are dimension-sized" claim WRONG at scale:
    families grow with the part table, pairs grew x100.7 from sf0.1
    to sf1): the pair stage now runs on the 200 smallest-partkey
    points per family (sampled Theil-Sen; _TS_FAMILY_CAP is the knob,
    shared with the oracle), so per-group fan-out is bounded at
    C(200, 2) at ANY sf —
    deterministic, oracle in lockstep via the shared knob, and
    bit-identical to the uncapped form at every committed driver
    scale (max sf0.1 family = 165 < cap 200). One shuffle on the
    family key (the rank window and the
    pair join share it), one partial-agg'd median per family."""
    w_fam = Window.partitionBy("p_brand", "p_type").orderBy(
        F.asc("p_partkey")
    )
    p = (
        table(spark, sf_dir, "part")
        .select(
            "p_brand",
            "p_type",
            "p_partkey",
            F.col("p_size").cast("bigint").alias("x"),
            exact_round(F.col("p_retailprice") * 100, 0)
            .cast("bigint")
            .alias("y"),
        )
        .withColumn("rn", F.row_number().over(w_fam))
        .filter(F.col("rn") <= _TS_FAMILY_CAP)
        .drop("rn")
    )
    a = p.select(
        "p_brand",
        "p_type",
        F.col("p_partkey").alias("ka"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    )
    b = p.select(
        "p_brand",
        "p_type",
        F.col("p_partkey").alias("kb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    slopes = (
        a.join(b, ["p_brand", "p_type"])
        .where((F.col("ka") < F.col("kb")) & (F.col("xa") != F.col("xb")))
        .select(
            "p_brand",
            "p_type",
            (
                (F.col("yb") - F.col("ya")).cast("double")
                / (F.col("xb") - F.col("xa")).cast("double")
            ).alias("m"),
        )
    )
    return (
        slopes.groupBy("p_brand", "p_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_slopes"),
            round_half_up(F.percentile("m", F.lit(0.5)), 4).alias(
                "theil_sen_slope"
            ),
        )
        .filter(F.col("n_slopes") >= 3)
    )


# ---- paired-classifier evaluation: McNemar + Cohen's kappa -----------------
#
# Two zero-artifact document classifiers over the same corpus:
#   A: the hashed linear classifier's sign (quality._hlc_weights — logit > 0)
#   B: the length heuristic n_chars >= _LEN_THRESH
# against the source-target label roc_auc_eval uses. Both entries share
# the per-doc prediction build (one token scan + one groupBy).

_LEN_THRESH = 500


def _paired_preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiny_etl_multiproc_bigdata_spark.plans.quality import (
        _DSIR_TARGET,
        _hlc_weights,
    )

    d = table(spark, sf_dir, "documents")
    logits = (
        _hlc_weights(d)
        .groupBy("doc_id")
        .agg(F.sum("w").cast("bigint").alias("logit"))
    )
    return d.select("doc_id", "source", "n_chars").join(
        logits, "doc_id", "left"
    ).select(
        (F.coalesce(F.col("logit"), F.lit(0)) > 0).alias("pred_a"),
        (F.col("n_chars") >= _LEN_THRESH).alias("pred_b"),
        (F.col("source") == _DSIR_TARGET).alias("pos"),
    )


def _paired_oracle_cte() -> str:
    from tiny_etl_multiproc_bigdata_spark.plans.quality import (
        _DSIR_TARGET,
        _DUCK_HLC_W,
    )

    return f"""
    toks AS (
      SELECT doc_id, unnest({DUCK_TOKS}) AS tok FROM documents
    ),
    logits AS (
      SELECT doc_id, CAST(sum({_DUCK_HLC_W}) AS BIGINT) AS logit
      FROM toks GROUP BY doc_id
    ),
    preds AS (
      SELECT COALESCE(l.logit, 0) > 0 AS pred_a,
             d.n_chars >= {_LEN_THRESH} AS pred_b,
             d.source = '{_DSIR_TARGET}' AS pos
      FROM documents d LEFT JOIN logits l ON d.doc_id = l.doc_id
    )"""


@register(
    "mcnemar_paired_test",
    oracle=f"""
    WITH {_paired_oracle_cte()},
    cnt AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (pred_a = pos AND pred_b <> pos)
                  AS BIGINT) AS b,
             CAST(count(*) FILTER (pred_a <> pos AND pred_b = pos)
                  AS BIGINT) AS c
      FROM preds
    )
    SELECT n, b AS a_only_correct, c AS b_only_correct,
           (floor((abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1)
                  * (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1)
                  / nullif(CAST(b + c AS DOUBLE), 0)
                  * 10000 + 0.5) / 10000) AS chi2_cc
    FROM cnt
    """,
)
def mcnemar_paired_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on PAIRED classifier errors: does the hashed
    linear classifier (A) beat the document-length heuristic (B) on
    the same documents? Accuracy deltas on paired predictions need the
    paired test — only the discordant counts b (A right, B wrong) and
    c (B right, A wrong) carry information, and the continuity-
    corrected statistic (|b-c|-1)^2/(b+c) is one exact integer-operand
    expression — bit-deterministic, no ulp flag. Completes the eval
    tier: roc_auc_eval scores one model, this COMPARES two on the
    same rows (the A/B question model iteration actually asks).

    100 TB shape: prediction A is the hashed classifier's map-only
    plan (one token scan, one per-doc groupBy), B and the label are
    row-local column expressions, and the test statistic is one scalar
    aggregate of the paired table — nothing after the per-doc join is
    corpus-scale."""
    preds = _paired_preds(spark, sf_dir)
    cnt = preds.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(
            (F.col("pred_a") == F.col("pos"))
            & (F.col("pred_b") != F.col("pos"))
        )
        .cast("bigint")
        .alias("b"),
        F.count_if(
            (F.col("pred_a") != F.col("pos"))
            & (F.col("pred_b") == F.col("pos"))
        )
        .cast("bigint")
        .alias("c"),
    )
    diff = F.abs(F.col("b").cast("double") - F.col("c").cast("double")) - 1
    return cnt.select(
        "n",
        F.col("b").alias("a_only_correct"),
        F.col("c").alias("b_only_correct"),
        round_half_up(
            diff * diff / F.nullif((F.col("b") + F.col("c")).cast("double"), F.lit(0.0)),
            4,
        ).alias("chi2_cc"),
    )


@register(
    "cohens_kappa_agreement",
    oracle=f"""
    WITH {_paired_oracle_cte()},
    cnt AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (pred_a AND pred_b) AS BIGINT) AS n11,
             CAST(count(*) FILTER (pred_a AND NOT pred_b) AS BIGINT) AS n10,
             CAST(count(*) FILTER (NOT pred_a AND pred_b) AS BIGINT) AS n01,
             CAST(count(*) FILTER (NOT pred_a AND NOT pred_b) AS BIGINT)
               AS n00
      FROM preds
    )
    SELECT n, n11 AS both_keep, n00 AS both_drop,
           (floor((CAST(n11 + n00 AS DOUBLE) / n
                   - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                      + CAST(n00 + n01 AS DOUBLE) * CAST(n00 + n10 AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                  / nullif(1 - (CAST(n11 + n10 AS DOUBLE)
                                * CAST(n11 + n01 AS DOUBLE)
                                + CAST(n00 + n01 AS DOUBLE)
                                * CAST(n00 + n10 AS DOUBLE))
                               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 0)
                  * 1000000 + 0.5) / 1000000) AS kappa
    FROM cnt
    """,
)
def cohens_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the two keep/drop classifiers of
    mcnemar_paired_test — chance-corrected agreement, the number
    annotation pipelines report before trusting a cheap heuristic as
    a stand-in for an expensive model (kappa ~ 0 here IS the finding:
    md5 weights and length agree only by chance). kappa =
    (po - pe)/(1 - pe) from the four exact cell counts; every float op
    is the same IEEE expression on integer-valued operands on both
    engines, nullif-guarded for the degenerate all-one-cell corpus.

    100 TB shape: identical to mcnemar_paired_test — the only
    corpus-scale stage is the hashed classifier's one-scan prediction
    build; the kappa arithmetic runs on one 5-column row."""
    preds = _paired_preds(spark, sf_dir)
    cnt = preds.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("pred_a") & F.col("pred_b"))
        .cast("bigint")
        .alias("n11"),
        F.count_if(F.col("pred_a") & ~F.col("pred_b"))
        .cast("bigint")
        .alias("n10"),
        F.count_if(~F.col("pred_a") & F.col("pred_b"))
        .cast("bigint")
        .alias("n01"),
        F.count_if(~F.col("pred_a") & ~F.col("pred_b"))
        .cast("bigint")
        .alias("n00"),
    )
    # nullif(n, 0): an EMPTY corpus must yield a NULL kappa row like
    # the oracle (DuckDB's x/0 is NULL), not an ANSI DIVIDE_BY_ZERO
    # crash (r11 empty-input audit)
    n = F.nullif(F.col("n").cast("double"), F.lit(0.0))
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    pe = (
        (F.col("n11") + F.col("n10")).cast("double")
        * (F.col("n11") + F.col("n01")).cast("double")
        + (F.col("n00") + F.col("n01")).cast("double")
        * (F.col("n00") + F.col("n10")).cast("double")
    ) / (n * n)
    return cnt.select(
        "n",
        F.col("n11").alias("both_keep"),
        F.col("n00").alias("both_drop"),
        round_half_up((po - pe) / F.nullif(1 - pe, F.lit(0.0)), 6).alias(
            "kappa"
        ),
    )


# ---- Cramer's V effect size -------------------------------------------------


@register(
    "cramers_v_effect",
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source
    ),
    m AS (
      SELECT lang, source, o,
             sum(o) OVER (PARTITION BY lang) AS rt,
             sum(o) OVER (PARTITION BY source) AS ct,
             sum(o) OVER () AS n
      FROM cells
    ),
    contrib AS (
      SELECT n, lang, source,
             CAST(floor(
               CAST(n * o - rt * ct AS DOUBLE)
               * CAST(n * o - rt * ct AS DOUBLE)
               / CAST(n AS DOUBLE) / CAST(rt AS DOUBLE) / CAST(ct AS DOUBLE)
               * 1000000 + 0.5) AS BIGINT) AS chi_e6
      FROM m
    ),
    agg AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             CAST(count(DISTINCT lang) AS BIGINT) AS r_langs,
             CAST(count(DISTINCT source) AS BIGINT) AS c_sources,
             CAST(sum(chi_e6) AS BIGINT) AS chi2_e6
      FROM contrib
    )
    SELECT n, r_langs, c_sources, chi2_e6,
           (floor(sqrt(CAST(chi2_e6 AS DOUBLE) / 1000000
                       / (CAST(n AS DOUBLE)
                          * (least(r_langs, c_sources) - 1)))
                  * 1000000 + 0.5) / 1000000) AS cramers_v
    FROM agg
    """,
)
def cramers_v_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V effect size for the lang x source association in the
    document corpus — chi_square_independence reports significance
    (which any association reaches at corpus scale: p-values saturate
    long before 100 TB); V = sqrt(chi2 / (n*(min(r,c)-1))) is the
    scale-free [0,1] strength number that stays meaningful, which is
    why corpus audits report it instead. Same exact-contingency
    identity as chi_square_independence ((n*o - rt*ct)^2/(n*rt*ct),
    per-cell quantized to micro-units before the cross-cell sum), one
    extra deterministic sqrt.

    100 TB shape: one partial-agg'd groupBy to the |langs|x|sources|
    contingency table; all windows and the V arithmetic run on that
    dimension-sized table."""
    d = table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    m = cells.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(Window.partitionBy("lang")).alias("rt"),
        F.sum("o").over(Window.partitionBy("source")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    num = (F.col("n") * F.col("o") - F.col("rt") * F.col("ct")).cast("double")
    contrib = m.select(
        "n",
        "lang",
        "source",
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
    agg = contrib.agg(
        F.max("n").cast("bigint").alias("n"),
        F.count_distinct("lang").cast("bigint").alias("r_langs"),
        F.count_distinct("source").cast("bigint").alias("c_sources"),
        F.sum("chi_e6").cast("bigint").alias("chi2_e6"),
    )
    v = F.sqrt(
        F.col("chi2_e6").cast("double")
        / 1_000_000
        / (
            F.col("n").cast("double")
            * (F.least("r_langs", "c_sources") - 1)
        )
    )
    return agg.select(
        "n",
        "r_langs",
        "c_sources",
        "chi2_e6",
        round_half_up(v, 6).alias("cramers_v"),
    )


# ---- Zipf rank-frequency slope ----------------------------------------------

_ZIPF_K = 500  # fit over the top-K vocabulary ranks


@register(
    "zipf_fit_slope",
    ulp_sensitive=True,
    oracle=None,  # set below: needs quality helpers at import time
)
def zipf_fit_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token frequency distribution: OLS
    slope of log2(freq) on log2(rank) over the top-{K} vocabulary
    ranks — natural text sits near -1; a corpus drifting toward 0
    (too flat: boilerplate spam) or below -1.5 (too steep: template
    repetition) fails the audit. This is the distribution-level
    companion of token_entropy_score (per-doc) and text_rarity_score
    (per-token). Each log2 is quantized to integer microbits per
    VOCABULARY ROW before any sum (the bigram_logprob convention), so
    the OLS power sums are exact integer arithmetic; the single
    1-ULP-sensitive step is log2 itself — hence the ulp flag. Rank
    ties are impossible (rank is row_number over the deterministic
    (freq DESC, token ASC) order).

    100 TB shape: one token-histogram shuffle (vocabulary-bounded);
    the rank window and the {K}-row OLS run on the bounded vocabulary
    table. The global row_number sort is over the vocabulary, never
    the corpus."""
    from tiny_etl_multiproc_bigdata_spark.plans.quality import _toks

    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(_toks()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    ranked = freq.select(
        F.row_number()
        .over(Window.orderBy(F.desc("f"), F.asc("tok")))
        .alias("rank"),
        "f",
    ).filter(F.col("rank") <= _ZIPF_K)
    pts = ranked.select(
        F.floor(F.log2(F.col("rank").cast("double")) * 1_000_000 + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
        F.floor(F.log2(F.col("f").cast("double")) * 1_000_000 + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    slope = (n * F.col("sxy") - sx * sy) / (n * F.col("sxx") - sx * sx)
    return s.select(
        n.cast("bigint").alias("n_ranks"),
        round_half_up(slope, 4).alias("zipf_slope"),
    )


def _zipf_oracle() -> str:
    return f"""
    WITH freq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS f
      FROM (SELECT unnest({DUCK_TOKS}) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT row_number() OVER (ORDER BY f DESC, tok ASC) AS rank, f
      FROM freq QUALIFY rank <= {_ZIPF_K}
    ),
    pts AS (
      SELECT CAST(floor(log2(CAST(rank AS DOUBLE)) * 1000000 + 0.5)
                  AS BIGINT) AS x,
             CAST(floor(log2(CAST(f AS DOUBLE)) * 1000000 + 0.5)
                  AS BIGINT) AS y
      FROM ranked
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(x * y) AS DOUBLE) AS sxy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_ranks,
           (floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 10000 + 0.5)
            / 10000) AS zipf_slope
    FROM s
    """


# late-bind the oracle (avoids importing quality's fragments before the
# registry module graph settles)
from tiny_etl_multiproc_bigdata_spark.plans.registry import REGISTRY as _REG  # noqa: E402
import dataclasses as _dc  # noqa: E402

_REG["zipf_fit_slope"] = _dc.replace(
    _REG["zipf_fit_slope"], oracle=_zipf_oracle()
)


# ---- template-skeleton clustering -------------------------------------------

_SKEL_TOPK = 20


@register(
    "template_skeleton_clusters",
    oracle=f"""
    WITH skel AS (
      SELECT doc_id,
             md5(regexp_replace(text, '[A-Za-z0-9]+', '#', 'g'))
               AS skeleton_hash,
             substr(regexp_replace(text, '[A-Za-z0-9]+', '#', 'g'), 1, 40)
               AS skeleton_prefix
      FROM documents
    )
    SELECT skeleton_hash,
           min(skeleton_prefix) AS skeleton_prefix,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc
    FROM skel
    GROUP BY skeleton_hash
    ORDER BY n_docs DESC, skeleton_hash ASC
    LIMIT {_SKEL_TOPK}
    """,
)
def template_skeleton_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template detection by punctuation skeleton: collapse every
    alphanumeric run to '#' and hash what remains — documents stamped
    from the same HTML/form/boilerplate template collide on the
    skeleton even when every word differs, which is exactly the
    near-dup class token-level MinHash is weakest on (low token
    Jaccard, identical structure). The top-{_SKEL_TOPK} clusters by
    size are the templates a curation pass would strip or cap;
    complements text_boilerplate_strip (line-level) and
    dedup_corpus_segments (span-level) at the document-structure
    level.

    100 TB shape: skeleton + md5 are map-only row expressions; ONE
    partial-agg'd groupBy on the 32-char hash key (count + two mins
    all combine map-side), then the WindowGroupLimit-free global
    top-{_SKEL_TOPK} of an already-aggregated table. Deterministic
    tie-break (count DESC, hash ASC)."""
    d = table(spark, sf_dir, "documents")
    skel_expr = F.regexp_replace(F.col("text"), "[A-Za-z0-9]+", "#")
    skel = d.select(
        "doc_id",
        F.md5(skel_expr).alias("skeleton_hash"),
        F.substring(skel_expr, 1, 40).alias("skeleton_prefix"),
    )
    return (
        skel.groupBy("skeleton_hash")
        .agg(
            F.min("skeleton_prefix").alias("skeleton_prefix"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
        )
        .orderBy(F.desc("n_docs"), F.asc("skeleton_hash"))
        .limit(_SKEL_TOPK)
    )


# ---- CUPED variance reduction ----------------------------------------------
#
# Shared design with diff_in_differences (advanced.py:1455): treatment =
# user parity, pre/post split at the window midpoint, exact cents.


@register(
    "cuped_variance_reduction",
    oracle="""
    WITH w AS (
      SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid_us
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
    ),
    per_user AS (
      SELECT user_id, user_id % 2 = 1 AS treated,
             CAST(COALESCE(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               FILTER (epoch_us(ts) <= (SELECT mid_us FROM w)), 0)
               AS BIGINT) AS x,
             CAST(COALESCE(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               FILTER (epoch_us(ts) > (SELECT mid_us FROM w)), 0)
               AS BIGINT) AS y
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(count(*) FILTER (treated) AS DOUBLE) AS nt,
             CAST(sum(x) FILTER (treated) AS DOUBLE) AS sxt,
             CAST(sum(y) FILTER (treated) AS DOUBLE) AS syt,
             CAST(count(*) FILTER (NOT treated) AS DOUBLE) AS nc,
             CAST(sum(x) FILTER (NOT treated) AS DOUBLE) AS sxc,
             CAST(sum(y) FILTER (NOT treated) AS DOUBLE) AS syc
      FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           (floor((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0)
                  * 1000000 + 0.5) / 1000000) AS theta,
           (floor((syt / nt - syc / nc) * 100 + 0.5) / 100)
             AS delta_raw_cents,
           (floor(((syt / nt - syc / nc)
                   - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0)
                     * (sxt / nt - sxc / nc)) * 100 + 0.5) / 100)
             AS delta_cuped_cents,
           (floor(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                  / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0)
                  * 10000 + 0.5) / 10000) AS var_reduction
    FROM s
    """,
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013): adjust the post-period treatment
    effect with each user's PRE-period activity as the control
    covariate — the standard experimentation-platform variance-
    reduction move. theta = cov(x,y)/var(x) pooled across cohorts;
    the adjusted delta only needs COHORT-LEVEL sums because the
    per-user adjustment is linear: mean(y - theta(x - xbar)) =
    ybar_c - theta*(xbar_c - xbar_global), so no second pass over
    users ever happens. var_reduction = corr(x,y)^2 is the fraction
    of metric variance the covariate removes. Same treatment/split
    conventions as diff_in_differences (user parity, midpoint
    timestamp); exact integer cents feed a fixed IEEE expression
    tree — bit-deterministic, no ulp flag.

    100 TB shape: ONE corpus-scale groupBy to user grain (the same
    shuffle any per-user metric pays), then a single scalar aggregate
    with filtered sums; the midpoint is a 1-row broadcast. Power sums
    of cents overflow int64 around ~10^5 users x large balances —
    the decimal(38,0) switch is the marked cast."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value")))
    t_us = epoch_us_ntz("ts")
    ep = e.withColumn("t_us", t_us)
    mid = ep.agg(F.expr("(min(t_us) + max(t_us)) div 2").alias("mid_us"))
    y_cents = exact_round(F.col("value") * 100, 0).cast("bigint")
    per_user = (
        ep.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("t_us") <= F.col("mid_us"), y_cents)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("t_us") > F.col("mid_us"), y_cents)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("y"),
        )
        .select(
            (F.col("user_id") % 2 == 1).alias("treated"), "x", "y"
        )
    )
    tr = F.col("treated")
    # int64-exact here; decimal(38,0) is the documented large-scale cast
    s = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("syy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
        F.count_if(tr).cast("double").alias("nt"),
        F.sum(F.when(tr, F.col("x"))).cast("double").alias("sxt"),
        F.sum(F.when(tr, F.col("y"))).cast("double").alias("syt"),
        F.count_if(~tr).cast("double").alias("nc"),
        F.sum(F.when(~tr, F.col("x"))).cast("double").alias("sxc"),
        F.sum(F.when(~tr, F.col("y"))).cast("double").alias("syc"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov_n = n * F.col("sxy") - sx * sy
    varx_n = n * F.col("sxx") - sx * sx
    vary_n = n * F.col("syy") - sy * sy
    theta = cov_n / F.nullif(varx_n, F.lit(0.0))
    d_raw = F.col("syt") / F.col("nt") - F.col("syc") / F.col("nc")
    d_x = F.col("sxt") / F.col("nt") - F.col("sxc") / F.col("nc")
    return s.select(
        n.cast("bigint").alias("n_users"),
        round_half_up(theta, 6).alias("theta"),
        round_half_up(d_raw, 2).alias("delta_raw_cents"),
        round_half_up(d_raw - theta * d_x, 2).alias("delta_cuped_cents"),
        round_half_up(
            (cov_n * cov_n) / F.nullif(varx_n * vary_n, F.lit(0.0)), 4
        ).alias("var_reduction"),
    )


# ---- two-feature OLS via normal equations -----------------------------------


@register(
    "ols_normal_equations",
    oracle="""
    WITH per_order AS (
      SELECT l.l_orderkey,
             CAST(count(*) AS BIGINT) AS x1,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS x2,
             CAST(floor(any_value(o.o_totalprice) * 100 + 0.5) AS BIGINT)
               AS y
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_orderkey
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x1 * x1) AS DOUBLE) AS s11,
             CAST(sum(x2 * x2) AS DOUBLE) AS s22,
             CAST(sum(x1 * x2) AS DOUBLE) AS s12,
             CAST(sum(x1 * y) AS DOUBLE) AS s1y,
             CAST(sum(x2 * y) AS DOUBLE) AS s2y,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM per_order
    ),
    c AS (
      SELECT n, s1, s2, sy,
             s11 - s1 * s1 / n AS c11,
             s22 - s2 * s2 / n AS c22,
             s12 - s1 * s2 / n AS c12,
             s1y - s1 * sy / n AS c1y,
             s2y - s2 * sy / n AS c2y,
             syy - sy * sy / n AS cyy
      FROM s
    ),
    b AS (
      SELECT n, s1, s2, sy, c1y, c2y, cyy,
             (c1y * c22 - c2y * c12) / nullif(c11 * c22 - c12 * c12, 0)
               AS b1,
             (c2y * c11 - c1y * c12) / nullif(c11 * c22 - c12 * c12, 0)
               AS b2
      FROM c
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           (floor((sy / n - b1 * (s1 / n) - b2 * (s2 / n)) * 100 + 0.5)
            / 100) AS b0_cents,
           (floor(b1 * 100 + 0.5) / 100) AS b1_cents_per_item,
           (floor(b2 * 100 + 0.5) / 100) AS b2_cents_per_qty,
           (floor((b1 * c1y + b2 * c2y) / nullif(cyy, 0) * 1000000 + 0.5)
            / 1000000) AS r2
    FROM b
    """,
)
def ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature least squares fit of an order's total price (cents)
    on its lineitem count and total quantity, solved in CLOSED FORM
    from the centered normal equations (Cramer's rule on the 2x2
    system) — multiple regression as one aggregation, the way
    distributed ML systems fit small linear models without an
    iterative solver (grouped_ols_trend is the 1-feature version;
    this is the general pattern that scales to any p where the p x p
    Gram matrix fits in a row). R^2 = (b1*S1y + b2*S2y)/Syy from the
    same sums. Integer-valued power sums feed one fixed IEEE
    expression tree — bit-deterministic.

    100 TB shape: one corpus-scale groupBy to order grain, one scalar
    aggregate of ten power sums, and the solve itself is arithmetic on
    a single row. Power sums of cents x quantities stay inside the
    double 2^53 exact window through ~10^7 orders; beyond that the
    sums go decimal(38,0) at the marked casts (values remain exact,
    only the final solve is float)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("x1"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("x2"),
            exact_round(F.any_value(F.col("o_totalprice")) * 100, 0)
            .cast("bigint")
            .alias("y"),
        )
    )
    s = per_order.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("s2y"),
        # decimal: squared cents overflow int64 already at sf0.01
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("syy"),
    )
    n = F.col("n")
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    det = F.nullif(c11 * c22 - c12 * c12, F.lit(0.0))
    b1 = (c1y * c22 - c2y * c12) / det
    b2 = (c2y * c11 - c1y * c12) / det
    return s.select(
        n.cast("bigint").alias("n_orders"),
        round_half_up(
            F.col("sy") / n - b1 * (F.col("s1") / n) - b2 * (F.col("s2") / n),
            2,
        ).alias("b0_cents"),
        round_half_up(b1, 2).alias("b1_cents_per_item"),
        round_half_up(b2, 2).alias("b2_cents_per_qty"),
        round_half_up(
            (b1 * c1y + b2 * c2y) / F.nullif(cyy, F.lit(0.0)), 6
        ).alias("r2"),
    )


# ---- partial correlation -----------------------------------------------------


@register(
    "partial_correlation",
    oracle="""
    WITH s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sx,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS sy,
             CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS sz,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sxx,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                      * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS syy,
             CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
                      * CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS szz,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS sxy,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS sxz,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                      * CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS syz
      FROM lineitem
    ),
    r AS (
      SELECT n,
             (n * sxy - sx * sy)
               / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS rxy,
             (n * sxz - sx * sz)
               / (sqrt(n * sxx - sx * sx) * sqrt(n * szz - sz * sz)) AS rxz,
             (n * syz - sy * sz)
               / (sqrt(n * syy - sy * sy) * sqrt(n * szz - sz * sz)) AS ryz
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           (floor(rxy * 1000000 + 0.5) / 1000000) AS r_xy,
           (floor((rxy - rxz * ryz)
                  / nullif(sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 0)
                  * 1000000 + 0.5) / 1000000) AS r_xy_given_z
    FROM r
    """,
)
def partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of quantity and extended price CONTROLLING
    for discount: r_xy.z = (r_xy - r_xz*r_yz)/sqrt((1-r_xz^2)(1-r_yz^2))
    — the confounder-removal step of observational analysis
    (agg_correlation reports the raw association; this is what's left
    after the third variable explains its share). All three pairwise
    correlations come from ONE scalar aggregate of nine exact
    integer power sums (quantities and cents); the closing formula is
    a fixed IEEE tree on those — bit-deterministic, no ulp flag.

    100 TB shape: a single full-scan aggregate with map-side partial
    combine — no shuffle wider than one row of ten numbers. Cents
    power sums pass 2^53 around ~10^7 rows: the decimal(38,0) switch
    applies to the sums only (the agg_moment_stats recipe)."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    y = exact_round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    z = exact_round(F.col("l_discount") * 100, 0).cast("bigint")
    # decimal(38,0) on the squared-cents products: syy exceeds int64
    # even at sf0.1 (1e12-cents^2 x 6e5 rows)
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(z).cast("double").alias("sz"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y.cast("decimal(38,0)") * y).cast("double").alias("syy"),
        F.sum(z * z).cast("double").alias("szz"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * z).cast("double").alias("sxz"),
        F.sum(y.cast("decimal(38,0)") * z).cast("double").alias("syz"),
    )
    n = F.col("n")

    def corr(sab, sa, sb, saa, sbb):
        return (n * F.col(sab) - F.col(sa) * F.col(sb)) / (
            F.sqrt(n * F.col(saa) - F.col(sa) * F.col(sa))
            * F.sqrt(n * F.col(sbb) - F.col(sb) * F.col(sb))
        )

    rxy = corr("sxy", "sx", "sy", "sxx", "syy")
    rxz = corr("sxz", "sx", "sz", "sxx", "szz")
    ryz = corr("syz", "sy", "sz", "syy", "szz")
    return s.select(
        n.cast("bigint").alias("n_rows"),
        round_half_up(rxy, 6).alias("r_xy"),
        round_half_up(
            (rxy - rxz * ryz)
            / F.nullif(
                F.sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), F.lit(0.0)
            ),
            6,
        ).alias("r_xy_given_z"),
    )


# ---- A/B test power: minimum detectable effect -------------------------------

_Z_ALPHA = 1.959963984540054  # two-sided 5%
_Z_BETA = 0.8416212335729143  # 80% power


@register(
    "ab_power_mde",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, user_id % 2 = 1 AS treated,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(y * y) AS DOUBLE) AS syy,
             CAST(count(*) FILTER (treated) AS DOUBLE) AS nt,
             CAST(count(*) FILTER (NOT treated) AS DOUBLE) AS nc,
             CAST(sum(y) FILTER (NOT treated) AS DOUBLE) AS syc
      FROM per_user
    )
    SELECT CAST(nt AS BIGINT) AS n_treated, CAST(nc AS BIGINT) AS n_control,
           (floor(sqrt((syy - sy * sy / n) / (n - 1)) * 100 + 0.5) / 100)
             AS pooled_sd_cents,
           (floor(({_Z_ALPHA} + {_Z_BETA})
                  * sqrt((syy - sy * sy / n) / (n - 1) * (1 / nt + 1 / nc))
                  * 100 + 0.5) / 100) AS mde_cents,
           (floor(({_Z_ALPHA} + {_Z_BETA})
                  * sqrt((syy - sy * sy / n) / (n - 1) * (1 / nt + 1 / nc))
                  / nullif(syc / nc, 0) * 10000 + 0.5) / 10000)
             AS mde_rel
    FROM s
    """,
)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect of the parity-split experiment at
    alpha=5% (two-sided) and 80% power: MDE = (z_a + z_b) * sd *
    sqrt(1/nt + 1/nc) — the power calculation every experiment design
    review starts from, closing the loop with welch_t_test_ab (did it
    move?) and cuped_variance_reduction (how much variance can we
    remove?). The z quantiles are fixed double literals (identical on
    both engines by construction); sd comes from exact integer power
    sums; everything else is one fixed IEEE tree. mde_rel divides by
    the control mean — the % lift the experiment can detect.

    100 TB shape: one corpus-scale groupBy to user grain and one
    scalar aggregate — the same two-stage shape as every per-user
    metric here."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value")))
    per_user = e.groupBy("user_id").agg(
        F.sum(exact_round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    tr = F.col("user_id") % 2 == 1
    s = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("syy"),
        F.count_if(tr).cast("double").alias("nt"),
        F.count_if(~tr).cast("double").alias("nc"),
        F.sum(F.when(~tr, F.col("y"))).cast("double").alias("syc"),
    )
    n = F.col("n")
    var = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)
    mde = (
        F.lit(_Z_ALPHA + _Z_BETA)
        * F.sqrt(var * (1 / F.col("nt") + 1 / F.col("nc")))
    )
    return s.select(
        F.col("nt").cast("bigint").alias("n_treated"),
        F.col("nc").cast("bigint").alias("n_control"),
        round_half_up(F.sqrt(var), 2).alias("pooled_sd_cents"),
        round_half_up(mde, 2).alias("mde_cents"),
        round_half_up(
            mde / F.nullif(F.col("syc") / F.col("nc"), F.lit(0.0)), 4
        ).alias("mde_rel"),
    )


# ---- Wald-Wolfowitz runs test ------------------------------------------------


@register(
    "runs_test_randomness",
    oracle=f"""
    WITH {_DUCK_DAILY},
    med AS (SELECT quantile_cont(CAST(r AS DOUBLE), 0.5) AS m FROM daily),
    signs AS (
      SELECT d, CAST(r AS DOUBLE) > med.m AS up
      FROM daily, med WHERE CAST(r AS DOUBLE) <> med.m
    ),
    flips AS (
      SELECT up, up <> lag(up) OVER (ORDER BY d) AS flip FROM signs
    ),
    runs AS (
      SELECT CAST(count(*) FILTER (up) AS BIGINT) AS n1,
             CAST(count(*) FILTER (NOT up) AS BIGINT) AS n2,
             CAST(1 + count(*) FILTER (flip) AS BIGINT) AS r_runs
      FROM flips
    )
    SELECT n1, n2, r_runs,
           (floor((CAST(r_runs AS DOUBLE)
                   - (1 + 2.0 * n1 * n2 / (n1 + n2)))
                  / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                         / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                            * (n1 + n2 - 1)))
                  * 10000 + 0.5) / 10000) AS z
    FROM runs
    """,
)
def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily revenue series: are
    above/below-median days randomly ordered, or does the series
    trend/oscillate? (Too FEW runs = momentum/trend; too MANY =
    mean-reverting oscillation — the regime diagnostic that says
    whether autocorrelation_lags is even worth reading.) Days exactly
    AT the interpolated median are excluded per the classical test.
    The run count is an exact integer (1 + sign transitions via one
    lag over the bounded day series); mean and variance of R under H0
    are fixed IEEE expressions of the integer counts n1, n2 — no ulp
    flag.

    100 TB shape: one partial-agg'd groupBy to day grain; the median,
    the sign sequence, and the single ordered lag all run over the
    bounded (~2,400-row) series."""
    # consumers: median + sign sequence
    daily = _daily_revenue(spark, sf_dir).localCheckpoint(eager=True)
    med = daily.agg(
        F.percentile(F.col("r").cast("double"), F.lit(0.5)).alias("m")
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("r").cast("double") != F.col("m"))
        .select("d", (F.col("r").cast("double") > F.col("m")).alias("up"))
    )
    lag_up = F.lag("up").over(Window.orderBy("d"))
    runs = signs.select(
        "up", (F.col("up") != lag_up).alias("flip")
    ).agg(
        F.count_if(F.col("up")).cast("bigint").alias("n1"),
        F.count_if(~F.col("up")).cast("bigint").alias("n2"),
        (1 + F.count_if(F.col("flip"))).cast("bigint").alias("r_runs"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    n = n1 + n2
    # nullif on both denominators: an empty (n = 0) or degenerate
    # (n = 1) series yields NULL z like the oracle (DuckDB x/0 is
    # NULL), not an ANSI DIVIDE_BY_ZERO crash (r11 empty-input audit)
    mu = 1 + 2.0 * n1 * n2 / F.nullif(n, F.lit(0.0))
    # sigma itself is ALSO nullif-guarded: a one-sided series (n1 or
    # n2 = 0, e.g. every kept day above the median) gives sigma = 0.0
    # with a non-zero inner denominator, and z's division would raise
    # the same ANSI DIVIDE_BY_ZERO the outer guards prevent — the
    # oracle's x/0 is NULL (r11 empty-input audit, review pass)
    sigma = F.nullif(
        F.sqrt(
            2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
            / F.nullif(n * n * (n - 1), F.lit(0.0))
        ),
        F.lit(0.0),
    )
    return runs.select(
        "n1",
        "n2",
        "r_runs",
        round_half_up((F.col("r_runs").cast("double") - mu) / sigma, 4).alias(
            "z"
        ),
    )


# ---- cross-correlation between event series ----------------------------------

_CCF_MAX_LAG = 3


@register(
    "cross_correlation_lags",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(COALESCE(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                           FILTER (event_type = 'click'), 0) AS BIGINT) AS c,
             CAST(COALESCE(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                           FILTER (event_type = 'purchase'), 0) AS BIGINT)
               AS p
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(p) AS BIGINT) AS sp
      FROM hourly
    ),
    dev AS (
      SELECT h, CAST(tot.n * hourly.c - tot.sc AS BIGINT) AS dc,
             CAST(tot.n * hourly.p - tot.sp AS BIGINT) AS dp
      FROM hourly, tot
    ),
    den AS (
      SELECT sqrt(CAST(sum(CAST(dc AS HUGEINT) * dc) AS DOUBLE))
             * sqrt(CAST(sum(CAST(dp AS HUGEINT) * dp) AS DOUBLE)) AS dd
      FROM dev
    ),
    num AS (
      SELECT b.h - a.h AS lag_k, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CAST(a.dc AS HUGEINT) * b.dp) AS DOUBLE) AS nm
      FROM dev a JOIN dev b
        ON b.h - a.h BETWEEN -{_CCF_MAX_LAG} AND {_CCF_MAX_LAG}
      GROUP BY 1
    )
    SELECT CAST(lag_k AS BIGINT) AS lag_k, n_pairs,
           (floor(nm / dd * 1000000 + 0.5) / 1000000) AS ccf
    FROM num, den
    """,
)
def cross_correlation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between the hourly click-value and
    purchase-value series at lags -{L}..+{L}: does click activity LEAD
    purchases (positive-lag peak), lag them, or move synchronously? —
    the lead-lag diagnostic behind attribution_linear's assumption
    that touches precede conversions. Same N-scaled integer-deviation
    construction as autocorrelation_lags (shared docstring argument),
    with the normalizer sqrt(SS_c)*sqrt(SS_p) replacing the single
    series' sum of squares. Hours with no events of a type contribute
    a true zero (COALESCE before centering), so the series is the
    complete hourly grid of observed hours.

    100 TB shape: one partial-agg'd groupBy to hour grain (the only
    corpus-scale stage); the +-{L}-band self-join and both scalar
    aggregates run over the bounded hour series, localCheckpointed
    once for its three consumers."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value")))
    cents = exact_round(F.col("value") * 100, 0).cast("bigint")
    hourly = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
    ).agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "click", cents)), F.lit(0)
        )
        .cast("bigint")
        .alias("c"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", cents)), F.lit(0)
        )
        .cast("bigint")
        .alias("p"),
    )
    tot = hourly.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum("p").cast("bigint").alias("sp"),
    )
    dev = (
        hourly.crossJoin(F.broadcast(tot))
        .select(
            "h",
            (F.col("n") * F.col("c") - F.col("sc")).alias("dc"),
            (F.col("n") * F.col("p") - F.col("sp")).alias("dp"),
        )
        .localCheckpoint(eager=True)  # consumers: denominator + 2 join arms
    )
    den = dev.agg(
        (
            F.sqrt(
                F.sum(F.col("dc").cast("decimal(38,0)") * F.col("dc")).cast(
                    "double"
                )
            )
            * F.sqrt(
                F.sum(F.col("dp").cast("decimal(38,0)") * F.col("dp")).cast(
                    "double"
                )
            )
        ).alias("dd")
    )
    a = dev.select(F.col("h").alias("ha"), F.col("dc").alias("dca"))
    b = dev.select(F.col("h").alias("hb"), F.col("dp").alias("dpb"))
    num = (
        a.join(
            b,
            (F.col("hb") - F.col("ha") >= -_CCF_MAX_LAG)
            & (F.col("hb") - F.col("ha") <= _CCF_MAX_LAG),
        )
        .groupBy((F.col("hb") - F.col("ha")).alias("lag_k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col("dca").cast("decimal(38,0)") * F.col("dpb"))
            .cast("double")
            .alias("nm"),
        )
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("lag_k").cast("bigint").alias("lag_k"),
        "n_pairs",
        round_half_up(F.col("nm") / F.col("dd"), 6).alias("ccf"),
    )


# ---- pinball-loss forecast evaluation -----------------------------------------

_PINBALL_LAG = 7
_PINBALL_TAUS = ("0.5", "0.9")  # shared literals


@register(
    "pinball_loss_eval",
    oracle=f"""
    WITH {_DUCK_DAILY},
    paired AS (
      SELECT r, lag(r, {_PINBALL_LAG}) OVER (ORDER BY d) AS yhat
      FROM daily
    ),
    losses AS (
      SELECT tau,
             CAST(floor(greatest(
               tau * (r - yhat), (tau - 1) * (r - yhat)) * 10 + 0.5)
               AS BIGINT) AS l_e1
      FROM paired
      CROSS JOIN (SELECT CAST(unnest([{", ".join(_PINBALL_TAUS)}])
                               AS DOUBLE) AS tau)
      WHERE yhat IS NOT NULL
    )
    SELECT tau, CAST(count(*) AS BIGINT) AS n_days,
           (floor(CAST(sum(l_e1) AS DOUBLE) / count(*) / 1000 * 100 + 0.5)
            / 100) AS mean_pinball_dollars
    FROM losses GROUP BY tau
    """,
)
def pinball_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of the seasonal-naive forecast
    yhat_d = r_(d-{_PINBALL_LAG}) for daily revenue at tau = 0.5 and
    0.9 — THE scoring rule for quantile forecasts (what sql_q6_forecast
    produces), asymmetric so that a tau=0.9 forecast is punished 9x
    more for under- than over-prediction. Per-day losses are quantized
    to integer deci-cents BEFORE the mean (each loss is one
    greatest-of-two-products IEEE expression on exact integer deltas,
    identical cross-engine; the quantization makes the SUM
    order-independent — the bigram_logprob convention for floats that
    must accumulate).

    100 TB shape: one partial-agg'd groupBy to day grain, one lag
    window and one small aggregate over the bounded day series; the
    tau fan-out is x2."""
    daily = _daily_revenue(spark, sf_dir)
    paired = daily.select(
        "r",
        F.lag("r", _PINBALL_LAG).over(Window.orderBy("d")).alias("yhat"),
    ).filter(F.col("yhat").isNotNull())
    taus = F.explode(
        F.array(*[F.lit(float(t)) for t in _PINBALL_TAUS])
    ).alias("tau")
    delta = (F.col("r") - F.col("yhat")).cast("double")
    loss_e1 = (
        F.floor(
            F.greatest(
                F.col("tau") * delta, (F.col("tau") - 1) * delta
            )
            * 10
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("l_e1")
    )
    losses = paired.select("r", "yhat", taus).select("tau", loss_e1)
    return losses.groupBy("tau").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        round_half_up(
            F.sum("l_e1").cast("double") / F.count(F.lit(1)) / 1000, 2
        ).alias("mean_pinball_dollars"),
    )


# ---- mutual information between categorical columns ---------------------------


@register(
    "mutual_information_lang_source",
    ulp_sensitive=True,
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source
    ),
    m AS (
      SELECT lang, source, o,
             sum(o) OVER (PARTITION BY lang) AS rt,
             sum(o) OVER (PARTITION BY source) AS ct,
             sum(o) OVER () AS n
      FROM cells
    ),
    contrib AS (
      SELECT n,
             CAST(floor(
               CAST(o AS DOUBLE) / n
               * ln(CAST(o AS DOUBLE) * n / (CAST(rt AS DOUBLE) * ct))
               * 100000000 + 0.5) AS BIGINT) AS mi_e8
      FROM m
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(sum(mi_e8) AS BIGINT) AS mi_nats_e8,
           (floor(CAST(sum(mi_e8) AS DOUBLE) / 100000000
                  / ln(2.0) * 1000000 + 0.5) / 1000000) AS mi_bits
    FROM contrib
    """,
)
def mutual_information_lang_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information I(lang; source) = sum p_ij*ln(p_ij/(p_i p_j))
    — the information-theoretic member of the association trio
    (chi_square_independence tests it, cramers_v_effect sizes it, MI
    prices it in bits: how much knowing the source tells you about the
    language, the number feature-selection ranks columns by). Each
    cell's term is a fixed IEEE expression on exact integer counts
    (the ratio inside ln is formed as o*n/(rt*ct), all-integer-valued
    doubles), quantized to 1e-8 nats BEFORE the cross-cell sum; ln is
    the single 1-ULP transcendental — ulp-flagged like every log
    entry.

    100 TB shape: identical to cramers_v_effect — one groupBy to the
    contingency table, window totals over it, one scalar sum."""
    d = table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    m = cells.select(
        "o",
        F.sum("o").over(Window.partitionBy("lang")).alias("rt"),
        F.sum("o").over(Window.partitionBy("source")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    o, n = F.col("o").cast("double"), F.col("n").cast("double")
    term = (
        o / n * F.log(o * n / (F.col("rt").cast("double") * F.col("ct")))
    )
    contrib = m.select(
        "n",
        F.floor(term * 100_000_000 + F.lit(0.5)).cast("bigint").alias("mi_e8"),
    )
    import math

    return contrib.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("mi_e8").cast("bigint").alias("mi_nats_e8"),
        round_half_up(
            F.sum("mi_e8").cast("double") / 100_000_000 / F.lit(math.log(2.0)),
            6,
        ).alias("mi_bits"),
    )


# ---- trimmed / winsorized means -----------------------------------------------


@register(
    "trimmed_winsorized_means",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
      FROM orders
    ),
    bounds AS (
      SELECT quantile_cont(CAST(y AS DOUBLE), 0.1) AS lo,
             quantile_cont(CAST(y AS DOUBLE), 0.9) AS hi
      FROM v
    ),
    rows_q AS (
      SELECT y, lo, hi,
             CAST(y AS DOUBLE) >= lo AND CAST(y AS DOUBLE) <= hi AS kept,
             CAST(floor(least(greatest(CAST(y AS DOUBLE), lo), hi) * 10
                        + 0.5) AS BIGINT) AS wq
      FROM v, bounds
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (kept) AS BIGINT) AS n_kept,
           (floor(CAST(sum(y) AS DOUBLE) / count(*) + 0.5) / 100)
             AS mean_dollars,
           (floor(CAST(sum(y) FILTER (kept) AS DOUBLE)
                  / count(*) FILTER (kept) + 0.5) / 100)
             AS trimmed_mean_dollars,
           (floor(CAST(sum(wq) AS DOUBLE) / count(*) / 10 + 0.5) / 100)
             AS winsorized_mean_dollars
    FROM rows_q
    """,
)
def trimmed_winsorized_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% trimmed and winsorized means of order totals next to the raw
    mean — the robust location trio (trim DROPS the tails, winsorize
    CLAMPS them; the gap between the three is itself the outlier
    diagnostic, complementing robust_outlier_bounds' MAD count).
    Bounds are the exact interpolated p10/p90 (the agg_percentiles
    engine-pair property) broadcast back over the cents values; the
    winsorized value quantizes to deci-cents PER ROW before summing so
    the clamped aggregate is an exact integer sum even though the
    clamp bounds are interpolated doubles.

    100 TB shape: two passes (percentile bounds, then one filtered/
    clamped aggregate), both partial-agg'd map-side; the bounds are a
    1-row broadcast. The exact percentile is the documented
    approx_percentile switch at corpus scale."""
    o = table(spark, sf_dir, "orders")
    v = o.select(
        exact_round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("y")
    ).localCheckpoint(eager=True)  # consumers: bounds + the clamped agg
    bounds = v.agg(
        F.percentile(F.col("y").cast("double"), F.lit(0.1)).alias("lo"),
        F.percentile(F.col("y").cast("double"), F.lit(0.9)).alias("hi"),
    )
    yd = F.col("y").cast("double")
    kept = (yd >= F.col("lo")) & (yd <= F.col("hi"))
    wq = F.floor(
        F.least(F.greatest(yd, F.col("lo")), F.col("hi")) * 10 + F.lit(0.5)
    ).cast("bigint")
    rows_q = v.crossJoin(F.broadcast(bounds)).select(
        "y", kept.alias("kept"), wq.alias("wq")
    )
    dollars = lambda c: F.floor(c + F.lit(0.5)) / F.lit(100)  # noqa: E731
    return rows_q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("kept")).cast("bigint").alias("n_kept"),
        dollars(F.sum("y").cast("double") / F.count(F.lit(1))).alias(
            "mean_dollars"
        ),
        dollars(
            F.sum(F.when(F.col("kept"), F.col("y"))).cast("double")
            / F.count_if(F.col("kept"))
        ).alias("trimmed_mean_dollars"),
        dollars(
            F.sum("wq").cast("double") / F.count(F.lit(1)) / 10
        ).alias("winsorized_mean_dollars"),
    )


# ---- two-group quantile-quantile table ----------------------------------------

_QQ_DECILES = tuple(f"0.{i}" for i in range(1, 10))


@register(
    "qq_deciles_two_group",
    oracle=f"""
    WITH v AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
             l_returnflag = 'R' AS pos
      FROM lineitem
    ),
    qs AS (
      SELECT quantile_cont(CAST(y AS DOUBLE), [{", ".join(_QQ_DECILES)}])
               FILTER (pos) AS qa,
             quantile_cont(CAST(y AS DOUBLE), [{", ".join(_QQ_DECILES)}])
               FILTER (NOT pos) AS qb
      FROM v
    )
    SELECT CAST(i AS BIGINT) AS decile,
           (floor(qa[i] + 0.5) / 100) AS q_returned_dollars,
           (floor(qb[i] + 0.5) / 100) AS q_other_dollars,
           (floor((qa[i] - qb[i]) + 0.5) / 100) AS shift_dollars
    FROM qs, unnest(range(1, 10)) AS t(i)
    """,
)
def qq_deciles_two_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile table of returned vs non-returned extended
    prices at the nine deciles — WHERE the two distributions differ,
    completing ks_two_sample (which reports only the largest gap) and
    distribution_drift_psi (which bins): a location shift moves every
    decile equally, a tail effect moves only the outer ones. Both
    groups' deciles come from ONE pass (array-percentile with filtered
    aggregates), interpolated identically on both engines, differences
    quantized at cents.

    100 TB shape: a single full-scan aggregate carrying two 9-slot
    t-digest-shaped states (here exact; approx_percentile at corpus
    scale), then a 9-row explode."""
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        exact_round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("y"),
        (F.col("l_returnflag") == "R").alias("pos"),
    )
    pcts = F.array(*[F.lit(float(q)) for q in _QQ_DECILES])
    # coalesce to 9 NULL slots: percentile over an EMPTY group returns
    # NULL (not an empty array), which would explode to zero rows —
    # the oracle's unnest(range) grid always emits the 9 decile rows
    # with NULL quantiles (r11 empty-input audit)
    nulls9 = F.array(
        *[F.lit(None).cast("double") for _ in _QQ_DECILES]
    )
    qs = v.agg(
        F.coalesce(
            F.percentile(
                F.when(F.col("pos"), F.col("y").cast("double")), pcts
            ),
            nulls9,
        ).alias("qa"),
        F.coalesce(
            F.percentile(
                F.when(~F.col("pos"), F.col("y").cast("double")), pcts
            ),
            nulls9,
        ).alias("qb"),
    )
    ex = qs.select(
        F.posexplode(F.arrays_zip("qa", "qb")).alias("i0", "z")
    ).select(
        (F.col("i0") + 1).cast("bigint").alias("decile"),
        F.col("z.qa").alias("qa"),
        F.col("z.qb").alias("qb"),
    )
    dollars = lambda c: F.floor(c + F.lit(0.5)) / F.lit(100)  # noqa: E731
    return ex.select(
        "decile",
        dollars(F.col("qa")).alias("q_returned_dollars"),
        dollars(F.col("qb")).alias("q_other_dollars"),
        dollars(F.col("qa") - F.col("qb")).alias("shift_dollars"),
    )


# ---- one-way ANOVA across weekdays --------------------------------------------


@register(
    "anova_weekday_revenue",
    # ulp: ssb_raw/qt are 7-term DOUBLE sums whose accumulation order
    # differs across engines/partitionings — same last-ulp class as the
    # transcendental entries, policed by the driver-exact local gate.
    ulp_sensitive=True,
    oracle="""
    WITH daily AS (
      SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) % 7 AS wd,
             o_orderdate AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS r
      FROM orders GROUP BY 1, 2
    ),
    g AS (
      SELECT wd, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r) AS BIGINT) AS s,
             CAST(sum(CAST(r AS HUGEINT) * r) AS DOUBLE) AS q
      FROM daily GROUP BY wd
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(s) AS BIGINT) AS st,
             CAST(sum(q) AS DOUBLE) AS qt,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CAST(s AS DOUBLE) * s / n) AS DOUBLE) AS ssb_raw
      FROM g
    )
    SELECT k AS n_groups, nt AS n_days,
           (floor((ssb_raw - CAST(st AS DOUBLE) * st / nt) / (k - 1)
                  / ((qt - ssb_raw) / (nt - k)) * 10000 + 0.5) / 10000)
             AS f_stat
    FROM tot
    """,
)
def anova_weekday_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F for a weekday effect on daily revenue:
    F = (SSB/(k-1)) / (SSW/(N-k)) over the seven day-of-week groups —
    the formal test behind seasonal_decompose_daily's weekly profile
    (the decomposition ASSUMES the cycle; this says whether it's
    there) and the k>2 generalization of welch/mann-whitney's
    two-group comparisons. Weekday is computed as epoch-days mod 7 on
    BOTH engines — the one portable day-of-week (dayofweek() numbers
    Sunday differently across engines, a classic silent-mismatch
    trap). All sums are exact integers (int128 for squared daily
    cents); F is one fixed IEEE tree.

    100 TB shape: one partial-agg'd groupBy to day grain, one to the
    7 weekday groups, one scalar combine."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        (F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("bigint") % 7)
        .alias("wd"),
        F.col("o_orderdate").alias("d"),
    ).agg(
        F.sum(exact_round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("r")
    )
    g = daily.groupBy("wd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("s"),
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("r"))
        .cast("double")
        .alias("q"),
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
        F.sum("q").cast("double").alias("qt"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("s").cast("double") * F.col("s") / F.col("n"))
        .cast("double")
        .alias("ssb_raw"),
    )
    k, nt = F.col("k"), F.col("nt")
    ssb = F.col("ssb_raw") - F.col("st").cast("double") * F.col("st") / nt
    ssw = F.col("qt") - F.col("ssb_raw")
    return tot.select(
        k.alias("n_groups"),
        nt.alias("n_days"),
        round_half_up((ssb / (k - 1)) / (ssw / (nt - k)), 4).alias("f_stat"),
    )


# ---- deterministic RANSAC line fit ---------------------------------------

# candidate models and inlier tolerance; the per-model point picks are
# md5-seeded (seeds i and i+100 for the two anchor points), so the
# whole protocol is engine-portable with zero RNG
_RANSAC_MODELS = 8
_RANSAC_EPS_CENTS = 5000
# Declared x-domain (r13 --jsonedge arm): the cross-multiplied inlier
# test num*(x-ax) is EXACT int64 arithmetic, so x needs a bound just
# like `value` rides in_grid_domain. With |y| <= ~9.01e11 cents (the
# value grid domain), |x| <= 1e6 keeps |num*(x-ax)| <= ~3.6e18 < 2^63.
# Without it, one parsed-but-huge $.k (e.g. 9007199254740993) crashes
# the whole fit on BOTH engines (Spark ANSI ARITHMETIC_OVERFLOW /
# DuckDB Out-of-Range). No-op on the committed fixtures ($.k in 0..99).
_RANSAC_X_DOMAIN = 1_000_000


def _ransac_oracle() -> str:
    picks = []
    for i in range(_RANSAC_MODELS):
        for tag, seed in (("a", i), ("b", i + 100)):
            picks.append(
                f"""p_{tag}{i} AS (
      SELECT x, y FROM pts
      ORDER BY {duck_md5_long(f"'{seed}|' || CAST(event_id AS VARCHAR)")} ASC,
               event_id ASC LIMIT 1
    )"""
            )
    models = "\n    UNION ALL\n    ".join(
        f"""SELECT {i} AS model_id, a.x AS ax, a.y AS ay,
           b.y - a.y AS num, b.x - a.x AS den
    FROM p_a{i} a, p_b{i} b"""
        for i in range(_RANSAC_MODELS)
    )
    return f"""
    WITH pts AS (
      SELECT event_id,
             {duck_json_bigint("props", "$.k")} AS x,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
      FROM events
      WHERE {duck_json_bigint("props", "$.k")} IS NOT NULL
        AND abs({duck_json_bigint("props", "$.k")}) <= {_RANSAC_X_DOMAIN}
    ),
    {", ".join(picks)},
    models AS (
    {models}
    ),
    scored AS (
      SELECT m.model_id, m.num, m.den,
             sum(CASE WHEN m.den <> 0
                       AND abs(m.den * (p.y - m.ay) - m.num * (p.x - m.ax))
                           <= {_RANSAC_EPS_CENTS} * abs(m.den)
                      THEN 1 ELSE 0 END) AS n_inliers,
             count(*) AS n_points
      FROM models m CROSS JOIN pts p
      GROUP BY m.model_id, m.num, m.den
    ),
    best AS (
      SELECT *, row_number() OVER (ORDER BY n_inliers DESC, model_id ASC)
               AS rk
      FROM scored
    )
    SELECT model_id, CAST(n_inliers AS BIGINT) AS n_inliers,
           CAST(n_points AS BIGINT) AS n_points,
           CASE WHEN den = 0 THEN NULL
                ELSE CAST(floor(CAST(num AS DOUBLE) * 1000000 / den)
                          AS BIGINT) END AS slope_micro
    FROM best WHERE rk = 1
    """


@register("ransac_slope_fit", oracle=_ransac_oracle())
def ransac_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC line fitting, fully deterministic and fully distributed:
    8 candidate models, each anchored on two md5-seeded sample points
    (argmin of a seeded hash — the repo's standard no-RNG sampling),
    scored by inlier count over ALL points, best model reported. The
    inlier test |den·(y-ay) - num·(x-ax)| <= eps·|den| is the
    cross-multiplied form of |residual| <= eps — pure integers, no
    division anywhere in the hot path, so consensus counts are exact
    on both engines; only the winning slope is quantized (floor at
    1e-6, an exact IEEE op since num·1e6 stays within 2^53).
    Complements theil_sen_grouped (median-of-slopes): RANSAC maximizes
    consensus, which survives gross outliers that still shift a
    median.

    100 TB shape: anchor selection is ONE aggregation (16 min-of-
    struct folds in a single pass, no sort); scoring is a broadcast of
    8 model rows against the point stream with map-side partial
    counts. Nothing quadratic, nothing driver-side, nothing random."""
    from tiny_etl_multiproc_bigdata_spark.functions.hashing import (
        stable_token_hash,
    )

    e = table(spark, sf_dir, "events")
    pts = e.select(
        "event_id",
        json_bigint("props", "$.k").alias("x"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("y"),
    ).filter(
        F.col("x").isNotNull()
        & (F.abs(F.col("x")) <= F.lit(_RANSAC_X_DOMAIN))
    )
    aggs = []
    for i in range(_RANSAC_MODELS):
        for tag, seed in (("a", i), ("b", i + 100)):
            aggs.append(
                F.min(
                    F.struct(
                        stable_token_hash(
                            F.col("event_id").cast("string"), seed=seed
                        ).alias("h"),
                        F.col("event_id").alias("id"),
                        F.col("x").alias("x"),
                        F.col("y").alias("y"),
                    )
                ).alias(f"{tag}{i}")
            )
    anchors = pts.agg(*aggs)
    models = anchors.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("model_id"),
                        F.col(f"a{i}.x").alias("ax"),
                        F.col(f"a{i}.y").alias("ay"),
                        (F.col(f"b{i}.y") - F.col(f"a{i}.y")).alias("num"),
                        (F.col(f"b{i}.x") - F.col(f"a{i}.x")).alias("den"),
                    )
                    for i in range(_RANSAC_MODELS)
                ]
            )
        ).alias("m")
    ).select("m.*")
    inlier = (
        (F.col("den") != 0)
        & (
            F.abs(
                F.col("den") * (F.col("y") - F.col("ay"))
                - F.col("num") * (F.col("x") - F.col("ax"))
            )
            <= F.lit(_RANSAC_EPS_CENTS) * F.abs(F.col("den"))
        )
    )
    scored = (
        pts.crossJoin(F.broadcast(models))
        .groupBy("model_id", "num", "den")
        .agg(
            F.sum(F.when(inlier, 1).otherwise(0)).alias("n_inliers"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )
    w = Window.orderBy(F.desc("n_inliers"), F.asc("model_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "model_id",
            F.col("n_inliers").cast("bigint").alias("n_inliers"),
            F.col("n_points").cast("bigint").alias("n_points"),
            F.when(
                F.col("den") != 0,
                F.floor(
                    F.col("num").cast("double") * 1_000_000 / F.col("den")
                ).cast("bigint"),
            ).alias("slope_micro"),
        )
    )


# ---- Kruskal-Wallis H across weekdays ------------------------------------


@register(
    "kruskal_wallis_weekday",
    oracle=f"""
    WITH v AS (
      SELECT CAST(floor((epoch_us(ts) // 1000000) / 86400) AS BIGINT) % 7
               AS wd,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM (SELECT * FROM events WHERE (value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) AND {time_domain_sql()}) events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    gv AS (SELECT wd, cents, count(*) AS c FROM v GROUP BY wd, cents),
    tv AS (
      SELECT cents, sum(c) AS t,
             coalesce(sum(sum(c)) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below
      FROM gv GROUP BY cents
    ),
    rg AS (
      SELECT gv.wd,
             CAST(sum(gv.c) AS BIGINT) AS n_g,
             CAST(sum(gv.c * (2 * tv.below + tv.t + 1)) AS BIGINT) AS r2
      FROM gv JOIN tv USING (cents) GROUP BY gv.wd
    ),
    tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             sum(CAST(r2 AS DOUBLE) * r2 / n_g) AS s,
             CAST(count(*) AS BIGINT) AS k
      FROM rg
    ),
    ties AS (
      SELECT CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS DOUBLE) AS tsum
      FROM tv
    )
    SELECT tot.n,
           CAST(tot.k - 1 AS BIGINT) AS dof,
           (floor((3.0 * tot.s / (CAST(tot.n AS DOUBLE) * (tot.n + 1))
                   - 3.0 * (tot.n + 1))
                  / nullif(1.0 - ties.tsum
                           / (CAST(tot.n AS DOUBLE) * tot.n * tot.n
                              - tot.n), 0)
                  * 1000000 + 0.5) / 1000000) AS h_adj
    FROM tot, ties
    """,
)
def kruskal_wallis_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the 7 weekday groups of event values —
    the nonparametric twin of anova_weekday_revenue (rank-based, so a
    heavy-tailed value distribution can't fake or mask an effect).
    Midranks come from the VALUE HISTOGRAM (the mann_whitney_u trick,
    extended to k groups): doubled midrank 2·below + t + 1 keeps every
    per-group rank sum an exact BIGINT, ties correct through the
    standard (t³-t) factor accumulated in HUGEINT/decimal, and the
    only doubles are the final closed-form ratio — identical IEEE ops
    on identical exact inputs on both engines, quantized at 1e-6. The
    epoch-floor weekday bucketing is the repo's portable day-of-week.

    100 TB shape: two histogram-sized aggregations (values x groups,
    then values), a 7-row combine — no global rank sort, no per-row
    window; the classic rank-test scan-sort is designed out exactly
    as in mann_whitney_u.

    Input contract (r11 NULL-parity audit): a rank test needs a value
    and a group — rows with NULL ts (no weekday) or NULL value (no
    rank) are excluded explicitly on both engines; a NULL "value"
    would otherwise shift every midrank differently under the
    engines' opposite NULL sort defaults and add a bogus 8th group.
    r13 --timeskew: portable-time-domain filter + epoch_us-exact
    oracle day index (the engines' native dayofweek() conventions
    AND their extreme-date calendars both differ; the trunc-seconds
    chain mirrors the engine side exactly)."""
    e = table(spark, sf_dir, "events").filter(
        in_grid_domain(F.col("value")) & in_time_domain(F.col("ts"))
    ).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    v = e.select(
        (
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint") % 7
        ).alias("wd"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias(
            "cents"
        ),
    )
    gv = v.groupBy("wd", "cents").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tv = (
        gv.groupBy("cents")
        .agg(F.sum("c").alias("t"))
        .select(
            "cents",
            "t",
            F.coalesce(F.sum("t").over(wv), F.lit(0)).alias("below"),
        )
    )
    rg = (
        gv.join(tv, "cents")
        .groupBy("wd")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(
                F.col("c")
                * (2 * F.col("below") + F.col("t") + 1)
            )
            .cast("bigint")
            .alias("r2"),
        )
    )
    tot = rg.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum(
            F.col("r2").cast("double") * F.col("r2") / F.col("n_g")
        ).alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    ties = tv.agg(
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        )
        .cast("double")
        .alias("tsum")
    )
    n = F.col("n").cast("double")
    h = 3.0 * F.col("s") / (n * (F.col("n") + 1)) - 3.0 * (F.col("n") + 1)
    c = F.lit(1.0) - F.col("tsum") / (n * F.col("n") * F.col("n") - F.col("n"))
    return tot.crossJoin(F.broadcast(ties)).select(
        "n",
        (F.col("k") - 1).cast("bigint").alias("dof"),
        round_half_up(h / F.nullif(c, F.lit(0.0)), 6).alias("h_adj"),
    )


# ---- Wilson score interval for conversion proportions ----------------------

# z for 95% two-sided, squared as an exact decimal literal shared by
# both engines (1.96^2) — never a runtime normal-quantile call
_WILSON_Z2 = "3.8416"


@register(
    "wilson_ci_conversion",
    oracle=f"""
    WITH v AS (
      SELECT CAST(floor((epoch_us(ts) // 1000000) / 86400) AS BIGINT) % 7
               AS wd,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events
      WHERE {time_domain_sql()}
    ),
    agg AS (
      SELECT wd, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS k
      FROM v GROUP BY wd
    )
    SELECT wd, n, k,
           (floor((CAST(k AS DOUBLE) / n + {_WILSON_Z2} / (2 * n)
                   - sqrt({_WILSON_Z2})
                     * sqrt(CAST(k AS DOUBLE) / n * (1 - CAST(k AS DOUBLE) / n) / n
                            + {_WILSON_Z2} / (4.0 * n * n)))
                  / (1 + {_WILSON_Z2} / n) * 1000000 + 0.5) / 1000000)
             AS wilson_lo,
           (floor((CAST(k AS DOUBLE) / n + {_WILSON_Z2} / (2 * n)
                   + sqrt({_WILSON_Z2})
                     * sqrt(CAST(k AS DOUBLE) / n * (1 - CAST(k AS DOUBLE) / n) / n
                            + {_WILSON_Z2} / (4.0 * n * n)))
                  / (1 + {_WILSON_Z2} / n) * 1000000 + 0.5) / 1000000)
             AS wilson_hi
    FROM agg
    """,
)
def wilson_ci_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval (95%) for the per-weekday purchase
    conversion proportion — the CI that stays inside [0,1] and behaves
    at small n where the naive Wald interval collapses; the reporting
    companion to ab_power_mde (which sizes the experiment; this bounds
    the measured rate). z² enters as the exact decimal literal 3.8416
    on BOTH engines — no runtime normal quantile, no libm inverse-CDF
    to disagree on; k and n are exact integers, so both engines run
    the identical IEEE expression tree and the 1e-6 quantization is
    stable everywhere off a half-boundary (the agg_correlation
    argument).

    100 TB shape: one map-side-combined fold to 7 rows; the interval
    math is row-local arithmetic on the combine output. r13
    --timeskew: portable-time-domain filter + epoch_us-exact oracle
    day index (double epoch() rounds the last second of 9999 into the
    next day and shifts its weekday group)."""
    e = table(spark, sf_dir, "events").filter(in_time_domain(F.col("ts")))
    v = e.select(
        (
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint") % 7
        ).alias("wd"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "conv"
        ),
    )
    agg = v.groupBy("wd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("k"),
    )
    z2 = F.expr(_WILSON_Z2)
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    center = p + z2 / (2 * n)
    half = F.sqrt(z2) * F.sqrt(p * (1 - p) / n + z2 / (4.0 * n * n))
    denom = 1 + z2 / n
    return agg.select(
        "wd",
        "n",
        "k",
        round_half_up((center - half) / denom, 6).alias("wilson_lo"),
        round_half_up((center + half) / denom, 6).alias("wilson_hi"),
    )
