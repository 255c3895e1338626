r"""Modern SQL surface, round 4: recursive CTEs (Spark 4.0+), LATERAL
correlated subqueries, and Python UDTFs.

These are capability entries: each exercises a planner feature the
engine's users reach for directly in SQL (the reference has no SQL
front-end at all — its users get SQL only after loading into MySQL,
example/readme.md:41-69 — so exposing the full modern surface natively
is part of the migration story).

The recursive-CTE entry runs the iteration INSIDE Catalyst (one
logical plan, no driver-side loop), unlike plans/dedup_groups.py and
plans/ivf_kmeans.py which drive bounded iteration from Python — both
are valid at scale; the CTE form keeps short traversals in one query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.jsonpath import (
    duck_json_bigint,
    json_bigint,
)
from tiny_etl_multiproc_bigdata_spark.functions.numerics import in_grid_domain
from tiny_etl_multiproc_bigdata_spark.functions.text import DUCK_TOKS, duck_jlower
from tiny_etl_multiproc_bigdata_spark.plans.registry import register

# Synthetic deterministic "referral" graph over customers: every
# customer refers two others via fixed affine maps (out-degree 2 →
# the BFS frontier actually branches), so Spark and DuckDB build the
# identical edge set from the fixture alone. BFS from customer 0,
# depth ≤ 6. ONE template serves both engines ({cust} = the Spark
# temp view vs DuckDB's pre-registered view) — the dialects are
# identical here, and a single source of truth means an edit to the
# depth bound / seed / casts cannot drift the oracle from the engine
# (the hazard _EDGE_SQL alone was originally factored out to prevent,
# applied to the whole statement per the r05 review).
_BFS_SQL_TMPL = """
    WITH RECURSIVE edges AS (
      SELECT c_custkey AS src,
             (c_custkey * 3 + 7) % 1000 AS dst
      FROM {cust}
      WHERE c_custkey < 1000
      UNION ALL
      SELECT c_custkey AS src,
             (c_custkey * 5 + 11) % 1000 AS dst
      FROM {cust}
      WHERE c_custkey < 1000
    ),
    bfs(node, lvl) AS (
      SELECT CAST(0 AS BIGINT) AS node, 0 AS lvl
      UNION ALL
      SELECT e.dst AS node, b.lvl + 1 AS lvl
      FROM bfs b JOIN edges e ON e.src = b.node
      WHERE b.lvl < 6
    )
    SELECT node, CAST(min(lvl) AS BIGINT) AS level
    FROM bfs GROUP BY node
"""


@register(
    "recursive_bfs_levels",
    oracle=_BFS_SQL_TMPL.format(cust="customer"),
)
def recursive_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE breadth-first traversal (Spark 4.0+): shortest
    hop-distance from a seed over a deterministic affine referral
    graph, entirely inside one Catalyst plan. Each recursion step is a
    join against the (reusable) edge relation; the UNION ALL
    accumulates frontiers and the final aggregate collapses revisits
    to min level. For unbounded-diameter graphs at 100 TB the
    driver-controlled label-propagation loop (plans/dedup_groups.py)
    with per-round checkpointing is the robust form; bounded-depth
    traversals like this one fit the CTE. The temp view is prefixed
    (_bfs_customer) like every other SQL-entry view so it can't
    collide with a same-session registration at a different sf_dir."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("_bfs_customer")
    return spark.sql(_BFS_SQL_TMPL.format(cust="_bfs_customer"))


@register(
    "lateral_nation_stats",
    oracle="""
    SELECT n_name, s.n_cust, s.top_bal
    FROM nation,
    LATERAL (
      SELECT count(*) AS n_cust, max(c_acctbal) AS top_bal
      FROM customer WHERE c_nationkey = n_nationkey
    ) s
    """,
)
def lateral_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: a per-outer-row aggregate relation
    (count + max of each nation's customers). Catalyst decorrelates
    the lateral into an aggregate-then-join — same physical plan as
    the hand-decorrelated form, which is the point: users write the
    correlated shape, the optimizer produces the scale-safe one. MAX
    and COUNT are exact, so no rounding is needed."""
    table(spark, sf_dir, "nation").createOrReplaceTempView("_lat_nation")
    table(spark, sf_dir, "customer").createOrReplaceTempView("_lat_customer")
    return spark.sql(
        """
        SELECT n_name, s.n_cust, s.top_bal
        FROM _lat_nation,
        LATERAL (
          SELECT count(*) AS n_cust, max(c_acctbal) AS top_bal
          FROM _lat_customer WHERE c_nationkey = n_nationkey
        ) s
        """
    )


@register(
    "udtf_token_chunks",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             {DUCK_TOKS} AS l
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(l[i*10+1 : i*10+10], ' ') AS chunk_text,
           CAST(least(10, len(l) - i*10) AS BIGINT) AS n_tokens
    FROM t, unnest(range(0, CAST(ceil(len(l) / 10.0) AS BIGINT))) AS u(i)
    """,
)
def udtf_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): one input row → N output rows, splitting
    each document into 10-token training chunks. UDTFs are the
    row-at-a-time Python path — correct for API parity, but the hot
    path for this exact job is the pure-Catalyst posexplode form (see
    pack_sequences_greedy / multimodal_frame_sample for the
    mapInPandas row-expanding idiom); the fixture slice is capped at
    50 docs accordingly. Defined as a local class so it pickles by
    value to executors (the driver's sys.path is not inherited)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_idx bigint, chunk_text string, n_tokens bigint")
    class TokenChunks:
        def eval(self, doc_id: int, text: str):  # noqa: ANN001
            import re

            # NULL text → zero rows, matching the oracle (lower(NULL)
            # propagates to an empty unnest) instead of crashing the task
            if text is None:
                return
            # ASCII-class \s+ to mirror the shared tokenizer (Java
            # regex) and the oracle (RE2), both ASCII-\s by default.
            # Neither str.split() nor re.split without re.ASCII
            # qualifies — both also split on NBSP/ideographic spaces
            # and would diverge on Unicode-whitespace fixtures.
            toks = [
                t for t in re.split(r"\s+", text.lower(), flags=re.ASCII) if t
            ]
            for i in range(0, (len(toks) + 9) // 10):
                chunk = toks[i * 10 : i * 10 + 10]
                yield doc_id, i, " ".join(chunk), len(chunk)

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select(
        "doc_id", "text"
    )
    return _apply_udtf(spark, d, TokenChunks)


def _apply_udtf(spark: SparkSession, df: DataFrame, cls) -> DataFrame:
    """Apply a UDTF over a two-column (doc_id, text) frame via the SQL
    registration path (the stable API for lateral UDTF application).

    Fixed names on purpose: both ``udtf.register`` and
    ``createOrReplaceTempView`` replace by name, so re-invocations
    rebind the same two catalog entries — a uuid-per-call scheme would
    grow the session catalog (and pin each call's plan) without bound
    under driver re-sweeps (r05 review)."""
    name = "_udtf_token_chunks"
    spark.udtf.register(name, cls)
    df.createOrReplaceTempView(f"{name}_in")
    return spark.sql(
        f"SELECT t.* FROM {name}_in, LATERAL {name}(doc_id, text) t"
    )


@register(
    "variant_shred_props",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           CAST(sum({duck_json_bigint("props", "$.k")}) AS BIGINT)
             AS sum_k,
           min({duck_json_bigint("props", "$.k")}) AS min_k,
           max({duck_json_bigint("props", "$.k")}) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def variant_shred_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT ingestion (Spark 4): semi-structured event properties
    parse once into the binary VARIANT encoding, then typed paths
    extract WITHOUT per-row JSON re-parsing — the schema-on-read path
    for heterogeneous event payloads. At 100 TB, shredded VARIANT
    columns keep the scan columnar (json strings would re-tokenize on
    every access); the integer aggregates here are exact. Oracle uses
    DuckDB's JSON extraction over the same column.

    Input contract (r13 --jsonedge arm, functions/jsonpath.py): the
    VARIANT path is STRICTER than both lenient JSON parsers —
    ``parse_json`` raises (→ try_parse_json NULLs) on duplicate keys
    where Jackson and yyjson both take the FIRST value, and
    ``variant_get(..., 'bigint')`` under ANSI throws on a non-integer
    token. So the variant extraction goes string-typed + try_cast
    (exactly Jackson's semantics per shape, verified empirically) and
    COALESCEs with the lenient ``json_bigint`` fallback, making
    first-key-wins the declared semantic here too; the oracle twin is
    the shared ``duck_json_bigint`` contract."""
    e = table(spark, sf_dir, "events")
    k = F.coalesce(
        F.expr(
            "try_cast(try_variant_get(try_parse_json(props), '$.k',"
            " 'string') AS bigint)"
        ),
        json_bigint("props", "$.k"),
    )
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "pipe_syntax_summary",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE), 2)
             AS total_price
    FROM lineitem
    WHERE l_quantity > 30
    GROUP BY l_returnflag
    """,
)
def pipe_syntax_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0): the |>-chained form of
    scan → filter → aggregate. Pipe stages compile to the identical
    Catalyst plan as the classic form (same pushdown, same partial
    aggregation) — this entry pins that equivalence against the
    classic-SQL oracle."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("_pipe_lineitem")
    return spark.sql(
        """
        FROM _pipe_lineitem
        |> WHERE l_quantity > 30
        |> AGGREGATE count(*) AS n,
                     round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2)))
                                AS DOUBLE), 2) AS total_price
           GROUP BY l_returnflag
        """
    )


@register(
    "group_by_all_summary",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE), 2)
             AS total_price
    FROM orders
    GROUP BY ALL
    """,
)
def group_by_all_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+/DuckDB): the engine infers the grouping
    keys from the non-aggregate select items — one oracle string is
    valid VERBATIM in both dialects, pinning that the inference picks
    the same keys. Plans identically to an explicit GROUP BY."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("_gba_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,2)))
                          AS DOUBLE), 2) AS total_price
        FROM _gba_orders
        GROUP BY ALL
        """
    )


@register(
    "sql_session_variables",
    oracle="""
    SELECT o_orderstatus, count(*) AS n
    FROM orders
    WHERE o_totalprice > 95000.0
    GROUP BY o_orderstatus
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4: DECLARE / SET VARIABLE): the
    parameterized-query surface — thresholds live in session state
    instead of string-interpolated literals, so dashboards and repeated
    jobs re-bind values without re-parsing plan text. Catalyst folds
    the variable reference to a literal at analysis time, so pushdown
    and pruning are identical to the inlined form (the oracle is that
    inlined form). DECLARE OR REPLACE keeps re-invocation idempotent
    (same replace-by-name contract as the temp views)."""
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("SET VARIABLE price_floor = 95000.0")
    table(spark, sf_dir, "orders").createOrReplaceTempView("_var_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n
        FROM _var_orders
        WHERE o_totalprice > price_floor
        GROUP BY o_orderstatus
        """
    )


@register(
    "sql_udf_suite",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(CASE WHEN l_quantity > 30 THEN 30
                         ELSE CAST(l_quantity AS BIGINT) END) AS BIGINT)
             AS sum_clamped_qty,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_net_cents
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sql_udf_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDFs (Spark 4 `CREATE FUNCTION ... RETURN expr`):
    a scalar clamp and a cents-quantizing net-price function defined IN
    SQL and used from a query — the declarative replacement for the
    reference's per-row Python lambdas (trans_values,
    transformers.py:90-140): the body inlines into the Catalyst plan,
    so unlike a Python UDF there is no serialization boundary, codegen
    survives, and the optimizer sees through the call. The oracle
    states the same expressions inline, which is exactly the claim —
    a SQL UDF is macro expansion, not an execution engine.

    Per-row quantization to integer cents BEFORE the sum keeps the
    aggregate accumulation-order-free (repo convention); the per-row
    double product is bit-identical across engines."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION clamp_qty(q DOUBLE) "
        "RETURNS BIGINT RETURN CASE WHEN q > 30 THEN CAST(30 AS BIGINT) "
        "ELSE CAST(q AS BIGINT) END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_cents(p DOUBLE, d DOUBLE) "
        "RETURNS BIGINT RETURN CAST(floor(p * (1 - d) * 100 + 0.5) AS BIGINT)"
    )
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("_udf_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n,
               CAST(sum(clamp_qty(l_quantity)) AS BIGINT)
                 AS sum_clamped_qty,
               CAST(sum(net_cents(l_extendedprice, l_discount)) AS BIGINT)
                 AS sum_net_cents
        FROM _udf_lineitem
        GROUP BY l_returnflag
        """
    )


@register(
    "xml_roundtrip_extract",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def xml_roundtrip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML surface (Spark 4): render each order as an XML
    document with ``to_xml``, parse it back with ``from_xml`` under an
    explicit schema, and aggregate the EXTRACTED fields — the oracle
    aggregates the original columns, so serialize→parse must be
    lossless (the enterprise-ingest twin of json_roundtrip_structs;
    price pre-quantized to integer cents so the text roundtrip carries
    only exact types). Both directions are JVM expressions inside
    whole-stage codegen — no files staged, no Python.

    100 TB shape: map-only columnar work; the aggregate is the usual
    partial+final hash agg. Real XML feeds swap to_xml for the raw
    ingest column and keep the identical from_xml plan."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    xml = o.select(
        F.to_xml(F.struct("o_orderkey", "o_orderpriority", "cents")).alias(
            "doc"
        )
    )
    parsed = xml.select(
        F.from_xml(
            "doc", "o_orderkey BIGINT, o_orderpriority STRING, cents BIGINT"
        ).alias("r")
    )
    return parsed.groupBy(F.col("r.o_orderpriority").alias("o_orderpriority")).agg(
        F.count("*").alias("n"),
        F.sum("r.cents").cast("bigint").alias("total_cents"),
    )


@register(
    "transpose_status_metrics",
    oracle="""
    WITH base AS (
      SELECT o_orderstatus,
             CAST(count(*) AS DOUBLE) AS n_orders,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS total_cents
      FROM orders GROUP BY o_orderstatus
    )
    SELECT 'n_orders' AS key,
           (SELECT n_orders FROM base WHERE o_orderstatus = 'F') AS F,
           (SELECT n_orders FROM base WHERE o_orderstatus = 'O') AS O,
           (SELECT n_orders FROM base WHERE o_orderstatus = 'P') AS P
    UNION ALL
    SELECT 'total_cents',
           (SELECT total_cents FROM base WHERE o_orderstatus = 'F'),
           (SELECT total_cents FROM base WHERE o_orderstatus = 'O'),
           (SELECT total_cents FROM base WHERE o_orderstatus = 'P')
    """,
)
def transpose_status_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4.0 API): flip a metrics-by-status
    summary so metrics become rows and statuses become columns — the
    report-shaping step after an aggregate, now a first-class operation
    instead of a hand-written pivot. Values widen to DOUBLE (transpose
    unifies the column type); counts and integer-cent sums are exactly
    representable. The oracle states the transposed shape with scalar
    subqueries per (metric, status) cell.

    100 TB shape: transpose COLLECTS the frame to the driver to learn
    the new column names — a summary-frame-only operation by contract
    (3 statuses here); transposing corpus-sized data is the anti-
    pattern, and the unpivot/pivot pair stays the distributed path."""
    o = table(spark, sf_dir, "orders")
    base = (
        o.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("double").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            )
            .cast("double")
            .alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )
    return base.transpose()


@register(
    "pandas_api_groupby",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS acctbal_cents,
           CAST(max(length(c_name)) AS BIGINT) AS max_name_len
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def pandas_api_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas-on-Spark API surface (``pyspark.pandas``): the same
    groupby-aggregate expressed with the pandas idiom — ``psdf.groupby
    (...).agg(...)`` — and converted back with ``.to_spark()``. The
    point of the entry: the pandas API is a FRONT-END over Catalyst
    (every op here compiles to the same exchange/hash-agg plan as the
    DataFrame form — nothing executes in driver pandas), so
    pandas-fluent users get distributed execution with zero rewrite.
    Money is pre-quantized to integer cents on the Spark side before
    entering the pandas API, keeping the cross-engine sum exact.

    100 TB caveat, documented: the pandas API's default index
    (``attach_distributed_sequence``) can force an extra exchange —
    this entry never materializes an index (groupby-agg only), which
    is the scale-safe subset."""
    import pyspark.pandas as ps

    c = table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
        F.length("c_name").alias("name_len"),
    )
    psdf = c.pandas_api()
    out = psdf.groupby("c_mktsegment").agg(
        n_customers=("cents", "count"),
        acctbal_cents=("cents", "sum"),
        max_name_len=("name_len", "max"),
    )
    sdf = out.reset_index().to_spark()
    return sdf.select(
        "c_mktsegment",
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.col("acctbal_cents").cast("bigint").alias("acctbal_cents"),
        F.col("max_name_len").cast("bigint").alias("max_name_len"),
    )


# ---- EXECUTE IMMEDIATE (parameterized SQL) -------------------------------

# ONE template string: the engine runs it through EXECUTE IMMEDIATE with
# positional USING parameters; the oracle inlines the same literals into
# the same text — Catalyst folds the bind parameters to literals before
# optimization, so the two plans are identical by construction.
_EXEC_IMM_TMPL = """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
             AS revenue
    FROM {orders}
    WHERE o_totalprice > {p1} AND o_orderkey % {p2} = 0
    GROUP BY o_orderstatus
"""
_EXEC_IMM_P1 = "50000.0"
_EXEC_IMM_P2 = "3"


@register(
    "execute_immediate_params",
    oracle=_EXEC_IMM_TMPL.format(
        orders="orders", p1=_EXEC_IMM_P1, p2=_EXEC_IMM_P2
    ),
)
def execute_immediate_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 EXECUTE IMMEDIATE with positional bind parameters — the
    dynamic-SQL front door (compiled query text + USING values, the
    SQL-injection-safe way to parameterize dashboards and schedulers).
    The engine binds the revenue threshold and modulus via `?`
    placeholders; the oracle inlines the SAME literals into the SAME
    template string. Catalyst constant-folds the bound parameters
    before optimization, so pushdown and plan shape are identical to
    the inlined form (the sql_session_variables argument, one API
    deeper)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("_ei_orders")
    q = _EXEC_IMM_TMPL.format(orders="_ei_orders", p1="?", p2="?")
    # EXECUTE IMMEDIATE takes the query as a string literal constant
    esc = q.replace("'", "''")
    return spark.sql(
        f"EXECUTE IMMEDIATE '{esc}' USING {_EXEC_IMM_P1}, {_EXEC_IMM_P2}"
    )


# ---- UDTF with TABLE argument (partitioned polymorphic input) ------------

_UDTF_BUDGET = 10_000  # per-source char budget (shared with the oracle)


@register(
    "udtf_table_partitioned",
    oracle=f"""
    WITH c AS (
      SELECT source, doc_id, n_chars,
             sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents WHERE n_chars IS NOT NULL
    )
    SELECT source,
           CAST(count(*) FILTER (WHERE cum <= {_UDTF_BUDGET}) AS BIGINT)
             AS n_docs_kept,
           CAST(coalesce(sum(n_chars) FILTER (WHERE cum <= {_UDTF_BUDGET}),
                         0) AS BIGINT) AS chars_used
    FROM c GROUP BY source
    """,
)
def udtf_table_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF consuming a TABLE argument with PARTITION BY /
    ORDER BY (Spark 4 polymorphic table function) — the engine feeds
    each source's rows, id-ordered, to ONE stateful UDTF instance,
    which greedily admits documents until a fixed char budget is
    exhausted and emits a single summary row at partition end
    (terminate()). This is the SQL-standard PTF shape (think
    MATCH_RECOGNIZE-class operators) and completes the UDTF surface
    beyond the row-lateral udtf_token_chunks. Admission stops at the
    first overflow, which makes the semantics the prefix rule the
    window oracle states declaratively.

    100 TB shape: partition-parallel like any grouped map — state is
    one (count, used) pair per source, rows stream through without
    buffering; the ORDER BY is enforced per-partition by the engine's
    sort, not by a global ordering."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="source string, n_docs_kept bigint, chars_used bigint")
    class BudgetPack:
        BUDGET = _UDTF_BUDGET  # class attr pickles with the class,
        # keeping engine and oracle on the one knob

        def __init__(self):
            self.src = None
            self.seen = False  # NULL source is a real partition — a
            # `src is not None` guard would swallow it (r11 NULL-
            # parity audit); this flag only suppresses empty input
            self.n = 0
            self.used = 0
            self.stopped = False

        def eval(self, row):  # noqa: ANN001
            self.src = row["source"]
            self.seen = True
            if self.stopped:
                return
            if self.used + row["n_chars"] > self.BUDGET:
                self.stopped = True
                return
            self.used += row["n_chars"]
            self.n += 1

        def terminate(self):
            if self.seen:
                yield self.src, self.n, self.used

    spark.udtf.register("budget_pack_udtf", BudgetPack)
    # input contract (r11 NULL-parity audit): a doc with no length
    # can't be budgeted — the UDTF would TypeError on None arithmetic
    table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    ).select("source", "doc_id", "n_chars").createOrReplaceTempView(
        "budget_pack_input"
    )
    return spark.sql(
        """
        SELECT * FROM budget_pack_udtf(
          TABLE(budget_pack_input)
          PARTITION BY source ORDER BY doc_id
        )
        """
    )


# ---- collation-aware grouping (Spark 4 collations) -----------------------


@register(
    "collation_lcase_grouping",
    oracle=f"""
    WITH v AS (
      SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_name)
                  ELSE p_name END AS name_mixed,
             {duck_jlower("p_name")} AS name_lc,
             p_partkey
      FROM part
    )
    SELECT name_lc,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT name_mixed) AS BIGINT) AS n_case_variants,
           CAST(min(p_partkey) AS BIGINT) AS min_partkey
    FROM v GROUP BY name_lc
    """,
)
def collation_lcase_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4): GROUP BY under UTF8_LCASE collation
    merges case variants AT THE COMPARISON LEVEL — no lower() rewrite
    of the data — while count(DISTINCT <binary column>) inside the same
    aggregation still sees the raw variants. The fixture is all-lower,
    so the entry manufactures case variance deterministically (upper()
    on even part keys) and then proves the collated grouping folds it
    back: every group reports its binary variant count. The oracle
    (DuckDB has no column collations) uses the lower()-key rewrite —
    the exact rewrite collations exist to avoid, which is the parity
    point. The displayed key is the precomputed lowercase twin rather
    than the collated value itself: a collated group's representative
    is whichever variant the engine saw first — nondeterministic by
    spec, so it must never be an output column.

    100 TB shape: identical to any single-key groupBy — collation
    affects the hash/compare functions, not the shuffle topology."""
    p = table(spark, sf_dir, "part")
    v = p.select(
        F.when(
            F.col("p_partkey") % 2 == 0, F.upper("p_name")
        )
        .otherwise(F.col("p_name"))
        .alias("name_mixed"),
        F.lower("p_name").alias("name_lc"),
        "p_partkey",
    )
    return (
        v.groupBy(F.expr("name_mixed COLLATE UTF8_LCASE").alias("k"))
        .agg(
            F.min("name_lc").alias("name_lc"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count_distinct(F.expr("name_mixed COLLATE UTF8_BINARY"))
            .cast("bigint")
            .alias("n_case_variants"),
            F.min("p_partkey").cast("bigint").alias("min_partkey"),
        )
        .select("name_lc", "n_rows", "n_case_variants", "min_partkey")
    )


# ---- SQL scripting (compound statements, Spark 4.0) ----------------------

_TRIM_ITERS = 3


@register(
    "sql_scripting_iterative_trim",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
    ),
    t1 AS (SELECT CAST(floor(avg(cents)) AS BIGINT) AS t FROM v),
    t2 AS (SELECT CAST(floor(avg(v.cents)) AS BIGINT) AS t
           FROM v, t1 WHERE v.cents <= t1.t),
    t3 AS (SELECT CAST(floor(avg(v.cents)) AS BIGINT) AS t
           FROM v, t2 WHERE v.cents <= t2.t)
    SELECT t3.t AS final_threshold,
           (SELECT count(*) FROM v, t3 WHERE v.cents <= t3.t)
             AS n_below
    FROM t3
    """,
)
def sql_scripting_iterative_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.0 compound statements): a BEGIN...END
    block with DECLAREd variables and a WHILE loop computing an
    iterated one-sided trimmed mean — each pass re-averages only the
    values at or below the previous pass's floor(avg), a fixed-point
    style iteration that plain SQL cannot express without unrolling.
    The script drives real data through the loop (a scalar subquery
    per iteration), and the oracle IS the 3-step unrolling — pinning
    that the scripting runtime's variable semantics match chained
    CTEs exactly. The first iteration's threshold is max(cents), so
    pass 1 is the plain mean; floor(avg) stays cross-engine exact
    because sums of cents sit far under 2^53.

    100 TB shape: each loop pass is one full aggregation — scripting
    changes control flow, not data flow; the scan count is the
    iteration count, as the unrolled oracle makes explicit."""
    table(spark, sf_dir, "events").filter(
        in_grid_domain(F.col("value"))
    ).select(
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents")
    ).createOrReplaceTempView("script_trim_v")
    return spark.sql(
        f"""
        BEGIN
          DECLARE thr BIGINT;
          DECLARE i INT DEFAULT 0;
          SET thr = (SELECT max(cents) FROM script_trim_v);
          WHILE i < {_TRIM_ITERS} DO
            SET thr = (SELECT CAST(floor(avg(cents)) AS BIGINT)
                       FROM script_trim_v WHERE cents <= thr);
            SET i = i + 1;
          END WHILE;
          SELECT thr AS final_threshold,
                 (SELECT count(*) FROM script_trim_v
                  WHERE cents <= thr) AS n_below;
        END
        """
    )


def _ps_merge_asof_backward(
    left_ps, right_ps, *, on: str, by: str, right_value: str
):
    """Scale-safe backward ``merge_asof`` over pandas-on-Spark frames:
    same contract as ``ps.merge_asof(left, right, on=, by=,
    direction="backward")`` restricted to one right-side value column,
    but lowered as a tagged UNION + running ``last(ignorenulls)``
    window instead of the inequality join pandas-on-Spark emits.

    Why: ps.merge_asof lowers to a BroadcastNestedLoopJoin on the bare
    ``on`` inequality (by-key equality applied downstream) —
    O(|left|x|right|) pairs, quadratic in corpus size (measured r09,
    ~400M pairs at sf0.1). This lowering is the asof_last_signup plan:
    one shuffle on the ``by`` key, a single running frame, linear.
    Right rows sort BEFORE left rows at equal ``on`` values (backward
    is at-or-before inclusive); unmatched left rows keep NULL, exactly
    pandas' left-asof contract. Takes and returns pandas-on-Spark
    DataFrames so the pandas API surface stays at the edges.

    Precondition (ADVICE r10): the left frame must not already carry
    the right-side value column (or the ``_is_left`` tag) — the tagged
    unionByName would merge them and ``last(ignorenulls)`` would pick
    the left row's OWN value instead of the asof match, silently.
    Asserted here so a future general-purpose call site fails loudly.

    KNOWN DEVIATION from the pandas API it emulates (ADVICE r11):
    real ``pandas.merge_asof`` RAISES ``ValueError: Merge keys contain
    null values`` on a NULL ``on``/``by`` key on either side. This
    lowering instead follows the SQL contract its oracle declares —
    NULL-key RIGHT rows are filtered (never a match), NULL-key LEFT
    rows are kept with a NULL match. Callers porting pandas code that
    relies on the raise must pre-validate key nullability themselves."""
    left = left_ps.to_spark()
    right = right_ps.to_spark()
    left_cols = left.columns
    assert right_value not in left_cols, (
        f"left frame already has a column named {right_value!r}: the "
        "union+last(ignorenulls) lowering would read left rows' own "
        "values as asof matches — rename it before calling"
    )
    assert "_is_left" not in left_cols and "_is_left" not in right.columns, (
        "'_is_left' collides with the lowering's internal tag column"
    )
    # NULL-key semantics (r11 NULL-parity audit + review): a right row
    # with no ``on`` value can never be an asof match (the inequality
    # join's s.ts <= p.ts is never true), and neither can one with no
    # ``by`` value (the oracle's equi-join never matches NULL = NULL,
    # while partitionBy would group NULL by-keys together) — both
    # filtered out; a LEFT row with a NULL key is kept with a NULL
    # match, which follows automatically: NULL-by left rows share
    # their partition with no surviving right rows, and NULL-on left
    # rows lead theirs under the explicit nulls-FIRST ordering.
    tagged = left.withColumn("_is_left", F.lit(1)).unionByName(
        right.filter(
            F.col(on).isNotNull() & F.col(by).isNotNull()
        ).withColumn("_is_left", F.lit(0)),
        allowMissingColumns=True,
    )
    w = (
        Window.partitionBy(by)
        .orderBy(
            F.asc_nulls_first(on), F.asc("_is_left"), F.asc(right_value)
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        tagged.withColumn(
            right_value, F.last(right_value, ignorenulls=True).over(w)
        )
        .filter(F.col("_is_left") == 1)
        .select(*left_cols, right_value)
    )
    return out.pandas_api()


@register(
    "pandas_api_merge_asof",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'signup'
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts FROM events
      WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT p.purchase_id, p.user_id,
             max_by(s.event_id, s.ts) AS signup_id
      FROM p LEFT JOIN s
        ON s.user_id = p.user_id AND s.ts <= p.p_ts
      GROUP BY p.purchase_id, p.user_id
    )
    SELECT purchase_id, user_id, signup_id FROM m
    """,
)
def pandas_api_merge_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas-API ``merge_asof`` surface (each purchase picks the
    LATEST signup at or before it, per user) with a scale-safe
    lowering: pandas-on-Spark frames at the edges,
    ``_ps_merge_asof_backward``'s union + running-window plan inside —
    the asof_last_signup shape (one shuffle on user_id, zero joins).
    The oracle is the max_by inequality-join formulation over the FULL
    table; unmatched purchases keep a NULL signup, exactly pandas'
    left-asof contract. Timestamps in the fixture are unique per user
    (checked at all three scales), so the latest-at-or-before pick is
    deterministic without a tiebreak (ps.merge_asof offers none — the
    helper adds a value-column tiebreak for safety).

    History (r09 → r10): the native ``ps.merge_asof`` call lowers to a
    BroadcastNestedLoopJoin BuildLeft on the bare ``ts >= right_ts``
    inequality — O(|left|x|right|), ~400M pairs at sf0.1, quadratic in
    corpus size and not fixable by indexing — which forced a
    user_id < 200 slice in r01–r09. r10 replaces the lowering per
    VERDICT r09 item 4: the slice is REMOVED, the plan shows no
    conditioned corpus x corpus BNLJ (one window over the user_id
    shuffle), and the entry now runs the full table at every scale."""
    e = table(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .select("user_id", F.col("event_id").alias("signup_id"), "ts")
        .pandas_api()
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            "user_id", F.col("event_id").alias("purchase_id"), "ts"
        )
        .pandas_api()
    )
    out = _ps_merge_asof_backward(
        p, s, on="ts", by="user_id", right_value="signup_id"
    )
    return out.to_spark().select("purchase_id", "user_id", "signup_id")


@register(
    "sql_table_function_lateral",
    oracle="""
    WITH r AS (
      SELECT user_id, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY CAST(floor(value * 100 + 0.5)
                                              AS BIGINT) DESC,
                                         event_id ASC) AS rn
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
      WHERE user_id < 50
    )
    SELECT user_id, event_id, cents FROM r WHERE rn <= 2
    """,
)
def sql_table_function_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language TABLE function (CREATE FUNCTION ... RETURNS TABLE,
    Spark 4) applied per row through a correlated LATERAL join — the
    declarative macro form of per-entity subqueries that
    sql_udf_suite's scalar functions can't express. The function body
    projects one user's events; the outer query ranks and keeps the
    top 2 per user, and the hash-match against the window oracle pins
    that decorrelation preserves per-user semantics.

    MEASURED CAVEAT (why the top-2 LIMIT is OUTSIDE the function):
    putting ORDER BY ... LIMIT 2 inside the TVF body silently applied
    the limit GLOBALLY under lateral correlation on this Spark build —
    2 rows total instead of 2 per user, no error raised. A correlated
    TVF with LIMIT is therefore a silent-wrong-results trap, which
    this entry documents and avoids rather than ships.

    100 TB shape: after decorrelation this is one window over a
    user-partitioned sort — per-row re-execution of the function body
    never happens."""
    table(spark, sf_dir, "events").filter(
        in_grid_domain(F.col("value"))
    ).createOrReplaceTempView("sql_tf_events")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION user_events_tvf(uid BIGINT)
        RETURNS TABLE (event_id BIGINT, cents BIGINT)
        RETURN SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT)
        FROM sql_tf_events WHERE user_id = uid
        """
    )
    return spark.sql(
        """
        WITH applied AS (
          SELECT u.user_id, t.event_id, t.cents,
                 row_number() OVER (PARTITION BY u.user_id
                                    ORDER BY t.cents DESC,
                                             t.event_id ASC) AS rn
          FROM (SELECT DISTINCT user_id FROM sql_tf_events
                WHERE user_id < 50) u,
          LATERAL user_events_tvf(u.user_id) t
        )
        SELECT user_id, event_id, cents FROM applied WHERE rn <= 2
        """
    )
