"""Generator edge-cases and map-typed columns: explode_outer null
preservation, map construction/access (exploded to rows for a
deterministic engine-portable representation), regexp capture groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.numerics import in_grid_domain
from tiny_etl_multiproc_bigdata_spark.functions.text import duck_jlower, tokenize_words
from tiny_etl_multiproc_bigdata_spark.functions.rounding import (
    exact_round,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import register


@register(
    "explode_outer_nulls",
    oracle=rf"""
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE list_filter(regexp_split_to_array({duck_jlower("text")}, '\s+'),
                                   t -> t LIKE 'q%') END AS qwords
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id, u.w AS qword
    FROM docs LEFT JOIN LATERAL unnest(docs.qwords) AS u(w) ON true
    """,
)
def explode_outer_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with NULL/empty arrays survive with a NULL
    element (plain explode would drop them — the generator analog of a
    left join). Exercised by nulling every 7th doc's array."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    qwords = F.when(
        F.col("doc_id") % 7 == 0, F.lit(None).cast("array<string>")
    ).otherwise(
        F.filter(
            tokenize_words(F.lower(F.col("text"))), lambda t: t.startswith("q")
        )
    )
    return d.select("doc_id", F.explode_outer(qwords).alias("qword"))


@register(
    "map_functions",
    oracle="""
    SELECT o_orderstatus AS status, 'n_orders' AS metric,
           CAST(count(*) AS DOUBLE) AS value
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT o_orderstatus, 'max_price',
           round(max(o_totalprice), 2)
    FROM orders GROUP BY o_orderstatus
    """,
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed columns: build a metrics map per group, then explode
    its entries back to rows. The map is the engine-internal shape; the
    exploded (key, value) rows are the deterministic, engine-portable
    representation (map iteration order is never guaranteed — the
    oracle is the UNION ALL of the entries)."""
    o = table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        F.count("*").cast("double").alias("n"),
        exact_round(F.max("o_totalprice"), 2).alias("mx"),
    )
    m = F.create_map(
        F.lit("n_orders"), F.col("n"), F.lit("max_price"), F.col("mx")
    )
    return agg.select(
        F.col("o_orderstatus").alias("status"), F.explode(m).alias("metric", "value")
    )


@register(
    "regexp_capture_groups",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_brand, 'Brand#(\\d)(\\d)', 1) AS brand_major,
           regexp_extract(p_brand, 'Brand#(\\d)(\\d)', 2) AS brand_minor
    FROM part
    """,
)
def regexp_capture_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract with numbered capture groups."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"Brand#(\d)(\d)", 1).alias("brand_major"),
        F.regexp_extract("p_brand", r"Brand#(\d)(\d)", 2).alias("brand_minor"),
    )


@register(
    "map_hof_suite",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type,
             count(*) AS n,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
      WHERE user_id < 40 AND event_type IS NOT NULL
        AND value IS NOT NULL
      GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_types,
           '{' || string_agg('"' || upper(event_type) || '":' || (s // n),
                             ',' ORDER BY event_type) || '}' AS avg_json,
           '{' || coalesce(string_agg('"' || upper(event_type) || '":'
                                      || (s // n), ',' ORDER BY event_type)
                             FILTER (WHERE s // n >= 1000), '') || '}'
             AS high_json
    FROM c GROUP BY user_id
    """,
)
def map_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions as one pipeline: per-user metric maps
    built with map_from_entries over SORTED entry arrays (the only way
    a map's serialized key order is deterministic), fused with
    map_zip_with (integer per-type average = cents-sum zip counts),
    re-keyed with transform_keys (upper), and thresholded with
    map_filter — the collection algebra Spark executes entirely in
    codegen, no explode/re-group round trip. Serialization is to_json
    of the transformed maps; the oracle reproduces byte-identical JSON
    with an ordered string_agg, which pins entry ORDER as part of the
    contract (and '{}' for the filtered-empty case, coalesced on the
    oracle side). The integer division inside the lambda is the
    subtract-modulo form ((s - s%n)/n): the operands are exact
    multiples, so the double quotient is exact on both engines.

    100 TB shape: one shuffle to (user, type) partial aggregates, one
    to the per-user map build; every map op after that is a per-row
    expression — the explode-regroup alternative would add a third
    shuffle on the re-group.

    Input contract (r11 NULL-parity audit): a metric map needs a key —
    NULL event_types are excluded on both engines (map_from_entries
    THROWS on a NULL map key; the oracle's string_agg would silently
    drop the entry while still counting it in n_types), and so are
    NULL values (an all-NULL-value type would put a NULL avg in the
    Spark map that to_json renders as \"TYPE\":null while the oracle's
    string_agg drops the element — the maps are over PRICED events)."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value"))).filter(
        (F.col("user_id") < 40)
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
    )
    c = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("s"),
    )
    per_user = c.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("cnt_map"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "s")))
        ).alias("sum_map"),
    )
    avg_map = F.map_zip_with(
        "sum_map",
        "cnt_map",
        lambda _k, s, n: ((s - s % n) / n).cast("bigint"),
    )
    upper_avg = F.transform_keys(avg_map, lambda k, _v: F.upper(k))
    high = F.map_filter(upper_avg, lambda _k, v: v >= 1000)
    return per_user.select(
        "user_id",
        F.size("cnt_map").cast("bigint").alias("n_types"),
        F.to_json(upper_avg).alias("avg_json"),
        F.to_json(high).alias("high_json"),
    )
