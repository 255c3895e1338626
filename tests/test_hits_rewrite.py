"""Focused equivalence pin for the r13 HITS join reorder.

Each half-round used to run nodes ⟕ e ⟕ other_score → groupBy, sending
the EDGE table through two exchanges (and the partials through a
third). The rewrite joins the score table to the edge list first
(inner) and partial-aggregates before the nodes ⟕ left join. The old
lowering is kept verbatim below as the semantic reference; equivalence
is pinned at two SFs, plus a constructed frame exercising the classes
the fixtures cannot: a node with no edges (s must be 0, via the final
left join) and a NULL edge key (never equi-joins in either lowering).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import TWO_SFS
from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.plans.graph_ops import (
    _HITS_ITERS,
    hits_hub_authority,
)


def _hits_string_reference(spark, sf_dir):
    """The pre-r13 lowering, verbatim (modulo formatting)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("hub"), F.col("l_suppkey").alias("auth")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    hubs = e.select("hub").distinct().localCheckpoint(eager=True)
    auths = e.select("auth").distinct().localCheckpoint(eager=True)
    h = hubs.withColumn("s", F.lit(1).cast("bigint"))
    a = auths.withColumn("s", F.lit(0).cast("bigint"))
    for _ in range(_HITS_ITERS):
        h = h.localCheckpoint(eager=True)
        a = (
            auths.join(e, "auth", "left")
            .join(h.select("hub", F.col("s").alias("hs")), "hub", "left")
            .groupBy("auth")
            .agg(F.coalesce(F.sum("hs"), F.lit(0)).cast("bigint").alias("s"))
        )
        a = a.localCheckpoint(eager=True)
        h = (
            hubs.join(e, "hub", "left")
            .join(a.select("auth", F.col("s").alias("as_")), "auth", "left")
            .groupBy("hub")
            .agg(F.coalesce(F.sum("as_"), F.lit(0)).cast("bigint").alias("s"))
        )
    return h.select(
        F.concat(F.lit("h"), F.col("hub").cast("string")).alias("node"),
        F.col("s").alias("score"),
    ).unionAll(
        a.select(
            F.concat(F.lit("a"), F.col("auth").cast("string")).alias("node"),
            F.col("s").alias("score"),
        )
    )


@pytest.mark.parametrize("sf", TWO_SFS)
def test_hits_reorder_equivalence(spark, sf):
    old = {tuple(r) for r in _hits_string_reference(spark, sf).collect()}
    new = {tuple(r) for r in hits_hub_authority(spark, sf).collect()}
    assert old == new
    assert len(old) > 0


def test_hits_half_round_edge_cases(spark):
    """One half-round over a constructed edge list: an auth node with
    edges sums its hubs' scores; NULL keys never join; edge-less nodes
    (present only via the node tables) score 0 in both lowerings."""
    e = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (None, 12)],
        "hub long, auth long",
    )
    hubs = spark.createDataFrame([(1,), (2,), (3,)], "hub long")
    auths = spark.createDataFrame([(10,), (11,), (12,), (13,)], "auth long")
    h = hubs.withColumn("s", (F.col("hub") * 10).cast("bigint"))

    old = {
        tuple(r)
        for r in (
            auths.join(e, "auth", "left")
            .join(h.select("hub", F.col("s").alias("hs")), "hub", "left")
            .groupBy("auth")
            .agg(F.coalesce(F.sum("hs"), F.lit(0)).cast("bigint").alias("s"))
        ).collect()
    }
    pa = (
        e.join(h.select("hub", F.col("s").alias("hs")), "hub")
        .groupBy("auth")
        .agg(F.sum("hs").alias("ps"))
    )
    new = {
        tuple(r)
        for r in auths.join(pa, "auth", "left")
        .select(
            "auth",
            F.coalesce(F.col("ps"), F.lit(0)).cast("bigint").alias("s"),
        )
        .collect()
    }
    assert old == new == {(10, 30), (11, 10), (12, 0), (13, 0)}
