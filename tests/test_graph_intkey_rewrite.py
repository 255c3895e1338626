"""Focused equivalence pins for the r13 int64 node-code ports of the
four remaining string-keyed graph recurrences (pagerank_scaled,
pagerank_personalized, sssp_bellman_ford, kcore_fixed_peels) — the
same _lpa_enc/_lpa_dec bijection the LPA rewrite introduced (its
order-isomorphism and roundtrip are pinned in test_lpa_rewrite.py;
these recurrences need only BIJECTIVITY: sums, min-plus and degree
counts never compare node ids).

Each port is pinned by full-output equivalence vs the old string
lowering (kept verbatim below) at two SFs.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import TWO_SFS
from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.plans.graph_ops import (
    _KCORE_K,
    _KCORE_PEELS,
    _PR_BASE,
    _PR_ITERS,
    _PR_SCALE,
    _PPR_SEED_MOD,
    _SSSP_ITERS,
    _SSSP_SOURCE,
)


def _pagerank_scaled_string_reference(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    e2 = edges.join(outdeg, "src").localCheckpoint(eager=True)
    pr = nodes.withColumn("pr", F.lit(_PR_SCALE).cast("bigint"))
    for _ in range(_PR_ITERS):
        pr = pr.hint("shuffle_hash")
        contrib = (
            e2.join(pr, e2.src == pr.node)
            .select(F.col("dst").alias("node"), F.expr("pr div d").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        pr = nodes.join(contrib, "node", "left").select(
            "node",
            F.expr(
                f"CAST({_PR_BASE} + (85 * coalesce(s, 0)) div 100 AS BIGINT)"
            ).alias("pr"),
        )
    return pr


def _ppr_string_reference(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
            F.col("o_custkey").alias("ck"),
        )
        .distinct()
    )
    nodes = (
        edges.select(
            F.col("src").alias("node"),
            (F.col("ck") % _PPR_SEED_MOD == 7).cast("int").alias("seed"),
        )
        .unionAll(
            edges.select(F.col("dst").alias("node"), F.lit(0).alias("seed"))
        )
        .groupBy("node")
        .agg(F.max("seed").alias("seed"))
    )
    edges = edges.localCheckpoint(eager=True)
    nodes = nodes.localCheckpoint(eager=True)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    e2 = (
        edges.select("src", "dst").join(outdeg, "src").localCheckpoint(eager=True)
    )
    pr = nodes.select(
        "node",
        "seed",
        F.when(F.col("seed") == 1, F.lit(_PR_SCALE))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("pr"),
    )
    for _ in range(_PR_ITERS):
        prs = pr.select("node", "pr").hint("shuffle_hash")
        contrib = (
            e2.join(prs, e2.src == F.col("node"))
            .select(F.col("dst").alias("node"), F.expr("pr div d").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        pr = nodes.join(contrib, "node", "left").select(
            "node",
            "seed",
            F.expr(
                f"CAST(CASE WHEN seed = 1 THEN {_PR_BASE} ELSE 0 END"
                " + (85 * coalesce(s, 0)) div 100 AS BIGINT)"
            ).alias("pr"),
        )
    return pr.filter(F.col("pr") > 0).select("node", "pr")


def _sssp_string_reference(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "cnode"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "snode"
            ),
        )
        .agg(F.min("l_quantity").cast("bigint").alias("w"))
    )
    e = (
        pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst"), "w")
        .unionAll(
            pairs.select(
                F.col("snode").alias("src"), F.col("cnode").alias("dst"), "w"
            )
        )
        .localCheckpoint(eager=True)
    )
    d = spark.createDataFrame([(_SSSP_SOURCE, 0)], "node string, dist long")
    for _ in range(_SSSP_ITERS):
        d = d.localCheckpoint(eager=True)
        relaxed = e.join(d, e.src == d.node).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        d = (
            d.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
        )
    return d


def _kcore_string_reference(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "cnode"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "snode"
            ),
        )
        .distinct()
    )
    e = (
        pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst"))
        .unionAll(
            pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("src").alias("node")).distinct()
    for _ in range(_KCORE_PEELS):
        nodes = nodes.localCheckpoint(eager=True)
        a = nodes.select(F.col("node").alias("src"))
        b = nodes.select(F.col("node").alias("dst"))
        nodes = (
            e.join(a, "src")
            .join(b, "dst")
            .groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("src").alias("node"))
        )
    from pyspark.sql import Window as W

    return nodes.select(
        "node",
        F.count("*").over(W.partitionBy()).cast("bigint").alias(
            "surviving_nodes"
        ),
    )


def _assert_same(new_df, old_df):
    assert new_df.exceptAll(old_df).count() == 0
    assert old_df.exceptAll(new_df).count() == 0
    assert new_df.count() == old_df.count()


@pytest.mark.parametrize("two_sf_dir", TWO_SFS)
def test_pagerank_scaled_intkey_matches(spark, two_sf_dir):
    if not os.path.isdir(two_sf_dir):
        pytest.skip(f"{two_sf_dir} not present")
    from tiny_etl_multiproc_bigdata_spark.plans.graph_ops import pagerank_scaled

    _assert_same(
        pagerank_scaled(spark, two_sf_dir),
        _pagerank_scaled_string_reference(spark, two_sf_dir),
    )


@pytest.mark.parametrize("two_sf_dir", TWO_SFS)
def test_pagerank_personalized_intkey_matches(spark, two_sf_dir):
    if not os.path.isdir(two_sf_dir):
        pytest.skip(f"{two_sf_dir} not present")
    from tiny_etl_multiproc_bigdata_spark.plans.graph_ops import (
        pagerank_personalized,
    )

    _assert_same(
        pagerank_personalized(spark, two_sf_dir),
        _ppr_string_reference(spark, two_sf_dir),
    )


@pytest.mark.parametrize("two_sf_dir", TWO_SFS)
def test_sssp_intkey_matches(spark, two_sf_dir):
    if not os.path.isdir(two_sf_dir):
        pytest.skip(f"{two_sf_dir} not present")
    from tiny_etl_multiproc_bigdata_spark.plans.graph_ops import (
        sssp_bellman_ford,
    )

    _assert_same(
        sssp_bellman_ford(spark, two_sf_dir),
        _sssp_string_reference(spark, two_sf_dir),
    )


@pytest.mark.parametrize("two_sf_dir", TWO_SFS)
def test_kcore_intkey_matches(spark, two_sf_dir):
    if not os.path.isdir(two_sf_dir):
        pytest.skip(f"{two_sf_dir} not present")
    from tiny_etl_multiproc_bigdata_spark.plans.graph_ops import (
        kcore_fixed_peels,
    )

    _assert_same(
        kcore_fixed_peels(spark, two_sf_dir),
        _kcore_string_reference(spark, two_sf_dir),
    )
