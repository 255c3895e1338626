"""Focused equivalence pins for the r13 resource_allocation_linkpred
rewrite (distinct + degree join + pair self-join -> one collect_set
aggregate + map-side C(d,2) pair explode).

Two properties carry the proof:

1. Full-output equivalence vs the old self-join lowering (kept verbatim
   below as the semantic reference) at two SFs.
2. NULL parity: the old degree counted the single (c, NULL) row DISTINCT
   keeps, while collect_set drops NULLs — the rewrite restores it via
   size(set) + has_null. Pinned on a hand-built frame with NULL
   suppliers and NULL customers (the class the registry's NULL-spiked
   audits exercise; invisible on the committed fixtures).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import TWO_SFS
from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.plans.stat_tests import (
    _RA_DEG_CAP,
    _RA_SCALE,
    _RA_TOPK,
)


def _linkpred_selfjoin_reference_from_edges(e):
    """Pair stage of the pre-r13 lowering, verbatim, over an edge DF."""
    deg = e.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    kept = e.join(deg, "c").filter(F.col("d") <= _RA_DEG_CAP)
    a = kept.select("c", F.col("s").alias("supp_a"), "d")
    b = kept.select("c", F.col("s").alias("supp_b"))
    return (
        a.join(b, "c")
        .where(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(
            F.sum(F.expr(f"{_RA_SCALE} div d")).cast("bigint").alias("ra_e8"),
            F.count(F.lit(1)).cast("bigint").alias("common_customers"),
        )
        .select("supp_a", "supp_b", "common_customers", "ra_e8")
        .orderBy(F.desc("ra_e8"), F.asc("supp_a"), F.asc("supp_b"))
        .limit(_RA_TOPK)
    )


def _linkpred_selfjoin_reference(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return _linkpred_selfjoin_reference_from_edges(e)


def _linkpred_explode_from_edges(e):
    """Pair stage of the r13 rewrite over a raw (non-distinct) edge DF —
    mirrors the registry lowering in plans/stat_tests.py."""
    per_c = (
        e.filter(F.col("c").isNotNull())
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


@pytest.mark.parametrize("two_sf_dir", TWO_SFS)
def test_linkpred_rewrite_matches_selfjoin_lowering(spark, two_sf_dir):
    if not os.path.isdir(two_sf_dir):
        pytest.skip(f"{two_sf_dir} not present")
    from tiny_etl_multiproc_bigdata_spark.plans.stat_tests import (
        resource_allocation_linkpred,
    )

    new = resource_allocation_linkpred(spark, two_sf_dir)
    old = _linkpred_selfjoin_reference(spark, two_sf_dir)
    assert new.collect() == old.collect()  # ordered topk, exact rows


def test_linkpred_rewrite_null_parity(spark):
    """NULL suppliers must still count toward the degree (DISTINCT kept
    one (c, NULL) row, the old count included it), and NULL customers
    must stay pair-less — exactly what the old equi-joins did."""
    rows = [
        # c=1: suppliers {10, 20} + a NULL supplier (twice: DISTINCT
        # collapses them) -> d = 3, term = 1e8 div 3
        (1, 10), (1, 20), (1, None), (1, None),
        # c=2: suppliers {10, 20} with duplicates -> d = 2
        (2, 10), (2, 20), (2, 10),
        # c=3: single supplier -> no pairs, but contributes nothing
        (3, 10),
        # NULL customer with suppliers: never pairs (equi-join key)
        (None, 10), (None, 20),
    ]
    raw = spark.createDataFrame(rows, "c bigint, s bigint")
    old = _linkpred_selfjoin_reference_from_edges(
        raw.distinct().localCheckpoint(eager=True)
    ).collect()
    new = _linkpred_explode_from_edges(raw).collect()
    assert new == old
    # and the values themselves: pair (10, 20) seen by c=1 (d=3) and
    # c=2 (d=2) -> ra = 1e8//3 + 1e8//2, common_customers = 2
    assert [tuple(r) for r in new] == [
        (10, 20, 2, _RA_SCALE // 3 + _RA_SCALE // 2)
    ]
