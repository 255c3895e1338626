"""Focused equivalence pin for the r13 itemcf_topk_similar rewrite
(pair-symmetrization union → score each unordered pair once + map-side
explode of both directions; shuffle_hash hint on the basket self-join).

Correctness hinges on cosine symmetry being EXACT in IEEE doubles:
cos(a,b) = co / (sqrt(na) * sqrt(nb)) and IEEE multiplication is
commutative, so the single scored value equals both of the old
per-direction values bit-for-bit. Pinned by full-output equivalence of
the rewritten query vs the old union lowering (kept verbatim below as
the semantic reference) at two SFs.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from conftest import TWO_SFS
from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.plans.relational import _CF_TOPK


def _itemcf_union_reference(spark, sf_dir):
    """The pre-r13 lowering, kept verbatim as the semantic reference."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    li = li.localCheckpoint(eager=True)
    n = li.groupBy("pk").agg(F.count(F.lit(1)).alias("n"))
    a = li.select(F.col("ok"), F.col("pk").alias("pa"))
    b = li.select(F.col("ok"), F.col("pk").alias("pb"))
    co = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    sym = co.unionAll(
        co.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"), "co")
    )
    scored = (
        sym.join(F.broadcast(n.withColumnRenamed("pk", "pa")
                             .withColumnRenamed("n", "na")), "pa")
        .join(F.broadcast(n.withColumnRenamed("pk", "pb")
                          .withColumnRenamed("n", "nb")), "pb")
        .select(
            F.col("pa").alias("item"),
            F.col("pb").alias("neighbor"),
            F.floor(
                F.col("co")
                / (F.sqrt(F.col("na").cast("double"))
                   * F.sqrt(F.col("nb").cast("double")))
                * 1_000_000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cos_micro"),
        )
    )
    wr = Window.partitionBy("item").orderBy(
        F.desc("cos_micro"), F.asc("neighbor")
    )
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _CF_TOPK)
        .select("item", "neighbor", "cos_micro", "rn")
    )


@pytest.mark.parametrize("two_sf_dir", TWO_SFS)
def test_itemcf_rewrite_matches_union_lowering(spark, two_sf_dir):
    if not os.path.isdir(two_sf_dir):
        pytest.skip(f"{two_sf_dir} not present")
    from tiny_etl_multiproc_bigdata_spark.plans.relational import (
        itemcf_topk_similar,
    )

    new = itemcf_topk_similar(spark, two_sf_dir)
    old = _itemcf_union_reference(spark, two_sf_dir)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert new.count() == old.count()
