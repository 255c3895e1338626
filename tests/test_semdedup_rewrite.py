"""Focused equivalence pin for the r13 dedup_semantic_kmeans
assignment rewrite (per-pair 3-dot distance + row_number window ->
hoisted ||c||^2, ||x||^2 dropped from the argmin, min(struct) fold).

The proof obligation: for fixed vec_id, ranking centroids by
(||x||^2 - 2x·c + ||c||^2, cid) equals ranking by (||c||^2 - 2x·c, cid)
because ||x||^2 is constant within the partition — pinned by
full-output equivalence vs the old lowering (kept verbatim below) at
two SFs.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from conftest import TWO_SFS
from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.rounding import round_half_up
from tiny_etl_multiproc_bigdata_spark.functions.vectors import (
    is_complete_vector,
)
from tiny_etl_multiproc_bigdata_spark.plans.ivf_kmeans import (
    _CENTROID_MOD,
    _SEM_CLUSTER_CAP,
    _SEM_THRESH_MICRO,
)


def _sem_window_reference(spark, sf_dir):
    """The pre-r13 lowering, kept verbatim as the semantic reference."""
    e = table(spark, sf_dir, "embeddings").filter(
        is_complete_vector(F.col("embedding"))
    )
    qv = e.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") * 1_000_000 + F.lit(0.5)).cast(
                "bigint"
            ),
        ).alias("qa"),
    ).localCheckpoint(eager=True)

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    cent = qv.filter(F.col("vec_id") % _CENTROID_MOD == 7).select(
        F.col("vec_id").alias("cid"), F.col("qa").alias("ca")
    )
    dist = qv.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        (
            idot(F.col("qa"), F.col("qa"))
            - F.lit(2) * idot(F.col("qa"), F.col("ca"))
            + idot(F.col("ca"), F.col("ca"))
        ).alias("d"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("cid"))
    assign = (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
        .localCheckpoint(eager=True)
    )
    biggest = assign.groupBy("cid").count().agg(F.max("count")).first()[0] or 0
    assert biggest <= _SEM_CLUSTER_CAP
    norms = qv.select("vec_id", idot(F.col("qa"), F.col("qa")).alias("nrm"))
    a = assign.select(F.col("cid").alias("cell"), F.col("vec_id").alias("vec_a"))
    b = assign.select(F.col("cid").alias("cell"), F.col("vec_id").alias("vec_b"))
    pairs = a.join(b, "cell").where(F.col("vec_a") < F.col("vec_b"))
    xa = qv.select(F.col("vec_id").alias("vec_a"), F.col("qa").alias("xqa"))
    yb = qv.select(F.col("vec_id").alias("vec_b"), F.col("qa").alias("yqa"))
    na = norms.select(F.col("vec_id").alias("vec_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("vec_id").alias("vec_b"), F.col("nrm").alias("nb"))
    cos = idot(F.col("xqa"), F.col("yqa")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    scored = (
        pairs.join(xa, "vec_a")
        .join(yb, "vec_b")
        .join(na, "vec_a")
        .join(nb, "vec_b")
        .select("cell", "vec_a", "vec_b", cos.alias("cos"))
    )
    return scored.where(
        F.floor(F.col("cos") * 1_000_000 + F.lit(0.5)).cast("bigint")
        >= _SEM_THRESH_MICRO
    ).select(
        "cell", "vec_a", "vec_b", round_half_up(F.col("cos"), 4).alias("cosine")
    )


@pytest.mark.parametrize("two_sf_dir", TWO_SFS)
def test_semdedup_rewrite_matches_window_lowering(spark, two_sf_dir):
    if not os.path.isdir(two_sf_dir):
        pytest.skip(f"{two_sf_dir} not present")
    from tiny_etl_multiproc_bigdata_spark.plans.ivf_kmeans import (
        dedup_semantic_kmeans,
    )

    new = dedup_semantic_kmeans(spark, two_sf_dir)
    old = _sem_window_reference(spark, two_sf_dir)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert new.count() == old.count()
