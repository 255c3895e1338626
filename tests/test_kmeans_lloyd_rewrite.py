"""Equivalence pin for kmeans_lloyd's in-Spark centroid loop
(plans/ivf_kmeans.py).

Each iteration's means now feed the next ``_assign_cells`` as a
DataFrame instead of a driver ``collect()`` + ``createDataFrame``. This
test keeps the driver round-trip lowering VERBATIM and asserts equal
``(cell, n_vectors, inertia)`` rows at two SFs.
"""

from __future__ import annotations

import pytest
from conftest import TWO_SFS
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.rounding import round_half_up
from tiny_etl_multiproc_bigdata_spark.plans.ivf_kmeans import (
    _CENTROID_MOD,
    _assign_cells,
    kmeans_lloyd,
)


def _kmeans_lloyd_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver round-trip lowering, verbatim (plans/ivf_kmeans.py @
    ef7346e; docstring omitted)."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e.persist()
    centroids = [
        (r.cid, list(r.cvec))
        for r in e.filter(F.col("vec_id") % _CENTROID_MOD == 7)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
        .collect()
    ]
    assigned = None
    for _ in range(3):
        cdf = spark.createDataFrame(
            [(cid, [float(x) for x in vec]) for cid, vec in centroids],
            "cid long, cvec array<double>",
        )
        assigned = _assign_cells(e, cdf)
        # new means: posexplode components → groupBy (cell, pos) avg →
        # regroup to arrays; stays fully distributed
        comp = assigned.select(
            "cell", F.posexplode(F.col("embedding")).alias("pos", "x")
        )
        means = (
            comp.groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.transform("pm", lambda s: s["m"]).alias("cvec"))
        )
        centroids = [(r.cell, list(r.cvec)) for r in means.collect()]
    # the cache paid for itself across the per-iteration collect()s;
    # release it before returning (the final agg just recomputes one
    # scan) so repeated registry sweeps don't accumulate pinned blocks
    e.unpersist()
    return assigned.groupBy("cell").agg(
        F.count("*").alias("n_vectors"),
        # scale-8 sum rounded at 2 is NOT exact-at-scale — half-up
        # formula (rows-only entry, but the helper contract holds)
        round_half_up(
            F.sum(F.col("dist").cast("decimal(30,8)")).cast("double"), 2
        ).alias("inertia"),
    )


@pytest.mark.parametrize("sf_dir", TWO_SFS)
def test_kmeans_lloyd_matches_collect_lowering(spark, sf_dir):
    old = sorted(tuple(r) for r in _kmeans_lloyd_collect(spark, sf_dir).collect())
    new = sorted(tuple(r) for r in kmeans_lloyd(spark, sf_dir).collect())
    assert len(old) > 1, "fewer than two clusters: the pin is vacuous"
    assert new == old
