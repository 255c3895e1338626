"""Focused equivalence pins for the r13 _assign_cells argmin fold.

The nearest-centroid primitive (shared by ann_ivf_topk,
ann_ivf_multiprobe and every kmeans_lloyd iteration) used a row_number
window that shuffled and sorted all N×k candidate rows WITH their
embedding arrays; it is now a partial-aggregable
min(struct(dq, cid, dist, embedding)) fold. Selection must be
IDENTICAL: (dq asc, cid asc) with the window's NULLS FIRST — struct
comparison is field-lexicographic with the same null ordering, and cid
is unique per vec so the trailing fields never decide a comparison.

Pins: (a) the old window lowering kept verbatim vs the new fold at two
SFs, full output including dist and embedding; (b) a constructed
NULL-distance probe (incomplete vectors reach _assign_cells only via
kmeans_lloyd, which does not pre-filter) where the NULLS FIRST
agreement is exactly what is at stake.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F

from conftest import TWO_SFS
from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.vectors import (
    is_complete_vector,
)
from tiny_etl_multiproc_bigdata_spark.plans.ivf_kmeans import (
    _CENTROID_MOD,
    _assign_cells,
    _l2sq,
)


def _assign_cells_window_reference(e, centroids):
    """The pre-r13 lowering, verbatim."""
    joined = e.crossJoin(F.broadcast(centroids))
    d = _l2sq(F.col("embedding"), F.col("cvec"))
    w = Window.partitionBy("vec_id").orderBy(
        F.floor(d * 1_000_000 + F.lit(0.5)).cast("bigint").asc(),
        F.asc("cid"),
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id", "embedding", F.col("cid").alias("cell"), d.alias("dist")
        )
    )


def _rows(df):
    return {
        (r.vec_id, tuple(r.embedding), r.cell, r.dist) for r in df.collect()
    }


@pytest.mark.parametrize("sf", TWO_SFS)
def test_assign_fold_equivalence(spark, sf):
    e = table(spark, sf, "embeddings").filter(
        is_complete_vector(F.col("embedding"))
    )
    cent = e.filter(F.col("vec_id") % _CENTROID_MOD == 7).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    old = _rows(_assign_cells_window_reference(e, cent))
    new = _rows(_assign_cells(e, cent))
    assert old == new
    assert len(old) > 0


def test_assign_fold_null_distance_ordering(spark):
    """NULL dq (incomplete vector ⇒ NULL l2) must win the argmin in
    both lowerings (window asc = NULLS FIRST; struct min agrees), with
    the same cid tiebreak among NULLs."""
    rows = [
        (1, [1.0, None], 10, [0.0, 0.0]),  # d NULL
        (1, [1.0, None], 11, [1.0, 1.0]),  # d NULL → cid tiebreak
        (2, [1.0, 2.0], 10, [0.0, None]),  # d NULL vs a real distance
        (2, [1.0, 2.0], 11, [1.0, 2.0]),  # d = 0
    ]
    probe = spark.createDataFrame(
        rows,
        "vec_id long, embedding array<double>, cid long, cvec array<double>",
    )
    d = _l2sq(F.col("embedding"), F.col("cvec"))
    dq = F.floor(d * 1_000_000 + F.lit(0.5)).cast("bigint")
    w = Window.partitionBy("vec_id").orderBy(dq.asc(), F.asc("cid"))
    old = {
        tuple(r)
        for r in probe.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("vec_id", "cid", d.alias("dist"))
        .collect()
    }
    new = {
        tuple(r)
        for r in probe.groupBy("vec_id")
        .agg(
            F.min(
                F.struct(
                    dq.alias("dq"), F.col("cid").alias("cid"), d.alias("dist")
                )
            ).alias("b")
        )
        .select("vec_id", "b.cid", "b.dist")
        .collect()
    }
    assert old == new == {(1, 10, None), (2, 10, None)}
