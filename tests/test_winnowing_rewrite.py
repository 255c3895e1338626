"""Focused equivalence pin for the r13 winnowing pair-stage rewrite.

The candidate stage used to join the (doc_id, kh) posting table against
a df-capped keepable set and then self-join it on the 32-char md5 hex.
The df-cap bounds every posting list, so one collect_list aggregate
plus a map-side C(d,2) explode of the sorted list replaces both joins.
The old lowering is kept verbatim below; equivalence is pinned at two
SFs plus a constructed posting table exercising the classes the
fixtures cannot: a kh over the df-cap (dropped), a singleton kh (no
pair), duplicate-free ordering (doc_a < doc_b), the >= _WIN_MIN_SHARED
threshold, and a NULL kh (never pairs — the old join dropped it, the
new lowering guards it explicitly).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import TWO_SFS
from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.plans.corpus_ops import (
    _WIN_DF_CAP,
    _WIN_K,
    _WIN_MIN_SHARED,
    _WIN_W,
    winnow_fingerprints,
    winnowing_neardup_pairs,
)


def _old_pairs_from_h(h):
    """The pre-r13 pair stage, verbatim."""
    keepable = (
        h.groupBy("kh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _WIN_DF_CAP)
        .select("kh")
    )
    hp = h.join(keepable, "kh")
    a = hp.select(F.col("doc_id").alias("doc_a"), "kh")
    b = hp.select(F.col("doc_id").alias("doc_b"), "kh")
    return (
        a.join(b, "kh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= _WIN_MIN_SHARED)
    )


def _winnowing_reference(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    base = d.select("doc_id", F.lower("text").alias("low")).where(
        F.length("low") >= _WIN_K + _WIN_W - 1
    )
    h = (
        winnow_fingerprints(base, rollup=False)
        .select("doc_id", F.col("kgram_hash").alias("kh"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return _old_pairs_from_h(h)


@pytest.mark.parametrize("sf", TWO_SFS)
def test_winnowing_pairs_equivalence(spark, sf):
    old = {tuple(r) for r in _winnowing_reference(spark, sf).collect()}
    new = {tuple(r) for r in winnowing_neardup_pairs(spark, sf).collect()}
    assert old == new
    assert len(old) > 0


def test_winnowing_pair_stage_constructed_edges(spark):
    """df-cap drop, singleton kh, threshold, ordering, NULL kh parity."""
    rows = []
    # kh shared by 3 docs twice over -> pairs with shared=2
    for kh in ("k1", "k2"):
        for doc in (3, 1, 2):
            rows.append((doc, kh))
    rows.append((1, "single"))  # singleton: no pair
    rows.append((9, None))  # NULL kh: never pairs
    rows.append((8, None))
    # over the df-cap: CAP+1 docs share it -> dropped entirely
    for doc in range(100, 100 + _WIN_DF_CAP + 1):
        rows.append((doc, "hot"))
    h = spark.createDataFrame(rows, "doc_id long, kh string")

    old = {tuple(r) for r in _old_pairs_from_h(h).collect()}

    # the new stage, applied to the same constructed h (mirrors the
    # production lowering in corpus_ops.winnowing_neardup_pairs)
    post = (
        h.where(F.col("kh").isNotNull())
        .groupBy("kh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") <= _WIN_DF_CAP) & (F.size("ds") >= 2))
    )
    pairs = post.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.slice("ds", 1, F.size("ds") - 1),
                    lambda a, i: F.transform(
                        F.slice("ds", i + 2, F.size("ds")),
                        lambda b: F.struct(
                            a.alias("doc_a"), b.alias("doc_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    new = {
        tuple(r)
        for r in pairs.groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= _WIN_MIN_SHARED)
        .collect()
    }
    assert old == new == {(1, 2, 2), (1, 3, 2), (2, 3, 2)}
