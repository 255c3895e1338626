"""Focused equivalence pin for the r13 cogroup as-of numpy rewrite.

cogroup_asof_from keeps the cogrouped-applyInPandas API shape (the
entry's reason to exist) but replaces the per-group pd.merge_asof with
one numpy searchsorted. The old merge_asof body is kept verbatim below
as the semantic reference; equivalence is pinned at two SFs and on a
constructed frame exercising exact-timestamp ties, duplicate click
times, unmatched purchases and an empty side — the cases where
backward-asof semantics could silently drift.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import TWO_SFS
from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.timedomain import epoch_us_ntz
from tiny_etl_multiproc_bigdata_spark.operators.grouped_pandas import (
    cogroup_asof_from,
)


_SCHEMA = (
    "user_id long, event_id long, last_click_epoch long, "
    "secs_since_click long"
)


def _cogroup_merge_asof_reference(purchases, clicks):
    """The pre-r13 per-group body, verbatim."""

    def asof_merge(p: pd.DataFrame, c: pd.DataFrame) -> pd.DataFrame:
        if len(p) == 0 or len(c) == 0:
            return pd.DataFrame(
                columns=[
                    "user_id",
                    "event_id",
                    "last_click_epoch",
                    "secs_since_click",
                ]
            )
        p = p.sort_values("t_us", kind="mergesort")
        c = c.sort_values("t_us", kind="mergesort")
        m = pd.merge_asof(
            p,
            c.rename(columns={"t_us": "click_us"}),
            left_on="t_us",
            right_on="click_us",
            direction="backward",
        )
        m = m.dropna(subset=["click_us"])
        return pd.DataFrame(
            {
                "user_id": m["user_id_x"]
                if "user_id_x" in m
                else m["user_id"],
                "event_id": m["event_id"],
                "last_click_epoch": (m["click_us"] // 1_000_000).astype(
                    "int64"
                ),
                "secs_since_click": (
                    (m["t_us"] - m["click_us"]) // 1_000_000
                ).astype("int64"),
            }
        )

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(asof_merge, _SCHEMA)
    )


def _frames(spark, sf):
    e = table(spark, sf, "events").filter(F.col("ts").isNotNull())
    base = e.select(
        "user_id", "event_id", "event_type", epoch_us_ntz("ts").alias("t_us")
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        "user_id", "t_us"
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "t_us"
    )
    return purchases, clicks


@pytest.mark.parametrize("sf", TWO_SFS)
def test_cogroup_searchsorted_equivalence(spark, sf):
    p, c = _frames(spark, sf)
    old = {tuple(r) for r in _cogroup_merge_asof_reference(p, c).collect()}
    new = {tuple(r) for r in cogroup_asof_from(p, c).collect()}
    assert old == new
    assert len(old) > 0


def test_cogroup_searchsorted_constructed_edges(spark):
    """Exact tie, duplicate click times (tie index immaterial — same
    VALUE), a purchase before any click (dropped), an unmatched user
    (empty click side for that key), and an all-clicks user (empty
    purchase side)."""
    purchases = spark.createDataFrame(
        [
            (1, 10, 100_000_000),  # exact tie with a click
            (1, 11, 50_000_000),  # before every click → dropped
            (1, 12, 250_000_000),  # after duplicate clicks at 200s
            (2, 20, 7_000_000),  # user with no clicks → dropped
        ],
        "user_id long, event_id long, t_us long",
    )
    clicks = spark.createDataFrame(
        [
            (1, 100_000_000),
            (1, 200_000_000),
            (1, 200_000_000),  # duplicate time
            (3, 1_000_000),  # user with no purchases
        ],
        "user_id long, t_us long",
    )
    old = {
        tuple(r)
        for r in _cogroup_merge_asof_reference(purchases, clicks).collect()
    }
    new = {tuple(r) for r in cogroup_asof_from(purchases, clicks).collect()}
    assert old == new == {(1, 10, 100, 0), (1, 12, 200, 50)}
