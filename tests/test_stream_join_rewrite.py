"""Equivalence pin for the shared click→purchase stream join
(streaming/jobs.py: ``_attribution_join``, ``_attribution_rows`` and
``_session_counts``).

Keeps the seven entry bodies as they were before the builders existed
VERBATIM (streaming/jobs.py @ ef7346e; docstrings omitted) and asserts,
for each entry, that the old and the new lowering return the same row
multiset and run with the same streaming structure: the
``(num_state_operators, num_sources)`` pair ``_run_to_memory`` records
in ``jobs.RUN_STATS``. Besides the two committed scales it runs on the
``--timeskew`` fixture of tools/null_parity_audit.py (extreme click
times), where dropping a session entry's time-domain flag changes the
rows. The join entries' flags change no rows on any of these fixtures,
so the builder calls carry them exactly as the old bodies did.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest
from conftest import TWO_SFS
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.streaming import jobs
from tiny_etl_multiproc_bigdata_spark.streaming.jobs import (
    _events_stream,
    _run_to_memory,
)

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))


def _old_streaming_session_window(spark, sf_dir):
    ev = _events_stream(spark, sf_dir, require_event_time=True, require_time_domain=True)
    sess = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("sw.start")).cast("bigint").alias(
                "session_start_epoch"
            ),
            F.unix_timestamp(F.col("sw.end")).cast("bigint").alias(
                "session_end_epoch"
            ),
            "n_events",
        )
    )
    return _run_to_memory(sess, spark, "stream_session_window", "complete")


def _old_streaming_stream_stream_join(spark, sf_dir):
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            F.floor(F.unix_timestamp("p_ts")) - F.floor(F.unix_timestamp("c_ts"))
        ).cast("bigint").alias("gap_s"),
    )
    return _run_to_memory(joined, spark, "stream_stream_join", "append")


def _old_streaming_stream_stream_left_outer(spark, sf_dir):
    clicks = (
        _events_stream(spark, sf_dir, require_time_domain=True)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir, require_time_domain=True)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            F.floor(F.unix_timestamp("p_ts"))
            - F.floor(F.unix_timestamp("c_ts"))
        )
        .cast("bigint")
        .alias("gap_s"),
    )
    return _run_to_memory(joined, spark, "stream_stream_loj", "append")


def _old_streaming_session_dynamic_gap(spark, sf_dir):
    ev = _events_stream(spark, sf_dir, require_event_time=True, require_time_domain=True)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("10 minutes")
    ).otherwise(F.lit("30 minutes"))
    sess = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("sw.start")).cast("bigint").alias(
                "session_start_epoch"
            ),
            F.unix_timestamp(F.col("sw.end")).cast("bigint").alias(
                "session_end_epoch"
            ),
            "n_events",
        )
    )
    return _run_to_memory(sess, spark, "stream_session_dyn", "complete")


def _old_streaming_stream_stream_full_outer(spark, sf_dir):
    clicks = (
        _events_stream(spark, sf_dir, require_time_domain=True)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir, require_time_domain=True)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "full_outer",
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce("user_id", "p_user_id").alias("user_id"),
        (
            F.floor(F.unix_timestamp("p_ts"))
            - F.floor(F.unix_timestamp("c_ts"))
        )
        .cast("bigint")
        .alias("gap_s"),
    )
    return _run_to_memory(joined, spark, "stream_stream_foj", "append")


def _old_streaming_join_then_window(spark, sf_dir):
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("p_ts")
    agg = (
        joined.groupBy(F.window("p_ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_attributed"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias(
                "window_start_epoch"
            ),
            "n_attributed",
        )
    )
    return _run_to_memory(agg, spark, "stream_join_then_window", "append")


def _old_streaming_stream_stream_right_outer(spark, sf_dir):
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "right_outer",
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce("user_id", "p_user_id").alias("user_id"),
        (
            F.floor(F.unix_timestamp("p_ts"))
            - F.floor(F.unix_timestamp("c_ts"))
        )
        .cast("bigint")
        .alias("gap_s"),
    )
    return _run_to_memory(joined, spark, "stream_stream_roj", "append")


_OLD = {
    "streaming_stream_stream_join": _old_streaming_stream_stream_join,
    "streaming_stream_stream_left_outer": _old_streaming_stream_stream_left_outer,
    "streaming_stream_stream_full_outer": _old_streaming_stream_stream_full_outer,
    "streaming_stream_stream_right_outer": _old_streaming_stream_stream_right_outer,
    "streaming_join_then_window": _old_streaming_join_then_window,
    "streaming_session_window": _old_streaming_session_window,
    "streaming_session_dynamic_gap": _old_streaming_session_dynamic_gap,
}


def _run(fn, spark, sf_dir):
    before = len(jobs.RUN_STATS)
    rows = Counter(tuple(r) for r in fn(spark, sf_dir).collect())
    (run,) = jobs.RUN_STATS[before:]
    return rows, (run["num_state_operators"], run["num_sources"])


@pytest.fixture(scope="module")
def timeskew_dir(tmp_path_factory):
    from null_parity_audit import build_timeskew_fixture

    fix = str(tmp_path_factory.mktemp("timeskew_stream_join") / "fixture")
    build_timeskew_fixture(fix)
    return fix


def _assert_same(spark, sf_dir, name):
    old_rows, old_shape = _run(_OLD[name], spark, sf_dir)
    new_rows, new_shape = _run(getattr(jobs, name), spark, sf_dir)
    assert old_rows, f"{name}: old lowering returned no rows (vacuous pin)"
    assert new_rows == old_rows, (
        f"{name}: {sum((new_rows - old_rows).values())} extra / "
        f"{sum((old_rows - new_rows).values())} missing rows"
    )
    assert new_shape == old_shape, (
        f"{name}: (state operators, sources) {new_shape} != {old_shape}"
    )


@pytest.mark.parametrize("sf_dir", TWO_SFS)
@pytest.mark.parametrize("name", sorted(_OLD))
def test_stream_join_rewrite_matches_old_lowering(spark, sf_dir, name):
    _assert_same(spark, sf_dir, name)


@pytest.mark.parametrize("name", sorted(_OLD))
def test_stream_join_rewrite_matches_old_lowering_timeskew(
    spark, timeskew_dir, name
):
    _assert_same(spark, timeskew_dir, name)
