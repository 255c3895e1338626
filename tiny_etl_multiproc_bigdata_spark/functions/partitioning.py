"""Partitioning-preserving localCheckpoint barriers (r14, guide §2.4).

Iterative operators (PageRank, LPA, SSSP, k-core, HITS) barrier their
edge/state tables with ``localCheckpoint`` so fixed-iteration plans do
not re-execute the build per round. The r13 plans showed the hidden
cost: ``Dataset.localCheckpoint`` under AQE captures
``UnknownPartitioning`` on the resulting LogicalRDD (the
AdaptiveSparkPlanExec wrapper does not expose the final plan's
partitioning at capture time), so EVERY downstream per-iteration join
re-Exchanged the checkpointed |E|-row edge table — ITERS full shuffles
of the biggest table in the query.

With AQE disabled just around the checkpoint, ``Dataset.checkpoint``
captures the physical plan's real ``outputPartitioning`` into the
LogicalRDD (verified on Spark 4.1: ``hashpartitioning(k, N)`` survives
and downstream joins/aggregations keyed on ``k`` plan with ZERO
Exchange on the checkpointed side, AQE back on). The builds wrapped
here are one-shot barrier materializations of already-reduced
edge/node tables; losing AQE's runtime re-planning for that single job
is the price of a partitioning every later iteration reuses.

Scale note: the captured partition count is whatever
``spark.sql.shuffle.partitions`` resolves to at build time (the
session default derives it from the core count locally; a cluster
deployment sizes it to executor cores). Nothing here pins a local-only
constant.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_AQE_KEY = "spark.sql.adaptive.enabled"
_AQE_LOCK = threading.Lock()


@contextmanager
def _aqe_off(df: DataFrame) -> Iterator[None]:
    """Turn AQE off for the body, then restore the previous value.

    The conf is session-global, so the save, the checkpoint and the
    restore run under one module-level lock: two concurrent barriers
    cannot interleave and leave AQE off for the session. The lock only
    orders barriers against each other. Any other query planned while
    a barrier holds it also plans with AQE off, so planning is assumed
    single-threaded around a barrier.
    """
    spark = df.sparkSession
    with _AQE_LOCK:
        prev = spark.conf.get(_AQE_KEY, "true")
        spark.conf.set(_AQE_KEY, "false")
        try:
            yield
        finally:
            spark.conf.set(_AQE_KEY, prev)


def ckpt_keep(df: DataFrame) -> DataFrame:
    """localCheckpoint that PRESERVES the plan's output partitioning.

    Use when ``df`` already ends in an Exchange/aggregate/join keyed
    the way downstream iterations need it (e.g. a ``groupBy(k)`` or a
    join on ``k`` leaves ``hashpartitioning(k, N)``).
    """
    with _aqe_off(df):
        return df.localCheckpoint(eager=True)


def ckpt_hash(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition by ``keys`` then localCheckpoint, preserving
    ``hashpartitioning(keys, N)`` on the materialized RDD so every
    downstream join/agg on the same keys skips its Exchange."""
    with _aqe_off(df):
        return df.repartition(*[F.col(k) for k in keys]).localCheckpoint(
            eager=True
        )
