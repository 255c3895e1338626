"""Plan-level pin for functions/partitioning.py (r14, guide §2.4).

The iterative graph tier's whole optimization rests on one mechanism:
``localCheckpoint`` taken with AQE disabled captures the physical
plan's real ``outputPartitioning`` into the LogicalRDD, so downstream
joins/aggregations keyed the same way plan with ZERO Exchange on the
checkpointed side. These tests pin that mechanism directly (a Spark
upgrade that silently stops preserving the partitioning would
reintroduce ITERS full shuffles of the edge tables without failing
any value-equality test).
"""

from __future__ import annotations

import threading
from types import SimpleNamespace

from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.functions.partitioning import (
    ckpt_hash,
    ckpt_keep,
)


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ckpt_hash_join_and_agg_need_no_exchange(spark):
    left = ckpt_hash(
        spark.range(1000).select(
            (F.col("id") % 97).alias("k"), F.col("id").alias("v")
        ),
        "k",
    )
    right = ckpt_hash(
        spark.range(97).select(F.col("id").alias("k"), F.lit(1).alias("w")),
        "k",
    )
    plan = _executed(left.hint("shuffle_hash").join(right, "k"))
    assert "Exchange" not in plan
    agg_plan = _executed(left.groupBy("k").agg(F.count("*").alias("n")))
    assert "Exchange" not in agg_plan


def test_ckpt_keep_preserves_aggregate_partitioning(spark):
    base = spark.range(1000).select(
        (F.col("id") % 53).alias("k"), F.col("id").alias("v")
    )
    kept = ckpt_keep(base.groupBy("k").agg(F.sum("v").alias("s")))
    plan = _executed(kept.groupBy("k").agg(F.count("*").alias("n")))
    assert "Exchange" not in plan


def test_ckpt_hash_restores_aqe_and_values(spark):
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    df = ckpt_hash(
        spark.range(100).select((F.col("id") % 7).alias("k")), "k"
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev
    assert df.count() == 100
    # values unchanged by the repartition+checkpoint
    got = sorted(r["k"] for r in df.distinct().collect())
    assert got == list(range(7))


class _Conf:
    def __init__(self) -> None:
        self.kv = {"spark.sql.adaptive.enabled": "true"}

    def get(self, key, default=None):
        return self.kv.get(key, default)

    def set(self, key, value) -> None:
        self.kv[key] = value


class _Frame:
    """Stands in for a DataFrame: ``localCheckpoint`` runs ``body``."""

    def __init__(self, session, body) -> None:
        self.sparkSession = session
        self._body = body

    def localCheckpoint(self, eager=True):
        self._body()
        return self


def test_concurrent_barriers_restore_aqe():
    """Two ckpt_keep calls on one session, forced into the interleaving
    that loses the restore: B saves AQE while A has it off, and B
    restores after A does. Unserialized, B writes back A's "false" and
    AQE stays off for the session; under the lock B cannot save until
    A has restored (A's wait for B times out instead)."""
    session = SimpleNamespace(conf=_Conf())
    a_in_body, b_in_body, a_done = (threading.Event() for _ in range(3))

    def body_a():
        a_in_body.set()
        b_in_body.wait(timeout=1)

    def body_b():
        b_in_body.set()
        a_done.wait(timeout=1)

    def run_a():
        ckpt_keep(_Frame(session, body_a))
        a_done.set()

    def run_b():
        a_in_body.wait(timeout=5)
        ckpt_keep(_Frame(session, body_b))

    threads = [threading.Thread(target=run_a), threading.Thread(target=run_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    assert session.conf.get("spark.sql.adaptive.enabled") == "true"
