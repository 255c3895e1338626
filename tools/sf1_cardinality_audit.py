"""Stage-cardinality audit for the sf1 new-tier battery (r08, VERDICT
r07 item 5) — the method the sf1 section trusts over per-byte rates:
prove the SCALING CLASS of each expensive entry by measuring the
cardinality of its load-bearing intermediate at sf0.1 vs sf1, instead
of arguing from wall-clock (which the r07 audit showed is load-noisy).

Run AFTER a bench run has materialized the sf1 fixture:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench.py  # builds .bench_sf1
    python tools/sf1_cardinality_audit.py

r08 results (recorded in SCALE_NOTES "sf1 new-tier battery"): every
stage exactly linear — graph edges 1,173,742 -> 11,737,420 (10.000x,
replica-disjoint key remap replicates distinct pairs exactly), nodes
and users 10x, and the Kaplan-Meier curve CONSTANT at 4 distinct
durations (bounded by the observation window, not input size).

r09 extends the audit to the causal/telemetry battery (VERDICT r08
item 5): caliper segment count must stay CONSTANT with max-segment
rows LINEAR (per-partition sort size), diff-in-differences cells
CONSTANT, telemetry window keys LINEAR with bounded rows-per-key.
Results recorded in SCALE_NOTES ("sf1 causal battery").
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.session import get_spark


def audit(spark: SparkSession, sf_dir: str) -> dict:
    from tiny_etl_multiproc_bigdata_spark.catalog import table

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # the HITS / label-propagation edge build (graph_ops)
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    n_pairs = pairs.count()
    n_cust = pairs.select("o_custkey").distinct().count()
    n_supp = pairs.select("l_suppkey").distinct().count()
    e = table(spark, sf_dir, "events")
    # kaplan_meier_retention: per-user lifetimes, curve rows
    n_dur = (
        e.groupBy("user_id")
        .agg(F.min("ts").alias("f"), F.max("ts").alias("l"))
        .select(F.datediff(F.to_date("l"), F.to_date("f")).alias("d"))
        .distinct()
        .count()
    )
    return {
        "graph_edges_directed": 2 * n_pairs,
        "graph_nodes": n_cust + n_supp,
        "events_rows": e.count(),
        "km_users": e.select("user_id").distinct().count(),
        "km_distinct_durations": n_dur,
        "skyline_part_rows": table(spark, sf_dir, "part").count(),
        # sf1 causal battery (r09, VERDICT r08 item 5) — load-bearing
        # intermediates:
        # caliper_nearest_match sorts customers per market segment
        # (segment = partition key): segments must stay CONSTANT and
        # max segment rows LINEAR (the per-partition sort size)
        "caliper_segments": (c := table(spark, sf_dir, "customer"))
        .select("c_mktsegment")
        .distinct()
        .count(),
        "caliper_max_segment_rows": c.groupBy("c_mktsegment")
        .count()
        .agg(F.max("count"))
        .collect()[0][0],
        # cuped_variance_reduction folds events to user grain — its
        # intermediate is km_users above; diff_in_differences folds to
        # event_type cells, which must stay CONSTANT:
        "did_cells": e.select("event_type").distinct().count(),
        # telemetry_near_time_dedup windows by (user, type, cents):
        # distinct partition keys must grow LINEAR, max rows-per-key
        # (the lag-window state) must stay BOUNDED
        "telemetry_window_keys": e.groupBy(
            "user_id",
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
        .count()
        .count(),
        # r10 (VERDICT r09 item 3): pair-stage candidate counts for the
        # r09-attested blocked-quadratic entries, computed in CLOSED
        # FORM from the blocking-key histograms (sum of C(n,2) / C(n,3)
        # per block = exactly what each self-join generates) — no pair
        # join runs, so the audit itself stays linear.
        **_pair_stage_counts(spark, sf_dir),
    }


def _pair_stage_counts(spark: SparkSession, sf_dir: str) -> dict:
    from tiny_etl_multiproc_bigdata_spark.catalog import table

    c2 = lambda n: (F.col(n) * (F.col(n) - 1) / 2).cast("bigint")  # noqa: E731
    c3 = lambda n: (  # noqa: E731
        F.col(n) * (F.col(n) - 1) * (F.col(n) - 2) / 6
    ).cast("bigint")

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = table(spark, sf_dir, "part")

    # itemcf_topk_similar: distinct (order, part) baskets self-joined
    # on the order key — candidates = sum_ok C(|basket|, 2)
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    itemcf = baskets.agg(
        F.sum(c2("n")).alias("pairs"), F.max("n").alias("mx")
    ).collect()[0]

    # apriori_brand_triples: distinct (order, brand) baskets, 3-way
    # self-join — candidates = sum_ok C(|brand basket|, 3); alphabet 25
    # bounds |brand basket|
    bb = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li.l_partkey == p.p_partkey,
        )
        .select("l_orderkey", "p_brand")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    apriori = bb.agg(
        F.sum(c3("n")).alias("triples"), F.max("n").alias("mx")
    ).collect()[0]

    # resource_allocation_linkpred: customer-supplier edges, degree-
    # capped at 25 BEFORE pairing — candidates = sum_c C(deg_kept, 2)
    deg = (
        li.select("l_orderkey", "l_suppkey")
        .join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ra = deg.filter(F.col("n") <= 25).agg(
        F.sum(c2("n")).alias("pairs"), F.max("n").alias("mx")
    ).collect()[0]

    # theil_sen_grouped: part pairs within each (brand, type) family.
    # r10 finding: families are sliced from the part TABLE by
    # dimension values, so UNCAPPED candidates grow QUADRATICALLY
    # (measured x100.7 sf0.1 -> sf1) — which is why the entry now
    # samples _TS_FAMILY_CAP points per family. Report both: raw
    # (the hazard) and capped (what the entry actually generates).
    from tiny_etl_multiproc_bigdata_spark.plans.stat_tests import (
        _TS_FAMILY_CAP,
    )

    fam = p.groupBy("p_brand", "p_type").agg(F.count(F.lit(1)).alias("n"))
    ts = fam.agg(
        F.sum(c2("n")).alias("pairs"), F.max("n").alias("mx")
    ).collect()[0]
    ts_capped = (
        fam.select(F.least(F.col("n"), F.lit(_TS_FAMILY_CAP)).alias("n"))
        .agg(F.sum(c2("n")).alias("pairs"))
        .collect()[0]
    )

    return {
        "itemcf_pair_candidates": itemcf["pairs"],
        "itemcf_max_basket": itemcf["mx"],
        "apriori_triple_candidates": apriori["triples"],
        "apriori_max_brand_basket": apriori["mx"],
        "ra_pair_candidates": ra["pairs"],
        "ra_max_kept_degree": ra["mx"],
        "theilsen_pair_candidates_uncapped": ts["pairs"],
        "theilsen_pair_candidates": ts_capped["pairs"],
        "theilsen_max_family": ts["mx"],
    }


def main() -> None:
    spark = get_spark(app_name="sf1-cardinality-audit")
    sf01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf1 = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bench_sf1",
    )
    out = {"sf0.1": audit(spark, sf01)}
    if os.path.exists(os.path.join(sf1, "_BENCH_OK_EVENTS")):
        out["sf1"] = audit(spark, sf1)
        out["ratios"] = {
            k: round(out["sf1"][k] / max(1, out["sf0.1"][k]), 3)
            for k in out["sf0.1"]
        }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
