"""Full-registry sf1 TIMING sweep (r10) — the wall-clock companion to
tools/sf1_cardinality_audit.py: run every registry entry against the
.bench_sf1 fixture (10x sf0.1, replica-disjoint key remap), noop-write
the result (materializes every column — .count() lets Catalyst prune
windows away and hides exactly the cost being hunted), record wall
seconds, and cancel any entry that exceeds the watchdog.

This is the instrument that found `window_range_interval_frame`'s
89.9s quadratic (r10; fixed at -97%) after the cardinality audit had
caught theil_sen_grouped and the causal battery had caught
caliper_nearest_match — cardinality proves the scaling CLASS, this
catches engine-execution pathologies (frame re-aggregation, skewed
tasks) that candidate counts can't see.

Builds (or upgrades) the .bench_sf1 fixture itself — the benchgen
ensure_* calls are idempotent and cached — so it runs standalone:

    python tools/sf1_timing_sweep.py

r11 closed the two fixture blind spots the r10 sweep reported: the
embeddings table now exists at sf1 (34 vector/ANN entries get timing
rows) and replica 0 keeps its original source values (roc_auc_eval's
positive class survives). Every batch entry is expected ok; streaming
entries run their own availableNow queries and are timed like the
rest.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from _guard import sweep
from tiny_etl_multiproc_bigdata_spark.session import get_spark

WATCHDOG_S = 150


def new_session():
    return get_spark(app_name="sf1-timing-sweep")


def main() -> None:
    spark = new_session()
    from tiny_etl_multiproc_bigdata_spark.benchgen import (
        ensure_sf1,
        ensure_sf1_embeddings,
        ensure_sf1_events,
    )
    from tiny_etl_multiproc_bigdata_spark.plans.registry import queries

    q = queries()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf1 = os.path.join(root, ".bench_sf1")
    sf01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ensure_sf1(spark, sf01, sf1)
    ensure_sf1_events(spark, sf01, sf1)
    ensure_sf1_embeddings(spark, sf01, sf1)

    def timed(spark, name: str) -> None:
        q[name](spark, sf1).write.format("noop").mode("overwrite").save()

    def status(o) -> str:
        if o.status == "ok":
            return "ok"
        if o.status == "WATCHDOG":
            return "WATCHDOG_CANCELLED"
        msg = repr(o.error)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return "no_fixture"
        return f"error: {msg[:160]}"

    t_all = time.time()
    outcomes = sweep(new_session, sorted(q), "sweep", WATCHDOG_S, timed)
    results = {
        n: {"sec": o.sec, "status": status(o)} for n, o in outcomes.items()
    }

    ok = {n: r["sec"] for n, r in results.items() if r["status"] == "ok"}
    bad = {n: r for n, r in results.items() if r["status"] != "ok"}
    print(
        f"TOTAL {time.time()-t_all:.1f}s; {len(ok)} ok, {len(bad)} non-ok",
        flush=True,
    )
    slow = sorted(ok.items(), key=lambda kv: -kv[1])[:25]
    print("SLOWEST 25:", json.dumps(slow), flush=True)
    print("NON-OK:", json.dumps(bad, indent=1), flush=True)
    # full per-entry map for offline tier analysis (e.g. the vector
    # tier joined the fixture in r11) — one JSON line, ~10 KB
    print("ALL:", json.dumps(results, sort_keys=True), flush=True)


if __name__ == "__main__":
    main()
