"""Physical-plan budget lint (r07 plan audit, made permanent): every
batch registry entry's executed plan must stay within a parquet-scan
budget. Multi-consumer lineage re-execution multiplies CORRECT results
by integer work factors that value sweeps cannot see (HITS re-ran its
edge build 16x, triangle_count scanned customer 45x before the r07
barriers) — the node count is the only cheap detector. Budget 8 covers
the documented eval compositions (ivf/pq recall run an index path AND
an exact path); anything above has historically been a genuine bug."""

from __future__ import annotations

import re

import pytest

from conftest import SF_DIR

_SCAN_BUDGET = 8


def _window_frames(plan: str) -> list[tuple[str, str, str]]:
    """Every ``specifiedwindowframe(<type>, <lower>, <upper>)`` in a
    plan string as (frame_type, lower, upper), parsed PAREN-BALANCED
    (ADVICE r10): frame bounds can be arbitrary expressions — a
    multi-arg ``cast(... as ...)`` or function call embeds commas and
    nested parens that a ``[^,]+``/``[^)]+`` regex mis-captures, which
    could mis-bucket a frame on future Spark plan-string changes.
    Shared by both window-frame lints below."""
    out = []
    marker = "specifiedwindowframe("
    i = plan.find(marker)
    while i != -1:
        j = i + len(marker)
        depth = 1
        args, cur = [], []
        while j < len(plan) and depth > 0:
            ch = plan[j]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            elif ch == "," and depth == 1:
                args.append("".join(cur).strip())
                cur = []
                j += 1
                continue
            cur.append(ch)
            j += 1
        args.append("".join(cur).strip())
        assert depth == 0 and len(args) == 3, (
            f"unparseable specifiedwindowframe at offset {i}: {args}"
        )
        out.append((args[0], args[1], args[2]))
        i = plan.find(marker, j)
    return out


def _batch_entries():
    from tiny_etl_multiproc_bigdata_spark.plans.registry import (
        REGISTRY,
        _load_all,
    )

    _load_all()
    return sorted(n for n in REGISTRY if not n.startswith("streaming_"))


# ---- Exchange (shuffle) budget (r08, VERDICT r07 item 3) -------------------
#
# The r07 plan audit's OTHER detector: shuffle count. Lineage
# re-execution showed up as Exchange multiplication before the
# localCheckpoint barriers (pagerank 27 shuffles -> 4, HITS 37 -> 5) —
# the scan lint alone would miss a re-executing subtree whose source is
# a checkpoint rather than parquet. Counts exclude BroadcastExchange
# (broadcasts of bounded sides are the PREFERRED join shape, not a
# scale cost) and ReusedExchange (a reuse is the fix, not the bug).
# Budget 10 covers every multi-stage composition on the board; the two
# documented exceptions are genuinely-staged pipelines whose CURRENT
# count is pinned exactly so any regression still trips.

_EXCHANGE_BUDGET = 10
_EXCHANGE_EXCEPTIONS = {
    # two fused retrieval pipelines (BM25 + vector ANN) each with their
    # own doc-frequency/top-k stages, joined by RRF rank
    "hybrid_search_rrf": 12,
    # train/apply naive Bayes: per-class token likelihoods, priors,
    # vocab smoothing and the scoring join are separate keyed stages
    "naive_bayes_lang_confusion": 13,
    # r10: the 3-round label recurrence is deliberately FUSED into one
    # plan (the per-round eager localCheckpoint was measured as pure
    # overhead: sf1 17.1s -> 11.9s, -30%, bit-identical output — see
    # SCALE_NOTES r10). Each round contributes its join + two agg
    # shuffles to the single executed plan; nothing re-executes (every
    # intermediate has exactly one consumer). Pinned exactly so a
    # fourth round or a re-executing subtree still trips.
    "label_propagation_communities": 11,
}


@pytest.mark.parametrize("name", _batch_entries())
def test_plan_scan_budget(spark, name):
    # one plan construction checks BOTH node budgets: graph/eval
    # entries run real jobs at construction time (checkpoint barriers),
    # so a second parametrized pass would double the suite's cost
    from tiny_etl_multiproc_bigdata_spark.plans.registry import REGISTRY

    df = REGISTRY[name].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = len(re.findall(r"Scan parquet", plan))
    assert scans <= _SCAN_BUDGET, (
        f"{name}: {scans} parquet scans in one plan (budget "
        f"{_SCAN_BUDGET}) — a multi-consumer subtree is probably "
        "re-executing; pin it with localCheckpoint (see SCALE_NOTES r07)"
    )
    shuffles = len(re.findall(r"(?<!Broadcast)(?<!Reused)Exchange ", plan))
    budget = _EXCHANGE_EXCEPTIONS.get(name, _EXCHANGE_BUDGET)
    assert shuffles <= budget, (
        f"{name}: {shuffles} shuffle Exchanges in one plan (budget "
        f"{budget}) — either a re-executing multi-consumer subtree "
        "(pin with localCheckpoint) or a new keyed stage that needs a "
        "documented exception here"
    )
    # quadratic window frames (r09): any frame ending at
    # unboundedfollowing whose start MOVES is executed by re-aggregating
    # the remaining partition per row — O(p^2) in the partition size, a
    # silent stall on skewed keys that value sweeps can't see (measured:
    # 33.1s -> 0.57s on 150k rows / 5 partitions when
    # caliper_nearest_match's (0, unboundedFollowing) min became a DESC
    # running frame). Whole-partition frames (unboundedpreceding ->
    # unboundedfollowing) are computed once per partition and stay
    # allowed; everything else has a linear DESC-running rewrite.
    frames = _window_frames(plan)
    bad_frames = [
        lower
        for (_ftype, lower, upper) in frames
        if upper == "unboundedfollowing$()"
        and lower != "unboundedpreceding$()"
    ]
    assert not bad_frames, (
        f"{name}: window frame(s) with a moving start and an "
        f"unboundedfollowing end {bad_frames} — per-row re-aggregation, "
        "quadratic in partition size; rewrite as a running frame over "
        "the DESC ordering (see caliper_nearest_match)"
    )
    # value-offset RANGE frames (r10): Spark executes a moving-start
    # bounded-end frame by re-aggregating the in-frame buffer on every
    # frame change (SlidingWindowFunctionFrame has no retraction), and
    # a value/interval RANGE frame's row count grows with data DENSITY
    # — O(rows x rows-per-range), quadratic in corpus density when the
    # order key is near-unique (measured: window_range_interval_frame
    # 81-92s -> 2-5s at sf1 after the probe-union rewrite). Allowed
    # only where the re-aggregated buffer is bounded by construction,
    # pinned here:
    range_offset_frames = [
        lower
        for (ftype, lower, _upper) in frames
        if ftype == "RangeFrame"
        and lower not in ("unboundedpreceding$()", "currentrow$()")
    ]
    _RANGE_OFFSET_OK = {
        # trailing 7d per CUSTOMER: frame rows bounded by per-customer
        # order density (~1 in 7 days at any TPC-H sf — customers scale
        # out, per-key density doesn't)
        "window_range_frame",
        # GROUPS-mode lowering: RANGE ±1 over dense_rank — tied rows
        # share identical frames, so re-aggregation is per tie-GROUP
        # (per observed day), not per row
        "window_groups_frame_sum",
    }
    assert not range_offset_frames or name in _RANGE_OFFSET_OK, (
        f"{name}: value-offset RANGE frame(s) {range_offset_frames} — "
        "per-frame-change re-aggregation over a density-sized buffer; "
        "rewrite with the probe-union running-cumsum form (see "
        "window_range_interval_frame) or pin a boundedness argument "
        "in _RANGE_OFFSET_OK"
    )


# ---- streaming structure budget (r08, VERDICT r07 item 3) ------------------
#
# Streaming entries execute their query inside the callable (memory
# sink, availableNow) and return a batch result, so the batch plan
# lints above never see them. _run_to_memory records each run's
# structural stats from the final StreamingQueryProgress; the budget
# pins STATE OPERATOR count (every stateful node is a state store — a
# refactor that accidentally stacks an extra dropDuplicates/agg
# multiplies checkpoint traffic at scale) and SOURCE count (2 = the
# stream-stream join shape; 3+ means an unplanned extra scan of the
# fixture per microbatch).

_STATE_OP_BUDGET = 3
_SOURCE_BUDGET = 2


def _streaming_entries():
    from tiny_etl_multiproc_bigdata_spark.plans.registry import (
        REGISTRY,
        _load_all,
    )

    _load_all()
    return sorted(n for n in REGISTRY if n.startswith("streaming_"))


@pytest.mark.slow
@pytest.mark.parametrize("name", _streaming_entries())
def test_streaming_structure_budget(spark, name):
    from tiny_etl_multiproc_bigdata_spark.plans.registry import REGISTRY
    from tiny_etl_multiproc_bigdata_spark.streaming import jobs

    before = len(jobs.RUN_STATS)
    REGISTRY[name].fn(spark, SF_DIR)
    runs = jobs.RUN_STATS[before:]
    # entries not routed through _run_to_memory (foreachBatch, python
    # datasource write paths) record nothing — the entry still executed
    for run in runs:
        assert run["num_state_operators"] <= _STATE_OP_BUDGET, (
            f"{name} ({run['name']}): {run['num_state_operators']} "
            f"stateful operators (budget {_STATE_OP_BUDGET}) — each one "
            "is a state store; an accidental extra stateful node "
            "multiplies checkpoint traffic at scale"
        )
        assert run["num_sources"] <= _SOURCE_BUDGET, (
            f"{name} ({run['name']}): {run['num_sources']} stream "
            f"sources (budget {_SOURCE_BUDGET}) — more than a "
            "stream-stream join shape should ever need"
        )
