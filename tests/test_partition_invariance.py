"""Sentinel partition-invariance tests — the suite-sized slice of
tools/partition_invariance_audit.py (the full 435-entry two-pass audit
runs ~8 min and stays a tool; this pins a handful of representative
entries plus the harness's own non-vacuousness so a regression in
either reds the board).

The class: on a fixed local layout, an operator whose output depends
on partition boundaries or within-partition row order (tie-breaks by
arrival, first/last without a total ordering, merge-order-sensitive
accumulation) stays green against its oracle forever — and returns
different answers on a 1000-executor cluster, where input splitting,
AQE coalescing, and speculative re-execution make the layout the
first thing that changes. r12 full-board result: 434/435 invariant,
the single divergence being table_sample, whose df.sample contract is
layout-defined by design (every other sampling entry derives uniforms
from row content via md5 precisely to avoid this).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from partition_invariance_audit import (  # noqa: E402
    BASELINE_CONFS,
    PERTURBED_CONFS,
    SF_DIR,
    build_fixture,
    canon_run,
    layout_diff,
)

from tiny_etl_multiproc_bigdata_spark.plans.registry import _load_all  # noqa: E402

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR),
    reason=f"fixture source dir missing: {SF_DIR}",
)

# one per risk class the audit hunts
SENTINELS = [
    "flagship_words",          # the headline plan
    "window_row_number_topk",  # top-k / tie-break class
    "agg_percentiles",         # merge-order-sensitive accumulation class
    "dedup_minhash_lsh",       # hash-pipeline class (must be content-pure)
]


@pytest.fixture(scope="module")
def splittable_fixture(tmp_path_factory):
    fix = str(tmp_path_factory.mktemp("pinvar") / "fixture")
    build_fixture(fix)
    return fix


@pytest.mark.parametrize("name", SENTINELS)
def test_sentinel_layout_invariant(spark, splittable_fixture, name):
    _load_all()
    base = canon_run(spark, name, splittable_fixture, BASELINE_CONFS)
    pert = canon_run(spark, name, splittable_fixture, PERTURBED_CONFS)
    assert layout_diff(base, pert) is None


def test_harness_not_vacuous_table_sample_diverges(
    spark, splittable_fixture
):
    """table_sample (per-partition-index seeded df.sample — the one
    deliberately layout-defined entry) MUST diverge across the two
    layouts. If it stops diverging, the perturbation no longer bites
    (e.g. the fixture went back to single-row-group files and every
    row silently returned to partition 0) and the green board above
    proves nothing."""
    _load_all()
    base = canon_run(spark, "table_sample", splittable_fixture, BASELINE_CONFS)
    pert = canon_run(spark, "table_sample", splittable_fixture, PERTURBED_CONFS)
    assert layout_diff(base, pert) is not None
