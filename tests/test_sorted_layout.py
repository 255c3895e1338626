"""Physical-layout pin for sorted_write_layout (r08).

The entry's DuckDB oracle proves the rewrite is LOSSLESS; this test
proves it actually produces the clustered layout the scan-cost recovery
depends on — without it, a refactor could drop the repartitionByRange/
sortWithinPartitions pair, still pass the oracle (same rows), and
silently lose the -46% bytes / halved-scan win measured at sf1
(SCALE_NOTES "Layout section"). Checked physically via parquet file
contents: each sorted output file must hold a NARROW l_shipdate range
(range partitioning assigns disjoint key spans per file) and be
internally non-decreasing (sortWithinPartitions), while arrival files
each span ~the whole date range.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from conftest import SF_DIR
from tiny_etl_multiproc_bigdata_spark.sources.files import staging_root


def _spans(d: str) -> list[tuple]:
    spans = []
    for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        col = pq.read_table(f, columns=["l_shipdate"])["l_shipdate"]
        if len(col):
            vals = col.to_pylist()
            spans.append((min(vals), max(vals), vals))
    return spans


def test_sorted_layout_is_physically_clustered(spark):
    from tiny_etl_multiproc_bigdata_spark.plans.registry import (
        REGISTRY,
        _load_all,
    )

    _load_all()
    # run the entry: it stages both layouts under a fixed per-sf tmp dir
    rows = REGISTRY["sorted_write_layout"].fn(spark, SF_DIR).collect()
    assert {r["layout"] for r in rows} == {"arrival", "sorted"}

    root = staging_root(SF_DIR, "sortlayout")
    arrival = _spans(os.path.join(root, "arrival"))
    srt = _spans(os.path.join(root, "sorted"))
    assert arrival and srt

    def day_span(lo, hi):
        return (hi - lo).days

    global_lo = min(lo for lo, _, _ in arrival)
    global_hi = max(hi for _, hi, _ in arrival)
    full = day_span(global_lo, global_hi)

    # sorted files: each holds a narrow slice of the key space (range
    # partitioning) — average per-file span well under half the table's
    avg_sorted = sum(day_span(lo, hi) for lo, hi, _ in srt) / len(srt)
    assert avg_sorted < 0.5 * full, (
        f"sorted files span {avg_sorted:.0f}d on average vs table span "
        f"{full}d — the range partitioning is gone"
    )

    # ...and each sorted file is internally non-decreasing on the key
    for _, _, vals in srt:
        assert vals == sorted(vals), "sortWithinPartitions is gone"

    # arrival files each span ~the whole range (the interleaved layout
    # the rewrite exists to fix) — guards against the fixture itself
    # becoming pre-clustered, which would make this test vacuous
    avg_arrival = sum(day_span(lo, hi) for lo, hi, _ in arrival) / len(
        arrival
    )
    assert avg_arrival > 0.9 * full
