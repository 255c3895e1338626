"""Property test for the iterative connected-components operator: on
random edge lists, _cc_labels must agree exactly with a reference
union-find. This is the one dedup stage whose driver oracle is a
recursive CTE rather than plain SQL, so it gets its own adversarial
check (random graphs include chains, stars, cycles, and multi-edges)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _union_find(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


_edges = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=60,
)


@pytest.mark.slow
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(pairs=_edges)
def test_cc_labels_match_union_find(spark, pairs):
    from tiny_etl_multiproc_bigdata_spark.plans.dedup_groups import _cc_labels

    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src bigint, dst bigint"
    )
    got = {r.doc_id: r.group_id for r in _cc_labels(edges).collect()}
    assert got == _union_find(pairs)
