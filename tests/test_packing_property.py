"""Property tests for the sequential/scored batch-3 operators.

``pack_sequences_greedy``'s Spark path (applyInPandas per shard) and
its driver oracle (recursive CTE) both reimplement the same fold; this
test checks the applyInPandas fold against an independent pure-Python
simulator on random corpora, including oversized docs and shard-count
edge cases. The fuzzy-join scorer is checked against exact set
arithmetic on random strings.
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _md5_bucket(x: int, mod: int) -> int:
    return int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16) % mod


def _greedy_pack(tokens: list[int], cap: int) -> list[int]:
    bins, bin_id, fill, first = [], 0, 0, True
    for nt in tokens:
        if not first and fill + nt > cap:
            bin_id += 1
            fill = 0
        fill += nt
        first = False
        bins.append(bin_id)
    return bins


@pytest.mark.slow
@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(1, 900)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
def test_pack_fold_matches_simulator(spark, docs):
    """Random (doc_id, n_tokens) corpora: the applyInPandas fold must
    reproduce the per-shard greedy simulator exactly (incl. docs larger
    than the 512 capacity, which get a bin of their own)."""
    from tiny_etl_multiproc_bigdata_spark.plans.training_ops import (
        _PACK_CAPACITY,
        _PACK_SHARDS,
    )

    # expected: per shard, docs in doc_id order through the greedy fold
    by_shard: dict[int, list[tuple[int, int]]] = {}
    for doc_id, nt in docs:
        by_shard.setdefault(_md5_bucket(doc_id, _PACK_SHARDS), []).append(
            (doc_id, nt)
        )
    expected: dict[int, int] = {}
    for shard, items in by_shard.items():
        items.sort()
        for (doc_id, _), b in zip(
            items, _greedy_pack([nt for _, nt in items], _PACK_CAPACITY)
        ):
            expected[doc_id] = b

    from pyspark.sql import functions as F

    from tiny_etl_multiproc_bigdata_spark.functions.hashing import md5_long
    from tiny_etl_multiproc_bigdata_spark.plans.training_ops import (
        _PACK_SCHEMA,
        make_greedy_packer,
    )

    df = spark.createDataFrame(docs, schema="doc_id bigint, n_tokens bigint")
    d = df.select(
        (md5_long(F.col("doc_id").cast("string")) % _PACK_SHARDS).alias("shard"),
        "doc_id",
        "n_tokens",
    )
    got = {
        r.doc_id: r.bin
        for r in d.groupBy("shard")
        .applyInPandas(make_greedy_packer(_PACK_CAPACITY), _PACK_SCHEMA)
        .collect()
    }
    assert got == expected


def _grams(s: str) -> set[str]:
    s = s.lower()
    return {s[i : i + 3] for i in range(len(s) - 2)}


@given(st.text(alphabet="abcdef g", min_size=0, max_size=20))
@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
def test_fuzzy_gram_expr_matches_python(spark, s):
    """The Catalyst 3-gram expression must equal Python's set of
    3-substrings for arbitrary strings (incl. len<3 → empty)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(s,)], schema="name string")
    from tiny_etl_multiproc_bigdata_spark.plans.training_ops import _GRAM_EXPR

    got = df.select(F.expr(_GRAM_EXPR.format(c="name")).alias("g")).collect()[0].g
    assert set(got) == _grams(s)
    assert len(got) == len(_grams(s))
