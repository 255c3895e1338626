"""Focused equivalence pins for the r13 LPA rewrite (string node ids
'c<digits>'/'s<digits>' → order-preserving int64 encoding for every
round's join/aggregate, decoded back to strings only on the final
|V|-row result). Correctness hinges on two properties, pinned here:

1. `_lpa_enc` is a strict order-isomorphism from the node-id strings
   into int64 — the argmax tie-break (smallest label, LEXICOGRAPHIC on
   the old strings) must pick the same label on encoded longs. Checked
   exhaustively over an adversarial key set dense in prefix/length
   collisions (1 vs 10 vs 100, 12 vs 120, ...) and at the 10^12-1
   width boundary, plus the roundtrip dec(enc(k)) == original string.
2. Full-output equivalence of the rewritten query vs the old string
   lowering (kept verbatim below as the semantic reference) at two SFs.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import TWO_SFS
from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.plans.graph_ops import (
    _LPA_ITERS,
    _lpa_dec,
    _lpa_enc,
)

# dense small keys cover every 1/2/3-digit prefix collision; the large
# tail exercises the pad-width boundary (exactness holds for k < 10^12)
_ADVERSARIAL_KEYS = list(range(1, 151)) + [
    999,
    1000,
    1001,
    1999,
    2000,
    99999,
    100000,
    10**11 - 1,
    10**11,
    10**11 + 1,
    123456789012,
    10**12 - 1,
]


def _lpa_string_reference(spark, sf_dir):
    """The pre-r13 lowering, kept verbatim as the semantic reference."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "cnode"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "snode"
            ),
        )
        .distinct()
    )
    e = (
        pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst"))
        .unionAll(
            pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    lbl = e.select(F.col("src").alias("node"), F.col("src").alias("lbl")).distinct()
    for _ in range(_LPA_ITERS):
        counts = (
            e.join(
                lbl.withColumnRenamed("node", "src").hint("shuffle_hash"),
                "src",
            )
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        lbl = counts.groupBy("node").agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("lbl"))).alias("m")
        ).select("node", F.col("m.lbl").alias("lbl"))
    return lbl.select("node", F.col("lbl").alias("community"))


def test_enc_is_strict_order_isomorphism(spark):
    """enc must order int64 codes exactly as Spark orders the strings —
    BOTH within the 'c' space and across the c/s boundary."""
    df = spark.createDataFrame([(k,) for k in _ADVERSARIAL_KEYS], "k bigint")
    rows = df.select(
        F.concat(F.lit("c"), F.col("k").cast("string")).alias("cs"),
        F.concat(F.lit("s"), F.col("k").cast("string")).alias("ss"),
        _lpa_enc("k", False).alias("ce"),
        _lpa_enc("k", True).alias("se"),
    ).collect()
    # every c-code below every s-code, mirroring 'c' < 's'
    assert max(r.ce for r in rows) < min(r.se for r in rows)
    by_str = sorted(rows, key=lambda r: r.cs)
    by_enc = sorted(rows, key=lambda r: r.ce)
    assert [r.cs for r in by_str] == [r.cs for r in by_enc]
    by_str_s = sorted(rows, key=lambda r: r.ss)
    by_enc_s = sorted(rows, key=lambda r: r.se)
    assert [r.ss for r in by_str_s] == [r.ss for r in by_enc_s]
    # strictness: bijection ⇒ no two keys share a code
    assert len({r.ce for r in rows}) == len(rows)


def test_dec_inverts_enc(spark):
    df = spark.createDataFrame([(k,) for k in _ADVERSARIAL_KEYS], "k bigint")
    enc = df.select(
        F.concat(F.lit("c"), F.col("k").cast("string")).alias("want_c"),
        F.concat(F.lit("s"), F.col("k").cast("string")).alias("want_s"),
        _lpa_enc("k", False).alias("ce"),
        _lpa_enc("k", True).alias("se"),
    )
    bad = enc.filter(
        (_lpa_dec("ce") != F.col("want_c")) | (_lpa_dec("se") != F.col("want_s"))
    ).count()
    assert bad == 0


@pytest.mark.parametrize("two_sf_dir", TWO_SFS)
def test_lpa_rewrite_matches_string_lowering(spark, two_sf_dir):
    if not os.path.isdir(two_sf_dir):
        pytest.skip(f"{two_sf_dir} not present")
    from tiny_etl_multiproc_bigdata_spark.plans.graph_ops import (
        label_propagation_communities,
    )

    new = label_propagation_communities(spark, two_sf_dir)
    old = _lpa_string_reference(spark, two_sf_dir)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert new.count() == old.count()
