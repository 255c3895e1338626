"""Focused equivalence pins for the r13 prefix-filter rewrite
(string postings + doubled join/window pipeline → bijective int64
token ids, one doc_id exchange, long-array verification, Generate
barrier). The rewrite must return the identical verified pair set and
jaccard values as the old string lowering on every shape the old one
accepted: the fixture corpus, the bench's salted amplified corpus, and
adversarial repartitionings (token-id assignment is layout-dependent,
the OUTPUT must not be)."""

from __future__ import annotations

import pytest
from conftest import TWO_SFS
from pyspark.sql import functions as F, Window

from tiny_etl_multiproc_bigdata_spark.functions.rounding import round_half_up
from tiny_etl_multiproc_bigdata_spark.plans.dedup_queries import (
    _PF_THETA_DEN,
    _PF_THETA_NUM,
    _shingled_docs,
    _shingles,
    prefix_filter_pairs_from_docs,
)


def _prefix_filter_string_reference(d):
    """The pre-r13 lowering, kept verbatim as the semantic reference."""
    shingled = d.withColumn("shingles", _shingles(F.col("text"))).filter(
        F.size("shingles") > 0
    )
    if "salt" in d.columns:
        shingled = shingled.withColumn(
            "shingles",
            F.transform(
                "shingles", lambda sh: F.concat_ws("|", sh, F.col("salt"))
            ),
        )
    shingled = shingled.select("doc_id", "shingles").localCheckpoint(
        eager=True
    )
    sh = shingled.select("doc_id", F.explode("shingles").alias("tok"))
    sz = shingled.select("doc_id", F.size("shingles").alias("n"))
    dfr = sh.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("tok"))
    prefix_len = (
        F.col("n")
        - F.floor(
            (F.lit(_PF_THETA_NUM) * F.col("n") + F.lit(_PF_THETA_DEN - 1))
            / F.lit(_PF_THETA_DEN)
        )
        + 1
    )
    pref = (
        sh.join(dfr, "tok")
        .join(sz, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= prefix_len)
        .select("doc_id", "tok", "n")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.lit(_PF_THETA_DEN) * F.least(F.col("a.n"), F.col("b.n"))
                >= F.lit(_PF_THETA_NUM)
                * F.greatest(F.col("a.n"), F.col("b.n"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    arr_a = shingled.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    arr_b = shingled.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    paired = (
        cand.join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
            F.size("sh_a").alias("na"),
            F.size("sh_b").alias("nb"),
        )
    )
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return paired.filter(
        jac >= F.lit(float(_PF_THETA_NUM) / _PF_THETA_DEN)
    ).select("doc_a", "doc_b", round_half_up(jac, 4).alias("jaccard"))


def _prefix_filter_size_join_reference(d):
    """The lowering before set sizes rode through the explode, kept
    verbatim: sizes came from a separate ``sz`` table joined back on
    doc_id."""
    shingled = _shingled_docs(d).localCheckpoint(eager=True)
    sh = shingled.select("doc_id", F.explode("shingles").alias("tok"))
    sz = shingled.select("doc_id", F.size("shingles").alias("n"))
    dfr = (
        sh.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .withColumn("tok_id", F.monotonically_increasing_id())
    )
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("tok_id"))
    prefix_len = (
        F.col("n")
        - F.floor(
            (F.lit(_PF_THETA_NUM) * F.col("n") + F.lit(_PF_THETA_DEN - 1))
            / F.lit(_PF_THETA_DEN)
        )
        + 1
    )
    ranked = (
        sh.join(dfr, "tok")
        .select("doc_id", "tok_id", "df")  # shingle strings end here
        .join(sz, "doc_id")
        .withColumn("rk", F.row_number().over(w))
    )
    per_doc = (
        ranked.groupBy("doc_id")
        .agg(
            F.collect_list("tok_id").alias("ids"),
            F.collect_list(
                F.when(F.col("rk") <= prefix_len, F.col("tok_id"))
            ).alias("pref_ids"),
            F.first("n").alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    pref = per_doc.select("doc_id", F.explode("pref_ids").alias("tok_id"), "n")
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok_id") == F.col("b.tok_id"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.lit(_PF_THETA_DEN) * F.least(F.col("a.n"), F.col("b.n"))
                >= F.lit(_PF_THETA_NUM) * F.greatest(F.col("a.n"), F.col("b.n"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    arr_a = per_doc.select(
        F.col("doc_id").alias("doc_a"), F.col("ids").alias("ids_a")
    )
    arr_b = per_doc.select(
        F.col("doc_id").alias("doc_b"), F.col("ids").alias("ids_b")
    )
    paired = (
        cand.join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.explode(
                F.array(
                    F.struct(
                        F.size(F.array_intersect("ids_a", "ids_b")).alias(
                            "i"
                        ),
                        F.size("ids_a").alias("na"),
                        F.size("ids_b").alias("nb"),
                    )
                )
            ).alias("v"),
        )
        .select("doc_a", "doc_b", "v.i", "v.na", "v.nb")
    )
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return paired.filter(
        jac >= F.lit(float(_PF_THETA_NUM) / _PF_THETA_DEN)
    ).select("doc_a", "doc_b", round_half_up(jac, 4).alias("jaccard"))


def _as_dict(df):
    return {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in df.collect()}


def test_jaccard_rewrite_matches_string_lowering_on_fixture(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    got = _as_dict(prefix_filter_pairs_from_docs(d))
    want = _as_dict(_prefix_filter_string_reference(d))
    assert got == want
    assert len(got) > 0  # non-vacuous: the fixture plants near-dups


def test_jaccard_rewrite_salted_amplified_corpus(spark, sf_dir):
    """The bench's salted replication path: per-replica token spaces
    must stay disjoint under the int-id remap exactly as they did for
    salted strings."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    rep = 3
    docs_amp = (
        spark.range(rep)
        .select(F.col("id").alias("rep"))
        .crossJoin(F.broadcast(docs))
        .select(
            (F.col("doc_id") * rep + F.col("rep")).alias("doc_id"),
            "text",
            F.col("rep").cast("string").alias("salt"),
        )
    )
    got = _as_dict(prefix_filter_pairs_from_docs(docs_amp))
    want = _as_dict(_prefix_filter_string_reference(docs_amp))
    assert got == want
    base = _as_dict(prefix_filter_pairs_from_docs(docs))
    # disjoint token spaces: exactly rep× the unsalted pair count
    assert len(got) == rep * len(base)


def test_jaccard_rewrite_partitioning_invariant(spark, sf_dir):
    """Token-id ASSIGNMENT depends on the physical layout
    (monotonically_increasing_id); the verified output must not: the
    prefix theorem holds for any shared total order and verification
    is exact."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = _as_dict(prefix_filter_pairs_from_docs(d))
    for n_parts in (1, 3, 64):
        got = _as_dict(prefix_filter_pairs_from_docs(d.repartition(n_parts)))
        assert got == base, f"diverged at {n_parts} partitions"


@pytest.mark.parametrize("sf_dir", TWO_SFS)
def test_jaccard_size_through_explode_matches_size_join(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    got = sorted(map(tuple, prefix_filter_pairs_from_docs(d).collect()))
    want = sorted(map(tuple, _prefix_filter_size_join_reference(d).collect()))
    assert got == want
    assert len(got) > 0
