"""Equivalence pins for the flagship's rewrites
(plans/flagship.py::words_from_docs and ::words_from_labelled_docs).

Keeps three earlier lowerings VERBATIM — the three-exchange token-level
one; the one-exchange one that derived ``file`` per output row and
dropped required-field NULLs with ``na.drop`` over the five derived
columns; and the one-exchange token-level one with ``file`` per
document and the NULL drop on the base columns — and asserts both live
lowerings (the per-document ``array_distinct`` one and the label-level
one) return identical rows to all three, at shuffle partitions 1 and 3,
over:

- the sf0.001 ``documents.parquet`` (a ``source`` label shared by many
  documents);
- a ``.txt`` tree read through ``read_whole_files`` (``source`` = file
  path) whose files carry the tokenizer's edge cases: leading/trailing
  whitespace (empty edge tokens), ``\\r\\n``, Arabic diacritics, case
  variants, U+0130 (İ), a token longer than 255 characters, and paths
  more than five segments deep;
- a docs frame with NULL ``source``, NULL ``text`` and empty ``text``
  rows, the inputs the required-field drop exists for;
- one source shared by documents of different token counts plus a
  NULL-text document, where ``words_count`` must be the source's total.

The two NULL-bearing frames also run with ``spark.sql.ansi.enabled``
off, where ``size(NULL)`` is -1. The label-level lowering is also
checked against the token-level one, which trims every token, on
``documents.parquet`` at two SFs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from conftest import TWO_SFS

from tiny_etl_multiproc_bigdata_spark.functions.text import (
    basename_backwards,
    len_str_gt,
    remove_diac,
    tokenize_words,
    truncate_str,
)
from tiny_etl_multiproc_bigdata_spark.plans.flagship import (
    words_from_docs,
    words_from_labelled_docs,
)
from tiny_etl_multiproc_bigdata_spark.session import shuffle_partitions
from tiny_etl_multiproc_bigdata_spark.sources.files import read_whole_files


def _words_from_docs_three_exchanges(docs: DataFrame) -> DataFrame:
    """The token-level lowering, verbatim (plans/flagship.py @ b3c7313)."""
    tokens = docs.select(
        "source",
        F.explode(tokenize_words(F.col("text"))).alias("token"),
    ).withColumn("token", F.trim("token"))
    # mappers=[str.strip] (example/main.py:85); ignore_word_fn=str.isspace
    # never fires post-split (tokens can't contain \s) — see
    # functions.text.tokenize_words parity note.

    # Two-level aggregation, deliberately: the token stream must be
    # reduced by a pure-count HashAggregate (fixed-size buffer →
    # whole-stage codegen). A direct min(token) would fall back to
    # SortAggregate (sorting the full stream per partition) and
    # array_min(collect_set) to ObjectHashAggregate (no codegen) —
    # measured 10x slower on a 95 MB corpus. Level 1 groups on
    # (source, norm, token) with COUNT only; level 2 then takes
    # min(token)/sum(count) over the already-tiny per-word rows.
    pre = tokens.groupBy(
        "source", F.lower(F.col("token")).alias("norm"), "token"
    ).agg(F.count("*").alias("c"))
    grouped = pre.groupBy("source", "norm").agg(
        F.min("token").alias("word0"),
        F.sum("c").alias("occurrences"),
    )

    with_count = grouped.withColumn(
        "words_count",
        F.sum("occurrences").over(Window.partitionBy("source")).cast("bigint"),
    )

    return with_count.select(
        truncate_str(F.col("word0"), 255).alias("word"),
        F.length(remove_diac(F.col("word0"))).cast("bigint").alias("word_len"),
        len_str_gt(F.col("word0"), 255).alias("word_truncated"),
        # basename_backwards_x4 keeps 5 segments (reference commons.py:157-158)
        truncate_str(basename_backwards(F.col("source"), 5), 270).alias("file"),
        F.col("words_count"),
    ).na.drop(  # required-field drop at the sink (loaders/commons.py:55-62)
        subset=["word", "word_len", "word_truncated", "file", "words_count"]
    )


def _words_from_docs_na_drop(docs: DataFrame) -> DataFrame:
    """The one-exchange lowering with ``file`` per output row and the
    five-column ``na.drop``, verbatim (plans/flagship.py @ 445c2b3)."""
    docs = docs.repartition(shuffle_partitions(docs.sparkSession), "source")
    tokens = docs.select(
        "source",
        F.explode(tokenize_words(F.col("text"))).alias("token"),
    ).withColumn("token", F.trim("token"))
    # mappers=[str.strip] (example/main.py:85); ignore_word_fn=str.isspace
    # never fires post-split (tokens can't contain \s) — see
    # functions.text.tokenize_words parity note.

    # Two-level aggregation, deliberately: the token stream must be
    # reduced by a pure-count HashAggregate (fixed-size buffer →
    # whole-stage codegen). A direct min(token) would fall back to
    # SortAggregate (sorting the full stream per partition) and
    # array_min(collect_set) to ObjectHashAggregate (no codegen) —
    # measured 10x slower on a 95 MB corpus. Level 1 groups on
    # (source, norm, token) with COUNT only; level 2 then takes
    # min(token)/sum(count) over the already-tiny per-word rows.
    pre = tokens.groupBy(
        "source", F.lower(F.col("token")).alias("norm"), "token"
    ).agg(F.count("*").alias("c"))
    grouped = pre.groupBy("source", "norm").agg(
        F.min("token").alias("word0"),
        F.sum("c").alias("occurrences"),
    )

    with_count = grouped.withColumn(
        "words_count",
        F.sum("occurrences").over(Window.partitionBy("source")).cast("bigint"),
    )

    return with_count.select(
        truncate_str(F.col("word0"), 255).alias("word"),
        F.length(remove_diac(F.col("word0"))).cast("bigint").alias("word_len"),
        len_str_gt(F.col("word0"), 255).alias("word_truncated"),
        # basename_backwards_x4 keeps 5 segments (reference commons.py:157-158)
        truncate_str(basename_backwards(F.col("source"), 5), 270).alias("file"),
        F.col("words_count"),
    ).na.drop(  # required-field drop at the sink (loaders/commons.py:55-62)
        subset=["word", "word_len", "word_truncated", "file", "words_count"]
    )


def _words_from_docs_token_level(docs: DataFrame) -> DataFrame:
    """The one-exchange token-level lowering with ``file`` per document
    and the NULL drop on the base columns, verbatim (plans/flagship.py @
    6ec3e76)."""
    # basename_backwards_x4 keeps 5 segments (reference commons.py:157-158);
    # computed before the explode, so once per document
    docs = docs.repartition(
        shuffle_partitions(docs.sparkSession), "source"
    ).withColumn("file", truncate_str(basename_backwards(F.col("source"), 5), 270))
    tokens = docs.select(
        "source",
        "file",
        F.explode(tokenize_words(F.col("text"))).alias("token"),
    ).withColumn("token", F.trim("token"))
    # mappers=[str.strip] (example/main.py:85); ignore_word_fn=str.isspace
    # never fires post-split (tokens can't contain \s) — see
    # functions.text.tokenize_words parity note.

    # Two-level aggregation, deliberately: the token stream must be
    # reduced by a pure-count HashAggregate (fixed-size buffer →
    # whole-stage codegen). A direct min(token) would fall back to
    # SortAggregate (sorting the full stream per partition) and
    # array_min(collect_set) to ObjectHashAggregate (no codegen) —
    # measured 10x slower on a 95 MB corpus. Level 1 groups on
    # (source, file, norm, token) with COUNT only; level 2 then takes
    # min(token)/sum(count) over the already-tiny per-word rows.
    pre = tokens.groupBy(
        "source", "file", F.lower(F.col("token")).alias("norm"), "token"
    ).agg(F.count("*").alias("c"))
    grouped = pre.groupBy("source", "file", "norm").agg(
        F.min("token").alias("word0"),
        F.sum("c").alias("occurrences"),
    )

    with_count = grouped.withColumn(
        "words_count",
        F.sum("occurrences").over(Window.partitionBy("source")).cast("bigint"),
    )

    # required-field drop at the sink (loaders/commons.py:55-62), on the
    # base columns — see the module docstring
    required = (
        F.col("word0").isNotNull()
        & F.col("source").isNotNull()
        & F.col("words_count").isNotNull()
    )
    return with_count.where(required).select(
        truncate_str(F.col("word0"), 255).alias("word"),
        F.length(remove_diac(F.col("word0"))).cast("bigint").alias("word_len"),
        len_str_gt(F.col("word0"), 255).alias("word_truncated"),
        "file",
        "words_count",
    )


_OLD_LOWERINGS = (
    _words_from_docs_three_exchanges,
    _words_from_docs_na_drop,
    _words_from_docs_token_level,
)

_LONG = "x" * 300
_FILES = {
    "a/b/c/d/e/f/deep.txt": "  Leading and trailing  \t\n",
    "a/b/c/d/e/f/g/deeper.txt": "line one\r\nLine Two\r\nLINE one\r\n",
    "a/b/c/d/e/f/g/h/ar.txt": "كِتَابٌ كتاب الكِتَابُ كِتَابٌ\n",
    "a/b/turkish.txt": "İstanbul istanbul İSTANBUL i̇stanbul",
    "a/long.txt": f"{_LONG} {_LONG.upper()} short",
    "empty.txt": "",
    "spaces.txt": " \n\t \r\n",
    "x/y/z/w/v/u/deep.txt": "Leading leading LEADING",
}


@pytest.fixture(params=[1, 3], ids=["sp1", "sp3"])
def partitions(spark, request):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, str(request.param))
    yield request.param
    spark.conf.set(key, before)


@pytest.fixture(scope="module")
def txt_tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("flagship_tree")
    for rel, text in _FILES.items():
        path = root / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8", newline="") as f:
            f.write(text)
    return str(root)


@pytest.fixture(params=["true", "false"], ids=["ansi", "legacy"])
def ansi(spark, request):
    # ANSI off brings back the legacy size(NULL) = -1
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, before)


def _rows(df: DataFrame) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _assert_same_as_old(docs: DataFrame) -> list[tuple]:
    """Both live lowerings return the rows of every old one."""
    new = _rows(words_from_docs(docs))
    assert new == _rows(words_from_labelled_docs(docs)), "words_from_labelled_docs"
    for old in _OLD_LOWERINGS:
        assert new == _rows(old(docs)), old.__name__
    return new


def test_documents_parquet_identical(spark, sf_dir, partitions):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert _assert_same_as_old(docs)


@pytest.mark.parametrize("sf", TWO_SFS)
def test_labelled_docs_match_token_level(spark, sf):
    """The registry's flagship_words (words_from_labelled_docs) against
    its earlier body, which trimmed every token, at two SFs."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    new = _rows(words_from_labelled_docs(docs))
    assert new and new == _rows(_words_from_docs_token_level(docs))


def test_txt_tree_identical(spark, txt_tree, partitions):
    docs = read_whole_files(
        spark, txt_tree, ".txt", path_key="source", content_key="text"
    )
    new = _assert_same_as_old(docs)
    # the edge cases reach the output rather than vanishing in both
    assert "" in {r[0] for r in new}  # empty edge tokens
    assert any(r[2] for r in new)  # a truncated token
    assert {r[3].count("/") for r in new} == {4}  # deep paths cut to 5 segments


def _assert_null_docs_identical(spark) -> None:
    docs = spark.createDataFrame(
        [
            (None, "orphan words Orphan"),
            ("/d/a.txt", None),
            ("/d/b.txt", ""),
            ("/d/c.txt", "kept Kept kept"),
            (None, None),
            ("", "rootless text"),
        ],
        "source string, text string",
    )
    new = _assert_same_as_old(docs)
    files = {r[3] for r in new}
    assert None not in files  # NULL-source rows dropped
    assert {"d/b.txt", "d/c.txt", ""} <= files  # empty text keeps one "" token
    assert "d/a.txt" not in files  # NULL text yields no token


def test_null_docs_identical(spark, partitions):
    _assert_null_docs_identical(spark)


@pytest.mark.parametrize("ansi", ["false"], ids=["legacy"], indirect=True)
def test_null_docs_identical_ansi_off(spark, partitions, ansi):
    _assert_null_docs_identical(spark)


def test_shared_source_identical(spark, partitions, ansi):
    """One source shared by documents of different token counts and a
    NULL-text document: words_count is the source's total, not any one
    document's, and the NULL text adds nothing to it."""
    docs = spark.createDataFrame(
        [
            ("/s/shared.txt", "one Two three"),
            ("/s/shared.txt", "two"),
            ("/s/shared.txt", None),
            ("/s/shared.txt", "ONE four five six seven"),
            ("/s/other.txt", "two Two"),
        ],
        "source string, text string",
    )
    new = _assert_same_as_old(docs)
    counts = {(r[3], r[0]): r[4] for r in new}
    assert counts[("s/shared.txt", "Two")] == 9
    assert counts[("s/shared.txt", "ONE")] == 9  # min over both documents
    assert counts[("s/other.txt", "Two")] == 2
