"""Flagship query: tokenize → per-file distinct words + per-file total
word count (reference example/main.py:59-137).

Reference dataflow (two full reads of every file!):
  1. ReduceItemTransformer fold: re-read file, tokenize, count tokens
     → words_count (example/main.py:72-94);
  2. UniqueFilterTransformer: re-read file, tokenize, derive word_len /
     word_truncated / truncate, dedup on lower(strip(word)) per file
     (example/main.py:96-123);
  3. path shorten to last-4 segments, truncate 270 (main.py:126-128);
  4. project (word, word_len, word_truncated, file, words_count) with
     required-null drop (main.py:158-162).

Spark-first single-pass design (the double scan disappears):

  docs → repartition(N, source)  -- the ONLY exchange: each document's
           compressed text crosses it once, whole
       → file = truncate_270(basename_backwards(source, 5))
           -- once per document, not once per output word
       → tokens → groupBy(source, file, lower(token)) with COUNT(*), then
           min(token) as the deterministic representative word
       → window SUM(occurrences) OVER (PARTITION BY source)
           -- words_count recovered from the already-deduped rows
       → WHERE word0, source, words_count IS NOT NULL → project.

Every operator after the repartition is keyed by ``source`` (both
aggregation levels and the window), and ``hashpartitioning(source)``
satisfies all their distribution requirements, so the token stream is
produced, reduced and summed inside the task the document landed in:
one exchange instead of three token-level ones (pinned by
tests/test_plans.py::test_flagship_shuffle_shape; the older lowerings
are kept verbatim in tests/test_flagship_rewrite.py). ``file`` is a
function of ``source``, so carrying it as a grouping key beside
``source`` changes no group and adds no exchange.

Required-field drop: every output column is NULL exactly when one of
``word0``, ``source`` or ``words_count`` is — ``word``, ``word_len`` and
``word_truncated`` are NULL-preserving functions of ``word0``, ``file``
of ``source`` (split, array_remove, slice, array_join and substring all
return NULL on NULL and never on a non-NULL input), and ``words_count``
is itself an output column. So the reference's five-column drop is a
filter on those three base columns, placed before the projection. The
old ``na.drop`` over the five derived columns made the optimizer push
all five expressions into an ``atleastnnonnulls`` filter and evaluate
them twice per output row.

N is the session's shuffle-partition count (``session.shuffle_partitions``),
fixed on purpose: AQE would coalesce an unnumbered repartition by shuffle
bytes, and compressed text understates the tokenize/aggregate CPU that
follows, so it merges the work onto too few tasks.

Scale notes (100 TB) and skew bound: a task always holds whole sources,
so no task can be smaller than its largest source. Through
``read_whole_files`` the source is the file path, i.e. one file — the
same floor the whole-file scan already has. For ``documents.parquet``
the source is a label shared by many documents (20 labels, at most 25
documents per label at sf0.01 and 250 at sf0.1), so one task holds at
least one label's documents and at most 20 tasks have work. What
crosses the exchange is the input text once, never the token stream,
and there is no join, no broadcast and no Python in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.catalog import read_parquet
from tiny_etl_multiproc_bigdata_spark.functions.text import (
    ARABIC_DIACRITICS,
    basename_backwards,
    len_str_gt,
    remove_diac,
    tokenize_words,
    truncate_str,
)
from tiny_etl_multiproc_bigdata_spark.session import shuffle_partitions


def flagship_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(text, source) → words(word, word_len, word_truncated,
    file, words_count), per-(file, normalized-word) distinct."""
    return words_from_docs(read_parquet(spark, f"{sf_dir}/documents.parquet"))


def words_from_docs(docs: DataFrame) -> DataFrame:
    """The flagship pipeline over any (source, text) DataFrame — also
    used by bench.py's sustained-throughput run over an amplified
    corpus."""
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


_FLAGSHIP_ORACLE_TEMPLATE = r"""
WITH toks AS (
    SELECT source, trim(t.token) AS token
    FROM documents,
         unnest(regexp_split_to_array(text, '\s+')) AS t(token)
), grp AS (
    SELECT source,
           lower(token)  AS norm,
           min(token)    AS word0,
           count(*)      AS occurrences
    FROM toks
    GROUP BY source, lower(token)
), wc AS (
    SELECT *,
           CAST(sum(occurrences) OVER (PARTITION BY source) AS BIGINT) AS words_count
    FROM grp
)
SELECT substr(word0, 1, 254)                       AS word,
       length(translate(word0, '{diacritics}', '')) AS word_len,
       length(word0) > 255                          AS word_truncated,
       substr(
         array_to_string(
           list_slice(list_filter(split(source, '/'), x -> x <> ''),
                      greatest(1, len(list_filter(split(source, '/'), x -> x <> '')) - 4),
                      len(list_filter(split(source, '/'), x -> x <> ''))),
           '/'),
         1, 269)                                    AS file,
       words_count
FROM wc
WHERE word IS NOT NULL AND word_len IS NOT NULL
  AND word_truncated IS NOT NULL AND file IS NOT NULL
  AND words_count IS NOT NULL
"""

FLAGSHIP_ORACLE_SQL = _FLAGSHIP_ORACLE_TEMPLATE.replace(
    "{diacritics}", ARABIC_DIACRITICS
)

from tiny_etl_multiproc_bigdata_spark.plans.registry import register  # noqa: E402

register("flagship_words", oracle=FLAGSHIP_ORACLE_SQL)(flagship_words)
