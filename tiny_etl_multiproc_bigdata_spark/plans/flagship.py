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

Spark-first single-pass design (the double scan disappears), in two
lowerings that share their one exchange and their output stage:

  docs → repartition(N, source)  -- the ONLY exchange: each document's
           compressed text crosses it once, whole
       → file = truncate_270(basename_backwards(source, 5))
           -- once per document, not once per output word
       → (per input shape, below)
       → WHERE word0, source, words_count IS NOT NULL → project.

``words_from_docs`` — a file tree, one document per source:
       → per document row: tokens = split(text), n = size(tokens),
           u = array_distinct(tokens)
       → window SUM(n) OVER (PARTITION BY source) = words_count,
           over document rows
       → explode(u) → groupBy(lower(token), source, file, words_count)
           with min(token) as the deterministic representative word.

``words_from_labelled_docs`` — a table whose ``source`` label is shared
by many documents:
       → tokens → groupBy(source, file, lower(token), token) with
           COUNT(*), then groupBy(source, file, lower(token)) with
           min(token)
       → window SUM(occurrences) OVER (PARTITION BY source)
           -- words_count recovered from the already-deduped rows.

Which is faster depends on how many documents share a source, which
only the caller knows (a file source or a labelled table), so each
caller names its lowering and there is no setting. Measured on this
engine (4-vCPU host): over perfbench ``flagship_corpus`` (160 files)
the per-document lowering cuts traced executor CPU by about a quarter,
because the token-level one spends 45% of its executor samples in a
hash aggregate that copies, hashes and compares two ~100-byte paths per
token; over bench.py's sf0.1 ×128 amplification (a label holds ~250
documents) it is slower, because ``array_distinct`` cannot merge a
word across documents and every document's copy reaches the final
aggregation. The numbers are in each function's docstring.

Every operator after the repartition is keyed by ``source`` (the
aggregations and the window), and ``hashpartitioning(source)``
satisfies all their distribution requirements, so the token stream is
produced, reduced and summed inside the task the document landed in:
one exchange instead of three token-level ones (pinned by
tests/test_plans.py::test_flagship_shuffle_shape and
::test_flagship_file_tree_dedupes_per_document; the older lowerings
are kept verbatim in tests/test_flagship_rewrite.py). ``file`` and
``words_count`` are functions of ``source``, so carrying them as
grouping keys beside ``source`` changes no group and adds no exchange.

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
and there is no join, no broadcast and no Python in the plan. Memory:
the per-document lowering holds at most one document row's token array
and its distinct set at a time; the window over a source's document
rows buffers them in a spillable array, and the sort in front of the
aggregation spills, so neither needs a source to fit in memory. The
label lowering's hash aggregates fall back to sort-based aggregation
when their map fills.
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
    return words_from_labelled_docs(
        read_parquet(spark, f"{sf_dir}/documents.parquet")
    )


def words_from_docs(docs: DataFrame) -> DataFrame:
    """The flagship pipeline over a file tree (``read_whole_files``:
    ``source`` is the file path, so each source is one document) — the
    reference's own job.

    Each document row is deduplicated inside itself: its text is split
    once, ``n = size(tokens)`` and ``u = array_distinct(tokens)`` come
    from that one array, ``words_count`` is ``sum(n)`` over the source's
    document rows, and only ``u`` is exploded into the single
    aggregation. The per-row hash set keys on token bytes alone, so no
    token is hashed or compared together with its path. Measured on
    perfbench ``flagship_corpus`` (160 files, ``local[2]``, 4-vCPU
    host), against the token-level lowering: pass time 1.37 → 1.00 s
    (median of 10 interleaved pairs), traced executor CPU 1.39 → 1.07 s;
    a JFR profile of the token-level lowering put 45% of executor
    samples in its hash aggregate keyed on (source, file, norm, token).
    ``array_distinct`` cannot merge across documents, so on a label
    shared by many documents the token-level lowering is faster: use
    ``words_from_labelled_docs`` there."""
    # NULL text yields no token, and ANSI-off size(NULL) = -1 would leak
    # into words_count, so it is dropped first
    docs = _by_source(docs).where(F.col("text").isNotNull())
    # No Generate barrier is needed to split each document once:
    # CollapseProject does not inline the non-cheap split into both of
    # its uses (pinned by tests/test_plans.py)
    split = docs.select(
        "source", "file", tokenize_words(F.col("text")).alias("tokens")
    )
    # mappers=[str.strip] (example/main.py:85) needs no trim here: Spark's
    # trim strips only U+0020, which split('\s+') never leaves in a token
    # (pinned by tests/test_functions.py); ignore_word_fn=str.isspace
    # never fires post-split — see functions.text.tokenize_words.
    per_doc = split.select(
        "source",
        "file",
        F.size("tokens").alias("n"),
        F.array_distinct("tokens").alias("u"),
    )
    counted = per_doc.withColumn(
        "words_count", F.sum("n").over(Window.partitionBy("source"))
    )
    # words_count and file are functions of source: as grouping keys they
    # change no group. lower(token) leads so the sort feeding the
    # aggregate compares token bytes before the long shared path prefixes.
    grouped = (
        counted.select(
            "source", "file", "words_count", F.explode("u").alias("token")
        )
        .groupBy(F.lower(F.col("token")).alias("norm"), "source", "file", "words_count")
        .agg(F.min("token").alias("word0"))
    )
    return _required_words(grouped)


def words_from_labelled_docs(docs: DataFrame) -> DataFrame:
    """The flagship pipeline over a labelled table, where one ``source``
    label is shared by many documents (the registry's
    ``documents.parquet``: 20 labels × 25 documents at sf0.01) — also
    bench.py's sustained-throughput run over an amplified corpus.

    Tokens of all a label's documents meet in one token-level
    aggregation, which merges them across documents. Measured on
    bench.py's sf0.1 ×128 amplification (190 MB, about 250 documents a
    label, ``local[4]``, 4-vCPU host; median of three processes): 33.9
    MB/s here against 19.0 MB/s for ``words_from_docs``, whose per-row
    ``array_distinct`` keeps every document's copy of a word until the
    final aggregation."""
    docs = _by_source(docs)
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
    return _required_words(with_count)


def _by_source(docs: DataFrame) -> DataFrame:
    """The one exchange: whole documents hash-partitioned on ``source``,
    with ``file`` derived once per document."""
    # basename_backwards_x4 keeps 5 segments (reference commons.py:157-158);
    # computed before the explode, so once per document
    return docs.repartition(
        shuffle_partitions(docs.sparkSession), "source"
    ).withColumn("file", truncate_str(basename_backwards(F.col("source"), 5), 270))


def _required_words(grouped: DataFrame) -> DataFrame:
    """(source, file, word0, words_count) → the output columns, with the
    required-field drop at the sink (loaders/commons.py:55-62) on the
    base columns — see the module docstring."""
    required = (
        F.col("word0").isNotNull()
        & F.col("source").isNotNull()
        & F.col("words_count").isNotNull()
    )
    return grouped.where(required).select(
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
