"""Pipeline DSL: the reference's EXTRACTORS |> TRANSFORMERS |> LOADERS
surface (readme.md:12, pipline.py:40-263) as composable DataFrame
transforms, so a user of the reference can express the same jobs 1:1.

Key differences by design:
* a "transformer" is ``Callable[[DataFrame], DataFrame]`` — lazily
  composed into ONE Catalyst plan (the reference chains generators per
  row, commons.py:46-56, and pays a queue hop per stage);
* parallelism config (worker counts, queue sizes, thread/process
  switches — pipline.py:179-263, E1-E10) has no equivalent: the plan is
  declarative, partitioning is the physical knob;
* runtime isinstance checks (transformers/commons.py:41-42) become
  analysis-time schema errors.

Example (the flagship job, reference example/main.py:59-137):

    Pipeline(
        extract=lambda spark: read_whole_files(spark, in_dir, ".txt"),
        transformers=[
            tokenize_words("content", "word"),
            with_derived("word_len", "word", lambda c: F.length(c)),
        ],
        loaders=[lambda df: csv_load(df, out_dir)],
    ).run(spark)
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.functions import text

Transformer = Callable[[DataFrame], DataFrame]
Loader = Callable[[DataFrame], None]


@dataclass
class Pipeline:
    """`ThreadedPipeline` (pipline.py:40-82) minus the threading: one
    extractor, ordered transformers, fan-out loaders. Validation at
    construction mirrors pipline.py:72-82."""

    extract: Callable[[SparkSession], DataFrame]
    transformers: list[Transformer] = field(default_factory=list)
    loaders: list[Loader] = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.extract is None:
            raise ValueError("pipeline requires an extractor")
        if not self.loaders:
            raise ValueError("pipeline requires at least one loader")

    def plan(self, spark: SparkSession) -> DataFrame:
        """Compose the logical plan without executing (the analog of
        the reference's constructor-built DAG, example/main.py:59-137)."""
        df = self.extract(spark)
        for t in self.transformers:
            df = t(df)
        return df

    def run(self, spark: SparkSession) -> DataFrame:
        """Execute: every loader sees every row (L7 tee semantics,
        pipline.py:127-135). Multi-loader plans persist the transformed
        result once instead of re-running the pipeline per sink."""
        df = self.plan(spark)
        if len(self.loaders) == 1:
            self.loaders[0](df)
        else:
            from tiny_etl_multiproc_bigdata_spark.sinks import tee_load

            tee_load(df, self.loaders)
        return df


# --------------------------------------------------------------------------
# Transformer factories (SURVEY §2.2/§2.3 — P*/T* as df→df callables)
# --------------------------------------------------------------------------

def with_static(**values) -> Transformer:
    """P1 `static_values_1` (one_to_one.py:34-36)."""

    def t(df: DataFrame) -> DataFrame:
        for name, v in values.items():
            df = df.withColumn(name, F.lit(v))
        return df

    return t


def with_derived(
    output: str, source: str, *fns: Callable[[Column], Column]
) -> Transformer:
    """P2 `derived_values_2` (one_to_one.py:48-56): new column = fn-chain
    over another column (reduce-composition of the mappers)."""

    def t(df: DataFrame) -> DataFrame:
        c: Column = F.col(source)
        for fn in fns:
            c = fn(c)
        return df.withColumn(output, c)

    return t


def with_rewritten(column: str, *fns: Callable[[Column], Column]) -> Transformer:
    """P3 `trans_values_3` (one_to_one.py:38-46): in-place rewrite."""
    return with_derived(column, column, *fns)


def drop_columns(*columns: str) -> Transformer:
    """P4 `remove_key_paths` (one_to_one.py:59-61)."""
    return lambda df: df.drop(*columns)


def noop(log: Callable[[DataFrame], None] | None = None) -> Transformer:
    """P7 `OneToOneNoopTransformer` (transformers/commons.py:73-90)."""

    def t(df: DataFrame) -> DataFrame:
        if log is not None:
            log(df)
        return df

    return t


def keep_rows(predicate: Column) -> Transformer:
    """P9 `IgnoreTransformationResult` semantics (transformers/
    commons.py:8,45-46): rows failing the predicate are dropped."""
    return lambda df: df.filter(predicate)


def tokenize_words(
    source: str,
    output: str,
    pattern: str = r"\s+",
    remove_chars: str = "",
    mappers: tuple[Callable[[Column], Column], ...] = (),
    ignore_predicate: Column | None = None,
    keep: tuple[str, ...] = (),
) -> Transformer:
    """T1/T2 `TextWordTokenizerTransformer` (text.py:8-71): text column
    → one row per token; remove_chars → mappers → ignore filter, in the
    reference's order (text.py:28-37). ``keep`` mirrors
    copy_values_key_paths (P5) — in Spark just extra columns retained
    through the explode (no parent/child threading needed)."""

    def t(df: DataFrame) -> DataFrame:
        src = F.col(source)
        if remove_chars:
            src = F.translate(src, remove_chars, "")
        out = df.select(
            *keep, F.explode(text.tokenize_words(src, pattern)).alias(output)
        )
        c: Column = F.col(output)
        for fn in mappers:
            c = fn(c)
        out = out.withColumn(output, c)
        if ignore_predicate is not None:
            out = out.filter(~ignore_predicate)
        return out

    return t


def tokenize_arabic(source: str, output: str, keep: tuple[str, ...] = ()) -> Transformer:
    """T3 `ArabicTextWordsTokenizerTransformer`
    (example/arabic_transformers.py:17-25): findall of the exact Arabic
    letter class, sub-split on whitespace/controls, skip blanks."""
    from tiny_etl_multiproc_bigdata_spark.functions.text import ARABIC_LETTER_CLASS

    def t(df: DataFrame) -> DataFrame:
        runs = F.regexp_extract_all(F.col(source), F.lit(ARABIC_LETTER_CLASS), 0)
        out = df.select(*keep, F.explode(runs).alias("_run"))
        words = F.split(F.translate(F.col("_run"), "×", ""), r"[\s\r\t\n]+", -1)
        out = out.select(*keep, F.explode(words).alias(output))
        return out.filter(F.trim(F.col(output)) != "")

    return t


def reduce_fold(
    group_by: list[str], output: str, agg: Column
) -> Transformer:
    """A1 `ReduceItemTransformer` (aggregators.py:13-64): per-group fold.
    The reference runs a sequential reducer per parent row; any
    commutative monoid maps to a Spark aggregate with partial+final
    phases (`F.count`, `F.sum`, `F.min`, `F.max`, or
    `F.aggregate` for custom folds)."""
    return lambda df: df.groupBy(*group_by).agg(agg.alias(output))


def unique_filter(
    bag_key: str,
    unique_key: str,
    normalizers: tuple[Callable[[Column], Column], ...] = (),
    yield_unique: bool = True,
) -> Transformer:
    """A3 `UniqueFilterTransformer` (aggregators.py:71-132): per-bag
    distinct (yield_unique=True) or re-occurrences-only (False — the
    XOR gate at aggregators.py:127). Dedup scope is per bag key, never
    global, matching the per-parent-row bag reset (aggregators.py:113,
    129)."""

    def t(df: DataFrame) -> DataFrame:
        c: Column = F.col(unique_key)
        for fn in normalizers:
            c = fn(c)
        out = df.withColumn("_norm", c)
        if yield_unique:
            return out.dropDuplicates([bag_key, "_norm"]).drop("_norm")
        from pyspark.sql import Window

        w = Window.partitionBy(bag_key, "_norm").orderBy(F.monotonically_increasing_id())
        return (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .drop("_rn", "_norm")
        )

    return t
