"""Scale patterns: the shuffle-shape techniques that keep plans alive
at 100 TB, each expressed so the result is EXACTLY equal to the naive
formulation (oracle = the naive SQL) — the pattern changes the physical
plan, never the answer.

* salted two-stage aggregation — for skewed group keys: stage 1 groups
  on (key, salt) spreading a hot key over N reducers; stage 2 merges.
  Counts/sums are associative so the result is identical.
* skew-salted join — replicate the small side per salt so a hot join
  key fans out over N tasks. (AQE's skew-join handles sort-merge skew
  automatically; explicit salting is the hash-agg / streaming-state
  version.)
* two-stage distinct — partial dedup on (key, salt) before the global
  dedup shuffle, bounding any single reducer's input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.hashing import duck_md5_long, md5_long
from tiny_etl_multiproc_bigdata_spark.functions.text import duck_jlower, tokenize_words
from tiny_etl_multiproc_bigdata_spark.functions.rounding import (
    exact_round,
    round_half_up,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import register

_N_SALT = 16


@register(
    "salted_token_counts",
    oracle=r"""
    SELECT t.token AS word, count(*) AS n
    FROM documents, unnest(regexp_split_to_array(text, '\s+')) AS t(token)
    GROUP BY t.token
    HAVING count(*) > 100
    """,
)
def salted_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token frequencies via salted two-stage aggregation.

    A natural-language token distribution is maximally skewed (Zipf: the
    top word is a constant fraction of ALL tokens) — the single worst
    case for one-stage groupBy at corpus scale. Stage 1 spreads each
    token over _N_SALT reducers; stage 2 merges _N_SALT partials per
    token. Same answer, hot key bounded at 1/_N_SALT of its volume.

    (Spark's map-side partial agg already mitigates this for count;
    explicit salting is the general pattern when the aggregate state is
    too big for a map-side combine — collect_set, exact distinct,
    streaming state.)"""
    d = table(spark, sf_dir, "documents")
    # the salt MUST be independent of the group key (a key-derived salt
    # like crc32(word) is constant per word and spreads nothing); a
    # per-occurrence id is fine because stage 2 merges every salt and
    # counts are associative, so the final result is salt-invariant
    toks = d.select(
        F.explode(tokenize_words(F.col("text"))).alias("word"),
        (F.monotonically_increasing_id() % _N_SALT).alias("salt"),
    )
    stage1 = toks.groupBy("word", "salt").agg(F.count("*").alias("partial_n"))
    return (
        stage1.groupBy("word")
        .agg(F.sum("partial_n").cast("bigint").alias("n"))
        .filter(F.col("n") > 100)
    )


@register(
    "skew_salted_join",
    oracle="""
    SELECT n.n_name, count(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join: fact side gets a random-ish salt (derived from
    a unique column so it is deterministic), the broadcast side is
    replicated across all salts via explode. Identical result to the
    plain join — the salt only changes task fan-out. This is the
    pattern for when the hot side must shuffle (no broadcast possible)
    and AQE skew-split doesn't apply (hash aggregate, stateful
    streaming)."""
    c = table(spark, sf_dir, "customer").withColumn(
        "c_salt", (F.crc32(F.col("c_custkey").cast("string")) % _N_SALT).cast("int")
    )
    n = table(spark, sf_dir, "nation").withColumn(
        "n_salt", F.explode(F.sequence(F.lit(0), F.lit(_N_SALT - 1)))
    )
    return (
        c.join(
            F.broadcast(n),
            (F.col("c_salt") == F.col("n_salt"))
            & (F.col("c_nationkey") == F.col("n_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "two_stage_distinct",
    oracle=rf"""
    SELECT count(*) AS n_distinct_words
    FROM (SELECT DISTINCT {duck_jlower("t.token")}
          FROM documents, unnest(regexp_split_to_array(text, '\s+')) AS t(token))
    """,
)
def two_stage_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global distinct count via partial dedup per partition before the
    wide exchange (dropDuplicates plans exactly this: partial_first →
    exchange → final dedup). Registered to pin the semantics; the plan
    test asserts the partial aggregate exists below the exchange."""
    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(tokenize_words(F.col("text"))).alias("w")).select(
        F.lower("w").alias("w")
    )
    return words.distinct().agg(F.count("*").alias("n_distinct_words"))


@register(
    "width_bucket_histogram",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 120000 THEN 13
                ELSE CAST(floor(o_totalprice / 10000) + 1 AS BIGINT) END AS bucket,
           count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE), 2) AS total
    FROM orders
    GROUP BY 1
    """,
)
def width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket — the partition-local
    binning primitive (each row maps to its bucket with no shuffle
    until the tiny per-bucket aggregate)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy(
        F.width_bucket("o_totalprice", F.lit(0), F.lit(120000), F.lit(12)).alias(
            "bucket"
        )
    ).agg(
        F.count("*").alias("n"),
        exact_round(F.sum(F.col("o_totalprice").cast("decimal(30,2)")).cast("double"), 2).alias(
            "total"
        ),
    )


# ---- hash-sample extrapolation ----------------------------------------------

_SAMPLE_MOD = 16  # 1/16 deterministic hash sample


@register(
    "hash_sample_extrapolation",
    oracle=f"""
    WITH cmp AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_exact,
             CAST({_SAMPLE_MOD} * count(*) FILTER (
               {duck_md5_long("CAST(event_id AS VARCHAR)")} % {_SAMPLE_MOD} = 0) AS BIGINT) AS n_est
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_exact, n_est,
           (floor(abs(CAST(n_est AS DOUBLE) - n_exact)
                  / n_exact * 10000 + 0.5) / 10000) AS rel_err
    FROM cmp
    """,
)
def hash_sample_extrapolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson extrapolation from a deterministic 1/{M} hash
    sample: estimate per-group counts as {M} x the sampled count and
    report the relative error against the exact answer computed in the
    SAME pass — the eval protocol for 'can we run this dashboard on a
    sample?'. The md5-mod sample is the repo's standard deterministic
    sampler (sample_stratified_hash), so the 'estimate' is exactly
    reproducible — the entry's value is the measured error table, the
    thing you check BEFORE trusting sampled pipelines at 100 TB.

    100 TB shape: in production only the sampled branch runs (a
    map-side filter dropping 15/16 of rows before the shuffle); here
    both branches share one scan+groupBy via filtered aggregates, so
    verifying the estimator costs one pass."""
    e = table(spark, sf_dir, "events")
    in_sample = md5_long(F.col("event_id").cast("string")) % _SAMPLE_MOD == 0
    both = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        (F.lit(_SAMPLE_MOD) * F.count_if(in_sample))
        .cast("bigint")
        .alias("n_est"),
    )
    return both.select(
        "event_type",
        "n_exact",
        "n_est",
        round_half_up(
            F.abs(F.col("n_est").cast("double") - F.col("n_exact"))
            / F.col("n_exact"),
            4,
        ).alias("rel_err"),
    )
