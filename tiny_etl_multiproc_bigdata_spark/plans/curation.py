"""Corpus curation operators — the compliance / selection layer of a
training-data pipeline: PII scrubbing and the end-to-end "which
documents make the training set" query composing quality scoring,
language ID, and near-dup survival.

Scale shape (100 TB corpus): PII scrubbing is pure per-row regex work
(zero shuffle, fully codegen'd); curation is per-row feature scoring
joined against the (small) duplicate-membership table — the join
broadcasts, so the whole pipeline is one scan of the corpus plus the
near-dup machinery it already shares with dedup_groups.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.hashing import duck_md5_long, md5_long
from tiny_etl_multiproc_bigdata_spark.functions.rounding import round_half_up
from tiny_etl_multiproc_bigdata_spark.functions.text import DUCK_TOKS
from tiny_etl_multiproc_bigdata_spark.plans.dedup_groups import (
    _CC_GROUPS_CTES,
    _cc_labels,
    near_dup_edges_from_docs,
    survivor_filter,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import REGISTRY, register
from tiny_etl_multiproc_bigdata_spark.plans.text_queries import (
    DUCK_FINGERPRINT,
    quality_from_docs,
    text_quality_score,
    vocab_fingerprint,
)

# Literal fixture-row plumbing lives in plans/fixtures.py (shared with
# text_queries, which curation imports — so it cannot live here).
from tiny_etl_multiproc_bigdata_spark.plans.fixtures import (  # noqa: E402
    fixture_docs as _fixture_docs,
    fixture_docs_sql as _fixture_docs_sql,
)

# --------------------------------------------------------------------------
# PII scrubbing
# --------------------------------------------------------------------------
# Conservative patterns valid in BOTH Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround. Applied sequentially —
# email → IPv4 → phone — on the running result, in the same order in
# both engines, so digit spans consumed by an earlier category can't be
# re-matched by a later one (an IPv4 octet run is not also a "phone").
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
_PII_PHONE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"

# The synthetic corpus carries no PII, so (Arabic-fixture pattern,
# reference_ops.py) literal rows are unioned in to keep the driver
# comparison non-vacuous. Negative doc_ids can't collide with fixture
# ids; -11.. leaves -1..-4 to the Arabic rows.
_PII_ROWS: list[tuple[int, str]] = [
    (-11, "contact me at alice.smith@example.com or bob@test.org please"),
    (-12, "server at 192.168.1.100 responded; fallback was 10.0.0.7"),
    (-13, "call +1 (555) 123-4567 or 555 987 6543 before noon"),
    (-14, "mixed: eve@corp.io from 172.16.254.3 phone +44 20 7946 0958"),
]

_PII_ORACLE = f"""
WITH staged AS (
  SELECT doc_id, text,
         regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS s1
  FROM {_fixture_docs_sql(_PII_ROWS)} d
), staged2 AS (
  SELECT doc_id, text, s1,
         regexp_replace(s1, '{_PII_IPV4}', '<IP>', 'g') AS s2
  FROM staged
)
SELECT doc_id,
       regexp_replace(s2, '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}'))
          + len(regexp_extract_all(s1, '{_PII_IPV4}'))
          + len(regexp_extract_all(s2, '{_PII_PHONE}')) AS BIGINT)
         AS n_redactions
FROM staged2
"""


@register("text_pii_scrub", oracle=_PII_ORACLE)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: emails, IPv4 addresses, and phone-like digit runs
    replaced with typed placeholders; per-doc redaction count for audit
    sampling. Sequential category passes (email → IP → phone) keep the
    counting unambiguous in both engines."""
    d = _fixture_docs(spark, sf_dir, _PII_ROWS)
    s1 = F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>")
    d = d.withColumn("s1", s1)
    d = d.withColumn("s2", F.regexp_replace(F.col("s1"), _PII_IPV4, "<IP>"))
    n_redact = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_EMAIL), 0))
        + F.size(F.regexp_extract_all(F.col("s1"), F.lit(_PII_IPV4), 0))
        + F.size(F.regexp_extract_all(F.col("s2"), F.lit(_PII_PHONE), 0))
    )
    return d.select(
        "doc_id",
        F.regexp_replace(F.col("s2"), _PII_PHONE, "<PHONE>").alias("scrubbed"),
        n_redact.cast("bigint").alias("n_redactions"),
    )


# --------------------------------------------------------------------------
# Benchmark decontamination
# --------------------------------------------------------------------------
# The fixture has no designated eval set, so docs with doc_id % 97 == 0
# stand in for one (an external blocklist table at production scale).
# Literal rows guarantee a non-vacuous overlap: train rows -21/-22
# duplicate eval rows -97/-194 up to normalization (case/whitespace),
# so exactly they are removed; -23 survives.
_DECON_ROWS: list[tuple[int, str]] = [
    (-97, "the quick brown fox jumps over the lazy dog"),
    (-194, "pack my box with five dozen liquor jugs"),
    (-21, "The quick  brown fox jumps over the LAZY dog"),
    (-22, "pack my box  with five dozen LIQUOR jugs"),
    (-23, "an entirely novel training document about nothing"),
]

_DECON_ORACLE = f"""
WITH fp AS (
  SELECT doc_id, {DUCK_FINGERPRINT} AS fingerprint
  FROM {_fixture_docs_sql(_DECON_ROWS)} d
)
SELECT f.doc_id, f.fingerprint
FROM fp f
WHERE f.doc_id % 97 <> 0
  -- NOT EXISTS, not NOT IN: NOT IN returns zero rows if any eval
  -- fingerprint were NULL, while Spark's left_anti is null-safe
  AND NOT EXISTS (SELECT 1 FROM fp e
                  WHERE e.doc_id % 97 = 0 AND e.fingerprint = f.fingerprint)
"""


@register("decontaminate_eval_overlap", oracle=_DECON_ORACLE)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop training documents whose
    normalized vocabulary fingerprint collides with any eval-set
    document — the standard guard against test-set leakage into a
    pretraining corpus. The eval fingerprint set is tiny, so the
    anti-join broadcasts; fingerprints are computed in one corpus scan
    with no shuffle on the training side."""
    # Generate barrier (r13 optimization round): pins the fingerprint
    # expression to one evaluation per row per branch — as a bare
    # projection the md5∘sort∘distinct∘tokenize chain was inlined into
    # the join keys and union branches (10 copies of split(lower(text))
    # in the plan; 2 after — one per eval/train scan branch).
    d = _fixture_docs(spark, sf_dir, _DECON_ROWS).select(
        "doc_id",
        F.explode(F.array(vocab_fingerprint(F.col("text")))).alias(
            "fingerprint"
        ),
    )
    is_eval = F.col("doc_id") % 97 == 0
    evalset = d.filter(is_eval).select("fingerprint")
    train = d.filter(~is_eval)
    return train.join(F.broadcast(evalset), "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )


def _topfrac_oracle() -> str:
    quality_oracle = REGISTRY["text_quality_score"].oracle
    return f"""
    WITH qual AS ({quality_oracle}),
    thr AS (
      SELECT (floor(CAST(quantile_cont(quality_score, 0.25) AS DOUBLE)
                    * 10000 + 0.5) / 10000) AS t
      FROM qual
    )
    SELECT q.doc_id, q.quality_score
    FROM qual q, thr WHERE q.quality_score >= thr.t
    """


@register("quality_topfrac_filter", oracle=_topfrac_oracle())
def quality_topfrac_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the top 75% of documents by quality score — fraction-based
    selection via a TWO-PASS threshold (aggregate the exact p25 to one
    row, broadcast it back, filter), NOT a percent_rank window: a
    global unpartitioned window funnels the whole corpus through one
    task, while this shape is a partial-agg'd percentile plus a
    shuffle-free filtered scan. The interpolated threshold is micro-
    rounded to 1e-4 on BOTH sides (round_half_up here, the same
    floor-formula in the oracle) so a 1-ulp interpolation difference
    between Spark percentile() and DuckDB quantile_cont can never flip
    a boundary document."""
    q = text_quality_score(spark, sf_dir)
    thr = q.agg(
        round_half_up(F.expr("percentile(quality_score, 0.25)"), 4).alias("t")
    )
    return (
        q.crossJoin(F.broadcast(thr))
        .filter(F.col("quality_score") >= F.col("t"))
        .select("doc_id", "quality_score")
    )


# --------------------------------------------------------------------------
# End-to-end corpus curation
# --------------------------------------------------------------------------


def _curation_oracle() -> str:
    quality_oracle = REGISTRY["text_quality_score"].oracle
    return (
        _CC_GROUPS_CTES
        + f""", surv AS (
  SELECT d.doc_id
  FROM documents d LEFT JOIN groups g ON d.doc_id = g.doc_id
  WHERE g.doc_id IS NULL OR g.group_id = d.doc_id
), qual AS ({quality_oracle})
SELECT q.doc_id, q.n_tokens, q.quality_score
FROM qual q JOIN surv s ON q.doc_id = s.doc_id
WHERE q.quality_score >= 0.5 AND q.stopword_ratio >= 0.03
"""
    )


@register("corpus_curation", oracle=_curation_oracle())
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-set selection query, composed from this engine's own
    operators: keep documents that (a) survive near-dup clustering
    (dedup_survivors), (b) pass the heuristic quality bar, and (c) look
    English by stopword ratio. Filters compare the micro-rounded scores
    (exact integer/10^4 values), so the cut is identical across engines.
    This is the query a 100 TB pretraining ingest runs nightly; its
    output doc_id set IS the training corpus.

    Shape: ONE corpus scan (the quality projection) left-joined against
    the broadcast duplicate-membership table — not a corpus×corpus join
    of the quality and survivor frames, which would shuffle the full
    corpus twice."""
    return curation_from_docs(table(spark, sf_dir, "documents"))


def curation_from_docs(docs: DataFrame) -> DataFrame:
    """The curation composition over any (doc_id, text) DataFrame —
    quality scan + minhash near-dup clustering + survivor/quality/lang
    filters — so bench.py's amplified run drives the identical
    end-to-end pipeline. A ``salt`` column, if present, flows into the
    minhash shingles (independent clusters per replica, the
    minhash_pairs_from_docs contract)."""
    q = quality_from_docs(docs)
    labels = _cc_labels(near_dup_edges_from_docs(docs))
    return (
        survivor_filter(q, labels)
        .filter(
            (F.col("quality_score") >= 0.5) & (F.col("stopword_ratio") >= 0.03)
        )
        .select("doc_id", "n_tokens", "quality_score")
    )


@register(
    "dataset_holdout_split",
    oracle=f"""
    SELECT doc_id,
           {duck_md5_long("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
           CASE WHEN {duck_md5_long("CAST(doc_id AS VARCHAR)")} % 100 < 5  THEN 'test'
                WHEN {duck_md5_long("CAST(doc_id AS VARCHAR)")} % 100 < 15 THEN 'val'
                ELSE 'train' END AS split
    FROM documents
    """,
)
def dataset_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent
    id hash (md5 bucket mod 100: 5% test, 10% val) — the split every
    training pipeline needs to be REPRODUCIBLE across reruns, engines,
    and partitionings; a random() split is none of those. Pure per-row
    expressions, zero shuffle; the same bucket arithmetic extends to
    k-fold assignment."""
    d = table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string")) % 100
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 5, F.lit("test"))
        .when(bucket < 15, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


_CONTAM_N = 5  # contamination n-gram width (tokens)
# the oracle's gram concatenation is GENERATED from _CONTAM_N so the
# width knob cannot desynchronize oracle vs plan (r6 review finding)
_DUCK_GRAM = " || ' ' || ".join(
    "l[i]" if j == 0 else f"l[i+{j}]" for j in range(_CONTAM_N)
)


@register(
    "contamination_ngram_score",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             {DUCK_TOKS} AS l
      FROM documents
    ), grams AS (
      SELECT doc_id, g.g AS g
      FROM t,
           unnest(list_distinct(list_transform(
             range(1, len(l) - {_CONTAM_N - 2}),
             i -> md5({_DUCK_GRAM})))) AS g(g)
      WHERE len(l) >= {_CONTAM_N}
    ), evalset AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
    ), train AS (
      SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0
    )
    SELECT tr.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN e.g IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_contaminated,
           (floor(CAST(sum(CASE WHEN e.g IS NULL THEN 0 ELSE 1 END)
                       AS DOUBLE) / count(*) * 10000 + 0.5) / 10000)
             AS contamination_rate
    FROM train tr LEFT JOIN evalset e ON tr.g = e.g
    GROUP BY tr.doc_id
    """,
)
def contamination_ngram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED benchmark-contamination scoring (the GPT-3 appendix-C
    method, vs decontaminate_eval_overlap's whole-document fingerprint
    collision): per training document, the fraction of its distinct
    {N}-token-gram set that appears anywhere in the eval split's gram
    set — catches PARTIAL leakage (a quoted eval question inside an
    otherwise-clean page) that whole-doc fingerprints miss. Same
    deterministic doc_id % 97 eval split as the fingerprint entry;
    grams are md5'd to fixed width before any join.

    100 TB shape: the eval gram set is eval-corpus-sized (tiny) —
    broadcast into the training gram stream; training grams never
    shuffle. Per-doc distinct-gram sets are built with per-row array
    HOFs; the only corpus shuffle is the per-doc rollup."""
    from tiny_etl_multiproc_bigdata_spark.functions.text import (
        tokenize_words_nonempty,
        word_ngrams,
    )

    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", tokenize_words_nonempty("text").alias("l")
    ).where(F.size("l") >= _CONTAM_N)
    grams = t.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    word_ngrams(F.col("l"), _CONTAM_N), lambda g: F.md5(g)
                )
            )
        ).alias("g"),
    ).localCheckpoint(eager=True)
    evalset = (
        grams.where(F.col("doc_id") % 97 == 0)
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = grams.where(F.col("doc_id") % 97 != 0)
    return (
        train.join(F.broadcast(evalset), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("hit").isNull(), 0).otherwise(1))
            .cast("bigint")
            .alias("n_contaminated"),
            round_half_up(
                F.sum(F.when(F.col("hit").isNull(), 0).otherwise(1)).cast(
                    "double"
                )
                / F.count("*"),
                4,
            ).alias("contamination_rate"),
        )
    )


# ---- histogram quantile normalization ------------------------------------


@register(
    "quantile_normalize_histogram",
    oracle="""
    WITH sh AS (
      SELECT source, n_chars AS v, count(*) AS cnt
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ),
    shc AS (
      SELECT source, v, cnt,
             sum(cnt) OVER (PARTITION BY source ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum_sv,
             sum(cnt) OVER (PARTITION BY source) AS src_n
      FROM sh
    ),
    gh AS (
      SELECT v AS g, sum(cnt) AS gcnt FROM sh GROUP BY v
    ),
    ghc AS (
      SELECT g, sum(gcnt) OVER (ORDER BY g ROWS UNBOUNDED PRECEDING)
               AS cum_g,
             (SELECT sum(gcnt) FROM gh) AS n_total
      FROM gh
    ),
    mapping AS (
      SELECT s.source, s.v, min(c.g) AS norm_v
      FROM shc s JOIN ghc c
        ON c.cum_g * s.src_n >= s.cum_sv * c.n_total
      GROUP BY s.source, s.v
    )
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
           CAST(m.norm_v AS BIGINT) AS norm_chars
    FROM documents d JOIN mapping m
      ON d.source = m.source AND d.n_chars = m.v
    """,
)
def quantile_normalize_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources (the batch-effect
    correction of bioinformatics, applied to corpus curation): map
    every source's document-length distribution onto the GLOBAL length
    distribution, so a source whose crawler truncates at 2 KB stops
    looking "short" next to one that doesn't. The transform is defined
    entirely on value HISTOGRAMS — norm(v) = min global value g with
    cdf_global(g) >= cdf_source(v), compared by integer
    cross-multiplication (cum_g·src_n >= cum_sv·N), so it is exact
    (no float CDFs) and never ranks individual rows: the classic
    per-row formulation needs a global sort; this one needs only
    |domain|-sized tables.

    100 TB shape: two histogram aggregations (map-side combined, at
    most |domain| x |sources| rows), the mapping join is
    histogram x histogram with the global side broadcast (bounded by
    the value domain, independent of corpus size), and rows are
    touched exactly twice: once to count, once to apply via a
    broadcast mapping join.

    Input contract (r11 NULL-parity audit): a doc with no length can't
    be placed on a CDF — NULL n_chars rows are excluded from the
    histograms explicitly on both engines (the final equi-join already
    drops them from the output; unexcluded they'd still shift every
    cumulative count differently under the engines' opposite NULL
    sort defaults)."""
    d = table(spark, sf_dir, "documents")
    sh = (
        d.filter(F.col("n_chars").isNotNull())
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ws = Window.partitionBy("source")
    shc = sh.select(
        "source",
        "v",
        F.sum("cnt")
        .over(ws.orderBy("v").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_sv"),
        F.sum("cnt").over(ws).alias("src_n"),
    )
    gh = sh.groupBy(F.col("v").alias("g")).agg(F.sum("cnt").alias("gcnt"))
    ghc = gh.select(
        "g",
        F.sum("gcnt")
        .over(
            Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cum_g"),
    ).crossJoin(F.broadcast(gh.agg(F.sum("gcnt").alias("n_total"))))
    mapping = (
        shc.join(
            F.broadcast(ghc),
            F.col("cum_g") * F.col("src_n")
            >= F.col("cum_sv") * F.col("n_total"),
        )
        .groupBy("source", "v")
        .agg(F.min("g").alias("norm_v"))
    )
    m2 = mapping.select(
        F.col("source").alias("m_source"),
        F.col("v").alias("m_v"),
        "norm_v",
    )
    return d.join(
        F.broadcast(m2),
        (d["source"] == m2["m_source"]) & (d["n_chars"] == m2["m_v"]),
    ).select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("norm_v").cast("bigint").alias("norm_chars"),
    )
