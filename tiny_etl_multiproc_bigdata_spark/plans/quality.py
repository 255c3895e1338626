r"""Training-corpus quality layer, round 4: repetition filters
(Gopher-style), corpus unigram-LM scoring, per-domain quota sampling,
snapshot diffing, and tokenizer-fertility tracking.

These extend the curation stack (plans/curation.py) with the signals a
large-scale LLM-data pipeline computes per document before mixing:
repetition ratios catch degenerate/boilerplate text that length and
punctuation heuristics miss; the unigram negative-log-likelihood is the
cheapest LM-based quality proxy (the KenLM-perplexity stand-in that
needs no model artifact); domain quotas bound any single source's share
of the mix; snapshot diff is the ingest-side change audit between two
corpus versions.

Cross-engine determinism: every ratio is a SINGLE double division of
exact integers (bit-identical in Spark and DuckDB), and the log-based
score quantizes each token's -log2(p) to an integer of microbits
BEFORE the per-document sum, so aggregation order cannot perturb the
result (integer sums are associative; see plans/relational.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.hashing import (
    duck_md5_long,
    md5_long,
)
from tiny_etl_multiproc_bigdata_spark.functions.rounding import round_half_up
from tiny_etl_multiproc_bigdata_spark.functions.text import (
    DUCK_TOKS,
    tokenize_words_nonempty,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import register
from tiny_etl_multiproc_bigdata_spark.plans.text_queries import _BPE_RE


def _toks() -> F.Column:
    return tokenize_words_nonempty("text")


@register(
    "repetition_quality_flags",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKS} AS l FROM documents
    ), m AS (
      SELECT doc_id,
             len(l) AS n_tokens,
             list_max(list_transform(list_distinct(l),
                                     x -> len(list_filter(l, y -> y = x))))
               AS top_cnt,
             CASE WHEN len(l) >= 2
                  THEN len(l) - 1
                       - len(list_distinct(list_transform(range(1, len(l)),
                                                          i -> l[i] || ' ' || l[i+1])))
                  ELSE 0 END AS dup_bigrams,
             greatest(len(l) - 1, 1) AS n_bigrams
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(top_cnt AS DOUBLE) / n_tokens       AS top_token_frac,
           CAST(dup_bigrams AS DOUBLE) / n_bigrams  AS dup_bigram_frac,
           (CAST(top_cnt AS DOUBLE) / n_tokens <= 0.12
            AND CAST(dup_bigrams AS DOUBLE) / n_bigrams <= 0.55) AS keep
    FROM m
    """,
)
def repetition_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: fraction of tokens taken by the
    single most frequent token, and fraction of duplicated bigrams.
    Everything is a per-row array expression (zero shuffle, scales
    embarrassingly); the per-token frequency scan is O(distinct·n) per
    document — fine for natural documents, and a long-document corpus
    would swap it for the explode→count formulation. Ratios are single
    divisions of exact integers → bit-identical cross-engine.

    Reference parity: the reference's quality gates are row-level null
    drops (transformers.py:90-118); repetition ratios are the
    corpus-curation generalization.
    """
    d = table(spark, sf_dir, "documents").withColumn("l", _toks())
    n = F.size("l")
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct("l"),
            lambda x: F.size(F.filter(F.col("l"), lambda y: y == x)),
        )
    )
    # Spark array indexing in transform is 0-based (DuckDB's is 1-based)
    dup_bigrams = F.when(
        n >= 2,
        (n - 1)
        - F.size(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), n - 2),
                    lambda i: F.concat_ws(
                        " ", F.element_at("l", i + 1), F.element_at("l", i + 2)
                    ),
                )
            )
        ),
    ).otherwise(0)
    m = d.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        top_cnt.alias("top_cnt"),
        dup_bigrams.alias("dup_bigrams"),
        F.greatest(n - 1, F.lit(1)).alias("n_bigrams"),
    )
    top_frac = F.col("top_cnt").cast("double") / F.col("n_tokens")
    dup_frac = F.col("dup_bigrams").cast("double") / F.col("n_bigrams")
    return m.select(
        "doc_id",
        "n_tokens",
        top_frac.alias("top_token_frac"),
        dup_frac.alias("dup_bigram_frac"),
        ((top_frac <= 0.12) & (dup_frac <= 0.55)).alias("keep"),
    )


@register(
    "text_repetition_strip",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKS} AS l FROM documents
    ), t1 AS (
      SELECT doc_id, l, len(l) AS n FROM t WHERE len(l) >= 1
    ), g AS (
      SELECT doc_id, l, n,
             CASE WHEN n >= 3
                  THEN list_transform(range(1, n - 1),
                         i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
                  ELSE [] END AS grams
      FROM t1
    ), d AS (
      SELECT doc_id, l, n,
             [false, false] || list_transform(range(1, len(grams) + 1),
               i -> list_position(grams, grams[i]) < i) AS dpad
      FROM g
    ), r AS (
      SELECT doc_id, l, n,
             list_transform(range(1, n + 1),
               j -> coalesce(dpad[j], false)
                 OR coalesce(dpad[j+1], false)
                 OR coalesce(dpad[j+2], false)) AS rem
      FROM d
    ), k AS (
      SELECT doc_id, n,
             list_filter(list_transform(range(1, n + 1),
                           j -> CASE WHEN NOT rem[j] THEN l[j] END),
                         x -> x IS NOT NULL) AS kept,
             len(list_filter(rem, x -> x)) AS n_removed
      FROM r
    )
    SELECT doc_id,
           CAST(n AS BIGINT)         AS n_tokens,
           CAST(n_removed AS BIGINT) AS n_removed,
           (floor(CAST(n_removed AS DOUBLE) / n * 10000 + 0.5) / 10000)
             AS frac_removed,
           md5(array_to_string(kept, ' ')) AS kept_hash
    FROM k
    """,
)
def text_repetition_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition REMOVAL (the transform twin of
    repetition_quality_flags, which only scores): every duplicate
    trigram occurrence — a trigram whose first occurrence is at an
    earlier position — has its 3-token span removed, and the entry
    reports per-doc removal stats plus the md5 of the surviving token
    stream (so the oracle pins the exact cleaned text, not just the
    counts).

    100 TB shape: map-only — all array HOFs over the row's own tokens,
    zero shuffles, zero state. The in-row duplicate scan is
    O(n_grams²) via first-occurrence position lookup, fine for
    document-sized n; a page-length-unbounded corpus would swap the
    lookup for a per-row hash map inside one mapInPandas pass, same
    semantics. Both engines build identical [first-occurrence?] masks
    with 1-based positions, pad them, and OR the three covering spans
    per token — pure integer/string ops, hash-exact."""
    d = table(spark, sf_dir, "documents")
    base = d.select("doc_id", _toks().alias("l")).where(F.size("l") >= 1)
    n = F.size("l")
    grams = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
            lambda i: F.concat_ws(
                " ",
                F.try_element_at("l", i),
                F.try_element_at("l", i + 1),
                F.try_element_at("l", i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = base.select("doc_id", "l", n.alias("n"), grams.alias("grams"))
    dup = F.when(
        F.size("grams") >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("grams"), F.lit(1))),
            lambda i: F.array_position(
                F.col("grams"), F.try_element_at("grams", i)
            )
            < i,
        ),
    ).otherwise(F.array().cast("array<boolean>"))
    dd = g.select(
        "doc_id",
        "l",
        "n",
        F.concat(F.array(F.lit(False), F.lit(False)), dup).alias("dpad"),
    )
    rem = F.transform(
        F.sequence(F.lit(1), F.col("n")),
        lambda j: F.coalesce(F.try_element_at("dpad", j), F.lit(False))
        | F.coalesce(F.try_element_at("dpad", j + 1), F.lit(False))
        | F.coalesce(F.try_element_at("dpad", j + 2), F.lit(False)),
    )
    r = dd.select("doc_id", "l", "n", rem.alias("rem"))
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.col("n")),
            lambda j: F.when(
                ~F.coalesce(F.try_element_at("rem", j), F.lit(False)),
                F.try_element_at("l", j),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    n_removed = F.size(F.filter("rem", lambda x: x))
    return r.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        n_removed.cast("bigint").alias("n_removed"),
        round_half_up(
            n_removed.cast("double") / F.col("n").cast("double"), 4
        ).alias("frac_removed"),
        F.md5(F.array_join(kept, " ")).alias("kept_hash"),
    )


# corpus unigram-LM CTE chain through lp(tok, nll_microbits) — ONE
# source of truth for unigram_logprob_score and ccnet_perplexity_buckets
# (r07 review: the chain was duplicated in both entries' plans AND
# oracles; a fix applied to one copy would silently desynchronize them)
_DUCK_LM_CTES = rf"""
    WITH toks AS (
      SELECT doc_id, unnest({DUCK_TOKS}) AS tok FROM documents
    ), cnts AS (
      SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ), tot AS (
      SELECT sum(c) AS n FROM cnts
    ), lp AS (
      SELECT tok,
             CAST(floor(-log2(CAST(c AS DOUBLE) / n) * 1000000 + 0.5) AS BIGINT)
               AS nll_microbits
      FROM cnts, tot
    )"""


def _unigram_lm_scored(d: DataFrame) -> DataFrame:
    """(doc_id, tok, nll_microbits) stream: corpus token counts →
    vocab-sized NLL table (micro-quantized BEFORE any per-doc sum) →
    broadcast back onto the token stream. The engine twin of
    _DUCK_LM_CTES."""
    toks = d.select("doc_id", F.explode(_toks()).alias("tok"))
    cnts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    tot = cnts.agg(F.sum("c").alias("n"))
    lp = cnts.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(
            -F.log2(F.col("c").cast("double") / F.col("n")) * 1_000_000 + 0.5
        )
        .cast("bigint")
        .alias("nll_microbits"),
    )
    return toks.join(F.broadcast(lp), "tok")


@register(
    "unigram_logprob_score",
    ulp_sensitive=True,
    oracle=_DUCK_LM_CTES
    + rf"""
    SELECT t.doc_id,
           count(*) AS n_tokens,
           (floor(CAST(sum(lp.nll_microbits) AS DOUBLE) / count(*)
                  / 1000000 * 10000 + 0.5) / 10000) AS avg_nll_bits
    FROM toks t JOIN lp ON t.tok = lp.tok
    GROUP BY t.doc_id
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus unigram language-model scoring: build the token
    distribution over the whole corpus, then score each document by its
    mean negative log2-likelihood — the cheapest perplexity proxy for
    quality bucketing (no model artifact needed; a KenLM UDF slots into
    the same plan shape). Two aggregations: token counts (map-side
    combined, vocabulary-sized result → broadcast back), then the
    per-document mean. Each token's -log2(p) is quantized to integer
    microbits BEFORE summing, so the double sum's accumulation order
    can't flip the rounded output.

    Known cross-engine tolerance: the quantization input -log2(c/n) is
    computed by the JVM on the Spark side and by libm on the DuckDB
    side, which may differ by 1 ULP. A value landing exactly on a
    x.5-microbit boundary could then round to adjacent microbits and,
    in the worst case, shift the 4-dp document mean by 1e-4. No fixture
    vintage has tripped this (token counts keep -log2(c/n) well clear
    of boundaries); if one ever does, compare this entry with a
    1-microbit (1e-6 bits/token) tolerance rather than chasing libm —
    the quantization exists to bound exactly this class of drift."""
    d = table(spark, sf_dir, "documents")
    return (
        _unigram_lm_scored(d)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            round_half_up(
                F.sum("nll_microbits").cast("double") / F.count("*") / 1_000_000,
                4,
            ).alias("avg_nll_bits"),
        )
    )


@register(
    "domain_quota_sample",
    oracle="""
    SELECT source, doc_id, rn
    FROM (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                         doc_id ASC) AS rn
      FROM documents
    )
    WHERE rn <= 10
    """,
)
def domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling: cap every source's contribution at N
    documents, chosen deterministically by content-independent hash
    order (md5 of the key — partitioning- and engine-independent, the
    dataset_holdout_split trick). The window partitions by source, so
    state per task is one counter per domain — no global sort. Skewed
    domains (one source owning half the corpus) cost one task's scan of
    that domain, and at 100 TB the rn > N rows short-circuit at the
    window operator instead of materializing."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
    )


@register(
    "snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 11 <> 3
    ), v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 13 <> 5
    )
    SELECT CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                WHEN v2.o_orderkey IS NULL THEN 'removed'
                WHEN v1.o_totalprice <> v2.o_totalprice THEN 'changed'
                ELSE 'unchanged' END AS status,
           count(*) AS n
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    GROUP BY 1
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus/table versions: full outer join
    on the key, classify added/removed/changed/unchanged, count. The
    two versions here derive deterministically from the orders fixture
    (keys dropped from each side simulate adds/removes; a price bump
    simulates updates). One shuffle on the join key; at 100 TB both
    snapshots would be bucketed by key, making the diff co-located —
    and a content-hash column comparison replaces the per-column
    equality when schemas are wide."""
    o = table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 11 != 3).select(
        F.col("o_orderkey").alias("k1"), F.col("o_totalprice").alias("p1")
    )
    v2 = o.filter(F.col("o_orderkey") % 13 != 5).select(
        F.col("o_orderkey").alias("k2"),
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")).alias("p2"),
    )
    status = (
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("p1") != F.col("p2"), "changed")
        .otherwise("unchanged")
    )
    return (
        v1.join(v2, v1.k1 == v2.k2, "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n"))
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle=rf"""
    WITH m AS (
      SELECT lang,
             CAST(len({DUCK_TOKS}) AS BIGINT)                     AS ws,
             CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS bpe,
             CAST(len(replace(text, ' ', '')) AS BIGINT)           AS chars
      FROM documents
    )
    SELECT lang,
           count(*)  AS n_docs,
           CAST(sum(ws) AS BIGINT)  AS ws_tokens,
           CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
           (floor(CAST(sum(bpe) AS DOUBLE) / sum(ws) * 10000 + 0.5) / 10000)
             AS fertility,
           (floor(CAST(sum(chars) AS DOUBLE) / sum(ws) * 10000 + 0.5) / 10000)
             AS chars_per_token
    FROM m GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility tracking: BPE-ish tokens per whitespace word
    and characters per word, aggregated per language — the standard
    health metric when one tokenizer serves a multilingual corpus
    (fertility spikes flag languages the vocabulary underserves).
    Per-row regex counts (JVM expressions), integer sums (exact,
    associative), one tiny shuffle on lang."""
    d = table(spark, sf_dir, "documents")
    m = d.select(
        "lang",
        F.size(_toks()).cast("bigint").alias("ws"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0))
        .cast("bigint")
        .alias("bpe"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
            "bigint"
        ).alias("chars"),
    )
    return m.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws").alias("ws_tokens"),
        F.sum("bpe").alias("bpe_tokens"),
        round_half_up(
            F.sum("bpe").cast("double") / F.sum("ws"), 4
        ).alias("fertility"),
        round_half_up(
            F.sum("chars").cast("double") / F.sum("ws"), 4
        ).alias("chars_per_token"),
    )


@register(
    "token_entropy_score",
    ulp_sensitive=True,
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest({DUCK_TOKS}) AS tok FROM documents
    ), cnts AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ), tot AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_types
      FROM cnts GROUP BY doc_id
    ), terms AS (
      SELECT c.doc_id, t.n, t.n_types,
             CAST(floor(-(CAST(c.c AS DOUBLE) / t.n)
                        * log2(CAST(c.c AS DOUBLE) / t.n)
                        * 1000000 + 0.5) AS BIGINT) AS h_microbits
      FROM cnts c JOIN tot t ON c.doc_id = t.doc_id
    )
    SELECT doc_id,
           any_value(n)       AS n_tokens,
           any_value(n_types) AS n_types,
           (floor(CAST(sum(h_microbits) AS DOUBLE) / 1000000 * 10000 + 0.5)
            / 10000) AS entropy_bits
    FROM terms
    GROUP BY doc_id
    """,
)
def token_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-type Shannon entropy: H = -Σ (c/n)·log2(c/n)
    over the document's own token distribution — the information-density
    quality signal (near-zero entropy = degenerate repetition that
    length filters miss; it complements repetition_quality_flags with a
    single scalar). Each term is quantized to integer microbits BEFORE
    the per-document sum (the unigram_logprob_score recipe — integer
    sums are associative, so aggregation order cannot flip the 4-dp
    output; same documented 1-ULP cross-engine tolerance on the log).
    Scale shape: two hash aggregations ((doc,tok) then doc) and one
    doc-keyed join — every exchange is keyed by doc_id or its superset,
    nothing corpus-global."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_toks()).alias("tok"))
    # materialize once: cnts feeds both the per-doc totals and the term
    # join — without a barrier the tokenize→explode→group lineage
    # re-executes per consumer (the minhash/prefix-filter lesson)
    cnts = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = cnts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"), F.count("*").alias("n_types")
    )
    p = F.col("c").cast("double") / F.col("n")
    terms = cnts.join(tot, "doc_id").select(
        "doc_id",
        "n",
        "n_types",
        F.floor(-p * F.log2(p) * 1_000_000 + F.lit(0.5))
        .cast("bigint")
        .alias("h_microbits"),
    )
    return terms.groupBy("doc_id").agg(
        F.any_value(F.col("n")).alias("n_tokens"),
        F.any_value(F.col("n_types")).alias("n_types"),
        round_half_up(
            F.sum("h_microbits").cast("double") / 1_000_000, 4
        ).alias("entropy_bits"),
    )


@register(
    "bigram_logprob_score",
    ulp_sensitive=True,
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {DUCK_TOKS} AS l FROM documents
    ), pairs AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(l)),
                                   i -> l[i] || ' ' || l[i+1])) AS bg
      FROM toks WHERE len(l) >= 2
    ), c2 AS (
      SELECT bg, count(*) AS c2 FROM pairs GROUP BY bg
    ), c1 AS (
      SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
      FROM c2 GROUP BY 1
    ), lp AS (
      SELECT bg,
             CAST(floor(-log2(CAST(c2.c2 AS DOUBLE) / c1.c1)
                        * 1000000 + 0.5) AS BIGINT) AS nll_microbits
      FROM c2 JOIN c1 ON split_part(c2.bg, ' ', 1) = c1.w1
    )
    SELECT p.doc_id,
           count(*) AS n_bigrams,
           (floor(CAST(sum(lp.nll_microbits) AS DOUBLE) / count(*)
                  / 1000000 * 10000 + 0.5) / 10000) AS avg_nll_bits
    FROM pairs p JOIN lp ON p.bg = lp.bg
    GROUP BY p.doc_id
    """,
)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram conditional-LM scoring: P(w2|w1) estimated as
    c(w1 w2) / Σ_w c(w1 w), each document scored by its mean
    -log2 P — one LM order above unigram_logprob_score, and the same
    quantize-to-microbits-then-integer-sum determinism recipe (with
    the same documented 1-ULP log tolerance). Docs under 2 tokens have
    no bigrams and drop out in both engines.

    Scale contrast with the unigram entry (deliberate): unigram vocab
    is small → the score table broadcasts (plan-pinned there). Bigram
    vocabulary grows with the corpus, so the score lookup here is a
    plain equi-join on the bigram key — shuffle-partitioned, AQE free
    to pick broadcast when the vocab happens to fit. Pairs are built
    with the shifted-slice word_ngrams (no per-element HOF re-eval)."""
    from tiny_etl_multiproc_bigdata_spark.functions.text import word_ngrams

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _toks().alias("l")).filter(F.size("l") >= 2)
    # materialize once: pairs feeds both the count chain (c2→c1→lp) and
    # the final scoring join — without a barrier the tokenize→ngram→
    # explode lineage re-executes per consumer (one redundant corpus
    # pass; the plan showed two document scans before this barrier)
    pairs = toks.select(
        "doc_id", F.explode(word_ngrams(F.col("l"), 2)).alias("bg")
    ).localCheckpoint(eager=True)
    c2 = pairs.groupBy("bg").agg(F.count("*").alias("c2"))
    c1 = (
        c2.groupBy(F.split(F.col("bg"), " ").getItem(0).alias("w1"))
        .agg(F.sum("c2").cast("bigint").alias("c1"))
    )
    lp = c2.join(
        c1, F.split(c2.bg, " ").getItem(0) == c1.w1
    ).select(
        "bg",
        F.floor(
            -F.log2(F.col("c2").cast("double") / F.col("c1")) * 1_000_000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("nll_microbits"),
    )
    return (
        pairs.join(lp, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            round_half_up(
                F.sum("nll_microbits").cast("double")
                / F.count("*")
                / 1_000_000,
                4,
            ).alias("avg_nll_bits"),
        )
    )


# tertile fractions as shared DECIMAL LITERALS: both engines parse the
# same 16-digit string to the same double (the rfm_segmentation
# convention — never compute 1/3 separately per engine)
_CCNET_QS = ("0.3333333333333333", "0.6666666666666666")


@register(
    "ccnet_perplexity_buckets",
    ulp_sensitive=True,
    oracle=_DUCK_LM_CTES
    + rf""", scored AS (
      SELECT t.doc_id,
             CAST(sum(lp.nll_microbits) // count(*) AS BIGINT)
               AS ppl_microbits
      FROM toks t JOIN lp ON t.tok = lp.tok
      GROUP BY t.doc_id
    ), thr AS (
      SELECT list_transform(
               quantile_cont(ppl_microbits, [{", ".join(_CCNET_QS)}]),
               x -> floor(x * 10000 + 0.5) / 10000) AS q
      FROM scored
    ), bucketed AS (
      SELECT d.doc_id, d.lang,
             CASE WHEN s.ppl_microbits <= q[1] THEN 'head'
                  WHEN s.ppl_microbits <= q[2] THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM scored s
      JOIN documents d ON d.doc_id = s.doc_id, thr
    )
    SELECT lang, bucket,
           count(*) AS n_docs
    FROM bucketed GROUP BY lang, bucket
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity partitioning: score every document with
    the corpus unigram LM (integer microbits per token, the
    unigram_logprob_score machinery), then split the corpus into
    head / middle / tail at the score tertiles — the classic
    quality-stratification that lets a pretraining mix oversample the
    head and drop or downweight the tail, reported per language.

    The per-doc score is an INTEGER (microbit sum floor-divided by
    token count — positive operands, so truncating and flooring
    division agree across engines), and the tertile thresholds come
    from the two-pass percentile-broadcast recipe (rfm_segmentation) —
    no global sort of the scored corpus at any scale.

    100 TB shape: vocab-sized count agg broadcast back for scoring
    (the LM), one per-doc agg, a 2-value threshold broadcast, and a
    tiny (lang × 3) final agg — every stage map-side combined."""
    d = table(spark, sf_dir, "documents")
    scored = (
        _unigram_lm_scored(d)
        .groupBy("doc_id")
        .agg(
            # positive operands, so floor of the double ratio equals the
            # oracle's integer floor-division (both < 2^53, ratio exact
            # enough that floor can't straddle an integer boundary)
            F.floor(
                F.sum("nll_microbits").cast("double") / F.count("*")
            )
            .cast("bigint")
            .alias("ppl_microbits")
        )
        # doc-count-sized (doc_id, int) frame with two consumers (the
        # threshold agg AND the bucketing join) — without the pin the
        # whole LM chain re-executes per consumer (r07 plan audit)
        .localCheckpoint(eager=True)
    )
    thr = scored.agg(
        F.expr(
            f"transform(percentile(ppl_microbits,"
            f" array({', '.join(_CCNET_QS)})),"
            " x -> floor(x * 10000 + 0.5) / 10000)"
        ).alias("q")
    )
    bucket = (
        F.when(F.col("ppl_microbits") <= F.element_at("q", 1), "head")
        .when(F.col("ppl_microbits") <= F.element_at("q", 2), "middle")
        .otherwise("tail")
    )
    return (
        scored.join(d.select("doc_id", "lang"), "doc_id")
        .crossJoin(F.broadcast(thr))
        .select("lang", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


# ---- hashed linear quality classifier ------------------------------------

_HLC_B = 256  # hashed feature space (hashing trick, md5 mod B)
_DSIR_TARGET = "src0"  # in-domain proxy: one source as the target corpus


def _hlc_weights(d: DataFrame) -> DataFrame:
    """(doc_id, source, w): one row per token of each document, ``w``
    the fixed md5-derived weight in [-50, 50] of the token's md5
    bucket (mod _HLC_B) — the shared front of the hashed linear
    classifier and its evaluations."""
    toks = d.select("doc_id", "source", F.explode(_toks()).alias("tok"))
    bucket = md5_long(F.col("tok")) % _HLC_B
    w = md5_long(F.concat(F.lit("w|"), bucket.cast("string"))) % 101 - 50
    return toks.select("doc_id", "source", w.alias("w"))


def _labelled_logits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(logit, pos) per document: the classifier's summed weights
    against the source-target label."""
    return (
        _hlc_weights(table(spark, sf_dir, "documents"))
        .groupBy("doc_id", "source")
        .agg(F.sum("w").cast("bigint").alias("logit"))
        .select("logit", (F.col("source") == _DSIR_TARGET).alias("pos"))
    )


# DuckDB twins: the per-token weight, the (doc_id, w) ``feat`` CTE and,
# through ``scored``, _labelled_logits with its score column named ``col``
_DUCK_HLC_W = (
    "("
    + duck_md5_long(
        "'w|' || CAST(" + duck_md5_long("tok") + f" % {_HLC_B} AS VARCHAR)"
    )
    + ") % 101 - 50"
)
_DUCK_HLC_FEAT = f"""toks AS (
      SELECT doc_id, unnest({DUCK_TOKS}) AS tok FROM documents
    ), feat AS (
      SELECT doc_id,
             {_DUCK_HLC_W} AS w
      FROM toks
    )"""


def _duck_labelled_logits(col: str) -> str:
    return f"""{_DUCK_HLC_FEAT}, scored AS (
      SELECT f.doc_id, CAST(sum(f.w) AS BIGINT) AS {col},
             d.source = '{_DSIR_TARGET}' AS pos
      FROM feat f JOIN documents d ON f.doc_id = d.doc_id
      GROUP BY f.doc_id, d.source
    )"""


@register(
    "hashed_linear_classifier",
    oracle=rf"""
    WITH {_DUCK_HLC_FEAT}
    SELECT doc_id,
           CAST(sum(w) AS BIGINT) AS logit,
           CAST(count(*) AS BIGINT) AS n_tokens,
           sum(w) > 0 AS keep
    FROM feat GROUP BY doc_id
    """,
)
def hashed_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-shaped linear document classifier over HASHED bag-of-
    words features (Joulin et al. 2016 / Weinberger's hashing trick):
    token → md5 bucket (mod {B}), bucket → a fixed md5-derived integer
    weight in [-50, 50], document logit = Σ token weights, keep = logit
    > 0. The md5-derived weights stand in for a trained coefficient
    vector — the PLAN is the deliverable: scoring is a pure per-row
    expression chain (no vocabulary dictionary, no weight-table join —
    the weight is COMPUTED from the bucket id), so inference is
    map-only up to the single per-doc sum.

    100 TB shape: one corpus scan, one partially-aggregated groupBy
    doc_id; memory is O(1) per token regardless of vocabulary growth —
    the same property that makes the hashing trick the standard for
    web-scale quality classifiers. Integer weights ⇒ bit-exact."""
    return (
        _hlc_weights(table(spark, sf_dir, "documents"))
        .groupBy("doc_id")
        .agg(
            F.sum("w").cast("bigint").alias("logit"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        )
        .select(
            "doc_id", "logit", "n_tokens", (F.col("logit") > 0).alias("keep")
        )
    )


# ---- DSIR importance weighting -------------------------------------------

_DSIR_B = 256  # hashed n-gram feature buckets


@register(
    "dsir_importance_weights",
    ulp_sensitive=True,
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, source,
             ({duck_md5_long("tok")}) % {_DSIR_B} AS b
      FROM (SELECT doc_id, source, unnest({DUCK_TOKS}) AS tok
            FROM documents)
    ), cnts AS (
      SELECT b,
             count(*) AS raw_c,
             count(*) FILTER (source = '{_DSIR_TARGET}') AS tgt_c
      FROM toks GROUP BY b
    ), tots AS (
      SELECT sum(raw_c) AS raw_n, sum(tgt_c) AS tgt_n FROM cnts
    ), wt AS (
      SELECT b,
             CAST(floor(log2(
                 (CAST(tgt_c + 1 AS DOUBLE) / (tgt_n + {_DSIR_B}))
               / (CAST(raw_c + 1 AS DOUBLE) / (raw_n + {_DSIR_B}))
             ) * 1000000 + 0.5) AS BIGINT) AS w
      FROM cnts, tots
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(wt.w) AS BIGINT) AS dsir_microbits,
           sum(wt.w) > 0 AS target_like
    FROM toks t JOIN wt ON t.b = wt.b
    GROUP BY t.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): estimate target and
    raw unigram distributions over a HASHED feature space ({B} md5
    buckets, Laplace-smoothed), then weight each document by its total
    log-likelihood ratio Σ_tokens log2(p̂_target(b)/p̂_raw(b)) — docs
    resembling the target domain (here: source '{TGT}' as the
    in-domain proxy) score positive. Per-bucket log-ratios are
    quantized to integer microbits BEFORE the per-doc sum, so
    aggregation order cannot flip results (ulp_sensitive: the log2
    input itself carries the standard 1-ULP JVM-vs-libm tolerance).

    100 TB shape: ONE corpus pass builds BOTH distributions (a single
    groupBy with a filtered count — the target is a subset of raw, so
    no second scan), the weight table is a fixed {B}-row broadcast, and
    scoring is one more pass + a partially-aggregated per-doc sum. The
    feature space never grows with the vocabulary — that is the point
    of DSIR's hashed n-grams at web scale."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.explode(_toks()).alias("tok")
    ).select("doc_id", "source", (md5_long(F.col("tok")) % _DSIR_B).alias("b"))
    cnts = toks.groupBy("b").agg(
        F.count(F.lit(1)).alias("raw_c"),
        F.count_if(F.col("source") == _DSIR_TARGET).alias("tgt_c"),
    )
    tots = cnts.agg(
        F.sum("raw_c").alias("raw_n"), F.sum("tgt_c").alias("tgt_n")
    )
    wt = cnts.crossJoin(F.broadcast(tots)).select(
        "b",
        F.floor(
            F.log2(
                ((F.col("tgt_c") + 1).cast("double") / (F.col("tgt_n") + _DSIR_B))
                / ((F.col("raw_c") + 1).cast("double") / (F.col("raw_n") + _DSIR_B))
            )
            * 1_000_000
            + 0.5
        )
        .cast("bigint")
        .alias("w"),
    )
    return (
        toks.join(F.broadcast(wt), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("w").cast("bigint").alias("dsir_microbits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "dsir_microbits",
            (F.col("dsir_microbits") > 0).alias("target_like"),
        )
    )


# ---- stupid-backoff bigram LM scoring ------------------------------------


@register(
    "stupid_backoff_score",
    ulp_sensitive=True,
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {DUCK_TOKS} AS l FROM documents
    ), train_uni AS (
      SELECT tok, count(*) AS cu
      FROM (SELECT unnest(l) AS tok FROM toks WHERE doc_id % 2 = 0)
      GROUP BY tok
    ), uni_tot AS (
      SELECT sum(cu) AS n, count(*) AS v FROM train_uni
    ), train_bg AS (
      SELECT bg, count(*) AS c2
      FROM (SELECT unnest(list_transform(range(1, len(l)),
                                         i -> l[i] || ' ' || l[i+1])) AS bg
            FROM toks WHERE doc_id % 2 = 0 AND len(l) >= 2)
      GROUP BY bg
    ), train_w1 AS (
      SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
      FROM train_bg GROUP BY 1
    ), pairs AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(l)),
                                   i -> l[i] || ' ' || l[i+1])) AS bg
      FROM toks WHERE len(l) >= 2
    ), scored AS (
      SELECT p.doc_id,
             b.c2 IS NULL AS backoff,
             CAST(floor(-log2(
               CASE WHEN b.c2 IS NOT NULL
                    THEN CAST(b.c2 AS DOUBLE) / w.c1
                    ELSE 0.4 * (COALESCE(u.cu, 0) + 1)
                         / CAST(t.n + t.v AS DOUBLE)
               END) * 1000000 + 0.5) AS BIGINT) AS nll_microbits
      FROM pairs p
      LEFT JOIN train_bg b ON p.bg = b.bg
      LEFT JOIN train_w1 w ON split_part(p.bg, ' ', 1) = w.w1
      LEFT JOIN train_uni u ON split_part(p.bg, ' ', 2) = u.tok
      CROSS JOIN uni_tot t
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(count(*) FILTER (backoff) AS BIGINT) AS n_backoff,
           (floor(CAST(sum(nll_microbits) AS DOUBLE) / count(*)
                  / 1000000 * 10000 + 0.5) / 10000) AS avg_nll_bits
    FROM scored GROUP BY doc_id
    """,
)
def stupid_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram LM scoring (Brants et al. 2007, "Large
    Language Models in Machine Translation"): the LM trains on HALF
    the corpus (even doc_ids) and scores ALL documents, so unseen
    bigrams genuinely hit the backoff path — score = c(w1w2)/c(w1)
    when the bigram was seen in training, else 0.4 · P̂_uni(w2) with a
    Laplace-smoothed trained unigram (the non-normalized backoff that
    made web-scale LMs practical: no discounting pass, every quantity
    a ratio of counts). Per-pair -log2 scores quantize to integer
    microbits before the per-doc mean (ulp_sensitive log, as with the
    other LM entries); n_backoff per doc is an exact integer audit of
    how often the model fell through.

    100 TB shape: bigram lookups are a shuffle equi-join on the bigram
    key (vocabulary grows with the corpus — the bigram_logprob_score
    contrast, deliberately); the unigram table and its 1-row totals
    broadcast. Train/score separation costs nothing extra: the
    training counts are filtered aggregates of the same single
    tokenized pass, localCheckpointed once for the fan-out."""
    from tiny_etl_multiproc_bigdata_spark.functions.text import word_ngrams

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _toks().alias("l")).localCheckpoint(eager=True)
    train_toks = toks.filter(F.col("doc_id") % 2 == 0)
    uni = (
        train_toks.select(F.explode("l").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cu"))
        .localCheckpoint(eager=True)
    )
    uni_tot = uni.agg(
        F.sum("cu").alias("n"), F.count(F.lit(1)).alias("v")
    )
    bg_train = (
        train_toks.filter(F.size("l") >= 2)
        .select(F.explode(word_ngrams(F.col("l"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c2"))
        .localCheckpoint(eager=True)
    )
    w1_train = bg_train.groupBy(
        F.split(F.col("bg"), " ").getItem(0).alias("w1")
    ).agg(F.sum("c2").cast("bigint").alias("c1"))
    pairs = (
        toks.filter(F.size("l") >= 2)
        .select("doc_id", F.explode(word_ngrams(F.col("l"), 2)).alias("bg"))
    )
    score = F.when(
        F.col("c2").isNotNull(),
        F.col("c2").cast("double") / F.col("c1"),
    ).otherwise(
        0.4 * (F.coalesce(F.col("cu"), F.lit(0)) + 1)
        / (F.col("n") + F.col("v")).cast("double")
    )
    scored = (
        pairs.join(bg_train, "bg", "left")
        .join(
            w1_train,
            F.split(F.col("bg"), " ").getItem(0) == F.col("w1"),
            "left",
        )
        .join(
            F.broadcast(uni),
            F.split(F.col("bg"), " ").getItem(1) == F.col("tok"),
            "left",
        )
        .crossJoin(F.broadcast(uni_tot))
        .select(
            "doc_id",
            F.col("c2").isNull().alias("backoff"),
            F.floor(-F.log2(score) * 1_000_000 + F.lit(0.5))
            .cast("bigint")
            .alias("nll_microbits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.count_if(F.col("backoff")).cast("bigint").alias("n_backoff"),
        round_half_up(
            F.sum("nll_microbits").cast("double") / F.count(F.lit(1)) / 1_000_000,
            4,
        ).alias("avg_nll_bits"),
    )


# ---- ROC AUC of the hashed classifier ------------------------------------


@register(
    "roc_auc_eval",
    oracle=rf"""
    WITH {_duck_labelled_logits("score")}, per_score AS (
      SELECT score,
             count(*) AS n_s,
             count(*) FILTER (pos) AS n_pos_s
      FROM scored GROUP BY score
    ), ranked AS (
      SELECT score, n_s, n_pos_s,
             COALESCE(sum(n_s) OVER (ORDER BY score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below
      FROM per_score
    ), tots AS (
      SELECT sum(n_pos_s) AS np, sum(n_s - n_pos_s) AS nn FROM per_score
    ), u AS (
      -- 2x-scaled midranks keep everything integer: midrank2 =
      -- 2*below + n_s + 1; sum over positives of midrank2
      SELECT CAST(sum(n_pos_s * (2 * below + n_s + 1)) AS BIGINT) AS r2
      FROM ranked
    )
    SELECT CAST(t.np AS BIGINT) AS n_pos, CAST(t.nn AS BIGINT) AS n_neg,
           (floor((CAST(u.r2 - t.np * (t.np + 1) AS DOUBLE)
                   / (2 * t.np * t.nn)) * 10000 + 0.5) / 10000) AS auc
    FROM u, tots t
    """,
)
def roc_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the hashed linear classifier against the
    source-'{TGT}' label, in the Mann-Whitney rank form with proper
    midrank tie handling — the standard binary-classifier quality
    number, computed WITHOUT materializing the ROC curve or sorting
    individual rows: scores aggregate to |distinct scores| groups, one
    ordered prefix-sum window runs over that tiny table, and midranks
    stay integer by working at 2× scale (midrank2 = 2·below + n + 1),
    so AUC is one exact integer ratio. Completes the model-eval tier:
    accuracy (markov eval), calibration (reliability bins), ranking
    (NDCG), retrieval (recall@k) — and now threshold-free
    discrimination.

    100 TB shape: the only corpus-scale work is the per-doc score
    (one groupBy) and the per-score histogram (second partial agg);
    the rank arithmetic never touches row-level data. AUC ≈ 0.5 here
    — md5 weights don't know the label, and the eval SHOWING that is
    the point (the protocol is the deliverable)."""
    scored = _labelled_logits(spark, sf_dir).select(
        F.col("logit").alias("score"), "pos"
    )
    per_score = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("n_s"),
        F.count_if(F.col("pos")).alias("n_pos_s"),
    )
    wo = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_score.withColumn(
        "below", F.coalesce(F.sum("n_s").over(wo), F.lit(0))
    )
    agg = ranked.agg(
        F.sum(
            F.col("n_pos_s") * (2 * F.col("below") + F.col("n_s") + 1)
        )
        .cast("bigint")
        .alias("r2"),
        F.sum("n_pos_s").alias("np"),
        F.sum(F.col("n_s") - F.col("n_pos_s")).alias("nn"),
    )
    return agg.select(
        F.col("np").cast("bigint").alias("n_pos"),
        F.col("nn").cast("bigint").alias("n_neg"),
        round_half_up(
            (F.col("r2") - F.col("np") * (F.col("np") + 1)).cast("double")
            / (2 * F.col("np") * F.col("nn")),
            4,
        ).alias("auc"),
    )


# ---- thresholded confusion matrix ----------------------------------------


@register(
    "confusion_matrix_threshold",
    oracle=rf"""
    WITH {_duck_labelled_logits("score")}, cells AS (
      SELECT CAST(count(*) FILTER (pos AND score > 0) AS BIGINT) AS tp,
             CAST(count(*) FILTER (NOT pos AND score > 0) AS BIGINT) AS fp,
             CAST(count(*) FILTER (pos AND score <= 0) AS BIGINT) AS fn,
             CAST(count(*) FILTER (NOT pos AND score <= 0) AS BIGINT) AS tn
      FROM scored
    )
    SELECT tp, fp, fn, tn,
           (floor(CAST(tp AS DOUBLE) / nullif(tp + fp, 0) * 10000 + 0.5)
            / 10000) AS precision_at_0,
           (floor(CAST(tp AS DOUBLE) / nullif(tp + fn, 0) * 10000 + 0.5)
            / 10000) AS recall_at_0,
           (floor(CAST(2 * tp AS DOUBLE) / nullif(2 * tp + fp + fn, 0)
                  * 10000 + 0.5) / 10000) AS f1_at_0,
           (floor(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn)
                  * 10000 + 0.5) / 10000) AS accuracy
    FROM cells
    """,
)
def confusion_matrix_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded classifier readout for the hashed linear model of
    roc_auc_eval: decision rule score > 0, labels from the
    source-target proxy — tp/fp/fn/tn cell counts plus
    precision/recall/F1/accuracy at that operating point. Completes
    the eval pair: AUC measures threshold-free ranking, this entry
    measures the deployed cutoff. Every ratio is ONE exact-integer
    division (F1 uses the 2tp/(2tp+fp+fn) identity, so no composition
    of rounded ratios), hence bit-exact cross-engine; degenerate
    empty-denominator cells surface as NULL via nullif on both
    engines rather than a crash.

    100 TB shape: the per-doc score is the same one-shuffle groupBy as
    roc_auc_eval; the confusion matrix is a single partial+final
    aggregate producing four numbers — nothing row-scale ever reaches
    the driver."""
    scored = _labelled_logits(spark, sf_dir).select(
        F.col("logit").alias("score"), "pos"
    )
    cells = scored.agg(
        F.count_if(F.col("pos") & (F.col("score") > 0))
        .cast("bigint")
        .alias("tp"),
        F.count_if(~F.col("pos") & (F.col("score") > 0))
        .cast("bigint")
        .alias("fp"),
        F.count_if(F.col("pos") & (F.col("score") <= 0))
        .cast("bigint")
        .alias("fn"),
        F.count_if(~F.col("pos") & (F.col("score") <= 0))
        .cast("bigint")
        .alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return cells.select(
        "tp",
        "fp",
        "fn",
        "tn",
        round_half_up(
            tp.cast("double") / F.nullif(tp + fp, F.lit(0)), 4
        ).alias("precision_at_0"),
        round_half_up(
            tp.cast("double") / F.nullif(tp + fn, F.lit(0)), 4
        ).alias("recall_at_0"),
        round_half_up(
            (2 * tp).cast("double") / F.nullif(2 * tp + fp + fn, F.lit(0)),
            4,
        ).alias("f1_at_0"),
        # nullif: an empty corpus yields NULL accuracy like the
        # oracle's x/0 (DuckDB → NULL), not an ANSI crash (r11
        # empty-input audit)
        round_half_up(
            (tp + tn).cast("double")
            / F.nullif(tp + fp + fn + tn, F.lit(0)),
            4,
        ).alias("accuracy"),
    )


# ---- compression-ratio quality signal --------------------------------------


@register("doc_compression_ratio", oracle=None)  # rows-only: zlib has no SQL twin
def doc_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio — the model-free redundancy
    signal CCNet/Gopher-class pipelines cut on (highly compressible =
    repetitive/templated text; ratio near 1 = high-entropy noise;
    natural prose sits between). Complements the exact-arithmetic
    repetition flags (repetition_quality_flags counts token repeats;
    the compressor prices ALL redundancy at once, including structures
    no n-gram feature anticipates). No SQL oracle exists for zlib, so
    this is a rows-only entry; invariants (bounds, monotonicity under
    repetition, determinism) are pinned in
    tests/test_functions.py::test_compression_ratio_invariants.

    100 TB shape: mapInPandas with Arrow batches — one corpus scan,
    zero shuffle; the compressor runs where the text already lives
    (the multimodal_decode_stub plumbing pattern, with a real payload).
    Fixed level=6 keeps output independent of zlib's default drift."""
    import pandas as pd

    # input contract (r11 NULL-parity audit): a NULL text has no
    # compression ratio — zlib would TypeError on NaN in the worker
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )

    def ratios(batches):
        # local closure, not a module-level fn: module-level functions
        # pickle BY REFERENCE (worker re-imports this package), which
        # breaks under any driver whose executors don't have the repo
        # on sys.path; a closure pickles by value and is self-contained
        import zlib

        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            comp = raw.map(lambda b: len(zlib.compress(b, 6)))
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": raw.str.len().astype("int64"),
                    "n_compressed": comp.astype("int64"),
                }
            )
            yield out

    res = d.mapInPandas(
        ratios, "doc_id bigint, n_bytes bigint, n_compressed bigint"
    )
    return res.select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        round_half_up(
            F.col("n_compressed").cast("double")
            / F.greatest(F.col("n_bytes"), F.lit(1)),
            4,
        ).alias("compression_ratio"),
    )


# ---- precision/recall ladder ------------------------------------------------

_PR_THRESHOLDS = (-20, -10, -5, 0, 5, 10, 20)


@register(
    "pr_curve_thresholds",
    oracle=rf"""
    WITH {_duck_labelled_logits("logit")},
    ladder AS (
      SELECT CAST(unnest([{", ".join(str(t) for t in _PR_THRESHOLDS)}])
                  AS BIGINT) AS threshold
    ),
    cells AS (
      SELECT l.threshold,
             CAST(count(*) FILTER (s.logit > l.threshold AND s.pos)
                  AS BIGINT) AS tp,
             CAST(count(*) FILTER (s.logit > l.threshold AND NOT s.pos)
                  AS BIGINT) AS fp,
             CAST(count(*) FILTER (s.logit <= l.threshold AND s.pos)
                  AS BIGINT) AS fn
      FROM scored s CROSS JOIN ladder l
      GROUP BY l.threshold
    )
    SELECT threshold, tp, fp, fn,
           (floor(CAST(tp AS DOUBLE) / nullif(tp + fp, 0) * 10000 + 0.5)
            / 10000) AS precision,
           (floor(CAST(tp AS DOUBLE) / nullif(tp + fn, 0) * 10000 + 0.5)
            / 10000) AS recall
    FROM cells
    """,
)
def pr_curve_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the hashed classifier at a fixed ladder of
    logit thresholds — the operating-point table between
    confusion_matrix_threshold (one point) and roc_auc_eval (the
    threshold-free integral): THIS is what picks the deployment
    threshold, trading recall for precision along the ladder. A fixed
    data-independent ladder keeps every number an exact integer ratio
    (quantile thresholds would drag interpolation into the cut
    definition); the whole curve is ONE aggregate over the per-doc
    scores with a x{len(_PR_THRESHOLDS)} threshold fan-out.

    100 TB shape: the per-doc score build is the corpus stage (one
    token scan, one groupBy); the ladder fan-out multiplies the
    doc-grain table by {len(_PR_THRESHOLDS)} before a partial-agg'd
    groupBy on {len(_PR_THRESHOLDS)} keys."""
    scored = _labelled_logits(spark, sf_dir)
    ladder = F.explode(
        F.array(*[F.lit(t).cast("bigint") for t in _PR_THRESHOLDS])
    ).alias("threshold")
    cells = (
        scored.select("logit", "pos", ladder)
        .groupBy("threshold")
        .agg(
            F.count_if((F.col("logit") > F.col("threshold")) & F.col("pos"))
            .cast("bigint")
            .alias("tp"),
            F.count_if((F.col("logit") > F.col("threshold")) & ~F.col("pos"))
            .cast("bigint")
            .alias("fp"),
            F.count_if((F.col("logit") <= F.col("threshold")) & F.col("pos"))
            .cast("bigint")
            .alias("fn"),
        )
    )
    return cells.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        round_half_up(
            F.col("tp").cast("double")
            / F.nullif((F.col("tp") + F.col("fp")).cast("double"), F.lit(0.0)),
            4,
        ).alias("precision"),
        round_half_up(
            F.col("tp").cast("double")
            / F.nullif((F.col("tp") + F.col("fn")).cast("double"), F.lit(0.0)),
            4,
        ).alias("recall"),
    )


# ---- multinomial naive Bayes language classifier -------------------------

# deterministic 80/20 doc-id hash split (same md5-bucket arithmetic as
# dataset_holdout_split / sample_stratified_hash)
_NB_TRAIN_PCT = 80
_DUCK_BUCKET = duck_md5_long("CAST(doc_id AS VARCHAR)") + " % 100"


def nb_confusion_from_docs(d: DataFrame) -> DataFrame:
    """Frame-level NB train+score pipeline (shared by the registry
    entry and bench.py's amplified topology)."""
    b = d.select(
        "doc_id",
        "text",
        "lang",
        (md5_long(F.col("doc_id").cast("string")) % 100).alias("bucket"),
    )
    train = b.filter(F.col("bucket") < _NB_TRAIN_PCT)
    test = b.filter(F.col("bucket") >= _NB_TRAIN_PCT)
    # the model tables (lang x vocab counts, per-lang doc counts) feed
    # 4+ downstream consumers each; without a barrier Catalyst re-runs
    # the train-corpus scan per consumer (10 scans observed — the
    # multi-consumer lineage class test_plan_budget exists to catch).
    # Both are model-sized, so pinning them is cheap and cuts the plan
    # to ONE train scan + ONE test scan.
    langs = (
        train.groupBy("lang")
        .agg(F.count("*").alias("docs_l"))
        .localCheckpoint(eager=True)
    )
    tot = langs.agg(F.sum("docs_l").alias("docs_tot"))
    ttoks = train.select("lang", F.explode(_toks()).alias("tok"))
    cnts = (
        ttoks.groupBy("lang", "tok")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    nl = cnts.groupBy("lang").agg(F.sum("c").alias("n_l"))
    vv = cnts.agg(F.count_distinct("tok").alias("v"))
    mb = 1_000_000
    lstats = (
        langs.join(nl, "lang")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vv))
        .select(
            "lang",
            F.floor(
                -F.log2(F.col("docs_l").cast("double") / F.col("docs_tot"))
                * mb
                + 0.5
            )
            .cast("bigint")
            .alias("prior_mb"),
            "n_l",
            "v",
            F.floor(
                -F.log2(F.lit(1.0) / (F.col("n_l") + F.col("v"))) * mb + 0.5
            )
            .cast("bigint")
            .alias("miss_mb"),
        )
    )
    hit = cnts.join(F.broadcast(lstats), "lang").select(
        "lang",
        "tok",
        F.floor(
            -F.log2(
                (F.col("c") + 1).cast("double") / (F.col("n_l") + F.col("v"))
            )
            * mb
            + 0.5
        )
        .cast("bigint")
        .alias("mb"),
    )
    tt = test.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode(_toks()).alias("tok"),
    )
    cand = F.broadcast(
        lstats.select(
            F.col("lang").alias("cand"), "miss_mb", "prior_mb"
        )
    )
    sc = (
        tt.crossJoin(cand)
        .join(
            hit.select(
                F.col("lang").alias("cand"), "tok", F.col("mb").alias("hit_mb")
            ),
            ["cand", "tok"],
            "left",
        )
        .select(
            "doc_id",
            "true_lang",
            "cand",
            "prior_mb",
            F.coalesce("hit_mb", "miss_mb").alias("mb"),
        )
    )
    per = sc.groupBy("doc_id", "true_lang", "cand", "prior_mb").agg(
        F.sum("mb").alias("s")
    )
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("s") + F.col("prior_mb")).asc(), F.col("cand").asc()
    )
    ranked = per.withColumn("rn", F.row_number().over(w))
    return (
        ranked.filter(F.col("rn") == 1)
        .groupBy("true_lang", F.col("cand").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


@register(
    "naive_bayes_lang_confusion",
    ulp_sensitive=True,
    oracle=rf"""
    WITH b AS (
      SELECT doc_id, text, lang, {_DUCK_BUCKET} AS bucket FROM documents
    ),
    train AS (SELECT * FROM b WHERE bucket < {_NB_TRAIN_PCT}),
    test  AS (SELECT * FROM b WHERE bucket >= {_NB_TRAIN_PCT}),
    langs AS (SELECT lang, count(*) AS docs_l FROM train GROUP BY 1),
    tot AS (SELECT sum(docs_l) AS docs_tot FROM langs),
    ttoks AS (
      SELECT lang, unnest({DUCK_TOKS}) AS tok FROM train
    ),
    cnts AS (SELECT lang, tok, count(*) AS c FROM ttoks GROUP BY 1, 2),
    nl AS (SELECT lang, sum(c) AS n_l FROM cnts GROUP BY 1),
    vv AS (SELECT count(DISTINCT tok) AS v FROM ttoks),
    lstats AS (
      SELECT l.lang,
             CAST(floor(-log2(CAST(l.docs_l AS DOUBLE) / t.docs_tot)
                        * 1000000 + 0.5) AS BIGINT) AS prior_mb,
             n.n_l, vv.v,
             CAST(floor(-log2(1.0 / (n.n_l + vv.v)) * 1000000 + 0.5)
                  AS BIGINT) AS miss_mb
      FROM langs l JOIN nl n ON l.lang = n.lang, tot t, vv
    ),
    hit AS (
      SELECT c.lang, c.tok,
             CAST(floor(-log2(CAST(c.c + 1 AS DOUBLE) / (s.n_l + s.v))
                        * 1000000 + 0.5) AS BIGINT) AS mb
      FROM cnts c JOIN lstats s ON c.lang = s.lang
    ),
    tt AS (
      SELECT doc_id, lang AS true_lang, unnest({DUCK_TOKS}) AS tok
      FROM test
    ),
    sc AS (
      SELECT tt.doc_id, tt.true_lang, ls.lang AS cand,
             coalesce(h.mb, ls.miss_mb) AS mb
      FROM tt CROSS JOIN lstats ls
      LEFT JOIN hit h ON h.lang = ls.lang AND h.tok = tt.tok
    ),
    per AS (
      SELECT doc_id, true_lang, cand, sum(mb) AS s
      FROM sc GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT p.doc_id, p.true_lang, p.cand,
             row_number() OVER (PARTITION BY p.doc_id
                                ORDER BY p.s + ls.prior_mb ASC, p.cand ASC)
               AS rn
      FROM per p JOIN lstats ls ON p.cand = ls.lang
    )
    SELECT true_lang, cand AS pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM ranked WHERE rn = 1 GROUP BY 1, 2
    """,
)
def naive_bayes_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes trained IN the engine: learn per-language
    token distributions (Laplace +1 over the train vocabulary) on a
    deterministic 80% doc-id-hash split, classify the held-out 20% by
    argmax of quantized log-posterior, and report the confusion matrix.
    Unlike knn_label_eval / nearest_centroid_eval (which evaluate given
    geometric representations), this trains a generative model from raw
    text — the classic fastText-style lang-id baseline, end to end as
    one declarative plan. Every -log2 is micro-quantized BEFORE the
    per-document sum (the unigram_logprob_score policy), so the
    cross-engine 1-ULP libm tolerance applies to each term, never to an
    accumulated float; the argmax then compares exact integers with a
    lexicographic tiebreak.

    100 TB shape: the model — (lang x vocab) counts plus 5 lang rows —
    is the ONLY state that crosses stages; scoring is one pass over
    test tokens with a model-sized join (AQE broadcasts it when small)
    fanned out x|langs| via a broadcast nested loop over a 5-row
    table. No per-document iteration, no driver round-trips."""
    return nb_confusion_from_docs(table(spark, sf_dir, "documents"))


# ---- rank-biased overlap between two document rankings -------------------

# RBO@10 with p = 1/2, made integer-exact: the term weight
# (1-p)·p^(d-1)·ov_d/d is scaled by L = lcm(1..10)·2^9 so every
# per-depth weight w_d = L/(d·2^(d-1)) is an integer; a document whose
# ranks in BOTH lists satisfy max(rA,rB) = m contributes exactly
# tail(m) = Σ_{d=m..10} w_d. Both the engine CASE and the oracle CASE
# are generated from the same dict, so the depth knob can't desync them
# (the _CONTAM_N / _WIN_W lesson from prior reviews).
_RBO_DEPTH = 10
_RBO_L = 1290240  # lcm(1..10) * 2^9
_RBO_W = {d: _RBO_L // (d * 2 ** (d - 1)) for d in range(1, _RBO_DEPTH + 1)}
assert all(_RBO_L % (d * 2 ** (d - 1)) == 0 for d in _RBO_W)
_RBO_TAIL = {
    m: sum(_RBO_W[d] for d in range(m, _RBO_DEPTH + 1))
    for m in range(1, _RBO_DEPTH + 1)
}
# identical rankings score Σ w_d·d — the normalizer for the ratio
_RBO_MAX = sum(_RBO_W[d] * d for d in range(1, _RBO_DEPTH + 1))

_DUCK_RBO_CASE = "CASE " + " ".join(
    f"WHEN m = {m} THEN {t}" for m, t in _RBO_TAIL.items()
) + " ELSE 0 END"


def _rbo_tail_col(m: F.Column) -> F.Column:
    out = F.lit(0)
    for mm, t in _RBO_TAIL.items():
        out = F.when(m == mm, F.lit(t)).otherwise(out)
    return out


@register(
    "rank_biased_overlap_eval",
    oracle=rf"""
    WITH dt AS (
      SELECT doc_id, count(DISTINCT tok) AS n_types
      FROM (SELECT doc_id, unnest({DUCK_TOKS}) AS tok FROM documents)
      GROUP BY 1
    ),
    r AS (
      SELECT d.source,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY d.n_chars DESC, d.doc_id ASC) AS ra,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY coalesce(dt.n_types, 0) DESC,
                                         d.doc_id ASC) AS rb
      FROM documents d LEFT JOIN dt ON d.doc_id = dt.doc_id
    ),
    m AS (
      SELECT source, greatest(ra, rb) AS m FROM r
      WHERE greatest(ra, rb) <= {_RBO_DEPTH}
    )
    SELECT source,
           CAST(sum({_DUCK_RBO_CASE}) AS BIGINT) AS rbo_units,
           (floor(CAST(sum({_DUCK_RBO_CASE}) AS DOUBLE) / {_RBO_MAX}
                  * 10000 + 0.5) / 10000) AS rbo_ratio
    FROM m GROUP BY source
    """,
)
def rank_biased_overlap_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between two document
    rankings of each source — here length-rank vs lexical-richness-rank
    (distinct token types) — the standard protocol for asking "do two
    scoring functions order the corpus the same way near the top?"
    without reading past depth d. Truncated RBO@10 with p=1/2 becomes
    INTEGER-exact under the L-scaling above: overlap@d counts collapse
    to per-document tail weights on m = max(rank_A, rank_B), so the
    whole statistic is one conditional sum — no per-depth loop, no
    set intersections.

    100 TB shape: type counts are one token-stream aggregation; both
    rankings come off the same per-source sort (two windows, shared
    shuffle); every row past depth 10 is dropped BEFORE the final
    aggregation, which lands on |sources| keys."""
    d = table(spark, sf_dir, "documents")
    dt = (
        d.select("doc_id", F.explode(_toks()).alias("tok"))
        .groupBy("doc_id")
        .agg(F.count_distinct("tok").alias("n_types"))
    )
    r = d.join(dt, "doc_id", "left").select(
        "source",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("n_chars").desc(), F.col("doc_id").asc()
            )
        )
        .alias("ra"),
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.coalesce("n_types", F.lit(0)).desc(), F.col("doc_id").asc()
            )
        )
        .alias("rb"),
    )
    m = r.select(
        "source", F.greatest("ra", "rb").alias("m")
    ).filter(F.col("m") <= _RBO_DEPTH)
    units = F.sum(_rbo_tail_col(F.col("m")))
    return m.groupBy("source").agg(
        units.cast("bigint").alias("rbo_units"),
        round_half_up(
            units.cast("double") / F.lit(float(_RBO_MAX)), 4
        ).alias("rbo_ratio"),
    )


# ---- dedup token inflation ------------------------------------------------


@register(
    "dedup_token_inflation",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, source, md5(text) AS h,
             CAST(len({DUCK_TOKS}) AS BIGINT) AS n_toks
      FROM documents
    ),
    surv AS (
      SELECT source, h, min(doc_id) AS keeper, max(n_toks) AS n_toks,
             count(*) AS n_copies
      FROM t GROUP BY source, h
    )
    SELECT t.source,
           CAST(sum(t.n_toks) AS BIGINT) AS raw_tokens,
           CAST((SELECT sum(s.n_toks) FROM surv s
                 WHERE s.source IS NOT DISTINCT FROM t.source)
                AS BIGINT) AS unique_tokens,
           (floor(CAST(sum(t.n_toks) AS DOUBLE)
                  / nullif((SELECT sum(s.n_toks) FROM surv s
                            WHERE s.source IS NOT DISTINCT FROM t.source), 0)
                  * 10000 + 0.5) / 10000) AS inflation
    FROM t GROUP BY t.source
    """,
)
def dedup_token_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted dedup inflation per source: how many training
    tokens does each source claim RAW versus after exact-text dedup —
    the number that decides whether a source's advertised size is
    real. Counting TOKENS (not documents) matters because duplicated
    boilerplate is usually shorter or longer than the mean doc, so a
    doc-count dedup rate misstates the token impact; inflation = raw /
    unique is the per-source multiplier an epoch-budget calculation
    must divide by. Exact-dup groups key on md5(text) — the
    dedup_exact contract — with copies within a group all having
    identical token counts by construction (max() is just the
    portable pick).

    100 TB shape: one token-count pass, one (source, hash) fold —
    both map-side combined; no pair joins, no text shuffled beyond
    its 32-hex digest."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "source",
        F.md5("text").alias("h"),
        F.size(_toks()).cast("bigint").alias("n_toks"),
    )
    raw = t.groupBy("source").agg(
        F.sum("n_toks").cast("bigint").alias("raw_tokens")
    )
    surv = (
        t.groupBy("source", "h")
        .agg(F.max("n_toks").alias("n_toks"))
        .groupBy("source")
        .agg(F.sum("n_toks").cast("bigint").alias("unique_tokens"))
    )
    # null-safe: a NULL source is a real GROUP BY group on both
    # engines (oracle: IS NOT DISTINCT FROM) — a plain equi-join would
    # drop it (r11 NULL-parity audit class)
    surv = surv.withColumnRenamed("source", "s_source")
    return raw.join(
        surv, F.col("source").eqNullSafe(F.col("s_source"))
    ).select(
        "source",
        "raw_tokens",
        "unique_tokens",
        round_half_up(
            F.col("raw_tokens").cast("double")
            / F.nullif(F.col("unique_tokens"), F.lit(0)),
            4,
        ).alias("inflation"),
    )


# ---- truncation loss grid --------------------------------------------------

_TRUNC_GRID = (128, 256, 512)


@register(
    "truncation_loss_report",
    oracle=rf"""
    WITH t AS (
      SELECT lang, CAST(len({DUCK_TOKS}) AS BIGINT) AS n FROM documents
    )
    SELECT lang, g.max_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n > g.max_len THEN 1 ELSE 0 END) AS BIGINT)
             AS n_truncated,
           CAST(sum(CASE WHEN n > g.max_len THEN n - g.max_len ELSE 0 END)
                AS BIGINT) AS tokens_lost,
           CAST(sum(n) AS BIGINT) AS tokens_total
    FROM t, (VALUES {", ".join(f"({g})" for g in _TRUNC_GRID)}) g(max_len)
    GROUP BY lang, g.max_len
    """,
)
def truncation_loss_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length planning: for each candidate max sequence length
    (128/256/512), how many documents per language would truncate and
    how many tokens fall off the end — the table that picks a training
    max_len (or decides the chunking strategy: compare with
    chunk_sliding_tokens, which is the zero-loss alternative). One
    token-count pass crossed with the 3-row grid; all counts exact
    integers, the grid tuple shared verbatim by both engines.

    100 TB shape: per-doc token counts fold map-side; the grid
    cross-join triples |langs x grid| partials, not the corpus. The
    naive per-max-len re-scan runs the corpus |grid| times for the
    same report."""
    d = table(spark, sf_dir, "documents")
    t = d.select("lang", F.size(_toks()).cast("bigint").alias("n"))
    grid = F.explode(
        F.array(*[F.lit(g) for g in _TRUNC_GRID])
    ).alias("max_len")
    crossed = t.select("lang", "n", grid)
    over = F.col("n") > F.col("max_len")
    return crossed.groupBy("lang", "max_len").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(over, 1).otherwise(0)).cast("bigint").alias(
            "n_truncated"
        ),
        F.sum(F.when(over, F.col("n") - F.col("max_len")).otherwise(0))
        .cast("bigint")
        .alias("tokens_lost"),
        F.sum("n").cast("bigint").alias("tokens_total"),
    )
