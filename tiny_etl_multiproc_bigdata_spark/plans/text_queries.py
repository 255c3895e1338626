"""Text-analysis operators for a training-data pipeline (north-star
extensions, SURVEY §7-M5): token counting, language ID, quality
scoring, document fingerprinting. All built-in expressions — the token
stream never leaves the JVM, and per-document work parallelizes by
input split with no shuffle until the (small) aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.rounding import (
    duck_round,
    round_half_up,
)
from tiny_etl_multiproc_bigdata_spark.functions.text import (
    duck_jlower,
    DUCK_TOKS,
    tokenize_words,
)
from tiny_etl_multiproc_bigdata_spark.plans.fixtures import (
    fixture_docs,
    fixture_docs_sql,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import register

# Small English stopword set used by the lang-id heuristic (public
# top-frequency words; the fixture corpus is synthetic English-ish).
_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")
_SW_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)

# BPE-ish pre-tokenization regex: letter runs, digit runs, single
# non-alnum marks (both engines use RE2/Java-compatible syntax here).
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# portable-rounding oracle fragments (functions/rounding.py): ratio
# outputs must not use engine round() — see that module's docstring
_SW_RATIO = duck_round("CAST(sw_hits AS DOUBLE) / n_tokens", 4)
_MTL = duck_round("CAST(n_chars AS DOUBLE) / n_tokens", 4)
_PR = duck_round("CAST(n_punct AS DOUBLE) / n_chars", 4)
_QUALITY = duck_round(
    "least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4"
    " + (1.0 - least(CAST(n_punct AS DOUBLE) / n_chars, 1.0)) * 0.3"
    " + least(CAST(sw_hits AS DOUBLE) * 5.0 / n_tokens, 1.0) * 0.3",
    4,
)


def feat_cte_sql(extra: str = "") -> str:
    """The quality FEATURE projection as a DuckDB SQL fragment — the
    single source of truth for the three oracles that score documents
    (text_quality_score, preference_pairs_by_quality,
    dedup_survivors_by_quality); ``extra`` appends passthrough columns.
    Twin of quality_from_docs' expression tree."""
    return rf"""SELECT doc_id{extra},
             greatest(len(regexp_split_to_array(text, '\s+')), 1) AS n_tokens,
             greatest(length(text), 1)                            AS n_chars,
             len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))      AS n_punct,
             len(list_filter(regexp_split_to_array({duck_jlower("text")}, '\s+'),
                             t -> t IN ({_SW_SQL})))              AS sw_hits
      FROM documents"""


@register(
    "text_token_count",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)     AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)  AS bpe_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    pre-tokenizer. Pure per-row expressions — zero shuffle."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokenize_words(F.col("text"))).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0))
        .cast("bigint")
        .alias("bpe_tokens"),
    )


@register(
    "text_lang_id",
    oracle=rf"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_filter(regexp_split_to_array({duck_jlower("text")}, '\s+'),
                             t -> t IN ({_SW_SQL})))                  AS sw_hits,
             greatest(len(regexp_split_to_array(text, '\s+')), 1)     AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN CAST(sw_hits AS DOUBLE) / n_tokens >= 0.03 THEN 'en' ELSE 'und' END AS predicted_lang,
           {_SW_RATIO} AS stopword_ratio
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: English-stopword hit ratio over tokens.
    (An n-gram profile model would follow the same shape: per-row array
    expressions + a broadcast profile table.)"""
    d = table(spark, sf_dir, "documents")
    toks = tokenize_words(F.lower(F.col("text")))
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.greatest(F.size(tokenize_words(F.col("text"))), F.lit(1))
    ratio = hits * F.lit(1.0) / n
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(ratio >= 0.03, F.lit("en")).otherwise(F.lit("und")).alias("predicted_lang"),
        round_half_up(ratio, 4).alias("stopword_ratio"),
    )


@register(
    "text_quality_score",
    oracle=rf"""
    WITH feat AS (
      {feat_cte_sql()}
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT)                         AS n_tokens,
           {_MTL} AS mean_token_len,
           {_PR} AS punct_ratio,
           {_SW_RATIO} AS stopword_ratio,
           {_QUALITY} AS quality_score
    FROM feat
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length / punctuation / stopword-ratio
    features composed into a [0,1] score (the classic heuristic-filter
    shape for pretraining corpora)."""
    return quality_from_docs(table(spark, sf_dir, "documents"))


def quality_from_docs(d: DataFrame, *extra_cols: str) -> DataFrame:
    """The quality projection over any (doc_id, text) DataFrame — split
    out so bench.py's amplified corpus_curation run and the curation
    composition reuse the identical single-scan expression tree.
    ``extra_cols`` pass through unchanged (e.g. ``source``) so callers
    never need a second scan + join to re-attach them."""
    n_tokens = F.greatest(F.size(tokenize_words(F.col("text"))), F.lit(1))
    n_chars = F.greatest(F.length("text"), F.lit(1))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"), 0))
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    sw_hits = F.size(
        F.filter(tokenize_words(F.lower(F.col("text"))), lambda t: F.array_contains(sw, t))
    )
    punct_ratio = n_punct * F.lit(1.0) / n_chars
    sw_ratio = sw_hits * F.lit(1.0) / n_tokens
    quality = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio, F.lit(1.0))) * 0.3
        + F.least(sw_hits * F.lit(5.0) / n_tokens, F.lit(1.0)) * 0.3
    )
    return d.select(
        "doc_id",
        *extra_cols,
        n_tokens.cast("bigint").alias("n_tokens"),
        round_half_up(n_chars * F.lit(1.0) / n_tokens, 4).alias("mean_token_len"),
        round_half_up(punct_ratio, 4).alias("punct_ratio"),
        round_half_up(sw_ratio, 4).alias("stopword_ratio"),
        round_half_up(quality, 4).alias("quality_score"),
    )


# DuckDB twin of vocab_fingerprint("text"), shared by text_fingerprint
# and curation.decontaminate_eval_overlap
DUCK_FINGERPRINT = f"md5(array_to_string(list_sort(list_distinct({DUCK_TOKS})), ' '))"


def vocab_fingerprint(col) -> F.Column:
    """md5 over the sorted distinct lowered vocabulary — an
    order/duplication-insensitive content key. Shared by
    text_fingerprint and the decontamination anti-join (curation.py)."""
    vocab = F.array_sort(
        F.array_distinct(F.filter(tokenize_words(F.lower(col)), lambda t: t != ""))
    )
    return F.md5(F.array_join(vocab, " "))


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, {DUCK_FINGERPRINT} AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint (the bag-of-words analog of a
    rolling-hash fingerprint; cheap to compute per-row and joinable for
    corpus-level dedup)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", vocab_fingerprint(F.col("text")).alias("fingerprint")
    )


@register(
    "text_ngram_topk",
    oracle=rf"""
    WITH toks AS (
      SELECT {DUCK_TOKS} AS l
      FROM documents
    ), bi AS (
      SELECT b.ngram
      FROM toks, unnest(list_transform(range(1, len(l)),
                                       i -> l[i] || ' ' || l[i+1])) AS b(ngram)
      WHERE len(l) >= 2
    )
    SELECT ngram, count(*) AS n
    FROM bi GROUP BY ngram
    ORDER BY n DESC, ngram ASC
    LIMIT 20
    """,
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams — boilerplate detection and the
    input to the Jaccard df-cap. explode → count is partial-agg'd
    map-side, and the final top-k is a TakeOrderedAndProject (no global
    sort); (count, ngram) tiebreak keeps the cut deterministic."""
    from tiny_etl_multiproc_bigdata_spark.functions.text import word_ngrams

    d = table(spark, sf_dir, "documents")
    toks = F.filter(tokenize_words(F.lower(F.col("text"))), lambda t: t != "")
    # Generate barrier pins the token array to one evaluation per row
    # (r13 optimization round): word_ngrams references its input 5×
    # (two shifted slices + size guards), and as a bare expression each
    # reference re-derived the full tokenize (5 copies of
    # split(lower(text)) in the plan; 1 after).
    return (
        d.select(F.explode(F.array(toks)).alias("l"))
        .select(F.explode(word_ngrams(F.col("l"), 2)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(20)
    )



# The synthetic docs are single-sentence and nothing repeats across ≥3
# docs, so (fixture-row pattern, plans/fixtures.py) literal rows plant
# a genuine boilerplate pair: "welcome to the site" / "unsubscribe
# here" appear in 3 docs; -34 has no shared sentence and must pass
# through untouched.
_BOILERPLATE_ROWS: list[tuple[int, str]] = [
    (-31, "Welcome to the site. Unsubscribe here. today we talk about cats."),
    (-32, "welcome to the site. unsubscribe HERE. dogs are loyal animals."),
    (-33, "welcome to the site. unsubscribe here. fish swim in rivers."),
    (-34, "a unique document with no shared lines. totally original content."),
]


def _boilerplate_oracle() -> str:
    return rf"""
    WITH sents AS (
      SELECT doc_id,
             list_filter(list_transform(regexp_split_to_array(text, '\.'),
                                        s -> trim({duck_jlower("s")})),
                         s -> s <> '') AS l
      FROM {fixture_docs_sql(_BOILERPLATE_ROWS)} d
      WHERE text IS NOT NULL
    ), ex AS (
      SELECT doc_id, s.s FROM sents, unnest(l) AS s(s)
    ), bl AS (
      SELECT s AS sent FROM ex GROUP BY s HAVING count(DISTINCT doc_id) >= 3
    ), blarr AS (
      SELECT coalesce(list_sort(list(sent)), []) AS b FROM bl
    )
    SELECT doc_id,
           CAST(len(l) AS BIGINT) AS n_sentences,
           CAST(len(list_filter(l, s -> list_contains(b, s))) AS BIGINT)
             AS n_boilerplate,
           array_to_string(list_filter(l, s -> NOT list_contains(b, s)),
                           '. ') AS cleaned_text
    FROM sents, blarr
    """


@register("text_boilerplate_strip", oracle=_boilerplate_oracle())
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level boilerplate removal: sentences appearing in ≥3
    distinct documents (headers, disclaimers, nav text) are stripped
    from every document, preserving in-doc order and repetition of the
    surviving sentences. The boilerplate set is tiny (it is by
    definition the high-document-frequency tail) so it broadcasts as
    one collected array; per-doc work is then pure membership filtering
    in a single scan. Normalization is lower+trim, the same key the
    frequency count uses. Input unions the planted multi-sentence
    fixture rows (the synthetic corpus alone is single-sentence and
    would make the comparison vacuous).

    Shape: sentences explode ONCE (posexplode_outer keeps
    zero-sentence docs), the exploded stage is checkpointed for its
    two consumers (df count + strip), and the doc is reassembled with
    an order-preserving (pos, sent) sort inside one groupBy. The
    naive alternative — referencing the computed sentence array
    several times in one projection — re-inlines the split+transform
    derivation per reference (CollapseProject), ~4x the per-row CPU.

    Input contract (r11 NULL-parity audit): stripping a NULL text is
    undefined — excluded explicitly on both engines (the lowering
    would otherwise render it as an empty doc while the oracle
    propagates NULL)."""
    d = fixture_docs(spark, sf_dir, _BOILERPLATE_ROWS).filter(
        F.col("text").isNotNull()
    )
    sents = F.filter(
        F.transform(F.split(F.col("text"), r"\."), lambda s: F.trim(F.lower(s))),
        lambda s: s != "",
    )
    exp = d.select(
        "doc_id", F.posexplode_outer(sents).alias("pos", "sent")
    ).localCheckpoint(eager=True)
    bl_arr = (
        exp.filter(F.col("sent").isNotNull())
        .groupBy("sent")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 3)
        .agg(
            F.coalesce(
                F.array_sort(F.collect_list("sent")),
                F.array().cast("array<string>"),
            ).alias("b")
        )
    )
    flagged = exp.crossJoin(F.broadcast(bl_arr)).withColumn(
        "is_bl", F.array_contains("b", F.col("sent"))
    )
    kept = F.when(~F.col("is_bl"), F.struct(F.col("pos"), F.col("sent")))
    return flagged.groupBy("doc_id").agg(
        F.count("sent").cast("bigint").alias("n_sentences"),
        F.sum(F.when(F.col("is_bl"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_boilerplate"),
        # nullif: a fully-boilerplate (or sentence-less) doc joins to
        # '' in Spark but the oracle's array_to_string([]) is NULL —
        # and kept sentences are non-empty by the split filter, so ''
        # can arise no other way (r11 NULL-parity audit)
        F.nullif(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda s: s["sent"]
                ),
                ". ",
            ),
            F.lit(""),
        ).alias("cleaned_text"),
    )


@register(
    "inverted_index_build",
    oracle=rf"""
    WITH ex AS (
      SELECT DISTINCT doc_id, t.term
      FROM documents,
           unnest({DUCK_TOKS}) AS t(term)
    )
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM ex GROUP BY term
    """,
)
def inverted_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a term → postings-list inverted index over the corpus
    (the artifact behind keyword search and the Jaccard/BM25 family):
    one explode + ONE groupBy(term) — collect_set dedups (doc, term)
    repeats with map-side partial aggregation, so the token stream
    shuffles once (a separate .distinct() would be a second full
    exchange). Postings are sorted and string-encoded (list cells are
    unhashable for the verification canonicalizer). At 100 TB the same
    plan writes term-bucketed parquet for shard-local lookups."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(tokenize_words(F.lower(F.col("text"))), lambda t: t != "")
    ex = d.select("doc_id", F.explode(toks).alias("term"))
    postings = F.array_sort(F.collect_set("doc_id"))
    return ex.groupBy("term").agg(
        F.size(postings).cast("bigint").alias("df"),
        F.array_join(
            F.transform(postings, lambda x: x.cast("string")), ","
        ).alias("postings"),
    )


@register(
    "corpus_stats_summary",
    oracle=rf"""
    WITH ex AS (
      SELECT doc_id, t.t AS token
      FROM documents,
           unnest({DUCK_TOKS}) AS t(t)
    ), agg AS (
      SELECT count(*) AS total_tokens,
             count(DISTINCT token) AS vocab_size
      FROM ex
    ), nd AS (SELECT count(*) AS n_docs FROM documents)
    SELECT CAST(n_docs AS BIGINT)       AS n_docs,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(vocab_size AS BIGINT)   AS vocab_size,
           (floor(CAST(total_tokens AS DOUBLE) / n_docs * 10000 + 0.5)
              / 10000) AS avg_doc_tokens,
           (floor(CAST(vocab_size AS DOUBLE) / total_tokens * 10000 + 0.5)
              / 10000) AS type_token_ratio
    FROM agg, nd
    """,
)
def corpus_stats_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card numbers: document count, token count, vocabulary
    size, average document length, type-token ratio — one exploded scan
    with partial-agg'd counts plus a 1-row doc count broadcast back.
    Integer counts divided as doubles keep the ratios engine-exact."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(tokenize_words(F.lower(F.col("text"))), lambda t: t != "")
    ex = d.select("doc_id", F.explode(toks).alias("token"))
    agg = ex.agg(
        F.count("*").cast("bigint").alias("total_tokens"),
        F.countDistinct("token").cast("bigint").alias("vocab_size"),
    )
    nd = d.agg(F.count("*").cast("bigint").alias("n_docs"))
    j = agg.crossJoin(F.broadcast(nd))
    return j.select(
        "n_docs",
        "total_tokens",
        "vocab_size",
        # nullif: an empty corpus yields NULL ratios like the oracle's
        # x/0 (DuckDB → NULL), not an ANSI crash (r11 empty-input audit)
        round_half_up(
            F.col("total_tokens").cast("double")
            / F.nullif(F.col("n_docs"), F.lit(0)),
            4,
        ).alias("avg_doc_tokens"),
        round_half_up(
            F.col("vocab_size").cast("double")
            / F.nullif(F.col("total_tokens"), F.lit(0)),
            4,
        ).alias("type_token_ratio"),
    )


# Literal multilingual rows (fixtures.py plumbing): the synthetic corpus
# is ASCII-English regardless of its lang label, so Unicode-script
# ratios would be vacuously zero without them. No apostrophes (rows are
# embedded in single-quoted SQL).
_SCRIPT_ROWS = [
    (9_200_001, "النص العربي هنا 123 مع ارقام"),
    (9_200_002, "汉字文本测试 spark 数据 流水线"),
    (9_200_003, "mixed عربي and 漢字 with latin 42"),
]

# Character classes counted by script_mix_profile. One shared regex per
# class — \x{...} escapes parse identically in Java regex (Spark) and
# RE2 (DuckDB); counts are UTF-8-aware character counts in both.
_SCRIPT_CLASSES = (
    ("latin", "[A-Za-z]"),
    ("digit", "[0-9]"),
    ("arabic", r"[\x{0600}-\x{06FF}]"),
    ("cjk", r"[\x{4E00}-\x{9FFF}]"),
    ("space", "[ \\t\\n\\r]"),
)


def _script_mix_oracle() -> str:
    # per-class char count: strip everything NOT in the class, length()
    cnts = ",\n           ".join(
        f"CAST(length(regexp_replace(text, '{'[^' + pat[1:]}', '', 'g')) AS BIGINT) AS n_{name}"
        for name, pat in _SCRIPT_CLASSES
    )
    ratios = ",\n           ".join(
        f"(floor(CAST(n_{name} AS DOUBLE) / n_chars * 10000 + 0.5) / 10000) AS r_{name}"
        for name, _ in _SCRIPT_CLASSES
    )
    from tiny_etl_multiproc_bigdata_spark.plans.fixtures import fixture_docs_sql

    return f"""
    WITH c AS (
      SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           {cnts}
      FROM {fixture_docs_sql(_SCRIPT_ROWS)}
      WHERE length(text) > 0
    )
    SELECT doc_id, n_chars,
           {ratios}
    FROM c
    """


@register("script_mix_profile", oracle=_script_mix_oracle())
def script_mix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Unicode-script composition: character-count ratios
    for Latin, digits, Arabic, CJK and whitespace — the multilingual
    routing signal (script mix decides tokenizer choice, language
    bucketing, and mojibake detection: an 'en'-labeled doc that is 40%
    CJK is a pipeline bug). Pure per-row JVM regexp counts, zero
    shuffle; one shared \\x{{...}} character-class table keeps Spark's
    Java regex and DuckDB's RE2 literally identical. Counting strips
    the class complement and measures length — UTF-8-aware character
    semantics in both engines."""
    d = fixture_docs(spark, sf_dir, _SCRIPT_ROWS).filter(F.length("text") > 0)
    n_chars = F.length("text").cast("bigint")
    cols = [F.col("doc_id"), n_chars.alias("n_chars")]
    for name, pat in _SCRIPT_CLASSES:
        neg = "[^" + pat[1:]
        cnt = F.length(F.regexp_replace(F.col("text"), neg, "")).cast("bigint")
        cols.append(
            round_half_up(cnt.cast("double") / n_chars, 4).alias(f"r_{name}")
        )
    return d.select(*cols)


@register(
    "preference_pairs_by_quality",
    oracle=rf"""
    WITH feat AS (
      {feat_cte_sql(", source")}
    ), scored AS (
      SELECT doc_id, source, {_QUALITY} AS q FROM feat
    ), ranked AS (
      SELECT doc_id, source, q,
             row_number() OVER (PARTITION BY source
                                ORDER BY q DESC, doc_id ASC) AS r,
             count(*) OVER (PARTITION BY source) AS n
      FROM scored
    )
    SELECT a.source,
           CAST(a.r AS BIGINT) AS pair_idx,
           a.doc_id AS chosen_doc,
           b.doc_id AS rejected_doc,
           {duck_round("a.q - b.q", 4)} AS quality_margin
    FROM ranked a
    JOIN ranked b ON a.source = b.source AND b.r = a.n + 1 - a.r
    WHERE a.r < a.n + 1 - a.r
    """,
)
def preference_pairs_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for reward-model / DPO training
    data: within each source, rank documents by the (4-dp-quantized)
    quality score and pair best-with-worst inward (rank r vs rank
    n+1−r) until the ranks meet — each pair is a (chosen, rejected)
    example with its quality margin. The quantized score makes the
    ranking — and therefore the pairing — cross-engine exact; ties
    break on doc_id.

    100 TB shape: one corpus scan for features, a per-source window
    rank (partitioned — sources shard the corpus), and a self-join on
    (source, mirrored rank) that shuffles only (id, rank, score)
    triples, never text. Swap the heuristic score for a model-scored
    column and the plan is a production RLHF-pair builder."""
    d = table(spark, sf_dir, "documents")
    # source passes through the scoring projection — ONE corpus scan,
    # no re-attach join (r6 review finding)
    scored = quality_from_docs(d, "source").select(
        "doc_id", "source", "quality_score"
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    ranked = scored.select(
        "doc_id",
        "source",
        F.col("quality_score").alias("q"),
        F.row_number().over(w).alias("r"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    a = ranked.alias("a")
    b = ranked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("b.r") == F.col("a.n") + 1 - F.col("a.r")),
        )
        .where(F.col("a.r") < F.col("a.n") + 1 - F.col("a.r"))
        .select(
            F.col("a.source").alias("source"),
            F.col("a.r").cast("bigint").alias("pair_idx"),
            F.col("a.doc_id").alias("chosen_doc"),
            F.col("b.doc_id").alias("rejected_doc"),
            round_half_up(F.col("a.q") - F.col("b.q"), 4).alias(
                "quality_margin"
            ),
        )
    )


# ---- RAKE keyword extraction ---------------------------------------------

_RAKE_TOPK = 10
# whole-word stopword delimiter pattern — ONE literal for both engines
# (Java and RE2 agree on \b and alternation)
_RAKE_DELIM_RE = r"\b(" + "|".join(_STOPWORDS) + r")\b"


@register(
    "rake_keyword_extract",
    oracle=rf"""
    WITH phr AS (
      SELECT trim(p) AS phrase
      FROM (
        SELECT unnest(string_split(
                 regexp_replace({duck_jlower("text")}, '{_RAKE_DELIM_RE}', '|', 'g'),
                 '|')) AS p
        FROM documents
      ) WHERE trim(p) <> ''
    ),
    phrases AS (
      SELECT regexp_replace(phrase, '\s+', ' ', 'g') AS phrase FROM phr
    ),
    words AS (
      SELECT phrase, unnest(string_split(phrase, ' ')) AS w,
             len(string_split(phrase, ' ')) AS plen
      FROM phrases
    ),
    wstat AS (
      SELECT w,
             count(*) AS freq,
             CAST(sum(plen) AS BIGINT) AS deg
      FROM words GROUP BY w
    ),
    wscore AS (
      SELECT w, CAST(deg * 1000000 // freq AS BIGINT) AS s_q FROM wstat
    ),
    dwords AS (
      SELECT phrase, unnest(string_split(phrase, ' ')) AS w
      FROM (SELECT DISTINCT phrase FROM phrases)
    ),
    pscore AS (
      SELECT dw.phrase, CAST(sum(ws.s_q) AS BIGINT) AS score_q
      FROM dwords dw JOIN wscore ws ON dw.w = ws.w
      GROUP BY dw.phrase
    ),
    agg AS (
      SELECT p.phrase,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(min(sc.score_q) AS BIGINT) AS score_q
      FROM phrases p JOIN pscore sc ON p.phrase = sc.phrase
      GROUP BY p.phrase
    )
    SELECT phrase, n_occurrences, score_q
    FROM agg
    ORDER BY score_q DESC, phrase ASC
    LIMIT {_RAKE_TOPK}
    """,
)
def rake_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are the maximal stopword-free runs (stopwords act as delimiters —
    the same {n} -word list the lang-id heuristic uses), each word
    scores deg/freq (degree = summed length of phrases it appears in),
    and a phrase scores the sum of its words' scores; corpus top-{K}
    phrases by score. Word scores quantize to integer micro-units via
    bigint division BEFORE the phrase sum (the tfidf_topk_terms
    rational-idf recipe), so ranking is engine-exact with no floats
    anywhere.

    100 TB shape: phrase extraction is one regexp pass (map-only);
    word stats and phrase scores are two partial-agg'd shuffles on
    word/phrase keys; the final top-{K} is TakeOrderedAndProject.
    Note the per-occurrence scoring joins move phrase strings — a
    production variant would intern phrases to hashes first (the
    fixed-width md5 key trick of dedup_corpus_segments)."""
    d = table(spark, sf_dir, "documents")
    phrases = (
        d.select(
            F.explode(
                F.split(
                    F.regexp_replace(
                        F.lower("text"), _RAKE_DELIM_RE, "|"
                    ),
                    r"\|",
                )
            ).alias("p")
        )
        .select(F.trim("p").alias("phrase"))
        .filter(F.col("phrase") != "")
        .select(
            F.regexp_replace("phrase", r"\s+", " ").alias("phrase")
        )
        .localCheckpoint(eager=True)  # feeds words AND occurrence counts
    )
    words = phrases.select(
        "phrase",
        F.explode(F.split("phrase", " ")).alias("w"),
        F.size(F.split("phrase", " ")).alias("plen"),
    )
    wscore = (
        words.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").cast("bigint").alias("deg"),
        )
        .select("w", F.expr("deg * 1000000 div freq").alias("s_q"))
    )
    dwords = phrases.select("phrase").distinct().select(
        "phrase", F.explode(F.split("phrase", " ")).alias("w")
    )
    pscore = (
        dwords.join(F.broadcast(wscore), "w")
        .groupBy("phrase")
        .agg(F.sum("s_q").cast("bigint").alias("score_q"))
    )
    agg = (
        phrases.groupBy("phrase")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .join(pscore, "phrase")
    )
    return (
        agg.select("phrase", "n_occurrences", "score_q")
        .orderBy(F.desc("score_q"), F.asc("phrase"))
        .limit(_RAKE_TOPK)
    )


# ---- language-ID confusion matrix ------------------------------------------


@register(
    "lang_confusion_matrix",
    oracle=rf"""
    WITH scored AS (
      SELECT lang,
             CASE WHEN CAST(len(list_filter(
                          regexp_split_to_array({duck_jlower("text")}, '\s+'),
                          t -> t IN ({_SW_SQL}))) AS DOUBLE)
                       / greatest(len(regexp_split_to_array(text, '\s+')), 1)
                       >= 0.03
                  THEN 'en' ELSE 'und' END AS predicted_lang
      FROM documents
    ),
    cells AS (
      SELECT lang AS labeled_lang, predicted_lang,
             CAST(count(*) AS BIGINT) AS n
      FROM scored GROUP BY 1, 2
    )
    SELECT labeled_lang, predicted_lang, n,
           (floor(CAST(n AS DOUBLE)
                  / sum(n) OVER (PARTITION BY labeled_lang)
                  * 10000 + 0.5) / 10000) AS row_rate
    FROM cells
    """,
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword lang-id heuristic against the
    labeled language: per (labeled, predicted) cell count and its
    row-normalized rate — i.e. recall of 'en' and the per-language
    false-'en' rates, the table a lang-id model card actually shows.
    text_lang_id emits per-document predictions; this is its corpus-
    level evaluation (same expression tree, so the two entries cannot
    drift apart). Rates are one exact integer ratio per cell.

    100 TB shape: prediction is a per-row expression; ONE partial-agg'd
    groupBy to the |langs| x 2 contingency table; the row-normalizing
    window runs over that dimension-sized table."""
    d = table(spark, sf_dir, "documents")
    toks = tokenize_words(F.lower(F.col("text")))
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n_t = F.greatest(F.size(tokenize_words(F.col("text"))), F.lit(1))
    pred = F.when(hits * F.lit(1.0) / n_t >= 0.03, F.lit("en")).otherwise(
        F.lit("und")
    )
    cells = (
        d.select(F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang"))
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.partitionBy("labeled_lang")
    return cells.select(
        "labeled_lang",
        "predicted_lang",
        "n",
        round_half_up(
            F.col("n").cast("double") / F.sum("n").over(w), 4
        ).alias("row_rate"),
    )


# ---- sentencepiece-style character coverage ------------------------------

# coverage target in parts-per-million (sentencepiece's
# character_coverage=0.9995 default, as an exact integer knob)
_CHAR_COV_PPM = 999_500


@register(
    "char_coverage_vocab",
    oracle=f"""
    WITH ch AS (
      SELECT lang, c.c AS ch, count(*) AS n
      FROM documents, unnest(string_split({duck_jlower("text")}, '')) AS c(c)
      WHERE c.c <> ' '
      GROUP BY lang, c.c
    ),
    r AS (
      SELECT lang, ch, n,
             sum(n) OVER (PARTITION BY lang ORDER BY n DESC, ch ASC
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(n) OVER (PARTITION BY lang) AS tot,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n DESC, ch ASC) AS rk
      FROM ch
    )
    SELECT lang,
           CAST(min(tot) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS alphabet_size,
           CAST(min(CASE WHEN cum * 1000000 >= {_CHAR_COV_PPM} * tot
                         THEN rk END) AS BIGINT) AS chars_for_coverage
    FROM r GROUP BY lang
    """,
)
def char_coverage_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style character coverage per language: how many
    distinct characters (frequency-ranked) does it take to cover
    99.95% of the text — the character_coverage knob every tokenizer
    training run sets, answered from the corpus itself. A
    Latin-alphabet language needs a few dozen; a logographic one needs
    thousands, and THAT difference decides byte-fallback strategy and
    base-vocabulary size before any BPE merge runs. The coverage test
    is integer cross-multiplied (cum·10^6 >= ppm·total), the rank
    tiebreak is (count desc, char asc) — fully deterministic, no
    float thresholds.

    100 TB shape: the char histogram is at most |alphabet| x |langs|
    rows after the map-side-combined fold (the scan dominates; the
    windows run on histogram-sized data). The whitespace filter keeps
    the statistic about glyph inventory, not formatting."""
    d = table(spark, sf_dir, "documents")
    ch = (
        d.select(
            "lang",
            F.explode(F.split(F.lower(F.col("text")), "")).alias("ch"),
        )
        .filter(F.col("ch") != " ")
        .groupBy("lang", "ch")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("lang")
    wo = wp.orderBy(F.desc("n"), F.asc("ch"))
    r = ch.select(
        "lang",
        F.sum("n")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("n").over(wp).alias("tot"),
        F.row_number().over(wo).alias("rk"),
    )
    return r.groupBy("lang").agg(
        F.min("tot").cast("bigint").alias("n_chars"),
        F.count(F.lit(1)).cast("bigint").alias("alphabet_size"),
        F.min(
            F.when(
                F.col("cum") * 1_000_000
                >= F.lit(_CHAR_COV_PPM) * F.col("tot"),
                F.col("rk"),
            )
        )
        .cast("bigint")
        .alias("chars_for_coverage"),
    )
