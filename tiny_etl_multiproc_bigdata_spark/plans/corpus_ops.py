"""Corpus-construction operators from the LLM data-curation
literature, each with an exact DuckDB oracle twin:

* ``dedup_corpus_segments`` — C4-style repeated-span removal (Raffel et
  al. 2020 deduplicated any three-sentence span occurring more than
  once; here the unit is a fixed 8-token segment so the semantics are
  derivable from the token stream alone).
* ``chunk_sliding_tokens`` — overlapping fixed-width token windows, the
  standard pretraining / RAG chunking pass.
* ``compaction_binpack`` — deterministic small-file compaction
  planning (the OPTIMIZE/bin-packing pass every table-format runs).
* ``bm25_doc_scores`` — Okapi BM25 ranking with the Lucene
  non-negative idf variant.
* ``pmi_collocations`` — pointwise-mutual-information collocation
  mining over corpus bigrams.

Scale notes (100 TB): every entry here is one corpus shuffle or less.
Segment dedup shuffles once on a fixed-width md5 key; chunking is
map-only; compaction planning is one window per table-partition; BM25
and PMI reduce to vocabulary-sized aggregates that broadcast back.
Transcendental steps (ln/log2) are integer-micro-quantized BEFORE any
cross-row sum, per the repo convention (quality.py), so accumulation
order can never flip a rounded output.
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
    DUCK_TOKS,
    duck_jlower,
    tokenize_words_nonempty,
    word_ngrams,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import register

_SEG = 8  # dedup segment width (tokens)
_CHUNK_W = 32  # chunk width (tokens)
_CHUNK_S = 16  # chunk stride (tokens)
_BIN_TARGET = 4000  # compaction target output size (chars)


def _tok_docs(
    spark: SparkSession, sf_dir: str, checkpoint: bool = False
) -> DataFrame:
    """Tokenized documents. ``checkpoint=True`` materializes the token
    arrays once for entries that fan them into MULTIPLE corpus-scale
    consumers — without the barrier each consumer re-runs the
    scan+tokenize lineage (the minhash_pairs_from_docs lesson, VERDICT
    r01 item 5). Single-consumer entries keep the lazy lineage."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", tokenize_words_nonempty("text").alias("l")
    ).where(F.size("l") >= 1)
    return t.localCheckpoint(eager=True) if checkpoint else t


def segment_hash_structs(l="l") -> F.Column:
    """Array of (h, seg_len) structs — one per consecutive _SEG-token
    segment of the token-array column ``l``. Shared by the batch
    segment-dedup family and streaming_segment_dedup so both halves
    hash identical segment boundaries."""
    lc = F.col(l) if isinstance(l, str) else l
    return F.transform(
        F.sequence(
            F.lit(0), F.ceil(F.size(lc) / F.lit(float(_SEG))).cast("int") - 1
        ),
        lambda s: F.struct(
            F.md5(
                F.array_join(F.slice(lc, s * _SEG + 1, F.lit(_SEG)), " ")
            ).alias("h"),
            F.size(F.slice(lc, s * _SEG + 1, F.lit(_SEG))).alias("seg_len"),
        ),
    )


@register(
    "dedup_corpus_segments",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKS} AS l FROM documents
    ), t2 AS (
      SELECT doc_id, l FROM t WHERE len(l) >= 1
    ), segs AS (
      SELECT doc_id,
             md5(array_to_string(l[s.s*{_SEG}+1 : s.s*{_SEG}+{_SEG}], ' '))
               AS h,
             len(l[s.s*{_SEG}+1 : s.s*{_SEG}+{_SEG}]) AS seg_len
      FROM t2,
           unnest(range(0, CAST(ceil(len(l) / {_SEG}.0) AS BIGINT))) AS s(s)
    ), cnt AS (
      SELECT h, count(*) AS c FROM segs GROUP BY h
    )
    SELECT s.doc_id,
           count(*) AS n_segments,
           CAST(sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_segments,
           CAST(sum(CASE WHEN c.c < 2 THEN s.seg_len ELSE 0 END) AS BIGINT)
             AS kept_tokens
    FROM segs s JOIN cnt c ON s.h = c.h
    GROUP BY s.doc_id
    """,
)
def dedup_corpus_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style repeated-span dedup (the reference has no corpus-level
    dedup at all — its UniqueFilter is per-bag, reference
    transformers.py:229; this is the corpus-scale generalization): cut
    every document into consecutive _SEG-token segments, count each
    segment corpus-wide, and flag any segment occurring >= 2 times as
    duplicated boilerplate. Per document: segment count, duplicated
    segment count, and tokens surviving removal of duplicated segments.

    100 TB shape: segments shuffle ONCE on their fixed-width md5 (never
    the raw text), counts come back via a second shuffle on the same
    key (co-partitioned — AQE coalesces), and the per-doc rollup is a
    third fixed-width shuffle. No all-pairs stage exists at any scale.
    """
    toks = _tok_docs(spark, sf_dir, checkpoint=True)
    segs = toks.select(
        "doc_id", F.explode(segment_hash_structs()).alias("s")
    ).select("doc_id", F.col("s.h").alias("h"), F.col("s.seg_len").alias("seg_len"))
    cnt = segs.groupBy("h").agg(F.count("*").alias("c"))
    return (
        segs.join(cnt, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum((F.col("c") >= 2).cast("bigint")).alias("n_dup_segments"),
            F.sum(
                F.when(F.col("c") < 2, F.col("seg_len")).otherwise(0)
            )
            .cast("bigint")
            .alias("kept_tokens"),
        )
    )


@register(
    "chunk_sliding_tokens",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKS} AS l FROM documents
    ), t2 AS (
      SELECT doc_id, l FROM t WHERE len(l) >= 1
    )
    SELECT doc_id,
           CAST(c.c AS BIGINT) AS chunk_idx,
           CAST(len(l[c.c*{_CHUNK_S}+1 : c.c*{_CHUNK_S}+{_CHUNK_W}]) AS BIGINT)
             AS n_chunk_tokens,
           md5(array_to_string(l[c.c*{_CHUNK_S}+1 : c.c*{_CHUNK_S}+{_CHUNK_W}],
                               ' ')) AS chunk_hash
    FROM t2,
         unnest(range(0, CAST(ceil(len(l) / {_CHUNK_S}.0) AS BIGINT))) AS c(c)
    """,
)
def chunk_sliding_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the pass that turns curated
    documents into fixed-width training/RAG chunks (width _CHUNK_W,
    stride _CHUNK_S, so consecutive chunks overlap by half). Emits one
    row per chunk with its token count and content hash; a tokenizer-
    aware variant swaps tokenize_words_nonempty for a BPE UDF in the
    same plan.

    100 TB shape: map-only — the chunk array is built per row with
    array HOFs over the already-materialized token array and exploded;
    zero shuffles, linear in corpus size, trivially parallel."""
    toks = _tok_docs(spark, sf_dir)
    chunk_structs = F.transform(
        F.sequence(
            F.lit(0),
            F.ceil(F.size("l") / F.lit(float(_CHUNK_S))).cast("int") - 1,
        ),
        lambda c: F.struct(
            c.cast("bigint").alias("chunk_idx"),
            F.size(
                F.slice(F.col("l"), c * _CHUNK_S + 1, F.lit(_CHUNK_W))
            )
            .cast("bigint")
            .alias("n_chunk_tokens"),
            F.md5(
                F.array_join(
                    F.slice(F.col("l"), c * _CHUNK_S + 1, F.lit(_CHUNK_W)),
                    " ",
                )
            ).alias("chunk_hash"),
        ),
    )
    return toks.select(
        "doc_id", F.explode(chunk_structs).alias("c")
    ).select("doc_id", "c.chunk_idx", "c.n_chunk_tokens", "c.chunk_hash")


@register(
    "compaction_binpack",
    oracle=f"""
    WITH sized AS (
      SELECT source, doc_id, n_chars,
             sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
      FROM documents
    ), binned AS (
      SELECT source,
             CAST(floor((cum - n_chars) / {_BIN_TARGET}.0) AS BIGINT)
               AS bin_id,
             n_chars
      FROM sized
    )
    SELECT source, bin_id,
           count(*) AS n_files,
           CAST(sum(n_chars) AS BIGINT) AS bytes
    FROM binned
    GROUP BY source, bin_id
    """,
)
def compaction_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (the OPTIMIZE pass): treat each
    document as a file of ``n_chars`` bytes inside its ``source``
    table-partition, pack files into output bins of ~_BIN_TARGET bytes
    by start-offset (running sum ordered by doc_id; a file lands in the
    bin its start offset falls into), and report the plan as
    (partition, bin) -> file count + bytes. Deterministic first-fit —
    the same contract as Delta/Iceberg OPTIMIZE planning.

    100 TB shape: one window per table-partition (file COUNTS, not
    data — a 100 TB table is ~1e6 file-metadata rows, kilobytes per
    partition), then a fixed-width groupBy. The data files themselves
    are never read; this is the planning half, and the execute half is
    a partition-pruned rewrite per bin."""
    d = table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy(F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = d.select(
        "source", "doc_id", "n_chars", F.sum("n_chars").over(w).alias("cum")
    )
    binned = sized.select(
        "source",
        F.floor(
            (F.col("cum") - F.col("n_chars")) / F.lit(float(_BIN_TARGET))
        )
        .cast("bigint")
        .alias("bin_id"),
        "n_chars",
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count("*").alias("n_files"),
        F.sum("n_chars").cast("bigint").alias("bytes"),
    )


# ---- BM25 ----------------------------------------------------------------
#
# Okapi BM25 with the Lucene idf variant ln(1 + (N - df + 0.5)/(df + 0.5))
# (non-negative for any df, unlike classic Okapi). The one transcendental
# (ln) is micro-quantized per TERM; each matched term's contribution is
# then micro-quantized per (doc, term) BEFORE the per-doc sum, so the
# bigint sum is accumulation-order-free. k1/b are the standard 1.2/0.75,
# kept as exact dyadic-free rationals evaluated in the same literal shape
# on both engines.

_BM25_K1 = "1.2"
_BM25_B = "0.75"
_N_QUERY_TERMS = 3


@register(
    "bm25_doc_scores",
    ulp_sensitive=True,
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest({DUCK_TOKS}) AS tok FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ), df AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
    ), qterms AS (
      SELECT tok, df,
             CAST(floor(ln(1 + (CAST(n_docs - df AS DOUBLE) + 0.5)
                               / (CAST(df AS DOUBLE) + 0.5)) * 1000000
                        + 0.5) AS BIGINT) AS idf_micro
      FROM df, stats
      ORDER BY df DESC, tok ASC
      LIMIT {_N_QUERY_TERMS}
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
    ), contrib AS (
      SELECT t.doc_id,
             CAST(floor(
               (CAST(q.idf_micro AS DOUBLE) / 1000000)
               * (CAST(t.tf AS DOUBLE) * ({_BM25_K1} + 1))
               / (CAST(t.tf AS DOUBLE)
                  + {_BM25_K1} * (1 - {_BM25_B}
                                  + {_BM25_B} * (CAST(d.dl AS DOUBLE)
                                                 / s.avgdl)))
               * 1000000 + 0.5) AS BIGINT) AS c_micro
      FROM tf t
      JOIN qterms q ON t.tok = q.tok
      JOIN dl d ON t.doc_id = d.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id,
           {duck_round("CAST(sum(c_micro) AS DOUBLE) / 1000000", 4)}
             AS bm25_score
    FROM contrib
    GROUP BY doc_id
    ORDER BY bm25_score DESC, doc_id ASC
    LIMIT 20
    """,
)
def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 document ranking for a deterministic 3-term query
    (the corpus's top-3 document-frequency terms — a self-contained
    stand-in for a user query; any term list slots into the same plan).
    Returns the top-20 docs by quantized score.

    100 TB shape: token stats are two vocabulary-sized aggregates
    (map-side combined); the 3-row query-term table broadcasts into the
    per-(doc, term) tf join, so the only corpus-sized shuffles are the
    tf groupBy and the per-doc sum — both on fixed-width keys. The
    top-20 is TakeOrderedAndProject, no global sort."""
    # token arrays materialized once: toks fans into THREE corpus-scale
    # consumers (dl, df, tf) — the explode re-runs from memory, the
    # scan+tokenize does not (r6 review finding, the prefix-filter
    # barrier convention)
    arr = _tok_docs(spark, sf_dir, checkpoint=True)
    toks = arr.select("doc_id", F.explode("l").alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    df_ = toks.groupBy("tok").agg(
        F.count_distinct("doc_id").alias("df")
    )
    k1 = float(_BM25_K1)
    b = float(_BM25_B)
    qterms = (
        df_.crossJoin(F.broadcast(stats))
        .select(
            "tok",
            "df",
            F.floor(
                F.log(
                    1
                    + ((F.col("n_docs") - F.col("df")).cast("double") + 0.5)
                    / (F.col("df").cast("double") + 0.5)
                )
                * 1_000_000
                + 0.5
            )
            .cast("bigint")
            .alias("idf_micro"),
        )
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(_N_QUERY_TERMS)
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    contrib = (
        tf.join(F.broadcast(qterms), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                (F.col("idf_micro").cast("double") / 1_000_000)
                * (F.col("tf").cast("double") * (k1 + 1))
                / (
                    F.col("tf").cast("double")
                    + k1
                    * (1 - b + b * (F.col("dl").cast("double") / F.col("avgdl")))
                )
                * 1_000_000
                + 0.5
            )
            .cast("bigint")
            .alias("c_micro"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            round_half_up(
                F.sum("c_micro").cast("double") / 1_000_000, 4
            ).alias("bm25_score")
        )
        .orderBy(F.desc("bm25_score"), F.asc("doc_id"))
        .limit(20)
    )


_PMI_MIN_COUNT = 5


@register(
    "pmi_collocations",
    ulp_sensitive=True,
    oracle=rf"""
    WITH t AS (
      SELECT {DUCK_TOKS} AS l FROM documents
    ), uni AS (
      SELECT u.tok, count(*) AS c
      FROM t, unnest(l) AS u(tok)
      GROUP BY u.tok
    ), bi AS (
      SELECT b.ngram, count(*) AS c
      FROM t, unnest(list_transform(range(1, len(l)),
                                    i -> l[i] || ' ' || l[i+1])) AS b(ngram)
      WHERE len(l) >= 2
      GROUP BY b.ngram
    ), tot AS (
      SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS t_uni,
             (SELECT CAST(sum(c) AS BIGINT) FROM bi) AS t_bi
    )
    SELECT b.ngram AS bigram,
           CAST(b.c AS BIGINT) AS pair_count,
           {duck_round(
               "log2((CAST(b.c AS DOUBLE) * t.t_uni * t.t_uni)"
               " / (CAST(t.t_bi AS DOUBLE) * ua.c * ub.c))", 4)}
             AS pmi_bits
    FROM bi b
    JOIN uni ua ON ua.tok = string_split(b.ngram, ' ')[1]
    JOIN uni ub ON ub.tok = string_split(b.ngram, ' ')[2]
    CROSS JOIN tot t
    WHERE b.c >= {_PMI_MIN_COUNT}
    ORDER BY pmi_bits DESC, bigram ASC
    LIMIT 20
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information: score each
    corpus bigram (count >= _PMI_MIN_COUNT) by
    log2(p(ab) / (p(a)·p(b))) and return the top-20 — the classic
    phrase-detection pass (word2vec's phrase pre-join uses exactly this
    statistic). The ratio is computed as ONE double expression of exact
    integer counts, identically shaped on both engines, then quantized
    to 4 dp; tokens with a space can't occur (tokenizer splits on
    whitespace) so the bigram string splits back losslessly.

    100 TB shape: two vocabulary-sized aggregates; the unigram side of
    the scoring join broadcasts (vocab ≪ corpus) while the bigram table
    shuffles on its own key — the same deliberate-shuffle call as
    bigram_logprob_score (bigram vocab grows with corpus). Top-20 is
    TakeOrderedAndProject."""
    # arrays checkpointed: docs fans into the unigram AND bigram
    # aggregates (two corpus-scale consumers; r6 review finding)
    docs = _tok_docs(spark, sf_dir, checkpoint=True).select("l")
    uni = docs.select(F.explode("l").alias("tok")).groupBy("tok").agg(
        F.count("*").alias("c")
    )
    bi = (
        docs.where(F.size("l") >= 2)
        .select(F.explode(word_ngrams(F.col("l"), 2)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("t_uni")).crossJoin(
        bi.agg(F.sum("c").cast("bigint").alias("t_bi"))
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    scored = (
        bi.where(F.col("c") >= _PMI_MIN_COUNT)
        .withColumn("tok_a", F.split_part(F.col("ngram"), F.lit(" "), F.lit(1)))
        .withColumn("tok_b", F.split_part(F.col("ngram"), F.lit(" "), F.lit(2)))
        .join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("ngram").alias("bigram"),
            F.col("c").cast("bigint").alias("pair_count"),
            round_half_up(
                F.log2(
                    (F.col("c").cast("double") * F.col("t_uni") * F.col("t_uni"))
                    / (
                        F.col("t_bi").cast("double")
                        * F.col("c_a")
                        * F.col("c_b")
                    )
                ),
                4,
            ).alias("pmi_bits"),
        )
    )
    return scored.orderBy(F.desc("pmi_bits"), F.asc("bigram")).limit(20)


@register(
    "dedup_corpus_segments_rewrite",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKS} AS l FROM documents
    ), t2 AS (
      SELECT doc_id, l FROM t WHERE len(l) >= 1
    ), segs AS (
      SELECT doc_id, s.s AS seg_idx,
             array_to_string(l[s.s*{_SEG}+1 : s.s*{_SEG}+{_SEG}], ' ') AS seg,
             md5(array_to_string(l[s.s*{_SEG}+1 : s.s*{_SEG}+{_SEG}], ' '))
               AS h,
             len(l[s.s*{_SEG}+1 : s.s*{_SEG}+{_SEG}]) AS seg_len
      FROM t2,
           unnest(range(0, CAST(ceil(len(l) / {_SEG}.0) AS BIGINT))) AS s(s)
    ), cnt AS (
      SELECT h, count(*) AS c FROM segs GROUP BY h
    ), kept AS (
      SELECT s.doc_id, s.seg_idx, s.seg, s.seg_len
      FROM segs s JOIN cnt c ON s.h = c.h
      WHERE c.c < 2
    )
    SELECT t2.doc_id,
           CAST(count(k.seg_idx) AS BIGINT) AS n_kept_segments,
           CAST(coalesce(sum(k.seg_len), 0) AS BIGINT) AS clean_tokens,
           md5(coalesce(string_agg(k.seg, ' ' ORDER BY k.seg_idx ASC), ''))
             AS clean_hash
    FROM t2 LEFT JOIN kept k ON t2.doc_id = k.doc_id
    GROUP BY t2.doc_id
    """,
)
def dedup_corpus_segments_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSFORM half of C4-style span dedup: actually rebuild each
    document with every corpus-duplicated segment removed (in original
    segment order), reported as (kept segment count, surviving token
    count, md5 of the cleaned text — the hash keeps the registry row
    compact; drop the md5 to emit the cleaned corpus itself). A
    document whose every segment is boilerplate survives as the empty
    string, ready for a min-length filter downstream.

    100 TB shape: identical shuffle structure to dedup_corpus_segments
    (count on the fixed-width md5, join back, per-doc rollup) except
    the rollup necessarily carries segment TEXT — that is the rewrite's
    intrinsic cost, and it is linear, one pass, with the order restored
    by an in-group array_sort on (seg_idx, seg) structs rather than a
    per-doc window sort."""
    toks = _tok_docs(spark, sf_dir, checkpoint=True)
    seg_structs = F.transform(
        F.sequence(
            F.lit(0),
            F.ceil(F.size("l") / F.lit(float(_SEG))).cast("int") - 1,
        ),
        lambda s: F.struct(
            s.cast("bigint").alias("seg_idx"),
            F.array_join(
                F.slice(F.col("l"), s * _SEG + 1, F.lit(_SEG)), " "
            ).alias("seg"),
            F.size(F.slice(F.col("l"), s * _SEG + 1, F.lit(_SEG))).alias(
                "seg_len"
            ),
        ),
    )
    segs = (
        toks.select("doc_id", F.explode(seg_structs).alias("s"))
        .select(
            "doc_id",
            F.col("s.seg_idx").alias("seg_idx"),
            F.col("s.seg").alias("seg"),
            F.md5("s.seg").alias("h"),
            F.col("s.seg_len").alias("seg_len"),
        )
    )
    cnt = segs.groupBy("h").agg(F.count("*").alias("c"))
    kept = segs.join(cnt, "h").where(F.col("c") < 2)
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept_segments"),
        F.sum("seg_len").cast("bigint").alias("clean_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        toks.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_kept_segments", F.lit(0)).cast("bigint").alias(
                "n_kept_segments"
            ),
            F.coalesce("clean_tokens", F.lit(0)).cast("bigint").alias(
                "clean_tokens"
            ),
            F.md5(F.coalesce("clean_text", F.lit(""))).alias("clean_hash"),
        )
    )


_PIPE_LANGS = ("en", "fr", "es", "de")  # language gate (drops zh)
_PIPE_MIN_TOKENS = 12


@register(
    "pretrain_corpus_pipeline",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, source, lang, {DUCK_TOKS} AS l FROM documents
    ), gated AS (
      SELECT doc_id, source, l FROM t
      WHERE lang IN {_PIPE_LANGS!r} AND len(l) >= {_PIPE_MIN_TOKENS}
    ), segs AS (
      SELECT doc_id,
             md5(array_to_string(l[s.s*{_SEG}+1 : s.s*{_SEG}+{_SEG}], ' '))
               AS h,
             len(l[s.s*{_SEG}+1 : s.s*{_SEG}+{_SEG}]) AS seg_len
      FROM gated,
           unnest(range(0, CAST(ceil(len(l) / {_SEG}.0) AS BIGINT))) AS s(s)
    ), cnt AS (
      SELECT h, count(*) AS c FROM segs GROUP BY h
    ), cleaned AS (
      SELECT s.doc_id,
             CAST(sum(CASE WHEN c.c < 2 THEN s.seg_len ELSE 0 END) AS BIGINT)
               AS clean_tokens
      FROM segs s JOIN cnt c ON s.h = c.h
      GROUP BY s.doc_id
    ), per_doc AS (
      SELECT g.source, g.doc_id, cl.clean_tokens,
             CASE WHEN cl.clean_tokens >= 1
                  THEN CAST(ceil(cl.clean_tokens / {_CHUNK_W}.0) AS BIGINT)
                  ELSE 0 END AS n_chunks
      FROM gated g JOIN cleaned cl ON g.doc_id = cl.doc_id
    ), in_counts AS (
      SELECT source, count(*) AS n_docs_in FROM t GROUP BY source
    )
    SELECT i.source,
           i.n_docs_in,
           CAST(coalesce(count(p.doc_id), 0) AS BIGINT) AS n_docs_gated,
           CAST(coalesce(sum(CASE WHEN p.clean_tokens >= 1 THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_docs_kept,
           CAST(coalesce(sum(p.n_chunks), 0) AS BIGINT) AS n_chunks,
           CAST(coalesce(sum(p.clean_tokens), 0) AS BIGINT)
             AS n_tokens_packed
    FROM in_counts i LEFT JOIN per_doc p ON i.source = p.source
    GROUP BY i.source, i.n_docs_in
    """,
)
def pretrain_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pretraining corpus construction in ONE Catalyst plan:
    language + min-length gate → corpus-wide C4-style segment dedup →
    fixed-width chunk accounting, rolled up per source. The composition
    is the point: every stage is the same declarative operator the
    standalone entries use (the reference's flagship is likewise an
    end-to-end chain, example/main.py:59-137 — this is its curation-era
    analog), so Catalyst fuses the gate into the scan, prunes columns,
    and schedules the two corpus shuffles (segment count, per-doc
    rollup) back to back.

    100 TB shape: the gate is a pushed-down scan filter (cuts the
    corpus BEFORE the first shuffle); everything downstream inherits
    dedup_corpus_segments' fixed-width-key shuffles; the final rollup
    is table-partition-sized (one row per source)."""
    return pipeline_from_docs(table(spark, sf_dir, "documents"))


def pipeline_from_docs(d: DataFrame) -> DataFrame:
    """Parameterized core of pretrain_corpus_pipeline, shared with the
    amplified bench: input is any (doc_id, source, lang, text[, salt])
    frame. An optional ``salt`` column is folded into the segment hash
    so bench replicas behave as independent corpora (segment collisions
    stay within-replica — the minhash_pairs_from_docs convention)."""
    salted = "salt" in d.columns
    # arrays checkpointed: t fans into the gate AND the per-source
    # input counts, and gated's segment stage feeds two more consumers
    # — without the barrier the scan+tokenize re-runs per subtree
    # (r6 review finding)
    t = d.select(
        "doc_id",
        "source",
        "lang",
        tokenize_words_nonempty("text").alias("l"),
        *([F.col("salt")] if salted else []),
    ).localCheckpoint(eager=True)
    gated = t.where(
        F.col("lang").isin(*_PIPE_LANGS)
        & (F.size("l") >= _PIPE_MIN_TOKENS)
    ).select(
        "doc_id", "source", "l", *([F.col("salt")] if salted else [])
    )
    def _seg_hash(s):
        joined = F.array_join(
            F.slice(F.col("l"), s * _SEG + 1, F.lit(_SEG)), " "
        )
        if salted:
            joined = F.concat(F.col("salt"), F.lit("|"), joined)
        return F.md5(joined)

    seg_structs = F.transform(
        F.sequence(
            F.lit(0),
            F.ceil(F.size("l") / F.lit(float(_SEG))).cast("int") - 1,
        ),
        lambda s: F.struct(
            _seg_hash(s).alias("h"),
            F.size(F.slice(F.col("l"), s * _SEG + 1, F.lit(_SEG))).alias(
                "seg_len"
            ),
        ),
    )
    segs = gated.select(
        "doc_id", F.explode(seg_structs).alias("s")
    ).select("doc_id", F.col("s.h").alias("h"), F.col("s.seg_len").alias("seg_len"))
    cnt = segs.groupBy("h").agg(F.count("*").alias("c"))
    cleaned = (
        segs.join(cnt, "h")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("c") < 2, F.col("seg_len")).otherwise(0))
            .cast("bigint")
            .alias("clean_tokens")
        )
    )
    per_doc = gated.join(cleaned, "doc_id").select(
        "source",
        "doc_id",
        "clean_tokens",
        F.when(
            F.col("clean_tokens") >= 1,
            F.ceil(F.col("clean_tokens") / F.lit(float(_CHUNK_W))).cast(
                "bigint"
            ),
        )
        .otherwise(F.lit(0))
        .alias("n_chunks"),
    )
    in_counts = t.groupBy("source").agg(F.count("*").alias("n_docs_in"))
    return (
        in_counts.join(per_doc, "source", "left")
        .groupBy("source", "n_docs_in")
        .agg(
            F.coalesce(F.count("doc_id"), F.lit(0))
            .cast("bigint")
            .alias("n_docs_gated"),
            F.coalesce(
                F.sum((F.col("clean_tokens") >= 1).cast("bigint")), F.lit(0)
            )
            .cast("bigint")
            .alias("n_docs_kept"),
            F.coalesce(F.sum("n_chunks"), F.lit(0))
            .cast("bigint")
            .alias("n_chunks"),
            F.coalesce(F.sum("clean_tokens"), F.lit(0))
            .cast("bigint")
            .alias("n_tokens_packed"),
        )
    )


# ---- winnowing ----------------------------------------------------------
#
# Schleimer/Wilkerson/Aiken 2003 ("Winnowing: Local Algorithms for
# Document Fingerprinting", the MOSS algorithm): hash every k-char
# shingle, slide a w-hash window, keep the MINIMUM hash per window
# (rightmost on ties), dedup the selections. Guarantees: at least one
# fingerprint per w+k-1 char span, and any shared substring of length
# >= w+k-1 between two documents yields at least one IDENTICAL selected
# fingerprint — the property that makes it a plagiarism/near-dup
# primitive that pure bag-of-words hashing lacks.
#
# Cross-engine determinism: the hash is md5 hex (bit-identical on both
# engines); "min hash, rightmost position" is encoded as the plain
# string min of  md5 || '#' || lpad(999999 - pos)  so a single least()
# per window implements the tie rule on both engines. Document length
# is capped well below 999999 chars by the encoding; the guard below
# raises loudly if a fixture vintage ever exceeds it.

_WIN_K = 5  # shingle width (chars)
_WIN_W = 4  # window width (hashes)
_WIN_POS_CAP = 999_999

# Window-minimum operand list and the whole CTE chain are GENERATED
# from (k, w) on BOTH engines so tuning a knob can never desynchronize
# them (the _CONTAM_N / _DUCK_GRAM lesson). The generators take
# explicit (k, w) — the module constants are only defaults — so
# tests/test_winnowing_lockstep.py can re-run engine-vs-oracle at
# PERTURBED knob values and pin the lockstep mechanically (VERDICT r07
# item 2: the regression class where one side hard-codes an operand
# count and a later knob tweak silently skews only that side).


def _win_least_sql(w: int) -> str:
    return (
        "least("
        + ", ".join(f"e[j+{off}]" if off else "e[j]" for off in range(w))
        + ")"
    )


def win_ctes_sql(k: int = _WIN_K, w: int = _WIN_W) -> str:
    """Winnowing CTE chain through the selected-hash set
    ``sel(doc_id, d)`` — shared by the fingerprint rollup entry and the
    near-dup pair join."""
    return rf"""
    WITH t AS (
      SELECT doc_id, {duck_jlower("text")} AS low FROM documents
      WHERE length({duck_jlower("text")}) >= {k + w - 1}
    ), enc AS (
      SELECT doc_id,
             list_transform(
               range(1, length(low) - {k - 1} + 1),
               i -> md5(substr(low, CAST(i AS INT), {k})) || '#' ||
                    lpad(CAST({_WIN_POS_CAP} - i AS VARCHAR), 6, '0')
             ) AS e
      FROM t
    ), sel AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(e) - {w - 1} + 1),
               j -> {_win_least_sql(w)}
             )) AS d
      FROM enc
    )"""


_WIN_CTES = win_ctes_sql()


def win_fingerprint_oracle(k: int = _WIN_K, w: int = _WIN_W) -> str:
    """Full fingerprint-rollup oracle for a given (k, w) — the tail's
    substr offsets are md5/positional-encoding widths, knob-independent."""
    return win_ctes_sql(k, w) + rf""", ordered AS (
      SELECT doc_id,
             list_sort(list_transform(
               d,
               x -> lpad(CAST({_WIN_POS_CAP}
                              - CAST(substr(x, 34, 6) AS BIGINT) AS VARCHAR),
                         6, '0') || substr(x, 1, 32)
             )) AS s
      FROM sel
    )
    SELECT doc_id,
           CAST(len(s) AS BIGINT) AS n_fingerprints,
           md5(array_to_string(list_transform(s, x -> substr(x, 7, 32)), ''))
             AS fingerprint
    FROM ordered
    """


@register(
    "text_winnowing_fingerprint",
    oracle=win_fingerprint_oracle(),
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (MOSS): per document, the set of
    window-minimum k-gram hashes, summarized as (count, md5 of the
    position-ordered selected hashes). Two documents sharing any
    substring of >= _WIN_W + _WIN_K - 1 chars share at least one
    selected hash — join the exploded selections to find near-dups; the
    rolled-up md5 here keeps the registry row compact.

    100 TB shape: map-only — every step is array HOFs over the row's
    own materialized string (each projection materializes its input
    column first, so no HOF re-derives upstream expressions); zero
    shuffles. The w-wide window min is a constant-arity least(), not a
    window function, so there's no per-doc sort either."""
    d = table(spark, sf_dir, "documents")
    base = d.select("doc_id", F.lower("text").alias("low")).where(
        F.length("low") >= _WIN_K + _WIN_W - 1
    )
    return winnow_fingerprints(base)


def winnow_fingerprints(
    base: DataFrame,
    rollup: bool = True,
    k: int = _WIN_K,
    w: int = _WIN_W,
) -> DataFrame:
    """Core winnowing pass over a (doc_id, low) frame — split out so the
    shared-substring guarantee is testable on constructed documents
    (tests/test_corpus_ops.py). ``rollup=False`` returns the exploded
    (doc_id, pos, kgram_hash) selections — the join-able form a
    near-dup pass would self-join on kgram_hash. ``k``/``w`` default to
    the module knobs; tests/test_winnowing_lockstep.py runs perturbed
    values against ``win_fingerprint_oracle(k, w)``."""
    # docs too short to hold one full window select nothing (the Python
    # reference returns the empty set for them); without this filter the
    # sequence() bound goes DESCENDING and element_at reads out of
    # range — a job-killing crash under ANSI mode (r6 review finding)
    base = base.where(F.length("low") >= k + w - 1)
    # documents anywhere near the positional-encoding cap would corrupt
    # the tie order silently — fail loudly instead (fixture max is ~1e3)
    base = base.select(
        "doc_id",
        F.when(
            F.length("low") < _WIN_POS_CAP - 1, F.col("low")
        ).otherwise(
            F.raise_error(
                F.lit(
                    "text_winnowing_fingerprint: document exceeds the "
                    f"{_WIN_POS_CAP}-char positional encoding cap"
                )
            )
        ).alias("low"),
    )
    enc = base.select(
        "doc_id",
        F.transform(
            # upper bound clamped to >=1: sequence(1, n<1) would go
            # DESCENDING through 0/negative positions (see sel below)
            F.sequence(
                F.lit(1),
                F.greatest(F.length("low") - (k - 1), F.lit(1)),
            ),
            lambda i: F.concat(
                F.md5(F.col("low").substr(i, F.lit(k))),
                F.lit("#"),
                F.lpad((F.lit(_WIN_POS_CAP) - i).cast("string"), 6, "0"),
            ),
        ).alias("e"),
    )
    # try_element_at, not element_at: the length pre-filter guarantees
    # every index is in range for rows that SURVIVE it, but Spark's
    # InferFiltersFromGenerate pushes an inferred size()>0 predicate
    # BELOW that filter, so the array pipeline can be evaluated against
    # short rows it would later drop — the expression must be total or
    # ANSI mode kills the job on a 5-char doc (r6 review finding)
    sel = enc.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("e") - (w - 1), F.lit(1)),
                ),
                lambda j: F.least(
                    *[
                        F.try_element_at("e", j + off) if off
                        else F.try_element_at("e", j)
                        for off in range(w)
                    ]
                ),
            )
        ).alias("d"),
    )
    ordered = sel.select(
        "doc_id",
        F.array_sort(
            F.transform(
                F.col("d"),
                lambda x: F.concat(
                    F.lpad(
                        (
                            F.lit(_WIN_POS_CAP)
                            - F.substring(x, 34, 6).cast("bigint")
                        ).cast("string"),
                        6,
                        "0",
                    ),
                    F.substring(x, 1, 32),
                ),
            )
        ).alias("s"),
    )
    if not rollup:
        # materialization barrier BEFORE the explode: Generate(explode)
        # makes InferFiltersFromGenerate inject a size(s)>0 filter, and
        # CollapseProject inlines the WHOLE enc→sel→ordered HOF chain
        # into that filter — with `e` re-derived inside every least()
        # element access, i.e. O(n²·w) md5 evaluations per document
        # (measured: 20 docs took 30s). The checkpoint pins `s` as data
        # so the inferred filter tests a materialized array. The rollup
        # branch needs no barrier — it never generates.
        ordered = ordered.localCheckpoint(eager=True)
        return ordered.select(
            "doc_id", F.explode("s").alias("pf")
        ).select(
            "doc_id",
            F.substring("pf", 1, 6).cast("bigint").alias("pos"),
            F.substring("pf", 7, 32).alias("kgram_hash"),
        )
    return ordered.select(
        "doc_id",
        F.size("s").cast("bigint").alias("n_fingerprints"),
        F.md5(
            F.array_join(
                F.transform(F.col("s"), lambda x: F.substring(x, 7, 32)), ""
            )
        ).alias("fingerprint"),
    )


_WIN_DF_CAP = 10  # drop fingerprints selected by more than this many docs
_WIN_MIN_SHARED = 2  # pair threshold: >= this many shared fingerprints


@register(
    "winnowing_neardup_pairs",
    oracle=_WIN_CTES
    + f""", h AS (
      SELECT DISTINCT doc_id, substr(u.x, 1, 32) AS kh
      FROM sel, unnest(d) AS u(x)
    ), keepable AS (
      SELECT kh FROM h GROUP BY kh HAVING count(*) <= {_WIN_DF_CAP}
    ), hp AS (
      SELECT h.doc_id, h.kh FROM h JOIN keepable USING (kh)
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM hp a JOIN hp b ON a.kh = b.kh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared_fingerprints
    FROM pairs WHERE shared >= {_WIN_MIN_SHARED}
    """,
)
def winnowing_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-form consumer of the winnowing fingerprints (MOSS's
    actual detection step): candidate near-dup pairs = documents
    sharing ≥ _WIN_MIN_SHARED selected k-gram hashes, after dropping ubiquitous
    fingerprints (selected by > _WIN_DF_CAP docs). By the winnowing
    guarantee, any shared substring of ≥ w+k−1 chars forces a shared
    selected hash, so every substantial overlap surfaces here.

    100 TB shape: the same blocked self-join discipline as the shingle
    dedup family — postings shuffle once on the fingerprint hash, the
    df-cap bounds every posting list (max pairs per fingerprint =
    CAP²), and winnowing's 2/(w+1) selection density means postings
    are ~(w+1)/2 ≈ 2.5× smaller than the full k-gram posting table the naive
    approach would join."""
    d = table(spark, sf_dir, "documents")
    base = d.select("doc_id", F.lower("text").alias("low")).where(
        F.length("low") >= _WIN_K + _WIN_W - 1
    )
    # r13 optimization round (guide §2.4; the linkpred C(d,2) shape):
    # the pair stage used to join the postings table against a
    # df-capped keepable set and then SELF-JOIN it on the 32-char md5
    # hex — the posting table crossed three exchanges keyed on 32-byte
    # strings. The df-cap bounds every posting list at _WIN_DF_CAP
    # docs, so ONE collect_list aggregate (postings shuffle once on
    # kh) plus a map-side C(d,2) explode of the sorted list replaces
    # the keepable join AND the self-join; doc_a < doc_b falls out of
    # the sort order. The isNotNull guard reproduces the old join
    # semantics exactly (a NULL kh never equi-joined, so it never
    # paired; unreachable on real fingerprints, guarded anyway).
    # Bit-identical at two SFs (sf0.001, sf0.01):
    # tests/test_winnowing_rewrite.py.
    h = (
        winnow_fingerprints(base, rollup=False)
        .select("doc_id", F.col("kgram_hash").alias("kh"))
        .distinct()
    )
    # r14 (ADVICE r13): enforce the df-cap BEFORE collect_list. The r13
    # shape filtered on size(ds) AFTER the aggregate, so an over-cap
    # hot fingerprint still materialized its full posting list in one
    # aggregation buffer before being discarded — an OOM/skew hazard
    # on corpora with ubiquitous k-grams. The pre-count is a
    # constant-memory-per-key aggregate (map-side combined partials,
    # never a posting list), and its filtered key set semi-joins the
    # postings BEFORE collect_list — broadcast at this scale per the
    # captured plan (plans/r14/winnowing_neardup_pairs_after.txt), a
    # kh-keyed shuffle join at a scale where the kept-key set outgrows
    # the threshold (AQE's call; either way no list aggregate sees an
    # over-cap key). So the df-cap now genuinely bounds EVERY
    # materialized posting list. h is distinct on (doc_id, kh), so
    # count(*) per kh equals the old size(ds) exactly — same kept
    # keys, same lists.
    hs = h.where(F.col("kh").isNotNull())
    keepable = (
        hs.groupBy("kh")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= _WIN_DF_CAP))
        .select("kh")
    )
    post = (
        hs.join(keepable, "kh", "left_semi")
        .groupBy("kh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    )
    pairs = post.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.slice("ds", 1, F.size("ds") - 1),
                    lambda a, i: F.transform(
                        F.slice("ds", i + 2, F.size("ds")),
                        lambda b: F.struct(
                            a.alias("doc_a"), b.alias("doc_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= _WIN_MIN_SHARED)
    )


@register(
    "segment_novelty_rate",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKS} AS l FROM documents
    ), t2 AS (
      SELECT doc_id, l FROM t WHERE len(l) >= 1
    ), segs AS (
      SELECT doc_id,
             md5(array_to_string(l[s.s*{_SEG}+1 : s.s*{_SEG}+{_SEG}], ' '))
               AS h
      FROM t2,
           unnest(range(0, CAST(ceil(len(l) / {_SEG}.0) AS BIGINT))) AS s(s)
    ), corpus AS (
      SELECT DISTINCT h FROM segs WHERE doc_id % 2 = 0
    ), batch AS (
      SELECT doc_id, h FROM segs WHERE doc_id % 2 = 1
    )
    SELECT b.doc_id,
           count(*) AS n_segments,
           CAST(sum(CASE WHEN c.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           (floor(CAST(sum(CASE WHEN c.h IS NULL THEN 1 ELSE 0 END)
                       AS DOUBLE) / count(*) * 10000 + 0.5) / 10000)
             AS novelty_rate
    FROM batch b LEFT JOIN corpus c ON b.h = c.h
    GROUP BY b.doc_id
    """,
)
def segment_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-snapshot novelty measurement: how much of a new
    crawl batch (odd doc_ids — the deterministic fixture split, as in
    dedup_incremental_minhash) is content the existing corpus (even
    doc_ids) has never seen, at segment granularity. Per batch doc:
    segment count, segments absent from the corpus segment-hash set,
    and the novelty rate — the continual-pretraining gate that decides
    whether a snapshot is worth ingesting before any expensive
    processing runs.

    100 TB shape: batch segments anti-probe the corpus hash SET — at
    scale the corpus side is a pre-built bucketed hash table (or a
    Bloom pre-filter, tests/test_bloom_pruning.py shape) so the probe
    is batch-sized work against corpus-sized state, exactly like
    dedup_incremental_minhash's batch×corpus contract: never
    corpus×corpus."""
    toks = _tok_docs(spark, sf_dir, checkpoint=True)
    segs = toks.select(
        "doc_id", F.explode(segment_hash_structs()).alias("s")
    ).select("doc_id", F.col("s.h").alias("h"))
    corpus = (
        segs.where(F.col("doc_id") % 2 == 0).select("h").distinct()
        .withColumn("seen", F.lit(1))
    )
    batch = segs.where(F.col("doc_id") % 2 == 1)
    return (
        batch.join(corpus, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
            round_half_up(
                F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*"),
                4,
            ).alias("novelty_rate"),
        )
    )


# ---- NDCG@10 ranking-quality evaluation ----------------------------------

_NDCG_K = 10


def _register_ndcg_eval() -> None:
    from tiny_etl_multiproc_bigdata_spark.plans.registry import REGISTRY

    bm_sql = REGISTRY["bm25_doc_scores"].oracle

    # graded relevance: how many of the query's terms the doc contains
    # (0..N_QUERY_TERMS). The query-term CTE repeats bm25's top-df
    # selection GENERATED from the same module constants, so tuning
    # _N_QUERY_TERMS moves both entries together.
    oracle = f"""
    WITH toks AS (
      SELECT doc_id, unnest({DUCK_TOKS}) AS tok FROM documents
    ), df AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
    ), qterms AS (
      SELECT tok FROM df ORDER BY df DESC, tok ASC LIMIT {_N_QUERY_TERMS}
    ), grades AS (
      SELECT t.doc_id, CAST(count(DISTINCT t.tok) AS BIGINT) AS grade
      FROM toks t JOIN qterms q ON t.tok = q.tok
      GROUP BY t.doc_id
    ), bm AS ({bm_sql}),
    ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25_score DESC, doc_id ASC) AS r
      FROM bm
    ), dcg AS (
      SELECT CAST(sum(CAST(floor(
               CAST(COALESCE(g.grade, 0) AS DOUBLE) / log2(rk.r + 1)
               * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS dcg_micro
      FROM ranked rk LEFT JOIN grades g ON rk.doc_id = g.doc_id
      WHERE rk.r <= {_NDCG_K}
    ), ideal AS (
      SELECT grade,
             row_number() OVER (ORDER BY grade DESC, doc_id ASC) AS r
      FROM grades
    ), idcg AS (
      SELECT CAST(sum(CAST(floor(
               CAST(grade AS DOUBLE) / log2(r + 1) * 1000000 + 0.5)
               AS BIGINT)) AS BIGINT) AS idcg_micro
      FROM ideal WHERE r <= {_NDCG_K}
    )
    SELECT dcg_micro, idcg_micro,
           {duck_round("CAST(dcg_micro AS DOUBLE) / idcg_micro", 4)}
             AS ndcg_at_k
    FROM dcg, idcg
    """

    @register("ndcg_ranking_eval", ulp_sensitive=True, oracle=oracle)
    def ndcg_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """NDCG@{K} of the BM25 ranking (Järvelin & Kekäläinen 2002)
        against graded relevance = how many of the query's terms each
        document contains — the standard offline ranking-quality
        protocol, completing the retrieval-eval tier beside the ANN
        recall entries (which this mirrors by COMPOSING the registered
        bm25_doc_scores entry unchanged). Per-rank gains grade/log2(r+1)
        quantize to integer micro-units before both sums (ulp log2);
        NDCG is then one exact integer ratio.

        100 TB shape: the ranked list is K rows; the only corpus-scale
        work is the grade table (one partially-aggregated semi-join of
        the token stream against the broadcast query terms) and the
        ideal-ordering top-K, which is TakeOrdered — no global sort."""
        from tiny_etl_multiproc_bigdata_spark.plans.registry import (
            REGISTRY as _R,
        )

        bm = _R["bm25_doc_scores"].fn(spark, sf_dir)
        arr = _tok_docs(spark, sf_dir, checkpoint=True)
        toks = arr.select("doc_id", F.explode("l").alias("tok"))
        df_ = toks.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
        qterms = (
            df_.orderBy(F.desc("df"), F.asc("tok"))
            .limit(_N_QUERY_TERMS)
            .select("tok")
        )
        grades = (
            toks.join(F.broadcast(qterms), "tok")
            .groupBy("doc_id")
            .agg(F.count_distinct("tok").cast("bigint").alias("grade"))
            .localCheckpoint(eager=True)  # feeds DCG join AND ideal top-K
        )
        wr = Window.orderBy(F.desc("bm25_score"), F.asc("doc_id"))
        ranked = (
            bm.withColumn("r", F.row_number().over(wr))
            .filter(F.col("r") <= _NDCG_K)
            .join(grades, "doc_id", "left")
        )
        gain = (
            F.floor(
                F.coalesce(F.col("grade"), F.lit(0)).cast("double")
                / F.log2(F.col("r") + 1)
                * 1_000_000
                + F.lit(0.5)
            )
            .cast("bigint")
        )
        dcg = ranked.agg(F.sum(gain).cast("bigint").alias("dcg_micro"))
        # TakeOrderedAndProject shrinks the corpus-sized grade table to
        # K rows BEFORE the rank window touches it (orderBy+limit, not
        # a rank-filtered global window)
        topk = grades.orderBy(F.desc("grade"), F.asc("doc_id")).limit(_NDCG_K)
        wi = Window.orderBy(F.desc("grade"), F.asc("doc_id"))
        ideal = topk.withColumn("r", F.row_number().over(wi))
        igain = (
            F.floor(
                F.col("grade").cast("double") / F.log2(F.col("r") + 1)
                * 1_000_000
                + F.lit(0.5)
            )
            .cast("bigint")
        )
        idcg = ideal.agg(F.sum(igain).cast("bigint").alias("idcg_micro"))
        return (
            dcg.crossJoin(F.broadcast(idcg))
            .select(
                "dcg_micro",
                "idcg_micro",
                round_half_up(
                    F.col("dcg_micro").cast("double") / F.col("idcg_micro"), 4
                ).alias("ndcg_at_k"),
            )
        )


_register_ndcg_eval()


# ---- vocabulary coverage curve ---------------------------------------------

_COV_KS = (100, 1_000, 10_000)


@register(
    "vocab_coverage_curve",
    oracle=f"""
    WITH freq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS f
      FROM (SELECT unnest({DUCK_TOKS}) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT row_number() OVER (ORDER BY f DESC, tok ASC) AS rnk, f
      FROM freq
    ),
    tot AS (SELECT CAST(sum(f) AS BIGINT) AS t,
                   CAST(count(*) AS BIGINT) AS v FROM ranked)
    SELECT k, CAST(least(k, tot.v) AS BIGINT) AS vocab_used,
           CAST(sum(r.f) AS BIGINT) AS tokens_covered,
           (floor(CAST(sum(r.f) AS DOUBLE) / tot.t * 1000000 + 0.5)
            / 1000000) AS coverage
    FROM ranked r
    CROSS JOIN tot
    JOIN (SELECT CAST(unnest([{", ".join(str(k) for k in _COV_KS)}])
                      AS BIGINT) AS k) ks
      ON r.rnk <= ks.k
    GROUP BY k, tot.t, tot.v
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage of a top-k vocabulary, k in {KS}: what
    fraction of all corpus tokens a truncated vocab captures — the
    table that sizes a tokenizer's vocab (and prices its OOV rate:
    1 - coverage is exactly the UNK mass a top-k word-level vocab
    pays). The cumulative twin of zipf_fit_slope (slope says HOW the
    tail decays; this says what cutting it costs) and the corpus-level
    complement of tokenizer_vocab_coverage (which scores docs against
    a fixed vocab). Rank ties broken (freq DESC, token ASC) —
    deterministic; coverage is one exact integer ratio per k.

    100 TB shape: one token-histogram shuffle (vocabulary-bounded),
    one rank window over the bounded vocab table, and the k-membership
    join fans each vocab row into at most |KS| groups. The corpus is
    scanned once."""
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokenize_words_nonempty("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    ranked = freq.select(
        F.row_number()
        .over(Window.orderBy(F.desc("f"), F.asc("tok")))
        .alias("rnk"),
        "f",
    ).localCheckpoint(eager=True)  # consumers: totals + the k-band join
    tot = ranked.agg(
        F.sum("f").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _COV_KS])).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .join(F.broadcast(ks), F.col("rnk") <= F.col("k"))
        .groupBy("k", "t", "v")
        .agg(F.sum("f").cast("bigint").alias("tokens_covered"))
        .select(
            "k",
            F.least(F.col("k"), F.col("v")).cast("bigint").alias("vocab_used"),
            "tokens_covered",
            round_half_up(
                F.col("tokens_covered").cast("double") / F.col("t"), 6
            ).alias("coverage"),
        )
    )


# ---- repeated-segment provenance --------------------------------------------

_PROV_TOPK = 20


@register(
    "segment_provenance_topk",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKS} AS l FROM documents
    ), t2 AS (
      SELECT doc_id, l FROM t WHERE len(l) >= 1
    ), segs AS (
      SELECT doc_id,
             md5(array_to_string(l[s.s*{_SEG}+1 : s.s*{_SEG}+{_SEG}], ' '))
               AS h
      FROM t2,
           unnest(range(0, CAST(ceil(len(l) / {_SEG}.0) AS BIGINT))) AS s(s)
    )
    SELECT h AS segment_hash,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM segs GROUP BY h
    HAVING count(*) >= 2
    ORDER BY n_occurrences DESC, segment_hash ASC
    LIMIT {_PROV_TOPK}
    """,
)
def segment_provenance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance of the WORST repeated spans: the top-{K} duplicated
    {SEG}-token segments with occurrence count, spanning-document
    count and first-seen doc — the drill-down behind
    dedup_corpus_segments' per-doc counts (that entry says HOW MUCH of
    each doc is boilerplate; this says WHICH spans, where they came
    from, and whether they repeat within documents — n_occurrences >>
    n_docs — or across them). Shares the segment_hash_structs
    boundary definition verbatim, so the spans named here are exactly
    the ones the dedup pass would remove.

    100 TB shape: one segment shuffle on the fixed-width md5 key (the
    audited dedup_corpus_segments shape), partial-agg'd counts, and a
    global top-{K} of the already-aggregated table. The two-level
    distinct-doc count is the standard (h, doc) pre-dedup."""
    toks = _tok_docs(spark, sf_dir)
    segs = toks.select(
        "doc_id", F.explode(segment_hash_structs()).alias("s")
    ).select("doc_id", F.col("s.h").alias("h"))
    return (
        segs.groupBy(F.col("h").alias("segment_hash"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .filter(F.col("n_occurrences") >= 2)
        .orderBy(F.desc("n_occurrences"), F.asc("segment_hash"))
        .limit(_PROV_TOPK)
    )


# ---- cross-source overlap matrix --------------------------------------------


@register(
    "source_overlap_matrix",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, source, {DUCK_TOKS} AS l FROM documents
    ), t2 AS (
      SELECT doc_id, source, l FROM t WHERE len(l) >= 1
    ), segs AS (
      SELECT DISTINCT source,
             md5(array_to_string(l[s.s*{_SEG}+1 : s.s*{_SEG}+{_SEG}], ' '))
               AS h
      FROM t2,
           unnest(range(0, CAST(ceil(len(l) / {_SEG}.0) AS BIGINT))) AS s(s)
    ),
    per_src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_segs FROM segs
      GROUP BY source
    ),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM segs a JOIN segs b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s.source_a, s.source_b, s.n_shared,
           (floor(CAST(s.n_shared AS DOUBLE) / pa.n_segs * 10000 + 0.5)
            / 10000) AS containment_a,
           (floor(CAST(s.n_shared AS DOUBLE) / pb.n_segs * 10000 + 0.5)
            / 10000) AS containment_b
    FROM shared s
    JOIN per_src pa ON s.source_a = pa.source
    JOIN per_src pb ON s.source_b = pb.source
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE contamination matrix: for every source pair, how
    many distinct {SEG}-token segments they share, as a containment
    fraction of EACH side (asymmetric on purpose — a small source
    living inside a big crawl shows containment_small >> 1%, the
    mirror of decontaminate_eval_overlap where one side is an eval
    set). This is the audit run before mixing sources
    (mix_weights_temperature): double-counted corpora silently
    up-weight their shared content. Segment boundaries are the
    registered dedup definition; every number is an exact integer
    ratio.

    100 TB shape: distinct (source, segment) pre-dedup bounds state by
    unique segments; the pair join shuffles on the segment hash and
    fans out only where sources actually collide (its cost IS the
    contamination being measured); per-source totals broadcast onto
    the |sources|^2-bounded result."""
    toks = _tok_docs(spark, sf_dir, checkpoint=False)
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    segs = (
        toks.join(d, "doc_id")
        .select("source", F.explode(segment_hash_structs()).alias("s"))
        .select("source", F.col("s.h").alias("h"))
        .distinct()
        .localCheckpoint(eager=True)  # consumers: totals + 2 join arms
    )
    per_src = segs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segs")
    )
    a = segs.select(F.col("source").alias("source_a"), "h")
    b = segs.select(F.col("source").alias("source_b"), "h")
    shared = (
        a.join(b, "h")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    pa = per_src.select(
        F.col("source").alias("source_a"), F.col("n_segs").alias("na")
    )
    pb = per_src.select(
        F.col("source").alias("source_b"), F.col("n_segs").alias("nb")
    )
    return (
        shared.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            round_half_up(
                F.col("n_shared").cast("double") / F.col("na"), 4
            ).alias("containment_a"),
            round_half_up(
                F.col("n_shared").cast("double") / F.col("nb"), 4
            ).alias("containment_b"),
        )
    )
