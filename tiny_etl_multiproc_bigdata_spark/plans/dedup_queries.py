"""Corpus deduplication operators (training-data pipeline north-star):
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Hash portability: every hash derives from md5 (bit-identical across
engines — see functions/hashing.py) so each operator has a true DuckDB
oracle. Spark's native xxhash64 would be ~3x faster and is the drop-in
at production scale; the construction (shingle → minhash → band →
bucket-join) is identical.

Scale shape (100 TB corpus):
* exact dedup — one shuffle on the content hash; map-side partial agg.
* MinHash LSH — per-row signature (no shuffle), explode to (band,key)
  rows, shuffle on band-key; bucket sizes are the skew risk, so the
  band key includes the band id and candidate pairs are deduped before
  verification. This is the standard near-dup pipeline shape.
* SimHash — explode tokens → one groupBy(doc) with 32 bit-sums; a
  second pass groups by the 64/32-bit key.
* embedding cosine — label-blocked self-join (blocking keys bound the
  quadratic term); at real scale the blocks come from LSH/IVF
  (vector_queries.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.numerics import in_grid_domain
from tiny_etl_multiproc_bigdata_spark.functions.hashing import (
    duck_md5_long,
    md5_long,
)
from tiny_etl_multiproc_bigdata_spark.functions.rounding import round_half_up
from tiny_etl_multiproc_bigdata_spark.functions.vectors import (
    complete_vector_sql,
    duck_cosine,
    is_complete_vector,
)
from tiny_etl_multiproc_bigdata_spark.functions.text import (
    DUCK_TOKS,
    tokenize_words_nonempty,
)
from tiny_etl_multiproc_bigdata_spark.functions.timedomain import (
    epoch_us_ntz,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import register

_N_HASHES = 8
_N_BANDS = 4  # 2 rows per band


def _tokens(col):
    return tokenize_words_nonempty(col)


def _shingles(col):
    """Distinct word-3-gram shingles of a text column (empty array for
    docs under 3 tokens). Shifted-slice construction via
    functions.text.word_ngrams — see its docstring for why this is not
    a transform/element_at HOF.

    Prefer ``_shingled_docs`` for whole-DataFrame shingling: as a bare
    expression the token array is re-derived per reference inside
    word_ngrams (7 textual copies of tokenize per shingle expression),
    and a filter on the result gets pushed below the projection and
    duplicates the entire derivation again (r13 optimization round:
    21 copies of ``split(lower(text))`` in one shingle plan)."""
    from tiny_etl_multiproc_bigdata_spark.functions.text import word_ngrams

    return F.array_distinct(word_ngrams(_tokens(col), 3))


def _shingled_docs(d: DataFrame) -> DataFrame:
    """(doc_id, text[, salt]) → (doc_id, shingles) with empty-shingle
    docs dropped and, when present, the bench salt folded into every
    shingle — the shared front of the minhash / prefix-filter / ngram
    pipelines.

    r14 optimization round (guide §4.2, VERDICT r13 item 3): the r13
    Generate-barrier JVM lowering (split + filter HOF + three shifted
    slices folded with zip_with + array_distinct — all interpreted,
    HOFs don't codegen) is replaced by ONE vectorized mapInArrow
    stage. Lowercasing stays a JVM expression (``F.lower`` BEFORE the
    boundary), so the r13 unicode-parity question (İ/U+0307, the 71
    divergent codepoints audited by tools/null_parity_audit.py
    --unicode) never reaches Python — Python only ever splits and
    re-joins already-lowercased bytes. Inside the batch everything is
    Arrow/NumPy kernels, no per-row Python:

    - ``pc.ascii_split_whitespace`` splits on exactly {space, \\t, \\n,
      \\x0b, \\f, \\r} with runs collapsed and edge empties kept —
      verified equal to Java/Spark ``split(s, '\\\\s+', -1)`` (Java \\s
      is the same ASCII class; both emit leading/trailing '' which the
      old lowering filtered, here a vectorized mask drops them);
    - 3-grams are built by offset arithmetic over the flat token
      buffer + ``binary_join_element_wise`` (the §4.2 re-slice trick);
    - first-occurrence dedup (``array_distinct`` semantics, order
      preserved) via pandas ``duplicated`` over (doc, gram) pairs;
    - docs with <3 tokens or NULL text drop exactly as the old
      ``filter(size > 0)`` did.

    Byte-identical to the r13 lowering INCLUDING array order at two
    SFs (tests/test_shingle_arrow_rewrite.py keeps the old lowering
    verbatim); measured −16% on the ×16-amplified isolated stage at
    quiet load (1.49s → 1.25s median) with the HOF chain's 21-copy
    duplication hazard gone structurally (one opaque Arrow node —
    nothing for PushDownPredicate to inline). The salt fold stays a
    JVM ``transform`` above the boundary, unchanged."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    carry = ["doc_id"] + (["salt"] if "salt" in d.columns else [])
    src = d.select(*carry, F.lower(F.col("text")).alias("lt"))
    out_schema = StructType(
        [src.schema[c] for c in carry]
        + [StructField("shingles", ArrayType(StringType()), False)]
    )
    n_carry = len(carry)

    # local closure (not a module-level def): the external driver's
    # sys.path hack is not inherited by Spark's Python workers, so
    # package functions pickled by reference would not import there
    def fn(it):
        import pandas as pd

        for batch in it:
            out_pa = pa.schema(
                [batch.schema.field(j) for j in range(n_carry)]
                + [pa.field("shingles", pa.list_(pa.string()))]
            )
            toks = pc.ascii_split_whitespace(batch.column(n_carry))
            offs = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            # normalize a possible non-zero-offset slice so flat
            # positions line up with the values buffer
            vals = toks.values
            if offs[0] != 0 or len(vals) != offs[-1]:
                vals = vals.slice(offs[0], offs[-1] - offs[0])
                offs = offs - offs[0]
            n_tok = np.diff(offs)
            n_docs = len(n_tok)
            doc_of = np.repeat(np.arange(n_docs), n_tok)
            nonempty = pc.not_equal(vals, "").to_numpy(zero_copy_only=False)
            if toks.null_count:
                # defensive: never attribute phantom token spans to a
                # NULL row (compute-produced arrays give them 0-length
                # spans, so this is a no-op there)
                valid = ~toks.is_null().to_numpy(zero_copy_only=False)
                nonempty &= np.repeat(valid, n_tok)
            flat_idx = np.nonzero(nonempty)[0]
            vals_ne = vals.take(pa.array(flat_idx))
            doc_ne = doc_of[flat_idx]
            cnt = np.bincount(doc_ne, minlength=n_docs)
            g = np.maximum(cnt - 2, 0)
            keep_doc = g > 0
            total_g = int(g.sum())
            if total_g == 0:
                empty = pa.array([], type=pa.int32())
                cols = [batch.column(j).take(empty) for j in range(n_carry)]
                cols.append(pa.array([], type=pa.list_(pa.string())))
                yield pa.RecordBatch.from_arrays(cols, schema=out_pa)
                continue
            starts = np.concatenate(([0], np.cumsum(cnt)))[:-1]
            doc_rep = np.repeat(np.arange(n_docs), g)
            gstart = np.concatenate(([0], np.cumsum(g)))[:-1]
            within = np.arange(total_g) - np.repeat(gstart, g)
            i0 = starts[doc_rep] + within
            grams = pc.binary_join_element_wise(
                vals_ne.take(pa.array(i0)),
                vals_ne.take(pa.array(i0 + 1)),
                vals_ne.take(pa.array(i0 + 2)),
                " ",
            )
            kept = (
                ~pd.DataFrame({"d": doc_rep, "s": grams.to_pandas()})
                .duplicated()
                .to_numpy()
            )
            doc_kept = doc_rep[kept]
            grams_kept = grams.filter(pa.array(kept))
            out_cnt = np.bincount(doc_kept, minlength=n_docs)[keep_doc]
            new_offs = np.concatenate(([0], np.cumsum(out_cnt))).astype(np.int32)
            shingles = pa.ListArray.from_arrays(pa.array(new_offs), grams_kept)
            sel = pa.array(np.nonzero(keep_doc)[0], type=pa.int32())
            cols = [batch.column(j).take(sel) for j in range(n_carry)]
            cols.append(shingles)
            yield pa.RecordBatch.from_arrays(cols, schema=out_pa)

    s = src.mapInArrow(fn, out_schema)
    if "salt" in d.columns:
        s = s.withColumn(
            "shingles",
            F.transform(
                "shingles", lambda sh: F.concat_ws("|", sh, F.col("salt"))
            ),
        )
    return s.select("doc_id", "shingles")


_DUCK_SHINGLES = rf"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKS} AS l
  FROM documents
), shingled AS (
  SELECT doc_id,
         CASE WHEN len(l) >= 3
              THEN list_distinct(list_transform(range(1, len(l) - 1),
                     i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))
              ELSE [] END AS shingles
  FROM toks
)
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id,
           md5(text) AS content_hash,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) > 1
             AS is_duplicate
    FROM documents
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groups, keep the lowest doc_id. One
    shuffle on the hash; survivors = is_duplicate false."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("content_hash").orderBy(F.asc("doc_id"))
    return (
        d.select("doc_id", F.md5("text").alias("content_hash"))
        .withColumn("is_duplicate", F.row_number().over(w) > 1)
    )


@register(
    "dedup_exact_normalized",
    oracle=rf"""
    SELECT md5(array_to_string(
             {DUCK_TOKS}, ' ')) AS norm_hash,
           count(*)    AS n_docs,
           min(doc_id) AS keep_doc_id
    FROM documents
    GROUP BY 1
    HAVING count(*) > 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after normalization (lowercase + whitespace
    canonicalization) — catches formatting-only duplicates."""
    d = table(spark, sf_dir, "documents")
    norm = F.md5(F.array_join(_tokens(F.col("text")), " "))
    return (
        d.select(norm.alias("norm_hash"), "doc_id")
        .groupBy("norm_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


# Universal-hash family over the Mersenne prime 2^31-1: one md5 per
# shingle, then 8 affine transforms (a_s*h + b_s) mod p. Constants are
# arbitrary fixed odd values < p (hardcoded so the DuckDB oracle can
# embed the identical family).
_MERSENNE_P = 2_147_483_647
_AFFINE = [
    (1_000_003, 12_345),
    (1_000_033, 54_321),
    (1_000_037, 98_765),
    (1_000_039, 13_579),
    (1_000_081, 24_680),
    (1_000_099, 11_111),
    (1_000_117, 77_777),
    (1_000_121, 33_333),
]
assert len(_AFFINE) == _N_HASHES


def _minhash_sig_df(shingled: DataFrame) -> DataFrame:
    """(doc_id, shingles:array) → (doc_id, sig:array of _N_HASHES mins).

    Two deliberate shapes:
    * explode-then-aggregate (not 8 array expressions over the shingles
      column — CollapseProject would re-inline the whole shingle
      derivation into every component, 8x the tokenize work). The
      groupBy(doc_id) MIN is a partial+final agg, so map-side combine
      reduces the shingle stream before any exchange.
    * one md5 per shingle + affine universal hashing for the 8 seeds
      (a_s*h + b_s mod 2^31-1) instead of 8 seeded md5 passes — md5 is
      the per-row hot cost. h is reduced mod p first so a_s*h stays
      within int64."""
    ex = shingled.select("doc_id", F.explode("shingles").alias("sh"))
    base = (md5_long(F.col("sh")) % F.lit(_MERSENNE_P)).alias("h")
    hashed = ex.select("doc_id", base)
    agg = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE_P)).alias(
                f"m{s}"
            )
            for s, (a, b) in enumerate(_AFFINE)
        ]
    )
    return agg.select(
        "doc_id", F.array(*[F.col(f"m{s}") for s in range(_N_HASHES)]).alias("sig")
    )


def _duck_sig_sql() -> str:
    base = "(" + duck_md5_long("t") + f" % {_MERSENNE_P})"
    comps = ", ".join(
        f"list_min(list_transform(shingles, t -> "
        f"({a} * {base} + {b}) % {_MERSENNE_P}))"
        for a, b in _AFFINE
    )
    return f"SELECT doc_id, [{comps}] AS sig FROM shingled WHERE len(shingles) > 0"


# CTE chain ending in mh(doc_a, doc_b, n_match) — the scored candidate
# pairs. Shared by the minhash entry below and the connected-components
# grouping oracle (dedup_groups.py), which appends a recursive CTE.
_MINHASH_PAIR_CTES = (
    _DUCK_SHINGLES
    + f", sig AS ({_duck_sig_sql()})"
    + f""",
bands AS (
  SELECT doc_id, t.b AS band_id,
         CAST(sig[2*t.b + 1] AS VARCHAR) || '-' || CAST(sig[2*t.b + 2] AS VARCHAR) AS band_key
  FROM sig, unnest([{", ".join(str(b) for b in range(_N_BANDS))}]) AS t(b)
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
), mh AS (
  SELECT p.doc_a, p.doc_b,
         len(list_filter(range(1, {_N_HASHES + 1}),
                         i -> sa.sig[i] = sb.sig[i])) AS n_match
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b
)"""
)

_MINHASH_ORACLE = (
    _MINHASH_PAIR_CTES
    + f"""
SELECT doc_a, doc_b,
       (floor(CAST(n_match AS DOUBLE) / {_N_HASHES}.0 * 10000 + 0.5) / 10000)
         AS est_jaccard
FROM mh
"""
)


def minhash_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) with the number of
    matching signature components (``n_match`` of 8) — the shared
    front half of ``dedup_minhash_lsh`` and the connected-components
    grouping in dedup_groups.py."""
    return minhash_pairs_from_docs(table(spark, sf_dir, "documents"))


def minhash_pairs_from_docs(d: DataFrame) -> DataFrame:
    """The minhash candidate pipeline over any (doc_id, text) DataFrame —
    also used by bench.py's amplified run. If the frame carries a
    ``salt`` column it is folded into the shingle hash, which makes each
    salt group an independent corpus sample: replicas of the same doc
    under different salts get unrelated signatures, so an N×-replicated
    corpus scales candidate pairs linearly (bounded duplicate clusters,
    the realistic shape) instead of quadratically (one giant
    cross-replica cluster per document)."""
    shingled = _shingled_docs(d)
    # Materialize the signature stage ONCE (VERDICT r01 item 5): sig is
    # consumed three times downstream (band explode + both pair sides),
    # and without a barrier the full tokenize→shingle→md5→8-min lineage
    # re-executes per consumer — 3 corpus passes at scale. localCheckpoint
    # (eager) truncates the lineage at a stored copy without leaking a
    # persist across the query boundary. The 100 TB analog is a staged
    # intermediate (checkpoint dir / parquet stage) between the signature
    # and candidate-generation jobs.
    sig = _minhash_sig_df(shingled).localCheckpoint(eager=True)

    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "-",
                            F.element_at("sig", 2 * b + 1).cast("string"),
                            F.element_at("sig", 2 * b + 2).cast("string"),
                        ).alias("band_key"),
                    )
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")

    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", matches.alias("n_match"))
    )


@register("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidates: word-3-gram shingles → 8
    seeded min-hashes → 4 bands of 2 → band-bucket self-join →
    signature-estimated Jaccard per candidate pair."""
    return minhash_scored_pairs(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        round_half_up(
            F.col("n_match").cast("double") / F.lit(float(_N_HASHES)), 4
        ).alias("est_jaccard"),
    )


# Incremental variant: docs with doc_id % 10 == 7 play the "tonight's
# batch" role; the rest are the standing corpus. Candidates pair batch
# docs against corpus docs only — never corpus × corpus.
_INCREMENTAL_ORACLE = (
    _MINHASH_PAIR_CTES.replace(
        """), mh AS (""",
        """), pairs_inc AS (
  SELECT q.doc_a, q.doc_b FROM pairs q
  WHERE (q.doc_a % 10 = 7) <> (q.doc_b % 10 = 7)
), mh AS (""",
    ).replace("FROM pairs p", "FROM pairs_inc p")
    + f"""
SELECT CASE WHEN doc_a % 10 = 7 THEN doc_a ELSE doc_b END AS batch_doc,
       CASE WHEN doc_a % 10 = 7 THEN doc_b ELSE doc_a END AS corpus_doc,
       (floor(CAST(n_match AS DOUBLE) / {_N_HASHES}.0 * 10000 + 0.5) / 10000)
         AS est_jaccard
FROM mh
WHERE n_match >= 4
"""
)

# The oracle is derived by string surgery on _MINHASH_PAIR_CTES; a
# drifted anchor would silently produce the NON-incremental query.
# Not `assert` — that compiles out under python -O.
if (
    "pairs_inc AS (" not in _INCREMENTAL_ORACLE
    or "FROM pairs_inc p" not in _INCREMENTAL_ORACLE
):
    raise ValueError("incremental-oracle anchors drifted in _MINHASH_PAIR_CTES")


@register("dedup_incremental_minhash", oracle=_INCREMENTAL_ORACLE)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (nightly-ingest) near-dup: signatures for the NEW
    batch are checked against the standing corpus only — the band join
    pairs batch rows with corpus rows and never corpus with itself, so
    nightly cost is O(batch), not O(corpus²) and not even a corpus
    re-signature (at production scale corpus signatures/bands persist
    as a staged table and only the batch side is computed fresh; here
    both derive from one fixture read with the batch simulated as
    doc_id % 10 == 7). Output: batch docs with their corpus near-dup
    and the signature-estimated Jaccard ≥ 0.5."""
    is_batch_a = F.col("doc_a") % 10 == 7
    is_batch_b = F.col("doc_b") % 10 == 7
    p = (
        minhash_scored_pairs(spark, sf_dir)
        .filter(is_batch_a != is_batch_b)
        .filter(F.col("n_match") >= 4)
    )
    return p.select(
        F.when(is_batch_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
            "batch_doc"
        ),
        F.when(is_batch_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
            "corpus_doc"
        ),
        round_half_up(
            F.col("n_match").cast("double") / F.lit(float(_N_HASHES)), 4
        ).alias("est_jaccard"),
    )


_MINHASH_EVAL_ORACLE = (
    _MINHASH_PAIR_CTES
    + f""", pred AS (
  SELECT doc_a, doc_b FROM mh WHERE n_match >= 4
), ex AS (
  SELECT DISTINCT doc_id, s.sh
  FROM shingled, unnest(shingles) AS s(sh)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), exact AS (
  -- Jaccard >= 0.5 in integer arithmetic: inter/union >= 1/2
  -- <=> 3*inter >= |A| + |B|
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE 3 * i.n_common >= sa.n + sb.n
), joined AS (
  SELECT coalesce(p.flag, 0) AS p, coalesce(e.flag, 0) AS e
  FROM (SELECT doc_a, doc_b, 1 AS flag FROM pred) p
  FULL JOIN (SELECT doc_a, doc_b, 1 AS flag FROM exact) e
    USING (doc_a, doc_b)
)
SELECT CAST(sum(p) AS BIGINT)     AS n_pred,
       CAST(sum(e) AS BIGINT)     AS n_exact,
       CAST(sum(p * e) AS BIGINT) AS n_hit,
       (floor(CASE WHEN sum(p) > 0
                   THEN CAST(sum(p * e) AS DOUBLE) / sum(p) ELSE 0.0 END
              * 10000 + 0.5) / 10000) AS precision_at_half,
       (floor(CASE WHEN sum(e) > 0
                   THEN CAST(sum(p * e) AS DOUBLE) / sum(e) ELSE 0.0 END
              * 10000 + 0.5) / 10000) AS recall_at_half
FROM joined
"""
)


@register("minhash_recall_eval", oracle=_MINHASH_EVAL_ORACLE)
def minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality evaluation: precision/recall of the minhash
    candidate pairs (est Jaccard ≥ 0.5 ⟺ ≥4/8 components) against
    EXACT shingle-set Jaccard ≥ 0.5 — the measurement loop that tunes
    band/row parameters before a production dedup run. Both thresholds
    compare integers (n_match ≥ 4; 3·|A∩B| ≥ |A|+|B|), so the
    classification is engine-exact; only the final two ratios are
    floats. The exact side is an uncapped inverted-index self-join —
    an offline EVAL job to run on a sample, not the production
    candidate path (that is dedup_minhash_lsh + the df-capped
    verification in dedup_ngram_jaccard)."""
    d = table(spark, sf_dir, "documents")
    shingled = _shingled_docs(d)
    pred = (
        minhash_scored_pairs(spark, sf_dir)
        .filter(F.col("n_match") >= 4)
        .select("doc_a", "doc_b", F.lit(1).alias("p"))
    )
    # three consumers (both self-join sides + sizes): materialize once,
    # same invariant as the minhash sig stage above
    ex = (
        shingled.select("doc_id", F.explode("shingles").alias("sh"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    exact = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n", "na")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"),
            "doc_b",
        )
        .filter(3 * F.col("n_common") >= F.col("na") + F.col("nb"))
        .select("doc_a", "doc_b", F.lit(1).alias("e"))
    )
    joined = pred.join(exact, ["doc_a", "doc_b"], "full").select(
        F.coalesce("p", F.lit(0)).alias("p"), F.coalesce("e", F.lit(0)).alias("e")
    )
    sp, se, sh_ = F.sum("p"), F.sum("e"), F.sum(F.col("p") * F.col("e"))
    return joined.agg(
        sp.cast("bigint").alias("n_pred"),
        se.cast("bigint").alias("n_exact"),
        sh_.cast("bigint").alias("n_hit"),
        round_half_up(
            F.when(sp > 0, sh_.cast("double") / sp).otherwise(F.lit(0.0)), 4
        ).alias("precision_at_half"),
        round_half_up(
            F.when(se > 0, sh_.cast("double") / se).otherwise(F.lit(0.0)), 4
        ).alias("recall_at_half"),
    )


# ---- planted near-duplicate recall (VERDICT r06 item 5) -----------------
#
# minhash_recall_eval measures LSH quality against exact Jaccard on the
# ORGANIC corpus; nothing measured recall against KNOWN near-dups. This
# entry plants them: every _PLANT_MOD-th sufficiently long document gets
# a truncated copy (its first ~90% of characters) under a disjoint id
# range, and the metric is the fraction of planted (original, copy)
# pairs recovered by (a) the minhash-LSH candidate path at the same
# n_match >= 4 threshold production uses and (b) C4-style segment
# dedup (>= 1 shared _SEG-token segment hash). The planted copies mirror
# the embeddings fixture's planted-pair design (FIXTURES.md): ground
# truth is constructed, deterministic, and scale-invariant, so the
# metric is comparable across sf fixtures.

_PLANT_OFFSET = 10_000_000  # copy ids — disjoint from any fixture sf
_PLANT_MOD = 5  # plant a copy for every 5th doc
_PLANT_MIN_CHARS = 60  # too-short docs make degenerate prefixes


def _neardup_eval_oracle() -> str:
    corpus = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_PLANT_OFFSET},
         substr(text, 1, CAST(floor(length(text) * 0.9) AS INT))
  FROM documents
  WHERE doc_id % {_PLANT_MOD} = 0 AND length(text) >= {_PLANT_MIN_CHARS}
),"""
    # the shared minhash CTE chain, re-rooted at the planted corpus
    mh_ctes = (
        _MINHASH_PAIR_CTES.lstrip()
        .removeprefix("WITH")
        .replace("FROM documents", "FROM corpus")
    )
    from tiny_etl_multiproc_bigdata_spark.plans.corpus_ops import _SEG

    return (
        corpus
        + mh_ctes
        + f""",
planted AS (
  SELECT doc_id AS orig, doc_id + {_PLANT_OFFSET} AS copy FROM documents
  WHERE doc_id % {_PLANT_MOD} = 0 AND length(text) >= {_PLANT_MIN_CHARS}
), pred AS (
  SELECT doc_a, doc_b FROM mh WHERE n_match >= 4
), segs AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(l[s.s*{_SEG}+1 : s.s*{_SEG}+{_SEG}], ' ')) AS h
  FROM toks, unnest(range(0, CAST(ceil(len(l) / {_SEG}.0) AS BIGINT))) AS s(s)
), m AS (
  SELECT (SELECT count(*) FROM planted) AS n_planted,
         (SELECT count(*) FROM planted p
          JOIN pred q ON q.doc_a = p.orig AND q.doc_b = p.copy) AS mh_detected,
         (SELECT count(*) FROM pred) AS mh_pairs_total,
         (SELECT count(DISTINCT p.orig) FROM planted p
          JOIN segs a ON a.doc_id = p.orig
          JOIN segs b ON b.doc_id = p.copy AND b.h = a.h) AS seg_detected
)
SELECT CAST(n_planted AS BIGINT)     AS n_planted,
       CAST(mh_detected AS BIGINT)   AS mh_detected,
       (floor(CAST(mh_detected AS DOUBLE) / n_planted * 10000 + 0.5) / 10000)
         AS mh_recall,
       CAST(mh_pairs_total AS BIGINT) AS mh_pairs_total,
       CAST(seg_detected AS BIGINT)  AS seg_detected,
       (floor(CAST(seg_detected AS DOUBLE) / n_planted * 10000 + 0.5) / 10000)
         AS seg_recall
FROM m
"""
    )


@register("text_neardup_recall_eval", oracle=_neardup_eval_oracle())
def text_neardup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the two production text-dedup paths against PLANTED
    near-duplicates (see the block comment above for the protocol).

    100 TB shape: the planted corpus is 1.2x the input (map-only
    union), the minhash path is the production candidate pipeline
    unchanged, and the segment check is one equi-join on (segment
    hash, doc id) — both metrics come from batch-sized probe joins
    against corpus-sized state, never an all-pairs comparison."""
    from tiny_etl_multiproc_bigdata_spark.plans.corpus_ops import (
        segment_hash_structs,
    )

    d = table(spark, sf_dir, "documents")
    plantable = (F.col("doc_id") % _PLANT_MOD == 0) & (
        F.length("text") >= _PLANT_MIN_CHARS
    )
    copies = d.filter(plantable).select(
        (F.col("doc_id") + _PLANT_OFFSET).alias("doc_id"),
        F.col("text")
        .substr(F.lit(1), F.floor(F.length("text") * 0.9).cast("int"))
        .alias("text"),
    )
    corpus = d.select("doc_id", "text").unionAll(copies)
    planted = d.filter(plantable).select(
        F.col("doc_id").alias("orig"),
        (F.col("doc_id") + _PLANT_OFFSET).alias("copy"),
    )
    # pred feeds two metric subtrees (planted hit-join + total count)
    # and the candidate pipeline behind it is the expensive part —
    # materialize once (the shingle/signature checkpoint convention)
    pred = (
        minhash_pairs_from_docs(corpus)
        .filter(F.col("n_match") >= 4)
        .localCheckpoint(eager=True)
    )
    mh_det = planted.join(
        pred,
        (pred.doc_a == planted.orig) & (pred.doc_b == planted.copy),
    )
    # segment hashes feed both sides of the (orig, copy) equi-join.
    # size >= 1 guard (the dedup_corpus_segments convention): a
    # zero-token doc would otherwise hit sequence(0,-1) DESCENDING in
    # segment_hash_structs and emit an md5("") segment row the
    # oracle's range(0, 0) never produces (r07 review finding)
    segs = (
        corpus.select(
            "doc_id", tokenize_words_nonempty("text").alias("l")
        )
        .where(F.size("l") >= 1)
        .select("doc_id", F.explode(segment_hash_structs()).alias("s"))
        .select("doc_id", F.col("s.h").alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seg_det = (
        planted.join(
            segs.select(F.col("doc_id").alias("orig"), "h"), "orig"
        )
        .join(
            segs.select(F.col("doc_id").alias("copy"), F.col("h").alias("h2")),
            "copy",
        )
        .filter(F.col("h") == F.col("h2"))
        .select("orig")
        .distinct()
    )
    # four 1-row scalar aggregates cross-joined — one job, nothing on
    # the driver (the maintenance.py scalar-aggregate convention)
    return (
        planted.agg(F.count("*").cast("bigint").alias("n_planted"))
        .crossJoin(mh_det.agg(F.count("*").cast("bigint").alias("mh_detected")))
        .crossJoin(pred.agg(F.count("*").cast("bigint").alias("mh_pairs_total")))
        .crossJoin(seg_det.agg(F.count("*").cast("bigint").alias("seg_detected")))
        .select(
            "n_planted",
            "mh_detected",
            round_half_up(
                # nullif: zero planted pairs (empty corpus) yields a
                # NULL recall like the oracle's x/0 (r11 empty-input audit)
                F.col("mh_detected").cast("double")
                / F.nullif(F.col("n_planted"), F.lit(0)),
                4,
            ).alias("mh_recall"),
            "mh_pairs_total",
            "seg_detected",
            round_half_up(
                F.col("seg_detected").cast("double")
                / F.nullif(F.col("n_planted"), F.lit(0)),
                4,
            ).alias("seg_recall"),
        )
    )


_N_SIM_BITS = 32


def _simhash_oracle() -> str:
    h = duck_md5_long("token")
    bit_sums = ", ".join(
        f"sum(CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_N_SIM_BITS)
    )
    recompose = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN 1::BIGINT << {b} ELSE 0 END)"
        for b in range(_N_SIM_BITS)
    )
    return rf"""
    WITH tok AS (
      SELECT DISTINCT doc_id, t.token AS token
      FROM documents,
           unnest({DUCK_TOKS}) AS t(token)
    ), bits AS (
      SELECT doc_id, {bit_sums} FROM tok GROUP BY doc_id
    )
    SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM bits
    """


def simhash_from_docs(d: DataFrame) -> DataFrame:
    """(doc_id, simhash) over any (doc_id, text) frame — shared by the
    dedup_simhash entry and the method-agreement diagnostic."""
    tok = d.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("token")
    ).distinct()
    tok = tok.select("doc_id", md5_long(F.col("token")).alias("th"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"s{b}")
        for b in range(_N_SIM_BITS)
    ]
    bits = tok.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for b in range(_N_SIM_BITS):
        term = F.when(F.col(f"s{b}") >= 0, F.lit(1).cast("bigint") * (1 << b)).otherwise(
            F.lit(0).cast("bigint")
        )
        simhash = term if simhash is None else simhash + term
    return bits.select("doc_id", simhash.cast("bigint").alias("simhash"))


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (32-bit) per document over its distinct vocabulary:
    explode tokens → one groupBy(doc) computing all 32 signed bit-sums →
    recompose the sign bits. Near-dups then cluster by hamming distance
    on this key (exact-equality clustering is `GROUP BY simhash`)."""
    return simhash_from_docs(table(spark, sf_dir, "documents"))


# Document-frequency cap for the Jaccard inverted index (VERDICT r01
# item 6): a shingle appearing in k docs emits O(k²) candidate pairs in
# the self-join, and corpus-scale boilerplate makes k huge while the
# shingle itself carries ~no Jaccard signal. Shingles with df > cap are
# dropped BEFORE the join (and, symmetrically, from the per-doc sizes,
# so the reported value is the Jaccard of the rare-shingle sets).
_MAX_SHINGLE_DF = 20


def _rare_shingle_pairs(d: DataFrame) -> DataFrame:
    """(doc_b, doc_a, n_common, na, nb) for every doc pair sharing ≥2
    rare shingles: the shingle inverted index, df-capped, self-joined
    into intersection counts, with both docs' rare-shingle set sizes —
    the shared front of dedup_ngram_jaccard and
    dedup_shingle_containment."""
    # token-pinning barrier via _shingled_docs (r13 optimization round):
    # the bare explode(_shingles(text)) generator re-derived the token
    # array 7x per row inside word_ngrams
    ex = (
        _shingled_docs(d)
        .select("doc_id", F.explode("shingles").alias("sh"))
        .distinct()
    )
    ex = (
        ex.withColumn("df", F.count("*").over(Window.partitionBy("sh")))
        .filter(F.col("df") <= _MAX_SHINGLE_DF)
        .drop("df")
        # three consumers (sizes + both self-join sides) — pin the
        # df-capped posting table once (r07 plan audit: 4 scans without)
        .localCheckpoint(eager=True)
    )
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def _duck_rare_shingle_pairs(cols: str) -> str:
    """DuckDB twin of _rare_shingle_pairs: ``SELECT cols`` over the
    pairs ``i`` (doc_a, doc_b, n_common) joined to their sizes ``sa``
    and ``sb`` (n)."""
    return (
        _DUCK_SHINGLES
        + f"""
, ex AS (
  SELECT DISTINCT doc_id, s.sh
  FROM shingled, unnest(shingles) AS s(sh)
), ex_rare AS (
  SELECT doc_id, sh FROM (
    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM ex
  ) WHERE df <= {_MAX_SHINGLE_DF}
), sizes AS (
  SELECT doc_id, count(*) AS n FROM ex_rare GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM ex_rare a JOIN ex_rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= 2
)
SELECT {cols}
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
"""
    )


@register(
    "dedup_ngram_jaccard",
    oracle=_duck_rare_shingle_pairs(
        """i.doc_a, i.doc_b, i.n_common,
       (floor(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) * 10000 + 0.5) / 10000) AS jaccard"""
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard for pairs sharing ≥2 word-3-grams: the
    verification stage that follows LSH candidate generation (shingle
    inverted index → df-cap → intersection counts → |A∩B| / |A∪B| over
    the rare-shingle sets). The df cap makes the self-join safe at
    corpus scale (no hot-shingle k² blowup); one extra window count on
    the already-shuffled sh key."""
    d = table(spark, sf_dir, "documents")
    return _rare_shingle_pairs(d).select(
        "doc_a",
        "doc_b",
        "n_common",
        round_half_up(
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
            4,
        ).alias("jaccard"),
    )


# Shared pair-scoring for the two embedding-dedup variants: both rank
# all within-block pairs by cosine and keep the top 3 per block; only
# the blocking key differs. Single definition on purpose — ranking
# formula / rounding-scale changes (the r01 round() divergence class)
# must not have to be applied in two Spark bodies and two SQL strings.
_EMBEDDING_TOP_N = 3

# dedup_embedding_cosine refuses to run when any label block exceeds
# this many rows (the all-pairs join is |block|²). 1e5 rows ≈ 5e9
# pairs in a single Spark task's partition — already past reasonable;
# every fixture scale is orders of magnitude below.
_COSINE_BLOCK_CAP = 100_000


def _blocked_cosine_topk(blocked: DataFrame, block_col: str) -> DataFrame:
    """(vec_id, embedding, <block_col>) → top-N most-similar intra-block
    pairs. Micro-scaled-integer ranking keys keep the window order
    stable across engines."""
    from tiny_etl_multiproc_bigdata_spark.functions.vectors import cosine_similarity

    a = blocked.alias("a")
    b = blocked.alias("b")
    cos = cosine_similarity(F.col("a.embedding"), F.col("b.embedding"))
    pairs = a.join(
        b,
        (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col(f"a.{block_col}").alias(block_col),
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        cos.alias("cos"),
    )
    w = Window.partitionBy(block_col).orderBy(
        F.floor(F.col("cos") * 1000000 + F.lit(0.5)).cast("bigint").desc(),
        F.asc("vec_a"),
        F.asc("vec_b"),
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _EMBEDDING_TOP_N)
        .select(
            block_col, "vec_a", "vec_b",
            round_half_up(F.col("cos"), 4).alias("cosine"), "rn",
        )
    )


def _embedding_topk_oracle(block_col: str, v_select: str) -> str:
    """DuckDB twin of _blocked_cosine_topk; ``v_select`` must yield
    (vec_id, emb, <block_col>)."""

    return f"""
    WITH v AS ({v_select}), pairs AS (
      SELECT a.{block_col} AS {block_col},
             a.vec_id AS vec_a, b.vec_id AS vec_b,
             {duck_cosine("a.emb", "b.emb")} AS cos
      FROM v a JOIN v b
        ON a.{block_col} = b.{block_col} AND a.vec_id < b.vec_id
    ), ranked AS (
      SELECT {block_col}, vec_a, vec_b, cos,
             row_number() OVER (PARTITION BY {block_col}
                                ORDER BY CAST(floor(cos * 1000000 + 0.5) AS BIGINT) DESC,
                                         vec_a ASC, vec_b ASC) AS rn
      FROM pairs
    )
    SELECT {block_col}, vec_a, vec_b,
           (floor(cos * 10000 + 0.5) / 10000) AS cosine, rn
    FROM ranked WHERE rn <= {_EMBEDDING_TOP_N}
    """


@register(
    "dedup_embedding_cosine",
    oracle=_embedding_topk_oracle(
        "label", "SELECT vec_id, embedding::DOUBLE[] AS emb, label"
        " AS label FROM embeddings WHERE "
        + complete_vector_sql("embedding")
    ),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: label-blocked all-pairs cosine, top-3 most
    similar pairs per block. VERIFICATION-ONLY at scale (VERDICT r02):
    all-pairs is quadratic per block, and a hot label (one dominant
    language/domain) degenerates to |block|² — this entry exists as the
    exact twin for validating ``dedup_embedding_lsh`` on bounded
    samples. The production 100 TB path is dedup_embedding_lsh below,
    which swaps the label for a random-hyperplane LSH bucket whose
    population is corpus/2^planes on average and tunable down.

    Hard guard (VERDICT r04 item 5): before building the quadratic
    self-join, the largest label block is counted; above
    ``_COSINE_BLOCK_CAP`` rows (≈5e9 pairs) this raises instead of
    degenerating — the demotion is mechanical, not just a docstring.

    Input contract (r11 NULL-parity audit, widened to NULL elements by
    the r12 matrix): incomplete vectors have no cosine — excluded on
    both engines."""
    e = table(spark, sf_dir, "embeddings").filter(
        is_complete_vector(F.col("embedding"))
    )
    # checkpoint first so the guard's count job and the pair join share
    # ONE input scan instead of re-reading the table (r05 review)
    blocked = e.select(
        "vec_id", "embedding", F.col("label").alias("label")
    ).localCheckpoint(eager=True)
    biggest = (
        blocked.groupBy("label").count().agg(F.max("count")).first()[0] or 0
    )
    if biggest > _COSINE_BLOCK_CAP:
        raise ValueError(
            f"dedup_embedding_cosine: largest label block has {biggest} rows "
            f"(cap {_COSINE_BLOCK_CAP}); the all-pairs join would build "
            f"~{biggest * (biggest - 1) // 2:.0e} pairs in one block. This "
            "entry is the bounded-sample verification twin — use "
            "dedup_embedding_lsh (hyperplane-bucket blocking) for corpora "
            "of this size, or pre-sample per label."
        )
    return _blocked_cosine_topk(blocked, "label")


def _dedup_embedding_lsh_oracle() -> str:
    from tiny_etl_multiproc_bigdata_spark.plans.vector_queries import _duck_bucket

    return _embedding_topk_oracle(
        "bucket",
        "SELECT vec_id, embedding::DOUBLE[] AS emb, "
        f"{_duck_bucket('embedding::DOUBLE[]')} AS bucket FROM embeddings"
        f" WHERE {complete_vector_sql('embedding')}",
    )


@register("dedup_embedding_lsh", oracle=_dedup_embedding_lsh_oracle())
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with LSH-bucket blocking (VERDICT r01 item 7):
    same pair-scoring as dedup_embedding_cosine, but the blocking key is
    the random-hyperplane LSH bucket (vector_queries._bucket) instead of
    a label column — the 100 TB path, since bucket population is bounded
    by the corpus/256 on average and more planes shrink it further. The
    bucketed view is localCheckpoint'ed so the 8 hyperplane dot products
    run once, not once per join side. Input contract (r11 NULL-parity
    audit, widened to NULL elements by the r12 matrix): incomplete
    vectors have no bucket — excluded on both engines."""
    from tiny_etl_multiproc_bigdata_spark.plans.vector_queries import _bucket

    e = table(spark, sf_dir, "embeddings").filter(
        is_complete_vector(F.col("embedding"))
    )
    blocked = e.select(
        "vec_id", "embedding", _bucket(F.col("embedding")).alias("bucket")
    ).localCheckpoint(eager=True)
    return _blocked_cosine_topk(blocked, "bucket")


# Exact set-similarity threshold (integer arithmetic: ceil(0.6·n) as
# (6n+9)//10, since 0.6*n in doubles overshoots — 0.6*5 = 3.0000...04)
_PF_THETA_NUM, _PF_THETA_DEN = 6, 10


@register(
    "dedup_jaccard_prefix_filter",
    oracle=_DUCK_SHINGLES
    + f""", sh AS (
      SELECT doc_id, unnest(shingles) AS tok FROM shingled
      WHERE len(shingles) > 0
    ), sz AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), dfr AS (
      SELECT tok, count(*) AS df FROM sh GROUP BY tok
    ), ranked AS (
      SELECT s.doc_id, s.tok, z.n,
             row_number() OVER (PARTITION BY s.doc_id
                                ORDER BY d.df ASC, s.tok ASC) AS rk
      FROM sh s JOIN dfr d ON s.tok = d.tok JOIN sz z ON s.doc_id = z.doc_id
    ), pref AS (
      SELECT doc_id, tok FROM ranked
      WHERE rk <= n - (({_PF_THETA_NUM} * n + {_PF_THETA_DEN} - 1)
                       // {_PF_THETA_DEN}) + 1
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.tok = sa.tok
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           (floor(CAST(i.i AS DOUBLE) / (za.n + zb.n - i.i) * 10000 + 0.5)
            / 10000) AS jaccard
    FROM inter i
    JOIN sz za ON za.doc_id = i.doc_a
    JOIN sz zb ON zb.doc_id = i.doc_b
    WHERE CAST(i.i AS DOUBLE) / (za.n + zb.n - i.i)
          >= CAST({_PF_THETA_NUM} AS DOUBLE) / {_PF_THETA_DEN}
    """,
)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard near-dup join with PPJoin-style prefix filtering:
    order every document's shingle set by global rarity (df asc, then
    shingle), keep only the first n − ⌈θ·n⌉ + 1 shingles as the
    "prefix", and generate candidates from prefix collisions only —
    the classic exactness-PRESERVING pruning (two sets with
    J ≥ θ must collide within those prefixes under any shared global
    order), in contrast to dedup_ngram_jaccard's df-cap, which drops
    hot shingles and can miss pairs. Candidates are then verified with
    the true Jaccard over the full sets.

    θ = 0.6, computed in integer arithmetic ((6n+9) div 10) because
    0.6·n in doubles overshoots exact multiples. Scale shape: the
    candidate join touches only rare-prefix postings (the df-ordered
    prefix skips exactly the high-df shingles that blow up inverted
    indexes), verification is candidate-bounded, and every stage is an
    equi-join or hash agg — no all-pairs anywhere."""
    return prefix_filter_pairs_from_docs(table(spark, sf_dir, "documents"))


def prefix_filter_pairs_from_docs(d: DataFrame) -> DataFrame:
    """The prefix-filter join over any (doc_id, text) DataFrame — also
    driven by bench.py's amplified run. A ``salt`` column, if present,
    folds into each shingle (the minhash_pairs_from_docs contract), so
    an N×-replicated corpus forms N independent token spaces and
    candidate pairs grow linearly, not quadratically."""
    # Materialize the shingle ARRAYS once: the checkpointed array table
    # feeds two independent subtrees (document frequencies and the
    # prefix/array build) — without a barrier the
    # tokenize→shingle lineage re-executes per consumer, multiple
    # corpus passes at scale (the minhash_pairs_from_docs lesson,
    # VERDICT r01 item 5; flagged again by the r05 review). Arrays, not
    # exploded postings, because sizes then come map-side: each posting
    # carries its doc's set size ``n`` through the explode, so the
    # window needs no size table joined back on doc_id.
    shingled = _shingled_docs(d).localCheckpoint(eager=True)
    sh = shingled.select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("tok")
    )
    # r13 optimization-round rewrite (guide §2.3 "shuffle narrower
    # types" + §2.4 "remove shuffles outright"): every stage past the
    # df-count now runs on an exact bijective int64 token id instead of
    # the 3-word shingle STRING. The id VALUE is arbitrary (unique per
    # distinct token within the run): intersection sizes are invariant
    # under any bijection, and the PPJoin prefix theorem holds for ANY
    # total order shared by all docs — (df asc, tok_id asc) is one —
    # so the verified output is bit-identical to the string lowering
    # (pinned by tests/test_jaccard_rewrite.py against the old lowering
    # kept verbatim there, and by test_prefix_filter_is_complete's
    # independent all-pairs ground truth). monotonically_increasing_id
    # is evaluated exactly once per run: its only consumer chain is
    # frozen by the eager per_doc localCheckpoint below, so retries
    # downstream cannot observe a second assignment.
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
    # ONE doc_id exchange feeds window AND per-doc array build: the
    # groupBy(doc_id) directly under Window.partitionBy(doc_id) reuses
    # the window's partitioning (guide §2.4) — the old plan ran the
    # join+window pipeline TWICE (once per self-join side, 26 Exchanges
    # total, plans/r13/dedup_jaccard_prefix_filter_before.txt) and then
    # broadcast ~1 KB STRING arrays to every candidate pair.
    # collect_list skips NULLs, so the prefix ids fold into the same
    # aggregate as the full id set without a second pass.
    ranked = (
        sh.join(dfr, "tok")
        .select("doc_id", "tok_id", "df", "n")  # shingle strings end here
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
    # PPJoin length filter (exactness-preserving, like the prefix
    # itself): J(A,B) >= θ forces θ·max(|A|,|B|) <= |A∩B| <= min, so a
    # prefix collision whose set sizes differ by more than the θ ratio
    # can never verify — drop it BEFORE the distinct and the two
    # verification joins. Integer arithmetic (DEN·min >= NUM·max keeps
    # the boundary pair). Measured at sf1: 35% of candidate pairs cut
    # (2,996,942 -> 1,933,702), output bit-identical.
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
    # verification: join each candidate pair to BOTH docs' id arrays
    # and intersect map-side — |cand| rows total, vs the former
    # posting-explode plan whose intermediate was |cand| × |doc| rows
    # into a count shuffle. Shingles are distinct (sets), so
    # |array_intersect| IS the exact Jaccard intersection size — and on
    # int64 ids it measured 3.4× faster than on the shingle strings
    # (1.54s vs 5.24s isolated at ×16 amplification).
    arr_a = per_doc.select(
        F.col("doc_id").alias("doc_a"), F.col("ids").alias("ids_a")
    )
    arr_b = per_doc.select(
        F.col("doc_id").alias("doc_b"), F.col("ids").alias("ids_b")
    )
    # Generate barrier (explode of a 1-element array): without it,
    # CollapseProject + filter pushdown inline the intersect into BOTH
    # the threshold Filter and the output Project, evaluating it twice
    # per pair (measured 1.54s → 2.97s isolated). Filters referencing a
    # generator output cannot be pushed below the Generate, so the
    # intersect evaluates exactly once.
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


# ---- incremental embedding dedup (nightly batch vs corpus, r07) ---------

_INC_EMB_THRESH_MICRO = 300_000  # cosine >= 0.30 flags a batch vector
# as near-dup. Calibrated against the CROSS-parity cosine distribution
# (the fixture's planted near-dup pairs do not straddle the odd/even
# batch split, so the 0.40 SemDeDup threshold would never fire here):
# 0.30 flags 10/250 (sf0.001, max 0.44), 10/250 (sf0.01, max 0.35),
# 132/1000 (sf0.1) — both flag outcomes exercised at every sf


def _dedup_incremental_embedding_oracle() -> str:
    from tiny_etl_multiproc_bigdata_spark.plans.vector_queries import _duck_bucket

    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             {_duck_bucket('embedding::DOUBLE[]')} AS bucket
      FROM embeddings
      WHERE {complete_vector_sql('embedding')}
    ), corpus AS (
      SELECT * FROM v WHERE vec_id % 2 = 0
    ), batch AS (
      SELECT * FROM v WHERE vec_id % 2 = 1
    ), pairs AS (
      SELECT b.vec_id, c.vec_id AS match_id,
             {duck_cosine("b.emb", "c.emb")} AS cos
      FROM batch b JOIN corpus c ON c.bucket = b.bucket
    ), top1 AS (
      SELECT vec_id, match_id, cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY CAST(floor(cos * 1000000 + 0.5) AS BIGINT) DESC,
                                         match_id ASC) AS rn
      FROM pairs
    )
    SELECT b.vec_id,
           t.match_id,
           (floor(t.cos * 10000 + 0.5) / 10000) AS cosine,
           coalesce(CAST(floor(t.cos * 1000000 + 0.5) AS BIGINT)
                    >= {_INC_EMB_THRESH_MICRO}, false) AS is_near_dup
    FROM batch b
    LEFT JOIN top1 t ON t.vec_id = b.vec_id AND t.rn = 1
    """


@register(
    "dedup_incremental_embedding",
    oracle=_dedup_incremental_embedding_oracle(),
)
def dedup_incremental_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly-ingest shape for EMBEDDING near-dup (the vector twin
    of dedup_incremental_minhash): a new batch (vec_id odd) is checked
    against the standing corpus (vec_id even) inside shared LSH
    buckets — batch×corpus within buckets, never corpus×corpus. Each
    batch vector reports its best corpus match and whether it clears
    the near-dup threshold (integer micro-cosine comparison, so the
    flag is engine-exact); bucketless/matchless vectors surface as
    novel with a NULL match.

    100 TB shape: the corpus side is the big one — it shuffles once on
    the bucket key and can stay bucket-partitioned on disk between
    nightly runs; the batch side is ingest-sized. Bucket population
    (corpus/2^planes) bounds every join group, and more planes shrink
    it — the same lever as dedup_embedding_lsh. Input contract (r12
    NULL-element matrix): incomplete vectors excluded from both the
    corpus and the batch on both engines."""
    from tiny_etl_multiproc_bigdata_spark.functions.vectors import (
        cosine_similarity,
    )
    from tiny_etl_multiproc_bigdata_spark.plans.vector_queries import _bucket

    e = table(spark, sf_dir, "embeddings").filter(
        is_complete_vector(F.col("embedding"))
    )
    bucketed = e.select(
        "vec_id", "embedding", _bucket(F.col("embedding")).alias("bucket")
    ).localCheckpoint(eager=True)  # 8 hyperplane dot products run once
    corpus = bucketed.filter(F.col("vec_id") % 2 == 0)
    batch = bucketed.filter(F.col("vec_id") % 2 == 1)
    c = corpus.select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").alias("c_emb"),
        "bucket",
    )
    pairs = batch.join(c, "bucket").select(
        "vec_id",
        "match_id",
        cosine_similarity(F.col("embedding"), F.col("c_emb")).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.floor(F.col("cos") * 1_000_000 + F.lit(0.5))
        .cast("bigint")
        .desc(),
        F.asc("match_id"),
    )
    top1 = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "match_id",
            round_half_up(F.col("cos"), 4).alias("cosine"),
            (
                F.floor(F.col("cos") * 1_000_000 + F.lit(0.5)).cast(
                    "bigint"
                )
                >= _INC_EMB_THRESH_MICRO
            ).alias("is_near_dup"),
        )
    )
    return (
        batch.select("vec_id")
        .join(top1, "vec_id", "left")
        .select(
            "vec_id",
            "match_id",
            "cosine",
            F.coalesce("is_near_dup", F.lit(False)).alias("is_near_dup"),
        )
    )


# ---- LSH design curve -------------------------------------------------------
#
# The S-curve behind dedup_minhash_lsh's (b, r) choice, generated from
# the SAME _N_BANDS/_N_HASHES constants on both engines (the _WIN_W
# knob-sync lesson: tune the band layout and this entry follows).

_LSH_GRID = 20  # s = 1/GRID .. (GRID-1)/GRID


def _pow_chain(base: str, exp: int) -> str:
    """`base` multiplied `exp` times — exponentiation as an explicit
    product chain so both engines run the identical IEEE ops (pow()
    is not guaranteed correctly rounded; repeated multiply is)."""
    return "(" + " * ".join([base] * exp) + ")"


def _lsh_curve_oracle() -> str:
    r = _N_HASHES // _N_BANDS
    p_r = _pow_chain(f"(CAST(id AS DOUBLE) / {_LSH_GRID})", r)
    miss = _pow_chain(f"(1 - {p_r})", _N_BANDS)
    return f"""
    SELECT (floor(CAST(id AS DOUBLE) / {_LSH_GRID} * 100 + 0.5) / 100)
             AS jaccard_s,
           (floor((1 - {miss}) * 1000000 + 0.5) / 1000000)
             AS p_candidate
    FROM range(1, {_LSH_GRID}) t(id)
    """


@register("minhash_lsh_sensitivity_curve", oracle=_lsh_curve_oracle())
def minhash_lsh_sensitivity_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The LSH S-curve for the registered MinHash layout
    (b={B} bands x r={R} rows): P(candidate | jaccard=s) = 1-(1-s^r)^b
    on a 1/20 grid — the design table that justifies dedup_minhash_lsh's
    band choice and that minhash_recall_eval measures empirically
    (analytic curve vs observed recall is the standard LSH
    calibration pair). Exponentiation is an explicit multiply chain
    generated from the SAME band constants as the dedup plan itself —
    retuning _N_BANDS/_N_HASHES re-derives engine and oracle together
    (knob-desync guard), and repeated multiplication keeps every op a
    correctly-rounded IEEE product (pow() carries no such guarantee),
    so the curve is bit-deterministic with no ulp flag.

    100 TB shape: {G}-row generated table, zero data reads — the cost
    model is the deliverable. Cited next to dedup_minhash_lsh
    (reference example/main.py has no analogue; this is Spark-side
    capacity planning)."""
    r = _N_HASHES // _N_BANDS
    s = F.col("id").cast("double") / _LSH_GRID
    p_r = s
    for _ in range(r - 1):
        p_r = p_r * s
    miss = F.lit(1) - p_r
    acc = miss
    for _ in range(_N_BANDS - 1):
        acc = acc * miss
    return (
        spark.range(1, _LSH_GRID)
        .select(
            round_half_up(s, 2).alias("jaccard_s"),
            round_half_up(F.lit(1) - acc, 6).alias("p_candidate"),
        )
    )


# ---- asymmetric containment ---------------------------------------------------

_CONTAIN_FLAG = "0.8"  # shared literal: containment >= this flags a subset


@register(
    "dedup_shingle_containment",
    oracle=_duck_rare_shingle_pairs(
        f"""i.doc_a, i.doc_b, i.n_common,
       (floor(CAST(i.n_common AS DOUBLE) / sa.n * 10000 + 0.5) / 10000)
         AS containment_a,
       (floor(CAST(i.n_common AS DOUBLE) / sb.n * 10000 + 0.5) / 10000)
         AS containment_b,
       greatest(
         (floor(CAST(i.n_common AS DOUBLE) / sa.n * 10000 + 0.5) / 10000),
         (floor(CAST(i.n_common AS DOUBLE) / sb.n * 10000 + 0.5) / 10000))
         >= {_CONTAIN_FLAG} AS subset_flag"""
    ),
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT C(A,B) = |A∩B|/|A| for candidate
    pairs — the quote/subset detector Jaccard systematically misses: a
    paragraph fully embedded in a 100x-larger page has Jaccard ~0.01
    but containment 1.0, and corpus pipelines must catch that
    direction (the small doc is the redundant one). Broder's
    containment companion to dedup_ngram_jaccard, sharing its shingle
    index, df-cap and candidate generation (_rare_shingle_pairs), so the
    two entries price the same pairs under both measures; the comparison
    flag is the QUANTIZED value the row itself carries.

    100 TB shape: identical to dedup_ngram_jaccard (df-capped posting
    self-join — the cap is the k² guard); the two extra divisions ride
    the same joined row."""
    d = table(spark, sf_dir, "documents")
    ca = round_half_up(F.col("n_common").cast("double") / F.col("na"), 4)
    cb = round_half_up(F.col("n_common").cast("double") / F.col("nb"), 4)
    return _rare_shingle_pairs(d).select(
        "doc_a",
        "doc_b",
        "n_common",
        ca.alias("containment_a"),
        cb.alias("containment_b"),
        (F.greatest(ca, cb) >= float(_CONTAIN_FLAG)).alias("subset_flag"),
    )


# ---- method-agreement diagnostic: minhash LSH vs simhash ------------------


def _agreement_oracle() -> str:
    h = duck_md5_long("token")
    bit_sums = ", ".join(
        f"sum(CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_N_SIM_BITS)
    )
    recompose = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN 1::BIGINT << {b} ELSE 0 END)"
        for b in range(_N_SIM_BITS)
    )
    return (
        _MINHASH_PAIR_CTES
        + rf""",
stok AS (
  SELECT DISTINCT doc_id, t.token AS token
  FROM documents,
       unnest({DUCK_TOKS}) AS t(token)
), sbits AS (
  SELECT doc_id, {bit_sums} FROM stok GROUP BY doc_id
), shash AS (
  SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM sbits
), spairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM shash a JOIN shash b
    ON a.simhash = b.simhash AND a.doc_id < b.doc_id
), mpairs AS (SELECT doc_a, doc_b FROM mh),
u AS (
  SELECT coalesce(m.doc_a, s.doc_a) AS doc_a,
         (m.doc_a IS NOT NULL) AS in_m, (s.doc_a IS NOT NULL) AS in_s
  FROM mpairs m FULL JOIN spairs s
    ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b
)
SELECT CAST(sum(CASE WHEN in_m AND in_s THEN 1 ELSE 0 END) AS BIGINT)
         AS n_both,
       CAST(sum(CASE WHEN in_m AND NOT in_s THEN 1 ELSE 0 END) AS BIGINT)
         AS n_minhash_only,
       CAST(sum(CASE WHEN in_s AND NOT in_m THEN 1 ELSE 0 END) AS BIGINT)
         AS n_simhash_only
FROM u
"""
    )


@register("dedup_method_agreement", oracle=_agreement_oracle())
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-method dedup diagnostic: how much do MinHash-LSH candidate
    pairs and SimHash exact-collision pairs AGREE on this corpus? The
    three counts (both / minhash-only / simhash-only) are the
    monitoring table a curation pipeline watches when tuning either
    signal — a sudden divergence means one method's knob (band width,
    hamming radius) drifted off the duplication profile, which no
    single-method metric can show. Both pair generators are the
    registered entries' own factored pipelines, so this diagnoses the
    production signals, not re-implementations.

    100 TB shape: the union of two bounded pair sets (each linear
    under the respective blocking guarantees) joined pair-to-pair —
    no new quadratic surface; the output is one row."""
    d = table(spark, sf_dir, "documents")
    pm = minhash_pairs_from_docs(d).select("doc_a", "doc_b")
    sh = simhash_from_docs(d)
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha")
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb")
    )
    ps = a.join(
        b, (F.col("ha") == F.col("hb")) & (F.col("doc_a") < F.col("doc_b"))
    ).select("doc_a", "doc_b")
    u = pm.withColumn("in_m", F.lit(True)).join(
        ps.withColumn("in_s", F.lit(True)),
        ["doc_a", "doc_b"],
        "full_outer",
    )
    in_m = F.coalesce("in_m", F.lit(False))
    in_s = F.coalesce("in_s", F.lit(False))
    return u.agg(
        F.sum(F.when(in_m & in_s, 1).otherwise(0))
        .cast("bigint")
        .alias("n_both"),
        F.sum(F.when(in_m & ~in_s, 1).otherwise(0))
        .cast("bigint")
        .alias("n_minhash_only"),
        F.sum(F.when(in_s & ~in_m, 1).otherwise(0))
        .cast("bigint")
        .alias("n_simhash_only"),
    )


# ---- near-time telemetry dedup --------------------------------------------


@register(
    "telemetry_near_time_dedup",
    oracle="""
    WITH k AS (
      SELECT user_id, event_type, event_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type,
                            CAST(floor(value * 100 + 0.5) AS BIGINT)
               ORDER BY ts, event_id) AS gap_us
      FROM (SELECT * FROM events WHERE value IS NULL OR (value > -9007199254.740992 AND value < 9007199254.740992)) events
    )
    SELECT user_id, event_type, event_id, cents
    FROM k WHERE gap_us IS NULL OR gap_us > 1000000
    """,
)
def telemetry_near_time_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-time telemetry dedup: client retries and at-least-once
    collectors emit the same measurement twice within milliseconds —
    exact dedup misses them because the timestamps differ. The rule:
    drop an event whose predecessor with the SAME (user, type, value)
    lies within 1 second; the lag-gap formulation makes that one
    ordered window pass per natural key (and deliberately NOT
    chained-suppression semantics — each row compares to its immediate
    predecessor, so a burst spaced at 0.9 s keeps only rows the
    previous surviving row would also keep iff gaps exceed the
    threshold; the streaming twin with true suppression is
    streaming_dedup_within_watermark).

    100 TB shape: one shuffle on the composite key; dedup state is
    the window's single lag value — nothing like the distinct-set
    state exact dedup carries, which is why telemetry pipelines run
    this rule BEFORE content-hash dedup."""
    e = table(spark, sf_dir, "events").filter(in_grid_domain(F.col("value")))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    t_us = (
        epoch_us_ntz("ts")
    )
    w = Window.partitionBy("user_id", "event_type", "cents").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    k = e.select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        cents.alias("cents"),
        t_us.alias("t_us"),
    ).withColumn("gap_us", F.col("t_us") - F.lag("t_us").over(w))
    return k.filter(
        F.col("gap_us").isNull() | (F.col("gap_us") > 1_000_000)
    ).select("user_id", "event_type", "event_id", "cents")
