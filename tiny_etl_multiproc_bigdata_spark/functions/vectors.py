"""Vector math over ``array<float/double>`` columns — built-in
higher-order functions (``zip_with`` / ``aggregate``), no UDFs, so the
whole similarity pipeline stays JVM-side and codegen'd.

Accumulation is a strict left-to-right fold, which matches DuckDB's
list_* kernels and keeps cross-engine float results bit-comparable after
rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.functions.rounding import round_half_up


def dot_product(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def duck_cosine(a: str, b: str) -> str:
    """DuckDB twin of ``cosine_similarity`` for oracle SQL."""
    return (
        f"list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


def cosine_scored(
    queries: DataFrame, candidates: DataFrame, key: str | None = None
) -> DataFrame:
    """``(query_id, candidate_id, cos)`` of an ANN search: the query set
    ``(query_id, qv[, q<key>])`` is broadcast and joined to the
    ``(vec_id, embedding[, <key>])`` candidates, itself excluded, inside
    the query's ``key`` cell when one is given."""
    on = F.col("vec_id") != F.col("query_id")
    if key is not None:
        on = (F.col(key) == F.col(f"q{key}")) & on
    return (
        F.broadcast(queries)
        .join(candidates, on)
        .select(
            "query_id",
            F.col("vec_id").alias("candidate_id"),
            cosine_similarity(F.col("qv"), F.col("embedding")).alias("cos"),
        )
    )


def duck_cosine_scored(queries: str, candidates: str, key: str | None = None) -> str:
    """DuckDB twin of ``cosine_scored``: the SELECT of ``(query_id,
    candidate_id, cos)`` over the relations ``queries`` ``(query_id,
    qv[, q<key>])`` and ``candidates`` ``(vec_id, emb[, <key>])``."""
    on = "c.vec_id <> q.query_id"
    if key is not None:
        on = f"c.{key} = q.q{key} AND {on}"
    return f"""SELECT q.query_id, c.vec_id AS candidate_id,
             {duck_cosine("q.qv", "c.emb")} AS cos
      FROM {queries} q JOIN {candidates} c ON {on}"""


def top_k_by_cosine(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-``k`` of a ``(query_id, candidate_id, cos)`` frame:
    rank by the micro-scaled integer score ``floor(cos·1e6+0.5)``
    descending, then ``candidate_id`` ascending (cross-engine-stable
    ties, ranked the same way in the oracles), keep ``rn <= k`` and
    project ``query_id, candidate_id, cosine, rn`` with the cosine
    rounded half-up to 4 places."""
    w = Window.partitionBy("query_id").orderBy(
        F.floor(F.col("cos") * 1_000_000 + F.lit(0.5)).cast("bigint").desc(),
        F.asc("candidate_id"),
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "candidate_id",
            round_half_up(F.col("cos"), 4).alias("cosine"),
            "rn",
        )
    )


def duck_top_k_by_cosine(scored: str, k: int) -> str:
    """DuckDB twin of ``top_k_by_cosine`` over the ``(query_id,
    candidate_id, cos)`` relation ``scored``: a ``ranked`` CTE and the
    final SELECT, written to follow ``), `` in an oracle's WITH list."""
    return f"""ranked AS (
      SELECT query_id, candidate_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY CAST(floor(cos * 1000000 + 0.5) AS BIGINT) DESC,
                                         candidate_id ASC) AS rn
      FROM {scored}
    )
    SELECT query_id, candidate_id, (floor(cos * 10000 + 0.5) / 10000) AS cosine, rn
    FROM ranked WHERE rn <= {k}"""


# Per-element grid bound, shared with functions/numerics.py: 2**53 /
# 1e6, the magnitude below which every quantization scale the vector
# tier uses (max 1e6) stays on the exact double integer grid. Spelled
# as a literal so engine and oracle carry the same constant.
_ELEM_LIMIT = 9007199254.740992

# Declared dimensionality of the embeddings corpus (the fixture's
# embeddings.embedding is FLOAT[64] everywhere) — the pgvector
# ``vector(N)`` idea expressed as an input contract: a vector whose
# length differs from the corpus dimension is not comparable, whatever
# its elements hold. A deployment with several corpora would carry one
# declared dim per table and pass it explicitly.
EMBED_DIM = 64


def is_complete_vector(a: Column, dim: int = EMBED_DIM) -> Column:
    """The embeddings INPUT CONTRACT predicate (r12 NULL-parity matrix
    extension; r13 widened to NON-FINITE elements and to the DECLARED
    DIMENSION): a usable vector is non-NULL, has exactly ``dim``
    elements, and every element is non-NULL AND inside the
    quantization-grid domain (``|x| < 2**53/1e6`` — which excludes
    NaN, ±Inf, and corrupt magnitudes; see functions/numerics.py for
    the comparison-semantics argument).

    The dimension conjunct (r13 ``--ragged`` matrix arm): a
    wrong-length vector — truncated decode, model-version mix, an
    empty array from a failed embed call — is the input the element
    contracts can't see (every element present and finite). Spark's
    ``zip_with`` pads the shorter side with NULL, so the fold dot
    product silently NULL-propagates and biases every downstream
    distance/top-k, while DuckDB's ``list_inner_product`` raises
    InvalidInputException ("list dimensions must be equal") — ONE
    ragged row diverged 24 entries (18 crash-one-side, 6
    silent-value), found by tools/null_parity_audit.py ``--ragged``.

    Why the class exists: the r11 contract covered ``embedding IS NOT
    NULL`` only; an array with NULL *elements* (the realistic shape of
    a partially-failed decode at corpus scale — schema-legal, the
    parquet list element is nullable) is a DIFFERENT input. Spark's
    ``aggregate``/``zip_with`` folds NULL-propagate element-wise while
    DuckDB's ``list_inner_product`` REFUSES NULL elements outright
    (InvalidInputException), so any similarity query diverged —
    crash-on-one-side — the moment such a row appeared (18 entries,
    found by extending tools/null_parity_audit.py's spike matrix). The
    r13 ``--nonfinite`` arm found the next input one step out: a NaN
    element (failed normalization) NaN-poisons every Spark distance
    while DuckDB's quantizing CAST raises ConversionException, and an
    Inf/huge element saturates Spark's CAST-to-BIGINT to Long.MIN
    inside aggregates (silent corruption) where DuckDB errors. A
    vector with a missing OR non-finite OR out-of-grid dimension is
    not comparable under dot/cosine (zero-filling or saturating
    silently biases every distance), so the symmetric contract is an
    explicit DROP on both engines — the oracle-side twin is
    ``complete_vector_sql``."""
    return (
        a.isNotNull()
        & (F.size(a) == F.lit(dim))
        & ~F.exists(
            a,
            lambda x: x.isNull()
            | ~((x > F.lit(-_ELEM_LIMIT)) & (x < F.lit(_ELEM_LIMIT))),
        )
    )


def complete_vector_sql(col: str = "embedding", dim: int = EMBED_DIM) -> str:
    """DuckDB twin of ``is_complete_vector`` for oracle WHERE clauses.

    NULL/NaN element handling rides the same comparison semantics as
    the engine predicate: a NULL element makes the lambda NULL (kept
    by ``x IS NULL``), NaN compares greater than every value in both
    engines, ±Inf falls outside the range — all counted incomplete;
    ``len(col) = dim`` mirrors the declared-dimension conjunct."""
    return (
        f"{col} IS NOT NULL"
        f" AND len({col}) = {dim}"
        f" AND length(list_filter({col}, x -> x IS NULL"
        f" OR NOT (x > -9007199254.740992 AND x < 9007199254.740992)))"
        f" = 0"
    )
