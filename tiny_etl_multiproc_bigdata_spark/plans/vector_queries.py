"""Similarity search over the embeddings table (array<float>, dim 64).

Two paths:
* brute-force cosine top-k — the exact baseline; a broadcast of the
  (small) query set against a full scan of the corpus. Scales linearly:
  at 100 TB the corpus side stays partition-parallel and the query side
  is broadcast, so no shuffle at all.
* random-hyperplane LSH buckets — the scale path: each vector gets a
  compact bucket id from sign-bits of dot products with fixed
  pseudo-random hyperplanes; search only compares same-bucket pairs.
  Hyperplanes are derived deterministically from md5 so the DuckDB
  oracle uses the exact same planes.

All vector math is built-in higher-order functions (zip_with/aggregate)
— JVM-side, no UDFs; see functions/vectors.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.hashing import duck_md5_long, md5_long
from tiny_etl_multiproc_bigdata_spark.functions.rounding import round_half_up
from tiny_etl_multiproc_bigdata_spark.functions.vectors import (
    complete_vector_sql,
    cosine_scored,
    cosine_similarity,
    duck_cosine,
    duck_cosine_scored,
    duck_top_k_by_cosine,
    is_complete_vector,
    top_k_by_cosine,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import register

_DIM = 64
_N_PLANES = 8
_N_QUERIES = 5  # vec_id < 5 act as the query set
_TOP_K = 10

# The embeddings INPUT CONTRACT (r12 NULL-parity matrix extension): a
# usable vector is non-NULL with no NULL elements. Spark's
# aggregate/zip_with folds NULL-propagate element-wise while DuckDB's
# list_inner_product ERRORS on NULL elements, so before this contract a
# single partially-decoded vector crash-diverged every similarity
# entry. See functions/vectors.py::is_complete_vector for the full
# rationale; `_VEC_OK` is the oracle-side twin.
_VEC_OK = complete_vector_sql("embedding")


def _complete_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table under the input contract. The 12 entries
    the r12 audit found divergent read through here (their oracles
    carry `_VEC_OK`), so the contract is one declaration per side;
    entries whose Spark/DuckDB NULL-element behavior already AGREED
    (e.g. embedding_quantize_int8's per-row transform) keep their
    measured-parity lowerings untouched — parity, not prettiness, is
    the bar, and touching them would re-queue attested entries for no
    behavioral reason."""
    return table(spark, sf_dir, "embeddings").filter(
        is_complete_vector(F.col("embedding"))
    )


def _plane(i: int) -> list[float]:
    """Deterministic pseudo-random hyperplane i: component j derives
    from md5(f"plane|{i}|{j}") — reproducible in any engine, no RNG."""
    import hashlib

    comps = []
    for j in range(_DIM):
        h = hashlib.md5(f"plane|{i}|{j}".encode()).hexdigest()
        v = int(h[:15], 16)
        comps.append(((v % 2001) - 1000) / 1000.0)
    return comps


_PLANES = [_plane(i) for i in range(_N_PLANES)]


def _dot_lit(vec_col, plane: list[float]):
    arr = F.array(*[F.lit(x) for x in plane])
    return F.aggregate(
        F.zip_with(vec_col, arr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _bucket(vec_col):
    b = None
    for i, plane in enumerate(_PLANES):
        term = F.when(_dot_lit(vec_col, plane) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        b = term if b is None else b + term
    return b.cast("bigint")


def _duck_plane_lit(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]"


def _duck_bucket(expr: str) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({expr}, {_duck_plane_lit(p)}) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_PLANES)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE {_VEC_OK}
    ), q AS (
      SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id < {_N_QUERIES}
    ), scored AS ({duck_cosine_scored("q", "e")}
    ), {duck_top_k_by_cosine("scored", _TOP_K)}
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query vectors, scan the corpus
    once, per-query row_number over a micro-scaled integer score
    (cross-engine-stable ordering). Input contract (r12 NULL-element
    matrix): incomplete vectors excluded on both engines."""
    e = _complete_embeddings(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return top_k_by_cosine(cosine_scored(q, e), _TOP_K)


@register(
    "ann_lsh_buckets",
    oracle=f"""
    SELECT {_duck_bucket("embedding::DOUBLE[]")} AS bucket,
           count(*) AS n_vectors,
           min(vec_id) AS min_vec_id
    FROM embeddings
    WHERE {_VEC_OK}
    GROUP BY 1
    """,
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment + histogram: the
    partitioning primitive for sub-linear similarity search (bucket id =
    8 sign bits → 256 buckets). Input contract (r11 NULL-parity audit,
    widened to NULL elements by the r12 matrix): an incomplete vector
    has no bucket — excluded on both engines."""
    e = _complete_embeddings(spark, sf_dir)
    return (
        e.select(_bucket(F.col("embedding")).alias("bucket"), "vec_id")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             {_duck_bucket("embedding::DOUBLE[]")} AS bucket
      FROM embeddings WHERE {_VEC_OK}
    ), q AS (
      SELECT vec_id AS query_id, emb AS qv, bucket AS qbucket FROM v WHERE vec_id < {_N_QUERIES}
    ), scored AS ({duck_cosine_scored("q", "v", "bucket")}
    ), {duck_top_k_by_cosine("scored", _TOP_K)}
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: candidates restricted to the query's bucket —
    the sub-linear scale path (compares ~1/256 of the corpus per query;
    recall grows with multi-probe / more tables, same plan shape).
    Input contract (r11 NULL-parity audit, widened to NULL elements by
    the r12 matrix): incomplete vectors have no bucket — excluded on
    both engines."""
    e = _complete_embeddings(spark, sf_dir)
    v = e.select("vec_id", "embedding", _bucket(F.col("embedding")).alias("bucket"))
    q = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    return top_k_by_cosine(cosine_scored(q, v, "bucket"), _TOP_K)


@register(
    "vector_norm_stats",
    oracle=f"""
    SELECT label,
           count(*) AS n,
           (floor(CAST(sum(CAST(sqrt(list_dot_product(embedding::DOUBLE[],
                                                     embedding::DOUBLE[]))
                               AS DECIMAL(20,8))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000)
             AS avg_l2_norm
    FROM embeddings
    WHERE {_VEC_OK}
    GROUP BY label
    """,
)
def vector_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector norm stats. The cross-row mean goes through a
    per-row DECIMAL cast so the sum is order-independent (shuffle-safe)
    — same recipe as the money aggregates. Input contract (r11
    NULL-parity audit, widened to NULL elements by the r12 matrix): an
    incomplete vector has no norm — excluded on both engines (a NULL
    label stays a real group)."""
    from tiny_etl_multiproc_bigdata_spark.functions.vectors import l2_norm

    e = _complete_embeddings(spark, sf_dir)
    norm_dec = l2_norm(F.col("embedding")).cast("decimal(20,8)")
    return e.groupBy("label").agg(
        F.count("*").alias("n"),
        round_half_up(F.sum(norm_dec).cast("double") / F.count("*"), 4).alias("avg_l2_norm"),
    )


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
               / 127.0 AS scale
      FROM embeddings
      WHERE {_VEC_OK}
    )
    SELECT vec_id,
           (floor(scale * 1000000 + 0.5) / 1000000) AS scale_r,
           array_to_string(list_transform(emb,
             x -> CAST(CAST(floor((CASE WHEN scale > 0
                                        THEN x / scale ELSE 0.0 END) + 0.5)
                            AS BIGINT) AS VARCHAR)), ',') AS q_str
    FROM s
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (scale = max|x|/127) —
    the storage/serving compression step of an embedding pipeline.
    Quantized values use floor(x+0.5) (identical semantics in both
    engines, unlike banker's/away-from-zero rounding); the quantized
    array is string-encoded because list-valued result cells are
    unhashable for the verification canonicalizer. Zero-shuffle per-row
    expressions; `scale` referenced inside the transform lambda is
    re-inlined per element by CollapseProject (~d·d flops/row, d=64 —
    still cheaper at scale than materializing an intermediate column
    via a barrier or shuffle)."""
    e = _complete_embeddings(spark, sf_dir)
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(emb, lambda x: F.abs(x))) / F.lit(127.0)
    q = F.transform(
        emb,
        lambda x: F.floor(
            F.when(scale > 0, x / scale).otherwise(F.lit(0.0)) + F.lit(0.5)
        )
        .cast("bigint")
        .cast("string"),
    )
    return e.select(
        "vec_id",
        round_half_up(scale, 6).alias("scale_r"),
        F.array_join(q, ",").alias("q_str"),
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) code assignment
# --------------------------------------------------------------------------

_PQ_SUBS = 4       # subspaces
_PQ_SUBDIM = 16    # _DIM / _PQ_SUBS
_PQ_CODES = 8      # codewords per subspace


def _pq_codeword(s: int, j: int) -> list[float]:
    """Deterministic pseudo-random codeword j of subspace s — same
    md5-derived recipe as the LSH hyperplanes (_plane): stands in for
    an offline-trained codebook, reproducible in any engine."""
    import hashlib

    comps = []
    for d in range(_PQ_SUBDIM):
        h = hashlib.md5(f"pq|{s}|{j}|{d}".encode()).hexdigest()
        comps.append(((int(h[:15], 16) % 2001) - 1000) / 1000.0)
    return comps


_PQ_CB = [
    [_pq_codeword(s, j) for j in range(_PQ_CODES)] for s in range(_PQ_SUBS)
]


def _pq_oracle() -> str:
    # per-(subspace, codeword) quantized squared L2: each per-dimension
    # term quantizes to integer micro-units BEFORE the sum, so the
    # distance is an order-independent integer in both engines
    dist_cols = []
    for s in range(_PQ_SUBS):
        for j in range(_PQ_CODES):
            w = "[" + ", ".join(repr(x) for x in _PQ_CB[s][j]) + "]"
            dist_cols.append(
                f"list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}), i -> "
                f"CAST(floor((CAST(embedding[{s * _PQ_SUBDIM}+i] AS DOUBLE) - {w}[i])"
                f" * (CAST(embedding[{s * _PQ_SUBDIM}+i] AS DOUBLE) - {w}[i])"
                f" * 1000000 + 0.5) AS BIGINT))) AS d{s}_{j}"
            )
    codes = []
    for s in range(_PQ_SUBS):
        ds = [f"d{s}_{j}" for j in range(_PQ_CODES)]
        m = f"least({', '.join(ds)})"
        case = " ".join(
            f"WHEN d{s}_{j} = m{s} THEN {j}" for j in range(_PQ_CODES)
        )
        codes.append((f"{m} AS m{s}", f"CAST(CASE {case} END AS BIGINT) AS code{s}"))
    # Incomplete vectors can't be coded (r11 NULL-parity audit; r12
    # widened to NULL elements): a NULL embedding yields NULL codes
    # whose NULL ADC sums rank FIRST under Spark's ASC default but
    # LAST under DuckDB's, and a NULL ELEMENT makes the two engines'
    # list arithmetic disagree outright (Spark NULL-propagates the
    # fold, DuckDB's list_sum skips NULL terms — a biased partial
    # distance) — excluded here and in the engine twins
    # (pq_code_assign, pq_adc_topk)
    return f"""
    WITH dists AS (
      SELECT vec_id, {", ".join(dist_cols)} FROM embeddings
      WHERE {_VEC_OK}
    ), mins AS (
      SELECT vec_id, {", ".join(c[0] for c in codes)}, * FROM dists
    )
    SELECT vec_id, {", ".join(c[1] for c in codes)} FROM mins
    """


@register("pq_code_assign", oracle=_pq_oracle())
def pq_code_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code assignment: the 64-dim embedding
    splits into 4 × 16-dim subvectors, each mapped to its nearest of 8
    deterministic codewords — the memory side of IVF-PQ ANN (64 floats
    → 4 small codes; real deployments use 8×256 and store one byte per
    subspace; identical plan shape). The codebook is a broadcast-sized
    model artifact embedded as literals — assignment is a pure per-row
    JVM expression, ZERO shuffle, linear in the corpus; at 100 TB this
    is exactly the map-only pass that writes the compressed index.

    Determinism: each per-dimension squared difference quantizes to
    integer micro-units BEFORE summing (order-independent integer
    distance); argmin ties break to the lowest code in both engines
    via the identical first-match CASE. Input contract (r11
    NULL-parity audit, widened to NULL elements by the r12 matrix): an
    incomplete vector can't be coded — excluded on both engines
    (mirrored in _pq_oracle)."""
    e = _complete_embeddings(spark, sf_dir)
    cols = {"vec_id": F.col("vec_id")}
    dist_names: list[list[str]] = []
    for s in range(_PQ_SUBS):
        names = []
        sub = F.slice("embedding", s * _PQ_SUBDIM + 1, _PQ_SUBDIM)
        for j in range(_PQ_CODES):
            w = F.array(*[F.lit(x) for x in _PQ_CB[s][j]])
            terms = F.zip_with(
                sub,
                w,
                lambda x, y: F.floor(
                    (x.cast("double") - y) * (x.cast("double") - y) * 1_000_000
                    + F.lit(0.5)
                ).cast("bigint"),
            )
            name = f"d{s}_{j}"
            names.append(name)
            cols[name] = F.aggregate(
                terms, F.lit(0).cast("bigint"), lambda acc, v: acc + v
            )
        dist_names.append(names)
    dists = e.select(*[c.alias(n) for n, c in cols.items()])
    out = [F.col("vec_id")]
    for s in range(_PQ_SUBS):
        m = F.least(*[F.col(n) for n in dist_names[s]])
        code = F.when(F.col(dist_names[s][0]) == m, 0)
        for j in range(1, _PQ_CODES):
            code = code.when(F.col(dist_names[s][j]) == m, j)
        out.append(code.cast("bigint").alias(f"code{s}"))
    return dists.select(*out)


# --------------------------------------------------------------------------
# PQ asymmetric-distance (ADC) top-k search
# --------------------------------------------------------------------------


def _pq_qdist_exprs(prefix: str) -> list[str]:
    """DuckDB SQL for the 32 per-(subspace, codeword) quantized squared
    L2 distances of a query embedding — the same integer recipe as the
    assignment distances in ``_pq_oracle`` (shared arithmetic is what
    makes the ADC sum engine-exact)."""
    cols = []
    for s in range(_PQ_SUBS):
        for j in range(_PQ_CODES):
            w = "[" + ", ".join(repr(x) for x in _PQ_CB[s][j]) + "]"
            cols.append(
                f"list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}), i -> "
                f"CAST(floor((CAST({prefix}embedding[{s * _PQ_SUBDIM}+i] AS DOUBLE) - {w}[i])"
                f" * (CAST({prefix}embedding[{s * _PQ_SUBDIM}+i] AS DOUBLE) - {w}[i])"
                f" * 1000000 + 0.5) AS BIGINT))) AS qd{s}_{j}"
            )
    return cols


def _pq_adc_oracle() -> str:
    codes_sql = _pq_oracle().strip()
    adc_terms = []
    for s in range(_PQ_SUBS):
        case = " ".join(
            f"WHEN {j} THEN q.qd{s}_{j}" for j in range(_PQ_CODES)
        )
        adc_terms.append(f"(CASE c.code{s} {case} END)")
    return f"""
    WITH codes AS ({codes_sql}),
    qlut AS (
      SELECT vec_id AS query_id, {", ".join(_pq_qdist_exprs(""))}
      FROM embeddings
      WHERE vec_id < {_N_QUERIES} AND {_VEC_OK}
    ), scored AS (
      SELECT q.query_id, c.vec_id AS candidate_id,
             CAST({" + ".join(adc_terms)} AS BIGINT) AS adc_dist
      FROM qlut q JOIN codes c ON c.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, candidate_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist ASC, candidate_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, candidate_id, adc_dist, rn
    FROM ranked WHERE rn <= {_TOP_K}
    """


@register("pq_adc_topk", oracle=_pq_adc_oracle())
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search — the query-time half of the
    IVF-PQ stack whose write pass is ``pq_code_assign``: each query
    precomputes a 4×8 lookup table of quantized subspace distances to
    every codeword (32 integers per query — the model-artifact-sized
    object), then every compressed corpus row is scored with FOUR array
    lookups and three adds instead of 64 float multiplies. This is how
    a 100 TB corpus is searched from one-byte-per-subspace codes
    without touching raw vectors.

    Scale shape: corpus side is the map-only code assignment (zero
    Exchange, the pq_code_assign plan) scored against the BROADCAST
    query LUTs; the only shuffle is the per-query top-k, which the
    rank<=k window rewrites to WindowGroupLimit (per-partition heaps
    carry ≤ k·|queries| rows to the exchange). Distances are exact
    integers (the assignment recipe), so ranking and ties
    ((adc, candidate_id)) are engine-identical."""
    codes = pq_code_assign(spark, sf_dir)
    q = _complete_embeddings(spark, sf_dir).filter(
        F.col("vec_id") < _N_QUERIES
    )
    lut_cols = {"query_id": F.col("vec_id")}
    for s in range(_PQ_SUBS):
        sub = F.slice("embedding", s * _PQ_SUBDIM + 1, _PQ_SUBDIM)
        dists = []
        for j in range(_PQ_CODES):
            w = F.array(*[F.lit(x) for x in _PQ_CB[s][j]])
            terms = F.zip_with(
                sub,
                w,
                lambda x, y: F.floor(
                    (x.cast("double") - y) * (x.cast("double") - y) * 1_000_000
                    + F.lit(0.5)
                ).cast("bigint"),
            )
            dists.append(
                F.aggregate(terms, F.lit(0).cast("bigint"), lambda a, v: a + v)
            )
        lut_cols[f"lut{s}"] = F.array(*dists)
    qlut = q.select(*[c.alias(n) for n, c in lut_cols.items()])
    adc = None
    for s in range(_PQ_SUBS):
        term = F.element_at(f"lut{s}", (F.col(f"code{s}") + 1).cast("int"))
        adc = term if adc is None else adc + term
    scored = (
        F.broadcast(qlut)
        .join(codes, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("candidate_id"),
            adc.cast("bigint").alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("candidate_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "candidate_id", "adc_dist", "rn")
    )


# --------------------------------------------------------------------------
# Corpus-wide feature standardization (z-score per dimension)
# --------------------------------------------------------------------------


@register(
    "embedding_standardize",
    oracle=f"""
    WITH comp AS (
      SELECT vec_id, x.i AS pos,
             CAST(floor(CAST(x.v AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
      FROM (SELECT * FROM embeddings WHERE {_VEC_OK}) embeddings,
           unnest(list_transform(range(1, len(embedding) + 1),
                                 i -> {{'i': i, 'v': embedding[i]}})) AS t(x)
    ), stats AS (
      SELECT pos,
             CAST(sum(CAST(q AS DECIMAL(38,0))) AS DOUBLE) / count(*) AS mean_q,
             sqrt(CAST(sum(CAST(q AS DECIMAL(38,0)) * q) AS DOUBLE) / count(*)
                  - (CAST(sum(CAST(q AS DECIMAL(38,0))) AS DOUBLE) / count(*))
                    * (CAST(sum(CAST(q AS DECIMAL(38,0))) AS DOUBLE) / count(*)))
               AS std_q
      FROM comp GROUP BY pos
    )
    SELECT c.vec_id,
           (floor(sqrt(CAST(sum(
              CAST(floor(((c.q - s.mean_q) / nullif(s.std_q, 0))
                         * ((c.q - s.mean_q) / nullif(s.std_q, 0))
                         * 1000000 + 0.5) AS BIGINT)
            ) AS DOUBLE) / 1000000) * 10000 + 0.5) / 10000) AS z_norm,
           count(*) AS n_dims
    FROM comp c JOIN stats s ON c.pos = s.pos
    GROUP BY c.vec_id
    """,
)
def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide per-dimension z-score standardization — the feature
    scaling pass before clustering/similarity when dimensions have
    unequal variance. Emitted as each vector's standardized L2 norm
    (one scalar check that touches every component).

    Determinism recipe, end to end: components quantize to integer
    micro-units; per-dimension sums run in DECIMAL(38,0) (exact,
    associative, overflow-safe far past 1e9 vectors); mean/std derive
    from those exact sums through an identical expression tree in both
    engines; each squared z-term re-quantizes to integer microunits
    before the per-vector sum. No double accumulation anywhere.

    Scale shape: posexplode → ONE tiny aggregation keyed by the 64
    dimension positions (shuffle size independent of corpus size, the
    embedding_label_centroids pattern) → broadcast stats back → per-row
    work. The per-vector regroup shuffles (vec_id, 64 ints); at 100 TB
    you would instead keep components in-row via zip_with against a
    64-element broadcast stats array — same math, zero regroup; the
    exploded form is used here so the stats join shape is exercised.
    Input contract (r13 non-finite matrix): incomplete vectors are
    excluded on both engines before standardization."""
    e = _complete_embeddings(spark, sf_dir)
    comp = e.select(
        "vec_id",
        F.posexplode("embedding").alias("pos0", "v"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("v").cast("double") * 1_000_000 + F.lit(0.5))
        .cast("bigint")
        .alias("q"),
    )
    qd = F.col("q").cast("decimal(38,0)")
    stats = comp.groupBy("pos").agg(
        (F.sum(qd).cast("double") / F.count("*")).alias("mean_q"),
        F.sqrt(
            F.sum(qd * F.col("q")).cast("double") / F.count("*")
            - (F.sum(qd).cast("double") / F.count("*"))
            * (F.sum(qd).cast("double") / F.count("*"))
        ).alias("std_q"),
    )
    # nullif guard: a constant dimension (std_q = 0) contributes NULL —
    # skipped identically by sum() in both engines — instead of an
    # Inf/NaN that casts differently (Spark → NULL bigint, DuckDB → error)
    z = (F.col("q") - F.col("mean_q")) / F.nullif(F.col("std_q"), F.lit(0.0))
    return (
        comp.join(F.broadcast(stats), "pos")
        .select(
            "vec_id",
            F.floor(z * z * 1_000_000 + F.lit(0.5)).cast("bigint").alias("z2q"),
        )
        .groupBy("vec_id")
        .agg(
            round_half_up(
                F.sqrt(F.sum("z2q").cast("double") / 1_000_000), 4
            ).alias("z_norm"),
            F.count("*").alias("n_dims"),
        )
    )


def _recall_at_k(exact: DataFrame, found: DataFrame) -> DataFrame:
    """Per-query recall@k of the ``found`` (query_id, candidate_id)
    top-k against the ``exact`` one."""
    hits = found.select("query_id", "candidate_id", F.lit(1).alias("hit"))
    return (
        exact.select("query_id", "candidate_id")
        .join(hits, ["query_id", "candidate_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.count("hit").cast("bigint").alias("n_hit"),
            round_half_up(
                F.count("hit").cast("double") / F.count("*"), 4
            ).alias("recall_at_k"),
        )
    )


def _duck_recall_at_k(exact: str, found: str) -> str:
    """DuckDB twin of _recall_at_k over two top-k relations, each given
    as ``"name alias"``."""
    x, f = exact.split()[1], found.split()[1]
    on = f"        LEFT JOIN {found} ON "  # the AND below ends where ON does
    return f"""SELECT {x}.query_id,
               count(*) AS n_exact,
               CAST(count({f}.candidate_id) AS BIGINT) AS n_hit,
               (floor(CAST(count({f}.candidate_id) AS DOUBLE) / count(*)
                      * 10000 + 0.5) / 10000) AS recall_at_k
        FROM {exact}
{on}{f}.query_id = {x}.query_id
{" " * (len(on) - 4)}AND {f}.candidate_id = {x}.candidate_id
        GROUP BY {x}.query_id"""


def _register_ivf_recall_eval() -> None:
    # Pull the two already-registered oracles and compose them as named
    # CTEs (a CTE body may itself carry a WITH clause); importing
    # ivf_kmeans here guarantees ann_ivf_multiprobe is registered
    # regardless of plans-module import order.
    from tiny_etl_multiproc_bigdata_spark.plans import ivf_kmeans
    from tiny_etl_multiproc_bigdata_spark.plans.registry import REGISTRY

    brute_sql = REGISTRY["ann_bruteforce_topk"].oracle
    ivf_sql = REGISTRY["ann_ivf_multiprobe"].oracle

    @register(
        "ivf_recall_eval",
        oracle=f"""
        WITH brute AS ({brute_sql}),
        ivf AS ({ivf_sql})
        {_duck_recall_at_k("brute b", "ivf i")}
        """,
    )
    def ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """ANN quality evaluation: per-query recall@k of the 2-probe
        IVF index against exact brute-force cosine top-k — the
        measurement loop that sizes nprobe/centroid-count before a
        production index build (the vector twin of
        minhash_recall_eval's band/row tuning). Composes the two
        registered queries unchanged, so the eval measures EXACTLY what
        the production entries run; both sides' rankings are integer-
        quantized, making the recall a cross-engine-exact integer ratio.

        100 TB shape: the eval runs on the (tiny) query sample — brute
        force over the corpus is the expensive side and is exactly the
        cost being amortized by the index; running it on a bounded
        query set is the standard offline recall protocol."""
        return _recall_at_k(
            ann_bruteforce_topk(spark, sf_dir),
            ivf_kmeans.ann_ivf_multiprobe(spark, sf_dir),
        )


_register_ivf_recall_eval()


def _register_pq_recall_eval() -> None:
    from tiny_etl_multiproc_bigdata_spark.plans.ivf_kmeans import _DUCK_L2SQ, _l2sq
    from tiny_etl_multiproc_bigdata_spark.plans.registry import REGISTRY

    pq_sql = REGISTRY["pq_adc_topk"].oracle

    @register(
        "pq_recall_eval",
        oracle=f"""
        WITH pq AS ({pq_sql}),
        q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings
          WHERE vec_id < {_N_QUERIES} AND {_VEC_OK}
        ), exact AS (
          SELECT query_id, candidate_id FROM (
            SELECT q.query_id, e.vec_id AS candidate_id,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY CAST(floor(
                       {_DUCK_L2SQ.format(a="q.qv", b="e.embedding::DOUBLE[]")}
                       * 1000000 + 0.5) AS BIGINT) ASC,
                       e.vec_id ASC) AS rn
            FROM q JOIN embeddings e
              ON e.vec_id <> q.query_id
              AND {complete_vector_sql("e.embedding")}
          ) WHERE rn <= {_TOP_K}
        )
        {_duck_recall_at_k("exact x", "pq p")}
        """,
    )
    def pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Compression-loss measurement for the PQ index: per-query
        recall@k of ADC search over 4×3-bit codes against EXACT
        integer-quantized L2 top-k on the raw vectors — the number that
        decides codebook size before a 100 TB index build (the PQ twin
        of ivf_recall_eval; both metrics are L2, so the gap measured is
        pure quantization loss, not metric mismatch). Composes the
        registered pq_adc_topk unchanged. Input contract (r11
        NULL-parity audit, widened to NULL elements by the r12
        matrix): incomplete vectors have no distance — excluded from
        queries and the exact-scan corpus on both engines (a NULL
        L2 would rank FIRST under Spark's ASC default, LAST under
        DuckDB's)."""
        e = _complete_embeddings(spark, sf_dir)
        q = e.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.floor(
                _l2sq(F.col("qv"), F.col("embedding")) * 1_000_000 + F.lit(0.5)
            )
            .cast("bigint")
            .asc(),
            F.asc("vec_id"),
        )
        exact = (
            F.broadcast(q)
            .join(e, F.col("vec_id") != F.col("query_id"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _TOP_K)
            .select("query_id", F.col("vec_id").alias("candidate_id"))
        )
        return _recall_at_k(exact, pq_adc_topk(spark, sf_dir))


_register_pq_recall_eval()


_RRF_K = 60  # standard reciprocal-rank-fusion damping constant


def _register_hybrid_search_rrf() -> None:
    from tiny_etl_multiproc_bigdata_spark.plans.registry import REGISTRY

    # import-order guard: composing bm25's oracle requires corpus_ops to
    # have registered — true under registry._load_all(), but a consumer
    # importing this module directly (a bench script, a REPL) would
    # otherwise hit a KeyError that depends on import order
    from tiny_etl_multiproc_bigdata_spark.plans import corpus_ops  # noqa: F401

    bm25_sql = REGISTRY["bm25_doc_scores"].oracle
    brute_sql = REGISTRY["ann_bruteforce_topk"].oracle

    @register(
        "hybrid_search_rrf",
        oracle=f"""
        WITH bm25 AS ({bm25_sql}),
        lex AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY bm25_score DESC, doc_id ASC)
                   AS r
          FROM bm25
        ), brute AS ({brute_sql}),
        sem AS (
          SELECT candidate_id AS doc_id, rn AS r
          FROM brute WHERE query_id = 0
        ), fused AS (
          SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
                 CAST(coalesce(l.r, 0) AS BIGINT) AS lex_rank,
                 CAST(coalesce(s.r, 0) AS BIGINT) AS sem_rank,
                 CAST(coalesce(CAST(floor(100000000.0 / ({_RRF_K} + l.r)
                                          + 0.5) AS BIGINT), 0)
                      + coalesce(CAST(floor(100000000.0 / ({_RRF_K} + s.r)
                                            + 0.5) AS BIGINT), 0)
                      AS BIGINT) AS rrf_e8
          FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
        )
        SELECT doc_id, lex_rank, sem_rank, rrf_e8
        FROM fused
        ORDER BY rrf_e8 DESC, doc_id ASC
        LIMIT 10
        """,
    )
    def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.
        2009): fuse the lexical ranking (BM25 top-20) with the semantic
        ranking (exact cosine top-10 for query vector 0) as
        Σ 1/(k + rank) — the standard modern search stack's merge step,
        score-scale-free by construction (ranks only, so BM25 scores
        and cosines never need calibration against each other).
        Contributions are micro-quantized per (doc, ranking) before the
        sum, keeping fusion integer-exact cross-engine; both input
        rankings are the registered entries unchanged.

        100 TB shape: fusion operates on the top-k lists (tens of
        rows), not the corpus — the expensive sides are the upstream
        retrievals, already scale-audited; the full-outer merge and
        re-sort are driver-trivial at any corpus size."""
        from pyspark.sql import Window

        from tiny_etl_multiproc_bigdata_spark.plans.corpus_ops import (
            bm25_doc_scores,
        )

        lex = bm25_doc_scores(spark, sf_dir).select(
            "doc_id",
            F.row_number()
            .over(
                Window.orderBy(F.desc("bm25_score"), F.asc("doc_id"))
            )
            .alias("r"),
        )
        sem = (
            ann_bruteforce_topk(spark, sf_dir)
            .where(F.col("query_id") == 0)
            .select(F.col("candidate_id").alias("doc_id"), F.col("rn").alias("r"))
        )

        def contrib(r):
            return F.floor(
                F.lit(100_000_000.0) / (F.lit(_RRF_K) + r) + 0.5
            ).cast("bigint")

        fused = (
            lex.select("doc_id", F.col("r").alias("lr"))
            .join(
                sem.select("doc_id", F.col("r").alias("sr")),
                "doc_id",
                "full_outer",
            )
            .select(
                "doc_id",
                F.coalesce("lr", F.lit(0)).cast("bigint").alias("lex_rank"),
                F.coalesce("sr", F.lit(0)).cast("bigint").alias("sem_rank"),
                (
                    F.coalesce(contrib(F.col("lr")), F.lit(0))
                    + F.coalesce(contrib(F.col("sr")), F.lit(0))
                )
                .cast("bigint")
                .alias("rrf_e8"),
            )
        )
        return fused.orderBy(F.desc("rrf_e8"), F.asc("doc_id")).limit(10)


_register_hybrid_search_rrf()


# ---- PCA top component via fixed power iterations (r07) -----------------

_PCA_ITERS = 2
_PCA_SCALE = 1_000_000  # micro-unit quantization for components and v


def _pca_oracle() -> str:
    head = f"""
    WITH q0 AS (
      SELECT vec_id, CAST(t.i AS BIGINT) AS i,
             CAST(floor(embedding[i]::DOUBLE * {_PCA_SCALE} + 0.5)
                  AS BIGINT) AS y0
      FROM (SELECT * FROM embeddings WHERE {_VEC_OK}) embeddings,
           unnest(range(1, len(embedding) + 1)) AS t(i)
    ), nn AS (
      SELECT count(DISTINCT vec_id) AS n FROM q0
    ), dimsum AS (
      SELECT i, sum(y0) AS s FROM q0 GROUP BY i
    ), y AS (
      SELECT q0.vec_id, q0.i,
             CAST(nn.n * q0.y0 - dimsum.s AS BIGINT) AS y
      FROM q0, nn JOIN dimsum ON dimsum.i = q0.i
    ), v0 AS (
      SELECT i, CAST({_PCA_SCALE} AS BIGINT) AS v FROM dimsum
    )"""
    steps = []
    for k in range(1, _PCA_ITERS + 1):
        steps.append(
            f""",
    s{k} AS (
      SELECT y.vec_id, sum(y.y * v.v) AS s
      FROM y JOIN v{k - 1} v ON v.i = y.i
      GROUP BY y.vec_id
    ), w{k} AS (
      SELECT y.i, sum(CAST(y.y AS HUGEINT) * CAST(s.s AS HUGEINT)) AS w
      FROM y JOIN s{k} s ON s.vec_id = y.vec_id
      GROUP BY y.i
    ), m{k} AS (
      SELECT max(abs(w)) AS m FROM w{k}
    ), v{k} AS (
      SELECT i,
             CAST(floor(CAST(w AS DOUBLE) / CAST(m AS DOUBLE)
                        * {_PCA_SCALE} + 0.5) AS BIGINT) AS v
      FROM w{k}, m{k}
    )"""
        )
    return (
        head
        + "".join(steps)
        + f"""
    SELECT CAST(i - 1 AS BIGINT) AS pos, v AS component_micro
    FROM v{_PCA_ITERS}"""
    )


@register("embedding_power_iteration", oracle=_pca_oracle(), ulp_sensitive=True)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed power iteration on the (implicit) embedding
    covariance — _PCA_ITERS exact rounds of v ← Yᵀ(Y v), renormalized
    to integer micro-units by the max component each round. Y is the
    CENTERED matrix kept exactly integral without a division:
    y = n·q − Σq per dimension (q = micro-quantized component), which
    scales mean-centering by n and leaves eigen-directions unchanged.
    Each round's 64-row result is pinned with localCheckpoint (the
    graph-suite barrier convention — without it every broadcast of v
    re-executes the previous round's contractions; measured 19
    shuffles for 2 rounds vs 4 with the pins); nothing ever collects
    to the driver.

    This is the PCA/Lanczos BUILDING BLOCK, verified exactly — not a
    converged PC1 on this fixture: convergence goes as (λ2/λ1)^k and
    the synthetic embeddings are near-isotropic (λ1/λ2 ≈ 1.013
    measured), so no practical k isolates PC1 here. On real embedding
    matrices (λ1/λ2 typically ≥ 2) the same plan converges in a few
    rounds; more components = deflate and repeat, or block/Lanczos
    with the identical two-contraction round. The oracle (and a numpy
    twin in tests/test_power_iteration.py) pins every round
    bit-exactly, which is the hard part — iteration count is a knob.

    Numerics: every matrix product runs in exact integer arithmetic —
    y·v fits int64 (|y| ≤ ~6e9, |v| ≤ 1e6, 64 dims → ≤ 4e17), the
    second contraction runs in DECIMAL(38,0) / HUGEINT (≤ ~1e31). The
    ONE engine-divergence point is the per-round renormalization,
    which casts the exact decimal w and max|w| to double before the
    half-up floor — correctly-rounded casts on both engines, but a
    ratio landing within 1 ULP of a 0.5-micro boundary could round to
    adjacent integers (ulp_sensitive; same class as the log-quantized
    entries). Sign is deterministic: v₀ = +1 and YᵀY is PSD.

    100 TB shape: per iteration one broadcast of the 64-row v, a
    map-side-combined per-row dot product, and a 64-group contraction
    — two narrow shuffles per round, state is 64 integers. This is the
    standard distributed power iteration (the building block under
    PCA whitening of embedding spaces). Input contract (r13
    non-finite matrix): incomplete vectors excluded on both engines."""
    e = _complete_embeddings(spark, sf_dir)
    q0 = (
        e.select("vec_id", F.posexplode("embedding"))
        .select(
            "vec_id",
            (F.col("pos") + 1).cast("bigint").alias("i"),
            F.floor(F.col("col").cast("double") * _PCA_SCALE + 0.5)
            .cast("bigint")
            .alias("y0"),
        )
    )
    nn = q0.agg(F.count_distinct("vec_id").cast("bigint").alias("n"))
    dimsum = q0.groupBy("i").agg(F.sum("y0").cast("bigint").alias("s"))
    y = (
        q0.join(F.broadcast(dimsum), "i")
        .crossJoin(F.broadcast(nn))
        .select(
            "vec_id",
            "i",
            (F.col("n") * F.col("y0") - F.col("s")).cast("bigint").alias("y"),
        )
        # feeds both contractions of every iteration — materialize once
        .localCheckpoint(eager=True)
    )
    v = dimsum.select(
        "i", F.lit(_PCA_SCALE).cast("bigint").alias("v")
    )
    for _ in range(_PCA_ITERS):
        s = (
            y.join(F.broadcast(v), "i")
            .groupBy("vec_id")
            .agg(F.sum(F.col("y") * F.col("v")).cast("bigint").alias("s"))
        )
        w = (
            y.join(s, "vec_id")
            .groupBy("i")
            .agg(
                F.sum(
                    F.col("y").cast("decimal(19,0)")
                    * F.col("s").cast("decimal(19,0)")
                ).alias("w")
            )
            # 64 rows, two consumers (max-abs + the rescale) — and the
            # next round broadcasts v, whose unpinned lineage would
            # re-execute this whole round per reference (measured: 19
            # shuffles for 2 rounds; 4 with the pins — r07 plan audit)
            .localCheckpoint(eager=True)
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = (
            w.crossJoin(F.broadcast(m))
            .select(
                "i",
                F.floor(
                    F.col("w").cast("double")
                    / F.col("m").cast("double")
                    * _PCA_SCALE
                    + 0.5
                )
                .cast("bigint")
                .alias("v"),
            )
            .localCheckpoint(eager=True)
        )
    return v.select(
        (F.col("i") - 1).cast("bigint").alias("pos"),
        F.col("v").alias("component_micro"),
    )


# ---- mutual nearest neighbors (embedding alignment) ----------------------


def _mnn_oracle() -> str:
    cos = duck_cosine("a.emb", "b.emb")
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             {_duck_bucket("embedding::DOUBLE[]")} AS bucket,
             vec_id % 2 AS side
      FROM embeddings
      WHERE {_VEC_OK}
    ),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             CAST(floor(({cos}) * 1000000 + 0.5) AS BIGINT) AS cm,
             ({cos}) AS cos
      FROM v a JOIN v b ON a.bucket = b.bucket
      WHERE a.side = 0 AND b.side = 1
    ),
    nna AS (
      SELECT a_id, b_id, cos FROM (
        SELECT a_id, b_id, cos,
               row_number() OVER (PARTITION BY a_id
                                  ORDER BY cm DESC, b_id ASC) AS rn
        FROM pairs
      ) WHERE rn = 1
    ),
    nnb AS (
      SELECT a_id, b_id FROM (
        SELECT a_id, b_id,
               row_number() OVER (PARTITION BY b_id
                                  ORDER BY cm DESC, a_id ASC) AS rn
        FROM pairs
      ) WHERE rn = 1
    )
    SELECT nna.a_id, nna.b_id,
           (floor(nna.cos * 10000 + 0.5) / 10000) AS cosine
    FROM nna JOIN nnb ON nna.a_id = nnb.a_id AND nna.b_id = nnb.b_id
    """


@register("mutual_nn_pairs", oracle=_mnn_oracle())
def mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-nearest-neighbor alignment between two embedding
    collections (even vs odd vec_ids as the two sides): a pair (a, b)
    survives iff b is a's nearest cross-side neighbor AND a is b's —
    the reciprocal-best-match criterion used for bitext mining
    (Artetxe & Schwenk 2019), cross-lingual dictionary induction, and
    batch-effect integration, where one-directional NN is known to
    hallucinate hubs. Candidates come from shared random-hyperplane
    LSH buckets (the dedup_embedding_lsh blocking — never all-pairs),
    and both argmaxes rank on the SAME micro-quantized integer cosine
    with id tie-breaks, so the mutual join is bit-deterministic.

    100 TB shape: bucket population averages n/2^planes and the pair
    stage is bucket-local; the two argmaxes are partial-agg
    min(struct) folds (no per-key sort), keyed by each side's id; the
    final mutuality check is an equi-join of two NN tables each at
    most one row per vector. Pairs are localCheckpointed once —
    both argmaxes read the same materialized candidate set. Input
    contract (r12 NULL-element matrix): incomplete vectors excluded on
    both engines."""
    e = _complete_embeddings(spark, sf_dir).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        _bucket(F.col("embedding").cast("array<double>")).alias("bucket"),
        (F.col("vec_id") % 2).alias("side"),
    ).localCheckpoint(eager=True)  # 8 hyperplane dot products run once
    a = e.filter(F.col("side") == 0).select(
        F.col("vec_id").alias("a_id"), F.col("emb").alias("a_emb"), "bucket"
    )
    b = e.filter(F.col("side") == 1).select(
        F.col("vec_id").alias("b_id"), F.col("emb").alias("b_emb"), "bucket"
    )
    cos = cosine_similarity(F.col("a_emb"), F.col("b_emb"))
    pairs = (
        a.join(b, "bucket")
        .select(
            "a_id",
            "b_id",
            F.floor(cos * 1_000_000 + F.lit(0.5)).cast("bigint").alias("cm"),
            cos.alias("cos"),
        )
        .localCheckpoint(eager=True)  # feeds BOTH argmax folds
    )
    nna = pairs.groupBy("a_id").agg(
        F.min(
            F.struct((-F.col("cm")).alias("nc"), F.col("b_id"), F.col("cos"))
        ).alias("m")
    ).select("a_id", F.col("m.b_id").alias("b_id"), F.col("m.cos").alias("cos"))
    nnb = pairs.groupBy("b_id").agg(
        F.min(F.struct((-F.col("cm")).alias("nc"), F.col("a_id"))).alias("m")
    ).select(F.col("m.a_id").alias("a_id"), F.col("b_id").alias("b_id"))
    return nna.join(nnb, ["a_id", "b_id"]).select(
        "a_id", "b_id", round_half_up(F.col("cos"), 4).alias("cosine")
    )


# ---- k-NN classification eval ------------------------------------------------

_KNN_Q = 50  # held-out query budget: vec_id < _KNN_Q
_KNN_K = 5


@register(
    "knn_label_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS true_label,
             embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {_KNN_Q} AND {_VEC_OK}
    ),
    scored AS (
      SELECT q.query_id, q.true_label, e.label,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY CAST(floor(
                 {duck_cosine("q.qv", "e.embedding::DOUBLE[]")}
                 * 1000000 + 0.5) AS BIGINT) DESC, e.vec_id ASC) AS rn
      FROM q JOIN embeddings e ON e.vec_id >= {_KNN_Q}
        AND {complete_vector_sql("e.embedding")}
    ),
    votes AS (
      SELECT query_id, true_label, label,
             CAST(count(*) AS BIGINT) AS v
      FROM scored WHERE rn <= {_KNN_K}
      GROUP BY query_id, true_label, label
    ),
    pred AS (
      SELECT query_id, true_label, label AS predicted_label
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY v DESC, label ASC) AS pr
            FROM votes)
      WHERE pr = 1
    )
    SELECT true_label, CAST(count(*) AS BIGINT) AS n_queries,
           CAST(count(*) FILTER (predicted_label = true_label) AS BIGINT)
             AS n_correct,
           (floor(CAST(count(*) FILTER (predicted_label = true_label)
                       AS DOUBLE) / count(*) * 10000 + 0.5) / 10000)
             AS accuracy
    FROM pred GROUP BY true_label
    """,
)
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification accuracy over the labeled embeddings:
    {Q} held-out queries classified by majority vote of their {K}
    nearest train-set neighbors (cosine) — the zero-training baseline
    every embedding-quality report starts with, and the direct eval of
    whether the ANN stack's neighborhoods carry label signal (recall
    evals check WHICH neighbors come back; this checks whether
    neighbors MEAN anything). Ordering and votes are integer-exact
    (micro-quantized cosine, vote-count/label tie-breaks), so the
    whole eval is deterministic.

    100 TB shape: the fixed query budget broadcasts; the corpus scans
    once per eval (brute-force on purpose — this is the exactness
    baseline; the production path swaps in ann_ivf_topk's bucketed
    candidates and reuses the same vote/argmax tail). Both argmaxes
    are windows over per-query bounded sets ({K} votes, |labels|
    rows). Input contract (r12 NULL-element matrix): incomplete
    vectors excluded from queries and train set on both engines."""
    e = _complete_embeddings(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _KNN_Q).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qv"),
    )
    train = e.filter(F.col("vec_id") >= _KNN_Q)
    cos_micro = (
        F.floor(
            cosine_similarity(F.col("qv"), F.col("embedding")) * 1_000_000
            + F.lit(0.5)
        ).cast("bigint")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cos_micro"), F.asc("vec_id")
    )
    scored = (
        F.broadcast(q)
        .join(train)
        .select("query_id", "true_label", "label", "vec_id",
                cos_micro.alias("cos_micro"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _KNN_K)
    )
    votes = scored.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("v"), F.asc("label"))
    pred = (
        votes.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") == 1)
        .select("query_id", "true_label", F.col("label").alias("predicted_label"))
    )
    hit = F.col("predicted_label") == F.col("true_label")
    return pred.groupBy("true_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.count_if(hit).cast("bigint").alias("n_correct"),
        round_half_up(
            F.count_if(hit).cast("double") / F.count(F.lit(1)), 4
        ).alias("accuracy"),
    )


# ---- nearest-centroid classification eval -------------------------------------


@register(
    "nearest_centroid_eval",
    oracle=f"""
    WITH cent AS (
      SELECT label, i - 1 AS pos,
             floor(avg(embedding[i]::DOUBLE) * 10000 + 0.5) / 10000 AS c
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
      WHERE vec_id >= {_KNN_Q} AND {_VEC_OK}
      GROUP BY label, i
    ),
    cvec AS (
      SELECT label AS c_label, list(c ORDER BY pos) AS cv FROM cent
      GROUP BY label
    ),
    q AS (
      SELECT vec_id AS query_id, label AS true_label,
             embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {_KNN_Q} AND {_VEC_OK}
    ),
    scored AS (
      SELECT q.query_id, q.true_label, cvec.c_label,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY CAST(floor(
                 {duck_cosine("q.qv", "cvec.cv")}
                 * 1000000 + 0.5) AS BIGINT) DESC, cvec.c_label ASC) AS rn
      FROM q CROSS JOIN cvec
    )
    SELECT true_label, CAST(count(*) AS BIGINT) AS n_queries,
           CAST(count(*) FILTER (c_label = true_label) AS BIGINT)
             AS n_correct,
           (floor(CAST(count(*) FILTER (c_label = true_label) AS DOUBLE)
                  / count(*) * 10000 + 0.5) / 10000) AS accuracy
    FROM scored WHERE rn = 1
    GROUP BY true_label
    """,
)
def nearest_centroid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification accuracy: train-set
    class centroids (quantized at 1e-4 — embedding_label_centroids'
    own output contract, which makes the downstream dot products
    deterministic), each held-out query assigned to its max-cosine
    centroid. The |labels|-parameter sibling of knn_label_eval: when
    the two disagree sharply the classes aren't convex in embedding
    space and centroid-based shortcuts (IVF seeding by label,
    dedup_semantic_kmeans) are suspect — that comparison is why both
    entries share an output schema.

    100 TB shape: centroids are a (labels x dims)-row aggregate of
    partial sums (corpus scans once), then broadcast as |labels| tiny
    vectors against the fixed query budget — the eval costs one scan
    + one broadcast nested loop over 10 rows. Input contract (r13
    non-finite matrix): incomplete vectors excluded on both engines."""
    e = _complete_embeddings(spark, sf_dir)
    train = e.filter(F.col("vec_id") >= _KNN_Q)
    cent = (
        train.select(
            "label", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        .groupBy("label", "pos")
        .agg(
            (
                F.floor(F.avg("col") * 10_000 + F.lit(0.5)) / 10_000
            ).alias("c")
        )
    )
    cvec = cent.groupBy(F.col("label").alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s.getField("c"),
        ).alias("cv")
    )
    q = e.filter(F.col("vec_id") < _KNN_Q).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qv"),
    )
    cos_micro = (
        F.floor(
            cosine_similarity(F.col("qv"), F.col("cv")) * 1_000_000
            + F.lit(0.5)
        ).cast("bigint")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cos_micro"), F.asc("c_label")
    )
    scored = (
        q.join(F.broadcast(cvec))
        .select("query_id", "true_label", "c_label", cos_micro.alias("cos_micro"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
    )
    hit = F.col("c_label") == F.col("true_label")
    return scored.groupBy("true_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.count_if(hit).cast("bigint").alias("n_correct"),
        round_half_up(
            F.count_if(hit).cast("double") / F.count(F.lit(1)), 4
        ).alias("accuracy"),
    )


# ---- LSH recall eval ----------------------------------------------------------


def _register_lsh_recall_eval() -> None:
    from tiny_etl_multiproc_bigdata_spark.plans.registry import REGISTRY

    brute_sql = REGISTRY["ann_bruteforce_topk"].oracle
    lsh_sql = REGISTRY["ann_lsh_topk"].oracle

    @register(
        "lsh_recall_eval",
        oracle=f"""
        WITH brute AS ({brute_sql}),
        lsh AS ({lsh_sql})
        {_duck_recall_at_k("brute b", "lsh l")}
        """,
    )
    def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Recall@k of single-bucket hyperplane-LSH search against
        exact brute force — completes the ANN recall triptych
        (minhash_recall_eval for sets, ivf_recall_eval for coarse
        quantization, THIS for random projections), so every indexing
        family in the repo carries its own measured quality number.
        LSH recall is structurally lower than 2-probe IVF's (one
        256-bucket cell holds ~1/256 of the corpus; near neighbors
        across a hyperplane land elsewhere) — making that loss visible
        is the point: it's the number that decides bucket bits vs
        probes vs hybrid. Composes the two registered entries
        unchanged; integer-quantized rankings keep the ratio exact.

        100 TB shape: same offline protocol as ivf_recall_eval — the
        bounded query sample pays the brute-force side once to price
        the index."""
        return _recall_at_k(
            ann_bruteforce_topk(spark, sf_dir), ann_lsh_topk(spark, sf_dir)
        )


_register_lsh_recall_eval()


# ---- int8 reconstruction error ------------------------------------------------


@register(
    "int8_reconstruction_error",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
               / 127.0 AS scale
      FROM embeddings
      WHERE {_VEC_OK}
    ),
    err AS (
      SELECT label,
             CAST(floor(
               list_sum(list_transform(emb,
                 x -> (x - (CASE WHEN scale > 0
                            THEN CAST(floor((x / scale) + 0.5) AS BIGINT)
                                 * scale
                            ELSE 0.0 END))
                      * (x - (CASE WHEN scale > 0
                              THEN CAST(floor((x / scale) + 0.5) AS BIGINT)
                                   * scale
                              ELSE 0.0 END))))
               * 1000000000000 + 0.5) AS BIGINT) AS se_e12,
             len(emb) AS dims
      FROM s
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
           (floor(CAST(sum(se_e12) AS DOUBLE) / sum(dims) / 1000000000000
                  * 1e10 + 0.5) / 1e10) AS mse_per_dim
    FROM err GROUP BY label
    """,
)
def int8_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction MSE of the registered int8 quantization
    (embedding_quantize_int8's exact scale/round definition, inlined so
    the measured codec is definitionally the shipped one), per label —
    the eval that says whether 4x storage compression is free for THIS
    corpus or eats the cosine margins knn_label_eval relies on, and
    the brute-force twin of pq_recall_eval's behavioral check. Each
    vector's squared error folds left-to-right over the dims (the
    functions/vectors.py determinism contract) and quantizes to 1e-12
    units BEFORE the per-label sum, so the MSE is an exact integer
    ratio.

    100 TB shape: pure map work plus one partial-agg'd groupBy on
    |labels| keys — the eval rides the same single scan the quantizer
    itself costs. Input contract (r12 NULL-element matrix): incomplete
    vectors have no reconstruction error — excluded on both engines
    (pre-contract, Spark's fold NULL-propagated the squared error while
    DuckDB's list_sum skipped the NULL term, shifting the label mean)."""
    e = _complete_embeddings(spark, sf_dir)
    emb = F.col("embedding").cast("array<double>")
    scale = F.array_max(F.transform(emb, lambda x: F.abs(x))) / 127.0
    s = e.select("vec_id", "label", emb.alias("emb"), scale.alias("scale"))
    deq = lambda x: F.when(  # noqa: E731
        F.col("scale") > 0,
        F.floor(x / F.col("scale") + F.lit(0.5)).cast("bigint")
        * F.col("scale"),
    ).otherwise(F.lit(0.0))
    se = F.aggregate(
        F.transform(F.col("emb"), lambda x: (x - deq(x)) * (x - deq(x))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    err = s.select(
        "label",
        F.floor(se * F.lit(1_000_000_000_000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("se_e12"),
        F.size("emb").alias("dims"),
    )
    return err.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        round_half_up(
            F.sum("se_e12").cast("double")
            / F.sum("dims")
            / F.lit(1_000_000_000_000.0),
            10,
        ).alias("mse_per_dim"),
    )


# ---- hamming-vs-cosine calibration --------------------------------------------

_CAL_N = 60  # pairs among vec_id < _CAL_N


@register(
    "hamming_cosine_calibration",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             {_duck_bucket("embedding::DOUBLE[]")} AS bucket
      FROM embeddings WHERE vec_id < {_CAL_N}
    ),
    pairs AS (
      SELECT bit_count(CAST(xor(a.bucket, b.bucket) AS BIGINT)) AS hamming,
             CAST(floor({duck_cosine("a.emb", "b.emb")}
                        * 1000000 + 0.5) AS BIGINT) AS cos_micro
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT CAST(hamming AS BIGINT) AS hamming,
           CAST(count(*) AS BIGINT) AS n_pairs,
           (floor(CAST(sum(cos_micro) AS DOUBLE) / count(*) / 1000000
                  * 10000 + 0.5) / 10000) AS mean_cosine
    FROM pairs GROUP BY hamming
    """,
)
def hamming_cosine_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical calibration of the 8-bit hyperplane signature: mean
    TRUE cosine of vector pairs at each signature hamming distance —
    the measured counterpart of the analytic collision model (each
    differing bit witnesses one separating hyperplane, so mean cosine
    should fall monotonically with hamming; where it doesn't, the
    planes are miscalibrated for this corpus). Together with
    minhash_lsh_sensitivity_curve (analytic) and lsh_recall_eval
    (end-to-end recall) this completes the LSH design-evidence set:
    model, mechanism, outcome. Per-pair cosines micro-quantize before
    the per-bucket mean — exact integer ratios.

    100 TB shape: calibration runs on a fixed {_CAL_N}-vector sample
    (quadratic in the SAMPLE only — the silhouette protocol); bucket
    bits come from the same broadcast plane literals the production
    index uses."""
    e = table(spark, sf_dir, "embeddings")
    v = (
        e.filter(F.col("vec_id") < _CAL_N)
        .select(
            "vec_id",
            F.col("embedding").alias("emb"),
            _bucket(F.col("embedding")).alias("bucket"),
        )
        .localCheckpoint(eager=True)  # consumers: both pair arms
    )
    a = v.select(
        F.col("vec_id").alias("ia"),
        F.col("emb").alias("ea"),
        F.col("bucket").alias("ba"),
    )
    b = v.select(
        F.col("vec_id").alias("ib"),
        F.col("emb").alias("eb"),
        F.col("bucket").alias("bb"),
    )
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        F.bit_count(F.col("ba").bitwiseXOR(F.col("bb"))).alias("hamming"),
        F.floor(
            cosine_similarity(F.col("ea"), F.col("eb")) * 1_000_000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("cos_micro"),
    )
    return pairs.groupBy(F.col("hamming").cast("bigint").alias("hamming")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        round_half_up(
            F.sum("cos_micro").cast("double")
            / F.count(F.lit(1))
            / 1_000_000,
            4,
        ).alias("mean_cosine"),
    )


# ---- Gram matrix over quantized embeddings -------------------------------

# fixed-point scale for X^T X accumulation: elements are quantized to
# 1e-4 units BEFORE any product, making every partial sum an exact
# BIGINT (|q| ~ 1e4 -> products ~ 1e8; 2^63 headroom ~ 9e18 rows)
_GRAM_Q = 10_000


def gram_from_embeddings(e: DataFrame) -> DataFrame:
    """Frame-level Gram pipeline (shared by the registry entry and
    bench.py's amplified topology).

    r13 optimization (guide §4.2 "do the heavy lifting in native code"):
    the previous lowering exploded d(d+1)/2 = 2080 structs PER ROW
    through a Generate into the partial hash-agg — ~66M codegen'd
    struct rows per 32k input rows in the amplified bench, all to fold
    a 64x64 integer outer product. The rewrite quantizes in the JVM
    (identical IEEE floor(x*Q+0.5) expression, so the fixed-point
    values are bit-identical), ships only the int64 arrays across one
    Arrow boundary, and accumulates G += A^T A per partition with a
    NumPy int64 matmul — each task emits exactly one upper triangle
    (<= 2080 rows), the shuffle moves |tasks| x 2080 partial rows, and
    the final sum is the same exact 64-bit integer arithmetic (Java
    long and int64 both wrap mod 2^64, and modular addition is fully
    associative, so the result is bit-identical under any grouping).
    Ragged inputs keep the old semantics: a row of length L contributes
    exactly the pairs i<=j<=L, and the emitted key set per partition is
    the triangle of the longest row seen there (a key (i,j) exists iff
    some row has length >= j — same as explode+groupBy).
    Amplified x16 A/B (paired, same session): 9.00s -> 0.35s median.
    """
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * _GRAM_Q + 0.5).cast("bigint"),
    )
    qv = e.where(F.col("embedding").isNotNull()).select(q.alias("qv"))

    def _gram_partial(batches):
        # local closure: pickled by value so Spark's Python workers
        # never need this package importable (driver-sim contract)
        import numpy as np
        import pyarrow as pa

        G = None  # grows to (Lmax, Lmax) for the longest row seen
        rows_seen, m_seen = 0, 0
        for b in batches:
            col = b.column(0)
            if col.null_count:
                col = col.drop_null()
            if len(col) == 0:
                continue
            offsets = np.asarray(col.offsets)
            # offsets are absolute into the (possibly sliced) values
            # buffer; flatten() re-bases to the covered range
            offsets = offsets - offsets[0]
            lengths = np.diff(offsets)
            flat_arrow = col.flatten()
            if flat_arrow.null_count:
                # both callers exclude NULL elements before this
                # boundary (the registry entry via is_complete_vector,
                # the bench via the NULL-free fixture); fail loudly
                # rather than silently diverge from the explode
                # lowering's NULL-skip fold if that ever changes
                raise ValueError(
                    "gram_from_embeddings requires element-complete "
                    "vectors (NULL element reached the Arrow boundary)"
                )
            flat = np.asarray(flat_arrow)
            lmax_b = int(lengths.max()) if len(lengths) else 0
            if lmax_b == 0:
                continue
            # ANSI-overflow parity guard: the JVM lowering ran long
            # multiply/sum under ANSI (throws on overflow) where NumPy
            # would silently wrap. Conservative bound: if every |q| <= m
            # and rows*m^2 < 2^63 then no pairwise product or partial
            # sum can leave int64 (exact Python-int arithmetic here, so
            # the check itself cannot wrap). Unreachable for in-contract
            # inputs (overflow needs |x| ~ 1e5+; grid-domain vectors
            # are unit-scale), but a wrap must crash, not bias.
            rows_seen += int(len(lengths))
            m_seen = max(m_seen, int(np.abs(flat).max()) if len(flat) else 0)
            if m_seen and rows_seen * m_seen * m_seen >= 2**63:
                raise ArithmeticError(
                    "gram_from_embeddings: quantized magnitudes large "
                    "enough to overflow int64 accumulation (ANSI-"
                    "parity guard)"
                )
            if G is None or G.shape[0] < lmax_b:
                G2 = np.zeros((lmax_b, lmax_b), dtype=np.int64)
                if G is not None:
                    G2[: G.shape[0], : G.shape[0]] += G
                G = G2
            if (lengths == lengths[0]).all():
                arr = flat.reshape(-1, int(lengths[0]))
                G[: arr.shape[1], : arr.shape[1]] += arr.T @ arr
            else:
                for ln in np.unique(lengths):
                    if ln == 0:
                        continue
                    starts = offsets[:-1][lengths == ln]
                    idx = starts[:, None] + np.arange(ln)[None, :]
                    arr = flat[idx]
                    G[:ln, :ln] += arr.T @ arr
        if G is not None:
            iu, ju = np.triu_indices(G.shape[0])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array((iu + 1).astype("int32")),
                    pa.array((ju + 1).astype("int32")),
                    pa.array(G[iu, ju]),
                ],
                names=["i", "j", "partial"],
            )

    partials = qv.mapInArrow(_gram_partial, "i int, j int, partial long")
    return partials.groupBy("i", "j").agg(
        F.sum("partial").cast("bigint").alias("gram_units")
    )


@register(
    "embedding_gram_matrix",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * {_GRAM_Q} + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
      WHERE {_VEC_OK}
    )
    SELECT i.i AS i, j.j AS j,
           CAST(sum(q.qv[i.i] * q.qv[j.j]) AS BIGINT) AS gram_units
    FROM q,
         (SELECT unnest(generate_series(1, 64)) AS i) i,
         (SELECT unnest(generate_series(1, 64)) AS j) j
    WHERE j.j >= i.i
    GROUP BY i.i, j.j
    """,
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix X^T X over the embedding table — the
    shared precursor of PCA/whitening/covariance analysis (the d x d
    covariance is one rank-1 correction away). Elements are fixed-point
    quantized BEFORE any multiplication, so all d(d+1)/2 accumulations
    are exact integers: partial sums fold map-side in any order on
    both engines with zero float drift. The pair expansion is a pure
    per-row lambda (nested transform + upper-triangle filter), not a
    self-join — one scan, no joins at all.

    100 TB shape: the canonical outer-product aggregation — each
    partition accumulates its local d x d triangle, the shuffle moves
    only |partitions| x 2080 partial rows, and the result is 2080 rows
    regardless of input size. At d large enough that d^2 per-row
    expansion dominates, block the dimension (tile the triangle) —
    the same plan per tile. Input contract (r13 non-finite matrix):
    incomplete vectors excluded on both engines BEFORE quantization —
    Spark's ANSI CAST throws on a NaN/Inf element and DuckDB's raises
    ConversionException, so an uncontracted Gram dies on the first
    corrupt row at corpus scale. The filter lives HERE (the registry
    entry), not in gram_from_embeddings, so bench.py's amplified
    topology keeps its byte-identical plan."""
    e = _complete_embeddings(spark, sf_dir)
    return gram_from_embeddings(e)


# ---- hard negative mining ------------------------------------------------

_HARDNEG_QUERIES = 8  # query vectors (vec_id < N)
_HARDNEG_K = 2  # hard negatives per query


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS query_label,
             list_transform(embedding::DOUBLE[],
                            x -> floor(x * 10000 + 0.5)) AS qv
      FROM embeddings
      WHERE vec_id < {_HARDNEG_QUERIES} AND {_VEC_OK}
    ),
    c AS (
      SELECT vec_id AS candidate_id, label AS candidate_label,
             list_transform(embedding::DOUBLE[],
                            x -> floor(x * 10000 + 0.5)) AS cv
      FROM embeddings WHERE {_VEC_OK}
    ),
    scored AS (
      SELECT q.query_id, q.query_label, c.candidate_id, c.candidate_label,
             CAST(list_dot_product(q.qv, q.qv)
                  - 2 * list_dot_product(q.qv, c.cv)
                  + list_dot_product(c.cv, c.cv) AS BIGINT) AS dist2_units
      FROM q JOIN c ON c.candidate_label <> q.query_label
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dist2_units ASC,
                                            candidate_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, query_label, candidate_id, candidate_label,
           dist2_units, rn
    FROM ranked WHERE rn <= {_HARDNEG_K}
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negative mining — for each query embedding, the nearest
    vectors carrying a DIFFERENT label: the contrastive-training
    staple (triplet/InfoNCE batches live or die on hard negatives;
    random negatives — negative_sampling_pairs — are too easy to
    teach a margin). Distances are exact integers end to end: elements
    fixed-point quantized at 1e-4, squared L2 expanded as
    dot(a,a) - 2·dot(a,b) + dot(b,b) over integer-valued vectors (all
    sums < 2^53, so even the oracle's double dot products are exact),
    ranked with an id tiebreak — no float ordering anywhere.

    100 TB shape: the label-mismatch join broadcasts the (tiny) query
    set against the corpus — one scan, map-side top-k via
    WindowGroupLimit per query; for corpus-scale query sets, swap the
    broadcast for the IVF route (ann_ivf_topk) with a post-filter on
    label — same protocol, bucketed candidate generation.

    Input contract (r11 NULL-parity audit, widened to NULL elements by
    the r12 matrix): incomplete vectors have no distance — excluded on
    both engines (a NULL label already drops identically through the
    <> join on both)."""
    e = _complete_embeddings(spark, sf_dir)
    qv = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * 10_000 + 0.5).cast("bigint"),
    )
    base = e.select("vec_id", "label", qv.alias("qv"))
    q = base.filter(F.col("vec_id") < _HARDNEG_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("qv").alias("q_qv"),
    )
    c = base.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("label").alias("candidate_label"),
        F.col("qv").alias("c_qv"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    scored = (
        c.join(
            F.broadcast(q),
            F.col("candidate_label") != F.col("query_label"),
        )
        .select(
            "query_id",
            "query_label",
            "candidate_id",
            "candidate_label",
            (
                dot(F.col("q_qv"), F.col("q_qv"))
                - 2 * dot(F.col("q_qv"), F.col("c_qv"))
                + dot(F.col("c_qv"), F.col("c_qv"))
            )
            .cast("bigint")
            .alias("dist2_units"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("dist2_units"), F.asc("candidate_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HARDNEG_K)
    )


# ---- embedding drift between hash-split halves ---------------------------


@register(
    "embedding_drift_centroids",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             {duck_md5_long("CAST(vec_id AS VARCHAR)")} % 2 AS half,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 10000 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
      WHERE {_VEC_OK}
    ),
    cent AS (
      SELECT label, half, i.i AS i,
             sum(qv[i.i]) AS s, count(*) AS n
      FROM q, (SELECT unnest(generate_series(1, 64)) AS i) i
      GROUP BY label, half, i.i
    ),
    paired AS (
      SELECT a.label, a.n AS n_a, b.n AS n_b,
             CAST(sum((a.s * b.n - b.s * a.n)
                      * (a.s * b.n - b.s * a.n)) AS DOUBLE) AS num
      FROM cent a JOIN cent b ON a.label = b.label AND a.i = b.i
                 AND a.half = 0 AND b.half = 1
      GROUP BY a.label, a.n, b.n
    )
    SELECT label,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           (floor(sqrt(num) / (n_a * n_b) / 10000 * 1000000 + 0.5)
            / 1000000) AS centroid_l2_dist
    FROM paired
    """,
)
def embedding_drift_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: split each label's vectors into
    two deterministic md5 halves (standing in for two pipeline
    vintages) and measure the L2 distance between the halves'
    centroids — the first alarm for "the new encoder shifted the
    space" before any downstream metric moves. The mean-difference is
    computed in cross-multiplied integer form (sum_a·n_b - sum_b·n_a,
    exact BIGINTs from fixed-point elements) so the only float ops
    are one sqrt and one division at the very end, quantized at 1e-6
    — the distribution-level sibling of distribution_drift_psi, in
    embedding space.

    100 TB shape: per-(label, half) vector sums fold map-side (one
    pass, d accumulators each); the distance runs on 2·|labels| rows.
    No pairwise anything. Input contract (r13 non-finite matrix):
    incomplete vectors excluded on both engines."""
    e = _complete_embeddings(spark, sf_dir)
    qv = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * 10_000 + 0.5).cast("bigint"),
    )
    q = e.select(
        "label",
        (md5_long(F.col("vec_id").cast("string")) % 2).alias("half"),
        qv.alias("qv"),
    )
    cent = q.groupBy("label", "half").agg(
        F.count(F.lit(1)).alias("n"),
        F.array(
            *[
                F.sum(F.element_at("qv", i + 1)).alias(f"s{i}")
                for i in range(64)
            ]
        ).alias("sv"),
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", F.col("n").alias("n_a"), F.col("sv").alias("sv_a")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", F.col("n").alias("n_b"), F.col("sv").alias("sv_b")
    )
    diff2 = F.aggregate(
        F.zip_with(
            "sv_a",
            "sv_b",
            lambda x, y: (x * F.col("n_b") - y * F.col("n_a"))
            * (x * F.col("n_b") - y * F.col("n_a")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return a.join(b, "label").select(
        "label",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        round_half_up(
            F.sqrt(diff2.cast("double"))
            / (F.col("n_a") * F.col("n_b"))
            / 10_000,
            6,
        ).alias("centroid_l2_dist"),
    )


# ---- triplet margin violation rate ----------------------------------------

_TRIPLET_ANCHORS = 16
# violation when d2_pos >= (ratio) * d2_neg, integer cross-multiplied:
# pos_num/pos_den is the squared-distance margin ratio (0.8)
_TRIPLET_NUM, _TRIPLET_DEN = 4, 5


@register(
    "triplet_margin_violation_rate",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding::DOUBLE[],
                            x -> floor(x * 10000 + 0.5)) AS qv
      FROM embeddings
      WHERE {_VEC_OK}
    ),
    a AS (SELECT * FROM q WHERE vec_id < {_TRIPLET_ANCHORS}),
    d AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             c.label AS c_label,
             CAST(list_dot_product(a.qv, a.qv)
                  - 2 * list_dot_product(a.qv, c.qv)
                  + list_dot_product(c.qv, c.qv) AS BIGINT) AS d2
      FROM a JOIN q c ON c.vec_id <> a.vec_id
    ),
    best AS (
      SELECT anchor_id, anchor_label,
             min(CASE WHEN c_label = anchor_label THEN d2 END) AS d2_pos,
             min(CASE WHEN c_label <> anchor_label THEN d2 END) AS d2_neg
      FROM d GROUP BY anchor_id, anchor_label
    )
    SELECT anchor_label AS label,
           CAST(count(*) AS BIGINT) AS n_anchors,
           CAST(sum(CASE WHEN d2_pos * {_TRIPLET_DEN}
                              >= d2_neg * {_TRIPLET_NUM}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM best GROUP BY anchor_label
    """,
)
def triplet_margin_violation_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Contrastive-readiness eval: for each anchor, compare its nearest
    SAME-label and nearest OTHER-label squared distances — a margin
    violation (d2_pos >= 0.8 * d2_neg, integer cross-multiplied, no
    float ratio) means the anchor's positive is barely closer than its
    hardest negative, i.e. a triplet loss would still be pushing that
    region. The per-label violation counts say WHERE the embedding
    space is under-separated — the diagnostic read before committing
    to hard_negative_mining's mined batches. Distances are the exact
    integer construction shared with that entry.

    100 TB shape: anchors broadcast against one corpus scan (the
    hard-negative topology), both minima fold in one conditional
    aggregation — never two passes; corpus-scale anchor sets switch
    to the IVF route. Input contract (r12 NULL-element matrix):
    incomplete vectors excluded on both engines."""
    e = _complete_embeddings(spark, sf_dir)
    qv = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * 10_000 + 0.5).cast("bigint"),
    )
    base = e.select("vec_id", "label", qv.alias("qv"))
    a = base.filter(F.col("vec_id") < _TRIPLET_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("qv").alias("a_qv"),
    )
    c = base.select(
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
        F.col("qv").alias("c_qv"),
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    d = (
        c.join(F.broadcast(a), F.col("c_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "c_label",
            (
                dot(F.col("a_qv"), F.col("a_qv"))
                - 2 * dot(F.col("a_qv"), F.col("c_qv"))
                + dot(F.col("c_qv"), F.col("c_qv"))
            )
            .cast("bigint")
            .alias("d2"),
        )
    )
    best = d.groupBy("anchor_id", "anchor_label").agg(
        F.min(
            F.when(F.col("c_label") == F.col("anchor_label"), F.col("d2"))
        ).alias("d2_pos"),
        F.min(
            F.when(F.col("c_label") != F.col("anchor_label"), F.col("d2"))
        ).alias("d2_neg"),
    )
    return best.groupBy(F.col("anchor_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        F.sum(
            F.when(
                F.col("d2_pos") * _TRIPLET_DEN
                >= F.col("d2_neg") * _TRIPLET_NUM,
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_violations"),
    )
