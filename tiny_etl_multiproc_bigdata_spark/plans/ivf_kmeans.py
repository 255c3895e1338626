"""IVF-style similarity search and iterative Lloyd k-means over the
embeddings table.

IVF (inverted file) is the second scale path for ANN next to LSH
(vector_queries.py): partition the corpus into coarse cells around
centroids, search only the query's cell. Here centroids are a
deterministic sample (every 100th vector) so the whole structure — and
its DuckDB oracle — is reproducible without training; `kmeans_lloyd`
below is the training loop that would refine them (float math,
rows-only, with a monotone-inertia test), and `kmeans_fixed_iters` is
its integer-quantized twin with a FULL value-hash oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.rounding import round_half_up
from tiny_etl_multiproc_bigdata_spark.functions.partitioning import ckpt_hash
from tiny_etl_multiproc_bigdata_spark.functions.vectors import (
    complete_vector_sql,
    cosine_scored,
    duck_cosine_scored,
    duck_top_k_by_cosine,
    is_complete_vector,
    top_k_by_cosine,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import register
from tiny_etl_multiproc_bigdata_spark.session import shuffle_partitions

_CENTROID_MOD = 100  # vec_id % 100 == 7 → deterministic centroid sample
# The embeddings INPUT CONTRACT (r12 NULL-parity matrix extension; see
# functions/vectors.py::is_complete_vector): incomplete vectors have no
# distance/cell/code - excluded symmetrically on both engines.
_VEC_OK = complete_vector_sql("embedding")
_N_QUERIES = 5
_TOP_K = 10


def _l2sq(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assign_cells(e: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the centroid set, rank by
    micro-scaled integer distance (cross-engine-stable ties). Shared by
    ann_ivf_topk, ann_ivf_multiprobe and each kmeans_lloyd iteration —
    the 'cell' here and the k-means assignment step are the same
    primitive.

    r13 optimization round (guide §2.3, the §10 SemDeDup fold): the
    argmin used to be a row_number window, which shuffled and sorted
    all N×k candidate rows WITH their embedding arrays. It is now a
    partial-aggregable min(struct(dq, cid, dist, embedding)) fold: the
    selection key (dq asc, cid asc) is identical (struct comparison is
    field-lexicographic with the same NULLS FIRST order the window's
    asc used — probed in tests/test_assign_fold.py), cid is unique per
    vec so the trailing fields never participate in the comparison,
    and the map-side partial folds k candidates down to ONE struct per
    vec per partition before the exchange. Bit-identical at two SFs
    (sf0.001, sf0.01: tests/test_assign_fold.py)."""
    joined = e.crossJoin(F.broadcast(centroids))
    d = _l2sq(F.col("embedding"), F.col("cvec"))
    # project the distance FIRST so the interpreted fold evaluates once
    # per pair: the struct below references the dist ATTRIBUTE twice
    # (quantized rank key + payload), and CollapseProject keeps the
    # producing projection separate because the expression is non-cheap
    # and multiply-referenced (fingerprint pinned: one zip_with per
    # pair stage in the formatted plan).
    pair = joined.select("vec_id", "embedding", "cid", d.alias("dist"))
    best = pair.groupBy("vec_id").agg(
        F.min(
            F.struct(
                F.floor(F.col("dist") * 1_000_000 + F.lit(0.5))
                .cast("bigint")
                .alias("dq"),
                F.col("cid").alias("cid"),
                F.col("dist").alias("dist"),
                F.col("embedding").alias("embedding"),
            )
        ).alias("b")
    )
    return best.select(
        "vec_id",
        F.col("b.embedding").alias("embedding"),
        F.col("b.cid").alias("cell"),
        F.col("b.dist").alias("dist"),
    )


_DUCK_L2SQ = (
    "list_aggregate(list_transform(range(1, len({a}) + 1), "
    "i -> (({a})[i]::DOUBLE - ({b})[i]::DOUBLE)"
    " * (({a})[i]::DOUBLE - ({b})[i]::DOUBLE)), 'sum')"
)


def _ivf_cells(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The IVF index of ann_ivf_topk and ann_ivf_multiprobe: the
    complete embeddings, the centroid sample (cid, cvec) and every
    vector's nearest cell (_assign_cells)."""
    e = table(spark, sf_dir, "embeddings").filter(
        is_complete_vector(F.col("embedding"))
    )
    centroids = e.filter(F.col("vec_id") % _CENTROID_MOD == 7).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    return e, centroids, _assign_cells(e, centroids)


# DuckDB twin of _ivf_cells' centroids and assignment, opening the WITH
# list
_DUCK_IVF_CELLS = f"""centroids AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id % {_CENTROID_MOD} = 7 AND {_VEC_OK}
    ), assigned AS (
      SELECT vec_id, emb, cell FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS emb, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY CAST(floor({_DUCK_L2SQ.format(a="e.embedding::DOUBLE[]", b="c.cvec")} * 1000000 + 0.5) AS BIGINT) ASC,
                          c.cid ASC) AS rn
        FROM embeddings e, centroids c
        WHERE {complete_vector_sql("e.embedding")}
      ) WHERE rn = 1
    )"""


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_DUCK_IVF_CELLS}, q AS (
      SELECT vec_id AS query_id, emb AS qv, cell AS qcell FROM assigned
      WHERE vec_id < {_N_QUERIES}
    ), scored AS ({duck_cosine_scored("q", "assigned", "cell")}
    ), {duck_top_k_by_cosine("scored", _TOP_K)}
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: assign every vector to its nearest coarse centroid
    (broadcast centroid set — one corpus scan, no shuffle), then search
    only the query's cell. Cells ≈ corpus/|centroids|, so each query
    compares ~1/50th of the corpus; recall rises with multi-cell
    probing, same plan shape."""
    _, _, assigned = _ivf_cells(spark, sf_dir)
    q = assigned.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("cell").alias("qcell"),
    )
    return top_k_by_cosine(cosine_scored(q, assigned, "cell"), _TOP_K)


@register("kmeans_lloyd", oracle=None)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, 3 iterations (rows-only: iterative algorithms
    have no single-statement SQL twin — driver contract's documented
    exception). The distributed iteration pattern: per-iteration
    assign (broadcast centroids) → recompute means (one partial+final
    agg over posexploded components) → the means DataFrame is the next
    iteration's broadcast centroid set. No centroid touches the driver
    and building the entry runs no Spark job: the three iterations are
    one lazy plan. Deterministic start (every 100th vector) and
    integer-scaled distance ranking keep runs reproducible. Returns
    per-cluster sizes and rounded inertia."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = e.filter(F.col("vec_id") % _CENTROID_MOD == 7).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    assigned = None
    for _ in range(3):
        assigned = _assign_cells(e, centroids)
        # new means: posexplode components → groupBy (cell, pos) avg →
        # regroup to arrays; stays fully distributed
        comp = assigned.select(
            "cell", F.posexplode(F.col("embedding")).alias("pos", "x")
        )
        centroids = (
            comp.groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                F.col("cell").alias("cid"),
                F.transform("pm", lambda s: s["m"]).alias("cvec"),
            )
        )
    return assigned.groupBy("cell").agg(
        F.count("*").alias("n_vectors"),
        # scale-8 sum rounded at 2 is NOT exact-at-scale — half-up
        # formula (rows-only entry, but the helper contract holds)
        round_half_up(
            F.sum(F.col("dist").cast("decimal(30,8)")).cast("double"), 2
        ).alias("inertia"),
    )


# ---- kmeans_fixed_iters: the value-hash upgrade of kmeans_lloyd ----
#
# Same recurrence as kmeans_lloyd but in PURE INTEGER arithmetic so the
# result is bit-identical across engines/partitionings (the
# pagerank_scaled pattern, graph_ops.py): components quantize once to
# integer micro-units, distances are exact integer sums of squares,
# argmin ties break (d, cid), and centroid updates use integer floor
# division. Everything runs in a translation-invariant OFFSET space
# (q = quant(v) + _KM_OFFSET > 0): distances are unchanged by the
# shift, and floor-dividing sums of positive integers is where Spark's
# truncating `div` and DuckDB's flooring `//` provably agree — the one
# semantic trap of cross-engine integer division. _KM_OFFSET = 2e6
# keeps q positive for any |v| < 1.5 (fixture max |v| ≈ 0.58; the
# margin is pinned in tests/test_kmeans.py so a hotter future vintage
# fails loudly there instead of silently flipping a division).
_KM_SCALE = 1_000_000
_KM_OFFSET = 2_000_000
_KM_ITERS = 3

_DUCK_KM_COMP = (
    "SELECT vec_id, x.i AS pos,\n"
    "             CAST(floor(CAST(x.v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)\n"
    "               + 2000000 AS q\n"
    "      FROM embeddings,\n"
    "           unnest(list_transform(range(1, len(embedding) + 1),\n"
    "                                 i -> {'i': i, 'v': embedding[i]})) AS t(x)\n"
    # input contract (r13 non-finite matrix): shared by the
    # kmeans_fixed_iters and silhouette oracles, twin of _km_assign
    "      WHERE " + _VEC_OK
)


def _km_cte_prefix() -> str:
    """Chained CTEs through the final ``assign{_KM_ITERS}`` table —
    shared by the kmeans_fixed_iters oracle and the sampled-silhouette
    eval so both engines' assignments are definitionally identical."""
    parts = [
        f"""
    WITH comp AS (
      {_DUCK_KM_COMP}
    ),
    cent0 AS (
      SELECT vec_id AS cid, pos, q AS cq
      FROM comp WHERE vec_id % {_CENTROID_MOD} = 7
    )"""
    ]
    for k in range(1, _KM_ITERS + 1):
        parts.append(
            f""",
    dist{k} AS (
      SELECT c.vec_id, ct.cid,
             CAST(sum((c.q - ct.cq) * (c.q - ct.cq)) AS BIGINT) AS d
      FROM comp c JOIN cent{k - 1} ct ON ct.pos = c.pos
      GROUP BY c.vec_id, ct.cid
    ),
    assign{k} AS (
      SELECT vec_id, cid, d FROM (
        SELECT vec_id, cid, d,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d ASC, cid ASC) AS rn
        FROM dist{k}
      ) WHERE rn = 1
    )"""
        )
        if k < _KM_ITERS:
            parts.append(
                f""",
    cent{k} AS (
      SELECT a.cid, c.pos, CAST(sum(c.q) // count(*) AS BIGINT) AS cq
      FROM assign{k} a JOIN comp c ON c.vec_id = a.vec_id
      GROUP BY a.cid, c.pos
    )"""
            )
    return "".join(parts)


def _kmeans_oracle() -> str:
    return (
        _km_cte_prefix()
        + f"""
    SELECT cid AS cell, count(*) AS n_vectors,
           CAST(sum(d) AS BIGINT) AS inertia_q
    FROM assign{_KM_ITERS}
    GROUP BY cid"""
    )


def _km_assign(spark: SparkSession, sf_dir: str):
    """Engine twin of ``_km_cte_prefix``: the quantized component table
    and the iteration-{_KM_ITERS} integer-Lloyd assignment frame
    (vec_id, cid, d). Shared by kmeans_fixed_iters and
    silhouette_sampled_eval. Input contract (r13 non-finite matrix):
    incomplete vectors excluded on both engines before quantization.

    r14 optimization round (guide §4.2/§3.3, VERDICT item 4, the §1
    gram pattern): each iteration used to join the exploded N×64
    component table against the broadcast k×64 centroid table ON pos —
    every component row matched every centroid, N×64×k joined rows per
    iteration (256M at sf1) flowing into a (vec_id, cid) aggregate plus
    a window argmin. Now the distance step is ONE per-group NumPy int64
    matmul: vectors cross the Python boundary as quantized int64
    arrays (quantization stays a JVM expression — identical
    floor(v*1e6+0.5) lowering, so NO float op ever happens in Python
    and there is nothing to prove about NumPy/JVM double parity),
    cogrouped with the (tiny, group-replicated) centroid table.
    D = ‖q‖² + ‖c‖² − 2·Q@Cᵀ is an exact int64 identity with
    Σ(q−c)² (max |D| term ≈ 3·64·(2.6e6)² ≈ 1.3e15 « 2^63); argmin over
    cid-ascending columns reproduces the (d ASC, cid ASC) tie-break
    (np.argmin returns the FIRST minimum). Intermediate iterations emit
    per-group per-centroid partial sums (k×64 rows/group) so the
    centroid update is a |k·64·G|-row aggregate — the old per-iteration
    assign⋈comp N×64-row join disappears too. Bit-identical to the old
    lowering at two SFs: tests/test_kmeans_assign_rewrite.py (old
    lowering kept verbatim there).

    Scale/topology notes: the vector table is pinned hash(g) ONCE via
    ckpt_hash (functions/partitioning.py), so the per-iteration cogroup
    re-shuffles only the replicated centroid side (k×G short rows) —
    the N heavy rows cross zero per-iteration exchanges, the graph-tier
    discipline applied to the Lloyd recurrence. G = 8× the session
    shuffle partitions (conf-derived, nothing local-only): enough
    distinct keys that hashpartitioning spreads groups evenly (guide
    §2.5 synthetic-key warning), few enough that each group's matmul
    batch stays big. Per-task Python memory is the group's int64 matrix
    (~N/G × dim × 8 B) plus the k×dim centroid matrix — both bounded
    and G-tunable, no broadcast, no driver collect."""
    e = table(spark, sf_dir, "embeddings").filter(
        is_complete_vector(F.col("embedding"))
    )
    n_groups = 8 * shuffle_partitions(spark)
    qv = ckpt_hash(
        e.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda v: F.floor(
                    v.cast("double") * _KM_SCALE + F.lit(0.5)
                ).cast("bigint")
                + F.lit(_KM_OFFSET),
            ).alias("qarr"),
        ).withColumn("g", F.pmod(F.col("vec_id"), F.lit(n_groups))),
        "g",
    )
    # the exploded (vec_id, pos, q) view — silhouette's pairwise arm
    # consumes it; lazy over the checkpointed qv, no second barrier
    comp = qv.select(
        "vec_id", F.posexplode("qarr").alias("pos0", "q")
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "q")
    groups = spark.range(n_groups).select(F.col("id").alias("g"))

    # local closures (not module-level defs): the external driver's
    # sys.path hack is not inherited by Spark's Python workers, so
    # package-module functions pickled by reference would not import
    # there — closures pickle by value (the verify-skill gotcha).
    def _matrices(left, right):
        import numpy as np

        q_mat = np.stack(left["qarr"].to_numpy()).astype(np.int64, copy=False)
        c_raw = np.stack(right["cq_arr"].to_numpy()).astype(np.int64, copy=False)
        cids = right["cid"].to_numpy()
        order = np.argsort(cids, kind="stable")  # cid-ASC tie-break
        c_mat = c_raw[order]
        d_mat = (
            (q_mat * q_mat).sum(axis=1)[:, None]
            + (c_mat * c_mat).sum(axis=1)[None, :]
            - 2 * (q_mat @ c_mat.T)
        )
        j = np.argmin(d_mat, axis=1)
        return q_mat, cids[order], d_mat, j

    def _assign_fn(left, right):
        import numpy as np
        import pandas as pd

        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"vec_id": [], "cid": [], "d": []}).astype(
                {"vec_id": "int64", "cid": "int64", "d": "int64"}
            )
        q_mat, cids, d_mat, j = _matrices(left, right)
        return pd.DataFrame(
            {
                "vec_id": left["vec_id"].to_numpy(),
                "cid": cids[j],
                "d": d_mat[np.arange(len(q_mat)), j],
            }
        )

    def _update_fn(left, right):
        import numpy as np
        import pandas as pd

        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {"cid": [], "pos0": [], "psum": [], "cnt": []}
            ).astype(
                {"cid": "int64", "pos0": "int64", "psum": "int64", "cnt": "int64"}
            )
        q_mat, cids, _d, j = _matrices(left, right)
        dim = q_mat.shape[1]
        sums = np.zeros((len(cids), dim), dtype=np.int64)
        np.add.at(sums, j, q_mat)
        counts = np.bincount(j, minlength=len(cids))
        present = np.nonzero(counts)[0]
        return pd.DataFrame(
            {
                "cid": np.repeat(cids[present], dim),
                "pos0": np.tile(np.arange(dim, dtype=np.int64), len(present)),
                "psum": sums[present].ravel(),
                "cnt": np.repeat(counts[present], dim).astype(np.int64),
            }
        )

    centp = qv.filter(F.col("vec_id") % _CENTROID_MOD == 7).select(
        F.col("vec_id").alias("cid"), F.col("qarr").alias("cq_arr")
    )
    assign = None
    for it in range(_KM_ITERS):
        cent_rep = centp.crossJoin(groups)
        cg = qv.groupBy("g").cogroup(cent_rep.groupBy("g"))
        if it < _KM_ITERS - 1:
            partials = cg.applyInPandas(
                _update_fn, "cid long, pos0 long, psum long, cnt long"
            )
            # div ONCE on the combined totals — same floor point as the
            # old sum(q) div count(*) over the full member set
            centp = (
                partials.groupBy("cid", "pos0")
                .agg(
                    F.expr("CAST(sum(psum) div sum(cnt) AS BIGINT)").alias("cq")
                )
                .groupBy("cid")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos0", "cq"))),
                        lambda s: s["cq"],
                    ).alias("cq_arr")
                )
            )
        else:
            assign = cg.applyInPandas(
                _assign_fn, "vec_id long, cid long, d long"
            )
    return comp, assign


@register("kmeans_fixed_iters", oracle=_kmeans_oracle())
def kmeans_fixed_iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means, {ITERS} fixed iterations, with a FULL value-hash
    oracle — the upgrade of ``kmeans_lloyd`` from rows-only to exact
    (VERDICT r05 item 1): integer micro-unit quantization makes every
    assignment, centroid update and the final inertia bit-identical to
    the chained-CTE DuckDB twin. See the module comment above
    ``_KM_SCALE`` for the offset-space floor-division argument.

    Scale shape per iteration: one pos-keyed join of the exploded
    corpus against the (k·64)-row centroid table — broadcast-sized at
    any corpus scale — partial+final agg to (vec_id, cid) distances, a
    vec_id-partitioned argmin window, and a vec_id-keyed regroup for
    the next centroid table. The exploded corpus is localCheckpointed
    once for its 2·ITERS−1 consumers (the minhash lesson). Inertia sums
    stay < 2^63 to ~10^5 vectors at this scale/offset; beyond that,
    aggregate d in DECIMAL(38,0) (the embedding_standardize recipe).
    As in kmeans_lloyd, no centroid ever touches the driver: the loop
    builds one lazy Catalyst plan of bounded depth (fixed ITERS), so
    the same code runs unchanged on a 1000-executor cluster."""
    comp, assign = _km_assign(spark, sf_dir)
    return assign.groupBy(F.col("cid").alias("cell")).agg(
        F.count("*").alias("n_vectors"),
        F.sum("d").cast("bigint").alias("inertia_q"),
    )


_N_PROBES = 2


@register(
    "ann_ivf_multiprobe",
    oracle=f"""
    WITH {_DUCK_IVF_CELLS}, qcells AS (
      SELECT vec_id AS query_id, emb AS qv, cell AS qcell FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS emb, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY CAST(floor({_DUCK_L2SQ.format(a="e.embedding::DOUBLE[]", b="c.cvec")} * 1000000 + 0.5) AS BIGINT) ASC,
                          c.cid ASC) AS rn
        FROM embeddings e, centroids c
        WHERE e.vec_id < {_N_QUERIES}
          AND {complete_vector_sql("e.embedding")}
      ) WHERE rn <= {_N_PROBES}
    ), scored AS ({duck_cosine_scored("qcells", "assigned", "cell")}
    ), {duck_top_k_by_cosine("scored", _TOP_K)}
    """,
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN: queries search their 2 (_N_PROBES) nearest
    cells instead of one — the standard recall lever (a query near a
    cell boundary misses true neighbors assigned to the adjacent cell;
    probing both recovers them at ~2× the candidate cost, still
    ~2/|centroids| of the corpus). The corpus keeps single-cell
    assignment; only the tiny query set fans out, so the broadcast
    query table doubles and nothing else changes — identical plan
    shape to ann_ivf_topk. Candidate sets from different probes are
    disjoint by construction (each corpus vector lives in exactly one
    cell), so no dedup stage is needed."""
    e, centroids, assigned = _ivf_cells(spark, sf_dir)
    # query-side: top-_N_PROBES cells (rn <= P instead of == 1)
    qj = e.filter(F.col("vec_id") < _N_QUERIES).crossJoin(
        F.broadcast(centroids)
    )
    qd = _l2sq(F.col("embedding"), F.col("cvec"))
    qw = Window.partitionBy("vec_id").orderBy(
        F.floor(qd * 1_000_000 + F.lit(0.5)).cast("bigint").asc(),
        F.asc("cid"),
    )
    qcells = (
        qj.withColumn("rn", F.row_number().over(qw))
        .filter(F.col("rn") <= _N_PROBES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("cid").alias("qcell"),
        )
    )
    return top_k_by_cosine(cosine_scored(qcells, assigned, "cell"), _TOP_K)


# ---- dedup_semantic_kmeans: SemDeDup ------------------------------------
#
# Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication"): k-means-cluster the embedding space,
# then search for near-duplicate pairs ONLY within each cluster — the
# clustering bounds the quadratic pair stage to |cluster|² instead of
# |corpus|². Cluster assignment reuses the integer-quantized nearest-
# centroid primitive (same quantization as kmeans_fixed_iters, sans
# offset — no division happens here), and pair cosine is an exact
# integer dot product over the quantized components, so the whole
# pipeline is bit-identical cross-engine. The 0.40 duplicate threshold
# is fixture-calibrated (random synthetic embeddings top out near 0.48;
# production embedding spaces use ~0.95+) — a constant, not semantics.

_SEM_THRESH_MICRO = 400_000
_SEM_CLUSTER_CAP = 100_000  # |cluster|² pair guard, same idea as
#                             dedup_queries._COSINE_BLOCK_CAP

_DUCK_QV = (
    "SELECT vec_id, list_transform(embedding::DOUBLE[],"
    " v -> CAST(floor(v * 1000000 + 0.5) AS BIGINT)) AS qa"
    " FROM embeddings"
    # r12 NULL-element contract (used only by dedup_semantic_kmeans)
    f" WHERE {complete_vector_sql('embedding')}"
)
_DUCK_IDOT = (
    "CAST(list_aggregate(list_transform(range(1, len({a}) + 1),"
    " i -> ({a})[i] * ({b})[i]), 'sum') AS BIGINT)"
)


@register(
    "dedup_semantic_kmeans",
    oracle=f"""
    WITH qv AS (
      {_DUCK_QV}
    ), cent AS (
      SELECT vec_id AS cid, qa AS ca FROM qv
      WHERE vec_id % {_CENTROID_MOD} = 7
    ), dist AS (
      SELECT q.vec_id, c.cid,
             {_DUCK_IDOT.format(a="q.qa", b="q.qa")}
             - 2 * {_DUCK_IDOT.format(a="q.qa", b="c.ca")}
             + {_DUCK_IDOT.format(a="c.ca", b="c.ca")} AS d
      FROM qv q, cent c
    ), assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d ASC, cid ASC) AS rn
        FROM dist
      ) WHERE rn = 1
    ), norms AS (
      SELECT vec_id, {_DUCK_IDOT.format(a="qa", b="qa")} AS nrm FROM qv
    ), scored AS (
      SELECT a.cid AS cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST({_DUCK_IDOT.format(a="x.qa", b="y.qa")} AS DOUBLE)
             / (sqrt(CAST(nx.nrm AS DOUBLE)) * sqrt(CAST(ny.nrm AS DOUBLE)))
               AS cos
      FROM assign a
      JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN qv x ON x.vec_id = a.vec_id
      JOIN qv y ON y.vec_id = b.vec_id
      JOIN norms nx ON nx.vec_id = a.vec_id
      JOIN norms ny ON ny.vec_id = b.vec_id
    )
    SELECT cell, vec_a, vec_b,
           (floor(cos * 10000 + 0.5) / 10000) AS cosine
    FROM scored
    WHERE CAST(floor(cos * 1000000 + 0.5) AS BIGINT) >= {_SEM_THRESH_MICRO}
    """,
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-dup pairs: integer nearest-centroid
    clustering (centroids = the deterministic vec_id % _CENTROID_MOD
    sample, as everywhere in this module), then exact quantized-cosine
    scoring of pairs WITHIN each cluster only; pairs at or above the
    threshold are semantic duplicates (survivor = lower vec_id; the
    paper keeps the vector farthest from the centroid — a one-line
    ORDER BY swap on the same plan).

    100 TB shape: the centroid table is corpus/_CENTROID_MOD rows —
    broadcast for the assignment join; the pair stage is quadratic per
    CLUSTER, and because k grows with the corpus (fixed sampling rate),
    expected cluster size stays ~_CENTROID_MOD regardless of corpus
    size — the SemDeDup argument. A degenerate clustering (one hot
    cell) is the same failure mode as a hot label in
    dedup_embedding_cosine, so the same hard guard applies: above
    _SEM_CLUSTER_CAP rows in one cluster this raises rather than
    building |cluster|² pairs. Distance uses ||x||² − 2x·y + ||y||²
    with array dot products (no component explode — three broadcast-
    joined integer dots per candidate). Input contract (r12
    NULL-element matrix): incomplete vectors excluded on both
    engines."""
    e = table(spark, sf_dir, "embeddings").filter(
        is_complete_vector(F.col("embedding"))
    )
    qv = e.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") * 1_000_000 + F.lit(0.5)).cast(
                "bigint"
            ),
        ).alias("qa"),
    ).localCheckpoint(eager=True)

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    # r13 optimization: (a) ||c||^2 hoists to the broadcast build (one
    # evaluation per centroid, not per pair) and ||x||^2 drops from the
    # argmin entirely — it is constant within each vec_id partition, so
    # ranking by m = ||c||^2 - 2 x·c with the same (value, cid)
    # tiebreak selects the identical centroid (d = ||x||^2 + m);
    # (b) the row_number window over the N×k distance table becomes a
    # partial-aggregable min(struct(m, cid)) fold, so the argmin
    # combines map-side instead of shuffling and sorting N×k rows.
    # Interpreted dot products per pair drop 3 -> 1. A/B at sf1:
    # 12.43s -> 9.02s median (-27%, 4/4), bit-identical at two SFs.
    cent = qv.filter(F.col("vec_id") % _CENTROID_MOD == 7).select(
        F.col("vec_id").alias("cid"),
        F.col("qa").alias("ca"),
        idot(F.col("qa"), F.col("qa")).alias("nc"),
    )
    m = F.col("nc") - F.lit(2) * idot(F.col("qa"), F.col("ca"))
    assign = (
        qv.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            F.struct(m.alias("m"), F.col("cid").alias("cid")).alias("s"),
        )
        .groupBy("vec_id")
        .agg(F.min("s").alias("best"))
        .select("vec_id", F.col("best.cid").alias("cid"))
        .localCheckpoint(eager=True)
    )
    biggest = assign.groupBy("cid").count().agg(F.max("count")).first()[0] or 0
    if biggest > _SEM_CLUSTER_CAP:
        raise ValueError(
            f"dedup_semantic_kmeans: largest cluster has {biggest} vectors "
            f"(cap {_SEM_CLUSTER_CAP}); the within-cluster pair join would "
            f"build ~{biggest * (biggest - 1) // 2:.0e} pairs. Increase the "
            "centroid sampling rate (_CENTROID_MOD) or pre-shard the hot "
            "cluster before pairing."
        )
    norms = qv.select("vec_id", idot(F.col("qa"), F.col("qa")).alias("nrm"))
    a = assign.select(F.col("cid").alias("cell"), F.col("vec_id").alias("vec_a"))
    b = assign.select(F.col("cid").alias("cell"), F.col("vec_id").alias("vec_b"))
    pairs = a.join(b, "cell").where(F.col("vec_a") < F.col("vec_b"))
    xa = qv.select(F.col("vec_id").alias("vec_a"), F.col("qa").alias("xqa"))
    yb = qv.select(F.col("vec_id").alias("vec_b"), F.col("qa").alias("yqa"))
    na = norms.select(F.col("vec_id").alias("vec_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("vec_id").alias("vec_b"), F.col("nrm").alias("nb"))
    cos = idot(F.col("xqa"), F.col("yqa")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    scored = (
        pairs.join(xa, "vec_a")
        .join(yb, "vec_b")
        .join(na, "vec_a")
        .join(nb, "vec_b")
        .select("cell", "vec_a", "vec_b", cos.alias("cos"))
    )
    return scored.where(
        F.floor(F.col("cos") * 1_000_000 + F.lit(0.5)).cast("bigint")
        >= _SEM_THRESH_MICRO
    ).select(
        "cell", "vec_a", "vec_b", round_half_up(F.col("cos"), 4).alias("cosine")
    )


# ---- sampled silhouette ------------------------------------------------------

_SIL_N = 100  # sample: vec_id < _SIL_N
_SIL_DSCALE = 1_000  # per-pair sqrt(distance) quantization (milli-q-units)


@register(
    "silhouette_sampled_eval",
    oracle=_km_cte_prefix()
    + f""",
    samp AS (
      SELECT vec_id, cid FROM assign{_KM_ITERS} WHERE vec_id < {_SIL_N}
    ),
    pd AS (
      SELECT si.vec_id AS vi, si.cid AS ci, sj.cid AS cj,
             CAST(floor(sqrt(CAST(sum((a.q - b.q) * (a.q - b.q)) AS DOUBLE))
                        * {_SIL_DSCALE} + 0.5) AS BIGINT) AS dq
      FROM samp si
      JOIN samp sj ON si.vec_id <> sj.vec_id
      JOIN comp a ON a.vec_id = si.vec_id
      JOIN comp b ON b.vec_id = sj.vec_id AND b.pos = a.pos
      GROUP BY si.vec_id, si.cid, sj.vec_id, sj.cid
    ),
    a_stat AS (
      SELECT vi, ci,
             CAST(COALESCE(sum(dq) FILTER (cj = ci), 0) AS BIGINT) AS sa,
             CAST(count(*) FILTER (cj = ci) AS BIGINT) AS na
      FROM pd GROUP BY vi, ci
    ),
    b_cand AS (
      SELECT vi, cj, CAST(sum(dq) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS c
      FROM pd WHERE cj <> ci GROUP BY vi, cj
    ),
    b_stat AS (
      SELECT vi, s, c FROM (
        SELECT vi, s, c,
               row_number() OVER (PARTITION BY vi
                 ORDER BY CAST(s AS DOUBLE) / c ASC, cj ASC) AS rn
        FROM b_cand
      ) WHERE rn = 1
    ),
    sil AS (
      SELECT a_stat.ci AS cell,
             CASE WHEN a_stat.na = 0 THEN 0
                  ELSE CAST(floor(
                    (CAST(b_stat.s AS DOUBLE) / b_stat.c
                     - CAST(a_stat.sa AS DOUBLE) / a_stat.na)
                    / greatest(CAST(b_stat.s AS DOUBLE) / b_stat.c,
                               CAST(a_stat.sa AS DOUBLE) / a_stat.na)
                    * 1000000 + 0.5) AS BIGINT) END AS s_e6
      FROM a_stat JOIN b_stat ON a_stat.vi = b_stat.vi
    )
    SELECT cell, CAST(count(*) AS BIGINT) AS n_points,
           (floor(CAST(sum(s_e6) AS DOUBLE) / count(*) / 1000000
                  * 10000 + 0.5) / 10000) AS mean_silhouette
    FROM sil GROUP BY cell
    """,
)
def silhouette_sampled_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled silhouette of the integer-Lloyd clustering
    (kmeans_fixed_iters' own assignments, via the SHARED recurrence
    helper, so the clustering being scored is definitionally the
    registered one): s(i) = (b-a)/max(a,b) over a fixed {N}-point
    sample, reported as per-cluster means — the internal quality
    number (cohesion vs separation) that inertia alone can't give,
    and the standard way to score a clustering WITHOUT labels
    (knn/centroid evals need them). Sampling is how silhouette is
    computed in practice at any scale: the exact statistic is O(n²).
    Determinism: pairwise distances are exact integers in quantized
    component space, each sqrt quantizes to milli-units BEFORE any
    mean, the b-cluster argmin tie-breaks on cid, and singleton-in-
    sample points take s=0 per the classical convention.

    100 TB shape: the quadratic stage touches only the {N}-point
    sample ({N}^2 pairs x dims rows); assignments and components come
    from the already-audited Lloyd plan. Sample membership is the
    fixed vec_id prefix — at production scale swap in the md5-mod
    sampler (sample_stratified_hash) without touching the math."""
    comp, assign = _km_assign(spark, sf_dir)
    samp = (
        assign.filter(F.col("vec_id") < _SIL_N)
        .select("vec_id", "cid")
        .localCheckpoint(eager=True)  # consumers: both pair arms
    )
    si = samp.select(F.col("vec_id").alias("vi"), F.col("cid").alias("ci"))
    sj = samp.select(F.col("vec_id").alias("vj"), F.col("cid").alias("cj"))
    a = comp.select(F.col("vec_id").alias("vi"), "pos", F.col("q").alias("qa"))
    b = comp.select(F.col("vec_id").alias("vj"), "pos", F.col("q").alias("qb"))
    diff = F.col("qa") - F.col("qb")
    pd = (
        si.join(sj, F.col("vi") != F.col("vj"))
        .join(a, "vi")
        .join(b, ["vj", "pos"])
        .groupBy("vi", "ci", "vj", "cj")
        .agg(
            F.floor(
                F.sqrt(F.sum(diff * diff).cast("double")) * _SIL_DSCALE
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("dq")
        )
        .localCheckpoint(eager=True)  # consumers: a-stat + b-stat
    )
    same = F.col("cj") == F.col("ci")
    a_stat = pd.groupBy("vi", "ci").agg(
        F.coalesce(F.sum(F.when(same, F.col("dq"))), F.lit(0))
        .cast("bigint")
        .alias("sa"),
        F.count_if(same).cast("bigint").alias("na"),
    )
    b_cand = (
        pd.filter(~same)
        .groupBy("vi", "cj")
        .agg(
            F.sum("dq").cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )
    )
    wb = Window.partitionBy("vi").orderBy(
        (F.col("s").cast("double") / F.col("c")).asc(), F.asc("cj")
    )
    b_stat = (
        b_cand.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("vi", "s", "c")
    )
    bm = F.col("s").cast("double") / F.col("c")
    am = F.col("sa").cast("double") / F.col("na")
    s_e6 = F.when(F.col("na") == 0, F.lit(0).cast("bigint")).otherwise(
        F.floor((bm - am) / F.greatest(bm, am) * 1_000_000 + F.lit(0.5))
        .cast("bigint")
    )
    sil = a_stat.join(b_stat, "vi").select(
        F.col("ci").alias("cell"), s_e6.alias("s_e6")
    )
    return sil.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        round_half_up(
            F.sum("s_e6").cast("double") / F.count(F.lit(1)) / 1_000_000, 4
        ).alias("mean_silhouette"),
    )
