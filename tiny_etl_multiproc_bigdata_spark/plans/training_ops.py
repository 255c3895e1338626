"""Training-data pipeline operators, batch 3: the table-maintenance and
dataset-shaping shapes a 100 TB corpus pipeline runs daily.

* top-k per group — Spark 3.5+ rewrites a rank-filter over a
  partitioned window into ``WindowGroupLimit`` (per-partition top-k
  before the shuffle), so the declarative form IS the scale-safe form.
* CDC latest-by-key — changelog compaction: one row per key, the most
  recent version. Same WindowGroupLimit shape.
* SCD2 intervals — state-change compression + validity intervals via
  lag/lead; partitioned windows only.
* stratified hash sampling — per-stratum rates on a deterministic md5
  bucket: reproducible across reruns, engines and partitionings
  (extends dataset_holdout_split's split arithmetic to per-group
  rates). Zero shuffle.
* quantile bucketing — feature binning against exact global deciles
  via the two-pass pattern (tiny percentile aggregate broadcast back,
  per-row bucket expression) — no global sort, no window.
* greedy sequence packing — pack documents into fixed-token-capacity
  bins (context windows) — the step between dedup/curation and
  tokenized training shards. Packing is inherently sequential, so the
  corpus is sharded by id-hash and packed greedily WITHIN each shard:
  shards are independent (applyInPandas, one Arrow batch per shard)
  and shard count is the parallelism knob at 100 TB.

Reference parity: the reference pipeline stops at word-count loading
(example/main.py); these extend the same corpus toward training-shard
production, per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.functions.ordering import (
    event_time_order,
)
from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.timedomain import (
    epoch_us_ntz,
    in_time_domain,
    time_domain_sql,
)
from tiny_etl_multiproc_bigdata_spark.functions.jsonpath import (
    duck_json_bigint,
    json_bigint,
)
from tiny_etl_multiproc_bigdata_spark.functions.hashing import duck_md5_long, md5_long
from tiny_etl_multiproc_bigdata_spark.functions.text import (
    duck_jlower,
    DUCK_TOKS,
    tokenize_words,
    tokenize_words_nonempty,
)
from tiny_etl_multiproc_bigdata_spark.functions.vectors import (
    complete_vector_sql,
)
from tiny_etl_multiproc_bigdata_spark.functions.rounding import (
    exact_round,
    round_half_up,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import register

# --------------------------------------------------------------------------
# Top-k per group / CDC compaction
# --------------------------------------------------------------------------


@register(
    "topk_per_group",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC)
               AS rn
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey,
           round(o_totalprice, 2) AS totalprice, rn
    FROM ranked WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price within every priority class. The rank
    filter over a partitioned window is rewritten by Catalyst into
    WindowGroupLimit (plan-pinned in test_plans), which keeps a
    per-partition top-k heap BEFORE the exchange — each shuffle input
    task forwards at most k rows per group, so the full sort of each
    group never happens. The declarative window form is therefore
    already the 100 TB form."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            exact_round("o_totalprice", 2).alias("totalprice"),
            "rn",
        )
    )


@register(
    "cdc_latest_by_key",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_id AS last_event_id,
           event_type AS last_event_type, value AS last_value
    FROM ranked WHERE rn = 1
    """,
)
def cdc_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction: the latest full row per key — the nightly
    CDC "upsert view" every lakehouse table build needs. Same
    WindowGroupLimit shape as topk_per_group with k=1: per-partition
    latest rows only cross the wire. (An equivalent max_by(struct)
    aggregation exists — agg_min_by_max_by — but the window form
    generalizes to k>1 version history.)"""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


# --------------------------------------------------------------------------
# SCD2 validity intervals
# --------------------------------------------------------------------------


@register(
    "scd2_intervals",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_type AS state, epoch_us(ts) AS valid_from_us
      FROM flagged
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, state, valid_from_us,
           lead(valid_from_us) OVER (PARTITION BY user_id
                                     ORDER BY valid_from_us ASC, state ASC)
             AS valid_to_us,
           (lead(valid_from_us) OVER (PARTITION BY user_id
                                      ORDER BY valid_from_us ASC, state ASC)
              IS NULL)
             AS is_current
    FROM changes
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from a change log:
    compress consecutive repeats of each user's state (lag filter),
    then derive [valid_from, valid_to) via lead — the open interval is
    the current row. Two partitioned windows over the same (user, time)
    ordering → ONE shuffle, windows pipelined in a single sort. At
    scale this is the standard event-log → dimension-snapshot job."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(*event_time_order())
    changes = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            # NTZ-safe µs epoch (unix_micros rejects TIMESTAMP_NTZ);
            # same formula as temporal_joins.
            (
                epoch_us_ntz("ts")
            ).alias("valid_from_us"),
        )
    )
    # state tiebreak: two changes can land on the same microsecond
    # (distinct event_ids, equal ts); lead() must stay deterministic.
    # asc_nulls_last on both keys: a NULL valid_from (no event time) or
    # NULL state must take the oracle's NULLS LAST position (r11
    # NULL-parity audit class)
    w2 = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("valid_from_us"), F.asc_nulls_last("state")
    )
    lead = F.lead("valid_from_us").over(w2)
    return changes.select(
        "user_id",
        "state",
        "valid_from_us",
        lead.alias("valid_to_us"),
        lead.isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# Stratified deterministic sampling
# --------------------------------------------------------------------------

# per-stratum keep rates (percent of the md5 bucket space): downsample
# the dominant language hard, keep the tails — the usual rebalancing
# move before training-mix assembly.
_STRATA_RATES = {"en": 10, "fr": 30}
_STRATA_DEFAULT = 50


@register(
    "sample_stratified_hash",
    oracle=f"""
    SELECT doc_id, lang,
           {duck_md5_long("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
    FROM documents
    WHERE {duck_md5_long("CAST(doc_id AS VARCHAR)")} % 100
          < CASE lang WHEN 'en' THEN {_STRATA_RATES["en"]}
                      WHEN 'fr' THEN {_STRATA_RATES["fr"]}
                      ELSE {_STRATA_DEFAULT} END
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-language rates on a DETERMINISTIC
    id-hash bucket (md5 mod 100, same arithmetic as
    dataset_holdout_split): en keeps 10%, fr 30%, the rest 50%.
    Hash-based selection is reproducible across engines, reruns and
    partitionings where ``rand()``-based ``sampleBy`` is none of those
    — and it composes with the holdout split (disjoint bucket ranges
    never leak between train and the sample). Pure per-row
    expressions; the filter reaches the scan — zero shuffle."""
    d = table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string")) % 100
    rate = (
        F.when(F.col("lang") == "en", F.lit(_STRATA_RATES["en"]))
        .when(F.col("lang") == "fr", F.lit(_STRATA_RATES["fr"]))
        .otherwise(F.lit(_STRATA_DEFAULT))
    )
    return d.filter(bucket < rate).select(
        "doc_id", "lang", bucket.alias("bucket")
    )


# --------------------------------------------------------------------------
# Quantile bucketing (feature binning)
# --------------------------------------------------------------------------

_DECILES = [i / 10 for i in range(1, 10)]


@register(
    "quantile_bucketize",
    oracle=f"""
    WITH thr AS (
      SELECT list_transform(
               quantile_cont(o_totalprice,
                             [{", ".join(str(q) for q in _DECILES)}]),
               x -> floor(x * 10000 + 0.5) / 10000) AS qs
      FROM orders
    )
    SELECT o_orderkey,
           CAST(1 + len(list_filter(qs, t -> o_totalprice >= t)) AS INTEGER)
             AS decile
    FROM orders, thr
    """,
)
def quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every order its global price decile — feature binning on
    exact quantiles WITHOUT a global sort or ntile window: pass 1 is a
    partial-agg'd 9-element percentile (one tiny row), pass 2 broadcasts
    it back and buckets per-row with a fold over the threshold array.
    Thresholds are micro-rounded to 1e-4 on both engines so percentile/
    quantile_cont interpolation can never flip a boundary row (same
    guard as quality_topfrac_filter). The bucket fold is a Catalyst
    higher-order function — JVM-side, no Python."""
    o = table(spark, sf_dir, "orders")
    thr = o.agg(
        F.expr(
            "transform(percentile(o_totalprice, array("
            + ", ".join(str(q) for q in _DECILES)
            + ")), x -> floor(x * 10000 + 0.5) / 10000)"
        ).alias("qs")
    )
    return (
        o.crossJoin(F.broadcast(thr))
        .select(
            "o_orderkey",
            F.expr(
                "CAST(1 + aggregate(qs, 0, (acc, t) -> acc + "
                "CASE WHEN o_totalprice >= t THEN 1 ELSE 0 END) AS INT)"
            ).alias("decile"),
        )
    )


# --------------------------------------------------------------------------
# Greedy sequence packing
# --------------------------------------------------------------------------

_PACK_CAPACITY = 512
_PACK_SHARDS = 8
_PACK_SCHEMA = "shard bigint, doc_id bigint, n_tokens bigint, bin bigint"


def make_greedy_packer(capacity: int):
    """Factory for the per-shard greedy first-fit fold. The RETURNED
    function is a nested closure, so cloudpickle ships it by value to
    Python workers (a bare module-level function would pickle by
    reference and fail to import there); the factory form also lets
    the property test drive the exact production fold on random
    corpora (test_packing_property)."""

    def pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        bin_id, fill, first = 0, 0, True
        for nt in pdf["n_tokens"]:
            if not first and fill + int(nt) > capacity:
                bin_id += 1
                fill = 0
            fill += int(nt)
            first = False
            bins.append(bin_id)
        pdf["bin"] = bins
        return pdf[["shard", "doc_id", "n_tokens", "bin"]]

    return pack


@register(
    "pack_sequences_greedy",
    oracle=f"""
    WITH RECURSIVE docs AS (
      SELECT {duck_md5_long("CAST(doc_id AS VARCHAR)")} % {_PACK_SHARDS} AS shard,
             doc_id,
             greatest(1, n_chars // 4) AS n_tokens,
             row_number() OVER (
               PARTITION BY {duck_md5_long("CAST(doc_id AS VARCHAR)")} % {_PACK_SHARDS}
               ORDER BY doc_id ASC) AS rn
      FROM documents
    ), packed(shard, rn, doc_id, n_tokens, bin, fill) AS (
      SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
      FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN p.fill + d.n_tokens > {_PACK_CAPACITY}
                  THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill + d.n_tokens > {_PACK_CAPACITY}
                  THEN d.n_tokens ELSE p.fill + d.n_tokens END
      FROM docs d JOIN packed p ON d.shard = p.shard AND d.rn = p.rn + 1
    )
    SELECT shard, doc_id, n_tokens, bin FROM packed
    """,
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit packing of documents into fixed-capacity token
    bins (training context windows): docs are sharded by deterministic
    id-hash, then packed IN doc_id ORDER within each shard — a new bin
    starts when the next doc would overflow the 512-token capacity
    (oversized docs get a bin of their own). Packing is a sequential
    scan by nature, so the distribution strategy is shard-parallelism:
    each shard packs independently inside one ``applyInPandas`` group
    (one Arrow batch, zero cross-shard coordination), and the shard
    count — 8 here, thousands at 100 TB — is the scale knob. Token
    counts use the chars/4 heuristic; swap in text_token_count for
    exact whitespace/BPE counts. Oracle: per-shard recursive CTE
    replaying the same fold."""
    d = table(spark, sf_dir, "documents").select(
        (md5_long(F.col("doc_id").cast("string")) % _PACK_SHARDS).alias("shard"),
        "doc_id",
        F.greatest(F.lit(1), F.floor(F.col("n_chars") / 4)).cast("bigint").alias(
            "n_tokens"
        ),
    )
    return d.groupBy("shard").applyInPandas(
        make_greedy_packer(_PACK_CAPACITY), _PACK_SCHEMA
    )


# --------------------------------------------------------------------------
# Fuzzy entity-resolution join (3-gram Jaccard, inverted-index blocked)
# --------------------------------------------------------------------------

# Misspelled probe names: the synthetic part names are clean, so the
# probe side carries the typos (fixture pattern — both engines see the
# same literals, keeping the driver rows non-vacuous).
_FUZZY_PROBES: list[tuple[int, str]] = [
    (1, "cold widgett"),
    (2, "lrage bolt"),
    (3, "smal gear"),
    (4, "larg widget"),
    (5, "tiny sprocketzz"),
]
_FUZZY_MIN_JAC = 3000  # Jaccard >= 0.30, integer-scaled by 1e4

# NB: Spark sequence(1, 0) counts DOWN ([1, 0]), so strings shorter
# than 3 chars need an explicit empty-array guard rather than a clamped
# upper bound (property-tested in test_packing_property).
_GRAM_EXPR = (
    "CASE WHEN length({c}) < 3 THEN array() "
    "ELSE array_distinct(transform(sequence(1, length({c}) - 2), "
    "i -> substring(lower({c}), i, 3))) END"
)


def _duck_grams(c: str) -> str:
    """DuckDB twin of ``_GRAM_EXPR``: the distinct lowered 3-grams of ``c``."""
    return (
        f"list_distinct([substr({duck_jlower(c)}, i, 3) "
        f"for i in range(1, length({c}) - 1)])"
    )


def _fuzzy_oracle() -> str:
    values = ", ".join(f"({i}, '{s}')" for i, s in _FUZZY_PROBES)
    return f"""
    WITH probes(probe_id, probe_name) AS (VALUES {values}),
    pg AS (
      SELECT probe_id, probe_name, {_duck_grams("probe_name")} AS grams
      FROM probes
    ),
    pga AS (
      SELECT probe_id, probe_name, len(grams) AS na, unnest(grams) AS g
      FROM pg
    ),
    names AS (SELECT DISTINCT p_name FROM part),
    ng AS (
      SELECT p_name, {_duck_grams("p_name")} AS grams FROM names
    ),
    nga AS (
      SELECT p_name, len(grams) AS nb, unnest(grams) AS g FROM ng
    ),
    cand AS (
      SELECT probe_id, probe_name, na, p_name, nb, count(*) AS n_match
      FROM pga JOIN nga USING (g)
      GROUP BY probe_id, probe_name, na, p_name, nb
    ),
    scored AS (
      SELECT probe_id, probe_name, p_name,
             CAST(n_match * 10000 // (na + nb - n_match) AS BIGINT)
               AS jac_10000
      FROM cand
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY jac_10000 DESC, p_name ASC) AS rn
      FROM scored WHERE jac_10000 >= {_FUZZY_MIN_JAC}
    )
    SELECT probe_id, probe_name, p_name AS matched_name, jac_10000
    FROM best WHERE rn = 1
    """


@register("fuzzy_match_parts", oracle=_fuzzy_oracle())
def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity-resolution JOIN: match misspelled probe names to the
    part catalog by 3-gram Jaccard. The quadratic name×probe space is
    never materialized — both sides explode to (gram, name) postings
    and candidates come from the gram equi-join (inverted-index
    blocking, the cross-table twin of dedup_ngram_jaccard's self-join;
    at catalog scale add the same document-frequency cap on hot grams).
    Similarity is integer-scaled Jaccard (floor(|∩|·10⁴/|∪|)) so the
    threshold and the tie-broken best-match pick are engine-exact."""
    probes = spark.createDataFrame(
        _FUZZY_PROBES, schema="probe_id bigint, probe_name string"
    )
    pg = probes.withColumn("grams", F.expr(_GRAM_EXPR.format(c="probe_name")))
    pga = pg.select(
        "probe_id",
        "probe_name",
        F.size("grams").alias("na"),
        F.explode("grams").alias("g"),
    )
    names = table(spark, sf_dir, "part").select("p_name").distinct()
    ng = names.withColumn("grams", F.expr(_GRAM_EXPR.format(c="p_name")))
    nga = ng.select(
        "p_name", F.size("grams").alias("nb"), F.explode("grams").alias("g")
    )
    cand = pga.join(nga, "g").groupBy(
        "probe_id", "probe_name", "na", "p_name", "nb"
    ).agg(F.count(F.lit(1)).alias("n_match"))
    scored = cand.select(
        "probe_id",
        "probe_name",
        "p_name",
        F.floor(
            F.col("n_match") * 10000 / (F.col("na") + F.col("nb") - F.col("n_match"))
        ).alias("jac_10000"),
    ).filter(F.col("jac_10000") >= _FUZZY_MIN_JAC)
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("jac_10000"), F.asc("p_name")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "probe_id",
            "probe_name",
            F.col("p_name").alias("matched_name"),
            "jac_10000",
        )
    )


# --------------------------------------------------------------------------
# TF-IDF top terms per document
# --------------------------------------------------------------------------


def _lowered_terms(d: DataFrame, *keep: str) -> DataFrame:
    """``(*keep, term)``: every non-empty whitespace token of ``text``,
    lowercased — the term stream the term-statistics entries count."""
    return (
        d.select(*keep, F.explode(tokenize_words("text")).alias("token"))
        .filter(F.col("token") != "")
        .select(*keep, F.lower("token").alias("term"))
    )


def _duck_terms(*keep: str) -> str:
    """DuckDB twin of ``_lowered_terms``, the body of a ``toks`` CTE."""
    cols = "".join(f"{c}, " for c in keep)
    return (
        f"SELECT {cols}{duck_jlower('t.token')} AS term\n"
        "      FROM documents, unnest(regexp_split_to_array(text, '\\s+')) AS t(token)\n"
        "      WHERE t.token <> ''"
    )


@register(
    "tfidf_topk_terms",
    oracle=f"""
    WITH toks AS (
      {_duck_terms("doc_id")}
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             CAST(tf.tf * (n.n + 1) * 10000 // (df.df + 1) AS BIGINT)
               AS score_scaled
      FROM tf JOIN df USING (term), n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score_scaled DESC, term ASC) AS rn
      FROM scored
    )
    SELECT doc_id, term, tf, score_scaled, rn FROM ranked WHERE rn <= 3
    """,
)
def tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most-distinctive terms per document by TF-IDF. The idf is
    the SCALED RATIONAL form tf·(N+1)·10⁴ div (df+1) — bigint integer
    division end-to-end (NOT floor of a double quotient, which loses
    exactness once the product passes 2⁵³), so ranking and values are
    engine-exact against DuckDB's ``//`` (libm ``ln`` differs across
    engines at the ulp; on a real cluster swap in log-idf, there is no
    oracle to match there). Shapes: one shuffle for tf, one for df
    (both partial-agg'd), an equi-join on term, the corpus size
    broadcast from one row, and the rank filter rewritten to
    WindowGroupLimit. The bigint product saturates near tf·N·10⁴ ≈
    9.2e18 — switch to log-idf before that."""
    d = table(spark, sf_dir, "documents")
    toks = _lowered_terms(d, "doc_id")
    # toks feeds tf AND df — pin the exploded term stream once (r07
    # plan audit: 3 scans without); n comes off the pinned tf table
    # (distinct doc_ids) so the base table is scanned exactly once
    toks = toks.localCheckpoint(eager=True)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.expr("tf * (n + 1) * 10000 div (df + 1)").alias("score_scaled"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_scaled"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "score_scaled", "rn")
    )


# --------------------------------------------------------------------------
# Embedding centroids per label
# --------------------------------------------------------------------------


@register(
    "embedding_label_centroids",
    oracle=f"""
    SELECT label, CAST(i - 1 AS INTEGER) AS pos,
           floor(avg(embedding[i]::DOUBLE) * 10000 + 0.5) / 10000 AS centroid
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    WHERE {complete_vector_sql("embedding")}
    GROUP BY label, i
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding — the class-centroid table behind IVF
    seeding, nearest-class assignment and drift monitoring. Wide→long
    posexplode, one partial-agg'd (label, pos) average, micro-rounded
    at 1e-4 (float summation order varies across partitions and
    engines; the ulp noise sits ~9 orders below the cut). At 100 TB
    the shuffle carries only (label, pos, partial sum/count) pairs —
    dims × labels rows, independent of corpus size. Input contract
    (r13 non-finite matrix): incomplete vectors excluded on both
    engines — before the contract, a single -Inf element saturated
    Spark's centroid to a Long.MIN-scaled value (-922337203685000.0)
    while the oracle said -inf: the silent-corruption shape, not even
    a crash."""
    from tiny_etl_multiproc_bigdata_spark.functions.vectors import (
        is_complete_vector,
    )
    e = table(spark, sf_dir, "embeddings").filter(
        is_complete_vector(F.col("embedding"))
    )
    ex = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("label", F.col("pos").cast("int").alias("pos"), "col")
    from tiny_etl_multiproc_bigdata_spark.functions.rounding import round_half_up

    return ex.groupBy("label", "pos").agg(
        round_half_up(F.avg("col"), 4).alias("centroid")
    )


# --------------------------------------------------------------------------
# Forward as-of: time to next conversion
# --------------------------------------------------------------------------


@register(
    "asof_next_purchase",
    oracle=f"""
    WITH t AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us
      FROM events
      WHERE {time_domain_sql()}
    )
    SELECT user_id, event_id, t_us,
           min(CASE WHEN event_type = 'purchase' THEN t_us END)
             OVER (PARTITION BY user_id ORDER BY t_us ASC, event_id ASC
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
             AS next_purchase_us
    FROM t
    """,
)
def asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (asof_last_signup's mirror): for every event,
    the timestamp of the user's next purchase strictly after it — the
    time-to-conversion primitive. Same no-join formulation: a
    conditional min over the FOLLOWING frame of one partitioned window,
    one shuffle on user_id, no range join, no self-join.

    r13 --timeskew: portable-time-domain filter, and t_us is exact NTZ
    micro-arithmetic (timestampdiff) — the old reconstruction
    ``unix_timestamp*1e6 + SSSSSS`` double-counts the sub-second
    fraction on PRE-EPOCH timestamps (unix_timestamp truncates toward
    zero, then the positive fraction adds the wrong way: every 1890
    event landed 1s-minus-2·fraction late). Latent on the post-epoch
    committed fixtures."""
    e = table(spark, sf_dir, "events").filter(in_time_domain(F.col("ts")))
    t_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ).alias("t_us")
    t = e.select("user_id", "event_id", "event_type", t_us)
    # the FOLLOWING frame is expressed as a running (unboundedPreceding,
    # -1) frame over the DESC total order: identical row set ((t_us,
    # event_id) is unique, so ROWS frames map exactly), but Spark
    # executes running frames with a streaming accumulator while a
    # shifted-unboundedFollowing frame re-aggregates per row — O(p^2)
    # in the partition, a real stall on power-user skew at scale (the
    # caliper_nearest_match r09 finding: 33.1s -> 0.57s on 150k rows /
    # 5 partitions)
    # desc_nulls_first: the mirror of the oracle's ASC NULLS LAST
    # (DuckDB's default) is DESC NULLS FIRST, not Spark's desc default
    # of NULLS LAST — with plain desc a NULL-ts row's running frame
    # would span the whole partition (spurious next-purchase) instead
    # of being empty like the oracle's FOLLOWING frame (r11 NULL-parity
    # audit finding; latent on the NULL-free driver fixtures)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc_nulls_first("t_us"), F.desc_nulls_first("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return t.select(
        "user_id",
        "event_id",
        "t_us",
        F.min(F.when(F.col("event_type") == "purchase", F.col("t_us"))).over(w)
        .alias("next_purchase_us"),
    )


# --------------------------------------------------------------------------
# Token-rarity score (perplexity proxy) and count-min sketch
# --------------------------------------------------------------------------


@register(
    "text_rarity_score",
    oracle=f"""
    WITH toks AS (
      {_duck_terms("doc_id")}
    ),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    scored AS (
      SELECT toks.doc_id, 100000000 // (df.df + 1) AS tok_rarity
      FROM toks JOIN df USING (term)
    )
    SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(tok_rarity) // count(*) AS BIGINT) AS rarity_scaled
    FROM scored GROUP BY doc_id
    """,
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-rarity score — the integer-exact perplexity
    proxy: each token occurrence contributes floor(10⁸/(df+1)) (rare
    vocab → large), and the document score is the integer mean. High
    scores flag gibberish/OCR noise, low scores flag boilerplate-
    common vocabulary — the cheap unigram stand-in for LM-perplexity
    quality filtering, with no libm in sight so both engines agree
    bit-for-bit. Shapes: tf/df aggregations plus one equi-join on
    term; everything partial-agg'd."""
    d = table(spark, sf_dir, "documents")
    toks = _lowered_terms(d, "doc_id")
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = toks.join(df, "term").select(
        "doc_id", F.expr("100000000 div (df + 1)").alias("tok_rarity")
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("tok_rarity").alias("rarity_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            # bigint div, mirroring the oracle's // — no double quotient
            F.expr("rarity_sum div n_tokens").alias("rarity_scaled"),
        )
    )


_CMS_ROWS = 2
_CMS_WIDTH = 64


def _cms_oracle() -> str:
    rows_union = " UNION ALL ".join(
        f"SELECT {j} AS j, "
        f"{duck_md5_long(f'CAST({j} AS VARCHAR) || term')} % {_CMS_WIDTH} "
        "AS bucket, term, cnt FROM tc"
        for j in range(_CMS_ROWS)
    )
    return f"""
    WITH toks AS (
      {_duck_terms()}
    ),
    tc AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
    hashed AS ({rows_union}),
    sketch AS (
      SELECT j, bucket, sum(cnt) AS bucket_count
      FROM hashed GROUP BY j, bucket
    ),
    top AS (
      SELECT term, cnt AS true_count
      FROM tc ORDER BY cnt DESC, term ASC LIMIT 10
    ),
    est AS (
      SELECT t.term, t.true_count, min(s.bucket_count) AS cms_estimate
      FROM top t
      JOIN hashed h ON h.term = t.term
      JOIN sketch s ON s.j = h.j AND s.bucket = h.bucket
      GROUP BY t.term, t.true_count
    )
    SELECT term, true_count, CAST(cms_estimate AS BIGINT) AS cms_estimate
    FROM est
    """


@register("sketch_count_min_topk", oracle=_cms_oracle())
def sketch_count_min_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over corpus token frequencies (d=2 rows × w=64
    buckets, md5-derived hashes so both engines build the identical
    sketch) — the fixed-memory heavy-hitter counter that replaces an
    exact unbounded-vocabulary count at stream/corpus scale. Emits the
    exact top-10 terms with true count beside the sketch estimate; the
    CMS guarantee (estimate ≥ truth, error bounded by collisions)
    makes the comparison deterministic and the driver row self-
    documenting. The sketch is (d·w) cells regardless of vocabulary —
    the aggregation shuffles at most d·w rows after map-side combine."""
    d = table(spark, sf_dir, "documents")
    toks = _lowered_terms(d)
    # tc feeds both sketch rows AND the exact top-k; hashed feeds the
    # sketch agg AND the probe join — pin both vocab-sized tables (r07
    # plan audit: 5 scans without)
    tc = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    hashed = None
    for j in range(_CMS_ROWS):
        h = tc.select(
            F.lit(j).alias("j"),
            (md5_long(F.concat(F.lit(str(j)), F.col("term"))) % _CMS_WIDTH).alias(
                "bucket"
            ),
            "term",
            "cnt",
        )
        hashed = h if hashed is None else hashed.unionByName(h)
    hashed = hashed.localCheckpoint(eager=True)
    sketch = hashed.groupBy("j", "bucket").agg(F.sum("cnt").alias("bucket_count"))
    top = tc.orderBy(F.desc("cnt"), F.asc("term")).limit(10).select(
        "term", F.col("cnt").alias("true_count")
    )
    return (
        F.broadcast(top)
        .join(hashed.select("j", "bucket", "term"), "term")
        .join(sketch, ["j", "bucket"])
        .groupBy("term", "true_count")
        .agg(F.min("bucket_count").cast("bigint").alias("cms_estimate"))
    )


# --------------------------------------------------------------------------
# BPE-training inner loop: corpus-wide adjacent-pair counts
# --------------------------------------------------------------------------


@register(
    "bpe_pair_counts",
    oracle=f"""
    WITH toks AS (
      {_duck_terms()}
    ),
    words AS (SELECT term AS w, count(*) AS freq FROM toks GROUP BY term),
    pairs AS (
      SELECT p.pair, CAST(sum(freq) AS BIGINT) AS n
      FROM words, unnest([substr(w, i, 2) for i in range(1, length(w))])
           AS p(pair)
      GROUP BY p.pair
    )
    SELECT pair, n FROM pairs ORDER BY n DESC, pair ASC LIMIT 20
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-tokenizer-training inner loop, distributed: corpus-wide
    adjacent character-pair frequencies (weighted by word frequency),
    top-20. This is the expensive step of every merge round — the
    argmax pair — and its scale shape is two partial-agg'd shuffles:
    token stream → (word, freq) vocabulary (the big reduction: pair
    explosion runs over DISTINCT words × freq, not raw tokens), then
    pair explode → (pair, Σfreq) and a TakeOrdered top-k. A full BPE
    train iterates this with a merge applied to the vocabulary between
    rounds; the per-round plan is exactly this query."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokenize_words("text")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy(F.lower("token").alias("w"))
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "CASE WHEN length(w) < 2 THEN array() "
                "ELSE transform(sequence(1, length(w) - 1), "
                "i -> substring(w, i, 2)) END"
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# JSON serde round-trip (no filesystem staging)
# --------------------------------------------------------------------------


@register(
    "json_roundtrip_structs",
    oracle=f"""
    SELECT event_id,
           CAST(json_extract_string(j, '$.u') AS BIGINT) AS user_id,
           json_extract_string(j, '$.t') AS event_type,
           CAST(json_extract_string(j, '$.k') AS BIGINT) AS prop_k
    FROM (
      SELECT event_id,
             to_json(struct_pack(
               u := user_id, t := event_type,
               k := {duck_json_bigint("props", "$.k")}))
               AS j
      FROM events
    )
    """,
)
def json_roundtrip_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON serde both directions in one plan: parse the raw ``props``
    JSON column, re-serialize a typed struct with ``to_json``, and
    parse it back with a schema'd ``from_json`` — the ingest⇄export
    pair every JSONL-based corpus pipeline needs, exercised without
    filesystem staging so the driver row checks pure serde semantics.
    All three steps are Catalyst expressions (Jackson JVM-side): zero
    shuffle, zero Python."""
    e = table(spark, sf_dir, "events")
    j = e.select(
        "event_id",
        F.to_json(
            F.struct(
                F.col("user_id").alias("u"),
                F.col("event_type").alias("t"),
                json_bigint("props", "$.k").alias("k"),
            )
        ).alias("j"),
    )
    parsed = F.from_json(
        "j", "u bigint, t string, k bigint"
    )
    return j.select(
        "event_id",
        parsed.getField("u").alias("user_id"),
        parsed.getField("t").alias("event_type"),
        parsed.getField("k").alias("prop_k"),
    )


# --------------------------------------------------------------------------
# Feature hashing (the hashing trick)
# --------------------------------------------------------------------------

_FEAT_BUCKETS = 64


@register(
    "feature_hash_counts",
    oracle=f"""
    WITH toks AS (
      {_duck_terms("doc_id")}
    )
    SELECT doc_id,
           {duck_md5_long("term")}
             % {_FEAT_BUCKETS} AS bucket,
           count(*) AS weight
    FROM toks
    GROUP BY doc_id,
             {duck_md5_long("term")}
               % {_FEAT_BUCKETS}
    """,
)
def feature_hash_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: fold an unbounded token vocabulary into a
    fixed 64-bucket feature space by md5 bucket — the constant-memory
    featurizer for linear models / embeddings-from-scratch over a
    100 TB corpus (no vocabulary dictionary to build, broadcast, or
    keep consistent across runs; collisions are the accepted trade).
    One partial-agg'd shuffle on (doc, bucket); the md5 bucket is the
    same deterministic arithmetic as the holdout split, so features
    are reproducible across engines and reruns."""
    d = table(spark, sf_dir, "documents")
    toks = _lowered_terms(d, "doc_id")
    return (
        toks.select("doc_id", (md5_long(F.col("term")) % _FEAT_BUCKETS).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


# --------------------------------------------------------------------------
# Weighted sampling (Efraimidis–Spirakis exponential-key top-k)
# --------------------------------------------------------------------------

_WS_TOPK = 10


@register(
    "weighted_sample_topk",
    ulp_sensitive=True,
    oracle=rf"""
    WITH w AS (
      SELECT doc_id, source,
             CAST(len({DUCK_TOKS}) AS BIGINT) AS wt,
             ({duck_md5_long("'ws|' || CAST(doc_id AS VARCHAR)")} % 1000000 + 1) / 1000000.0 AS u
      FROM documents
    ), keyed AS (
      SELECT doc_id, source, wt,
             CAST(floor(-ln(u) / wt * 1000000 + 0.5) AS BIGINT) AS key_micro
      FROM w WHERE wt > 0
    )
    SELECT source, doc_id, wt, rk
    FROM (
      SELECT source, doc_id, wt,
             row_number() OVER (PARTITION BY source
                                ORDER BY key_micro ASC, doc_id ASC) AS rk
      FROM keyed
    )
    WHERE rk <= {_WS_TOPK}
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, Efraimidis–Spirakis style:
    each doc draws a deterministic pseudo-uniform u from md5(doc_id) and
    ranks by -ln(u)/w (equivalent to max-k of u^(1/w)); the top-k per
    source IS a w-weighted sample — here w = token count, so longer
    documents are proportionally likelier, the standard quality- or
    size-weighted mix draw. Fully reproducible across engines, reruns
    and partitionings, unlike rand()-based sampling; the ranking key
    quantizes to integer micro-units with a doc_id tie-break (the repo's
    micro-scaled-ranking convention; same documented 1-ULP ln()
    tolerance as the LM scores). Scale shape: per-row keys, then one
    per-source WindowGroupLimit top-k — no global sort."""
    d = table(spark, sf_dir, "documents")
    wt = F.size(tokenize_words_nonempty("text")).cast("bigint")
    u = (
        md5_long(F.concat(F.lit("ws|"), F.col("doc_id").cast("string")))
        % 1_000_000
        + 1
    ) / 1_000_000.0
    keyed = (
        d.select("doc_id", "source", wt.alias("wt"), u.alias("u"))
        .filter(F.col("wt") > 0)
        .select(
            "doc_id",
            "source",
            "wt",
            F.floor(-F.log(F.col("u")) / F.col("wt") * 1_000_000 + F.lit(0.5))
            .cast("bigint")
            .alias("key_micro"),
        )
    )
    win = Window.partitionBy("source").orderBy(
        F.asc("key_micro"), F.asc("doc_id")
    )
    return (
        keyed.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= _WS_TOPK)
        .select("source", "doc_id", "wt", "rk")
    )


_NEG_K = 4  # negatives per anchor
_NEG_ANCHORS = 32  # bounded anchor set


@register(
    "negative_sampling_pairs",
    oracle=f"""
    WITH mx AS (
      SELECT max(doc_id) AS m FROM documents
    ), anchors AS (
      SELECT doc_id AS anchor_id FROM documents
      WHERE doc_id < {_NEG_ANCHORS}
    ), probes AS (
      SELECT a.anchor_id, i.i AS neg_idx,
             {duck_md5_long(
                 "CAST(a.anchor_id AS VARCHAR) || '#' || CAST(i.i AS VARCHAR)"
             )} % (mx.m + 1) AS target
      FROM anchors a, unnest(range(1, {_NEG_K + 1})) AS i(i), mx
    ), snapped AS (
      SELECT p.anchor_id, p.neg_idx,
             min(d.doc_id) AS neg_doc_id
      FROM probes p JOIN documents d ON d.doc_id >= p.target
      GROUP BY p.anchor_id, p.neg_idx
    )
    SELECT anchor_id, CAST(neg_idx AS BIGINT) AS neg_idx, neg_doc_id
    FROM snapped WHERE neg_doc_id <> anchor_id
    """,
)
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based negative sampling for contrastive
    training pairs: each anchor document draws _NEG_K pseudo-random
    negatives via md5(anchor#i) mod the id range, snapped to the next
    EXISTING doc_id (ids need not be dense) — reproducible across
    reruns, engines and partitionings, unlike rand()-based sampling
    (the same argument as dataset_holdout_split). Self-collisions are
    dropped rather than re-drawn, keeping the op one-pass (in
    expectation K·(1−1/N) negatives survive; a re-draw loop would make
    the plan data-dependent).

    100 TB shape: the probe table is |anchors|·K rows — broadcast; the
    >= snap is one corpus scan + a probe-keyed min groupBy (map-side
    combined). No window over the full corpus, no dense-rank spine —
    the id-space modulus makes the draw O(1) per probe. At trillion-row
    scale the same snap runs against the sorted doc_id zone map, i.e.
    partition pruning does the >= for free."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    mx = d.agg(F.max("doc_id").alias("m"))
    anchors = d.where(F.col("doc_id") < _NEG_ANCHORS).select(
        F.col("doc_id").alias("anchor_id")
    )
    probes = (
        anchors.crossJoin(
            spark.range(1, _NEG_K + 1).select(F.col("id").alias("neg_idx"))
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "anchor_id",
            "neg_idx",
            (
                md5_long(
                    F.concat(
                        F.col("anchor_id").cast("string"),
                        F.lit("#"),
                        F.col("neg_idx").cast("string"),
                    )
                )
                % (F.col("m") + 1)
            ).alias("target"),
        )
    )
    snapped = (
        F.broadcast(probes)
        .join(d, d.doc_id >= F.col("target"))
        .groupBy("anchor_id", "neg_idx")
        .agg(F.min("doc_id").alias("neg_doc_id"))
    )
    return snapped.where(F.col("neg_doc_id") != F.col("anchor_id")).select(
        "anchor_id", F.col("neg_idx").cast("bigint").alias("neg_idx"), "neg_doc_id"
    )


_SPAN_LEN = 3  # tokens per corruption span
_SPAN_EVERY = 5  # every 5th span is masked (20% corruption rate)


@register(
    "span_corruption_targets",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             {DUCK_TOKS} AS l
      FROM documents
    ), t2 AS (
      SELECT doc_id, l FROM t WHERE len(l) >= 1
    ), rendered AS (
      SELECT doc_id,
             array_to_string(list_filter(list_transform(
               range(1, len(l) + 1),
               p -> CASE
                 WHEN ((p - 1) // {_SPAN_LEN}) % {_SPAN_EVERY} <> 0 THEN l[p]
                 WHEN (p - 1) % {_SPAN_LEN} = 0
                   THEN '<extra_id_' ||
                        CAST((p - 1) // ({_SPAN_LEN} * {_SPAN_EVERY})
                             AS VARCHAR) || '>'
                 ELSE NULL
               END), x -> x IS NOT NULL), ' ') AS input_text,
             array_to_string(list_filter(list_transform(
               range(1, len(l) + 1),
               p -> CASE
                 WHEN ((p - 1) // {_SPAN_LEN}) % {_SPAN_EVERY} <> 0 THEN NULL
                 WHEN (p - 1) % {_SPAN_LEN} = 0
                   THEN '<extra_id_' ||
                        CAST((p - 1) // ({_SPAN_LEN} * {_SPAN_EVERY})
                             AS VARCHAR) || '>' || ' ' || l[p]
                 ELSE l[p]
               END), x -> x IS NOT NULL), ' ') AS target_text,
             len(list_filter(range(1, len(l) + 1),
                             p -> ((p - 1) // {_SPAN_LEN}) % {_SPAN_EVERY} = 0))
               AS n_masked
      FROM t2
    )
    SELECT doc_id,
           CAST(n_masked AS BIGINT) AS n_masked_tokens,
           md5(input_text) AS input_hash,
           md5(target_text) AS target_hash
    FROM rendered
    """,
)
def span_corruption_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020 §3.1.4): every
    {EVERY}th {LEN}-token span is replaced in the INPUT by a numbered
    sentinel, and the TARGET is the sentinel-delimited concatenation of
    the masked spans — the denoising objective's preprocessing pass,
    here with a deterministic span schedule (position arithmetic)
    instead of random sampling so the pair is reproducible and
    oracle-checkable; a seeded-hash schedule slots into the same
    expressions. Hashes of both renderings keep the registry row
    compact; drop the md5s to emit the actual training pair.

    100 TB shape: map-only — pure per-row array HOFs over the token
    array, zero shuffles, the ideal Spark shape (same class as
    chunk_sliding_tokens; plan-pinned zero-Exchange)."""
    from tiny_etl_multiproc_bigdata_spark.plans.corpus_ops import _tok_docs

    t = _tok_docs(spark, sf_dir)
    pos = F.sequence(F.lit(1), F.size("l"))

    def span_idx(p):
        return F.floor((p - 1) / F.lit(_SPAN_LEN)).cast("bigint")

    def is_masked(p):
        return span_idx(p) % _SPAN_EVERY == 0

    def sentinel(p):
        return F.concat(
            F.lit("<extra_id_"),
            F.floor((p - 1) / F.lit(_SPAN_LEN * _SPAN_EVERY))
            .cast("bigint")
            .cast("string"),
            F.lit(">"),
        )

    def tok(p):
        return F.element_at("l", p.cast("int"))

    input_text = F.array_join(
        F.filter(
            F.transform(
                pos,
                lambda p: F.when(~is_masked(p), tok(p))
                .when((p - 1) % _SPAN_LEN == 0, sentinel(p))
                .otherwise(F.lit(None)),
            ),
            lambda x: x.isNotNull(),
        ),
        " ",
    )
    target_text = F.array_join(
        F.filter(
            F.transform(
                pos,
                lambda p: F.when(~is_masked(p), F.lit(None))
                .when(
                    (p - 1) % _SPAN_LEN == 0,
                    F.concat(sentinel(p), F.lit(" "), tok(p)),
                )
                .otherwise(tok(p)),
            ),
            lambda x: x.isNotNull(),
        ),
        " ",
    )
    n_masked = F.size(F.filter(pos, lambda p: is_masked(p)))
    return t.select(
        "doc_id",
        n_masked.cast("bigint").alias("n_masked_tokens"),
        F.md5(input_text).alias("input_hash"),
        F.md5(target_text).alias("target_hash"),
    )


_VOCAB_TOP = 50  # closed vocabulary = top-50 corpus tokens


@register(
    "tokenizer_vocab_coverage",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, t.tok AS tok
      FROM documents,
           unnest({DUCK_TOKS}) AS t(tok)
    ), vocab AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS c FROM toks GROUP BY tok
        ORDER BY c DESC, tok ASC
        LIMIT {_VOCAB_TOP}
      )
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           (floor(CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                       AS DOUBLE) / count(*) * 10000 + 0.5) / 10000)
             AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary coverage: per-document out-of-vocabulary
    rate against a closed top-{TOP} corpus vocabulary — the evaluation
    every tokenizer/vocab decision runs before committing to a
    pretraining corpus (high OOV = fertility blow-up downstream;
    companion to tokenizer_fertility_by_lang). Deterministic vocabulary
    cut on (count desc, token).

    100 TB shape: the vocabulary is tiny by construction — broadcast
    into the token stream (LEFT join against ~50 rows), so the only
    corpus-scale shuffles are the count groupBy behind the cut and the
    per-doc rollup."""
    from tiny_etl_multiproc_bigdata_spark.plans.corpus_ops import _tok_docs

    # checkpoint at ARRAY granularity, not post-explode: the token
    # arrays are many times smaller in block storage and give the same
    # single-scan guarantee (the bm25 convention; r6 review finding)
    arr = _tok_docs(spark, sf_dir, checkpoint=True)
    toks = arr.select("doc_id", F.explode("l").alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_VOCAB_TOP)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            round_half_up(
                F.sum(
                    F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
                ).cast("double")
                / F.count("*"),
                4,
            ).alias("oov_rate"),
        )
    )


_BATCH_BUCKET_W = 16  # token-length bucket width
_BATCH_MAX_BUCKET = 5  # lengths >= 80 share the top bucket
_BATCH_SIZE = 8


@register(
    "length_bucket_batching",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             len({DUCK_TOKS}) AS n_tokens
      FROM documents
    ), t2 AS (
      SELECT doc_id, n_tokens,
             least(CAST(floor(n_tokens / {_BATCH_BUCKET_W}.0) AS BIGINT),
                   {_BATCH_MAX_BUCKET}) AS bucket
      FROM t WHERE n_tokens >= 1
    )
    SELECT doc_id, n_tokens, bucket,
           CAST(floor((row_number() OVER (PARTITION BY bucket
                                          ORDER BY doc_id ASC) - 1)
                      / {_BATCH_SIZE}.0) AS BIGINT) AS batch_id
    FROM t2
    """,
)
def length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment — the dynamic-batching pass
    that keeps padding waste bounded: documents land in a token-length
    bucket (width {W}, clamped), and each bucket is carved into
    deterministic {B}-doc batches in doc_id order. Downstream, one
    batch = one training micro-batch of near-equal lengths.

    100 TB shape: one window per BUCKET (6 partitions of corpus/6 rows
    each — partitioned, never a global sort). If a single bucket's
    row_number chain ever became the bottleneck, the id-ordered batch
    assignment decomposes per table-partition with a cumulative offset
    (the two-pass distribution-rewrite recipe, plans/advanced.py)."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.size(tokenize_words_nonempty("text")).alias("n_tokens")
    ).where(F.col("n_tokens") >= 1)
    t = t.select(
        "doc_id",
        "n_tokens",
        F.least(
            F.floor(F.col("n_tokens") / F.lit(float(_BATCH_BUCKET_W))).cast(
                "bigint"
            ),
            F.lit(_BATCH_MAX_BUCKET).cast("bigint"),
        ).alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy(F.asc("doc_id"))
    return t.select(
        "doc_id",
        "n_tokens",
        "bucket",
        F.floor(
            (F.row_number().over(w) - 1) / F.lit(float(_BATCH_SIZE))
        )
        .cast("bigint")
        .alias("batch_id"),
    )


_MIX_ALPHA = 0.7  # temperature exponent (UnifiedLM / multilingual-mix style)


@register(
    "mix_weights_temperature",
    ulp_sensitive=True,
    oracle=rf"""
    WITH t AS (
      SELECT source,
             count(*) AS n_docs,
             sum(len({DUCK_TOKS})) AS n_tokens
      FROM documents GROUP BY source
    ), q AS (
      SELECT source, n_docs, n_tokens,
             CAST(floor(power(n_tokens, {_MIX_ALPHA}) * 1000000 + 0.5)
                  AS BIGINT) AS qt
      FROM t
    ), tot AS (
      SELECT sum(n_tokens) AS tot_tokens, sum(qt) AS tot_q FROM q
    )
    SELECT source,
           CAST(n_docs AS BIGINT)   AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           (floor(CAST(n_tokens AS DOUBLE) / tot_tokens * 1000000 + 0.5)
            / 1000000) AS raw_share,
           (floor(CAST(qt AS DOUBLE) / tot_q * 1000000 + 0.5)
            / 1000000) AS temp_weight
    FROM q, tot
    """,
)
def mix_weights_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing weights: w_s ∝ (token count)^α
    with α = _MIX_ALPHA — the standard upsampling curve that flattens the
    natural source distribution toward uniform (α→0) without discarding
    head-source data (α=1 keeps raw proportions). The registry row per
    source carries both the raw share and the temperature weight, so
    the sampler downstream is a weighted draw against temp_weight.

    Cross-engine exactness: power() is the one transcendental — its
    result is quantized to integer micro-units per source BEFORE the
    normalizing sum (ulp_sensitive), after which both shares are single
    divisions of identical exact integers.

    100 TB shape: one partial+final agg over the corpus keyed by source
    (map-side combine does ~all the work; source cardinality is tiny),
    then a 1-row broadcast of the totals — the same scalar-aggregate
    crossJoin convention as the curation thresholds."""
    d = table(spark, sf_dir, "documents")
    agg = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(tokenize_words_nonempty("text")).cast("bigint"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    q = agg.withColumn(
        "qt",
        F.floor(
            F.pow(F.col("n_tokens").cast("double"), F.lit(_MIX_ALPHA))
            * 1_000_000
            + 0.5
        ).cast("bigint"),
    ).localCheckpoint(eager=True)  # source-cardinality rows; feeds the
    # totals agg AND the output select — without the pin the corpus
    # scan+agg executes once per consumer (r07 plan audit)
    tot = q.agg(
        F.sum("n_tokens").cast("bigint").alias("tot_tokens"),
        F.sum("qt").cast("bigint").alias("tot_q"),
    )
    return q.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        round_half_up(
            F.col("n_tokens").cast("double") / F.col("tot_tokens"), 6
        ).alias("raw_share"),
        round_half_up(
            F.col("qt").cast("double") / F.col("tot_q"), 6
        ).alias("temp_weight"),
    )


# ---- BPE merge training, fixed steps (r07) ------------------------------
#
# bpe_pair_counts computes ONE round's pair statistics; this entry runs
# the actual training loop: _BPE_STEPS rounds of (count adjacent pairs
# corpus-wide → pick the top pair → rewrite every document merging it),
# entirely as one lazy plan. The corpus rewrite is the interesting
# part: left-to-right non-overlapping pair merging is sequential within
# a document, which defeats array HOFs — but encoding the token array
# as a \x01-delimited string with DOUBLED interior separators makes one
# replace() call implement exactly the greedy merge on BOTH engines
# (each occurrence's trailing separator is not consumed by the match,
# so adjacent occurrences chain, while a==b self-overlaps are broken
# greedily — verified by construction for [a,b,a,b] and [x,x,x]).
# Token text is whitespace-tokenized lowercase alnum (fixture), so \x01
# and the '+' merge marker cannot collide with input bytes; a corpus
# with arbitrary bytes would hash tokens first (same plan).

_BPE_STEPS = 3
_BPE_SEP = "\x01"


def _bpe_oracle() -> str:
    sep = "chr(1)"
    dd = f"{sep} || {sep}"
    head = rf"""
    WITH d0 AS (
      SELECT doc_id,
             {DUCK_TOKS} AS l
      FROM documents
    )"""
    steps = []
    for k in range(1, _BPE_STEPS + 1):
        prev = f"d{k - 1}"
        steps.append(
            f""",
    p{k} AS (
      SELECT l[i.i] AS a, l[i.i + 1] AS b, count(*) AS c
      FROM {prev}, unnest(range(1, len(l))) AS i(i)
      GROUP BY 1, 2
    ), t{k} AS (
      SELECT a, b, c FROM p{k} ORDER BY c DESC, a ASC, b ASC LIMIT 1
    ), d{k} AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 trim(
                   replace({sep} || array_to_string(l, {dd}) || {sep},
                           {sep} || t.a || {dd} || t.b || {sep},
                           {sep} || t.a || '+' || t.b || {sep}),
                   chr(1)),
                 {dd}),
               x -> x <> '') AS l
      FROM {prev}, t{k} t
    ), s{k} AS (
      SELECT {k} AS step, a AS token_a, b AS token_b,
             CAST(c AS BIGINT) AS pair_count,
             (SELECT CAST(sum(len(l)) AS BIGINT) FROM d{k}) AS tokens_after
      FROM t{k}
    )"""
        )
    return (
        head
        + "".join(steps)
        + "\n    "
        + " UNION ALL ".join(
            f"SELECT * FROM s{k}" for k in range(1, _BPE_STEPS + 1)
        )
    )


@register("bpe_merge_train_steps", oracle=_bpe_oracle())
def bpe_merge_train_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training, _BPE_STEPS rounds (see the block comment
    above for the string-algebra merge). Output: one row per learned
    merge rule — (step, token_a, token_b, pair_count, tokens_after) —
    ties on pair count broken lexicographically so the learned
    vocabulary is deterministic.

    100 TB shape per round: pair counts are a map-side-combined agg to
    a vocabulary²-bounded table; the top-1 pick is a TakeOrdered over
    that table (never the corpus); the rewrite is map-only string
    algebra with the 2-value rule broadcast. The corpus is
    re-materialized per round (localCheckpoint) — the same
    corpus-rewrite cost real BPE trainers pay per merge, and the
    reason production tokenizers train on a sampled subset or use
    pair-count deltas; both fit this plan shape."""
    sep, dd = _BPE_SEP, _BPE_SEP + _BPE_SEP
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokenize_words_nonempty("text").alias("l")
    )
    step_rows = []
    for k in range(1, _BPE_STEPS + 1):
        d = d.localCheckpoint(eager=True)
        pairs = (
            d.select(
                F.explode(
                    F.when(
                        F.size("l") >= 2,
                        F.transform(
                            F.sequence(
                                F.lit(1),
                                F.greatest(F.size("l") - 1, F.lit(1)),
                            ),
                            lambda i: F.struct(
                                F.try_element_at("l", i).alias("a"),
                                F.try_element_at("l", i + 1).alias("b"),
                            ),
                        ),
                    ).otherwise(
                        F.array().cast(
                            "array<struct<a:string,b:string>>"
                        )
                    )
                ).alias("p")
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.count("*").alias("c"))
        )
        # the 1-row rule feeds the rewrite AND the step report — pin it
        # so the corpus-wide pair agg doesn't re-run per consumer
        top = (
            pairs.orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .localCheckpoint(eager=True)
        )
        merged_str = F.replace(
            F.concat(F.lit(sep), F.array_join("l", dd), F.lit(sep)),
            F.concat(
                F.lit(sep), F.col("a"), F.lit(dd), F.col("b"), F.lit(sep)
            ),
            F.concat(
                F.lit(sep), F.col("a"), F.lit("+"), F.col("b"), F.lit(sep)
            ),
        )
        d = d.crossJoin(F.broadcast(top)).select(
            "doc_id",
            F.filter(
                F.split(F.btrim(merged_str, F.lit(sep)), dd),
                lambda x: x != "",
            ).alias("l"),
        )
        tokens_after = d.agg(
            F.sum(F.size("l")).cast("bigint").alias("tokens_after")
        )
        step_rows.append(
            top.crossJoin(F.broadcast(tokens_after)).select(
                F.lit(k).cast("int").alias("step"),
                F.col("a").alias("token_a"),
                F.col("b").alias("token_b"),
                F.col("c").cast("bigint").alias("pair_count"),
                "tokens_after",
            )
        )
    out = step_rows[0]
    for s in step_rows[1:]:
        out = out.unionAll(s)
    return out


_MIX_BUDGET = 100_000  # total training-token budget for the allocation


@register(
    "mix_token_allocation",
    ulp_sensitive=True,
    oracle=rf"""
    WITH t AS (
      SELECT source,
             sum(len({DUCK_TOKS})) AS n_tokens
      FROM documents GROUP BY source
    ), q AS (
      SELECT source, n_tokens,
             CAST(floor(power(n_tokens, {_MIX_ALPHA}) * 1000000 + 0.5)
                  AS BIGINT) AS qt
      FROM t
    ), tot AS (
      SELECT sum(qt) AS tot_q FROM q
    )
    SELECT source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST({_MIX_BUDGET} * qt // tot_q AS BIGINT) AS alloc_tokens,
           CAST(({_MIX_BUDGET} * qt // tot_q) * 1000000 // n_tokens
                AS BIGINT) AS epochs_micro
    FROM q, tot
    """,
)
def mix_token_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumption side of mix_weights_temperature: divide a fixed
    training-token budget across sources in proportion to the
    temperature weights, and report each source's implied epoch count
    (allocated / available, in micro-epochs) — epochs > 1e6 micro mean
    the source repeats, the upsampling a temperature < 1 deliberately
    causes on small sources. All post-power() arithmetic is integer
    (BIGINT products stay far under 2^63: budget·qt ≤ 1e5·~1e9), and
    the floor divisions run on positive operands where Spark's
    truncating div and DuckDB's // agree.

    100 TB shape: identical to mix_weights_temperature — one map-side
    combined agg keyed by source plus a 1-row totals broadcast."""
    d = table(spark, sf_dir, "documents")
    agg = d.groupBy("source").agg(
        F.sum(F.size(tokenize_words_nonempty("text")).cast("bigint"))
        .cast("bigint")
        .alias("n_tokens")
    )
    q = agg.withColumn(
        "qt",
        F.floor(
            F.pow(F.col("n_tokens").cast("double"), F.lit(_MIX_ALPHA))
            * 1_000_000
            + 0.5
        ).cast("bigint"),
    ).localCheckpoint(eager=True)  # two consumers (same rationale as
    # mix_weights_temperature)
    tot = q.agg(F.sum("qt").cast("bigint").alias("tot_q"))
    alloc = F.floor(
        F.lit(_MIX_BUDGET).cast("bigint") * F.col("qt") / F.col("tot_q")
    ).cast("bigint")
    return q.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        alloc.alias("alloc_tokens"),
        F.floor(alloc * 1_000_000 / F.col("n_tokens"))
        .cast("bigint")
        .alias("epochs_micro"),
    )


# ---- edit-distance verification for fuzzy matches ------------------------

_LEV_MAX = 3  # accept a candidate only within 3 edits


def _lev_oracle() -> str:
    values = ", ".join(f"({i}, '{s}')" for i, s in _FUZZY_PROBES)
    return f"""
    WITH probes(probe_id, probe_name) AS (VALUES {values}),
    pga AS (
      SELECT probe_id, probe_name, unnest({_duck_grams("probe_name")}) AS g
      FROM probes
    ),
    nga AS (
      SELECT p_name, unnest({_duck_grams("p_name")}) AS g
      FROM (SELECT DISTINCT p_name FROM part)
    ),
    cand AS (
      SELECT DISTINCT probe_id, probe_name, p_name
      FROM pga JOIN nga USING (g)
    ),
    verified AS (
      SELECT probe_id, probe_name, p_name,
             CAST(levenshtein({duck_jlower("probe_name")},
                              {duck_jlower("p_name")}) AS BIGINT)
               AS edit_dist
      FROM cand
    )
    SELECT probe_id, probe_name, p_name AS matched_name, edit_dist
    FROM (
      SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY edit_dist ASC, p_name ASC) AS rn
      FROM verified WHERE edit_dist <= {_LEV_MAX}
    ) WHERE rn = 1
    """


@register("levenshtein_verify_match", oracle=_lev_oracle())
def levenshtein_verify_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification pass over the fuzzy-match blocking:
    the same 3-gram inverted-index candidates as fuzzy_match_parts, but
    VERIFIED with true Levenshtein distance (<= {MAX} edits, smallest
    distance wins, name tie-break) — the classic two-stage entity-
    resolution shape where a cheap set-similarity filter bounds the
    candidate set and the expensive O(|a|·|b|) dynamic-programming
    metric runs only on survivors. Both engines ship the same
    unit-cost Levenshtein built-in, so the distance is integer-exact.

    100 TB shape: candidate generation is the inverted-index join
    (probe grams broadcast); the DP metric evaluates |candidates|
    times, never |probes| × |catalog| — exactly why blocking exists."""
    probes = spark.createDataFrame(
        _FUZZY_PROBES, "probe_id int, probe_name string"
    )
    pg = probes.select(
        "probe_id",
        "probe_name",
        F.explode(F.expr(_GRAM_EXPR.format(c="probe_name"))).alias("g"),
    )
    names = (
        table(spark, sf_dir, "part").select("p_name").distinct()
    )
    ng = names.select(
        "p_name", F.explode(F.expr(_GRAM_EXPR.format(c="p_name"))).alias("g")
    )
    cand = (
        F.broadcast(pg)
        .join(ng, "g")
        .select("probe_id", "probe_name", "p_name")
        .distinct()
    )
    verified = cand.select(
        "probe_id",
        "probe_name",
        "p_name",
        F.levenshtein(F.lower("probe_name"), F.lower("p_name"))
        .cast("bigint")
        .alias("edit_dist"),
    ).filter(F.col("edit_dist") <= _LEV_MAX)
    pick = verified.groupBy("probe_id").agg(
        F.min(
            F.struct("edit_dist", F.col("p_name"), F.col("probe_name"))
        ).alias("m")
    )
    return pick.select(
        "probe_id",
        F.col("m.probe_name").alias("probe_name"),
        F.col("m.p_name").alias("matched_name"),
        F.col("m.edit_dist").alias("edit_dist"),
    )


# --------------------------------------------------------------------------
# time-travel snapshot counts over the SCD2 intervals
# --------------------------------------------------------------------------

_SNAP_QUARTERS = (1, 2, 3)  # as-of instants at 25/50/75% of the window


@register(
    "as_of_snapshot_counts",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_type AS state, epoch_us(ts) AS valid_from_us
      FROM flagged
      WHERE prev_type IS NULL OR prev_type <> event_type
    ), iv AS (
      SELECT user_id, state, valid_from_us,
             lead(valid_from_us) OVER (PARTITION BY user_id
                                       ORDER BY valid_from_us ASC, state ASC)
               AS valid_to_us
      FROM changes
    ),
    w AS (
      SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi FROM events
    ),
    snaps AS (
      SELECT q, w.lo + (w.hi - w.lo) * q // 4 AS t_us
      FROM w, (SELECT CAST(unnest([{", ".join(str(q) for q in _SNAP_QUARTERS)}])
                           AS BIGINT) AS q)
    )
    SELECT s.q AS quarter, s.t_us AS as_of_us, iv.state,
           CAST(count(*) AS BIGINT) AS n_users
    FROM snaps s JOIN iv
      ON iv.valid_from_us <= s.t_us
     AND (iv.valid_to_us IS NULL OR iv.valid_to_us > s.t_us)
    GROUP BY s.q, s.t_us, iv.state
    """,
)
def as_of_snapshot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the SCD2 dimension: how many users were in each
    state AS OF the window's quarter points — the query SCD2 exists to
    answer ('what did the world look like at T?'), composing
    scd2_intervals' exact interval definition (shared CTE text) with a
    3-instant snapshot spine; scd2_point_in_time_join answers it per
    event, this answers it per REPORT. Interval half-openness
    [from, to) makes a state change AT the snapshot instant count its
    new state exactly once.

    100 TB shape: the interval build is the audited scd2 shape (one
    user-partitioned sort); the snapshot spine is 3 broadcast rows and
    the as-of predicate is a broadcast-range join against it —
    |intervals| x 3 at worst, partial-agg'd to |states| x 3."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(*event_time_order())
    t_us = (
        epoch_us_ntz("ts")
    )
    changes = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            t_us.alias("valid_from_us"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.asc("valid_from_us"), F.asc("state")
    )
    iv = changes.select(
        "user_id",
        "state",
        "valid_from_us",
        F.lead("valid_from_us").over(w2).alias("valid_to_us"),
    )
    bounds = e.agg(
        F.min(t_us).alias("lo"), F.max(t_us).alias("hi")
    )
    snaps = bounds.select(
        F.explode(
            F.array(*[F.lit(q).cast("bigint") for q in _SNAP_QUARTERS])
        ).alias("q"),
        "lo",
        "hi",
    ).select(
        "q",
        (
            F.col("lo")
            + F.expr(f"(hi - lo) * q div 4")
        ).alias("t_us"),
    )
    hit = (F.col("valid_from_us") <= F.col("t_us")) & (
        F.col("valid_to_us").isNull() | (F.col("valid_to_us") > F.col("t_us"))
    )
    return (
        iv.join(F.broadcast(snaps), hit)
        .groupBy(
            F.col("q").alias("quarter"),
            F.col("t_us").alias("as_of_us"),
            "state",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


# --------------------------------------------------------------------------
# k-fold assignment with stratification balance audit
# --------------------------------------------------------------------------

_KFOLD_K = 5


@register(
    "kfold_assignment_balance",
    oracle=f"""
    WITH folds AS (
      SELECT {duck_md5_long("'fold|' || CAST(doc_id AS VARCHAR)")} % {_KFOLD_K} AS fold,
             lang
      FROM documents
    ),
    cells AS (
      SELECT fold, lang, CAST(count(*) AS BIGINT) AS n
      FROM folds GROUP BY fold, lang
    )
    SELECT fold, lang, n,
           (floor(CAST(n AS DOUBLE)
                  / sum(n) OVER (PARTITION BY fold)
                  * 10000 + 0.5) / 10000) AS fold_rate,
           (floor(CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE)
                  / sum(n) OVER ()
                  * 10000 + 0.5) / 10000) AS global_rate
    FROM cells
    """,
)
def kfold_assignment_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{K}-fold cross-validation assignment by deterministic hash
    (md5 % {K} — the dataset_holdout_split sampler generalized from 2
    to K ways) with the balance audit attached: each (fold, lang)
    cell's within-fold rate next to the language's global rate. Hash
    folding is UNstratified by construction, so the audit is the
    check that it was good enough — cells where fold_rate strays from
    global_rate are where per-fold metrics will be noisy, and the
    cue to switch to the stratified sampler (sample_stratified_hash)
    for small classes.

    100 TB shape: fold assignment is a per-row expression; one
    partial-agg'd groupBy to K x |langs| cells; the rate windows run
    over that bounded table."""
    d = table(spark, sf_dir, "documents")
    folds = d.select(
        (
            md5_long(F.concat(F.lit("fold|"), F.col("doc_id").cast("string")))
            % _KFOLD_K
        ).alias("fold"),
        "lang",
    )
    cells = folds.groupBy("fold", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wf = Window.partitionBy("fold")
    wl = Window.partitionBy("lang")
    wg = Window.partitionBy()
    return cells.select(
        "fold",
        "lang",
        "n",
        round_half_up(
            F.col("n").cast("double") / F.sum("n").over(wf), 4
        ).alias("fold_rate"),
        round_half_up(
            F.sum("n").over(wl).cast("double") / F.sum("n").over(wg), 4
        ).alias("global_rate"),
    )


# ---- WebDataset-style shard manifest -------------------------------------

# target shard payload (chars stand in for bytes on this fixture); the
# greedy rule assigns each doc to shard floor(exclusive-prefix / target):
# a shard closes once the running payload crosses the next target
# multiple, so payloads hover around the target (a shard straddled by
# one oversized doc can leave its successor thin — the tar-writer
# behavior this mirrors)
_SHARD_TARGET_BYTES = 2000


@register(
    "webdataset_shard_manifest",
    oracle=f"""
    WITH p AS (
      SELECT source, doc_id, n_chars,
             coalesce(sum(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prefix_bytes
      FROM documents
    )
    SELECT source,
           CAST(prefix_bytes // {_SHARD_TARGET_BYTES} AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS shard_bytes,
           CAST(min(doc_id) AS BIGINT) AS first_doc_id,
           CAST(max(doc_id) AS BIGINT) AS last_doc_id
    FROM p GROUP BY source, shard_id
    """,
)
def webdataset_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset/tar-shard manifest planning: assign documents to
    fixed-payload training shards (greedy, order-preserving within each
    source) and emit the manifest rows a shard writer would consume —
    doc count, payload bytes, and the contiguous id range per shard.
    The greedy rule is the prefix-sum formulation (shard =
    exclusive-prefix // target), which is exactly how a sequential
    writer fills tars — but expressed as one window so it distributes;
    contiguity of each shard's id range is inherent (the manifest's
    first/last columns make it auditable downstream).

    100 TB shape: per-source ordered prefix sum — no global sort, one
    shuffle on source; the manifest output is |shards| rows (~bytes /
    target), thousands of times smaller than the corpus. Skewed
    sources bound one task each, the known cost of order-preserving
    packing (the hash-sharded pack_sequences_greedy is the
    order-free alternative)."""
    d = table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("prefix_bytes"),
    )
    return (
        p.groupBy(
            "source",
            F.floor(F.col("prefix_bytes") / _SHARD_TARGET_BYTES)
            .cast("bigint")
            .alias("shard_id"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("shard_bytes"),
            F.min("doc_id").cast("bigint").alias("first_doc_id"),
            F.max("doc_id").cast("bigint").alias("last_doc_id"),
        )
    )


# ---- class-balanced downsampling -----------------------------------------


@register(
    "class_balance_downsample",
    oracle="""
    WITH m AS (
      SELECT min(cnt) AS m FROM (
        SELECT lang, count(*) AS cnt FROM documents GROUP BY lang
      )
    ),
    r AS (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                         doc_id ASC) AS rn
      FROM documents
    )
    SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn
    FROM r, m WHERE r.rn <= m.m
    """,
)
def class_balance_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps EXACTLY as
    many documents as the rarest language has — the strict-balance
    regime for classifier training (the per-class twin of
    domain_quota_sample's fixed cap, with a data-dependent cap).
    Selection is md5-hash order per class, so the kept set is
    deterministic, partitioning-independent, and stable across
    engines; the cap itself is a one-row aggregate broadcast into the
    rank filter, never a driver round-trip.

    100 TB shape: class counts are one map-side-combined aggregation;
    ranking partitions by class (a skewed majority class bounds one
    task — and rows past the cap short-circuit at the window
    operator); the scalar min joins in by broadcast."""
    d = table(spark, sf_dir, "documents")
    m = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("m"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    r = d.select(
        "lang", "doc_id", F.row_number().over(w).alias("rn")
    )
    return (
        r.crossJoin(F.broadcast(m))
        .filter(F.col("rn") <= F.col("m"))
        .select("lang", "doc_id", F.col("rn").cast("bigint").alias("rn"))
    )


# ---- largest-remainder apportionment -------------------------------------

_APPORTION_K = 10_000  # total sample slots to distribute


@register(
    "largest_remainder_apportion",
    oracle=f"""
    WITH c AS (
      SELECT source, count(*) AS cnt FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(cnt) AS n FROM c),
    q AS (
      SELECT source, cnt,
             ({_APPORTION_K} * cnt) // n AS base,
             {_APPORTION_K} * cnt - (({_APPORTION_K} * cnt) // n) * n
               AS rem_scaled
      FROM c, tot
    ),
    s AS (
      SELECT *, row_number() OVER (ORDER BY rem_scaled DESC, source ASC)
               AS rk,
             (SELECT {_APPORTION_K} - sum(base) FROM q) AS extra
      FROM q
    )
    SELECT source, CAST(cnt AS BIGINT) AS cnt,
           CAST(base AS BIGINT) AS base_alloc,
           CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM s
    """,
)
def largest_remainder_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed sample
    budget across sources: proportional floor shares first, then the
    leftover slots go to the largest scaled remainders — the method
    that guarantees Σ alloc == K EXACTLY, which proportional rounding
    does not (mix_token_allocation's floor shares can under-spend the
    budget; this entry closes that gap deterministically, source-name
    tiebreak). All arithmetic is integer: remainders are compared as
    K·cnt mod N, never as float fractions.

    100 TB shape: runs entirely on the |sources|-row histogram — the
    corpus is touched once for counts; ranking |sources| rows is
    noise."""
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    tot = c.agg(F.sum("cnt").alias("n"))
    k = F.lit(_APPORTION_K)
    # integral `div`, not floor(a / b): the double quotient can land an
    # ULP below an exact integer and floor() one short of the oracle's
    # bigint // — operands here are positive, where div == floor
    q = (
        c.crossJoin(F.broadcast(tot))
        .withColumn("scaled", k * F.col("cnt"))
        .withColumn("base", F.expr("scaled div n").cast("bigint"))
        .select(
            "source",
            "cnt",
            "base",
            (F.col("scaled") - F.col("base") * F.col("n")).alias(
                "rem_scaled"
            ),
        )
    )
    extra = q.agg((k - F.sum("base")).alias("extra"))
    w = Window.orderBy(F.desc("rem_scaled"), F.asc("source"))
    return (
        q.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(extra))
        .select(
            "source",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("base").cast("bigint").alias("base_alloc"),
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc"),
        )
    )


# --------------------------------------------------------------------------
# c-TF-IDF: class-based top terms per cluster
# --------------------------------------------------------------------------


@register(
    "ctfidf_cluster_terms",
    oracle=f"""
    WITH toks AS (
      {_duck_terms("lang")}
    ),
    tf AS (SELECT lang, term, count(*) AS tf FROM toks GROUP BY lang, term),
    cdf AS (SELECT term, count(DISTINCT lang) AS cdf FROM tf GROUP BY term),
    nc AS (SELECT count(DISTINCT lang) AS n FROM tf),
    scored AS (
      SELECT tf.lang, tf.term, tf.tf,
             CAST(tf.tf * (nc.n + 1) * 10000 // (cdf.cdf + 1) AS BIGINT)
               AS score_scaled
      FROM tf JOIN cdf USING (term), nc
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY score_scaled DESC, term ASC)
               AS rn
      FROM scored
    )
    SELECT lang, term, CAST(tf AS BIGINT) AS tf, score_scaled, rn
    FROM ranked WHERE rn <= 5
    """,
)
def ctfidf_cluster_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c-TF-IDF (class-based TF-IDF, the BERTopic topic-labeling
    statistic): treat each language as one aggregate "class document",
    score terms by in-class frequency down-weighted by how many
    classes contain them, and keep each class's top 5 — the automatic
    label for any clustering (swap lang for a kmeans/community
    assignment and the plan is unchanged). Same integer-rational IDF
    discipline as the per-document tfidf_topk_terms: tf·(N+1)·10^4
    div (cdf+1), bigint division end to end, zero float ordering
    anywhere.

    100 TB shape: the class-term matrix (|classes| x vocab) is the
    only shuffled state, already map-side combined; class-document
    frequencies fold over that matrix, not the corpus. Ranking
    partitions by class — WindowGroupLimit keeps the top-5 heap
    per class."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(tokenize_words_nonempty(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    cdf = tf.groupBy("term").agg(F.count_distinct("lang").alias("cdf"))
    nc = tf.agg(F.count_distinct("lang").alias("n"))
    scored = (
        tf.join(cdf, "term")
        .crossJoin(F.broadcast(nc))
        .select(
            "lang",
            "term",
            "tf",
            F.expr("tf * (n + 1) * 10000 div (cdf + 1)")
            .cast("bigint")
            .alias("score_scaled"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("score_scaled"), F.asc("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "lang", "term", F.col("tf").cast("bigint").alias("tf"),
            "score_scaled", "rn",
        )
    )
