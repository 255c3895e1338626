"""Sentinel NULL-parity tests — the suite-sized slice of
tools/null_parity_audit.py
(the full 435-entry audit runs ~6 min and stays a tool; this pins one
representative entry per FIXED divergence class so a regression in any
class reds the board, and proves the harness itself keeps working).

Classes (r11 audit — see OPERATORS.md):
  ordering   — Spark ASC NULLS FIRST vs DuckDB ASC NULLS LAST
  mirror     — DESC-mirror rewrites need desc_nulls_first
  contract   — explicit symmetric IS NOT NULL input contracts
  kernel     — Python/Arrow kernels that crashed on NULL inputs
  null-group — representation of NULL groups ('' vs NULL, 3VL CASE,
               NOT IN vs anti-join, count(*) vs count(col))
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from compare import compare, duck_connect  # noqa: E402
from null_parity_audit import (  # noqa: E402
    SF_DIR,
    build_fixture,
    build_jsonedge_fixture,
    build_nonfinite_fixture,
    build_ragged_fixture,
    build_stuck_fixture,
    build_timeskew_fixture,
    build_unicode_fixture,
)

# build_fixture derives the spiked tables from the real sf0.001
# parquet; SF_DIR honors SPARK_GRAFT_TEST_SF_DIR like conftest.py
# (ADVICE r11) — skip cleanly when neither exists instead of erroring.
pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR),
    reason=f"fixture source dir missing: {SF_DIR}",
)

from tiny_etl_multiproc_bigdata_spark.plans.registry import (  # noqa: E402
    REGISTRY,
    _load_all,
)


def _parity_fixture(build):
    """A module-scoped ``(fixture dir, DuckDB connection)`` fixture over
    the spiked tables that ``build`` writes."""

    @pytest.fixture(scope="module")
    def fixture(tmp_path_factory):
        fix = str(tmp_path_factory.mktemp(build.__name__) / "fixture")
        build(fix)
        return fix, duck_connect(fix)

    return fixture


def _assert_parity(spark, fixture, name: str, spike: str) -> None:
    _load_all()
    fix, con = fixture
    spec = REGISTRY[name]
    assert spec.oracle is not None, f"{name} lost its oracle"
    problems = compare(spec.fn(spark, fix), con, spec.oracle, spec.ulp_sensitive)
    assert not problems, f"{name} diverges on {spike}: {problems}"


# one per fixed class, plus the two audit-era windows rewrites
SENTINELS = [
    "window_lag_lead",           # ordering
    "asof_next_purchase",        # mirror
    "sessionize_events",         # contract (batch event-time)
    "streaming_cusum_alert",     # contract + leading-NULL state machine
    "pandas_iter_udf_scoring",   # kernel (astype-on-NaN)
    "rolling_median_exact",      # kernel (element_at on empty frame)
    "locf_impute",               # null-group (3VL CASE polarity)
    "session_path_signatures",   # null-group ('' vs NULL path)
    "window_range_interval_frame",  # the class's original finding
    "pandas_api_merge_asof",     # widened-matrix finding
    # r12 NULL-ELEMENT matrix extension: an embedding with NULL
    # elements (partial decode; distinct from embedding-IS-NULL)
    # crash-diverged DuckDB's list_inner_product vs Spark's
    # NULL-propagating folds across 18 vector entries — fixed with the
    # symmetric complete-vector contract (functions/vectors.py). One
    # sentinel per fix shape: the shared-helper read and a PQ-tier
    # value mismatch (DuckDB list_sum SKIPS NULL terms, Spark's fold
    # NULL-propagates — a biased partial distance, not a crash).
    "vector_norm_stats",
    "pq_code_assign",
]


null_fixture = _parity_fixture(build_fixture)


@pytest.mark.parametrize("name", SENTINELS)
def test_null_parity_sentinel(spark, null_fixture, name):
    _assert_parity(spark, null_fixture, name, "NULL-spiked input")


# --- r13 matrix extensions: non-finite doubles and adversarial UTF-8 ---
#
# One sentinel per fixed class shape (same convention as SENTINELS):
#
# --nonfinite (functions/numerics.py grid-domain contract +
# functions/vectors.py finite-element widening) — 74 entries diverged
# three ways on a NaN/±Inf/1e308 double: Spark's ANSI CAST threw where
# DuckDB's ConversionException threw at different rows, DuckDB's
# stddev/corr raised Out-of-Range where Spark folded NaN, and Spark
# saturated CAST(±Inf AS BIGINT) to Long.MIN *inside aggregates* —
# silent corruption, pinned by embedding_label_centroids below.
#
# --unicode (functions/text.py::duck_jlower) — the engines' lowercase
# mappings differ on 71 codepoints; the realistic one is Turkish U+0130
# 'İ'. Any oracle that lowercased with a bare DuckDB lower() silently
# shifted its token strings, fingerprint md5s and simhashes: with the
# colliding pair "İi …" / "ii …" in the spike, 16 entries went red.
# Every oracle lower( now goes through duck_jlower
# (tests/test_twin_lint.py); one sentinel per oracle shape that had
# its own copy.
NONFINITE_SENTINELS = [
    "ohlc_daily_candles",          # quantizing scalar: ANSI-CAST crash class
    "welch_t_test_ab",             # stat tier: DuckDB stddev Out-of-Range class
    "embedding_label_centroids",   # silent Long.MIN saturation class
    "vector_norm_stats",           # finite-element vector contract
]
UNICODE_SENTINELS = [
    "text_fingerprint",            # fingerprint md5 silently shifted
    "dedup_simhash",               # bit-level hash silently shifted
    "a3_unique_filter",            # reference-ops normalization path
    "text_rarity_score",           # shared lowered-term CTE (training_ops)
    "dedup_minhash_lsh",           # shingle token arrays (dedup_queries)
    "tokenizer_vocab_coverage",    # unnested token array
    "two_stage_distinct",          # DISTINCT over lowered tokens
    "dedup_exact_normalized",      # md5 of the normalized token join
]


nonfinite_fixture = _parity_fixture(build_nonfinite_fixture)


unicode_fixture = _parity_fixture(build_unicode_fixture)


@pytest.mark.parametrize("name", NONFINITE_SENTINELS)
def test_nonfinite_parity_sentinel(spark, nonfinite_fixture, name):
    _assert_parity(spark, nonfinite_fixture, name, "non-finite input")


@pytest.mark.parametrize("name", UNICODE_SENTINELS)
def test_unicode_parity_sentinel(spark, unicode_fixture, name):
    _assert_parity(spark, unicode_fixture, name, "adversarial UTF-8")


def test_nonfinite_fixture_nonvacuous(nonfinite_fixture):
    """The spike must actually contain non-finite and out-of-grid
    values (guards against a future fixture edit silently defanging
    the sentinels)."""
    import math

    fix, con = nonfinite_fixture
    n_bad_vals = con.execute(
        "SELECT count(*) FROM events WHERE NOT "
        "(value > -9007199254.740992 AND value < 9007199254.740992)"
    ).fetchone()[0]
    assert n_bad_vals >= 5
    n_bad_vecs = con.execute(
        "SELECT count(*) FROM embeddings WHERE embedding IS NOT NULL AND "
        "length(list_filter(embedding, x -> x IS NULL OR NOT "
        "(x > -9007199254.740992 AND x < 9007199254.740992))) > 0"
    ).fetchone()[0]
    assert n_bad_vecs >= 4


def test_unicode_fixture_nonvacuous(unicode_fixture):
    """The spike must contain the İ casefold divergence trigger, and a
    document that a bare DuckDB lower() makes equal to another one."""
    fix, con = unicode_fixture
    n = con.execute(
        "SELECT count(*) FROM documents WHERE text LIKE '%İ%'"
    ).fetchone()[0]
    assert n >= 1
    n_colliding = con.execute(
        "SELECT count(*) FROM documents a JOIN documents b "
        "ON a.doc_id < b.doc_id AND a.text <> b.text "
        "AND lower(a.text) = lower(b.text) AND a.text LIKE '%İ%'"
    ).fetchone()[0]
    assert n_colliding >= 1


# --ragged (functions/vectors.py declared-dimension conjunct,
# EMBED_DIM) — a wrong-LENGTH vector with every element present and
# finite is the input the element contracts can't see: Spark's
# zip_with pads the shorter side with NULL (the fold dot product
# silently NULL-propagates and biases every downstream distance /
# top-k) while DuckDB's list_inner_product raises
# InvalidInputException — 24 entries diverged on ONE ragged row
# (18 crash-one-side, 6 silent-value).
RAGGED_SENTINELS = [
    "ann_bruteforce_topk",    # crash-one-side class (list_inner_product)
    "pq_code_assign",         # silent-value class (subvector slicing)
    "embedding_drift_centroids",  # Spark-side element_at index crash class
]


ragged_fixture = _parity_fixture(build_ragged_fixture)


@pytest.mark.parametrize("name", RAGGED_SENTINELS)
def test_ragged_parity_sentinel(spark, ragged_fixture, name):
    _assert_parity(spark, ragged_fixture, name, "ragged-dimension input")


def test_ragged_fixture_nonvacuous(ragged_fixture):
    """The spike must contain vectors of the wrong declared dimension
    (guards against a future fixture edit silently defanging the
    sentinels)."""
    fix, con = ragged_fixture
    n = con.execute(
        "SELECT count(*) FROM embeddings "
        "WHERE embedding IS NOT NULL AND len(embedding) <> 64"
    ).fetchone()[0]
    assert n >= 4


# --stuck (nullif-guarded denominators in the stat tier +
# windows.py half-life shift spelling) — DEGENERATE DISTRIBUTIONS:
# every value present, finite, in-grid; what's adversarial is the
# distribution (zero variance, n=1, sum=0, all-negative constants).
# Spark 4 ANSI raises DIVIDE_BY_ZERO on ANY x/0 where DuckDB's double
# division returns NULL — one flatlined group crashed the whole query
# on the Spark side only; and DuckDB's `//` truncates toward zero
# where `>>`/shiftright floor — the half-life decay silently differed
# by 1 cent-unit on every NEGATIVE (refund) constant group.
#
# --jsonedge (functions/jsonpath.py symmetric JSON-path contract) —
# adversarial events.props: Spark's get_json_object (Jackson) is
# lenient (malformed → NULL) but ANSI CAST throws on non-integer
# tokens; DuckDB's json_extract_string (yyjson) raises on malformed
# JSON outright and its TRY_CAST ROUNDS '2.5'→3 where Spark NULLs —
# crash-one-side both ways plus a silent ±1 bias, fixed by lenient
# extraction + integer-token-gated TRY semantics on both engines.
STUCK_SENTINELS = [
    "grouped_ols_trend",           # zero-variance denominator crash class
    "welch_t_test_ab",             # n=0 / n=1 / zero-pooled-variance class
    "half_life_weighted_revenue",  # negative-cents // vs >> silent class
]
JSONEDGE_SENTINELS = [
    "json_extract_scalar",   # strict-parser crash-one-side class
    "variant_shred_props",   # VARIANT strictness / duplicate-key first-wins
    "ransac_slope_fit",      # parsed-but-huge token exact-arith overflow
]


stuck_fixture = _parity_fixture(build_stuck_fixture)


jsonedge_fixture = _parity_fixture(build_jsonedge_fixture)


@pytest.mark.parametrize("name", STUCK_SENTINELS)
def test_stuck_parity_sentinel(spark, stuck_fixture, name):
    _assert_parity(spark, stuck_fixture, name, "degenerate groups")


@pytest.mark.parametrize("name", JSONEDGE_SENTINELS)
def test_jsonedge_parity_sentinel(spark, jsonedge_fixture, name):
    _assert_parity(spark, jsonedge_fixture, name, "adversarial JSON")


def test_stuck_fixture_nonvacuous(stuck_fixture):
    """The spike must contain a zero-variance multi-row group and a
    negative-constant group (guards against a future fixture edit
    silently defanging the sentinels)."""
    fix, con = stuck_fixture
    flat = con.execute(
        "SELECT count(*) FROM ("
        "  SELECT event_type FROM events GROUP BY event_type"
        "  HAVING count(*) >= 2 AND min(value) = max(value))"
    ).fetchone()[0]
    assert flat >= 1
    neg = con.execute(
        "SELECT count(*) FROM events WHERE value < 0 AND event_type = 'twin'"
    ).fetchone()[0]
    assert neg >= 2


# --timeskew (functions/timedomain.py: portable / kernel / streaming /
# observation time domains + epoch_us-exact oracle seconds and the
# epoch_us_ntz reconstruction helper) — EXTREME EVENT TIMES: a zeroed
# field (epoch exactly), a wrong-century parse (1890), a far-future
# sentinel (9999-12-31), a nanos-as-micros unit bug (year 57552), a
# pre-0001 negative. 35 entries diverged: Spark's client conversion
# crashes on beyond-datetime values where DuckDB degrades to VARCHAR;
# the oracles' double epoch() rounds the last second of 9999 across
# bucket/day boundaries; exact int64 cross-products overflow on
# multi-millennium spans; spine generators OOM on them; watermarks
# floor at the epoch and are poisoned by the far future; pandas
# kernels crash outside datetime64[ns]; and the old µs reconstruction
# double-counted pre-epoch fractions.
TIMESKEW_SENTINELS = [
    "ohlc_daily_candles",       # client date-conversion crash class
    "sessionize_events",        # epoch_us-exact trunc-seconds class
    "events_rolling_dau",       # double-epoch() day-rounding class
    "asof_next_purchase",       # µs-reconstruction idiom class
    "grouped_ols_trend",        # span-quadratic overflow / obs window
    pytest.param(               # spine-explosion / obs window
        "time_series_densify", marks=pytest.mark.slow
    ),
    "streaming_tumbling_counts",       # stream domain + time_bucket
    "streaming_stateful_counter",      # pandas datetime64[ns] kernel
    "streaming_stream_stream_left_outer",  # strict epoch floor
]


timeskew_fixture = _parity_fixture(build_timeskew_fixture)


@pytest.mark.parametrize("name", TIMESKEW_SENTINELS)
def test_timeskew_parity_sentinel(spark, timeskew_fixture, name):
    _assert_parity(spark, timeskew_fixture, name, "extreme timestamps")


def test_timeskew_fixture_nonvacuous(timeskew_fixture):
    """The spike must contain a beyond-datetime instant (the unit-bug
    year-57552 row and a pre-0001 row), the epoch-zero row and the
    last representable second of 9999 — the four boundary triggers."""
    fix, con = timeskew_fixture
    beyond = con.execute(
        "SELECT count(*) FROM events WHERE ts IS NOT NULL AND "
        "(ts > TIMESTAMP '9999-12-31 23:59:59.999999'"
        " OR ts < TIMESTAMP '0001-01-01')"
    ).fetchone()[0]
    assert beyond >= 2
    edges = con.execute(
        "SELECT count(*) FROM events WHERE "
        "ts = TIMESTAMP '1970-01-01 00:00:00' OR "
        "ts = TIMESTAMP '9999-12-31 23:59:59.999999'"
    ).fetchone()[0]
    assert edges >= 2


def test_jsonedge_fixture_nonvacuous(jsonedge_fixture):
    """The spike must contain malformed JSON, a duplicate-key row and
    a float-valued $.k (the TRY_CAST-rounding trigger)."""
    fix, con = jsonedge_fixture
    malformed = con.execute(
        "SELECT count(*) FROM events "
        "WHERE props IS NOT NULL AND NOT json_valid(props)"
    ).fetchone()[0]
    assert malformed >= 3
    special = con.execute(
        "SELECT count(*) FROM events WHERE props IN "
        "('{\"k\": 1, \"k\": 2}', '{\"k\": 2.5}')"
    ).fetchone()[0]
    assert special == 2
