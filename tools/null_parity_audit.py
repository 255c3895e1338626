"""NULL-injection differential audit — the instrument version of the
r11 `window_range_interval_frame` null-safe-join finding.

That bug's CLASS: a lowering that computes per-row results and hands
them back through an equi-join on columns the oracle's semantics keep
as NULL groups (window PARTITION BY / ORDER BY, GROUP BY) silently
drops NULL-keyed rows — and stays green forever on the NULL-free
driver fixtures. Hand-auditing every join-back is hopeless at 435
entries; this tool finds the class mechanically:

  1. build a fixture dir that is sf0.001 verbatim EXCEPT events /
     documents / embeddings get a handful of NULL-spiked rows (every
     nullable column, alone and in combination, appended with the
     exact pyarrow schema so physical types survive);
  2. run EVERY oracle-paired registry entry on Spark AND DuckDB over
     that same dir and diff with the driver's comparator
     (tests/compare.py — row count + columns + normalized values);
  3. report ok / MISMATCH / error per entry.

PARITY is the bar, not "handles NULLs gracefully": if both engines
drop a NULL row the same way (e.g. an inner join key), that's green —
only behavioral DIVERGENCE between the engine and its own declared
oracle is a finding. Entries without an oracle are smoke-run
(.count()) to catch NULL-input crashes.

The relational TPC-H tables are NOT spiked: their columns are NOT NULL
by spec, so NULL behavior there is not a contract anyone holds.

    python tools/null_parity_audit.py             # full board, NULL spikes
    python tools/null_parity_audit.py name1 ...   # just these entries
    python tools/null_parity_audit.py --empty     # zero-row tables instead
                                                  # (the empty-date-slice
                                                  # robustness board)
    python tools/null_parity_audit.py --nonfinite # NaN/±Inf/extreme doubles
                                                  # (r13 matrix extension)
    python tools/null_parity_audit.py --unicode   # adversarial UTF-8 text
                                                  # (r13 matrix extension)
    python tools/null_parity_audit.py --ragged    # wrong-dimension vectors
                                                  # (r13 matrix extension)
    python tools/null_parity_audit.py --stuck     # degenerate distributions
                                                  # (r13 matrix extension)
    python tools/null_parity_audit.py --jsonedge  # adversarial JSON props
                                                  # (r13 matrix extension)
    python tools/null_parity_audit.py --timeskew  # extreme event times
                                                  # (r13 matrix extension)
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))

import pyarrow as pa
import pyarrow.parquet as pq

from _guard import sweep

# Same override tests/conftest.py honors (ADVICE r11): the spiked
# fixture derives from the real sf0.001 tables, so point both at the
# same place on machines where /root/testdata does not exist.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
WATCHDOG_S = 120

_TS = datetime.datetime(2021, 6, 15, 12, 0, 0)


def _spiked_events() -> list[dict]:
    """NULLs in every nullable column, alone and combined. event_ids
    continue past the fixture's range so spikes never collide."""
    base = dict(
        event_id=0, ts=_TS, user_id=7, event_type="click", value=1.5, props="{}"
    )
    out = []
    combos = [
        {"ts": None},
        {"event_type": None},
        {"value": None},
        {"user_id": None},
        {"props": None},
        {"ts": None, "event_type": None},
        {"ts": None, "value": None},
        {"event_type": None, "value": None},
        {"user_id": None, "event_type": None},
        {"ts": None, "user_id": None, "event_type": None, "value": None,
         "props": None},
        # duplicates of a NULL key — NULL groups with >1 member
        {"event_type": None},
        {"ts": None},
        # NULL keys on the event types entries FILTER on (the asof
        # family keeps purchase rows and scans signup/click context —
        # a NULL-ts click alone never reaches their output)
        {"ts": None, "event_type": "purchase"},
        {"ts": None, "event_type": "signup"},
        {"value": None, "event_type": "purchase"},
        {"user_id": None, "event_type": "purchase"},
        # NULL-user CONTEXT rows (review of the r11 audit): without a
        # NULL-user signup/click, a by-key window that wrongly groups
        # NULL users has no right-side rows to mis-match, so the
        # divergence class stays invisible (found live in
        # _ps_merge_asof_backward)
        {"user_id": None, "event_type": "signup"},
        {"user_id": None, "event_type": "click"},
        # an all-NULL-value group: kernels that build typed output
        # from min/max of a group's values must not infer a null
        # Arrow column
        {"value": None, "event_type": "refund"},
        {"value": None, "event_type": "refund"},
    ]
    for i, combo in enumerate(combos):
        row = dict(base, event_id=1_000_000 + i)
        row.update(combo)
        # vary the non-null values a little so aggregates are non-trivial
        if row["value"] is not None:
            row["value"] = 1.5 + i
        if row["ts"] is not None:
            row["ts"] = _TS + datetime.timedelta(hours=i)
        out.append(row)
    return out


def _spiked_documents() -> list[dict]:
    base = dict(doc_id=0, text="the quick brown fox", lang="en",
                source="src0", n_chars=19)
    combos = [
        {"text": None},
        {"lang": None},
        {"source": None},
        {"n_chars": None},
        {"text": None, "lang": None, "source": None, "n_chars": None},
        {"source": None},
    ]
    out = []
    for i, combo in enumerate(combos):
        row = dict(base, doc_id=1_000_000 + i)
        row.update(combo)
        out.append(row)
    return out


def _spiked_embeddings() -> list[dict]:
    out = [
        {"vec_id": 1_000_000, "embedding": None, "label": 3},
        {"vec_id": 1_000_001, "embedding": [0.5] * 64, "label": None},
        {"vec_id": 1_000_002, "embedding": None, "label": None},
        # NULL ELEMENTS inside a non-NULL array (r12 matrix extension
        # per the standing obligation): schema-legal (list<element:
        # float> is element-nullable) and the realistic shape of a
        # partially-failed decode at corpus scale — a DIFFERENT class
        # from embedding-IS-NULL, exercising element-wise kernels
        # (F.aggregate/zip_with dot products, Arrow-batched numpy
        # paths, PQ code assignment) where one NULL term must not
        # silently zero/crash while the oracle's list arithmetic
        # NULL-propagates.
        {
            "vec_id": 1_000_003,
            "embedding": [0.5] * 32 + [None] + [0.25] * 31,
            "label": 3,
        },
    ]
    return out


def _nonfinite_events() -> list[dict]:
    """--nonfinite mode: NaN / ±Inf / extreme-magnitude doubles in
    events.value — the realistic shape of sensor glitches, log-parse
    artifacts, and divide-by-zero upstreams at corpus scale. Scouted
    divergence classes (r13): DuckDB's stddev/corr family raises
    Out-of-Range on ±Inf where Spark folds to NaN (crash-one-side,
    same shape as r12's list_inner_product); Spark's floor(NaN)
    silently yields BIGINT 0 where DuckDB keeps NaN then errors on
    the cast (silent-bias vs crash); double→string renders 'NaN'/
    'Infinity' vs 'nan'/'inf'."""
    nan, inf = float("nan"), float("inf")
    base = dict(
        event_id=0, ts=_TS, user_id=7, event_type="click", value=1.5, props="{}"
    )
    combos = [
        # on the event type most entries FILTER on, and on context types
        {"value": nan, "event_type": "purchase"},
        {"value": inf, "event_type": "purchase"},
        {"value": -inf, "event_type": "purchase"},
        {"value": nan, "event_type": "click"},
        {"value": inf, "event_type": "click"},
        {"value": nan, "event_type": "signup"},
        {"value": nan, "event_type": "refund"},
        # two huge same-sign values in ONE group: their SUM overflows
        # to +Inf even though every input is finite-representable
        {"value": 1e308, "event_type": "purchase", "user_id": 11},
        {"value": 1e308, "event_type": "purchase", "user_id": 11},
        {"value": -1e308, "event_type": "refund", "user_id": 12},
        {"value": -1e308, "event_type": "refund", "user_id": 12},
        # duplicate NaN in one group — NaN-normalizing aggs see >1
        {"value": nan, "event_type": "purchase", "user_id": 13},
        {"value": nan, "event_type": "purchase", "user_id": 13},
    ]
    out = []
    for i, combo in enumerate(combos):
        row = dict(base, event_id=2_000_000 + i)
        row.update(combo)
        row["ts"] = _TS + datetime.timedelta(hours=i)
        out.append(row)
    return out


def _nonfinite_embeddings() -> list[dict]:
    """Non-finite ELEMENTS inside schema-legal vectors (float32 holds
    NaN/±Inf) — the partial-decode shape one step past the r12 NULL
    element: a failed normalization writes NaN, an overflowed dot
    writes Inf. A NaN distance is not a ranking value, so the contract
    question is the same one r12 answered for NULL elements."""
    nan, inf = float("nan"), float("inf")
    return [
        {"vec_id": 2_000_000,
         "embedding": [0.5] * 20 + [nan] + [0.25] * 43, "label": 3},
        {"vec_id": 2_000_001,
         "embedding": [0.5] * 20 + [inf] + [0.25] * 43, "label": 2},
        {"vec_id": 2_000_002,
         "embedding": [0.5] * 20 + [-inf] + [0.25] * 43, "label": 1},
        {"vec_id": 2_000_003, "embedding": [nan] * 64, "label": 3},
        # finite but float32-huge: pairwise products overflow float32
        # (3e38² ≫ f32 max) — engines differ in WHERE they widen
        {"vec_id": 2_000_004,
         "embedding": [3e38] * 64, "label": 2},
    ]


def _unicode_documents() -> list[dict]:
    """--unicode mode: adversarial-but-valid-UTF-8 text — the realistic
    web-corpus shapes (astral plane, ZWJ emoji, combining marks, Arabic
    diacritics, case-mapping edge cases, NBSP, RTL marks, NUL bytes).
    Scouted divergence classes (r13): upper('ß') = 'STRASSE' (Java)
    vs 'STRAẞE' (utf8proc); lower('İ') keeps the combining dot in Java
    but not DuckDB; reverse() is codepoint-wise in Spark but
    grapheme-aware in DuckDB."""
    texts = [
        "a\U0001d11eb clef",                       # astral codepoint
        "é́x combining acutes",         # stacked combining marks
        "\U0001f469‍\U0001f4bb codes daily",  # ZWJ emoji sequence
        "العَرَبِيَ"
        "ّة text",                       # Arabic with diacritics
        "straße lang",                        # sharp s casing
        "Iıİi turkish",                  # dotted/dotless I
        "a b c nbsp words",              # NBSP between words
        "abc‏def rtl mark",                   # RTL mark
        "a\x00b nul byte",                         # embedded NUL
        "中文" * 40,                       # long CJK, no spaces
        # a colliding pair: lowered the engine's way the first document
        # keeps a combining dot, so its tokens differ from the second's;
        # a bare DuckDB lower() makes the two identical
        "İi beta gamma collide",
        "ii beta gamma collide",
    ]
    out = []
    for i, text in enumerate(texts):
        out.append({
            "doc_id": 3_000_000 + i,
            "text": text,
            # unicode in the GROUPING keys too (lang/source join and
            # group paths), including a case-mapping-sensitive value
            "lang": "tr" if i % 3 == 0 else ("İd" if i % 3 == 1 else "ar"),
            "source": f"srcß{i % 2}",
            "n_chars": len(text),
        })
    return out


def _unicode_events() -> list[dict]:
    base = dict(
        event_id=0, ts=_TS, user_id=7, event_type="click", value=1.5, props="{}"
    )
    combos = [
        {"event_type": "purchase", "props": '{"note": "straße"}'},
        {"event_type": "purchase", "props": '{"emoji": "\U0001f469‍\U0001f4bb"}'},
        {"event_type": "click", "props": '{"ar": "عَرَب"}'},
        {"event_type": "signup", "props": '{"nul": "a\\u0000b"}'},
    ]
    out = []
    for i, combo in enumerate(combos):
        row = dict(base, event_id=3_000_000 + i)
        row.update(combo)
        row["ts"] = _TS + datetime.timedelta(hours=i)
        out.append(row)
    return out


def _ragged_embeddings() -> list[dict]:
    """--ragged mode: wrong-DIMENSION vectors — the input class the
    r12 (NULL element) and r13 (non-finite element) contracts DON'T
    catch: every element present and finite, but the vector is not
    64-dimensional. Realistic at corpus scale: a truncated decode, a
    model-version mix (384-dim rows in a 768-dim corpus), an empty
    array from a failed embed call. Scouted divergence (r13): Spark's
    ``zip_with`` pads the SHORTER side with NULL, so the aggregate-fold
    dot product silently NULL-propagates (then NULL-biases every
    downstream distance/top-k), while DuckDB's ``list_inner_product``
    raises InvalidInputException ("list dimensions must be equal") —
    silent-bias on one side, crash on the other, from ONE bad row."""
    return [
        # one dimension short — the truncated-decode shape
        {"vec_id": 4_000_000, "embedding": [0.5] * 63, "label": 3},
        # one dimension long — the concatenation-bug shape
        {"vec_id": 4_000_001, "embedding": [0.25] * 65, "label": 2},
        # empty array (NOT NULL — a failed embed call that wrote [])
        {"vec_id": 4_000_002, "embedding": [], "label": 1},
        # degenerate 1-dim — maximal length skew for norm/centroid paths
        {"vec_id": 4_000_003, "embedding": [1.0], "label": 3},
    ]


def _stuck_events() -> list[dict]:
    """--stuck mode: DEGENERATE DISTRIBUTIONS — the stuck-sensor /
    constant-series shape, ubiquitous at 100 TB (a monitor that
    flatlines, a group with one row, an all-zero counter). Every value
    is present, finite, in-grid and unremarkable; what's adversarial
    is the DISTRIBUTION: zero variance, n=1, sum=0. Scouted divergence
    classes (r13): Spark 4 ANSI raises DIVIDE_BY_ZERO on ANY x/0
    (integral or double) where DuckDB returns NULL — an unguarded
    z-score/correlation denominator takes down the WHOLE query on one
    flat group; DuckDB raises Out-of-Range on sqrt(-epsilon)/ln(0)
    where Spark yields NaN/NULL silently — a hand-rolled variance that
    goes negative-epsilon under float rounding crashes only the
    oracle."""
    base = dict(
        event_id=0, ts=_TS, user_id=0, event_type="stuck", value=7.25,
        props="{}",
    )
    out = []
    eid = 5_000_000
    # (a) a flatlined series: one NEW event_type, many rows, ONE value
    #     (zero variance at the event_type grain; also a new
    #     user_id-grain flat group via user_id=999001)
    for i in range(24):
        out.append(dict(base, event_id=eid, user_id=999001,
                        ts=_TS + datetime.timedelta(minutes=7 * i)))
        eid += 1
    # (b) a single-row group (n=1: every (n-1) denominator is zero)
    out.append(dict(base, event_id=eid, event_type="lonely",
                    user_id=999002, value=3.5)); eid += 1
    # (c) exactly two identical rows (n=2, variance 0, n-1=1)
    for i in range(2):
        out.append(dict(base, event_id=eid, event_type="twin",
                        user_id=999003, value=-2.0,
                        ts=_TS + datetime.timedelta(hours=i))); eid += 1
    # (d) an all-ZERO group (sum=0 denominators, ln(0) paths)
    for i in range(6):
        out.append(dict(base, event_id=eid, event_type="zeroed",
                        user_id=999004, value=0.0,
                        ts=_TS + datetime.timedelta(hours=i))); eid += 1
    return out


def _jsonedge_events() -> list[dict]:
    """--jsonedge mode: ADVERSARIAL JSON in events.props — the
    realistic log-pipeline shapes (truncated write, unquoted keys,
    leading zeros, overflow literals, duplicate keys, lone
    surrogates). Scouted divergence (r13): Spark's get_json_object
    (Jackson, lenient) returns NULL for malformed JSON while DuckDB's
    json_extract_string (yyjson, strict) raises InvalidInputException
    — ONE truncated row crashes the oracle side of every
    props-parsing entry; on '{"k": 1e999}' Spark renders '"Infinity"'
    (quoted) vs DuckDB 'Infinity'."""
    base = dict(
        event_id=0, ts=_TS, user_id=7, event_type="click", value=1.5,
        props="{}",
    )
    combos = [
        '{"k": ',                      # truncated mid-write
        '{k: 1}',                      # unquoted key
        '{"k": 01}',                   # leading-zero number
        'not json at all',             # free text in a JSON column
        '',                            # empty string (not NULL)
        '{"k": 1, "k": 2}',            # duplicate key
        '{"k": 9007199254740993}',     # beyond double-exact integers
        '{"k": 1e999}',                # overflow literal
        '{"k": 2.5}',                  # float value (DuckDB TRY_CAST
                                       # ROUNDS '2.5'->3; Spark NULLs)
        '{"k": 1e3}',                  # exponent integer (renders
                                       # '1000.0' via double on both)
        '{"k": "12"}',                 # quoted number (usable, =12)
        '{"k": " 1 "}',                # padded quoted number (trim)
        '[1, 2]',                      # array at the root
        'null',                        # JSON null at the root
    ]
    out = []
    for i, props in enumerate(combos):
        out.append(dict(base, event_id=6_000_000 + i, props=props,
                        ts=_TS + datetime.timedelta(hours=i)))
    return out


def _timeskew_events() -> list[dict]:
    """--timeskew mode: EXTREME EVENT TIMES — the realistic clock /
    unit corruption shapes of a 100 TB log pipeline: a zeroed field
    (epoch exactly), a wrong-century parse (1890), a far-future
    sentinel (9999-12-31), a nanos-written-as-micros unit bug
    (year 57552), a pre-0001 value (negative overflow). Scouted
    divergence (r13): both engines COMPUTE on all of these (micros
    int64 spans ±292k years), but the beyond-datetime values (year
    >9999 or <1) CRASH Spark's driver/Arrow conversion at collect
    (`ValueError: year 57552 is out of range`) while DuckDB silently
    degrades the same cell to a VARCHAR rendering — crash-one-side
    for every entry that returns a ts-derived column, and a silent
    watermark poison for streaming (one year-57552 event advances the
    watermark past every honest row)."""
    base = dict(
        event_id=0, ts=_TS, user_id=11, event_type="click", value=2.5,
        props="{}",
    )
    epoch = datetime.datetime(1970, 1, 1)
    combos = [
        ("zeroed", epoch),                                # zeroed field
        ("wrongcentury", datetime.datetime(1890, 1, 20, 3, 4, 5, 123456)),
        ("yearone", datetime.datetime(1, 1, 2, 0, 0, 0)),
        ("farfuture", datetime.datetime(9999, 12, 31, 23, 59, 59, 999999)),
        ("unitbug", 1_754_000_000_000_000_000),           # ns written as us
        ("preone", -62_225_836_800_000_000),              # ~year 1 BC
    ]
    out = []
    for i, (_, ts) in enumerate(combos):
        out.append(dict(base, event_id=7_000_000 + i, ts=ts))
    return out


def _append_spikes(dst: str, spikes: dict[str, list[dict]]) -> None:
    """Copy the fixture verbatim, appending the given spike rows on the
    SAME physical schema (pandas metadata stripped so e.g.
    timestamp[us] survives verbatim). A timestamp-typed field accepts
    either a datetime (years 1..9999 — the Python limit) or a raw int
    of epoch MICROS (the --timeskew arm's beyond-datetime values, e.g.
    year 57552 from a nanos-written-as-micros unit bug)."""
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents",
                 "embeddings"):
        if name not in spikes:
            shutil.copy(f"{SF_DIR}/{name}.parquet", f"{dst}/{name}.parquet")
            continue
        src = pq.read_table(f"{SF_DIR}/{name}.parquet")
        schema = pa.schema([src.schema.field(i) for i in range(len(src.schema))])
        cols = {}
        for f in schema:
            vals = [r[f.name] for r in spikes[name]]
            if pa.types.is_timestamp(f.type) and any(
                isinstance(v, int) for v in vals
            ):
                epoch = datetime.datetime(1970, 1, 1)
                us = datetime.timedelta(microseconds=1)
                cols[f.name] = pa.array(
                    [v if v is None or isinstance(v, int)
                     else (v - epoch) // us for v in vals],
                    type=pa.int64(),
                ).cast(f.type)
            else:
                cols[f.name] = vals
        spike = pa.table(cols, schema=schema)
        out = pa.concat_tables([src.cast(schema), spike])
        pq.write_table(out, f"{dst}/{name}.parquet")


def build_fixture(dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    _append_spikes(dst, {
        "events": _spiked_events(),
        "documents": _spiked_documents(),
        "embeddings": _spiked_embeddings(),
    })


def build_nonfinite_fixture(dst: str) -> None:
    """--nonfinite mode: sf0.001 verbatim + NaN/±Inf/extreme spikes in
    the double-typed surfaces (events.value, embedding elements). The
    TPC-H tables and documents are NOT spiked: decimals can't hold NaN
    and text carries no doubles."""
    os.makedirs(dst, exist_ok=True)
    _append_spikes(dst, {
        "events": _nonfinite_events(),
        "embeddings": _nonfinite_embeddings(),
    })


def build_unicode_fixture(dst: str) -> None:
    """--unicode mode: sf0.001 verbatim + adversarial UTF-8 spikes in
    the string surfaces (documents.text/lang/source, events.event_type
    /props). TPC-H tables are NOT spiked (ASCII by spec)."""
    os.makedirs(dst, exist_ok=True)
    _append_spikes(dst, {
        "documents": _unicode_documents(),
        "events": _unicode_events(),
    })


def build_empty_fixture(dst: str) -> None:
    """--empty mode: every table schema-identical but ZERO rows — the
    shape of an empty date-slice / fresh partition at 100 TB. Stresses
    a different failure set than the NULL spikes: global aggregates
    (one row with NULL/0 in SQL vs whatever the lowering collects),
    driver-side .first() guards, element_at over empty collects,
    percentile bounds on no data."""
    os.makedirs(dst, exist_ok=True)
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents",
                 "embeddings"):
        # schema-only read: no reason to deserialize data pages just
        # to slice them away (metadata stripped like build_fixture)
        src_schema = pq.read_schema(f"{SF_DIR}/{name}.parquet")
        schema = pa.schema(
            [src_schema.field(i) for i in range(len(src_schema))]
        )
        pq.write_table(schema.empty_table(), f"{dst}/{name}.parquet")


# --empty mode only: engine-level semantic deviations on ZERO-row
# input that are documented rather than worked around (each would
# need a count-then-union plan distortion to paper over):
#
# - Spark's rollup/cube/grouping-sets emit NO rows over empty input,
#   dropping even the global () grouping set, where the SQL standard
#   (and DuckDB) aggregate the empty input to one grand-total row —
#   verified directly: df.rollup(a).count() -> [] vs groupBy() -> [0].
# - DataFrame.transpose derives its output COLUMNS from the data, so
#   an empty summary frame transposes to a key-only schema while the
#   oracle's static F/O/P columns exist regardless — the documented
#   contract of a data-dependent-schema API.
# value = (expected-result-prefix, reason): the mask applies ONLY when
# the failure matches the documented signature — any OTHER failure in
# these entries (crash, wrong per-key values) still reds the board.
_KNOWN_EMPTY_DEVIATIONS: dict[str, tuple[str, str]] = {
    "agg_rollup": (
        "MISMATCH: row count differs: spark=0 duckdb=",
        "Spark rollup omits the () grouping set on empty input",
    ),
    "agg_cube": (
        "MISMATCH: row count differs: spark=0 duckdb=",
        "Spark cube omits the () grouping set on empty input",
    ),
    "time_grouping_sets_rollup": (
        "MISMATCH: row count differs: spark=0 duckdb=",
        "Spark grouping-sets omit the () grouping set on empty input",
    ),
    "transpose_status_metrics": (
        "MISMATCH: columns differ:",
        "transpose derives columns from data; empty input has none",
    ),
}


def build_ragged_fixture(dst: str) -> None:
    """--ragged mode: sf0.001 verbatim + wrong-dimension vectors in
    embeddings.embedding (every element present and finite — ONLY the
    length is adversarial). Other tables are NOT spiked: embeddings is
    the sole array-typed surface."""
    os.makedirs(dst, exist_ok=True)
    _append_spikes(dst, {
        "embeddings": _ragged_embeddings(),
    })


def build_stuck_fixture(dst: str) -> None:
    """--stuck mode: sf0.001 verbatim + degenerate-distribution groups
    in events (flatlined series, single-row group, all-zero group).
    Only events is spiked: it is the sole measurement surface."""
    os.makedirs(dst, exist_ok=True)
    _append_spikes(dst, {
        "events": _stuck_events(),
    })


def build_jsonedge_fixture(dst: str) -> None:
    """--jsonedge mode: sf0.001 verbatim + adversarial JSON in
    events.props (the only JSON-typed surface)."""
    os.makedirs(dst, exist_ok=True)
    _append_spikes(dst, {
        "events": _jsonedge_events(),
    })


def build_timeskew_fixture(dst: str) -> None:
    """--timeskew mode: sf0.001 verbatim + extreme event times in
    events.ts (the only event-time surface)."""
    os.makedirs(dst, exist_ok=True)
    _append_spikes(dst, {
        "events": _timeskew_events(),
    })


_MODES = {
    "--empty": build_empty_fixture,
    "--nonfinite": build_nonfinite_fixture,
    "--unicode": build_unicode_fixture,
    "--ragged": build_ragged_fixture,
    "--stuck": build_stuck_fixture,
    "--jsonedge": build_jsonedge_fixture,
    "--timeskew": build_timeskew_fixture,
}


def main() -> None:
    args = sys.argv[1:]
    flags = [a for a in args if a.startswith("--")]
    unknown = [a for a in flags if a not in _MODES]
    if unknown:
        raise SystemExit(
            f"unknown flag(s): {unknown}; supported: {sorted(_MODES)}"
        )
    if len(flags) > 1:
        raise SystemExit(f"pick ONE mode, got {flags}")
    empty_mode = "--empty" in flags
    build = _MODES[flags[0]] if flags else build_fixture
    only = set(a for a in args if not a.startswith("--"))
    from compare import compare, duck_connect  # tests/compare.py

    from tiny_etl_multiproc_bigdata_spark.plans.registry import (
        REGISTRY,
        _load_all,
    )
    from tiny_etl_multiproc_bigdata_spark.session import get_spark

    _load_all()
    bad_names = sorted(only - set(REGISTRY))
    if bad_names:
        raise SystemExit(f"not registry entries: {bad_names}")
    scratch = tempfile.mkdtemp(prefix="null_audit_")
    fix = os.path.join(scratch, "fixture")
    build(fix)
    con = duck_connect(fix)

    def check(spark, name: str) -> str:
        spec = REGISTRY[name]
        df = spec.fn(spark, fix)
        if spec.oracle is None:
            df.count()
            return "ok (rows-only)"
        problems = compare(df, con, spec.oracle, spec.ulp_sensitive)
        return "ok" if not problems else "MISMATCH: " + "; ".join(problems)[:400]

    def new_session():
        return get_spark(app_name="null-parity-audit")

    names = [n for n in sorted(REGISTRY) if not only or n in only]
    t_all = time.time()
    results: dict[str, str] = {}
    for name, o in sweep(new_session, names, "nullaudit", WATCHDOG_S, check).items():
        r = o.value if o.status == "ok" else f"{o.status}: {repr(o.error)[:300]}"
        if o.restarted:
            r = f"{r[:200]} [KILLED SESSION — restarted]"
        results[name] = r

    if empty_mode:
        for n, (sig, why) in _KNOWN_EMPTY_DEVIATIONS.items():
            if n in results and results[n].startswith(sig):
                results[n] = f"ok (known empty-input deviation: {why})"
    ok = sum(1 for v in results.values() if v.startswith("ok"))
    bad = {n: v for n, v in results.items() if not v.startswith("ok")}
    print(f"TOTAL {time.time() - t_all:.1f}s; {ok} ok, {len(bad)} non-ok", flush=True)
    print("NON-OK:", json.dumps(bad, indent=1, sort_keys=True), flush=True)
    new_session().stop()
    shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
