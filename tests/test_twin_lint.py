"""Twin lint: each DuckDB-side text and hash construction that the
oracles share has one home in ``functions/``.

Every registry oracle checks the engine against DuckDB, so each text
normalization and each stable hash is written twice: once as a Spark
Column, once as DuckDB SQL. A hand-written copy of the DuckDB half
drifts on its own. The copies of ``lower(`` drifted already: DuckDB
lowers Turkish 'İ' to a bare 'i' where Spark keeps the combining dot,
and only the oracles routed through ``functions/text.duck_jlower``
agreed with the engine on a document holding it.

* A package source file outside ``functions/`` must not spell out the
  md5 twin (``functions/hashing.duck_md5_long``) or the İ pre-map
  (``functions/text.duck_jlower``).
* Every ``lower(`` in a rendered oracle must be the ``duck_jlower``
  form. An exception belongs in ``_LOWER_OK`` only when the engine side
  of that oracle is not Spark's ``lower``, with the reason beside it.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / (
    "tiny_etl_multiproc_bigdata_spark"
)

_RAW_FORMS = (
    "'0x' || substr(md5(",  # functions/hashing.duck_md5_long
    "'İ', 'i' || chr(775)",  # functions/text.duck_jlower
)

# entry name -> why its oracle may lowercase with DuckDB's bare lower()
_LOWER_OK: dict[str, str] = {}

_LOWER = re.compile(r"(?<![a-zA-Z_.])(?:lower|lcase)\s*\(", re.I)
_PREMAP_TAIL = ", 'İ', 'i' || chr(775))"


def _close_paren(sql: str, open_at: int) -> int:
    """Index of the parenthesis closing the one at ``open_at``; quoted
    SQL string literals are skipped."""
    depth, quoted = 0, False
    for i in range(open_at, len(sql)):
        c = sql[i]
        if c == "'":
            quoted = not quoted
        elif not quoted and c == "(":
            depth += 1
        elif not quoted and c == ")":
            depth -= 1
            if depth == 0:
                return i
    return -1


def _bare_lowers(sql: str) -> list[str]:
    """The ``lower(`` calls of ``sql`` that are not
    ``lower(replace(<expr>, 'İ', 'i' || chr(775)))``."""
    bad = []
    for m in _LOWER.finditer(sql):
        inner = m.end()
        ok = sql.startswith("replace(", inner)
        if ok:
            end = _close_paren(sql, inner + len("replace"))
            ok = (
                end > 0
                and sql[: end + 1].endswith(_PREMAP_TAIL)
                and sql[end + 1 : end + 2] == ")"
            )
        if not ok:
            bad.append(sql[m.start() : m.start() + 60])
    return bad


def test_no_raw_twin_outside_functions():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path.parent.name == "functions":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if any(form in line for form in _RAW_FORMS):
                offenders.append(f"{path.relative_to(PKG.parent)}:{i}")
    assert not offenders, (
        "raw DuckDB twin outside functions/ (call duck_md5_long / "
        f"duck_jlower instead): {offenders}"
    )


def test_oracle_lower_is_duck_jlower():
    from tiny_etl_multiproc_bigdata_spark.plans.registry import (
        REGISTRY,
        _load_all,
    )

    _load_all()
    bare = {
        n: found
        for n, s in REGISTRY.items()
        if s.oracle and (found := _bare_lowers(s.oracle))
    }
    unjustified = {n: v for n, v in bare.items() if n not in _LOWER_OK}
    assert not unjustified, (
        "oracle lowercases without duck_jlower (Spark and DuckDB differ "
        f"on 'İ'): {unjustified}"
    )
    stale = set(_LOWER_OK) - set(bare)
    assert not stale, f"_LOWER_OK entries with no bare lower(): {sorted(stale)}"


def test_bare_lower_detector():
    """The detector flags every bare form and passes the twin's own."""
    from tiny_etl_multiproc_bigdata_spark.functions.text import (
        DUCK_TOKS,
        duck_jlower,
    )

    assert _bare_lowers(duck_jlower("trim(t.token)")) == []
    assert _bare_lowers(DUCK_TOKS) == []
    assert _bare_lowers(f"{duck_jlower('a')} || {duck_jlower('b')}") == []
    for sql in (
        "lower(text)",
        "SELECT LOWER(text)",
        "lcase(p_name)",
        "lower(replace(text, 'a', 'b'))",
        "lower(replace(text, 'İ', 'i' || chr(775)) || 'x')",
        "trim(lower (t.token))",
    ):
        assert _bare_lowers(sql), sql
