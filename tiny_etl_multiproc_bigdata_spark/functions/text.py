"""Text scalar helpers (reference commons.py:138-173,
example/arabic_transformers.py:20,27-30) as Column expressions.

The reference implements these as per-row Python callables run inside
worker processes; here each is a Catalyst expression so it fuses into
whole-stage codegen and never leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Exact 8-codepoint diacritic set from the reference
# (example/arabic_transformers.py:30) — kept verbatim, NOT a Unicode
# property class, to preserve parity.
ARABIC_DIACRITICS = "َّ ِ ُ ْ ً ٌ ٍ".replace(" ", "")

# Exact Arabic letter class from example/arabic_transformers.py:20.
ARABIC_LETTER_CLASS = r"[َُِْـًٌٍّؤائءآىإأبتثجحخدذرزسشصضطظعغفقكلمنهـوي]+"


def truncate_str(col: Column | str, width: int) -> Column:
    """``truncate_str_255`` / ``truncate_str_270`` (reference
    commons.py:163-167): keep at most ``width - 1`` characters."""
    return F.substring(F.col(col) if isinstance(col, str) else col, 1, width - 1)


def len_str_gt(col: Column | str, limit: int) -> Column:
    """``len_str_gt_255`` / ``len_str_gt_270`` (reference
    commons.py:169-173): True when the string exceeds ``limit`` chars."""
    return F.length(F.col(col) if isinstance(col, str) else col) > F.lit(limit)


def basename_backwards(col: Column | str, depth: int) -> Column:
    """``basename_backwards_x{2,3,4}`` (reference commons.py:138-161):
    keep the last ``depth`` path segments of a '/'-separated path.

    Parity note: the reference's ``basename_backwards_xN`` aliases call
    ``basename_backwards(path, N + 1)`` (commons.py:154-161 — x2 → 3
    segments, x3 → 4, x4 → 5), so callers mirroring an ``xN`` helper
    must pass ``depth = N + 1`` (ADVICE r01). The reference also clamps
    ``backwards_level`` to ≥2; no call-site here passes depth < 2.

    Reference walks ``os.path.basename``/``dirname`` repeatedly — which
    drops empty segments (leading '/', doubled slashes) via dirname
    normalization — so empty segments are removed before slicing. Here
    it is split + array_remove + slice + join, all codegen'd builtins
    (``split`` never yields a NULL element, so ``array_remove(…, "")``
    drops exactly the empty segments and keeps the order, as an
    interpreted ``filter(…, x -> x != "")`` lambda would).
    """
    c = F.col(col) if isinstance(col, str) else col
    parts = F.array_remove(F.split(c, "/"), "")
    start = F.greatest(F.lit(1), F.size(parts) - F.lit(depth - 1))
    return F.array_join(F.slice(parts, start, depth), "/")


def remove_diac(col: Column | str) -> Column:
    """Arabic diacritic removal (example/arabic_transformers.py:27-30):
    8 chained ``str.replace`` calls become one ``translate``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, ARABIC_DIACRITICS, "")


def remove_chars(col: Column | str, chars: str) -> Column:
    """``remove_chars`` hook of the tokenizers (reference text.py:31-33)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, chars, "")


def tokenize_words(col: Column | str, pattern: str = r"\s+") -> Column:
    """Token array for ``TextWordTokenizerTransformer`` (reference
    text.py:43-71): ``re.split(pattern, text)``.

    Parity note (SURVEY §7): ``re.split`` keeps leading/trailing empty
    tokens and the reference's ``ignore_word_fn=str.isspace`` does NOT
    drop them (``''.isspace()`` is False) — so empty edge tokens are
    counted. Spark's ``split`` with limit=-1 has the same edge behavior;
    do not "clean" the output or the conservation invariant breaks.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, pattern, -1)


def tokenize_words_nonempty(col: Column | str) -> Column:
    """Lowercased whitespace tokens with empty edge tokens dropped —
    the corpus-analysis variant (dedup, quality scoring). Reference-
    parity counting keeps the edge tokens; see tokenize_words."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(tokenize_words(F.lower(c)), lambda t: t != "")


def duck_jlower(expr: str) -> str:
    """DuckDB twin of the engine's ``F.lower`` for oracle SQL (r13
    unicode parity matrix, tools/null_parity_audit.py ``--unicode``).

    The engines' lowercase mappings differ on 71 codepoints (audited
    exhaustively over every assigned codepoint, r13): Spark/JVM carries
    the current Unicode simple+special mappings while DuckDB's utf8proc
    is a version behind and maps them to themselves. Seventy are
    rare-script letters (Vithkuqi, Garay, newer Latin additions) with
    no realistic corpus frequency; the seventy-first is Turkish
    U+0130 'İ', which is common web text — Spark lowers it to
    'i' + U+0307 COMBINING DOT ABOVE (the Unicode-correct result) while
    DuckDB yields bare 'i'. One İ silently shifts every downstream
    token string, chunk boundary, fingerprint md5 and simhash of an
    oracle that lowercases, so every oracle ``lower(`` goes through
    this twin (tests/test_twin_lint.py holds it there). It pre-maps İ
    on the oracle side so both engines produce the identical
    Unicode-correct lowercase; the 70 rare-script codepoints are
    accepted as a documented oracle skew (they cannot be enumerated
    into every SQL string; the audit spike pins İ, the realistic
    one)."""
    return f"lower(replace({expr}, 'İ', 'i' || chr(775)))"


# DuckDB twin of ``tokenize_words_nonempty("text")`` for oracle SQL:
# the token strings flow into output hashes, fingerprints and term
# columns, so the oracle lowers exactly like the engine (duck_jlower).
DUCK_TOKS = (
    r"list_filter(regexp_split_to_array("
    + duck_jlower("text")
    + r", '\s+'), t -> t <> '')"
)


def word_ngrams(tokens: Column, n: int) -> Column:
    """Contiguous word n-grams of a token array, space-joined.

    Built from n shifted ``slice``s folded pairwise with ``zip_with`` —
    NOT ``transform(sequence(...), i -> element_at(tokens, i))``: HOFs
    run interpreted, so each element_at would re-evaluate the whole
    token-array derivation, turning an O(tokens) row into
    O(tokens × ngrams). With slices the array is evaluated a constant
    number of times per row. Empty array when fewer than n tokens
    (a negative slice length would throw)."""
    m = F.size(tokens) - F.lit(n - 1)
    slices = [F.slice(tokens, i + 1, m) for i in range(n)]
    grams = slices[0]
    for s in slices[1:]:
        grams = F.zip_with(grams, s, lambda x, y: F.concat_ws(" ", x, y))
    return F.when(F.size(tokens) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )
