"""Golden tests for the scalar function library — including the Arabic
paths (SURVEY §7 risk register), which the Latin fixture corpus cannot
exercise positively."""

from __future__ import annotations

from pyspark.sql import functions as F

# From the reference's own target corpus (any Arabic text with
# diacritics works; these use the exact 8 marks of
# example/arabic_transformers.py:30).
ARABIC_WITH_DIACS = "بِسْمِ اللَّهِ الرَّحْمَـٰنِ الرَّحِيمِ"
MIXED = "hello يَكْتُبُ world 123 وَ test"


def test_remove_diac_strips_exactly_eight_marks(spark):
    from tiny_etl_multiproc_bigdata_spark.functions.text import (
        ARABIC_DIACRITICS,
        remove_diac,
    )

    assert len(ARABIC_DIACRITICS) == 8
    df = spark.createDataFrame([(ARABIC_WITH_DIACS,)], ["t"])
    out = df.select(remove_diac("t").alias("s")).collect()[0].s
    for mark in ARABIC_DIACRITICS:
        assert mark not in out
    # letters preserved
    assert "بسم" in out.replace(" ", "")[:3]


def test_arabic_tokenizer_extracts_words(spark):
    from tiny_etl_multiproc_bigdata_spark.operators.pipeline import tokenize_arabic

    df = spark.createDataFrame([(MIXED,)], ["text"])
    words = [r.w for r in tokenize_arabic("text", "w")(df).collect()]
    # Latin text and digits never match the class
    assert words and all(not any(c.isascii() for c in w) for w in words)
    assert "يَكْتُبُ" in words and "وَ" in words


def _basename_backwards_lambda(c, depth: int):
    """The interpreted-lambda lowering, verbatim (functions/text.py @ 445c2b3)."""
    parts = F.filter(F.split(c, "/"), lambda x: x != "")
    start = F.greatest(F.lit(1), F.size(parts) - F.lit(depth - 1))
    return F.array_join(F.slice(parts, start, depth), "/")


def test_basename_backwards(spark):
    from tiny_etl_multiproc_bigdata_spark.functions.text import basename_backwards

    # Expectations traced through the reference implementation
    # (commons.py:138-161): xN aliases pass N+1, so x4 → depth 5 keeps
    # 5 segments; dirname normalization drops empty segments.
    df = spark.createDataFrame(
        [("/a/b/c/d/e.txt",), ("x.txt",), ("/q/r/s/t/u/v.txt",), ("/a",)], ["p"]
    )
    out = [r.s for r in df.select(basename_backwards("p", 5).alias("s")).collect()]
    assert out == ["a/b/c/d/e.txt", "x.txt", "r/s/t/u/v.txt", "a"]
    out2 = [r.s for r in df.select(basename_backwards("p", 3).alias("s")).collect()]
    assert out2 == ["c/d/e.txt", "x.txt", "t/u/v.txt", "a"]

    # array_remove equals the interpreted-lambda lowering it replaced,
    # on empty segments, the bare root, the empty string, NULL and a
    # path deeper than any depth
    twelve = "/" + "/".join(f"s{i}" for i in range(12)) + ".txt"
    paths = ["//a//b/", "/", "", None, twelve, "/a/b/c/d/e.txt", "x.txt", "a//b"]
    df = spark.createDataFrame([(p,) for p in paths], "p string")
    for depth in (3, 5):
        rows = df.select(
            basename_backwards(F.col("p"), depth).alias("new"),
            _basename_backwards_lambda(F.col("p"), depth).alias("old"),
        ).collect()
        assert [r.new for r in rows] == [r.old for r in rows], depth
    by_path = dict(zip(paths, (r.new for r in rows)))  # depth 5
    assert by_path["//a//b/"] == "a/b"
    assert by_path["/"] == "" and by_path[""] == "" and by_path[None] is None
    assert by_path[twelve] == "s7/s8/s9/s10/s11.txt"


def test_truncate_and_overflow(spark):
    from tiny_etl_multiproc_bigdata_spark.functions.text import (
        len_str_gt,
        truncate_str,
    )

    long = "x" * 300
    df = spark.createDataFrame([(long,), ("short",)], ["t"])
    rows = df.select(
        truncate_str("t", 255).alias("t255"),
        len_str_gt("t", 255).alias("over"),
    ).collect()
    assert len(rows[0].t255) == 254 and rows[0].over is True
    assert rows[1].t255 == "short" and rows[1].over is False


def test_cosine_similarity_exact(spark):
    from tiny_etl_multiproc_bigdata_spark.functions.vectors import cosine_similarity

    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])], ["a", "b"])
    out = [r.c for r in df.select(cosine_similarity(F.col("a"), F.col("b")).alias("c")).collect()]
    assert abs(out[0] - 0.0) < 1e-12 and abs(out[1] - 1.0) < 1e-12


def test_stable_hash_matches_python_md5(spark):
    import hashlib

    from tiny_etl_multiproc_bigdata_spark.functions.hashing import md5_long

    df = spark.createDataFrame([("hello world",)], ["t"])
    got = df.select(md5_long(F.col("t")).alias("h")).collect()[0].h
    assert got == int(hashlib.md5(b"hello world").hexdigest()[:15], 16)


def test_word_ngrams_edges(spark):
    from tiny_etl_multiproc_bigdata_spark.functions.text import word_ngrams
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(["a", "b", "c", "d"],), (["a", "b"],), (["a"],), ([],)],
        "toks array<string>",
    )
    for n, expected in [
        (2, [["a b", "b c", "c d"], ["a b"], [], []]),
        (3, [["a b c", "b c d"], [], [], []]),
        (4, [["a b c d"], [], [], []]),
    ]:
        got = [r.g for r in df.select(word_ngrams(F.col("toks"), n).alias("g")).collect()]
        assert got == expected, (n, got)


def test_compression_ratio_invariants(spark, sf_dir):
    """doc_compression_ratio is rows-only (zlib has no SQL twin); pin
    its invariants instead: bounds, determinism across runs, and
    monotonicity — repeated text must compress strictly better than
    the same tokens in high-entropy arrangement."""
    from tiny_etl_multiproc_bigdata_spark.plans.quality import (
        doc_compression_ratio,
    )

    rows = {
        r.doc_id: r for r in doc_compression_ratio(spark, sf_dir).collect()
    }
    assert rows, "no output"
    for r in rows.values():
        assert r.n_bytes > 0 and r.n_compressed > 0
        # zlib adds a small header; ratio can nudge past 1 only for
        # tiny/incompressible docs
        assert 0.0 < r.compression_ratio < 1.5
    again = {
        r.doc_id: r for r in doc_compression_ratio(spark, sf_dir).collect()
    }
    assert rows.keys() == again.keys()
    assert all(
        rows[k].n_compressed == again[k].n_compressed for k in rows
    ), "zlib output not deterministic across runs"

    # monotonicity probe on synthetic docs through the same plan shape
    rep = ("spark " * 200).strip()
    mixed = " ".join(f"tok{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, rep), (2, mixed)], ["doc_id", "text"]
    )
    import zlib

    r_rep = len(zlib.compress(rep.encode(), 6)) / len(rep.encode())
    r_mix = len(zlib.compress(mixed.encode(), 6)) / len(mixed.encode())
    assert r_rep < r_mix, "repetition must compress better"
