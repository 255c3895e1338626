"""Order-insensitive Spark-vs-DuckDB comparison harness, mirroring the
driver's t2 check (row count + column names + sorted value hash).

Used by tests/test_correctness.py over every (queries, oracle_sql) pair
so oracle drift is caught locally before the driver runs.
"""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb

from tiny_etl_multiproc_bigdata_spark.catalog import TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v, exact_floats: bool = False):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if exact_floats:
            # driver-exact semantics: any bit difference is a mismatch
            return v
        # round-trip through repr at 12 significant digits: tolerant of
        # last-ulp accumulation differences, strict beyond that
        return float(f"{v:.12g}")
    if isinstance(v, int):
        return int(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x, exact_floats) for x in v)
    return v


def canon(rows, colnames, exact_floats: bool = False):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm(r[i], exact_floats) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return sorted(colnames), out


def first_difference(a_rows: list, b_rows: list) -> tuple[int, tuple, tuple] | None:
    """``(i, a_row, b_row)`` at the first index where two canonical row
    lists differ, or None when they agree over their common length."""
    for i, (a, b) in enumerate(zip(a_rows, b_rows)):
        if a != b:
            return i, a, b
    return None


def compare(
    spark_df,
    con: duckdb.DuckDBPyConnection,
    sql: str,
    exact_floats: bool = False,
    counts: dict | None = None,
) -> list[str]:
    """Return a list of mismatch descriptions (empty == match).

    ``exact_floats=True`` mirrors the driver's exact value hash (no
    12-significant-digit normalization) — used for registry entries
    flagged ``ulp_sensitive`` so any cross-engine transcendental drift
    that would red the driver reds this local gate first. A ``counts``
    dict, when given, receives the ``spark`` and ``duckdb`` row counts.
    """
    problems: list[str] = []
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = list(spark_df.columns)
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = [tuple(r) for r in res.fetchall()]
    if counts is not None:
        counts.update(spark=len(s_rows), duckdb=len(d_rows))

    sc, sr = canon(s_rows, s_cols, exact_floats)
    dc, dr = canon(d_rows, d_cols, exact_floats)
    if sc != dc:
        problems.append(f"columns differ: spark={sc} duckdb={dc}")
        return problems
    if len(sr) != len(dr):
        problems.append(f"row count differs: spark={len(sr)} duckdb={len(dr)}")
    first = first_difference(sr, dr)
    if first is not None:
        i, a, b = first
        msg = f"first differing row #{i}: spark={a!r} duckdb={b!r}"
        if exact_floats:
            msg += (
                " [ulp_sensitive entry compared driver-exact: this is"
                " the documented 1-ULP JVM-vs-libm boundary landing —"
                " adjust the entry's quantization scale for this"
                " fixture vintage]"
            )
        problems.append(msg)
    return problems
