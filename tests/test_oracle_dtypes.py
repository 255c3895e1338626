"""Guard against the DuckDB HUGEINT → pandas float64 oracle class.

The external driver compares Spark and DuckDB results through pandas.
DuckDB's integer ``sum()`` (grouped or windowed) widens to HUGEINT,
which pandas renders as float64 (``1435.0``) while the Spark twin
emits int64 (``1435``) — numerically identical, hash-different. This
cost two red driver rows across r01/r02 (flagship_words,
sessionize_events) before the oracles gained ``CAST(... AS BIGINT)``.

The exact invariant (verified against duckdb 1.x + pyspark 4.1
behavior): for a column the Spark plan types as integral, DuckDB's
pandas rendering may be float64 ONLY when the column actually contains
NULLs — because then Spark's own ``toPandas`` also widens to float64
and the two sides agree. A float64 rendering with zero NULLs means an
uncast HUGEINT (or a gratuitous float) and WILL hash-red at the
driver, even though the fetchall()-based local compare (tests/
compare.py) can't see it.

Cheap by construction: DuckDB runs every oracle at sf0.001; Spark only
provides the analyzed schema (no job, except the few eager-checkpoint
entries whose construction executes by design).
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)


@pytest.mark.slow
def test_no_uncast_hugeint_in_any_oracle(spark, duck, sf_dir):
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    offenders: list[str] = []
    for name, sql in oracles.items():
        schema = qs[name](spark, sf_dir).schema
        pdf = duck.execute(sql).df()
        for f in schema.fields:
            if not isinstance(f.dataType, _INTEGRAL):
                continue
            col = pdf[f.name]
            if str(col.dtype) == "float64" and not col.isna().any():
                offenders.append(
                    f"{name}.{f.name}: Spark={f.dataType.simpleString()} "
                    f"but DuckDB renders float64 with no NULLs "
                    f"(uncast integer sum()? add CAST(... AS BIGINT))"
                )
    assert not offenders, "\n".join(offenders)
