"""Central query registry backing ``__spark_entry__.py``.

Every operator from SURVEY.md §2 (plus the training-data-pipeline
extensions) registers a named query callable and, when SQL-expressible,
a DuckDB oracle twin. The driver hash-compares them at sf0.01; entries
without an oracle get a weaker rows-only check (streaming/stateful ops).

``queries()``, ``oracle_sql()`` and ``query_metadata()`` iterate in
sorted name order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None = None
    # Entry documents a 1-ULP JVM-vs-libm transcendental tolerance
    # (log/log2 feeding a quantized output). The driver's comparator is
    # an exact value hash; flagged entries are therefore compared with
    # the SAME exact float semantics by the local gate
    # (tests/test_correctness.py) instead of its default 12-significant-
    # digit normalization — so a fixture vintage landing on a rounding
    # boundary goes red locally, with a pointed message, before the
    # driver ever sees it. This makes the docstring tolerance policy
    # mechanical (ADVICE r05 item 3).
    ulp_sensitive: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None = None, ulp_sensitive: bool = False
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(fn, oracle, ulp_sensitive)
        return fn

    return deco


def _load_all() -> None:
    # Import for side effect: each module registers its queries.
    from tiny_etl_multiproc_bigdata_spark.plans import (  # noqa: F401
        advanced,
        collections,
        corpus_ops,
        curation,
        dedup_groups,
        dedup_queries,
        extras,
        flagship,
        generators,
        graph_ops,
        ivf_kmeans,
        maintenance,
        quality,
        reference_ops,
        relational,
        scale_patterns,
        sql_surface,
        stat_tests,
        temporal_joins,
        text_queries,
        tpch_extra,
        training_ops,
        vector_queries,
        windows,
    )
    from tiny_etl_multiproc_bigdata_spark.operators import (  # noqa: F401
        grouped_pandas,
        multimodal,
    )
    from tiny_etl_multiproc_bigdata_spark.sources import (  # noqa: F401
        files,
        python_datasource,
    )
    from tiny_etl_multiproc_bigdata_spark.streaming import jobs  # noqa: F401


def queries() -> dict[str, QueryFn]:
    _load_all()
    out = {}
    for name in sorted(REGISTRY):
        spec = REGISTRY[name]
        # Attribute-tag the callable so a driver that only sees
        # queries() can consume the tolerance policy without a side
        # channel (VERDICT r06 item 7): ulp_sensitive entries document
        # a 1-ULP JVM-vs-libm transcendental tolerance and should be
        # compared float-exact (or with >=1-ulp slack), not through a
        # fixed significant-digit normalization.
        spec.fn.spark_graft_meta = {
            "ulp_sensitive": spec.ulp_sensitive,
            "has_oracle": spec.oracle is not None,
        }
        out[name] = spec.fn
    return out


def query_metadata() -> dict[str, dict]:
    """Per-entry comparison metadata for the driver (VERDICT r06 item
    7): ``ulp_sensitive`` marks entries whose oracle agreement is exact
    only up to 1 ULP of a quantized transcendental (log/log2) — a
    fixture vintage landing on a 0.5-microbit boundary is a tolerance
    event, not a wrong answer. ``has_oracle`` distinguishes full
    value-hash entries from rows-only-by-design ones."""
    _load_all()
    return {
        name: {
            "ulp_sensitive": REGISTRY[name].ulp_sensitive,
            "has_oracle": REGISTRY[name].oracle is not None,
        }
        for name in sorted(REGISTRY)
    }


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {
        name: REGISTRY[name].oracle
        for name in sorted(REGISTRY)
        if REGISTRY[name].oracle is not None
    }
