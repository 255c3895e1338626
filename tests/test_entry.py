"""Driver-contract tests for __spark_entry__.py: entry() must delegate
to the registry flagship at the driver-supplied scale (the r01 red
flagship hash traced to entry() and the oracle silently running at
different sfs)."""

from __future__ import annotations

import importlib
import sys


def _entry_module():
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    return importlib.reload(E)


def test_entry_respects_sf_dir_env(spark, monkeypatch):
    E = _entry_module()
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    small = E.entry(spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    mid = E.entry(spark)
    assert small.schema == mid.schema
    # different corpora must actually be read (not a cached scale)
    assert small.agg({"words_count": "sum"}).collect()[0][0] != (
        mid.agg({"words_count": "sum"}).collect()[0][0]
    )


def test_query_metadata_contract():
    """query_metadata() (VERDICT r06 item 7) must cover every queries()
    entry, agree with the registry's ulp/oracle flags, and be mirrored
    as an attribute on each callable."""
    E = _entry_module()
    from tiny_etl_multiproc_bigdata_spark.plans.registry import REGISTRY

    q, o, m = E.queries(), E.oracle_sql(), E.query_metadata()
    assert set(m) == set(q)
    for name, meta in m.items():
        assert meta == {
            "ulp_sensitive": REGISTRY[name].ulp_sensitive,
            "has_oracle": REGISTRY[name].oracle is not None,
        }
        assert meta["has_oracle"] == (name in o)
        assert q[name].spark_graft_meta == meta
    # the flag is load-bearing: the registry has both kinds of entry
    assert any(v["ulp_sensitive"] for v in m.values())
    assert any(not v["has_oracle"] for v in m.values())
    # all three accessors iterate in sorted name order
    assert list(q) == sorted(REGISTRY)
    assert list(m) == list(q)
    assert list(o) == [n for n in q if n in o]
    # the fixed surface: 435 entries, 429 with an oracle, 6 rows-only
    assert len(q) == 435
    assert len(o) == 429
    assert sum(not v["has_oracle"] for v in m.values()) == 6


def test_entry_default_matches_registry_flagship(spark, monkeypatch):
    E = _entry_module()
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    q = E.queries()
    assert set(E.oracle_sql()) <= set(q)
    # default scale contract: sf0.01, same result as the registry callable
    a = E.entry(spark).collect()
    b = q["flagship_words"](spark, "/root/testdata/sf0.01").collect()
    assert sorted(a) == sorted(b)
