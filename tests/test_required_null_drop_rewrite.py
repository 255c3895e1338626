"""``p8_required_null_drop`` parses each row's JSON once: its old
lowering, kept verbatim, let the optimizer push ``json_bigint`` into the
``na.drop`` filter and evaluate it again in the projection."""

from __future__ import annotations

import pytest
from conftest import TWO_SFS

from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.jsonpath import json_bigint
from tiny_etl_multiproc_bigdata_spark.plans.reference_ops import p8_required_null_drop


def _p8_two_parse_lowering(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    return (
        e.select(
            "event_id",
            json_bigint("props", "$.k").alias("k"),
        )
        .na.drop(subset=["event_id", "k"])
    )


def _json_parses(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("get_json_object(")


@pytest.mark.parametrize("sf_dir", TWO_SFS)
def test_p8_matches_two_parse_lowering(spark, sf_dir):
    got = sorted(map(tuple, p8_required_null_drop(spark, sf_dir).collect()))
    want = sorted(map(tuple, _p8_two_parse_lowering(spark, sf_dir).collect()))
    assert got == want
    assert len(got) > 0


def test_p8_parses_json_once(spark, sf_dir):
    assert _json_parses(_p8_two_parse_lowering(spark, sf_dir)) == 2
    assert _json_parses(p8_required_null_drop(spark, sf_dir)) == 1
