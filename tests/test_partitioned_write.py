"""Partitioned parquet write + partition-pruned read-back: the storage
layout primitive for 100 TB datasets (hive-style partition dirs; a
filter on the partition column must prune at planning, not scan)."""

from __future__ import annotations

import contextlib
import io
import os

from pyspark.sql import functions as F


def test_partitioned_write_and_pruned_read(spark, sf_dir, tmp_path):
    from tiny_etl_multiproc_bigdata_spark.catalog import table

    out = str(tmp_path / "events_by_type")
    e = table(spark, sf_dir, "events")
    e.write.partitionBy("event_type").mode("overwrite").parquet(out)

    # hive-style layout on disk
    dirs = sorted(d for d in os.listdir(out) if d.startswith("event_type="))
    assert len(dirs) >= 2, dirs

    back = spark.read.parquet(out)
    one_type = dirs[0].split("=", 1)[1]
    q = back.filter(F.col("event_type") == one_type).select("event_id")

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and one_type in plan, plan

    # correctness: pruned read equals source-side filter
    expected = e.filter(F.col("event_type") == one_type).count()
    assert q.count() == expected


def test_nested_leaf_pruning(spark, sf_dir):
    """The nested_field_pruning_agg readback must push leaf selection
    into the parquet scan: ReadSchema carries only meta.priority and
    meta.money.cents — never odate/custkey/status."""
    import re

    from tiny_etl_multiproc_bigdata_spark.plans.registry import queries
    from tiny_etl_multiproc_bigdata_spark.sources.files import staging_root

    import contextlib
    import io

    import os

    from pyspark.sql import functions as F

    # run the entry once to stage the nested layout, then examine the
    # raw read plan (the entry itself returns a checkpointed snapshot,
    # whose plan no longer shows the scan)
    queries()["nested_field_pruning_agg"](spark, sf_dir)
    data_dir = os.path.join(staging_root(sf_dir, "nested"), "data")
    df = spark.read.parquet(data_dir).select(
        F.col("meta.priority"), F.col("meta.money.cents")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"ReadSchema: struct<([^\n]*)", plan)
    assert m, plan
    schema = m.group(1)
    assert "priority" in schema and "cents" in schema, schema
    for leaked in ("odate", "custkey", "status"):
        assert leaked not in schema, (
            f"nested pruning regressed: scan reads {leaked}: {schema}"
        )
