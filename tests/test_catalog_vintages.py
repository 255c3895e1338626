"""catalog.table must yield IDENTICAL TIMESTAMP_NTZ event times for
both shipped fixture vintages (int64 TIMESTAMP(NANOS) and plain
TIMESTAMP(MICROS)) under ANY session time zone.

The r12 finding (tools/partition_invariance_audit.py, TZ-perturbation
arm): the nanos branch lowered through
``timestamp_micros(..).cast("timestamp_ntz")`` — TIMESTAMP_LTZ in the
middle, and LTZ→NTZ renders the instant in the SESSION zone. On any
cluster whose zone isn't UTC, every nanos-vintage event shifted by the
zone offset while the DuckDB oracle read the same bytes as naive UTC
wall-clock. Latent-only locally (committed fixtures are micros-vintage
and this container runs UTC); a guaranteed wrong answer on a non-UTC
production cluster. Fixed with NTZ-pure arithmetic
(``timestampadd(MICROSECOND, ..., TIMESTAMP_NTZ epoch)``).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tiny_etl_multiproc_bigdata_spark.catalog import table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR),
    reason=f"fixture source dir missing: {SF_DIR}",
)


def _collect_ts(spark, sf_dir: str, tz: str):
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        rows = (
            table(spark, sf_dir, "events")
            .select("event_id", "ts")
            .orderBy("event_id")
            .limit(50)
            .collect()
        )
        return [(r.event_id, r.ts) for r in rows]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


def test_nanos_vintage_is_zone_free_and_matches_micros(
    spark, nanos_events_dir
):
    # micros vintage (the committed fixture) under UTC is the truth:
    # naive wall-clock exactly as the bytes say, same as the oracle
    truth = _collect_ts(spark, SF_DIR, "Etc/UTC")
    assert truth, "fixture has no events"
    # the nanos vintage must reproduce it bit-for-bit under UTC...
    assert _collect_ts(spark, nanos_events_dir, "Etc/UTC") == truth
    # ...AND under a far-from-UTC DST-observing zone (the bug: these
    # came back shifted -9h pre-fix)
    assert _collect_ts(spark, nanos_events_dir, "America/Anchorage") == truth


def test_micros_vintage_is_zone_free(spark):
    assert _collect_ts(spark, SF_DIR, "America/Anchorage") == _collect_ts(
        spark, SF_DIR, "Etc/UTC"
    )


def test_nanos_ts_type_is_ntz(spark, nanos_events_dir):
    from pyspark.sql.types import TimestampNTZType

    df = table(spark, nanos_events_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampNTZType)


def test_nanos_preepoch_parity(spark, tmp_path):
    """Pre-epoch sub-microsecond nanos: Spark's `ts div 1000` truncates
    toward zero, and so does DuckDB's native TIMESTAMP(NANOS)→micros
    parquet read (-1500ns → -1µs, -999ns → 0µs — verified r13). Parity
    is the bar, so trunc — not floor — is the correct lowering; this
    pins the two engines byte-identical on every sign/boundary case
    (r12 ADVICE item 3)."""
    import datetime

    import duckdb

    ns_vals = [-1500, -1001, -1000, -999, -1, 0, 1, 999, 1000, 1500]
    t = pa.table(
        {
            "event_id": pa.array(range(len(ns_vals)), type=pa.int64()),
            "ts": pa.array(ns_vals, type=pa.timestamp("ns")),
        }
    )
    d = tmp_path / "preepoch"
    d.mkdir()
    pq.write_table(t, str(d / "events.parquet"))

    rows = (
        table(spark, str(d), "events")
        .orderBy("event_id")
        .collect()
    )
    got_spark = [(r.event_id, r.ts) for r in rows]

    con = duckdb.connect()
    got_duck = con.execute(
        "SELECT event_id, ts FROM read_parquet(?) ORDER BY event_id",
        [str(d / "events.parquet")],
    ).fetchall()
    con.close()

    assert got_spark == got_duck
    # and the boundary values are the trunc-toward-zero ones, so the
    # assertion can't pass vacuously if both engines changed together
    by_id = dict(got_spark)
    epoch = datetime.datetime(1970, 1, 1)
    assert by_id[0] == epoch - datetime.timedelta(microseconds=1)  # -1500ns
    assert by_id[4] == epoch  # -1ns truncates to 0, not floor(-1µs)
    assert by_id[7] == epoch  # 999ns
