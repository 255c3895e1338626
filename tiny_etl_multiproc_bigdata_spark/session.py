"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the host's
``os.cpu_count()``) but every setting here is chosen to also hold on a
large multi-executor cluster:

* AQE on (runtime re-plan, partition coalescing, skew-join splitting) —
  at 100 TB the static ``shuffle.partitions`` guess is always wrong, AQE
  fixes it from observed map output sizes;
* broadcast threshold raised to 64 MiB so TPC-H-style dims (region,
  nation, supplier, date-like dims) never sort-merge;
* Arrow enabled so any Pandas-UDF fallback moves columnar batches, not
  pickled rows;
* session timezone pinned to UTC so event-time semantics are stable and
  oracle comparisons (DuckDB, naive timestamps) agree;
* Python workers start from ``worker_daemon``, which stops each task
  from re-reading the archives under ``SPARK_HOME``
  (``importlib.invalidate_caches()`` in pyspark's task set-up): an
  identity ``mapInArrow`` over 500 rows went from 340-360 to about
  200 ms median at ``local[2]`` on a 4-vCPU host (1-minute load 2),
  where a JVM-only projection takes about 100 ms. The package root joins
  ``spark.executorEnv.PYTHONPATH`` so workers can import that module.
  On a cluster the package must be importable on executors (installed,
  or shipped with ``--py-files``), as any PySpark app's modules are;
* ``spark.python.sql.dataFrameDebugging.enabled`` off: pyspark would
  otherwise record the Python call site of every ``F.*`` call over
  py4j. Building ``F.lower(F.col("x")) + i`` took 2.9 ms with it and
  0.9 ms without, and its first call imports IPython (0.26 s, 26 MB
  of peak RSS on the same host). Only the Python call-site line of
  DataFrame error context goes.

The last two reach only sessions built here: the test suite, ``bench.py``,
``perfbench`` and the tools other than ``tools/verify_queries.py``. The
driver contract's caller builds its own session: its workers keep
pyspark's stock daemon and its ``F.*`` calls still record their call site.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpus() -> int:
    try:
        return max(1, int(os.environ["SPARK_GRAFT_CPUS"]))
    except (KeyError, ValueError):
        return os.cpu_count() or 1


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as an int.

    Managed platforms may set it to a non-numeric value such as
    ``auto``; then the count falls back to the context's
    ``defaultParallelism`` (the total executor cores)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def get_spark(
    app_name: str = "tiny-etl-multiproc-bigdata-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster you would size it to ~2-3x total executor cores and let AQE
    coalesce — the configs below are identical either way.
    """
    cpus = _cpus()
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (conf.get("spark.executorEnv.PYTHONPATH"), _PACKAGE_ROOT) if p
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read as int64 nanos and convert in the catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.python.daemon.module", "tiny_etl_multiproc_bigdata_spark.worker_daemon"
        )
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
