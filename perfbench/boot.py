"""Session start and stop for the benchmark.

``setup_s`` is ``get_spark()`` in a fresh process plus the first
``queries()`` call (the registry import); every benchmark run is a fresh
process, so ``start`` measures it once per run. Spark is sized from
nproc through get_spark's public parameters, and every scratch file
Spark, the JVM or Python's ``tempfile`` makes goes under
``<work_dir>/tmp``.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def prepare_env(work: Path) -> None:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR on next use
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def spark_conf(work: Path, event_log_dir: Path | None = None) -> dict[str, str]:
    conf = {
        "spark.local.dir": str(work / "tmp"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start(work: Path, n: int, tracer, event_log_dir: Path | None = None):
    """Start the session and import the registry.

    Returns ``(spark, queries, start_s, import_s)``."""
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        from tiny_etl_multiproc_bigdata_spark.session import get_spark

        spark = get_spark(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf=spark_conf(work, event_log_dir),
        )
    t1 = time.perf_counter()
    with tracer.span("plans.import"):
        from tiny_etl_multiproc_bigdata_spark.plans.registry import queries

        registry = queries()
    t2 = time.perf_counter()
    return spark, registry, t1 - t0, t2 - t1


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=120)
