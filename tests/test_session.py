"""Session helpers that must hold on managed platforms and any host."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
from types import SimpleNamespace

from tiny_etl_multiproc_bigdata_spark.session import _cpus, shuffle_partitions


def _stub(value: str):
    return SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: value),
        sparkContext=SimpleNamespace(defaultParallelism=7),
    )


def test_shuffle_partitions_numeric():
    assert shuffle_partitions(_stub("12")) == 12


def test_shuffle_partitions_auto_falls_back_to_default_parallelism():
    # managed platforms set ``auto``; OSS Spark rejects it on conf.set,
    # hence the stub session
    assert shuffle_partitions(_stub("auto")) == 7


def test_cpus_defaults_to_host_core_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _cpus() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _cpus() == 3


# --- Python worker daemon and driver-side settings of get_spark ----------

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _one_row(spark, fn, schema):
    # one partition, so one Python task: a probe's scratch files are not
    # shared with a concurrent task
    return spark.range(1, numPartitions=1).mapInArrow(fn, schema).collect()[0]


def test_worker_rereads_only_archives_outside_spark_home(spark, tmp_path):
    own = str(tmp_path / "own.zip")

    def probe(batches):
        import importlib
        import zipfile
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        home = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
        spark_zips = [
            imp
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
            and os.path.realpath(imp.archive).startswith(home)
        ]
        before = [imp._files for imp in spark_zips]
        importlib.invalidate_caches()
        kept = all(imp._files is f for imp, f in zip(spark_zips, before))
        with zipfile.ZipFile(own, "w") as z:
            z.writestr("first_mod.py", "")
        imp = zipimport.zipimporter(own)
        with zipfile.ZipFile(own, "a") as z:
            z.writestr("second_mod.py", "")
        imp.invalidate_caches()
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pa.RecordBatch.from_pylist(
            [
                {
                    "wrapper": os.path.basename(code.co_filename),
                    "spark_zips": len(spark_zips),
                    "kept": kept,
                    "reread": imp.find_spec("second_mod") is not None,
                }
            ]
        )

    row = _one_row(
        spark, probe, "wrapper string, spark_zips long, kept boolean, reread boolean"
    )
    assert row.wrapper == "worker_daemon.py"
    assert row.spark_zips > 0  # pyspark.zip's importers are on the worker
    assert row.kept
    assert row.reread


def test_add_py_file_after_first_python_task(spark, tmp_path):
    def ident(batches):
        yield from batches

    spark.range(1).mapInArrow(ident, "id long").collect()
    lib = tmp_path / "late_dep.zip"
    with zipfile.ZipFile(lib, "w") as z:
        z.writestr("late_dep_mod.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(lib))

    def use(batches):
        import late_dep_mod
        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"v": late_dep_mod.VALUE}])

    assert _one_row(spark, use, "v long").v == 42


_CALLER_PYTHONPATH_RUN = """
import sys
sys.path.insert(0, sys.argv[1])
from tiny_etl_multiproc_bigdata_spark.session import get_spark
spark = get_spark(
    master="local[1]",
    shuffle_partitions=1,
    extra_conf={"spark.executorEnv.PYTHONPATH": sys.argv[2]},
)
def use(batches):
    import caller_mod
    import pyarrow as pa
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pylist([{"v": caller_mod.VALUE}])
print("VALUE", spark.range(1).mapInArrow(use, "v long").collect()[0].v)
spark.stop()
"""


def test_caller_pythonpath_kept_beside_package_root(tmp_path):
    """A fresh session whose working directory is not the repo: the
    workers import the daemon module through the package root and the
    caller's module through the caller's PYTHONPATH."""
    lib = tmp_path / "lib"
    lib.mkdir()
    (lib / "caller_mod.py").write_text("VALUE = 7\n")
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    env.pop("PYTHONPATH", None)  # Spark would hand it to the workers too
    run = subprocess.run(
        [sys.executable, "-c", _CALLER_PYTHONPATH_RUN, ROOT, str(lib)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "VALUE 7" in run.stdout, run.stderr[-4000:]


def test_dataframe_debugging_off(spark, monkeypatch):
    from pyspark.errors import utils

    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    assert utils.is_debugging_enabled() is False


_NO_INVALIDATE_CACHES_IMPORT = """
import sys, zipimport
sys.path.insert(0, sys.argv[1])
del zipimport.zipimporter.invalidate_caches
import tiny_etl_multiproc_bigdata_spark.worker_daemon
print("PATCHED", hasattr(zipimport.zipimporter, "invalidate_caches"))
"""


def test_daemon_imports_where_zipimporter_has_no_invalidate_caches():
    """Before Python 3.10 zipimporter has no invalidate_caches (nor a
    re-read to skip): the daemon module must still import and add none."""
    run = subprocess.run(
        [sys.executable, "-c", _NO_INVALIDATE_CACHES_IMPORT, ROOT],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert run.stdout.split() == ["PATCHED", "False"], run.stderr[-2000:]
