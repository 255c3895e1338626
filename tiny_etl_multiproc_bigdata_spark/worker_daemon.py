"""pyspark's Python worker daemon, minus the per-task re-read of
Spark's own archives.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
Every Python task calls ``importlib.invalidate_caches()`` (pyspark's
``setup_spark_files``), and since Python 3.10 each ``zipimporter`` then
re-reads the whole central directory of its archive. The archives under
``SPARK_HOME`` (``pyspark.zip``, the spark-core jar) never change while
a worker lives, so their importers skip the re-read; every other archive,
such as one shipped with ``addPyFile``, is still re-read.
"""

import os
import zipimport

_home = os.environ.get("SPARK_HOME")
_SPARK_HOME = os.path.join(os.path.realpath(_home), "") if _home else None
_reread = getattr(zipimport.zipimporter, "invalidate_caches", None)


def invalidate_caches(self):
    if _SPARK_HOME and os.path.realpath(self.archive).startswith(_SPARK_HOME):
        return
    _reread(self)


# Before Python 3.10 a zipimporter has no invalidate_caches: it never
# re-reads its archive, so there is nothing to skip.
if _reread is not None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    from pyspark import daemon

    daemon.manager()
