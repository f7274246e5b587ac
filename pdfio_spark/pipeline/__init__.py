"""Pipeline plane: Spark session, extraction job topology, queries."""
import os
import re
import zipimport

from .session import get_spark

__all__ = ["get_spark"]

# Archives Spark itself puts on a Python worker's PYTHONPATH: its own
# Python sources, py4j, and the spark-core jar (no Python inside, but a
# zipimporter all the same). They are part of the Spark install and do
# not change while a worker lives.
_SPARK_ARCHIVE = re.compile(
    r"pyspark\.zip|py4j-.*-src\.zip|spark-core_.*\.jar")


def _pin_spark_archive_caches() -> None:
    """Make `zipimporter.invalidate_caches` a no-op for Spark's own
    archives, once per Python worker process.

    PySpark calls `importlib.invalidate_caches()` at the start of every
    task (`worker_util.setup_spark_files`). On CPython 3.11 that makes
    every zipimporter re-read its archive's directory: ~14 importers
    over pyspark.zip (1328 entries, ~6 ms each) and two over the
    spark-core jar (5359 entries, ~31 ms each). An identity mapInArrow
    task at local[2] took ~250 ms with the re-reads and ~65 ms without.
    Any other archive, such as a zip shipped with `addPyFile`, is still
    re-read as before. Runs on import of this package, which every UDF
    defined in it triggers on the worker; the first task of each worker
    still pays once."""
    from pyspark.core.files import SparkFiles
    reload = zipimport.zipimporter.invalidate_caches
    if (not SparkFiles._is_running_on_worker
            or getattr(reload, "spark_archives", None) is not None):
        return
    pinned = frozenset(
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if _SPARK_ARCHIVE.fullmatch(os.path.basename(p)))

    def invalidate_caches(self):
        if self.archive not in pinned:
            reload(self)

    invalidate_caches.spark_archives = pinned
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_pin_spark_archive_caches()
