"""Ship this package to Spark Python workers.

Queries that cross into Python on executors (mapInPandas kernels,
applyInPandas reducers) need ``mapreduceproject_spark`` importable in the
*worker* interpreter, not just the driver.  The driver harness loads
``__spark_entry__.py`` by file path from an arbitrary cwd, so workers
can't rely on cwd-relative imports — instead we zip the package once per
context and ``sc.addPyFile`` it, which distributes the zip and puts it on
every worker's sys.path (works identically on a real cluster, where
workers are remote JVMs with no shared filesystem).
"""

from __future__ import annotations

import zipfile
from pathlib import Path
from weakref import WeakKeyDictionary

from pyspark import SparkContext
from pyspark.sql import SparkSession

_DONE: set[str] = set()
# each live Python SparkContext's applicationId, looked up once
_APP_IDS: WeakKeyDictionary[SparkContext, str] = WeakKeyDictionary()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Idempotently attach this package as a pyfile to the session."""
    sc = spark.sparkContext
    # key on applicationId, not id(sc): after stop()+rebuild in the same
    # process CPython can hand the new context a recycled object address,
    # which would silently skip addPyFile and strand every Arrow-kernel
    # query on workers with ModuleNotFoundError.  applicationId is unique
    # per context (local-<epoch-ms> locally, cluster-assigned on YARN/k8s).
    # Its lookup costs two py4j round trips, so it is cached per context
    # object; the cache is weak, so a dead context's entry is gone before
    # its address can be reused.
    key = _APP_IDS.get(sc)
    if key is None:
        key = _APP_IDS[sc] = sc.applicationId
    if key in _DONE:
        return
    from mapreduceproject_spark.operators.dedup import _scratch_dir

    pkg_root = Path(__file__).resolve().parent
    # written fresh for each context under its Spark-owned local root: the
    # name is unique to the context and Spark deletes it when the JVM exits
    zip_path = Path(_scratch_dir(spark)) / "mapreduceproject_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for py in sorted(pkg_root.rglob("*.py")):
            zf.write(py, arcname=str(py.relative_to(pkg_root.parent)))
    sc.addPyFile(str(zip_path))
    _DONE.add(key)
