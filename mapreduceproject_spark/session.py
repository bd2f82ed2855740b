"""SparkSession factory.

The reference's only parallelism knobs are ``num_maples``/``num_juices``
(clamped to live nodes, /root/reference/src/node.go:223-228) and a hash
ring hardcoded ``% 10`` (/root/reference/src/master_helpers.go:88).  Here
the analogue is ``spark.sql.shuffle.partitions`` plus AQE, which coalesces
and re-plans at runtime — strictly stronger than static task counts.

Scale posture (100 TB mindset, tested on local[32]):
- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  join-strategy switch (sort-merge -> broadcast when a side turns out small).
- Arrow enabled for every pandas-UDF boundary.
- UTC session timezone so results are reproducible across engines
  (the DuckDB oracle runs timezone-naive).
- ``local*`` masters (``local-cluster`` too) start their Python workers
  from :mod:`mapreduceproject_spark._pyworker`, which on Python < 3.12
  stops pyspark's per-task ``importlib.invalidate_caches()`` from
  re-reading every zip directory on the worker's path — the fixed cost
  that dominated small maple/juice tasks.  The package's parent directory
  goes on the executors' ``PYTHONPATH`` so the daemon module is found
  before any ``addPyFile``.  Other masters keep ``pyspark.daemon``: there
  the module would have to be shipped at submit time.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "mapreduceproject-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``shuffle_partitions`` is the maple/juice ``num_tasks`` analogue; AQE
    will coalesce below it when partitions come out small, so oversizing is
    safe — the opposite of the reference, where num_tasks > live nodes is
    rejected (/root/reference/src/master.go:363-371).
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Convert sort-merge to shuffled-hash at runtime when the build
        # side's per-map shuffle output is actually small — saves the sort
        # of wide verify-join intermediates locally, and self-disables at
        # scale where maps exceed the threshold (unlike a static hint).
        .config("spark.sql.adaptive.shuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        # Fixture parquet stores TIMESTAMP(NANOS) which Spark cannot read
        # natively; read as long and convert in the catalog (floor to µs,
        # matching DuckDB's scan-time behavior).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Small local parquet fixtures: don't fragment scans into tiny tasks.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.python.daemon.module", "mapreduceproject_spark._pyworker"
        ).config("spark.executorEnv.PYTHONPATH", str(Path(__file__).resolve().parent.parent))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
