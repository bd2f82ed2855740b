"""Table catalog over the driver-generated parquet fixtures.

The reference's namespace is flat filenames gossiped in ``fileTable``
(/root/reference/src/node.go:24) with prefix-as-directory selection
(/root/reference/src/master.go:448-453).  Our catalog is: named parquet
tables under a scale-factor directory, read with explicit Spark readers so
Catalyst gets real schemas, column pruning and predicate pushdown — none of
which exist in the reference (bytes-only SDFS, SURVEY §1.2).

Like the reference's master, which answers ``LS``/``GET`` from the file
table it already holds, the catalog works out each table's schema once:
``parquet_schema`` memoizes ``spark.read.parquet(path).schema``, which
otherwise starts a one-task footer-read Spark job on every read.  The memo
key is the file's identity from ``os.stat`` (device, inode, size,
``st_mtime_ns``) plus the session's parquet-reading SQL confs (every
``spark.sql.parquet.*`` and ``spark.sql.legacy.parquet.*`` entry, and
``spark.sql.caseSensitive``), so a rewritten file or a conf that changes
the inferred types is a miss.  Only the schema is kept: every read still
builds a fresh relation and file index.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# applicationIds already warned about a non-UTC session timezone being
# overridden by load_table's UTC pin (see load_table) — warn once, not
# per-table.
_TZ_WARNED: set[str] = set()

# (device, inode, size, mtime_ns, parquet-reading confs) -> inferred schema.
# Not tied to a session: a cloned session with the same confs shares it.
_SCHEMAS: dict[tuple, StructType] = {}
_SCHEMA_CONF_PREFIXES = (
    "spark.sql.parquet.",
    "spark.sql.legacy.parquet.",
    "spark.sql.caseSensitive -> ",
)


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """``spark.read.parquet(path).schema``, inferred once per file and conf set.

    A hit starts no Spark job.  A miss infers exactly as a plain read does.
    The key covers every conf the parquet schema converter may read
    (binary-as-string, INT96, NTZ inference, ``nanosAsLong``, field ids,
    ...) without naming them one by one.  A path ``os.stat`` cannot see
    (a remote filesystem) or that is not a regular file (a directory's
    mtime misses rewrites below it) is inferred on every call.
    """
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path).schema
    # The session's "key -> value" conf entries in one py4j call: the
    # public ``spark.conf.getAll`` makes round trips per entry, 17-29 ms
    # for a few dozen confs, a fifth or more of the inference it saves.
    entries = spark.conf._jconf.getAll().mkString("\0").split("\0")
    confs = tuple(sorted(e for e in entries if e.startswith(_SCHEMA_CONF_PREFIXES)))
    key = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, confs)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def spread_for_compute(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow scan up to default parallelism — only when the
    scan has fewer splits than cores (small/local files); no-op otherwise.

    Opt-in, called by compute-heavy operators (gram explodes, hashing,
    vector math) at their entry points — NOT table-global: for scan-bound
    queries the added exchange is a pure tax (round 2 measured 2.2–2.8×
    on `kv_swap`/`word_count`-class queries), while for gram/vector
    pipelines it is a 2× win because a sub-128MB local parquet file is ONE
    split and the expensive narrow stage would otherwise run on one core.
    Structural no-op at scale: a 100 TB corpus has ~1e5 natural splits, so
    the condition never fires and no shuffle is added.  Catalyst still
    pushes filters/pruning below the exchange (tests/test_plans.py).

    The ``df.rdd.getNumPartitions()`` probe converts the plan once; that
    cost is amortized into multi-second operators now that the call sits
    at heavy-operator entry points instead of on every ``load_table``
    (it is also the only probe that respects upstream repartitions —
    ``inputFiles()`` would undercount an already-spread frame and add a
    useless second exchange).
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain parquet scan: pushdown/pruning-ready.

    The scan is declared with the table's memoized schema
    (``parquet_schema``), so only the first read of a file under a given
    set of parquet-reading confs infers it; later calls build the plan
    without starting a Spark job.

    ``events.ts`` is parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it scans as a nanosecond long,
    converted here by flooring to microseconds — exactly what DuckDB's scan
    does — then presented as timestamp_ntz (session tz is UTC, so the wall
    time is preserved).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Every query flows through here: make sure Python workers can import
    # this package (mapInPandas/applyInPandas kernels) regardless of the
    # driver's cwd — see bootstrap.ensure_worker_imports.
    from mapreduceproject_spark.bootstrap import ensure_worker_imports

    ensure_worker_imports(spark)
    # UTC is load-bearing for parity and set here, not only in our session
    # factory: the driver harness builds its own bare SparkSession whose
    # session timezone defaults to the JVM's LOCAL zone — every
    # unix_micros(cast(... as timestamp)) and ts->timestamp_ntz conversion
    # then shifts by the zone offset while the DuckDB oracle stays
    # timezone-naive (measured: data_profile/table_checksums/customer_rfm
    # all fail parity under a non-UTC session).  Runtime-settable conf,
    # set only when the session does not read UTC already (sessions our
    # factory built do).  DOCUMENTED SIDE EFFECT:
    # the pin is unconditional (parity is the contract of every query in
    # this package), and overriding any non-UTC EFFECTIVE session value
    # warns once per application so the caller learns their timestamp
    # semantics changed instead of discovering it in shifted results.
    # conf.get returns the JVM default zone when the user never set
    # spark.sql.session.timeZone, so on a non-UTC host the warning fires
    # for implicit defaults too — deliberately: the semantics change
    # either way, and the runtime conf API cannot distinguish the two.
    current = spark.conf.get("spark.sql.session.timeZone", None)
    if current != "UTC":
        key = spark.sparkContext.applicationId
        if current is not None and key not in _TZ_WARNED:
            import warnings

            warnings.warn(
                f"load_table: overriding effective "
                f"spark.sql.session.timeZone {current!r} (explicitly set "
                f"or the JVM default) -> 'UTC' — fixture queries and "
                f"their DuckDB oracles assume UTC wall-clock timestamps "
                f"(warned once per application)",
                stacklevel=2,
            )
            _TZ_WARNED.add(key)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Set here, not only in our session factory: the driver harness
        # builds its own bare SparkSession, and without this the scan
        # throws PARQUET_TYPE_ILLEGAL (runtime-settable SQL conf).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    # load(str) passes the one path as is; parquet(path) builds a Java
    # list and seq for it, four more py4j round trips
    df = spark.read.schema(parquet_schema(spark, path)).format("parquet").load(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz"),
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose all fixture tables as temp views for spark.sql() queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
