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

Session start maps a JVM class-data archive (JDK 13+ dynamic AppCDS)
kept in ``.jvm-cds/`` at the checkout root.  It holds only the JDK and
Spark classes the driver JVM loaded, never data, plans or results.
- Mapped: when ``get_spark`` launches the driver JVM and a published
  archive for this JDK and Spark exists, the JVM maps it with
  ``-XX:SharedArchiveFile``.  That roughly halves the start and the first
  job's class loading.  The key covers the ``java`` that ``spark-class``
  runs, its ``lib/modules``, the archive directory and the
  ``$SPARK_HOME/jars`` listing.
- Written: when none exists, the JVM writes one at exit with
  ``-XX:ArchiveClassesAtExit`` to a per-pid temp name, created empty at
  launch to mark the write in progress; a session that finds a live
  process's temp file for the same key starts without an archive, so
  concurrent first sessions write one archive, not one each.  Once that JVM has
  exited with status 0, the file is renamed to ``<key>-<bytes>.jsa``, and
  other archives and dead-pid temp files are deleted.  That run's exit
  takes about 10 s longer; the archive takes about 150 MB of disk.  An
  archive whose size no longer matches its name is deleted and written
  again, because the JVM crashes on a truncated one.  One the JVM rejects
  for other reasons is kept and ignored, with one ``[cds,dynamic]`` line
  on stderr.
- Skipped: the JVM accepts an archive only with no non-empty directory on
  its classpath, so the launch points ``SPARK_CONF_DIR`` at an empty
  directory.  The archive is skipped when the real conf directory holds
  anything but ``*.template`` files, when ``spark.driver.extraClassPath``,
  ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` or ``SPARK_DIST_CLASSPATH``
  extend the classpath, when no JVM is launched here
  (``PYSPARK_GATEWAY_PORT``, or a gateway already running), and when the
  checkout is not writable.
The flags go in ``spark.driver.defaultJavaOptions``, so a caller's
``spark.driver.extraJavaOptions`` still applies.

No-fork local filesystem.  With no libhadoop loaded, Hadoop's
``RawLocalFileSystem.setPermission`` forks ``chmod`` for every file,
``.crc`` sidecar and directory a write, a streaming checkpoint or a
state-store commit creates.  When ``get_spark`` launches the
JVM for a ``local*`` master, it puts ``jvm/NoForkLocalFileSystem.java``,
compiled once with ``javac`` against ``hadoop-client-api`` into
``.jvm-cds/nofork-<key>.jar``, on the driver and executor class paths
(after a caller's ``extraClassPath``), and binds it as ``fs.file.impl``
and ``fs.AbstractFileSystem.file.impl`` (``FileContext``, which
checkpoints use) unless the caller binds those.  It is the checksummed
``LocalFileSystem``; only ``setPermission`` changes, setting the same
9-bit mode in-process, so outputs, modes, ``.crc`` files and the commit
protocol are unchanged.  The jar key hashes the source, the ``javac`` and
the hadoop jar's name and size; the archive key includes the jar's name,
size and mtime, since the archive records the class path.  Skipped for
other masters, with no ``javac`` on ``PATH``, when the jar can be neither
found nor written, and when no JVM is launched here.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import subprocess
import tempfile
import zipfile
from glob import glob
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

CDS_DIR = Path(__file__).resolve().parent.parent / ".jvm-cds"
# CDS warnings stay off stdout, which carries bench.py's JSON and the CLI
# verbs' output: a writing run warns once per class it cannot archive
# (signed jars, pre-JDK-6 bytecode), hundreds of lines.  A rejected archive
# still says so, once, on stderr.
_CDS_LOG = "-Xlog:cds*=off -Xlog:cds=error,cds+dynamic=warning:stderr"
# how long the exit hook waits for a writing JVM (stop, dump, exit ≈ 12 s)
_DUMP_WAIT_S = 120
# (gateway process, temp archive) for each JVM this process asked to write
_dumps: list[tuple[subprocess.Popen, Path]] = []
_NOFORK_SRC = Path(__file__).resolve().parent / "jvm" / "NoForkLocalFileSystem.java"
_NOFORK_FS = "mapreduceproject_spark.jvm.NoForkLocalFileSystem"


def get_spark(
    app_name: str = "mapreduceproject-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``shuffle_partitions`` is the default width of a ``groupBy`` or join
    shuffle, and AQE coalesces below it when partitions come out small.  A
    maple/juice ``num_tasks`` is not coalesced: it is an explicit
    ``repartition(num_tasks, key)``, so exactly that many reduce tasks run
    (the reference rejects num_tasks > live nodes, src/master.go:363-371).
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
    conf = dict(extra_conf or {})
    launch = jar = None
    if SparkContext._gateway is None and not os.environ.get("PYSPARK_GATEWAY_PORT"):
        jar = _nofork_jar() if master.startswith("local") else None
        launch = _cds_launch(conf, jar)
    if jar is not None:
        for k in ("spark.driver.extraClassPath", "spark.executor.extraClassPath"):
            conf[k] = os.pathsep.join(filter(None, (conf.get(k), str(jar))))
        conf.setdefault("spark.hadoop.fs.file.impl", _NOFORK_FS)
        conf.setdefault("spark.hadoop.fs.AbstractFileSystem.file.impl", f"{_NOFORK_FS}$Fs")
    flags, dump = launch or (None, None)
    if flags:
        conf["spark.driver.defaultJavaOptions"] = " ".join(
            filter(None, (flags, conf.get("spark.driver.defaultJavaOptions")))
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    if not flags:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = str(CDS_DIR / "conf")
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if dump is not None:
            dump.unlink(missing_ok=True)
        raise
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if dump is not None:
        # our own reference: callers may drop SparkContext._gateway
        _dumps.append((SparkContext._gateway.proc, dump))
    return spark


def _java_home() -> Path | None:
    """The JDK whose ``java`` ``spark-class`` runs, if it is JDK 13+."""
    if os.environ.get("JAVA_HOME"):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    else:
        java = shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    home = Path(os.path.realpath(java)).parent.parent
    try:
        release = (home / "release").read_text()
    except OSError:
        return None
    m = re.search(r'^JAVA_VERSION="(\d+)', release, re.M)
    return home if m and int(m.group(1)) >= 13 else None


def _nofork_jar() -> Path | None:
    """The compiled no-fork filesystem jar, built and published on first
    use; None when it cannot be built (module docstring)."""
    javac = shutil.which("javac")
    apis = sorted(glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    if javac is None or not apis:
        return None
    api = apis[-1]
    try:
        javac = os.path.realpath(javac)
        st = os.stat(javac)
        h = hashlib.sha256(_NOFORK_SRC.read_bytes())
        h.update(repr((javac, st.st_size, st.st_mtime_ns, os.path.basename(api), os.stat(api).st_size)).encode())
        jar = CDS_DIR / f"nofork-{h.hexdigest()[:16]}.jar"
        if jar.is_file():
            return jar
        CDS_DIR.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=CDS_DIR, prefix=".nofork-") as tmp:
            out = Path(tmp)
            subprocess.run(
                [javac, "--release", "8", "-Xlint:-options", "-cp", api, "-d", tmp, str(_NOFORK_SRC)],
                check=True, capture_output=True, timeout=120,
            )
            with zipfile.ZipFile(out / jar.name, "w") as z:
                for cls in sorted(out.rglob("*.class")):
                    z.write(cls, cls.relative_to(out).as_posix())
            os.replace(out / jar.name, jar)
    except (OSError, subprocess.SubprocessError):
        return None
    return jar


def _archive_key(home: Path, spark_home: str, jar: Path | None = None) -> str:
    st = (home / "lib" / "modules").stat()
    h = hashlib.sha256(repr((str(home), st.st_size, st.st_mtime_ns, str(CDS_DIR))).encode())
    with os.scandir(os.path.join(spark_home, "jars")) as it:
        for name, size in sorted((e.name, e.stat().st_size) for e in it):
            h.update(f"{name}\0{size}\n".encode())
    if jar is not None:
        # on the recorded class path: the JVM rejects the archive when this
        # jar's size or mtime changes
        st = jar.stat()
        h.update(f"{jar.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _cds_launch(conf: dict[str, str], jar: Path | None = None) -> tuple[str, Path | None] | None:
    """JVM flags that map or write the archive, and the temp file a write
    goes to; None when the launch cannot use an archive (module docstring).
    ``jar`` is the no-fork filesystem jar the launch puts on the class path."""
    if "spark.driver.extraClassPath" in conf or any(
        os.environ.get(v)
        for v in ("PYSPARK_GATEWAY_PORT", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
    ):
        return None
    home = _java_home()
    if home is None or re.search(r"[\s'\"\\]", str(CDS_DIR)):
        return None
    spark_home = _find_spark_home()
    real_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(real_conf) and not all(n.endswith(".template") for n in os.listdir(real_conf)):
        return None
    try:
        key = _archive_key(home, spark_home, jar)
        (CDS_DIR / "conf").mkdir(parents=True, exist_ok=True)
        if os.listdir(CDS_DIR / "conf") or not os.access(CDS_DIR, os.W_OK):
            return None
    except OSError:
        return None
    _publish()  # a JVM an earlier session of this process asked to write
    for f in CDS_DIR.glob(f"{key}-*.jsa"):
        if _valid(f):
            return f"-XX:SharedArchiveFile={f} {_CDS_LOG}", None
        f.unlink(missing_ok=True)
    for f in CDS_DIR.glob(f"{key}.*.tmp"):
        pid = f.name.split(".")[1]
        if pid.isdigit() and _alive(int(pid)):
            return None  # a live process is writing this key's archive
        f.unlink(missing_ok=True)
    # the placeholder marks the write in progress until the JVM replaces
    # it with the archive at exit
    tmp = CDS_DIR / f"{key}.{os.getpid()}.tmp"
    tmp.touch()
    return f"-XX:ArchiveClassesAtExit={tmp} {_CDS_LOG}", tmp


def _valid(f: Path) -> bool:
    """The archive still has the byte size it was published with."""
    try:
        return f.stat().st_size == int(f.stem.rsplit("-", 1)[1])
    except (OSError, ValueError, IndexError):
        return False


def _publish() -> None:
    """Publish each written archive whose JVM exited with status 0, and
    delete every other archive and every dead process's temp file."""
    for entry in list(_dumps):
        proc, tmp = entry
        if proc.poll() is None:
            continue
        _dumps.remove(entry)
        size = tmp.stat().st_size if tmp.is_file() else 0
        if proc.returncode != 0 or size == 0:
            tmp.unlink(missing_ok=True)
            continue
        final = tmp.with_name(f"{tmp.name.split('.')[0]}-{size}.jsa")
        os.replace(tmp, final)
        for f in CDS_DIR.glob("*.jsa"):
            if f != final:
                f.unlink(missing_ok=True)
        for f in CDS_DIR.glob("*.tmp"):
            pid = f.name.split(".")[1]
            if pid.isdigit() and not _alive(int(pid)):
                f.unlink(missing_ok=True)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _finish_dumps() -> None:
    """At exit: let each writing JVM finish (its stdin closing stops the
    gateway, as it would when this process exits), then publish."""
    for proc, _ in _dumps:
        if proc.poll() is None:
            proc.stdin.close()
            try:
                proc.wait(_DUMP_WAIT_S)
            except subprocess.TimeoutExpired:
                pass
    _publish()


# registered first, so it runs after any later exit hook that stops Spark
atexit.register(_finish_dumps)
