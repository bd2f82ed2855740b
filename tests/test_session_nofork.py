"""The no-fork ``file:`` filesystem (``session.py``): local writes, streaming
checkpoints and state-store commits set permissions without forking
``chmod``, with the same modes and ``.crc`` sidecars as Hadoop's stock
``LocalFileSystem``, and the class-data archive still maps.

Each case runs a session in a fresh subprocess against a copy of the
package, with a recording ``chmod`` first on ``PATH``: Hadoop without
libhadoop execs ``chmod`` by name for every permission it sets."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from test_session_cds import _archives, _copy, _env, _flag

_SCRIPT = """
import json, os, sys
sys.path.insert(0, {root!r})
from mapreduceproject_spark.operators import mapreduce as mr
from mapreduceproject_spark.plans.registry import QUERIES
from mapreduceproject_spark.session import get_spark

out_dir, log = {out!r}, os.environ["CHMOD_LOG"]
spark = get_spark(app_name="nofork-test", master="local[2]", shuffle_partitions=2)
jvm = spark._jvm
hconf = spark._jsc.hadoopConfiguration()
root_uri = jvm.java.net.URI("file:///")
fs = jvm.org.apache.hadoop.fs.FileSystem.get(root_uri, hconf)
fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(root_uri, hconf)
HPath = jvm.org.apache.hadoop.fs.Path


def forks():
    try:
        with open(log) as f:
            return sum(1 for _ in f)
    except FileNotFoundError:
        return 0


def hadoop_writes(f, base):
    # a nested mkdirs, and a checksummed create under it
    f.mkdirs(HPath(base + "/a/b"))
    s = f.create(HPath(base + "/a/b/part"))
    s.write(bytearray(b"x" * 100))
    s.close()


res = {{"args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
        "classpath": jvm.java.lang.System.getProperty("java.class.path").split(os.pathsep),
        "fs": fs.getClass().getName(),
        "fc": fc.getDefaultFileSystem().getClass().getName(),
        "chmod": {{}}}}


def write_kv_text():
    kv = spark.createDataFrame([("a", "1"), ("b", "2")], "key string, value string")
    mr.write_kv_text(kv, out_dir + "/kv")


def partitioned_parquet():
    spark.range(60).selectExpr("id", "id % 3 AS p").write.partitionBy("p").parquet(out_dir + "/pq")


def stream_tumbling_counts():  # state store and checkpoint log
    res["stream_rows"] = len(QUERIES["stream_tumbling_counts"](spark, {sf!r}).collect())


for op in (write_kv_text, partitioned_parquet, stream_tumbling_counts):
    before = forks()
    op()
    res["chmod"][op.__name__] = forks() - before

stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
stock.initialize(root_uri, hconf)
for name, f in (("session_fs", fs), ("stock_fs", stock)):
    before = forks()
    hadoop_writes(f, out_dir + "/" + name)
    res["chmod"][name] = forks() - before

modes = {{}}
for base, dirs, files in os.walk(out_dir):
    for n in dirs + files:
        p = os.path.join(base, n)
        modes[os.path.relpath(p, out_dir)] = (n in dirs, os.stat(p).st_mode & 0o7777)
res["modes"] = modes

sticky = out_dir + "/sticky"
os.mkdir(sticky)
fs.setPermission(HPath(sticky), jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
res["sticky"] = os.stat(sticky).st_mode & 0o7777
res["sum"] = spark.range(100).selectExpr("sum(id) AS s").collect()[0].s
spark.stop()
with open({result!r}, "w") as f:
    json.dump(res, f)
"""

NOFORK = "mapreduceproject_spark.jvm.NoForkLocalFileSystem"


def _recording_path(bindir: Path, *, javac: bool = True) -> str:
    """A PATH whose first ``chmod`` logs each exec to $CHMOD_LOG; without
    ``javac``, every other PATH entry is linked into ``bindir`` but javac."""
    bindir.mkdir()
    (bindir / "chmod").write_text('#!/bin/sh\necho "$*" >> "$CHMOD_LOG"\nexec /bin/chmod "$@"\n')
    (bindir / "chmod").chmod(0o755)
    if javac:
        return f"{bindir}{os.pathsep}{os.environ['PATH']}"
    for d in os.environ["PATH"].split(os.pathsep):
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            link = bindir / name
            if name != "javac" and not os.path.lexists(link):
                link.symlink_to(os.path.join(d, name))
    return str(bindir)


def _session(root: Path, tag: str, path: str, sf_dir: str, **env) -> tuple[dict, subprocess.CompletedProcess]:
    work = root / tag
    work.mkdir()
    result = work / "result.json"
    script = _SCRIPT.format(root=str(root), out=str(work / "out"), sf=sf_dir, result=str(result))
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300, cwd=work,
        env=_env(PATH=path, CHMOD_LOG=str(work / "chmod.log"), **env),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(result.read_text())
    assert res["sum"] == 4950 and res["stream_rows"] > 0
    return res, proc


def _jars(root: Path) -> list[Path]:
    return sorted((root / ".jvm-cds").glob("nofork-*.jar"))


@pytest.fixture(scope="module")
def shim(tmp_path_factory, sf_dir):
    """A package copy and its first session, which compiled the shim and
    wrote the class-data archive."""
    root = _copy(tmp_path_factory.mktemp("nofork"))
    path = _recording_path(root / "bin")
    res, _ = _session(root, "first", path, sf_dir)
    assert _flag(res["args"], "ArchiveClassesAtExit")
    (jar,) = _jars(root)
    assert str(jar) in res["classpath"]
    return root, path, res


def test_local_writes_fork_no_chmod(shim):
    _, _, res = shim
    assert res["fs"] == NOFORK
    assert res["fc"] == NOFORK + "$Fs"
    counts = res["chmod"]
    assert counts["stock_fs"] > 0, counts  # the recording chmod sees Hadoop's forks
    for op in ("write_kv_text", "partitioned_parquet", "stream_tumbling_counts", "session_fs"):
        assert counts[op] == 0, counts


def _kinds(modes: dict) -> dict:
    """The modes of Spark's writes, by kind: dir, crc or file."""
    out: dict = {}
    for rel, (is_dir, mode) in modes.items():
        if rel.startswith(("kv", "pq")):
            kind = "dir" if is_dir else "crc" if rel.endswith(".crc") else "file"
            out.setdefault(kind, set()).add(mode)
    return out


def test_modes_and_checksums_match_the_stock_filesystem(shim):
    _, _, res = shim
    modes = res["modes"]
    ours = {k[len("session_fs/"):]: v for k, v in modes.items() if k.startswith("session_fs/")}
    stock = {k[len("stock_fs/"):]: v for k, v in modes.items() if k.startswith("stock_fs/")}
    assert ours == stock and "a/b/.part.crc" in ours, (ours, stock)
    # Spark's writes: every part file has its .crc; 0644 files, 0755 dirs
    parts = [k for k in modes if k.startswith(("kv/", "pq/")) and "/part-" in f"/{k}"]
    assert parts
    for p in parts:
        head, name = os.path.split(p)
        assert os.path.join(head, f".{name}.crc") in modes, p
    assert _kinds(modes) == {"dir": {0o755}, "file": {0o644}, "crc": {0o644}}


def test_sticky_bit_still_applies(shim):
    _, _, res = shim
    assert res["sticky"] == 0o1777


def test_shim_session_maps_the_archive(shim, sf_dir):
    root, path, _ = shim
    res, proc = _session(root, "mapped", path, sf_dir)
    (archive,) = _archives(root)
    assert _flag(res["args"], "SharedArchiveFile") == str(archive)
    assert "[cds" not in proc.stderr, proc.stderr[-2000:]
    assert res["fs"] == NOFORK and res["chmod"]["partitioned_parquet"] == 0


def test_changed_shim_source_gets_a_new_jar_and_archive_key(shim, sf_dir):
    root, path, _ = shim
    (old_jar,) = _jars(root)
    (old_archive,) = _archives(root)
    src = root / "mapreduceproject_spark" / "jvm" / "NoForkLocalFileSystem.java"
    src.write_text(src.read_text() + "// changed\n")
    res, proc = _session(root, "changed", path, sf_dir)
    assert [j for j in _jars(root) if j != old_jar]
    # a new key: this session writes a new archive instead of mapping the
    # old one, whose recorded class path names the old jar
    assert _flag(res["args"], "ArchiveClassesAtExit")
    assert _flag(res["args"], "SharedArchiveFile") is None
    assert "Unable to use shared archive" not in proc.stderr
    assert _archives(root) and old_archive not in _archives(root)
    assert res["fs"] == NOFORK


def test_no_javac_keeps_the_stock_filesystem(shim, sf_dir, tmp_path):
    root, _, ours = shim
    conf = tmp_path / "conf"  # a real conf dir: no archive to write for this key
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.nofork.probe  1\n")
    jars = _jars(root)
    res, _ = _session(root, "nojavac", _recording_path(tmp_path / "bin", javac=False), sf_dir,
                      SPARK_CONF_DIR=str(conf))
    assert _jars(root) == jars
    # the distribution's own binding: Hive's ProxyLocalFileSystem here
    assert res["fs"] != NOFORK and res["fc"] == "org.apache.hadoop.fs.local.LocalFs"
    assert all(n > 0 for n in res["chmod"].values()), res["chmod"]
    # the same writes come out with the same modes
    assert _kinds(res["modes"]) == _kinds(ours["modes"])
    assert {k: v for k, v in res["modes"].items() if k.startswith("session_fs/")} == {
        k: v for k, v in ours["modes"].items() if k.startswith("session_fs/")}
