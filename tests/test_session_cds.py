"""The driver JVM's class-data archive (``session.py``): written, mapped,
validated and skipped.

Each JVM case runs ``get_spark`` in a fresh subprocess against a copy of
the package, so the archive directory is the copy's own and the shared
session fixture is untouched.  The publish rules are also checked without
a JVM, on stand-in processes."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from mapreduceproject_spark import session

PKG = Path(__file__).resolve().parent.parent / "mapreduceproject_spark"

_SCRIPT = """
import json, sys
sys.path.insert(0, {root!r})
from mapreduceproject_spark.session import get_spark
spark = get_spark(app_name="cds-test", master="local[1]", shuffle_partitions=1,
                  extra_conf={{"spark.driver.extraJavaOptions": "-Dgraft.cds.probe=1"}})
bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
out = {{
    "args": list(bean.getInputArguments()),
    "sum": spark.range(100).selectExpr("sum(id) AS s").collect()[0].s,
    "conf": spark.conf.get("spark.graft.cds.conf", None),
}}
spark.stop()
with open({result!r}, "w") as f:
    json.dump(out, f)
"""

_KEY = """
import sys
sys.path.insert(0, {root!r})
from pyspark.find_spark_home import _find_spark_home
from mapreduceproject_spark.session import _archive_key, _java_home
print(_archive_key(_java_home(), _find_spark_home()))
"""


def _copy(root: Path) -> Path:
    shutil.copytree(PKG, root / "mapreduceproject_spark", ignore=shutil.ignore_patterns("__pycache__"))
    return root


def _env(**extra) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    env["SPARK_DRIVER_MEM"] = "1g"
    return {**env, **extra}


def _run(root: Path, **env) -> tuple[dict, subprocess.CompletedProcess]:
    """One session in a fresh process; returns its JVM's input arguments,
    a query's answer and a conf value, plus the process (stdout, stderr)."""
    result = root / "result.json"
    result.unlink(missing_ok=True)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(root=str(root), result=str(result))],
        capture_output=True, text=True, timeout=300, env=_env(**env), cwd=root,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(result.read_text())
    assert out["sum"] == 4950
    assert "-Dgraft.cds.probe=1" in out["args"]  # the caller's extraJavaOptions
    assert "[cds" not in proc.stdout, proc.stdout[:2000]
    return out, proc


def _flag(args: list[str], name: str) -> str | None:
    return next((a.split("=", 1)[1] for a in args if a.startswith(f"-XX:{name}=")), None)


def _archives(root: Path) -> list[Path]:
    return sorted((root / ".jvm-cds").glob("*.jsa"))


@pytest.fixture(scope="module")
def published(tmp_path_factory):
    """A package copy whose first session wrote and published an archive."""
    root = _copy(tmp_path_factory.mktemp("cds"))
    out, _ = _run(root)
    assert _flag(out["args"], "ArchiveClassesAtExit")
    assert _flag(out["args"], "SharedArchiveFile") is None
    (f,) = _archives(root)
    assert session._valid(f)
    assert not list((root / ".jvm-cds").glob("*.tmp"))
    return root


def test_archive_flag_rides_with_caller_java_options(published):
    out, _ = _run(published)
    (f,) = _archives(published)
    assert _flag(out["args"], "SharedArchiveFile") == str(f)
    assert _flag(out["args"], "ArchiveClassesAtExit") is None


def test_truncated_archive_is_replaced(published):
    (f,) = _archives(published)
    f.chmod(0o644)
    with open(f, "r+b") as fh:
        fh.truncate(1 << 20)  # a JVM that maps this dies of SIGBUS
    out, _ = _run(published)
    assert _flag(out["args"], "SharedArchiveFile") is None
    assert _flag(out["args"], "ArchiveClassesAtExit")
    (g,) = _archives(published)
    assert session._valid(g) and g.stat().st_size > 1 << 20


def test_real_conf_dir_wins_and_skips_the_archive(published, tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.cds.conf  applied\n")
    out, _ = _run(published, SPARK_CONF_DIR=str(conf))
    assert out["conf"] == "applied"
    assert not any("Archive" in a for a in out["args"])


def test_mismatched_archive_falls_back_quietly(published, tmp_path):
    # another checkout's archive records another classpath: the JVM
    # rejects it and starts without one
    (theirs,) = _archives(published)
    root = _copy(tmp_path)
    key = subprocess.run(
        [sys.executable, "-c", _KEY.format(root=str(root))],
        capture_output=True, text=True, check=True, env=_env(),
    ).stdout.strip()
    (root / ".jvm-cds").mkdir()
    mine = root / ".jvm-cds" / f"{key}-{theirs.stat().st_size}.jsa"
    shutil.copyfile(theirs, mine)
    out, proc = _run(root)
    assert _flag(out["args"], "SharedArchiveFile") == str(mine)
    assert "Unable to use shared archive" in proc.stderr


# -- publish rules, on stand-in processes ------------------------------------


class _Proc:
    def __init__(self):
        self.returncode = None

    def poll(self):
        return self.returncode


@pytest.fixture
def cds_dir(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "CDS_DIR", tmp_path)
    monkeypatch.setattr(session, "_dumps", [])
    return tmp_path


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_concurrent_writers_never_expose_a_partial_archive(cds_dir):
    key = "k" * 16
    procs = [_Proc(), _Proc()]
    for i, proc in enumerate(procs):
        tmp = cds_dir / f"{key}.{os.getpid() + i}.tmp"
        tmp.write_bytes(b"x" * (100 + i))  # still being written
        session._dumps.append((proc, tmp))
    session._publish()
    assert not list(cds_dir.glob(f"{key}-*.jsa"))
    procs[1].returncode = 0
    session._publish()
    assert [f.name for f in cds_dir.glob("*.jsa")] == [f"{key}-101.jsa"]
    procs[0].returncode = 0
    session._publish()
    (f,) = cds_dir.glob("*.jsa")  # one archive per checkout
    assert f.name == f"{key}-100.jsa" and session._valid(f)
    assert not session._dumps


def test_failed_writer_is_not_published(cds_dir):
    proc, tmp = _Proc(), cds_dir / f"{'k' * 16}.{os.getpid()}.tmp"
    tmp.write_bytes(b"partial")
    session._dumps.append((proc, tmp))
    proc.returncode = 134
    session._publish()
    assert not list(cds_dir.iterdir())


def test_publish_prunes_stale_keys_and_dead_temp_files(cds_dir):
    stale = cds_dir / f"{'s' * 16}-5.jsa"
    stale.write_bytes(b"12345")
    dead = cds_dir / f"{'s' * 16}.{_dead_pid()}.tmp"
    dead.write_bytes(b"x")
    live = cds_dir / f"{'s' * 16}.{os.getppid()}.tmp"
    live.write_bytes(b"x")
    proc, tmp = _Proc(), cds_dir / f"{'k' * 16}.{os.getpid()}.tmp"
    tmp.write_bytes(b"abc")
    session._dumps.append((proc, tmp))
    proc.returncode = 0
    session._publish()
    assert sorted(f.name for f in cds_dir.iterdir()) == sorted([f"{'k' * 16}-3.jsa", live.name])


def test_archive_valid_only_at_its_published_size(tmp_path):
    f = tmp_path / "abc-4.jsa"
    f.write_bytes(b"1234")
    assert session._valid(f)
    f.write_bytes(b"123")
    assert not session._valid(f)
    assert not session._valid(tmp_path / "abc-x.jsa")


def test_live_writer_placeholder_skips_a_second_write(cds_dir, monkeypatch):
    from pyspark.find_spark_home import _find_spark_home

    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    key = session._archive_key(session._java_home(), _find_spark_home())
    # another live process is writing this key's archive
    live = cds_dir / f"{key}.{os.getppid()}.tmp"
    live.touch()
    assert session._cds_launch({}) is None
    live.unlink()
    # so is this process: a second JVM would target the same path
    own = cds_dir / f"{key}.{os.getpid()}.tmp"
    own.touch()
    assert session._cds_launch({}) is None
    own.unlink()
    # a dead writer's placeholder is cleaned up and the write goes ahead
    dead = cds_dir / f"{key}.{_dead_pid()}.tmp"
    dead.touch()
    flags, tmp = session._cds_launch({})
    assert f"-XX:ArchiveClassesAtExit={tmp} " in flags
    assert not dead.exists()
    assert tmp == own and tmp.is_file() and tmp.stat().st_size == 0
    assert session._cds_launch({}) is None  # the new placeholder marks it
    # a writer that exits without replacing its placeholder publishes nothing
    proc = _Proc()
    session._dumps.append((proc, tmp))
    proc.returncode = 0
    session._publish()
    assert not list(cds_dir.glob("*.jsa")) and not tmp.exists()
