"""Python call-site capture (``session.py``): ``get_spark`` sessions skip it,
and a caller's ``extra_conf`` turns it back on.

PySpark reads the flag once per process, so each case runs its session in a
fresh subprocess, from a script file whose own ``file:line`` the error can
name."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

from test_session_cds import _env

ROOT = Path(__file__).resolve().parent.parent

_SCRIPT = """
import json, sys
sys.path.insert(0, {root!r})
from pyspark.errors import PySparkException
from pyspark.sql import functions as F
from mapreduceproject_spark.session import get_spark

spark = get_spark(app_name="origin-test", master="local[1]", shuffle_partitions=1,
                  extra_conf={conf!r})
try:
    spark.range(1).select(F.col("id") / 0).collect()  # DIVIDE_LINE
except PySparkException as e:
    out = {{"condition": e.getCondition(), "message": str(e)}}
spark.stop()
print(json.dumps(out))
"""


def _divide_by_zero(tmp_path: Path, conf: dict) -> tuple[dict, str]:
    """The error of an ANSI divide by zero, and the script's file:line of
    the division."""
    script = tmp_path / "divide.py"
    script.write_text(_SCRIPT.format(root=str(ROOT), conf=conf))
    line = next(i for i, s in enumerate(script.read_text().splitlines(), 1) if "DIVIDE_LINE" in s)
    proc = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=300,
        cwd=tmp_path, env=_env(),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), f"{script}:{line}"


@pytest.mark.parametrize("enabled", [None, "true"])
def test_call_site_is_opt_in(tmp_path, enabled):
    conf = {} if enabled is None else {"spark.python.sql.dataFrameDebugging.enabled": enabled}
    err, call_site = _divide_by_zero(tmp_path, conf)
    # the error class and message survive either way
    assert err["condition"] == "DIVIDE_BY_ZERO", err
    assert "Division by zero" in err["message"], err
    assert (call_site in err["message"]) == (enabled == "true"), err
