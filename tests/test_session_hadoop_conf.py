"""Per-key source records (``session.py``): ``get_spark`` empties the context
Hadoop conf's map of the XML files that set each key, so the conf copies that
write tasks, scans and streams ship carry no gzipped source names, and every
key and value stays.

Each case compares two subprocess sessions running the same script: one as
``get_spark`` builds it, and one whose source field name is patched to a
field Hadoop does not have, so the records are kept."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

from mapreduceproject_spark import session
from test_session_cds import _env

ROOT = Path(__file__).resolve().parent.parent

# Bytes of a serialized SerializableConfiguration of sessionState's
# newHadoopConf(): about 115,000 with every key's source names, about 71,000
# without them.  A default resource registered after the drop reloads the
# context conf, records every source again and lands above this.
COPY_BYTES_CEILING = 80_000

_SCRIPT = """
import json, sys
sys.path.insert(0, {root!r})
from mapreduceproject_spark import session
from mapreduceproject_spark.operators import mapreduce as mr
from mapreduceproject_spark.plans.registry import QUERIES
from mapreduceproject_spark.sources.catalog import load_table

session._SOURCES_FIELD = {field!r}
spark = session.get_spark(app_name="hadoop-conf-test", master="local[2]", shuffle_partitions=2)
jvm = spark._jvm
hc = spark._jsc.hadoopConfiguration()


def entries():
    return {{e.getKey(): e.getValue() for e in hc.iterator()}}


# starting the shared state sets hive.metastore.warehouse.dir: read the
# conf after it in both sessions
spark._jsparkSession.sharedState()
res = {{"conf": entries(), "xml_sources": list(hc.getPropertySources("fs.defaultFS") or [])}}
kv = spark.createDataFrame([("a", "1"), ("b", "2")], "key string, value string")
mr.write_kv_text(kv, {out!r})
res["kv"] = sorted(r.value for r in spark.read.text({out!r}).collect())
res["orders"] = load_table(spark, {sf!r}, "orders").count()
res["upsert_rows"] = len(QUERIES["stream_upsert_latest"](spark, {sf!r}).collect())
res["conf_after"] = entries()
copy = jvm.org.apache.spark.util.SerializableConfiguration(spark._jsparkSession.sessionState().newHadoopConf())
buf = jvm.java.io.ByteArrayOutputStream()
out = jvm.java.io.ObjectOutputStream(buf)
out.writeObject(copy)
out.close()
res["copy_bytes"] = buf.size()
spark.stop()
print(json.dumps(res))
"""


def _session(tmp_path: Path, field: str, sf_dir: str) -> dict:
    script = _SCRIPT.format(root=str(ROOT), field=field, out=str(tmp_path / "kv"), sf=sf_dir)
    # the same cwd for both, so the warehouse directory matches
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300,
        cwd=tmp_path.parent, env=_env(),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def sessions(tmp_path_factory, sf_dir):
    """The same script's results with the records dropped and kept."""
    root = tmp_path_factory.mktemp("hadoop-conf")
    return {
        "dropped": _session(root / "dropped", session._SOURCES_FIELD, sf_dir),
        "kept": _session(root / "kept", "noSuchSourcesField", sf_dir),
    }


def test_conf_copies_carry_no_source_records(sessions):
    # after a write, a scan and a stream: none registered a default
    # resource that brought the records back
    assert sessions["dropped"]["copy_bytes"] <= COPY_BYTES_CEILING
    assert sessions["kept"]["copy_bytes"] > COPY_BYTES_CEILING
    assert sessions["dropped"]["xml_sources"] == []
    assert sessions["kept"]["xml_sources"], sessions["kept"]["xml_sources"]


def test_every_key_and_value_stays(sessions):
    dropped, kept = sessions["dropped"], sessions["kept"]
    assert len(dropped["conf"]) > 1000
    assert "hive.metastore.warehouse.dir" in dropped["conf"]
    assert dropped["conf"] == kept["conf"]
    assert dropped["conf_after"] == kept["conf_after"]


def test_missing_field_keeps_a_working_session(sessions):
    dropped, kept = sessions["dropped"], sessions["kept"]
    assert kept["kv"] == dropped["kv"] == ["a 1", "b 2"]
    assert kept["orders"] == dropped["orders"] > 0
    assert kept["upsert_rows"] == dropped["upsert_rows"] > 0
