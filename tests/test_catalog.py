"""The catalog's schema memo: a memoized read must plan and answer exactly
as a read that infers its schema, and a rewritten file or a changed
parquet-reading conf must be inferred again."""

from __future__ import annotations

import contextlib
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameReader

from mapreduceproject_spark.sources.catalog import TABLES, load_table, parquet_schema


@contextlib.contextmanager
def _inferring(monkeypatch):
    """Within the context ``spark.read.schema(...)`` is ignored, so
    ``load_table`` reads as it did before the memo: schema inferred."""
    with monkeypatch.context() as m:
        m.setattr(DataFrameReader, "schema", lambda self, schema: self)
        yield


def _explain(df) -> str:
    qe = df._jdf.queryExecution()
    text = df.sparkSession._jvm.PythonSQLUtils.explainString(qe, "extended")
    return re.sub(r"#\d+L?|plan_id=\d+", "#", text)


def test_rewritten_table_comes_back_with_new_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}),
        path,
    )
    back = load_table(spark, str(tmp_path), "region")
    assert back.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r["r_comment"] for r in back.collect()) == ["x", "y"]


def test_schema_follows_the_reading_confs(spark, tmp_path):
    """One TIMESTAMP(NANOS) file with a binary column, read under two
    values of each conf that changes its inferred type."""
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns")),
                "props": pa.array([b"{}"], pa.binary()),
            }
        ),
        path,
    )
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    binary = "spark.sql.parquet.binaryAsString"
    before = {k: spark.conf.getAll.get(k) for k in (nanos, binary)}
    try:
        spark.conf.set(nanos, "true")
        for flag, expect in (("false", "binary"), ("true", "string"), ("false", "binary")):
            spark.conf.set(binary, flag)
            types = dict((f.name, f.dataType.simpleString()) for f in parquet_schema(spark, path))
            assert types == {"ts": "bigint", "props": expect}
        spark.conf.set(nanos, "false")
        # without nanosAsLong Spark cannot type TIMESTAMP(NANOS) at all: a
        # miss must infer (and fail) again, not hand back the bigint schema
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL|Illegal Parquet type"):
            parquet_schema(spark, path)
    finally:
        for k, v in before.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


@pytest.mark.parametrize("name", TABLES)
def test_memoized_read_plans_as_inferred_read(spark, sf_dir, name, monkeypatch):
    memo = load_table(spark, sf_dir, name)
    with _inferring(monkeypatch):
        inferred = load_table(spark, sf_dir, name)
    assert memo.schema == inferred.schema
    assert _explain(memo) == _explain(inferred)


def test_memoized_self_join_matches_inferred(spark, sf_dir, monkeypatch):
    def pairs():
        a = load_table(spark, sf_dir, "orders")
        b = load_table(spark, sf_dir, "orders")
        return sorted(
            map(
                tuple,
                a.join(b, a.o_custkey == b.o_custkey)
                .where(a.o_orderkey < b.o_orderkey)
                .select(a.o_orderkey, b.o_orderkey)
                .collect(),
            )
        )

    memo = pairs()
    with _inferring(monkeypatch):
        inferred = pairs()
    assert memo == inferred and len(memo) > 0


def test_warm_load_skips_the_id_lookup_timezone_set_and_path_seq(spark, sf_dir, monkeypatch):
    """On a UTC session whose package zip is attached, a memoized load sends
    no applicationId lookup, no timezone set and no Java list or seq."""
    load_table(spark, sf_dir, "orders")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent: list[str] = []

    def recording(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", recording)
    load_table(spark, sf_dir, "orders")
    monkeypatch.undo()
    calls = [c.split("\n")[2] for c in sent if c.startswith("c\n")]
    assert "load" in calls
    assert not {"applicationId", "set", "toSeq"} & set(calls), calls
    assert not [c for c in sent if "java.util.ArrayList" in c]
