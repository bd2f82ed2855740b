"""MapReduce-semantics golden tests (SURVEY §5.2.2-3).

Engine output vs a pure-Python reference reducer over a deterministic
corpus derived from the documents table; exe path exercised with a real
subprocess mapper/reducer.
"""

from __future__ import annotations

import stat
from collections import Counter

import pytest
from pyspark.sql import functions as F

from mapreduceproject_spark.operators import mapreduce as mr


@pytest.fixture(scope="module")
def corpus(spark, sf_dir, tmp_path_factory):
    """documents.text as a text file directory + the raw lines."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lines = [r["text"] for r in docs.select("text").collect()]
    d = tmp_path_factory.mktemp("corpus")
    (d / "part-0.txt").write_text("\n".join(lines) + "\n")
    return str(d), lines


def python_wordcount(lines):
    c = Counter()
    for line in lines:
        c.update(line.split())
    return dict(c)


def test_maple_juice_function_path_wordcount(spark, corpus):
    path, lines = corpus
    kv = mr.maple(mr.read_lines(spark, path), lambda l: ((w, "1") for w in l.split()))
    out = mr.juice(kv, lambda k, vs: str(len(vs)))
    got = {r["key"]: int(r["value"]) for r in out.collect()}
    assert got == python_wordcount(lines)


def test_juice_algebraic_matches_full_group(spark, corpus):
    path, lines = corpus
    kv = mr.maple(mr.read_lines(spark, path), lambda l: ((w, "1") for w in l.split()))
    alg = {r["key"]: int(r["value"]) for r in mr.juice_algebraic(kv, F.count("*")).collect()}
    assert alg == python_wordcount(lines)


def test_exe_path_wordcount(spark, corpus, tmp_path):
    """Arbitrary-executable fidelity: mapper/reducer are real subprocesses
    taking a filename argv, like src/node.go:916 / src/juice_helpers.go:107."""
    path, lines = corpus
    mapper = tmp_path / "map.py"
    mapper.write_text(
        "#!/usr/bin/env python3\nimport sys\n"
        "for line in open(sys.argv[1]):\n"
        "    for w in line.split():\n        print(w, 1)\n"
    )
    reducer = tmp_path / "red.py"
    reducer.write_text(
        "#!/usr/bin/env python3\nimport sys\n"
        "print(sum(1 for _ in open(sys.argv[1])))\n"
    )
    for p in (mapper, reducer):
        p.chmod(p.stat().st_mode | stat.S_IEXEC)
    kv = mr.maple_exe(mr.read_lines(spark, path), str(mapper), num_tasks=4)
    out = mr.juice_exe(kv, str(reducer), num_tasks=4)
    got = {r["key"]: int(r["value"]) for r in out.collect()}
    assert got == python_wordcount(lines)


def test_value_with_spaces_survives(spark):
    """Documented divergence from the reference bug that truncates values at
    the first space (src/node.go:931-939)."""
    lines = spark.createDataFrame([("a",), ("b",)], ["value"])
    kv = mr.maple(lines, lambda l: [(l, "multi word value")])
    rows = {r["key"]: r["value"] for r in kv.collect()}
    assert rows == {"a": "multi word value", "b": "multi word value"}


def test_swap_twice_is_identity(spark):
    """reverse_map property: swap∘swap = id (src/reverse_map.go:29-42)."""
    lines = spark.createDataFrame([("k1 v1",), ("k2 v2",)], ["value"])
    kv = mr.maple(lines, lambda l: [tuple(l.split())])
    swap = lambda df: df.select(  # noqa: E731
        F.col("value").alias("key"), F.col("key").alias("value")
    )
    twice = swap(swap(kv))
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, kv.collect()))


def test_write_kv_text_roundtrip(spark, corpus, tmp_path):
    path, lines = corpus
    out = mr.run_wordcount_job(spark, path)
    dest = str(tmp_path / "wc_out")
    mr.write_kv_text(out, dest, single_file=True)
    back = {
        tuple(r["value"].split(None, 1))
        for r in spark.read.text(dest).collect()
    }
    assert {(k, str(v)) for k, v in python_wordcount(lines).items()} == back


def test_read_kv_lines_roundtrips_write_kv_text(spark, tmp_path):
    kv = spark.createDataFrame(
        [("a", "1"), ("b", "multi word value"), ("c", "")], ["key", "value"]
    )
    dest = str(tmp_path / "kv")
    mr.write_kv_text(kv, dest)
    back = {(r["key"], r["value"]) for r in mr.read_kv_lines(spark, dest).collect()}
    assert back == {("a", "1"), ("b", "multi word value"), ("c", "")}


def test_juice_job_delete_input_flag(spark, corpus, tmp_path):
    """Reference juice signature delete_input={0,1}
    (src/juice_helpers.go:117-121): intermediates are deleted iff the flag
    is set, and only after the result write succeeds."""
    import glob

    path, lines = corpus
    kv = mr.maple(mr.read_lines(spark, path), lambda l: ((w, "1") for w in l.split()))

    # delete_input=False: intermediates survive
    prefix0 = str(tmp_path / "int0")
    mr.write_kv_text(kv, prefix0)
    dest0 = str(tmp_path / "out0")
    mr.run_juice_job(spark, prefix0, dest0, delete_input=False)
    assert glob.glob(f"{prefix0}/part-*"), "intermediates must survive without the flag"
    got = {
        tuple(r["value"].split(None, 1))
        for r in spark.read.text(dest0).collect()
    }
    assert got == {(k, str(v)) for k, v in python_wordcount(lines).items()}

    # delete_input=True: intermediates gone, result identical
    prefix1 = str(tmp_path / "int1")
    mr.write_kv_text(kv, prefix1)
    dest1 = str(tmp_path / "out1")
    mr.run_juice_job(spark, prefix1, dest1, delete_input=True)
    assert not glob.glob(f"{prefix1}/part-*"), "flag must delete intermediates"
    assert not glob.glob(f"{prefix1}/.part-*.crc"), "checksum sidecars go too"
    got1 = {
        tuple(r["value"].split(None, 1))
        for r in spark.read.text(dest1).collect()
    }
    assert got1 == got


def test_cli_maple_juice_verbs_and_list_nodes(spark, corpus, tmp_path, capsys):
    """The reference's separate maple / juice verbs replay through the CLI,
    including delete_input=1; list-nodes surfaces scheduler membership."""
    import glob

    from mapreduceproject_spark.__main__ import main

    path, lines = corpus
    prefix = str(tmp_path / "cli_int")
    dest = str(tmp_path / "cli_out")
    assert main(["maple", "--src", path, "--prefix", prefix]) == 0
    assert glob.glob(f"{prefix}/part-*")
    assert (
        main(["juice", "--prefix", prefix, "--dest", dest, "--delete-input", "1"]) == 0
    )
    assert not glob.glob(f"{prefix}/part-*")
    got = {
        tuple(r["value"].split(None, 1))
        for r in spark.read.text(dest).collect()
    }
    assert got == {(k, str(v)) for k, v in python_wordcount(lines).items()}

    assert main(["list-nodes"]) == 0
    out = capsys.readouterr().out
    assert "self: appId=" in out and "node host=" in out

    assert main(["ping"]) == 0
    out = capsys.readouterr().out
    assert "ping ok" in out and "rtt_ms=" in out


def test_cli_explain(spark, sf_dir, capsys):
    from mapreduceproject_spark.__main__ import main

    assert main(["explain", "q6_forecast_revenue", "--sf-dir", sf_dir]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "PushedFilters" in out


def test_cli_parity_verb(spark, sf_dir, capsys):
    """`parity <query>` runs the DuckDB differential from the CLI and
    exits 0 on MATCH / 2 on unknown query."""
    from mapreduceproject_spark.__main__ import main

    assert main(["parity", "word_count", "--sf-dir", sf_dir]) == 0
    assert "MATCH" in capsys.readouterr().out
    assert main(["parity", "no_such_query", "--sf-dir", sf_dir]) == 2


def test_read_kv_lines_key_only_line(spark, tmp_path):
    """A line holding a key and no value is legal in the reference
    protocol and must parse as (key, '') — under ANSI mode an
    element_at(parts, 2) would throw on the 1-element split array."""
    p = tmp_path / "kv.txt"
    p.write_text("alpha 1\nbare\nbeta  2 3\n")
    got = {
        (r["key"], r["value"])
        for r in mr.read_kv_lines(spark, str(p)).collect()
    }
    assert got == {("alpha", "1"), ("bare", ""), ("beta", "2 3")}


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _write_exe(path, body: str) -> str:
    path.write_text("#!/bin/sh\n" + body)
    path.chmod(path.stat().st_mode | stat.S_IEXEC)
    return str(path)


WS_LINES = [
    "foo\x0bbar baz",        # VT: whitespace for the twin
    "foo\xa0bar",            # NBSP: not whitespace
    "a\rb\tc",
    "",
    "   lead and trail   ",
    "\t\t",
    "x x x",
]


def test_wordcount_maple_twin_matches_python_route(spark):
    """maple(wordcount_mapper) runs as Catalyst; a wrapping lambda forces
    the mapInPandas route through the same Python mapper — the (key,
    value) multisets must agree on every whitespace edge case."""
    lines = spark.createDataFrame([(l,) for l in WS_LINES], ["value"])
    catalyst = mr.maple(lines, mr.wordcount_mapper)
    python = mr.maple(lines, lambda l: mr.wordcount_mapper(l))
    got = Counter(map(tuple, catalyst.collect()))
    assert got == Counter(map(tuple, python.collect()))
    assert got[("foo\xa0bar", "1")] == 1 and got[("x", "1")] == 3
    assert got[("foo", "1")] == 1 and got[("b", "1")] == 1


def test_maple_plans_no_python_for_wordcount_and_arrow_for_exe(spark, tmp_path):
    (tmp_path / "in.txt").write_text("a b\n")
    lines = mr.read_lines(spark, str(tmp_path / "in.txt"))
    wc = _executed_plan(mr.maple(lines, mr.wordcount_mapper))
    assert "Python" not in wc and "MapInPandas" not in wc, wc
    exe = _write_exe(tmp_path / "cat.sh", 'cat "$1"\n')
    plan = _executed_plan(mr.maple_exe(lines, exe))
    assert "MapInPandas" in plan and "ExistingRDD" not in plan, plan


def test_maple_exe_protocol(spark, tmp_path):
    """``key value`` stdout: the value keeps internal whitespace, a last
    line with no newline still counts, empty partitions never exec, and
    a non-zero exit fails the job."""
    calls = tmp_path / "calls"
    calls.mkdir()
    exe = _write_exe(
        tmp_path / "echo.sh", f'touch {calls}/$$\nprintf \'%s\' "$(cat "$1")"\n'
    )
    rows = ["k1 v  with   spaces", "k2 last", "k3"]
    lines = spark.createDataFrame([(r,) for r in rows], ["value"])
    got = sorted(map(tuple, mr.maple_exe(lines, exe, num_tasks=8).collect()))
    assert got == [("k1", "v  with   spaces"), ("k2", "last"), ("k3", "")]
    assert 1 <= len(list(calls.iterdir())) <= len(rows)

    for p in calls.iterdir():
        p.unlink()
    empty = spark.createDataFrame([], "value string").repartition(4)
    assert mr.maple_exe(empty, exe).collect() == []
    assert not list(calls.iterdir()), "an empty partition must not exec"

    failing = _write_exe(tmp_path / "fail.sh", "exit 3\n")
    with pytest.raises(Exception, match="non-zero exit status 3"):
        mr.maple_exe(lines, failing).collect()
