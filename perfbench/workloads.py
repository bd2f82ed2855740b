"""The benchmark workloads as lists of timed ops.

An op is one closed-loop request: the harness calls ``op.run(ctx, check)``
and the op returns ``(wall_s, ok)``.  ``wall_s`` covers only calls into the
program; the output check runs after the clock stops.  A registry query is
checked only when ``check`` is set (its sink is then a collect, not the noop
sink); the maple/juice ops read their outputs back on every call.  ``ok`` is
``None`` when the op was not checked on this call.
"""

from __future__ import annotations

import contextlib
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

# The run budget (4 + 22 runs per workload in under an hour) leaves a warm
# pass of a few seconds, so each workload is a fixed subset: six TPC-H
# queries covering scan, multi-way join and semi-join shapes; the maple/juice
# job surface plus a foreachBatch stream.
TPCH_OPS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q6_forecast_revenue", "q12_late_shipments", "q18_large_orders",
)
STREAM_OP = "stream_upsert_latest"

BIN = Path(__file__).resolve().parent / "bin"


@dataclass
class Ctx:
    spark: object
    work: Path
    sf_dir: str = ""
    oracle: dict = field(default_factory=dict)  # op name -> pandas frame
    corpus: Path | None = None
    counts: dict = field(default_factory=dict)  # word -> occurrences
    store: object = None
    span: Callable = lambda name, layer: contextlib.nullcontext()  # noqa: E731


@dataclass
class Op:
    name: str
    run: Callable[[Ctx, bool], tuple[float, bool | None]]


# -- registry queries -----------------------------------------------------------

def query_op(name: str) -> Op:
    def run(ctx: Ctx, check: bool):
        from mapreduceproject_spark import plans
        from mapreduceproject_spark.oracle import compare_frames

        t0 = time.perf_counter()
        with ctx.span("build", "build"):
            df = plans.QUERIES[name](ctx.spark, ctx.sf_dir)
        with ctx.span("sink", "sink"):
            if check:
                out = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        if not check:
            return wall, None
        return wall, compare_frames(name, out, ctx.oracle[name]).ok

    return Op(name, run)


# -- maplejuice ---------------------------------------------------------------
# One pass: put the corpus into the store, word count through the function
# path, a full-group juice, an executable maple/juice job that deletes its
# intermediate files, then get/ls/delete every stored file.

def bucket_mapper(line: str):
    """(last letter of word, word) for every word: ten key groups."""
    return ((w[-1], w) for w in line.split())


def distinct_reducer(key: str, values: list[str]) -> str:
    return str(len(set(values)))


def _read_kv(dest: Path) -> dict[str, str]:
    out = {}
    for part in dest.glob("part-*"):
        for line in part.read_text().splitlines():
            k, _, v = line.partition(" ")
            out[k] = v.strip()
    return out


def _by_bucket(counts: dict[str, int]) -> tuple[Counter, Counter]:
    words, tokens = Counter(), Counter()
    for w, c in counts.items():
        words[w[-1]] += 1
        tokens[w[-1]] += c
    return words, tokens


def _names(ctx: Ctx) -> list[str]:
    return sorted(p.name for p in ctx.corpus.iterdir())


def _op_put(ctx: Ctx, check: bool):
    files = sorted(ctx.corpus.iterdir())
    t0 = time.perf_counter()
    for f in files:
        ctx.store.put(f, f.name)
    wall = time.perf_counter() - t0
    return wall, ctx.store.store() == [f.name for f in files]


def _op_wordcount(ctx: Ctx, check: bool):
    from pyspark.sql import functions as F

    from mapreduceproject_spark.operators import mapreduce as mr

    dest = ctx.work / "out_wordcount"
    t0 = time.perf_counter()
    paths = [str(ctx.store.path(n)) for n in _names(ctx)]
    kv = mr.maple(mr.read_lines(ctx.spark, paths), mr.wordcount_mapper)
    mr.write_kv_text(mr.juice_algebraic(kv, F.count("*").cast("string")), str(dest))
    wall = time.perf_counter() - t0
    got = _read_kv(dest)
    return wall, got == {w: str(c) for w, c in ctx.counts.items()}


def _op_full_group(ctx: Ctx, check: bool):
    from mapreduceproject_spark.operators import mapreduce as mr

    dest = ctx.work / "out_fullgroup"
    t0 = time.perf_counter()
    paths = [str(ctx.store.path(n)) for n in _names(ctx)]
    kv = mr.maple(mr.read_lines(ctx.spark, paths), bucket_mapper)
    mr.write_kv_text(mr.juice(kv, distinct_reducer), str(dest))
    wall = time.perf_counter() - t0
    words, _ = _by_bucket(ctx.counts)
    return wall, _read_kv(dest) == {b: str(n) for b, n in words.items()}


def _op_exe_job(ctx: Ctx, check: bool):
    from mapreduceproject_spark.operators import mapreduce as mr

    inter, dest = ctx.work / "inter_exe", ctx.work / "out_exe"
    t0 = time.perf_counter()
    paths = [str(ctx.store.path(n)) for n in _names(ctx)]
    kv = mr.maple_exe(mr.read_lines(ctx.spark, paths), str(BIN / "bucketmap"))
    mr.write_kv_text(kv, str(inter))
    mr.run_juice_job(
        ctx.spark, str(inter), str(dest), exe=str(BIN / "countreduce"),
        delete_input=True,
    )
    wall = time.perf_counter() - t0
    _, tokens = _by_bucket(ctx.counts)
    # delete_input removes the data files; Hadoop's hidden .crc files stay
    left = [p for p in inter.iterdir() if p.is_file() and not p.name.startswith(".")]
    return wall, not left and _read_kv(dest) == {b: str(n) for b, n in tokens.items()}


def _op_get_ls_delete(ctx: Ctx, check: bool):
    got = ctx.work / "got"
    shutil.rmtree(got, ignore_errors=True)
    got.mkdir()
    names = ctx.store.store()
    t0 = time.perf_counter()
    listed = [ctx.store.ls(n) for n in names]
    for n in names:
        ctx.store.get(n, got / n)
    for n in names:
        ctx.store.delete(n)
    wall = time.perf_counter() - t0
    same = all(
        (got / n).stat().st_size == (ctx.corpus / n).stat().st_size for n in names
    )
    return wall, same and all(listed) and ctx.store.store() == []


MAPLEJUICE_OPS = (
    Op("sdfs_put", _op_put),
    Op("maple_juice_wordcount", _op_wordcount),
    Op("juice_full_group", _op_full_group),
    Op("exe_juice_job", _op_exe_job),
    Op("sdfs_get_ls_delete", _op_get_ls_delete),
)


def ops(workload: str) -> list[Op]:
    if workload == "tpch":
        return [query_op(n) for n in TPCH_OPS]
    if workload == "maplejuice":
        return [*MAPLEJUICE_OPS, query_op(STREAM_OP)]
    raise KeyError(workload)
