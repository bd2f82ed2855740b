"""The maple/juice job API — the reference's MapReduce surface, Spark-first.

Reference semantics (SURVEY §2.2-2.3):
- ``maple <exe> <num_maples> <prefix> <src_dir>``: run an arbitrary
  executable once per input file (argv = filename,
  /root/reference/src/node.go:916), parse stdout lines as ``key value``
  (src/node.go:919-942), shuffle by key.
- ``juice <exe> <num_juices> <prefix> <dest> delete_input={0,1}``: group all
  values of a key, run the executable once per key-group with the whole
  group as input (src/juice_helpers.go:107), emit ``key <stdout>`` lines
  (src/juice_helpers.go:113-116).

Spark restatement: maple = flatMap (or pipe) → implicit hash shuffle;
juice = groupBy(key) → applyInPandas (full-group reducer, exactly the
reference's "exe sees every value at once" contract) or a builtin
aggregate when the reducer is algebraic (then Catalyst adds the partial/
final split the reference never had).  ``num_tasks`` maps to an explicit
``repartition(num_tasks, key)`` — the analogue of num_maples/num_juices.
AQE never coalesces that exchange, so exactly ``num_tasks`` reduce tasks
run: oversizing costs one task per empty partition.

Intentional upgrades over the reference (documented divergences, §7.4.3-4):
- values may contain spaces (the reference truncates at the first space,
  src/node.go:931-939) — we split key/value on the FIRST whitespace run;
- the last stdout line is not dropped (reference bug, src/node.go:924-928);
- shuffle is Spark's distributed exchange, not a single-master append
  (src/master.go:518-614), so retries are exactly-once, not at-least-once.

Scale: the function path never collects, and the word-count mapper runs
as Catalyst (``explode(tokens(value))``) with no Python worker at all.
The other Python paths cross as Arrow batches (``mapInPandas`` /
``applyInPandas``), never pickled rows; the exe path gathers a partition's
batches into one temp file, so executable overhead is O(partitions).  On
``local*`` masters the workers start from ``_pyworker``, which keeps
Python < 3.12 from re-reading every zip directory before each task (see
``session``).  Skewed keys in the full-group path are the same hazard the
reference had; ``juice_algebraic`` is the scalable alternative and AQE
skew-join handles the join-side cases.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from mapreduceproject_spark.functions.textfn import WS_CHARS, tokens

KV_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("value", StringType())]
)

MapFn = Callable[[str], Iterable[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]


def _parse_kv_line(line: str) -> tuple[str, str] | None:
    """``key value`` stdout protocol; value keeps internal whitespace."""
    parts = line.split(None, 1)
    if not parts:
        return None
    return parts[0], parts[1] if len(parts) > 1 else ""


def read_lines(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Line-oriented ingest — the reference's only record format
    (src/node.go:919-931). Column: ``value: string``."""
    return spark.read.text(paths)


# ---------------------------------------------------------------------------
# maple (map phase)
# ---------------------------------------------------------------------------

def maple(lines: DataFrame, fn: MapFn, num_tasks: int | None = None) -> DataFrame:
    """Function-path maple: fn(line) -> iterable of (key, value).

    flatMap over the line column; the shuffle to key-groups happens at the
    consuming juice (stage boundary), exactly where the reference ships
    key-files to the master (src/node.go:946-991) — minus the master.
    :func:`wordcount_mapper` itself compiles to its Catalyst twin
    (``explode(tokens(value))``, value ``"1"``) and starts no Python worker.
    """
    if num_tasks:
        lines = lines.repartition(num_tasks)
    if fn is wordcount_mapper:
        return lines.select(
            F.explode(tokens(F.col("value"))).alias("key"), F.lit("1").alias("value")
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys: list[str] = []
            vals: list[str] = []
            for line in pdf["value"]:
                for k, v in fn(line):
                    keys.append(k)
                    vals.append(v)
            yield pd.DataFrame({"key": keys, "value": vals})

    return lines.select("value").mapInPandas(run, KV_SCHEMA)


def maple_exe(lines: DataFrame, exe: str, num_tasks: int | None = None) -> DataFrame:
    """Exe-path maple with argv-file fidelity (SURVEY §7.4.1).

    The reference invokes the mapper once per input *file* with the
    filename as argv (src/node.go:916).  ``rdd.pipe`` is line-on-stdin, so
    instead each Spark partition gathers its Arrow batches into one temp
    file and execs ``exe <tmpfile>`` once — same contract, O(partitions)
    process spawns.
    """
    if num_tasks:
        lines = lines.repartition(num_tasks)

    def run_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf = [v for pdf in batches for v in pdf["value"]]
        if not buf:
            return
        with tempfile.NamedTemporaryFile("w", suffix=".txt", delete=False) as f:
            f.write("\n".join(buf) + "\n")
            tmp = f.name
        try:
            out = subprocess.run(
                [exe, tmp], capture_output=True, text=True, check=True
            ).stdout
        finally:
            os.unlink(tmp)
        kvs = [kv for kv in map(_parse_kv_line, out.splitlines()) if kv is not None]
        yield pd.DataFrame(kvs, columns=["key", "value"])

    return lines.select("value").mapInPandas(run_partition, KV_SCHEMA)


# ---------------------------------------------------------------------------
# juice (reduce phase)
# ---------------------------------------------------------------------------

def juice(kv: DataFrame, fn: ReduceFn, num_tasks: int | None = None) -> DataFrame:
    """Function-path juice: fn(key, all_values) -> reduced value.

    Full-group semantics (the exe sees every value at once,
    src/juice_helpers.go:107) via groupBy().applyInPandas.  Skewed keys can
    OOM a task — same failure mode as the reference's one-file-per-key; use
    :func:`juice_algebraic` when the reducer is associative.

    The reference's ``delete_input={0,1}`` juice argument lives on
    :func:`run_juice_job` (and the CLI ``juice`` verb): deleting the
    intermediate prefix only makes sense after the result is durably
    written, which a lazily-returned DataFrame cannot promise.
    """
    if num_tasks:
        kv = kv.repartition(num_tasks, "key")

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        k = pdf["key"].iloc[0]
        return pd.DataFrame({"key": [k], "value": [fn(k, pdf["value"].tolist())]})

    return kv.groupBy("key").applyInPandas(reduce_group, KV_SCHEMA)


def juice_exe(kv: DataFrame, exe: str, num_tasks: int | None = None) -> DataFrame:
    """Exe-path juice: executable gets the key-file (all values, one per
    line) as argv, stdout is the reduced value — src/juice_helpers.go:86-125."""
    if num_tasks:
        kv = kv.repartition(num_tasks, "key")

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        k = pdf["key"].iloc[0]
        with tempfile.NamedTemporaryFile("w", suffix=".txt", delete=False) as f:
            f.write("\n".join(pdf["value"].astype(str)) + "\n")
            tmp = f.name
        try:
            out = subprocess.run(
                [exe, tmp], capture_output=True, text=True, check=True
            ).stdout.strip()
        finally:
            os.unlink(tmp)
        return pd.DataFrame({"key": [k], "value": [out]})

    return kv.groupBy("key").applyInPandas(reduce_group, KV_SCHEMA)


def juice_algebraic(kv: DataFrame, agg: Column, num_tasks: int | None = None) -> DataFrame:
    """Juice for associative/commutative reducers as a builtin aggregate.

    This is the scale path the reference lacks: Catalyst plans
    partial_agg → exchange → final_agg, so the shuffle carries one row per
    (partition, key) instead of every value.  ``agg`` must alias its output
    column ``value``.
    """
    if num_tasks:
        kv = kv.repartition(num_tasks, "key")
    return kv.groupBy("key").agg(agg.alias("value"))


# ---------------------------------------------------------------------------
# end-to-end job (store-backed), mirroring the CLI verbs
# ---------------------------------------------------------------------------

def read_kv_lines(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Parse ``key SPACE value`` intermediate files back into kv rows —
    the juice-side ingest of the reference protocol (the inverse of
    :func:`write_kv_text`).  The value is everything after the FIRST
    whitespace run, so values with internal spaces round-trip (the
    documented upgrade over the reference's truncate-at-first-space,
    src/node.go:931-939)."""
    lines = (
        read_lines(spark, paths)
        .select(F.ltrim(F.col("value")).alias("line"))
        .filter(F.col("line") != "")
    )
    parts = F.split(F.col("line"), r"\s+", 2)
    # F.get (0-based) returns NULL out-of-bounds; element_at would THROW
    # under Spark 4's default ANSI mode on a key-only line ('key' with no
    # value is legal per the reference protocol — _parse_kv_line reads it
    # as ('key', '')), killing the juice job instead of coalescing.
    return lines.select(
        F.get(parts, 0).alias("key"),
        F.coalesce(F.get(parts, 1), F.lit("")).alias("value"),
    )


def delete_intermediate_files(src: list[str] | str) -> list[str]:
    """Delete maple-intermediate files matching ``src`` (a path, glob, or
    directory — directories delete their directly-contained files, the
    prefix-as-directory convention), each with the hidden ``.<name>.crc``
    checksum sidecar Hadoop writes beside it.  Returns the deleted data
    paths."""
    import glob as _glob

    deleted: list[str] = []

    def unlink(path: str) -> None:
        os.unlink(path)
        deleted.append(path)
        head, name = os.path.split(path)
        crc = os.path.join(head, f".{name}.crc")
        if os.path.isfile(crc):
            os.unlink(crc)

    patterns = [src] if isinstance(src, str) else list(src)
    for pat in patterns:
        for path in sorted(_glob.glob(pat)):
            if os.path.isdir(path):
                for inner in sorted(_glob.glob(os.path.join(path, "*"))):
                    if os.path.isfile(inner):
                        unlink(inner)
            elif os.path.isfile(path):
                unlink(path)
    return deleted


def run_juice_job(
    spark: SparkSession,
    src: list[str] | str,
    dest: str,
    *,
    exe: str | None = None,
    fn: ReduceFn | None = None,
    agg: Column | None = None,
    num_tasks: int | None = None,
    delete_input: bool = False,
    single_file: bool = False,
) -> None:
    """Standalone juice over maple-intermediate files — the reference's
    ``juice <exe> <num_juices> <sdfs_prefix> <dest> delete_input={0,1}``
    verb (README juice signature; worker delete at
    src/juice_helpers.go:117-121, src/node.go:848-852).

    ``delete_input=True`` removes the intermediate prefix files only
    AFTER the result write completes — on any failure the intermediates
    survive, which is strictly safer than the reference's
    delete-as-you-go.  Reducer precedence: ``exe`` > ``fn`` > ``agg``
    (default: per-key line count, the reference word-count reducer).
    """
    kv = read_kv_lines(spark, src)
    if exe is not None:
        out = juice_exe(kv, exe, num_tasks=num_tasks)
    elif fn is not None:
        out = juice(kv, fn, num_tasks=num_tasks)
    else:
        out = juice_algebraic(
            kv, agg if agg is not None else F.count("*").cast("string"),
            num_tasks=num_tasks,
        )
    write_kv_text(out, dest, single_file=single_file)
    if delete_input:
        delete_intermediate_files(src)


def wordcount_mapper(line: str):
    """The reference's flagship mapper — emit ``(word, "1")`` per token
    (src/reduce_exe_word_count.go:10-18) — tokenizing on the
    engine-shared whitespace class (functions/textfn.WS_CHARS).  ONE
    exported definition: Python's bare ``str.split()`` splits on Unicode
    whitespace (NBSP, NEL, ...) and would silently diverge from the
    JVM/DuckDB tokenizer twins on such text; every word-count entry
    point (this module, the CLI verbs, the registered query) must route
    through this function so the tokenization can never fork."""
    import re

    ws = re.compile(f"[{WS_CHARS}]+")
    return ((w, "1") for w in ws.split(line) if w)


def run_wordcount_job(
    spark: SparkSession,
    src_paths: list[str] | str,
    map_fn: MapFn | None = None,
) -> DataFrame:
    """Reference flagship job: maple(tokenize) + juice(count lines per key)
    (src/reduce_exe_word_count.go:10-37), algebraic form."""
    fn = map_fn or wordcount_mapper
    kv = maple(read_lines(spark, src_paths), fn)
    return juice_algebraic(kv, F.count("*"))


def write_kv_text(kv: DataFrame, dest: str, single_file: bool = False) -> None:
    """Result sink: ``key SPACE value`` lines (src/juice_helpers.go:113-116).

    ``single_file`` mimics the reference's concatenated sdfs_dest_filename
    (src/juice_helpers.go:318-358) — only sane for small results; the
    default keeps one file per partition, the scalable layout.
    """
    out = kv.select(F.concat_ws(" ", "key", "value").alias("value"))
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").text(dest)
