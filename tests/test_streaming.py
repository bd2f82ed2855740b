"""Streaming semantics beyond the oracle-parity gate: watermark late-data
drops across micro-batches, and the custom applyInPandasWithState
sessionizer against the built-in session_window."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mapreduceproject_spark.plans import QUERIES
from mapreduceproject_spark.streaming import jobs, stateful


def _write_parquet(path, rows):
    pd.DataFrame(rows).to_parquet(path, index=False)


def test_watermark_drops_late_data(spark, tmp_path):
    """Three micro-batches (maxFilesPerTrigger=1).  Batch 0 advances the
    watermark to 12:00-1h=11:00.  Spark's late-row filter applies the
    watermark with one batch of lag, so batch 1's 09:30 row still merges
    into the open [09:00,10:00) window (the watermark is a lower-bound
    contract — accepting extra rows is allowed), but batch 2's 08:30 row
    is genuinely late: its [08:00,09:00) window must never appear, and no
    emitted window may be resurrected."""
    src = tmp_path / "stream_src"
    src.mkdir()

    def w(path, rows, mtime):
        _write_parquet(path, rows)
        os.utime(path, (mtime, mtime))  # file source processes in mtime order

    w(
        src / "a.parquet",
        {
            "event_id": [1, 2],
            "ts": [
                pd.Timestamp("2024-01-01 09:40:00").value,  # ns long
                pd.Timestamp("2024-01-01 12:00:00").value,
            ],
            "user_id": [1, 1],
            "event_type": ["click", "click"],
            "value": [1.0, 1.0],
            "props": ["{}", "{}"],
        },
        1000,
    )
    w(
        src / "b.parquet",
        {
            "event_id": [3],
            "ts": [pd.Timestamp("2024-01-01 09:30:00").value],
            "user_id": [1],
            "event_type": ["click"],
            "value": [1.0],
            "props": ["{}"],
        },
        2000,
    )
    w(
        src / "c.parquet",
        {
            "event_id": [4],
            "ts": [pd.Timestamp("2024-01-01 08:30:00").value],
            "user_id": [1],
            "event_type": ["click"],
            "value": [1.0],
            "props": ["{}"],
        },
        3000,
    )

    s = jobs.streaming_session(spark)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        s.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp"))
    )
    out = jobs.run_to_df(
        raw.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n"),
        "append",
    )
    got = sorted((r["ws"].isoformat(), r["n"]) for r in out.collect())
    # [09:00,10:00) emitted exactly once (09:40 + the one-batch-late 09:30);
    # the genuinely late 08:30 row's [08:00,09:00) window never appears.
    assert got == [("2024-01-01T09:00:00", 2)]


def test_stateful_sessionizer_matches_builtin(spark, sf_dir):
    """Every session the custom operator emits must exactly match a
    built-in session_window session (same start/end/count); sessions still
    open at end-of-stream legitimately stay in state."""
    ev = jobs.read_events_stream(jobs.streaming_session(spark), sf_dir)
    emitted = stateful.sessionize(ev, watermark_delay="0 seconds")
    got = jobs.run_to_df(emitted, "append").collect()
    assert len(got) > 0

    batch = QUERIES["session_window_stats"](spark, sf_dir).collect()
    batch_keys = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch
    }
    for r in got:
        key = (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        assert key in batch_keys, f"emitted session not in batch result: {key}"

    # and the vast majority of batch sessions should have been emitted
    # (only per-user trailing sessions may be withheld)
    n_users = len({r["user_id"] for r in batch})
    assert len(got) >= len(batch) - n_users


@pytest.mark.parametrize("mode", ["complete"])
def test_streaming_agg_is_rerunnable(spark, sf_dir, mode):
    """run_to_df uses a fresh sink per call — the same job can run twice
    in one session (the driver calls queries repeatedly)."""
    s = jobs.streaming_session(spark)
    a = jobs.run_to_df(jobs.tumbling_counts(jobs.read_events_stream(s, sf_dir)), mode).count()
    b = jobs.run_to_df(jobs.tumbling_counts(jobs.read_events_stream(s, sf_dir)), mode).count()
    assert a == b > 0


def test_foreachbatch_upsert_latest_per_user(spark, sf_dir, tmp_path):
    """Across micro-batches, the upsert table must converge to exactly the
    batch 'latest event per user' result (latest ts wins, key tie-break)."""
    from pyspark.sql import Window

    path = str(tmp_path / "user_state")
    ev = jobs.read_events_stream(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id"
    )
    got = jobs.upsert_latest_per_key(ev, spark, path, ["user_id"], "ts")

    from mapreduceproject_spark.sources.catalog import load_table

    batch = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.asc("user_id"))
    expect = (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    got_rows = sorted((r["user_id"], r["event_id"]) for r in got.collect())
    exp_rows = sorted((r["user_id"], r["event_id"]) for r in expect.collect())
    assert got_rows == exp_rows and len(got_rows) > 0


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """Stop a checkpointed stream, add new data, restart with the SAME
    checkpoint: only the new file is processed — no reprocessing, no loss.
    This is the recovery contract the reference implements by hand with
    task-replay bookkeeping (src/node.go:1129-1261); Spark's checkpoint
    gives it per-source exactly-once."""
    src = tmp_path / "cp_src"
    out = tmp_path / "cp_out"
    ckpt = str(tmp_path / "cp_state")
    src.mkdir()

    def add_file(name, ids):
        _write_parquet(
            src / name,
            {
                "event_id": ids,
                "ts": [pd.Timestamp("2024-01-01").value] * len(ids),
                "user_id": ids,
                "event_type": ["click"] * len(ids),
                "value": [1.0] * len(ids),
                "props": ["{}"] * len(ids),
            },
        )

    def run_once():
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
            .parquet(str(src))
            .select("event_id")
        )
        q = (
            raw.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    add_file("a.parquet", [1, 2, 3])
    run_once()
    first = sorted(r["event_id"] for r in spark.read.parquet(str(out)).collect())
    assert first == [1, 2, 3]

    add_file("b.parquet", [4, 5])
    run_once()
    second = sorted(r["event_id"] for r in spark.read.parquet(str(out)).collect())
    # exactly-once: old rows appear once, new rows appended once
    assert second == [1, 2, 3, 4, 5]


def test_stream_ts_scale_matches_batch(spark, sf_dir):
    """The streaming events read must land on the same event times as the
    batch catalog regardless of the fixture's physical timestamp type
    (TIMESTAMP(MICROS) in current driver data, TIMESTAMP(NANOS) earlier).
    A wrong scale assumption compresses/expands all times 1000x: windows
    collapse and interval joins explode."""
    from mapreduceproject_spark.sources.catalog import load_table

    ev = jobs.read_events_stream(jobs.streaming_session(spark), sf_dir)
    got = jobs.run_to_df(
        ev.groupBy().agg(
            F.min("ts").alias("mn"), F.max("ts").alias("mx"), F.count("*").alias("n")
        ),
        mode="complete",
    ).collect()[0]
    exp = (
        load_table(spark, sf_dir, "events")
        .agg(F.min("ts").alias("mn"), F.max("ts").alias("mx"), F.count("*").alias("n"))
        .collect()[0]
    )
    assert got["n"] == exp["n"]
    # batch side is timestamp_ntz, stream side timestamp; session tz is UTC
    # so the wall-clock values must be identical
    assert got["mn"].replace(tzinfo=None) == exp["mn"]
    assert got["mx"].replace(tzinfo=None) == exp["mx"]


def test_streaming_session_scopes_shuffle_conf(spark, sf_dir):
    """Running a streaming job must not mutate the parent session's
    shuffle.partitions — the stream plans on a cloned session."""
    parent_before = spark.conf.get("spark.sql.shuffle.partitions")
    s = jobs.streaming_session(spark, state_partitions=5)
    assert s is not spark
    assert s.conf.get("spark.sql.shuffle.partitions") == "5"
    assert spark.conf.get("spark.sql.shuffle.partitions") == parent_before

    ev = jobs.read_events_stream(s, sf_dir)
    out = jobs.run_to_df(jobs.stream_dedup(ev), mode="append")
    assert out.count() > 0
    assert s.conf.get("spark.sql.shuffle.partitions") == "5"
    assert spark.conf.get("spark.sql.shuffle.partitions") == parent_before


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """Second batch touching one key must leave every other bucket's files
    byte-identical (partition-pruned merge, not a full-table rewrite)."""
    import hashlib as hl

    path = str(tmp_path / "state_tbl")

    def stream_of(rows, subdir):
        src = tmp_path / subdir
        src.mkdir()
        _write_parquet(src / "x.parquet", rows)
        from pyspark.sql.types import (
            LongType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("k", LongType()),
                StructField("ts", LongType()),
                StructField("v", LongType()),
            ]
        )
        return spark.readStream.schema(schema).parquet(str(src))

    got1 = jobs.upsert_latest_per_key(
        stream_of({"k": list(range(50)), "ts": [1] * 50, "v": [10] * 50}, "b1"),
        spark,
        path,
        ["k"],
        "ts",
        num_buckets=8,
    )
    assert got1.count() == 50

    import os

    def file_hashes():
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(root, f)
                out[p] = hl.md5(open(p, "rb").read()).hexdigest()
        return out

    before = file_hashes()

    got2 = jobs.upsert_latest_per_key(
        stream_of({"k": [7], "ts": [2], "v": [99]}, "b2"),
        spark,
        path,
        ["k"],
        "ts",
        num_buckets=8,
    )
    rows = {r["k"]: r["v"] for r in got2.collect()}
    assert rows[7] == 99 and len(rows) == 50

    after = file_hashes()
    from pyspark.sql import functions as FF

    touched = (
        spark.range(1)
        .select(FF.pmod(FF.xxhash64(FF.lit(7).cast("long")), FF.lit(8)).alias("b"))
        .collect()[0]["b"]
    )
    touched_dir = os.path.join(path, f"_kb={touched}")
    untouched_before = {p: h for p, h in before.items() if not p.startswith(touched_dir)}
    untouched_after = {p: h for p, h in after.items() if not p.startswith(touched_dir)}
    assert untouched_before == untouched_after and len(untouched_before) > 0
    # and the touched bucket WAS rewritten
    assert {p: h for p, h in before.items() if p.startswith(touched_dir)} != {
        p: h for p, h in after.items() if p.startswith(touched_dir)
    }


def test_stateful_running_zscore_matches_batch(spark, sf_dir):
    """The stateful per-event z-score must be bit-identical to the batch
    window twin: integer (n, sum, sumsq) state makes the math replayable
    exactly, regardless of micro-batch slicing."""
    ev = jobs.read_events_stream(jobs.streaming_session(spark), sf_dir)
    got = {
        r["event_id"]: r
        for r in jobs.run_to_df(stateful.running_zscore(ev), "append").collect()
    }
    batch = {
        r["event_id"]: r for r in QUERIES["running_zscore"](spark, sf_dir).collect()
    }
    assert set(got) == set(batch)
    for eid, b in batch.items():
        g = got[eid]
        assert g["n_prior"] == b["n_prior"], eid
        assert g["c"] == b["c"], eid
        if b["zscore"] is None:
            assert g["zscore"] is None or g["zscore"] != g["zscore"], eid
        else:
            assert abs(g["zscore"] - b["zscore"]) < 1e-12, eid


def test_rocksdb_state_store_matches_default(spark, sf_dir):
    """SCALING.md names RocksDB + changelog checkpointing as the
    production state-store path; prove the provider actually runs here
    and is result-identical to the default HDFS-backed store on the same
    windowed aggregation (state layout is provider-internal, results are
    the contract)."""
    base_sess = jobs.streaming_session(spark)
    base = {
        tuple(r)
        for r in jobs.run_to_df(
            jobs.tumbling_counts(jobs.read_events_stream(base_sess, sf_dir)),
            mode="complete",
        ).collect()
    }

    rocks_sess = jobs.streaming_session(spark)
    rocks_sess.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    rocks = {
        tuple(r)
        for r in jobs.run_to_df(
            jobs.tumbling_counts(jobs.read_events_stream(rocks_sess, sf_dir)),
            mode="complete",
        ).collect()
    }
    assert base and rocks == base


def test_upsert_recovers_interrupted_bucket_swap(spark, tmp_path):
    """Simulate a crash between the two swap renames (bucket dir moved to
    its dot-prefixed .old name, new dir never arrived): the next batch
    must restore the saved bucket before merging, so its state survives.
    Also: the saved dir must be invisible to partition discovery while it
    exists (dot-prefixed names are always filtered)."""
    import os
    import shutil

    path = str(tmp_path / "state_recover")

    def stream_of(rows, subdir):
        src = tmp_path / subdir
        src.mkdir()
        _write_parquet(src / "x.parquet", rows)
        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            [
                StructField("k", LongType()),
                StructField("ts", LongType()),
                StructField("v", LongType()),
            ]
        )
        return spark.readStream.schema(schema).parquet(str(src))

    got1 = jobs.upsert_latest_per_key(
        stream_of({"k": list(range(40)), "ts": [1] * 40, "v": [10] * 40}, "r1"),
        spark,
        path,
        ["k"],
        "ts",
        num_buckets=8,
    )
    assert got1.count() == 40
    # simulate the interrupted swap on one bucket
    victims = [e for e in os.listdir(path) if e.startswith("_kb=")]
    victim = sorted(victims)[0]
    os.rename(
        os.path.join(path, victim),
        os.path.join(path, f".old-deadbeef-{victim}"),
    )
    # while interrupted: the dot-dir must not pollute partition discovery
    assert "_kb" in spark.read.parquet(path).columns
    assert str(spark.read.parquet(path).schema["_kb"].dataType) != "StringType()"
    # next batch (touching a different key) must first restore the bucket
    got2 = jobs.upsert_latest_per_key(
        stream_of({"k": [0], "ts": [2], "v": [99]}, "r2"),
        spark,
        path,
        ["k"],
        "ts",
        num_buckets=8,
    )
    rows = {r["k"]: r["v"] for r in got2.collect()}
    assert len(rows) == 40, "interrupted bucket's state was lost"
    assert rows[0] == 99
    assert not [e for e in os.listdir(path) if e.startswith(".old-")]
    shutil.rmtree(path, ignore_errors=True)


def _lts_stream(spark, tmp_path, rows, subdir):
    src = tmp_path / subdir
    src.mkdir()
    _write_parquet(src / "x.parquet", rows)
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("ts", LongType()),
            StructField("v", LongType()),
        ]
    )
    return spark.readStream.schema(schema).parquet(str(src))


def test_upsert_reads_declare_the_inferred_schema(spark, sf_dir, tmp_path, monkeypatch):
    """Every read of the upsert's own table (the per-batch current read and
    the final read) declares its schema instead of inferring it, and what
    it declares is what inference gives, the _kb partition type included."""
    from pyspark.sql.readwriter import DataFrameReader

    path = str(tmp_path / "state")
    real = DataFrameReader.parquet
    reads = []

    def recording(self, *paths, **options):
        df = real(self, *paths, **options)
        if all(p.startswith(path) for p in paths):
            reads.append((paths, df.schema, real(spark.read, *paths).schema))
        return df

    monkeypatch.setattr(DataFrameReader, "parquet", recording)
    for _ in range(2):  # the second run merges into the first run's table
        ev = jobs.read_events_stream(spark, sf_dir).select(
            "user_id", "event_type", "ts", "event_id"
        )
        jobs.upsert_latest_per_key(
            ev, spark, path, ["user_id"], "ts", tiebreak_cols=["event_id"]
        )
    # first run: final read; second run: current read and final read
    assert len(reads) == 3
    for paths, declared, inferred in reads:
        assert declared == inferred, paths
    assert reads[1][1]["_kb"].dataType.simpleString() == "int"


def test_upsert_scans_each_batch_once(spark, sf_dir, tmp_path, monkeypatch):
    """Each micro-batch feeds both the touched-bucket collect and the merge
    write.  The callback persists it, so the run reads every source row
    once, and unpersists it, so no cached frame outlives the call."""
    from pyspark.sql.streaming import DataStreamWriter

    from mapreduceproject_spark.sources.catalog import load_table

    real_start = DataStreamWriter.start
    queries = []

    def recording(self, *args, **kwargs):
        q = real_start(self, *args, **kwargs)
        queries.append(q)
        return q

    n_source = load_table(spark, sf_dir, "events").count()
    spark.catalog.clearCache()
    monkeypatch.setattr(DataStreamWriter, "start", recording)
    ev = jobs.read_events_stream(jobs.streaming_session(spark), sf_dir).select(
        "user_id", "event_type", "ts", "event_id"
    )
    jobs.upsert_latest_per_key(
        ev, spark, str(tmp_path / "state"), ["user_id"], "ts", tiebreak_cols=["event_id"]
    )
    (q,) = queries
    assert sum(p.numInputRows for p in q.recentProgress) == n_source > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_streaming_queries_leave_parent_partitions_alone(spark, sf_dir):
    """Every registered streaming query sets its partition count on its
    own cloned session: the caller's shuffle.partitions is unchanged after
    each one, even when it differs from the streams' count."""
    from mapreduceproject_spark.plans import streaming_queries

    names = [
        n for n, fn in QUERIES.items() if fn.__module__ == streaming_queries.__name__
    ]
    assert len(names) >= 10
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        for name in names:
            QUERIES[name](spark, sf_dir).count()
            assert spark.conf.get("spark.sql.shuffle.partitions") == "3", name
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_upsert_rename_recovery_sweeps_orphan_tmp(spark, tmp_path):
    """A killed upsert can leave a full merged copy of the
    touched buckets at '{path}.tmp-<swap>' (a sibling of the table).  The
    next batch's recovery sweep must reclaim it."""
    path = str(tmp_path / "state_tmpsweep")
    jobs.upsert_latest_per_key(
        _lts_stream(spark, tmp_path, {"k": [0, 1], "ts": [1, 1], "v": [5, 6]}, "t1"),
        spark,
        path,
        ["k"],
        "ts",
        num_buckets=4,
    )
    orphan = f"{path}.tmp-cafebabe"
    os.makedirs(os.path.join(orphan, "_kb=0"))
    got = jobs.upsert_latest_per_key(
        _lts_stream(spark, tmp_path, {"k": [0], "ts": [2], "v": [50]}, "t2"),
        spark,
        path,
        ["k"],
        "ts",
        num_buckets=4,
    )
    assert {r["k"]: r["v"] for r in got.collect()} == {0: 50, 1: 6}
    assert not os.path.exists(orphan)


def _max_job_id(spark) -> int:
    jobs_list = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max([jobs_list.apply(i).jobId() for i in range(jobs_list.size())] + [-1])


def test_upsert_first_batch_makes_no_bucket_collect(spark, tmp_path):
    """A batch with no table to merge into takes the buckets it swaps from
    its merge write's _kb= directories: no distinct-_kb collect and no
    persist.  The call runs the merge write (the window shuffle's map stage
    and the write) and nothing else."""
    stream = _lts_stream(spark, tmp_path, {"k": list(range(20)), "ts": [1] * 20, "v": [3] * 20}, "f1")
    before = _max_job_id(spark)
    jobs.upsert_latest_per_key(stream, spark, str(tmp_path / "state"), ["k"], "ts", num_buckets=4)
    assert 1 <= _max_job_id(spark) - before <= 2
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_upsert_accepts_file_uri(spark, tmp_path):
    """A file: URI names the same table as its plain path, and the swap
    leaves no .tmp- copy behind."""
    rows = {"k": [0, 1, 2, 1], "ts": [1, 1, 1, 2], "v": [5, 6, 7, 8]}
    got = {}
    for name, path in (("plain", str(tmp_path / "plain")),
                       ("uri", (tmp_path / "uri").as_uri())):
        out = jobs.upsert_latest_per_key(
            _lts_stream(spark, tmp_path, rows, f"src_{name}"), spark, path, ["k"], "ts", num_buckets=4
        )
        got[name] = sorted(tuple(r) for r in out.collect())
    assert got["uri"] == got["plain"] and len(got["uri"]) == 3
    assert os.path.isdir(tmp_path / "uri")
    assert not [e for e in os.listdir(tmp_path) if ".tmp-" in e]


def test_upsert_rejects_a_non_local_scheme(spark, tmp_path):
    """The swap renames with os: a path the driver cannot rename is
    refused before the stream starts, leaving nothing behind."""
    stream = _lts_stream(spark, tmp_path, {"k": [0], "ts": [1], "v": [5]}, "h1")
    with pytest.raises(ValueError, match="driver-local"):
        jobs.upsert_latest_per_key(stream, spark, "hdfs://nn:8020/state", ["k"], "ts")
    assert not spark.streams.active
    assert sorted(os.listdir(tmp_path)) == ["h1"]


# -- streaming ingest near-dup gate (round 6) ---------------------------------


def _docs_frame(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _stage_batches(spark, tmp_path, batches, name):
    """Write each list of (doc_id, text) rows as ONE parquet file with
    increasing mtimes so the file stream source replays them in order."""
    import glob
    import shutil
    import time

    stage = tmp_path / f"{name}_stage"
    stage.mkdir()
    base = int(time.time())
    for b, rows in enumerate(batches):
        tmp = str(tmp_path / f"{name}_w{b}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = str(stage / f"batch-{b}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (base + 2 * b, base + 2 * b))
    return str(stage)


def _incr_stream(spark, stage):
    s = jobs.streaming_session(spark)
    return (
        s.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/*.parquet")
    )


_CORPUS_TEXTS = [
    "alpha beta gamma delta epsilon zeta",
    "one two three four five six seven",
    "the quick brown fox jumps over the lazy dog",
]


def test_incremental_stream_single_batch_equals_batch_twin(spark, tmp_path):
    """With ONE micro-batch the streaming gate must equal the batch
    operator on the same split — same pairs, same exact jaccard."""
    from mapreduceproject_spark.operators import dedup as dd

    corpus = _docs_frame(spark, _CORPUS_TEXTS)
    new_rows = [
        (100, "alpha beta gamma delta epsilon eta"),   # near-dup of doc 0
        (101, "completely unrelated words entirely"),
    ]
    stage = _stage_batches(spark, tmp_path, [new_rows], "single")
    got = jobs.incremental_minhash_stream(
        _incr_stream(spark, stage), spark,
        str(tmp_path / "single_state"), str(tmp_path / "single_ckpt"),
        corpus, "doc_id", "text",
    )
    want = dd.minhash_lsh_incremental(
        _docs_frame(spark, []).unionByName(
            spark.createDataFrame(new_rows, "doc_id long, text string")
        ),
        corpus, "doc_id", "text",
    )
    g = {(r["new_id"], r["prior_id"], round(r["jaccard"], 9)) for r in got.collect()}
    w = {(r["new_id"], r["corpus_id"], round(r["jaccard"], 9)) for r in want.collect()}
    assert g and g == w


def test_incremental_stream_pairs_strictly_earlier_only(spark, tmp_path):
    """Across micro-batches a doc pairs with the corpus AND earlier
    batches, never its own batch: two near-identical docs in the SAME
    batch emit nothing between themselves; the same doc re-arriving in a
    LATER batch pairs with the earlier arrival."""
    corpus = _docs_frame(spark, _CORPUS_TEXTS)
    twin_a = (200, "red orange yellow green blue indigo violet")
    twin_b = (201, "red orange yellow green blue indigo purple")
    later = (300, "red orange yellow green blue indigo violet maroon")
    stage = _stage_batches(spark, tmp_path, [[twin_a, twin_b], [later]], "order")
    got = jobs.incremental_minhash_stream(
        _incr_stream(spark, stage), spark,
        str(tmp_path / "order_state"), str(tmp_path / "order_ckpt"),
        corpus, "doc_id", "text",
    )
    pairs = {(r["new_id"], r["prior_id"]) for r in got.collect()}
    assert (200, 201) not in pairs and (201, 200) not in pairs  # same batch
    assert (300, 200) in pairs  # later batch vs earlier batch
    assert all(n != p for n, p in pairs)


def test_incremental_stream_crash_replay_is_idempotent(spark, tmp_path):
    """Kill the gate mid-epoch (after earlier epochs committed), then
    restart with the same checkpoint: the replayed epoch overwrites its
    own results/index dirs and the final output equals an uninterrupted
    run — the per-epoch-overwrite idempotence contract."""
    import pytest

    from mapreduceproject_spark.operators import dedup as dd

    corpus = _docs_frame(spark, _CORPUS_TEXTS)
    b0 = [(400, "alpha beta gamma delta epsilon zeta eta theta iota kappa")]
    b1 = [(401, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda")]
    # reference: uninterrupted run
    stage_ref = _stage_batches(spark, tmp_path, [b0, b1], "ref")
    ref = {
        (r["new_id"], r["prior_id"], round(r["jaccard"], 9))
        for r in jobs.incremental_minhash_stream(
            _incr_stream(spark, stage_ref), spark,
            str(tmp_path / "ref_state"), str(tmp_path / "ref_ckpt"),
            corpus, "doc_id", "text",
        ).collect()
    }
    assert ref  # 401 pairs with 400 (earlier batch) and maybe corpus
    # crashing run: poison verify_jaccard to die on its 2nd per-epoch call
    stage = _stage_batches(spark, tmp_path, [b0, b1], "crash")
    state, ckpt = str(tmp_path / "crash_state"), str(tmp_path / "crash_ckpt")
    real = dd.verify_jaccard
    calls = {"n": 0}

    def dying(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash mid-epoch")
        return real(*a, **k)

    dd.verify_jaccard = dying
    try:
        with pytest.raises(Exception, match="injected crash"):
            jobs.incremental_minhash_stream(
                _incr_stream(spark, stage), spark, state, ckpt,
                corpus, "doc_id", "text",
            )
    finally:
        dd.verify_jaccard = real
    # restart with the SAME state + checkpoint: epoch 1 replays
    got = {
        (r["new_id"], r["prior_id"], round(r["jaccard"], 9))
        for r in jobs.incremental_minhash_stream(
            _incr_stream(spark, stage), spark, state, ckpt,
            corpus, "doc_id", "text",
        ).collect()
    }
    assert got == ref


def test_incremental_stream_crash_mid_write_gen_no_same_batch_pairs(
    spark, tmp_path
):
    """Kill the gate INSIDE ``_write_generation`` — after the epoch's
    results and its bucket-generation write landed, but before the
    shingle write (checkpoint uncommitted).  The replayed epoch must not
    read its own partial ``ingest=b<epoch>`` generation: no same-batch or
    self pairs (the strictly-earlier contract), no crash on the garbage
    parquet file the fault leaves behind, and the final output must equal
    an uninterrupted run exactly."""
    import pytest

    corpus = _docs_frame(spark, _CORPUS_TEXTS)
    # b1 holds two near-identical docs: if the replay reads its own
    # generation, (500,501)/(501,500) same-batch pairs and (500,500)
    # jaccard-1.0 self pairs appear in the overwritten results
    b0 = [(400, "alpha beta gamma delta epsilon zeta eta theta iota kappa")]
    b1 = [
        (500, "alpha beta gamma delta epsilon zeta eta theta iota mu"),
        (501, "alpha beta gamma delta epsilon zeta eta theta iota nu"),
    ]
    stage_ref = _stage_batches(spark, tmp_path, [b0, b1], "wgref")
    ref = {
        (r["new_id"], r["prior_id"], r["jaccard"])
        for r in jobs.incremental_minhash_stream(
            _incr_stream(spark, stage_ref), spark,
            str(tmp_path / "wgref_state"), str(tmp_path / "wgref_ckpt"),
            corpus, "doc_id", "text",
        ).collect()
    }
    assert ref
    stage = _stage_batches(spark, tmp_path, [b0, b1], "wg")
    state, ckpt = str(tmp_path / "wg_state"), str(tmp_path / "wg_ckpt")
    real = jobs._write_generation

    def dying(hashed, gen, buckets_dir, shingles_dir, *a, **k):
        if gen == "b1":
            # reproduce the exact on-disk state of a crash between the
            # two writes: buckets generation fully written, shingles
            # generation a partially-written (garbage) parquet file
            jobs._gen_buckets(hashed, a[0], a[1], a[2]).write.mode(
                "overwrite"
            ).parquet(os.path.join(buckets_dir, f"ingest={gen}"))
            bad = os.path.join(shingles_dir, f"ingest={gen}")
            os.makedirs(bad, exist_ok=True)
            with open(os.path.join(bad, "part-00000.parquet"), "wb") as fh:
                fh.write(b"this is not a parquet file")
            raise RuntimeError("injected crash mid-write_gen")
        return real(hashed, gen, buckets_dir, shingles_dir, *a, **k)

    jobs._write_generation = dying
    try:
        with pytest.raises(Exception, match="injected crash"):
            jobs.incremental_minhash_stream(
                _incr_stream(spark, stage), spark, state, ckpt,
                corpus, "doc_id", "text",
            )
    finally:
        jobs._write_generation = real
    # the crash left b1's results derived from a committed index, plus a
    # full bucket gen and a garbage shingle gen for b1 on disk
    assert os.path.isdir(os.path.join(state, "buckets", "ingest=b1"))
    # restart with the SAME state + checkpoint: epoch 1 replays, must
    # ignore (not crash on) its own partial generation, then repair it
    got = {
        (r["new_id"], r["prior_id"], r["jaccard"])
        for r in jobs.incremental_minhash_stream(
            _incr_stream(spark, stage), spark, state, ckpt,
            corpus, "doc_id", "text",
        ).collect()
    }
    pairs = {(n, p) for n, p, _ in got}
    assert (500, 501) not in pairs and (501, 500) not in pairs
    assert all(n != p for n, p in pairs)
    assert got == ref  # bit-equal to the uninterrupted run


def test_incremental_stream_crash_mid_bootstrap_rebuilds_corpus(
    spark, tmp_path
):
    """Kill the bootstrap between its two corpus writes (bucket table
    landed, shingle table missing, marker unwritten).  The restart must
    rebuild the corpus generation instead of trusting the half-written
    one — output equals an uninterrupted run."""
    import pytest

    corpus = _docs_frame(spark, _CORPUS_TEXTS)
    newb = [(600, "the quick brown fox jumps over the lazy cat")]
    stage_ref = _stage_batches(spark, tmp_path, [newb], "bsref")
    ref = {
        (r["new_id"], r["prior_id"], r["jaccard"])
        for r in jobs.incremental_minhash_stream(
            _incr_stream(spark, stage_ref), spark,
            str(tmp_path / "bsref_state"), str(tmp_path / "bsref_ckpt"),
            corpus, "doc_id", "text",
        ).collect()
    }
    assert ref  # 600 near-dups corpus doc 2
    stage = _stage_batches(spark, tmp_path, [newb], "bs")
    state, ckpt = str(tmp_path / "bs_state"), str(tmp_path / "bs_ckpt")
    real = jobs._write_generation

    def dying(hashed, gen, buckets_dir, shingles_dir, *a, **k):
        jobs._gen_buckets(hashed, *a).write.mode("overwrite").parquet(
            os.path.join(buckets_dir, f"ingest={gen}")
        )
        raise RuntimeError("injected crash mid-bootstrap")

    jobs._write_generation = dying
    try:
        with pytest.raises(Exception, match="injected crash"):
            jobs.incremental_minhash_stream(
                _incr_stream(spark, stage), spark, state, ckpt,
                corpus, "doc_id", "text",
            )
    finally:
        jobs._write_generation = real
    assert os.path.isdir(os.path.join(state, "buckets", "ingest=corpus"))
    assert not os.path.exists(os.path.join(state, "_corpus_committed"))
    got = {
        (r["new_id"], r["prior_id"], r["jaccard"])
        for r in jobs.incremental_minhash_stream(
            _incr_stream(spark, stage), spark, state, ckpt,
            corpus, "doc_id", "text",
        ).collect()
    }
    assert got == ref


def test_incremental_stream_foreign_checkpoint_refused(spark, tmp_path):
    """Reusing a populated state_dir with a FRESH checkpoint_dir restarts
    epoch numbering at 0, so the committed generation b1 shows up with
    k > epoch — a pairing violation, not a crash artifact.  The gate must
    refuse loudly instead of silently dropping previously ingested
    batches from the index and overwriting their generations."""
    import pytest

    corpus = _docs_frame(spark, _CORPUS_TEXTS)
    b0 = [(700, "alpha beta gamma delta epsilon zeta eta theta")]
    b1 = [(701, "alpha beta gamma delta epsilon zeta eta theta iota")]
    stage = _stage_batches(spark, tmp_path, [b0, b1], "foreign")
    state = str(tmp_path / "foreign_state")
    jobs.incremental_minhash_stream(
        _incr_stream(spark, stage), spark, state,
        str(tmp_path / "foreign_ckpt"), corpus, "doc_id", "text",
    ).collect()
    assert os.path.isdir(os.path.join(state, "buckets", "ingest=b1"))
    stage2 = _stage_batches(spark, tmp_path, [b0], "foreign2")
    with pytest.raises(Exception, match="pairing violation"):
        jobs.incremental_minhash_stream(
            _incr_stream(spark, stage2), spark, state,
            str(tmp_path / "foreign_ckpt2"), corpus, "doc_id", "text",
        )
    # the committed generations were NOT overwritten by the refused run
    assert os.path.isdir(os.path.join(state, "buckets", "ingest=b1"))


def test_stream_ohlc_bit_equal_to_batch_twin(spark, sf_dir):
    """The streaming candle query at availableNow completion must
    reproduce the batch events_ohlc_downsample result BIT-FOR-BIT — the
    finite-source ≡ batch contract the shared oracle encodes, asserted
    engine-side too (column names, values, and row multiset)."""
    got_df = QUERIES["stream_ohlc_downsample"](spark, sf_dir)
    want_df = QUERIES["events_ohlc_downsample"](spark, sf_dir)
    assert sorted(got_df.columns) == sorted(want_df.columns)
    got = {tuple(r) for r in got_df.select(*sorted(got_df.columns)).collect()}
    want = {tuple(r) for r in want_df.select(*sorted(want_df.columns)).collect()}
    assert got == want
