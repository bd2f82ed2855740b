"""Structured Streaming jobs over the events table.

The reference has no streaming at all (SURVEY §2.6); this is the
north-star extension.  Each job is declared against ``readStream`` so the
same plan runs incrementally on a live source; the registry entries drive
them with ``Trigger.AvailableNow`` into a memory sink, which processes
the finite fixture exactly once and returns a normal DataFrame — so the
driver's DuckDB oracle can check streaming results like any batch query.

Scale notes: tumbling/sliding aggregations are the streaming analogue of
a partial-agg shuffle keyed by (window, key) — state size is bounded by
windows × keys, and the watermark bounds how long state lives.  Streaming
dedup keeps one state row per key (bound it with a watermark in
production).  Value sums are quantized to integer cents so results are
engine-exact (floor(value*100) on identical doubles).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mapreduceproject_spark.sources.catalog import parquet_schema

# Fallback schema for fixtures whose ts is TIMESTAMP(NANOS): under
# spark.sql.legacy.parquet.nanosAsLong that column arrives as a nanosecond
# long (same handling as sources/catalog.py).
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming read of the events fixture.

    The fixture's ts physical type is not under our control
    (TIMESTAMP(MICROS) in current driver-generated data, TIMESTAMP(NANOS)
    in earlier rounds), and the file stream source needs an explicit
    schema — so probe the batch reader's resolved schema and branch: a
    Spark-native timestamp streams as-is; a nanosAsLong bigint gets the
    ns→µs conversion.  The probe is the catalog's schema memo
    (``sources.catalog.parquet_schema``): the first call for a file infers
    it with a one-task footer-read Spark job, later calls start no job.
    Assuming one scale silently shifts every event time 1000× on the
    other kind of file — windows collapse and interval joins explode.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    batch_schema = parquet_schema(spark, path)
    nanos = dict((f.name, f.dataType.simpleString()) for f in batch_schema).get("ts") == "bigint"
    # glob (not a bare file path): the file stream source requires its
    # basePath to be a directory, and the pattern keeps it scoped to the
    # events table inside the shared fixture dir.
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA if nanos else batch_schema)
        .parquet(f"{sf_dir.rstrip('/')}/events*.parquet")
    )
    # watermarks require TIMESTAMP (not NTZ); session tz is UTC so the
    # wall time is identical to the batch catalog's timestamp_ntz view.
    if nanos:
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp")
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def cents(col: F.Column) -> F.Column:
    """Exact integer cents: floor(value*100) on identical doubles is
    engine-identical, unlike a floating SUM whose result depends on
    reduction order."""
    return F.floor(col * 100).cast("long")


def tumbling_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event_type: row count + cents sum."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum(cents(F.col("value"))).alias("cents"))
        .select(
            F.col("w.start").alias("ws"),
            "event_type",
            "n_events",
            "cents",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 minutes, per event_type."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum(cents(F.col("value"))).alias("cents"))
        .select(F.col("w.start").alias("ws"), "event_type", "n_events", "cents")
    )


def ohlc_candles(events: DataFrame) -> DataFrame:
    """1-hour tumbling OHLC candles per event_type — the streaming twin of
    plans/analytics_queries.py::events_ohlc_downsample (same column names,
    same oracle): open/close resolved by min/max over an exact
    (µs, event_id, cents) struct, which is ALGEBRAIC, so the streaming
    state per (window, type) is one struct pair + three longs — bounded
    state, watermark-expirable, no per-event buffering."""
    us = F.unix_micros(F.col("ts"))
    key = F.struct(
        us.alias("us"),
        F.col("event_id").alias("id"),
        cents(F.col("value")).alias("c"),
    )
    c = cents(F.col("value"))
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min(key).alias("o"),
            F.max(c).alias("hi"),
            F.min(c).alias("lo"),
            F.max(key).alias("cl"),
            F.sum(c).alias("vol"),
            F.count("*").cast("long").alias("n_events"),
        )
        .select(
            "event_type",
            F.unix_micros(F.col("w.start")).alias("bucket_us"),
            (F.col("o.c").cast("double") / 100.0).alias("open"),
            (F.col("hi").cast("double") / 100.0).alias("high"),
            (F.col("lo").cast("double") / 100.0).alias("low"),
            (F.col("cl.c").cast("double") / 100.0).alias("close"),
            (F.col("vol").cast("double") / 100.0).alias("volume"),
            "n_events",
        )
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """Streaming dropDuplicates on (user_id, event_type): one state row per
    key, emits first arrival — projected to the key so output order of
    arrival doesn't leak into results."""
    return events.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )


def interval_join_attribution(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding hour — the canonical last-touch
    attribution join.

    Both sides carry watermarks and the join condition bounds the two
    event times against each other, so Spark can expire buffered state:
    a click older than (purchase watermark − 1 h) can never match again
    and is dropped.  Without the time bound the state store would grow
    forever — this is THE stream-stream-join scale contract.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (purchases.user_id == clicks.c_user)
        & (clicks.click_ts >= purchases.purchase_ts - F.expr("INTERVAL 1 HOUR"))
        & (clicks.click_ts <= purchases.purchase_ts),
        "inner",
    ).select("user_id", "purchase_id", "click_id", "purchase_ts", "click_ts")


def streaming_session(spark: SparkSession, state_partitions: int = 8) -> SparkSession:
    """A cloned session (shared SparkContext + catalog cache, isolated SQL
    conf) for running one streaming job: the one place that sets a
    stream's partition count.

    Streams built on the clone plan their stateful operators at
    ``state_partitions`` without ever touching the parent's
    ``shuffle.partitions`` — a batch query planned concurrently on the
    parent keeps its own parallelism.  State partitioning is per-job and
    frozen at the first checkpoint.  The default 8 suits a finite local
    replay: every state partition costs per-batch store/commit file I/O,
    which dominates when state is small — a 2-store stream-stream join
    measured 3× faster at 8 than at 32 on local[32].  A production
    continuous job sizes this to key cardinality and executor count
    instead (hundreds+), exactly like ``spark.sql.shuffle.partitions``
    for batch.
    """
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    return s


def run_to_df(stream: DataFrame, mode: str = "append") -> DataFrame:
    """Execute a finite stream with AvailableNow into a memory sink and
    return the materialized result table.

    The stream plans at its own session's partition count; build it on
    :func:`streaming_session` to choose that count without touching the
    parent session.
    """
    sess = stream.sparkSession
    name = f"snk_{uuid.uuid4().hex[:10]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sess.table(name)


def upsert_latest_per_key(
    stream: DataFrame,
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    ts_col: str,
    num_buckets: int = 16,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """foreachBatch keyed upsert: maintain the latest row per key in a
    parquet table across micro-batches.

    The pattern behind every streaming dim/state table: each batch merges
    into the current table with a latest-timestamp-wins window.  The table
    is laid out partitioned by ``_kb = pmod(xxhash64(keys), num_buckets)``
    so a batch only READS and REWRITES the buckets its keys hash into —
    per-batch cost is O(touched buckets), not O(table), and untouched
    buckets' files are never opened or replaced (byte-identical across
    batches; tests prove it).  Size ``num_buckets`` so one bucket ≈ a few
    parquet files at the target state size.  Each micro-batch is persisted
    for the callback, so the source is scanned once per batch although
    the batch feeds both the touched-bucket collect and the merge write.

    Durability: the one commit protocol is a per-bucket directory swap by
    ``os.rename`` on a path the driver sees, atomic on a POSIX
    filesystem.  Each touched bucket is merged into a TEMP directory
    first and swapped in by rename — the job never deletes files it is
    reading (cache is not a durability guarantee: a lost executor would
    recompute from just-deleted files), and a crash mid-swap leaves every
    bucket either old or new, never a hole (per-bucket atomicity; buckets
    are independent key sets, so a partial swap is still a consistent
    table).  The next batch restores a bucket whose swap was interrupted
    and sweeps orphaned temp copies.  On an object store, where rename is
    a copy, use a table format with its own commit (Delta/Iceberg MERGE
    INTO).

    Ties on ``ts_col`` within a key are broken by
    ``tiebreak_cols`` (ascending); pass a column that is unique per
    event (an id) whenever same-timestamp rows are possible — without
    it the winner among tied rows is whichever the shuffle delivers
    first.
    """
    import os
    import shutil

    from pyspark.sql import Window

    kb = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(num_buckets))
    # The table holds the stream's columns, partitioned by _kb, whose
    # small non-negative values partition discovery types as int.  Every
    # read below declares this schema, so none starts a footer-read job to
    # infer it (file-source reads come back nullable either way).
    table_schema = StructType(
        list(stream.schema.fields) + [StructField("_kb", IntegerType())]
    )

    def merge_latest(unioned: DataFrame) -> DataFrame:
        w = Window.partitionBy(*key_cols).orderBy(
            F.desc(ts_col), *[F.asc(c) for c in (tiebreak_cols or [])]
        )
        return (
            unioned.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def recover_interrupted_swap() -> None:
        # crash-recovery sweep: a swap interrupted between the two renames
        # leaves a dot-prefixed saved dir (invisible to Spark's listing —
        # names starting with '.' are always filtered) and a missing
        # bucket.  Restore the old bucket in that case; clear the leftover
        # when the swap had already completed.  This closes the window
        # where a killed process would silently drop a bucket's state.
        # a crash before/during the swap loop also leaves a full merged
        # copy of the touched buckets at '{path}.tmp-<swap>' (a SIBLING of
        # path) — it is only ever live within a single apply_batch call,
        # so any tmp dir seen here is an orphan; reclaim the disk.
        parent = os.path.dirname(os.path.abspath(path)) or "."
        base = os.path.basename(os.path.abspath(path))
        if os.path.isdir(parent):
            for entry in os.listdir(parent):
                if entry.startswith(f"{base}.tmp-"):
                    shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
        if not os.path.isdir(path):
            return
        for entry in os.listdir(path):
            if not entry.startswith(".old-"):
                continue
            bk_name = entry.split("-", 2)[-1]  # .old-<swap>-<_kb=N>
            dst_dir = os.path.join(path, bk_name)
            src_dir = os.path.join(path, entry)
            if os.path.exists(dst_dir):
                shutil.rmtree(src_dir, ignore_errors=True)
            else:
                os.rename(src_dir, dst_dir)

    def merge_batch(b: DataFrame) -> None:
        s = b.sparkSession
        buckets = sorted(r["_kb"] for r in b.select("_kb").distinct().collect())
        if not buckets:
            return
        recover_interrupted_swap()
        # explicit existence check, NOT a bare except: a transient read
        # failure (corrupt footer, FS hiccup) must FAIL the batch and
        # preserve state — swallowing it as "first batch" would merge the
        # batch against nothing and the swap would replace every touched
        # bucket with batch-only rows.
        if os.path.exists(path) and any(
            e.startswith("_kb=") for e in os.listdir(path)
        ):
            current = (
                s.read.schema(table_schema)
                .parquet(path)
                .filter(F.col("_kb").isin(buckets))
            )
            unioned = current.unionByName(b)
        else:  # first batch: no table yet
            unioned = b
        merged = merge_latest(unioned)
        swap = uuid.uuid4().hex[:8]
        tmp = f"{path}.tmp-{swap}"
        merged.write.mode("overwrite").partitionBy("_kb").parquet(tmp)
        os.makedirs(path, exist_ok=True)
        for bk in buckets:
            src_dir = os.path.join(tmp, f"_kb={bk}")
            if not os.path.exists(src_dir):
                continue
            dst_dir = os.path.join(path, f"_kb={bk}")
            # the saved-old dir is dot-prefixed so Spark's file listing
            # never discovers it as a partition value (a sibling named
            # '_kb=3.old-…' would be parsed as partition value
            # '3.old-…' and corrupt the _kb column's inferred type);
            # recover_interrupted_swap() restores it if we crash between
            # the two renames.
            old = os.path.join(path, f".old-{swap}-_kb={bk}")
            if os.path.exists(dst_dir):
                os.rename(dst_dir, old)
            os.rename(src_dir, dst_dir)
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    def apply_batch(batch: DataFrame, _bid: int) -> None:
        # persisted because the batch feeds both the bucket collect and the
        # merge write, each of which would otherwise scan the source again
        b = batch.withColumn("_kb", kb).persist()
        try:
            merge_batch(b)
        finally:
            b.unpersist()

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not os.path.exists(path):
        # zero data rows: no batch ever wrote the table — the converged
        # state is the empty table with the stream's schema
        return spark.createDataFrame([], schema=stream.schema)
    return spark.read.schema(table_schema).parquet(path).drop("_kb")


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` resolved through the session's
    Hadoop configuration, so the streaming gate's state directory works
    on any Hadoop-visible store (local file://, HDFS, S3A), not only a
    POSIX filesystem mounted on the driver."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def _fs_child_names(spark: SparkSession, base: str) -> list:
    """Names of the immediate children of ``base`` (empty if absent)."""
    fs, jpath = _hadoop_fs(spark, base)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def _fs_touch(spark: SparkSession, path: str) -> None:
    """Create/overwrite a small marker file at ``path`` (parents made)."""
    fs, jpath = _hadoop_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(b"committed\n"))
    finally:
        out.close()


def _gen_buckets(
    hashed: DataFrame, num_hashes: int, bands: int, seed: int
) -> DataFrame:
    """Shingle-hash frame -> LSH band buckets (shared by the gate's join
    side and the persisted index generations, so both use identical
    signatures)."""
    from mapreduceproject_spark.operators.dedup import (
        lsh_band_buckets,
        minhash_signatures,
    )

    return lsh_band_buckets(minhash_signatures(hashed, num_hashes, seed),
                            num_hashes, bands)


def _write_generation(
    hashed: DataFrame,
    gen: str,
    buckets_dir: str,
    shingles_dir: str,
    num_hashes: int,
    bands: int,
    seed: int,
) -> None:
    """Append one ingest generation (bucket + shingle tables) to the
    streaming gate's index.  Module-level so the crash-replay pytest can
    inject a failure between the two writes — the window the gate's
    committed-generation filter exists to survive."""
    import os

    _gen_buckets(hashed, num_hashes, bands, seed).write.mode(
        "overwrite"
    ).parquet(os.path.join(buckets_dir, f"ingest={gen}"))
    hashed.write.mode("overwrite").parquet(
        os.path.join(shingles_dir, f"ingest={gen}")
    )


def incremental_minhash_stream(
    new_stream: DataFrame,
    spark: SparkSession,
    state_dir: str,
    checkpoint_dir: str,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Streaming ingest near-dup gate: each micro-batch of NEW documents
    is LSH-checked against a PERSISTED corpus bucket index, then appended
    to that index — the streaming twin of
    :func:`operators.dedup.minhash_lsh_incremental` (reference has no
    streaming; this is the ingest gate a continuously-growing corpus
    runs).

    Output: (new_id, prior_id, jaccard) — every batch document
    near-duplicating (exact word-shingle jaccard >= ``threshold``) a
    document ingested STRICTLY EARLIER: the bootstrap corpus or a
    previous micro-batch.  Same-batch pairs are never emitted (the gate
    dedups an arrival against the existing corpus, matching the batch
    twin's batch x corpus contract; with a single batch the result
    equals the batch twin exactly — pytest pins it).

    State layout (``state_dir``): two partitioned parquet tables,
    ``buckets`` (id, band, sig) and ``shingles`` (id, h), each under an
    ``ingest=<gen>`` partition directory per ingest generation
    ("corpus" for the bootstrap, "b<epoch>" per micro-batch).  Per-batch
    cost: the batch side is signature-computed once (batch-sized), the
    index bucket table is scanned once and hash-joined (the batch side
    broadcasts under AQE), and the verify join touches only candidate
    ids — never corpus x corpus, and the index is never rewritten, only
    appended.  At 100 TB the index tables would additionally be bucketed
    by ``sig``/``id`` so the scan prunes; the append-only generation
    layout is already the object-store-safe shape (no file is ever
    replaced).

    Crash safety / exactly-once: writes are idempotent per epoch — each
    epoch owns its ``ingest=b<epoch>`` (and ``results/batch=<epoch>``)
    directory and OVERWRITES it on replay, so a batch that crashed
    mid-write is fully repaired when the checkpoint replays that epoch
    (pytest kills an epoch mid-flight and re-runs).  The checkpoint is
    the commit log; the partition dirs are the data.  A replayed epoch
    reads ONLY committed generations — ``corpus`` plus ``b<k>`` with
    ``k < epoch_id``, enumerated explicitly — so a crash *during* its own
    ``ingest=b<epoch>`` append can neither make the batch join against
    itself (same-batch/self pairs would violate the strictly-earlier
    contract) nor break the read via a partially written parquet file
    (the partial generation dir is never opened, only overwritten).
    The bootstrap generation commits via a ``_corpus_committed`` marker
    written after both corpus tables land, so a crash mid-bootstrap
    rebuilds the corpus generation on restart instead of trusting a
    half-written one.
    """
    import os

    from mapreduceproject_spark.operators.dedup import (
        shingle_hashes,
        verify_jaccard,
    )
    from mapreduceproject_spark.sources.catalog import spread_for_compute

    buckets_dir = os.path.join(state_dir, "buckets")
    shingles_dir = os.path.join(state_dir, "shingles")
    results_dir = os.path.join(state_dir, "results")
    corpus_marker = os.path.join(state_dir, "_corpus_committed")

    # bootstrap: the existing corpus becomes generation "corpus" (skip if
    # a previous run already COMMITTED it — the stream may be a restart;
    # the marker, not the dir, is the commit record, so a crash between
    # the two table writes re-runs the idempotent overwrite here)
    if not _fs_exists(spark, corpus_marker):
        corpus_hashed = shingle_hashes(
            spread_for_compute(corpus), id_col, text_col, shingle_k
        ).persist()
        _write_generation(
            corpus_hashed, "corpus", buckets_dir, shingles_dir,
            num_hashes, bands, seed,
        )
        corpus_hashed.unpersist()
        _fs_touch(spark, corpus_marker)

    def committed_gen_dirs(base: str, epoch_id: int) -> list:
        """Generation dirs the gate may read for this epoch: the
        bootstrap corpus plus batches that committed strictly earlier.
        The current epoch's own ``b<epoch_id>`` (left behind by a crash
        mid-append, before the checkpoint committed) is excluded — that
        dir may be partial and its contents are NOT part of the
        strictly-earlier index.  A generation NEWER than the epoch (or
        an unparsable ``ingest=`` name) cannot be a crash artifact of a
        correctly paired checkpoint — only ``k == epoch_id`` can exist
        uncommitted — so it means the caller pointed an old state_dir at
        a fresh/foreign checkpoint; reading on would silently ignore the
        batches those generations ingested and then overwrite them, so
        the gate refuses instead.  Listing goes through the Hadoop
        FileSystem API, so state_dir may live on any store Spark can
        read (local, HDFS, S3A), not only the driver's POSIX fs."""
        out = []
        for name in _fs_child_names(spark, base):
            if not name.startswith("ingest="):
                continue
            gen = name[len("ingest="):]
            if gen == "corpus":
                out.append(os.path.join(base, name))
                continue
            k = int(gen[1:]) if gen[:1] == "b" and gen[1:].isdigit() else None
            if k is None or k > epoch_id:
                raise ValueError(
                    f"state_dir/checkpoint pairing violation: found index "
                    f"generation '{name}' under {base} while replaying "
                    f"epoch {epoch_id}; only generations b<k> with "
                    f"k <= epoch can exist under a correctly paired "
                    f"checkpoint. The state_dir was likely reused with a "
                    f"fresh or foreign checkpoint_dir — continuing would "
                    f"silently drop previously ingested batches from the "
                    f"index and overwrite their generations."
                )
            if k < epoch_id:
                out.append(os.path.join(base, name))
        return sorted(out)

    def gate(batch: DataFrame, epoch_id: int) -> None:
        s = batch.sparkSession
        hashed_new = shingle_hashes(batch, id_col, text_col, shingle_k).persist()
        # reading the enumerated dirs (not the root) keeps partition
        # discovery from ever touching an uncommitted generation
        idx_buckets = s.read.parquet(
            *committed_gen_dirs(buckets_dir, epoch_id)
        )
        idx_shingles = s.read.parquet(
            *committed_gen_dirs(shingles_dir, epoch_id)
        )
        new_buckets = _gen_buckets(hashed_new, num_hashes, bands, seed)
        pairs = (
            new_buckets.select(F.col("_id").alias("id_a"), "band", "sig")
            .join(
                idx_buckets.select(F.col("_id").alias("id_b"), "band", "sig"),
                ["band", "sig"],
            )
            .select("id_a", "id_b")
            .distinct()
        )
        pairs = pairs.persist()
        # semi-prune the index shingles to ids that actually appear in a
        # candidate pair BEFORE verify_jaccard's sizes groupBy and hash
        # joins: without it every micro-batch re-aggregates and re-joins
        # the FULL index shingle table (corpus-scaled work per batch —
        # the opposite of what an incremental gate is for; guide §2.3
        # "shuffle fewer bytes").  pairs is batch-bounded, so the two
        # semi-joins broadcast; results are identical because
        # verify_jaccard only ever consumes rows of pair ids.
        pair_ids = (
            pairs.select(F.col("id_a").alias("_id"))
            .unionByName(pairs.select(F.col("id_b").alias("_id")))
            .distinct()
        )
        both = (
            hashed_new.select("_id", "h")
            .unionByName(idx_shingles.select("_id", "h"))
            .join(F.broadcast(pair_ids), "_id", "leftsemi")
        )
        out = verify_jaccard(pairs, both, threshold).select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("prior_id"),
            "jaccard",
        )
        out.write.mode("overwrite").parquet(
            os.path.join(results_dir, f"batch={epoch_id}")
        )
        # append the batch to the index LAST: results for this epoch are
        # derived from index-before-this-batch, and a replayed epoch
        # both ignores (committed_gen_dirs) and overwrites any partial
        # b<epoch_id> a crash here leaves behind
        _write_generation(
            hashed_new, f"b{epoch_id}", buckets_dir, shingles_dir,
            num_hashes, bands, seed,
        )
        hashed_new.unpersist()
        pairs.unpersist()

    q = (
        new_stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not _fs_exists(spark, results_dir):
        from pyspark.sql.types import DoubleType, LongType, StructField, StructType

        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("new_id", LongType()),
                    StructField("prior_id", LongType()),
                    StructField("jaccard", DoubleType()),
                ]
            ),
        )
    return spark.read.parquet(results_dir).drop("batch")
