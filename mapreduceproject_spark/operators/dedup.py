"""Deduplication operators for LLM-data pipelines.

The reference has no dedup (its only "dedup-adjacent" primitive is
key-grouping, /root/reference/src/juice_helpers.go:286-316); these are the
north-star extensions from BASELINE.json, built as compositions of stock
DataFrame ops (SURVEY §7.2 custom-operator path (a)).

Scale design, common to all five:
- candidate generation NEVER enumerates O(n²): exact dedup hashes to
  groups; minhash/simhash band into buckets and only intra-bucket pairs
  are joined; n-gram jaccard blocks on (lang, length band); embedding
  near-dup assigns to IVF centroids and pairs only within a cell.
- verification (exact jaccard / hamming / cosine) runs only on candidate
  pairs, so the expensive step is proportional to the near-dup density,
  not the corpus size.
- every hash is the portable md5-derived :func:`hash60`, so DuckDB
  oracles replicate results bit-for-bit (functions/hashing.py).

At 1000-executor scale the bucket self-joins shuffle by bucket key; a
pathological bucket (all-identical spam) is the classic skew case — AQE
skew-join splits it, and the band/bucket width parameters below are the
pressure valves.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from mapreduceproject_spark.functions.hashing import (
    MERSENNE_P,
    hash60,
    minhash_params,
    minhash_perm,
)
from mapreduceproject_spark.sources.catalog import spread_for_compute
from mapreduceproject_spark.functions.textfn import (
    char_ngram_rows,
    tokens,
    word_shingle_rows,
)
from mapreduceproject_spark.functions.vectors import (
    prequantized_cosine,
    quantize,
    quantized_norm2,
)


# ---------------------------------------------------------------------------
# 1. exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(
    df: DataFrame, id_col: str, key: Column, min_group: int = 2
) -> DataFrame:
    """Exact duplicate groups under a normalization key.

    Returns one row per duplicate group: md5 of the key, the surviving id
    (min), and the number of discarded duplicates.  One hash-shuffle on the
    key; survivors-only output keeps the result tiny at any scale.
    """
    return (
        df.select(F.md5(key).alias("key_md5"), F.col(id_col))
        .groupBy("key_md5")
        .agg(
            F.min(id_col).alias("keeper"),
            (F.count("*") - 1).alias("dup_count"),
        )
        .filter(F.col("dup_count") >= min_group - 1)
    )


# ---------------------------------------------------------------------------
# 2. MinHash + LSH banding
# ---------------------------------------------------------------------------

def shingle_hashes(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct (id, shingle-hash60) pairs — the set representation used by
    both signature building and exact-jaccard verification.  Uses the
    linear-time shingle explode (lead-window assembly), not the
    O(words²) transform-over-slice array build."""
    return (
        word_shingle_rows(
            df.select(F.col(id_col).alias("_id"), F.col(text_col)),
            F.col(text_col),
            k,
            keep=["_id"],
        )
        .select("_id", hash60(F.col("sh")).alias("h"))
        # repartition on _id so the distinct AND every downstream
        # id-keyed consumer (minhash_signatures' groupBy, verify_jaccard's
        # sizes aggregate) share ONE exchange: hashpartitioning(_id)
        # satisfies the distinct's clustering requirement because _id is
        # part of its key, and the persisted frame keeps the partitioning
        # (guide §2.4 — two operations keyed the same way share one
        # exchange).  The old distinct-then-groupBy shape exchanged the
        # shingle stream twice in every minhash-family query.
        .repartition(F.col("_id"))
        .dropDuplicates(["_id", "h"])
    )


def minhash_signatures(
    hashed: DataFrame, num_hashes: int, seed: int = 42, carry: tuple[str, ...] = ()
) -> DataFrame:
    """One row per id with columns m0..m{n-1} (universal-hash minima).

    A single groupBy computes every permutation minimum — one shuffle of
    the (id, h) pairs regardless of signature width.  ``carry`` columns
    (functionally dependent on the id, e.g. a batch/corpus flag) ride the
    same shuffle as extra group keys.
    """
    params = minhash_params(num_hashes, seed)
    aggs = [
        F.min(minhash_perm(F.col("h"), a, b)).alias(f"m{i}")
        for i, (a, b) in enumerate(params)
    ]
    return hashed.groupBy("_id", *carry).agg(*aggs)


def lsh_band_buckets(
    sigs: DataFrame, num_hashes: int, bands: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Explode signatures into (band, band-signature) bucket keys.

    ``bands`` must divide ``num_hashes`` exactly: a remainder would mean
    hashes that are computed (and shuffled) but silently never banded —
    the effective (n, b) LSH recall curve would differ from the one the
    caller configured.  Loud, like simhash_dedup's lossy-banding guard.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}: "
            f"{num_hashes % bands} trailing hash(es) would be silently "
            f"dropped from every bucket key"
        )
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ",",
                *[F.col(f"m{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)],
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        "_id", *carry, F.explode(F.array(*band_structs)).alias("bk")
    ).select("_id", *carry, F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))


def _drop_saturated_buckets(
    df: DataFrame, keys: list[str], cap: int, observation=None
) -> DataFrame:
    """Viral-bucket pressure valve shared by every bucketed pair join:
    one window count on the join's own bucket partitioning, buckets over
    ``cap`` dropped before pairing (the self-join is quadratic per
    bucket).  See the callers for the recall contract each one trades.

    ``observation`` (a ``pyspark.sql.Observation``) makes the loss
    machine-readable IN-BAND: the metrics ride the same job (zero extra
    passes) and report ``bucket_rows_total`` / ``bucket_rows_dropped`` —
    bucket-membership rows seen vs dropped by the cap, whose ratio is
    the saturated fraction of the candidate space.  A pipeline caller
    reads ``observation.get`` after any action on the result instead of
    parsing stdout."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    counted = df.withColumn("_bn", F.count("*").over(w))
    if observation is not None:
        counted = counted.observe(
            observation,
            F.count(F.lit(1)).alias("bucket_rows_total"),
            F.sum(F.when(F.col("_bn") > cap, 1).otherwise(0))
            .cast("long")
            .alias("bucket_rows_dropped"),
        )
    return counted.filter(F.col("_bn") <= cap).drop("_bn")


def candidate_pairs_from_buckets(
    buckets: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Self-join per bucket → distinct unordered candidate pairs (a < b).

    ``max_bucket_size`` is the viral-duplicate pressure valve from
    SCALING.md's cliff list: the self-join is quadratic in bucket size,
    so one bucket of 10⁶ identical spam docs is 5·10¹¹ pairs no matter
    how well everything else scales.  Buckets above the cap are DROPPED
    before the join (one extra window count on the bucket key — same
    shuffle partitioning the join itself needs).  Recall note: a cluster
    that saturates a bucket is near-identical spam — run
    :func:`exact_dedup_groups` first (identical docs collapse there for
    one hash-shuffle), and the survivors' buckets stay under any sane
    cap; pairs LOST to the cap are only those between docs similar
    enough to co-bucket 10⁶-deep yet not exactly equal, which sampling
    recovers if it matters.  Default None = exact (the registered
    correctness queries)."""
    if max_bucket_size is not None:
        buckets = _drop_saturated_buckets(buckets, ["band", "sig"], max_bucket_size)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def verify_jaccard(pairs: DataFrame, hashed: DataFrame, threshold: float) -> DataFrame:
    """Exact jaccard over the hashed-shingle sets, filtered to ``threshold``.

    Intersections come from a hash-equi join restricted to candidate pairs;
    |A∪B| = |A|+|B|-|A∩B|.  Integer-ratio division → identical doubles on
    every engine.  (An array_intersect-per-pair variant was measured 6×
    slower HERE, where LSH emits a large unfiltered candidate set and the
    arrays ride a sort-merge join; :func:`ngram_jaccard_dedup` adopts the
    array form because PPJoin pruning shrinks |pairs| enough for AQE to
    hash/broadcast-join the array table — the tradeoff is candidate-set
    size, not the formulation.)
    """
    sizes = hashed.groupBy("_id").agg(F.count("*").alias("n"))
    ha = hashed.select(F.col("_id").alias("id_a"), F.col("h").alias("ha"))
    hb = hashed.select(F.col("_id").alias("_idb"), F.col("h").alias("hb"))
    inter = (
        pairs.join(ha, "id_a")
        .join(hb, (F.col("id_b") == F.col("_idb")) & (F.col("ha") == F.col("hb")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("both"))
    )
    na = sizes.select(F.col("_id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("_id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("both") / (F.col("na") + F.col("nb") - F.col("both"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs: shingle → minhash → LSH bands → exact verify.

    Output: (id_a, id_b, jaccard) for candidate pairs with jaccard ≥
    threshold.  Cost at scale: one shuffle to build signatures, one
    bucket self-join sized by collision density, one verify join sized by
    candidate count.  ``max_bucket_size`` caps the viral-duplicate
    bucket-skew cliff (see :func:`candidate_pairs_from_buckets`).
    """
    # hashed feeds signatures, sizes, and both verify sides — persist so
    # the shingle pipeline runs once, not once per consumer branch.
    # spread first: the shingle explode + hashing is the expensive narrow
    # stage, and a single-split local scan would run it on one core.
    hashed = shingle_hashes(spread_for_compute(df), id_col, text_col, shingle_k).persist()
    sigs = minhash_signatures(hashed, num_hashes, seed)
    buckets = lsh_band_buckets(sigs, num_hashes, bands)
    pairs = candidate_pairs_from_buckets(buckets, max_bucket_size)
    return verify_jaccard(pairs, hashed, threshold)


def minhash_lsh_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Ingestion-time near-dup: the NEW batch's LSH buckets join the
    EXISTING corpus's buckets — never corpus × corpus.

    The production shape for a corpus that grows in batches: the corpus
    signatures/buckets are a precomputed bucketed table reused every
    ingest (here derived in-plan from the corpus side), and per-ingest
    work scales with |batch| × bucket collision density, independent of
    the self-join cost that full-corpus dedup pays.  ids must be
    disjoint across the two sides.  Output: (new_id, corpus_id, jaccard)
    for batch documents near-duplicating an already-ingested one at
    jaccard >= ``threshold`` — the rows an ingest gate drops.
    """
    # ONE shingle+signature pipeline over both sides, the batch/corpus
    # flag riding the shuffles as a carried group key — the flag is
    # functionally dependent on the id, so the shuffle volume is
    # identical to full-corpus dedup (measured: the two-pipeline form
    # cost ~1.6x, paying a second persist + signature exchange).
    tagged = batch.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"), F.lit(True).alias("_new")
    ).unionByName(
        corpus.select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"), F.lit(False).alias("_new")
        )
    )
    hashed = (
        word_shingle_rows(
            spread_for_compute(tagged), F.col("_txt"), shingle_k, keep=["_id", "_new"]
        )
        .select("_id", "_new", hash60(F.col("sh")).alias("h"))
        .distinct()
        .persist()
    )
    sigs = minhash_signatures(hashed, num_hashes, seed, carry=("_new",))
    buckets = lsh_band_buckets(sigs, num_hashes, bands, carry=("_new",))
    pairs = (
        buckets.filter(F.col("_new")).select(F.col("_id").alias("id_a"), "band", "sig")
        .join(
            buckets.filter(~F.col("_new")).select(F.col("_id").alias("id_b"), "band", "sig"),
            ["band", "sig"],
        )
        .select("id_a", "id_b")
        .distinct()
    )
    verified = verify_jaccard(pairs, hashed.select("_id", "h"), threshold)
    return verified.select(
        F.col("id_a").alias("new_id"),
        F.col("id_b").alias("corpus_id"),
        "jaccard",
    )


# ---------------------------------------------------------------------------
# 3. SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64
SIMHASH_HI_SALT = "simhash64#"


def band_layout(num_bands: int) -> tuple[list[int], list[int]]:
    """(starts, widths) of ``num_bands`` near-equal-width bands over the
    64-bit signature — the single source of truth shared by the Spark
    banding below and the DuckDB oracle generator, so both sides bucket
    on provably identical band values."""
    widths = [
        SIMHASH_BITS // num_bands + (1 if i < SIMHASH_BITS % num_bands else 0)
        for i in range(num_bands)
    ]
    starts = [sum(widths[:i]) for i in range(num_bands)]
    return starts, widths


def simhash_signature(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit simhash per document from distinct-token hash bit votes,
    carried as two non-negative 32-bit halves (``sig_lo`` bits 0–31,
    ``sig_hi`` bits 32–63).

    Two independent salted hash60 values supply 32 bits each — a 32-bit
    signature collides heavily at web scale, and the split-halves layout
    sidesteps the signed-long bit-63 hazard while staying bit-exact in
    the DuckDB oracle (whose BIGINT shifts match on values < 2³²).

    One groupBy with 64 conditional-sum aggregates (one per bit) — a
    single shuffle of the (id, h1, h2) rows and zero row blowup, vs. the
    naive explode-by-bit-position plan that multiplies the token stream
    ×64 and shuffles twice.  Catalyst runs all 64 sums partial+final, so
    map-side combine shrinks the shuffle to one row per (id, partition).
    """
    # hash BEFORE distinct: matches the oracle's SELECT DISTINCT id,
    # hash60(t), hash60(salt||t) exactly, and the dedup shuffle carries
    # 8-byte longs instead of token strings.  The explicit repartition on
    # _id lets the distinct AND the 64-vote groupBy share ONE exchange
    # (guide §2.4: hashpartitioning(_id) satisfies both aggregates'
    # clustering requirement since _id is a prefix of the distinct key) —
    # the previous shape exchanged the token stream twice (once on
    # (_id,h1,h2) for the distinct, once on _id for the votes).
    tok = (
        df.select(F.col(id_col).alias("_id"), F.explode(tokens(F.col(text_col))).alias("t"))
        .select(
            "_id",
            hash60(F.col("t")).alias("h1"),
            hash60(F.concat(F.lit(SIMHASH_HI_SALT), F.col("t"))).alias("h2"),
        )
        .repartition(F.col("_id"))
        .dropDuplicates(["_id", "h1", "h2"])
    )
    half = SIMHASH_BITS // 2
    votes = tok.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col(h), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"v{h}_{b}")
            for h in ("h1", "h2")
            for b in range(half)
        ]
    )
    sig_lo, sig_hi = None, None
    for b in range(half):
        lo_term = F.when(F.col(f"vh1_{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        hi_term = F.when(F.col(f"vh2_{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig_lo = lo_term if sig_lo is None else sig_lo + lo_term
        sig_hi = hi_term if sig_hi is None else sig_hi + hi_term
    return votes.select("_id", sig_lo.alias("sig_lo"), sig_hi.alias("sig_hi"))


def _band_extract(start: int, width: int):
    """Column: bits [start, start+width) of the 64-bit signature stored
    as two non-negative 32-bit halves (sig_lo 0–31, sig_hi 32–63).
    Straddling bands combine both halves; every intermediate stays far
    below 2^33, so signed-long arithmetic is safe."""
    mask = (1 << width) - 1
    if start >= 32:
        return F.shiftright(F.col("sig_hi"), start - 32).bitwiseAND(mask)
    if start + width <= 32:
        return F.shiftright(F.col("sig_lo"), start).bitwiseAND(mask)
    lo_bits = 32 - start
    return (
        F.shiftright(F.col("sig_lo"), start)
        .bitwiseOR(
            F.col("sig_hi")
            .bitwiseAND((1 << (start + width - 32)) - 1)
            .cast("long") * F.lit(1 << lo_bits).cast("long")
        )
        .bitwiseAND(mask)
    )


def simhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 4,
    num_bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs by simhash: band-bucket candidates, hamming verify.

    ``num_bands`` near-equal-width bands over the 64-bit signature: by
    pigeonhole, any pair with hamming ≤ num_bands−1 shares at least one
    identical band, so candidate generation is exact (zero recall loss)
    whenever ``max_hamming`` < ``num_bands``.  The default (None) is the
    minimal lossless band count ``max_hamming + 1`` — the widest (hence
    most selective) bands that still guarantee exact recall: 5×~13-bit
    bands for hamming ≤ 4 means 8192 buckets per band vs the 256 of the
    classic 8×8-bit layout, so candidate volume scales n²/8192 instead
    of n²/256 with bit-identical verified output (the fixed-bucket
    quadratic the 100× fixture measured, SCALING.md).  More bands than
    the minimum only make sense to trade candidate volume for fewer
    bucket-join rows per band at very small max_hamming.
    """
    if num_bands is None:
        num_bands = max_hamming + 1
    if num_bands <= max_hamming:
        raise ValueError(
            f"banding is lossy: num_bands={num_bands} must exceed max_hamming={max_hamming}"
        )
    # sigs feeds both sides of the bucket self-join — persist so the
    # token explode + 64-vote aggregation runs once; spread so the token
    # hashing stage parallelizes even off a single-split local scan
    sigs = simhash_signature(spread_for_compute(df), id_col, text_col).persist()
    starts, widths = band_layout(num_bands)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            _band_extract(starts[b], widths[b]).alias("bsig"),
        )
        for b in range(num_bands)
    ]
    buckets = sigs.select(
        "_id", "sig_lo", "sig_hi", F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        "_id",
        "sig_lo",
        "sig_hi",
        F.col("bk.band").alias("band"),
        F.col("bk.bsig").alias("bsig"),
    )
    a = buckets.select(
        F.col("_id").alias("id_a"),
        F.col("sig_lo").alias("lo_a"),
        F.col("sig_hi").alias("hi_a"),
        "band",
        "bsig",
    )
    b = buckets.select(
        F.col("_id").alias("id_b"),
        F.col("sig_lo").alias("lo_b"),
        F.col("sig_hi").alias("hi_b"),
        "band",
        "bsig",
    )
    pairs = (
        a.join(b, ["band", "bsig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "lo_a", "hi_a", "lo_b", "hi_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))) + F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    )
    return (
        pairs.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# 4. character n-gram jaccard
# ---------------------------------------------------------------------------

NGRAM_EST_HASHES = 24


# Below this estimated prefix-light scratch, ngram_jaccard_dedup never
# reroutes to the sharded plan: a few GiB of scratch is affordable on any
# host that can run Spark at all, and the floor makes the registered
# query's plan (and its oracle parity) independent of how full a
# driver/CI box's disk happens to be — sharding is for corpus-scale
# scratch (the 1000× fixture), not for small fixtures on crowded machines.
NGRAM_SCRATCH_FLOOR_BYTES = 4 << 30

# Share of the free space on the Spark local dir (_scratch_dir) that a
# single-pass run, or one sharded pass, may plan to fill.
NGRAM_SCRATCH_HEADROOM = 0.5

# Prefix-light scratch model, calibrated at the 1000× fixture (5M docs,
# ~1.5G chars): the single collect_list(struct(df,h)) gram shuffle plus
# the prefix self-join spilled ~60-70 GB — ≈48 B/char end-to-end,
# corpus-proportional.  When this estimate exceeds the headroom and no
# sane shard count bounds it, the operator completes-or-dies on disk like
# any Spark job would — but it SAYS so up front (print +
# plan_info["light_scratch_exceeds"]), and the knowing caller can choose
# the bounded-cost lossy triage (triage_cap=...) or a real cluster, where
# this is <1 GB/node across 100 executors.
NGRAM_LIGHT_SCRATCH_BYTES_PER_CHAR = 48

# How much MORE than the 48 B/char light model an UNSTAGED sharded pass
# can peak on disk: one job keeps every exchange's shuffle files alive
# simultaneously and the per-doc array collect pays an external-sort
# spill on top (round-8 measurement: ~170 B/gram in that sort alone —
# ~3.5× the model; rounded up).  The adaptive staging decision in
# _ngram_jaccard_prefix_sharded compares THIS amplified estimate to the
# scratch budget; the sub-job split it enables is exactly what brings a
# staged pass back down to the bare model.
NGRAM_UNSTAGED_PEAK_FACTOR = 4


# Doc-sharding pass-count ceiling: S shards cost S + S(S-1)/2 passes and
# ~S× the single-pass compute, so past this the right tool is a cluster
# (or the explicit lossy triage), not ever-finer single-box slicing.
NGRAM_MAX_SHARDS = 32

# Candidate-mass announcement threshold for the exact sharded plan: past
# this many (extrapolated) verify candidates, exact verification is
# cluster-scale work on ANY plan — the run proceeds as asked, but says
# so after the first pass instead of burning hours silently (measured:
# the 1000x fixture implies ~11.5B candidates; a 100-executor cluster
# clears that routinely, one box does not).
NGRAM_EXACT_CANDIDATE_CEILING = 2_000_000_000

# Bucket cap the escalate_above escalation hands the char-minhash
# candidate space (the SCALING.md production-cap measurement point).
NGRAM_TRIAGE_BUCKET_CAP = 256


class _CandidateMassEscalation(Exception):
    """Internal control flow: the sharded exact plan's pass-0 candidate
    extrapolation crossed the caller's ``escalate_above`` — the driver
    catches this and routes to the bounded-cost char-minhash triage
    instead (sharded scratch already cleaned up by the raiser)."""

    def __init__(self, pass0_pairs: int, est_total: int):
        self.pass0_pairs, self.est_total = pass0_pairs, est_total
        super().__init__(f"est {est_total:,} candidates > ceiling")


def _ngram_shards_needed(light_need_bytes: int, free_bytes: int) -> int:
    """Shard count so an OFF-DIAGONAL pass (2 shards of corpus in
    flight) fits the headroom: per-pass scratch ≈ (2/S)·light_need."""
    import math

    budget = max(int(free_bytes * NGRAM_SCRATCH_HEADROOM), 1)
    return max(2, math.ceil(2 * light_need_bytes / budget))


def _scratch_dir(spark) -> str:
    """The driver's Spark-owned local root, ``<local dir>/spark-<uuid>``:
    the parent of ``SparkFiles.getRootDirectory()``.

    Spark resolves it from ``SPARK_LOCAL_DIRS`` (or the cluster
    manager's dirs) before ``spark.local.dir``, so the free-space probe
    prices the disk shuffle scratch actually uses, and Spark deletes the
    directory — with any pass output written under it — when the JVM
    exits."""
    import os

    jvm = spark.sparkContext._jvm
    return os.path.dirname(jvm.org.apache.spark.SparkFiles.getRootDirectory())


def _ngram_gram_hashes(frame: DataFrame, n: int) -> DataFrame:
    """Distinct (_id, h) char-n-gram hashes of ``frame``'s lower-cased
    ``_txt``."""
    return (
        char_ngram_rows(frame, F.lower(F.col("_txt")), n, keep=["_id"])
        .select("_id", hash60(F.col("g")).alias("h"))
        .distinct()
    )


def _ngram_jaccard_minhash_verify(
    grams: DataFrame,
    meta: DataFrame,
    block_cols: list[str],
    length_band: int,
    threshold: float,
    num_hashes: int,
    max_bucket_size: int,
    loss_observation=None,
    seed: int = 42,
) -> DataFrame:
    """The lossy triage plan: MinHash width-1-band candidates with
    saturated buckets dropped, then the SAME exact array-intersect
    jaccard verify as the exact plan.

    The gram stream is shuffled exactly ONCE — the per-doc gram-set
    arrays are collected in a single groupBy, and the minhash signatures
    are derived FROM those arrays with in-plan F.aggregate folds (no
    second gram-stream exchange; a first cut that shuffled grams once
    for signatures and once for arrays still wrote ~70 GB at the 100×
    fixture).  Width-1 bands (a bucket per permutation minimum) give
    candidate recall 1-(1-J)^K per true pair — at K=24 and J≥0.55 a miss
    has probability ≈5e-9 — and every emitted pair carries its EXACT
    jaccard (array_intersect on the collected gram sets), so emitted
    values always match the exact plan.  The loss is the bucket cap: a
    width-1 band whose minimum is a hot common gram collects a
    block-sized bucket (341 M candidate pairs at the 100× fixture
    uncapped, because that corpus's BACKGROUND char-trigram similarity
    sits near the threshold), and buckets larger than
    ``max_bucket_size`` are dropped before pairing — pairs whose every
    shared-minimum bucket is viral are not emitted.  The registered
    gauges ``ngram_jaccard_capped_recall`` and
    ``ngram_jaccard_triage_recall`` measure that loss.
    """
    params = minhash_params(num_hashes, seed)
    arrs = grams.groupBy("_id").agg(F.collect_list("h").alias("hs")).persist()
    init = F.lit(9223372036854775807).cast("long")

    def _fold_min(a: int, b: int):
        # closure factory: PySpark inspects the lambda's arity, so the
        # (a, b) constants can't ride as defaulted extra parameters
        return lambda acc, h: F.least(acc, minhash_perm(h, a, b))

    sigs = (
        arrs.select(
            "_id",
            F.array(
                *[F.aggregate("hs", init, _fold_min(a, b)) for a, b in params]
            ).alias("sig"),
            F.size("hs").cast("long").alias("ng"),
        )
        .join(meta, "_id")
        .persist()
    )
    buckets = _drop_saturated_buckets(
        sigs.select(
            "_id", *block_cols, "_len", "ng", F.posexplode("sig").alias("hi", "hv")
        ),
        ["hi", "hv"],
        max_bucket_size,
        observation=loss_observation,
    )
    a = buckets.select(
        F.col("_id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in block_cols],
        F.col("_len").alias("len_a"),
        F.col("ng").alias("na"),
        "hi",
        "hv",
    )
    b = buckets.select(
        F.col("_id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
        F.col("_len").alias("len_b"),
        F.col("ng").alias("nb"),
        "hi",
        "hv",
    )
    cond = (F.col("id_a") < F.col("id_b")) & (
        F.abs(F.col("len_a") - F.col("len_b")) <= length_band
    )
    for c in block_cols:
        cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
    pairs = (
        a.join(b, ["hi", "hv"])
        .filter(cond)
        .select("id_a", "id_b", "na", "nb")
        .distinct()
    )
    # verify reuses the SAME persisted arrays the signatures came from —
    # no fresh gram-stream exchange; the candidate side is bounded, so
    # AQE broadcasts it and the array table is probed in place
    inter = (
        pairs.join(
            arrs.select(F.col("_id").alias("id_a"), F.col("hs").alias("ha")), "id_a"
        )
        .join(
            arrs.select(F.col("_id").alias("id_b"), F.col("hs").alias("hb")), "id_b"
        )
        .select(
            "id_a",
            "id_b",
            "na",
            "nb",
            F.size(F.array_intersect("ha", "hb")).cast("long").alias("both"),
        )
    )
    return inter.select(
        "id_a",
        "id_b",
        (F.col("both") / (F.col("na") + F.col("nb") - F.col("both"))).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


# Broadcast bound for the prefix-light plan's document-frequency
# table: only grams this hot get their true df in the prefix ORDER; the
# long tail defaults to df=1 (hash tie-break keeps the order total, and
# PPJoin is exact under ANY total order — rarity only shapes candidate
# volume, and only hot grams can go viral).  1M rows ≈ 16 MB broadcast.
NGRAM_HOT_DF_LIMIT = 1 << 20


def _stage_materialize(df: DataFrame, path: str) -> DataFrame | None:
    """Write ``df`` to scratch parquet, drop every reference to its
    lineage (shuffle files become ContextCleaner-collectable), and read
    it back.  Returns None when the write produced no part files (an
    empty frame under AQE may schedule zero tasks, and reading a
    part-less directory is a schema-inference error, not an empty
    DataFrame)."""
    import gc
    import os

    spark = df.sparkSession
    df.write.mode("overwrite").parquet(path)
    del df
    gc.collect()
    spark._jvm.System.gc()
    if not any(n.endswith(".parquet") for n in os.listdir(path)):
        return None
    return spark.read.parquet(path)


def _empty_pairs_frame(df_with_id: DataFrame, value_col: str) -> DataFrame:
    """Typed empty (id_a, id_b, <value_col>) result — id type taken from
    the caller's ``_id`` column."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    idt = df_with_id.schema["_id"].dataType
    return df_with_id.sparkSession.createDataFrame(
        [],
        StructType(
            [
                StructField("id_a", idt),
                StructField("id_b", idt),
                StructField(value_col, DoubleType()),
            ]
        ),
    )


def _ngram_jaccard_prefix_light(
    grams: DataFrame,
    meta: DataFrame,
    block_cols: list[str],
    length_band: int,
    threshold: float,
    loss_observation=None,
    _persist_registry: list | None = None,
    _stage_dir: str | None = None,
    _stage_chunks: int = 4,
    _stats: dict | None = None,
) -> DataFrame:
    """The exact n-gram jaccard plan: PPJoin (Xiao et al., WWW'08)
    rarest-first prefix filtering, built without a gram-stream sort.

    Grams get a global total order (ascending corpus frequency, hash
    tie-break), each doc keeps only its first ``ng − ⌈t·ng⌉ + 1`` grams
    under that order, and candidate pairs must share a *prefix* gram in
    addition to the block conditions.  Any pair with jaccard ≥ t has
    overlap ≥ ⌈t·max(na,nb)⌉, which forces the per-doc prefixes to
    intersect — so the filter prunes candidates without ever dropping a
    true pair, and the output equals the blocked cross-product
    (:func:`_ngram_jaccard_blocked`, pytest pins it).  Rarest-first
    ordering makes prefix grams low-frequency, so the prefix equi-join
    explodes far less than the block cross product.

    The order is built in three steps: (1) gram document frequencies
    come from ONE map-side-combined groupBy whose output is VOCAB-sized,
    truncated to the {NGRAM_HOT_DF_LIMIT} hottest grams and broadcast;
    (2) the df rides the gram rows through a broadcast join (narrow — no
    shuffle); (3) a single gram-stream groupBy collects each doc's
    (df, h) structs, and the rarest-first sort + prefix slice happen
    INSIDE the array (``sort_array`` + ``slice``, JVM codegen, zero
    extra exchanges).  Long-tail grams beyond the broadcast bound order
    as df=1 with hash tie-break — still a TOTAL order, so the prefix
    theorem holds; only candidate volume depends on the order, and only
    hot grams — which always get their true df — drive virality.

    Cost at 100 TB: one gram-stream shuffle (the struct collect), one
    prefix-stream self-join (~(1-t) of the gram volume on rarest-first
    keys, the PPJoin win), one candidate-bounded verify join against the
    SAME persisted arrays.  No cap, no recall trade.
    """
    d = grams.groupBy("h").count()
    hot = d.filter(F.col("count") >= 2).orderBy(
        F.desc("count"), "h"
    ).limit(NGRAM_HOT_DF_LIMIT)
    if _stage_dir is not None:
        # SUB-JOB SPLIT (the round-8 1000× disk fix, two attempts deep):
        # one monolithic pass job keeps the shuffle files of EVERY
        # exchange — gram distinct, df groupBy, array collect, prefix
        # self-join, verify — alive on disk simultaneously until the job
        # ends, and the array collect's external sort alone measured
        # ~170 B/gram of scratch (a quarter-corpus pass overflowed the
        # 78 GiB volume inside its FIRST sub-job).  So the pass is cut
        # at every exchange boundary: (A0) the hot-gram df table
        # materializes as its own job; (A1..Ak) the per-doc gram arrays
        # build in ``_stage_chunks`` id-hash chunks — the chunk filter
        # pushes below the distinct into the gram explode, so each chunk
        # job shuffles and sorts only 1/K of the pass — appending to one
        # scratch parquet; (B) the prefix self-join materializes the
        # candidate set; (C) the verify joins read-back parquet.  Disk
        # peak per job is capped at the largest single exchange / K,
        # which is what _ngram_shards_needed models.
        hot = _stage_materialize(hot, f"{_stage_dir}/hot.parquet")
        if hot is None:
            # no repeated gram anywhere — every df is 1
            hot = grams.sparkSession.createDataFrame(
                [], "h bigint, count bigint"
            )
        g2 = grams.join(F.broadcast(hot), "h", "left").select(
            "_id", "h", F.coalesce("count", F.lit(1)).alias("df")
        )
        import gc

        spark = grams.sparkSession
        arrs_path = f"{_stage_dir}/arrs.parquet"
        for k in range(_stage_chunks):
            chunk = g2.filter(
                F.pmod(F.xxhash64(F.col("_id"), F.lit(7)), F.lit(_stage_chunks))
                == k
            )
            arrs_k = (
                chunk.groupBy("_id")
                .agg(
                    F.sort_array(F.collect_list(F.struct("df", "h"))).alias(
                        "sdh"
                    )
                )
                .select(
                    "_id",
                    F.col("sdh.h").alias("hs"),
                    F.size("sdh").cast("long").alias("ng"),
                )
                .join(meta, "_id")
            )
            arrs_k.write.mode("append").parquet(arrs_path)
            del arrs_k, chunk
            gc.collect()
            spark._jvm.System.gc()
        import os

        if not any(n.endswith(".parquet") for n in os.listdir(arrs_path)):
            return _empty_pairs_frame(grams, "jaccard")
        arrs = spark.read.parquet(arrs_path)
    else:
        g2 = grams.join(F.broadcast(hot), "h", "left").select(
            "_id", "h", F.coalesce("count", F.lit(1)).alias("df")
        )
        arrs = (
            g2.groupBy("_id")
            .agg(F.sort_array(F.collect_list(F.struct("df", "h"))).alias("sdh"))
            .select(
                "_id",
                F.col("sdh.h").alias("hs"),
                F.size("sdh").cast("long").alias("ng"),
            )
            .join(meta, "_id")
            .persist()
        )
        if _persist_registry is not None:
            # pass-scoped callers unpersist between passes so per-pass
            # cache/scratch doesn't accumulate
            _persist_registry.append(arrs)
    # α = ⌈t·n⌉ with a tiny epsilon: float noise may only LENGTHEN the
    # prefix (a shorter-than-exact prefix would lose true pairs)
    plen = (
        F.col("ng")
        - F.ceil(F.col("ng") * F.lit(threshold) - F.lit(1e-9))
        + 1
    )
    pref = arrs.select(
        "_id",
        *[F.col(c) for c in block_cols],
        "_len",
        "ng",
        F.posexplode(F.slice("hs", F.lit(1), plen)).alias("pp", "h"),
    )
    if loss_observation is not None:
        # lossless by construction — attach the uniform zero-drop metric
        # pair so pipeline callers read one contract across candidates
        pref = pref.observe(
            loss_observation,
            F.count(F.lit(1)).alias("bucket_rows_total"),
            F.sum(F.lit(0)).cast("long").alias("bucket_rows_dropped"),
        )
    pa = pref.select(
        F.col("_id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in block_cols],
        F.col("_len").alias("len_a"),
        F.col("ng").alias("na"),
        (F.col("pp") + 1).alias("ia"),
        "h",
    )
    pb = pref.select(
        F.col("_id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
        F.col("_len").alias("len_b"),
        F.col("ng").alias("nb"),
        (F.col("pp") + 1).alias("ib"),
        "h",
    )
    cond = (F.col("id_a") < F.col("id_b")) & (
        F.abs(F.col("len_a") - F.col("len_b")) <= length_band
    )
    for c in block_cols:
        cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
    size_cond = (
        F.col("nb") >= F.col("na") * F.lit(threshold) - F.lit(1e-9)
    ) & (F.col("na") >= F.col("nb") * F.lit(threshold) - F.lit(1e-9))
    # PPJoin POSITIONAL filter (Xiao et al., WWW'08 §3.2), the part of
    # the algorithm the first cut skipped: jaccard ≥ t needs overlap
    # I ≥ ⌈t·(na+nb)/(1+t)⌉, and a match at 1-based sorted ranks
    # (ia, ib) bounds I ≤ 1 + min(na−ia, nb−ib) — so late-position
    # matches die HERE, inside codegen, before the candidate distinct's
    # exchange and sort.  Exactness: the pair's FIRST common gram under
    # the global order sits in both prefixes at the pair's minimal
    # ranks, where the bound is loosest — a qualifying pair always
    # keeps at least that row (pytest pins prefix-light ≡ blocked).  At
    # the 1000× fixture this is the difference between a candidate
    # stream the box can sort and the 66 GB pre-distinct blowup that
    # filled the volume: replica-invariant grams (digits survive the
    # fixture's letter rotation) occur in thousands of prefixes, and
    # without the positional bound every co-occurrence of such a gram
    # joins p² rows into the distinct.
    alpha = F.ceil(
        (F.col("na") + F.col("nb"))
        * F.lit(threshold / (1.0 + threshold))
        - F.lit(1e-9)
    )
    pos_cond = (
        1 + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("ib"))
    ) >= alpha
    pairs = (
        pa.join(pb, ["h"])
        .filter(cond & size_cond & pos_cond)
        .select("id_a", "id_b", "na", "nb")
        .distinct()
    )
    if _stage_dir is not None:
        # second sub-job boundary: the candidate set is tiny next to the
        # gram stream, but cutting here frees BOTH prefix-stream
        # exchanges before the verify join runs
        pairs = _stage_materialize(pairs, f"{_stage_dir}/pairs.parquet")
        if pairs is None:
            if _stats is not None:
                _stats["candidate_pairs"] = 0
            return _empty_pairs_frame(grams, "jaccard")
        if _stats is not None:
            # cheap count on the just-written parquet (a real scan job —
            # plain df.count() does NOT compile to the footer row-count
            # shortcut — but over a 3-long-column file it's noise next
            # to the verify join); the sharded driver extrapolates total
            # candidate mass from it
            _stats["candidate_pairs"] = pairs.count()
    elif _stats is not None:
        # unstaged pass (adaptive staging skipped the parquet round-trip)
        # still prices its candidate mass in-band: persist the candidate
        # set — it feeds the verify join anyway — and count it, so the
        # announce still lands BEFORE the verify join is scheduled
        pairs = pairs.persist()
        if _persist_registry is not None:
            _persist_registry.append(pairs)
        _stats["candidate_pairs"] = pairs.count()
    inter = (
        pairs.join(
            arrs.select(F.col("_id").alias("id_a"), F.col("hs").alias("ha")), "id_a"
        )
        .join(
            arrs.select(F.col("_id").alias("id_b"), F.col("hs").alias("hb")), "id_b"
        )
        .select(
            "id_a",
            "id_b",
            "na",
            "nb",
            F.size(F.array_intersect("ha", "hb")).cast("long").alias("both"),
        )
    )
    return inter.select(
        "id_a",
        "id_b",
        (F.col("both") / (F.col("na") + F.col("nb") - F.col("both"))).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def _ngram_jaccard_prefix_sharded(
    base: DataFrame,
    block_cols: list[str],
    length_band: int,
    threshold: float,
    n: int,
    shards: int,
    loss_observation=None,
    plan_info: dict | None = None,
    escalate_above: int | None = None,
) -> DataFrame:
    """EXACT prefix-light dedup in S doc-sharded passes with BOUNDED
    per-pass scratch — the round-6 1000×-fixture closure: the single-pass
    prefix-light path is corpus-proportional (~48 B/char) and DNF'd on
    disk at 1.5G chars, but every unordered doc pair lands in exactly one
    of S + S(S-1)/2 passes over ≤ 2/S of the corpus, so the union of
    per-pass exact results IS the exact result and no pass needs more
    than (2/S)·corpus scratch.

    PASS STAGING IS ADAPTIVE (round 10): the sub-job split inside each
    pass (hot-df stage job, 4 chunked array-build jobs, candidate-set
    materialization — ~3 parquet round-trips/pass on top of the pass
    union write) exists to cap the DISK peak when a pass's ~48 B/char
    scratch threatens the volume; when the estimated UNSTAGED peak —
    the per-pass light model (2/S·chars·48 B) amplified by
    ``NGRAM_UNSTAGED_PEAK_FACTOR`` (one job holds every exchange's
    shuffle files at once plus the collect's external-sort spill) —
    clears both the {NGRAM_SCRATCH_FLOOR_BYTES>>30} GiB floor and
    ``NGRAM_SCRATCH_HEADROOM`` of free scratch space, each pass runs as ONE
    job with an in-memory persist instead.  Motivation is
    measured, not stylistic: the staged form's wall-clock TRIPLED on a
    host reboot (r8 fold 15.6-22.8 s vs 44-70 s post-reboot,
    measurements/{{sharded_host_drift_r09,ab_sharded_r10}}.json — the
    interleaved A/B pinned the whole delta on the HOST's page-cache
    state, ratio r9/r8 median 0.98) because every staged round-trip
    rides the page cache when warm and raw disk when cold.  Fewer
    round-trips = less host-state sensitivity at small scale; the
    bounded-disk form engages exactly when the model says a pass could
    fill the volume (the property the 1000× fixture tests).  The
    candidate-mass checkpoint is preserved in BOTH forms (unstaged
    passes persist+count the candidate set — same in-band announce
    before the verify join is scheduled).

    Pass layout: docs get shard = xxhash64(_id) mod S (a pure function of
    the id — no extra state).  Diagonal pass (i,i) emits within-shard-i
    pairs; off-diagonal pass (i,j), i<j, runs on shards {i,j} and keeps
    only cross-shard pairs (within-shard candidates are filtered out —
    they belong to the diagonals).  Total compute ≈ S× the single-pass
    plan (each off-diagonal pass re-shingles 2 shards), the price of
    slicing; scratch per pass is the bound that buys completion.

    EAGER: each pass materializes to a scratch parquet dir (one job per
    pass — shuffle files of finished passes become GC-collectable instead
    of accumulating under one giant job) and the returned DataFrame reads
    the union back.  The scratch dir lives under the driver's Spark local
    root (:func:`_scratch_dir`), which Spark deletes when the JVM exits.
    On a cluster this operator is unnecessary — single-pass prefix-light
    is <1 GB/node at 100 executors — but "exact, on one box, in S
    passes" beats "run it elsewhere".

    ``loss_observation`` attaches to the FIRST pass (lossless everywhere
    by construction; one pass satisfies the uniform zero-drop contract).
    """
    import gc
    import os
    import shutil
    import uuid

    spark = base.sparkSession
    tagged = base.withColumn(
        "_shard", F.pmod(F.xxhash64(F.col("_id")), F.lit(shards)).cast("int")
    )
    local_dir = _scratch_dir(spark)
    out_dir = os.path.join(
        local_dir, f"ngram-sharded-{uuid.uuid4().hex[:12]}"
    )
    passes = [(i, i) for i in range(shards)] + [
        (i, j) for i in range(shards) for j in range(i + 1, shards)
    ]
    # adaptive staging decision: one cheap length-column scan + a free-
    # space probe (the same inputs ngram_jaccard_dedup's routing reads)
    # — never data to the driver.  The comparison uses
    # the UNSTAGED peak, which is ~4× the 48 B/char light model: an
    # unstaged pass keeps every exchange's shuffle files alive until the
    # job ends AND pays the array collect's external-sort spill
    # (measured ~170 B/gram in round 8 — the quarter-corpus pass that
    # overflowed the volume inside its first sub-job).  The sub-job
    # split is what makes the 48 B model valid, so the decision must be
    # made against the amplified estimate; comparing the bare model to
    # the budget would NEVER stage (shards are chosen so the bare
    # per-pass model fits the budget by construction).
    est_chars = int(base.agg(F.sum(F.col("_len").cast("long"))).first()[0] or 0)
    free = shutil.disk_usage(local_dir).free
    per_pass_need = (2 * est_chars // shards) * NGRAM_LIGHT_SCRATCH_BYTES_PER_CHAR
    unstaged_peak = per_pass_need * NGRAM_UNSTAGED_PEAK_FACTOR
    stage_passes = unstaged_peak > NGRAM_SCRATCH_FLOOR_BYTES and (
        unstaged_peak > free * NGRAM_SCRATCH_HEADROOM
    )
    if plan_info is not None:
        plan_info.update(
            pass_staging=stage_passes,
            per_pass_scratch_est_bytes=per_pass_need,
        )
    def _build_pass(p: int, i: int, j: int):
        sub = tagged.filter(F.col("_shard").isin([i, j]))
        grams = _ngram_gram_hashes(sub, n)
        meta = sub.select("_id", *[F.col(c) for c in block_cols], "_len")
        # per-pass stage dir: the sub-job split inside prefix-light is
        # what keeps the pass's disk peak at one exchange, not the sum
        # of all of them (see _stage_materialize / the round-8 fix note);
        # engaged only when the per-pass scratch model says the volume
        # is actually at risk (adaptive staging, docstring above)
        stage_dir = f"{out_dir}-stage-p{p}" if stage_passes else None
        pass_stats: dict = {}
        pass_persists: list = []
        res = _ngram_jaccard_prefix_light(
            grams,
            meta,
            block_cols,
            length_band,
            threshold,
            loss_observation=loss_observation if p == 0 else None,
            _persist_registry=pass_persists,
            _stage_dir=stage_dir,
            _stats=pass_stats if p == 0 else None,
        )
        if i != j:
            # cross-shard pairs only: within-shard pairs are the
            # diagonal passes' property, and emitting them here would
            # both duplicate output and re-pay their verify cost
            res = res.filter(
                F.pmod(F.xxhash64(F.col("id_a")), F.lit(shards))
                != F.pmod(F.xxhash64(F.col("id_b")), F.lit(shards))
            )
        return res, pass_stats, pass_persists, stage_dir

    def _finish_pass(p: int, res, pass_persists, stage_dir) -> None:
        # one result dir per pass (overwrite = idempotent), so passes can
        # run concurrently without racing one directory's _temporary area
        res.write.mode("overwrite").parquet(os.path.join(out_dir, f"p{p}"))
        for frame in pass_persists:
            frame.unpersist()
        if stage_dir is not None:
            shutil.rmtree(stage_dir, ignore_errors=True)

    # --- pass 0 always runs alone: its candidate-mass checkpoint must be
    # able to abort (escalate_above) BEFORE any other pass's verify
    # join is scheduled, and its loss observation must attach cleanly
    p0_res, pass_stats, p0_persists, p0_stage = _build_pass(0, *passes[0])
    if "candidate_pairs" in pass_stats:
        # CANDIDATE-MASS CHECKPOINT (no silent caps): the diagonal
        # pass covers 1/S^2 of the pair space, so its measured
        # candidate count extrapolates the whole job's verify mass.
        # On a self-similar corpus that mass grows with the SQUARE of
        # the duplication depth even after prefix + positional
        # filtering (1000x fixture: 722M candidates in pass 0 alone ->
        # ~11.5B total, each dragging two gram arrays through the
        # verify join) - a property of the corpus, not the plan.  The
        # run proceeds as the caller asked, but announces after ONE
        # pass instead of after hours, and reports in-band.  Placement
        # matters: _ngram_jaccard_prefix_light materializes the
        # candidate set and fills pass_stats EAGERLY, so announcing
        # here — before res.write schedules pass 0's verify join over
        # those candidates — warns before the most expensive stage of
        # the pass, not after it has already been paid.
        est_total = pass_stats["candidate_pairs"] * shards * shards
        if plan_info is not None:
            plan_info.update(
                pass0_candidate_pairs=pass_stats["candidate_pairs"],
                est_total_candidate_pairs=est_total,
            )
        if escalate_above is not None and est_total > escalate_above:
            # the caller opted into bounded-cost routing: abandon the
            # exact sharded run HERE — before pass 0's verify join
            # is ever scheduled — clean the scratch, and let the
            # driver re-route to char-minhash triage + exact verify
            for frame in p0_persists:
                frame.unpersist()
            if p0_stage is not None:
                shutil.rmtree(p0_stage, ignore_errors=True)
            shutil.rmtree(out_dir, ignore_errors=True)
            raise _CandidateMassEscalation(
                pass_stats["candidate_pairs"], est_total
            )
        if escalate_above is None and est_total > NGRAM_EXACT_CANDIDATE_CEILING:
            print(
                f"# ngram_jaccard_dedup[sharded]: pass 0 verified-"
                f"candidate count {pass_stats['candidate_pairs']:,} "
                f"implies ~{est_total:,} total - exact verification "
                f"at this duplication density is cluster-scale work "
                f"on any plan; consider triage_cap or "
                f"minhash/simhash first (proceeding as asked; "
                f"machine-readable via plan_info)"
            )
    # --- remaining passes.  Staged (disk-constrained) mode keeps them
    # STRICTLY SEQUENTIAL with a full GC nudge between passes — finished-
    # pass shuffle files must be ContextCleaner-collected before the next
    # pass peaks or the (2/S) scratch bound is fiction.  Unstaged mode
    # (the model says scratch fits with headroom) runs up to 3 passes as
    # concurrent jobs from a small thread pool instead (guide §2.6): the
    # passes are independent, so the next pass's tasks back-fill cores
    # freed by the current pass's straggler tail — measured 23.4 s → see
    # OPTIMIZATION_r10.md — and the per-pass System.gc() pause (which
    # exists only to keep the disk bound real) is skipped for the same
    # reason it is safe to overlap: scratch is not the binding resource.
    # Pass 0's own verify join + result write ALSO ride the pool: its
    # candidate-mass checkpoint already fired eagerly above (the
    # persist+count inside _build_pass), which is all the triage abort
    # semantics need to precede other passes.
    rest = list(enumerate(passes))[1:]
    if stage_passes:
        _finish_pass(0, p0_res, p0_persists, p0_stage)
        del p0_res
        gc.collect()
        spark._jvm.System.gc()
        for p, (i, j) in rest:
            res, _, persists, sdir = _build_pass(p, i, j)
            _finish_pass(p, res, persists, sdir)
            del res
            gc.collect()
            spark._jvm.System.gc()
    else:
        from concurrent.futures import ThreadPoolExecutor

        def _run(task):
            p, pij, prebuilt = task
            if prebuilt is not None:
                res, persists, sdir = prebuilt
            else:
                res, _, persists, sdir = _build_pass(p, *pij)
            _finish_pass(p, res, persists, sdir)

        tasks = [(0, passes[0], (p0_res, p0_persists, p0_stage))] + [
            (p, ij, None) for p, ij in rest
        ]
        del p0_res
        with ThreadPoolExecutor(max_workers=min(3, len(tasks))) as pool:
            # list() propagates the first worker exception, if any
            list(pool.map(_run, tasks))
        gc.collect()
    # a fully duplicate-free corpus can leave zero part files (every pass
    # empty) — return the typed empty frame instead of a schema-inference
    # error; out_dir is under the driver's Spark local root, driver-local
    # by definition
    pass_dirs = [
        os.path.join(out_dir, f"p{p}") for p in range(len(passes))
    ]
    live_dirs = [
        d
        for d in pass_dirs
        if os.path.isdir(d)
        and any(name.endswith(".parquet") for name in os.listdir(d))
    ]
    if not live_dirs:
        return _empty_pairs_frame(base, "jaccard")
    return spark.read.parquet(*live_dirs)


def _ngram_frames(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    length_col: str,
    n: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(base, meta, grams) for the n-gram jaccard plans: ``base`` renames
    the input to ``_id``/``_len``/``_txt``, ``meta`` is its per-doc
    block/length row, ``grams`` the distinct (_id, h) gram hashes."""
    # spread: the char-ngram explode is the dominant narrow stage
    base = spread_for_compute(df).select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in block_cols],
        F.col(length_col).alias("_len"),
        F.col(text_col).alias("_txt"),
    )
    # block/length metadata is one row per DOCUMENT — corpus-sized at
    # 100 TB — so it is NOT dragged through the gram-level pipeline (that
    # would widen every gram shuffle by the metadata bytes) and NOT
    # broadcast (that would OOM); it re-attaches at doc granularity
    meta = base.select("_id", *[F.col(c) for c in block_cols], "_len")
    return base, meta, _ngram_gram_hashes(base, n)


def _ngram_jaccard_blocked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    length_col: str,
    n: int = 3,
    length_band: int = 8,
    threshold: float = 0.6,
) -> DataFrame:
    """Reference n-gram jaccard: every blocked pair (same block columns,
    |length diff| ≤ band) verified by array intersection — no prefix
    filter, so it shares no candidate logic with the prefix-light plan.
    Tests and the n-gram recall gauges use it as the independent truth;
    its cost is quadratic per block, so it is not a production path.
    """
    _, meta, grams = _ngram_frames(df, id_col, text_col, block_cols, length_col, n)
    arrs = grams.groupBy("_id").agg(F.collect_list("h").alias("hs"))
    docs = arrs.select("_id", F.size("hs").cast("long").alias("ng")).join(
        meta, "_id"
    )
    a = docs.select(
        F.col("_id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in block_cols],
        F.col("_len").alias("len_a"),
        F.col("ng").alias("na"),
    )
    b = docs.select(
        F.col("_id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
        F.col("_len").alias("len_b"),
        F.col("ng").alias("nb"),
    )
    cond = (F.col("id_a") < F.col("id_b")) & (
        F.abs(F.col("len_a") - F.col("len_b")) <= length_band
    )
    for c in block_cols:
        cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
    inter = (
        a.join(b, cond)
        .join(arrs.select(F.col("_id").alias("id_a"), F.col("hs").alias("ha")), "id_a")
        .join(arrs.select(F.col("_id").alias("id_b"), F.col("hs").alias("hb")), "id_b")
        .select(
            "id_a",
            "id_b",
            "na",
            "nb",
            F.size(F.array_intersect("ha", "hb")).cast("long").alias("both"),
        )
    )
    return inter.select(
        "id_a",
        "id_b",
        (F.col("both") / (F.col("na") + F.col("nb") - F.col("both"))).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    length_col: str,
    n: int = 3,
    length_band: int = 8,
    threshold: float = 0.6,
    shards: int | None = None,
    triage_cap: int | None = None,
    escalate_above: int | None = None,
    loss_observation=None,
    plan_info: dict | None = None,
) -> DataFrame:
    """n-gram jaccard near-dup within (block_cols, |length diff| ≤ band).

    One exact plan, one explicit lossy opt-in:

    * default — :func:`_ngram_jaccard_prefix_light`, PPJoin prefix
      filtering with exact verification.  A one-column sum of
      ``length_col`` prices its shuffle scratch
      (~{NGRAM_LIGHT_SCRATCH_BYTES_PER_CHAR} B/char measured).  When that
      exceeds both the {NGRAM_SCRATCH_FLOOR_BYTES>>30} GiB floor and
      ``NGRAM_SCRATCH_HEADROOM`` of the free space on the Spark local dir,
      and ≤ {NGRAM_MAX_SHARDS} doc shards bound it, the same exact
      output is computed by :func:`_ngram_jaccard_prefix_sharded`
      (S× the compute, (2/S)·corpus scratch per pass); past that it
      announces the risk and runs single-pass.
    * ``shards=S`` (S ≥ 2) forces the sharded plan with S shards.  It is
      eager: each pass materializes to scratch parquet.
    * ``triage_cap=C`` runs the lossy char-minhash triage
      (:func:`_ngram_jaccard_minhash_verify`): width-1 minhash buckets
      larger than C are dropped before pairing, survivors are verified
      exactly.  ``ngram_jaccard_capped_recall`` measures its loss.  It
      combines with neither ``shards`` nor ``escalate_above``.
    * ``escalate_above=M`` applies to the sharded route: when pass 0's
      candidate count, extrapolated to all passes, exceeds M, the exact
      run is abandoned before any verify join and the triage runs at
      {NGRAM_TRIAGE_BUCKET_CAP} (``ngram_jaccard_triage_recall``
      measures it).  With the default None the run announces past
      {NGRAM_EXACT_CANDIDATE_CEILING:,} candidates and proceeds.

    ``loss_observation`` (a ``pyspark.sql.Observation``) makes the loss
    machine-readable IN-BAND: attached to the candidate stream, it
    reports ``bucket_rows_total`` / ``bucket_rows_dropped`` on the same
    job (zero dropped on the exact routes).  ``plan_info`` (a dict)
    receives the resolved plan driver-side: ``route``
    ("prefix_light"/"sharded"/"triage"), ``shards``, ``triage_cap``,
    ``light_scratch_exceeds``, and the sharded route's pass stats.

    Blocking: equi-join on block columns + a length range predicate — the
    classic blocking-key pattern.  At 100 TB the equi part shuffles; the
    range filter prunes inside each block.  (For unblockable corpora use
    :func:`minhash_lsh_dedup`; this operator is the high-precision verify
    for metadata-blockable data.)
    """
    if shards is not None and shards < 2:
        raise ValueError(f"shards must be >= 2, got {shards!r}")
    if triage_cap is not None:
        if shards is not None or escalate_above is not None:
            raise ValueError(
                "triage_cap combines with neither shards nor escalate_above"
            )
        if triage_cap < 1:
            raise ValueError(f"triage_cap must be >= 1, got {triage_cap!r}")
    base, meta, grams = _ngram_frames(
        df, id_col, text_col, block_cols, length_col, n
    )
    info = plan_info if plan_info is not None else {}
    light_exceeds = light_fits = False
    if shards is None and triage_cap is None:
        import shutil

        # one-column scan (length_col is a few bytes/row columnar) — the
        # only driver-visible scalar is the routing input, never data
        est_chars = int(
            df.agg(F.sum(F.col(length_col).cast("long"))).first()[0] or 0
        )
        local_dir = _scratch_dir(df.sparkSession)
        free = shutil.disk_usage(local_dir).free
        light_need = est_chars * NGRAM_LIGHT_SCRATCH_BYTES_PER_CHAR
        light_exceeds = light_need > free * NGRAM_SCRATCH_HEADROOM
        light_fits = light_need <= NGRAM_SCRATCH_FLOOR_BYTES or not light_exceeds
        if not light_fits:
            s_needed = _ngram_shards_needed(light_need, free)
            if s_needed <= NGRAM_MAX_SHARDS:
                # slice the corpus instead of dying of disk mid-job —
                # doc-sharded passes keep the output exact at
                # (2/S)·corpus scratch per pass
                shards = s_needed
                print(
                    f"# ngram_jaccard_dedup: estimated prefix-light "
                    f"scratch {light_need >> 30} GiB exceeds "
                    f"{NGRAM_SCRATCH_HEADROOM:.0%} of free "
                    f"{free >> 30} GiB on {local_dir}; running the EXACT "
                    f"doc-sharded plan: {s_needed} shards, "
                    f"{s_needed * (s_needed + 1) // 2} passes, "
                    f"~{2 * light_need // s_needed >> 30} GiB peak "
                    f"per-pass scratch — the largest single sub-job "
                    f"stage, not the pass total: each pass "
                    f"materializes its array table and candidate set "
                    f"so exchanges never coexist on disk "
                    f"(machine-readable via plan_info)"
                )
            else:
                print(
                    f"# ngram_jaccard_dedup: estimated prefix-light "
                    f"scratch {light_need >> 30} GiB exceeds "
                    f"{NGRAM_SCRATCH_HEADROOM:.0%} of free {free >> 30} GiB "
                    f"on {local_dir}, and bounding it needs "
                    f"{s_needed} > {NGRAM_MAX_SHARDS} doc shards — this "
                    f"box may run out of shuffle disk; options: run on "
                    f"a cluster, or opt into bounded-cost triage with "
                    f"triage_cap=..."
                )
    info.update(
        route=(
            "sharded" if shards is not None
            else "triage" if triage_cap is not None
            else "prefix_light"
        ),
        shards=shards,
        triage_cap=triage_cap,
        light_scratch_exceeds=light_exceeds,
    )
    if shards is not None:
        try:
            return _ngram_jaccard_prefix_sharded(
                base,
                block_cols,
                length_band,
                threshold,
                n,
                shards,
                loss_observation=loss_observation,
                plan_info=info,
                escalate_above=escalate_above,
            )
        except _CandidateMassEscalation as esc:
            triage_cap = NGRAM_TRIAGE_BUCKET_CAP
            print(
                f"# ngram_jaccard_dedup[sharded]: pass 0 verified-"
                f"candidate count {esc.pass0_pairs:,} implies "
                f"~{esc.est_total:,} total > escalate_above "
                f"{escalate_above:,} — abandoning the exact sharded "
                f"run (scratch cleaned) and routing to char-minhash "
                f"triage with triage_cap={triage_cap} + exact verify of "
                f"survivors; measured recall for this mode: "
                f"ngram_jaccard_triage_recall (machine-readable via "
                f"plan_info)"
            )
            info.update(route="triage", shards=None, triage_cap=triage_cap)
    if triage_cap is not None:
        return _ngram_jaccard_minhash_verify(
            grams,
            meta,
            block_cols,
            length_band,
            threshold,
            NGRAM_EST_HASHES,
            max_bucket_size=triage_cap,
            loss_observation=loss_observation,
        )
    if light_fits:
        # prefix-light reads grams twice (hot-df branch + array-collect
        # branch); the persist halves the shingle+distinct work.  Not
        # persisted when the scratch model does not fit: caching the
        # corpus-sized gram stream would add memory/disk pressure
        # exactly where it matters.
        grams = grams.persist()
    return _ngram_jaccard_prefix_light(
        grams,
        meta,
        block_cols,
        length_band,
        threshold,
        loss_observation=loss_observation,
    )


def ngram_containment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Asymmetric containment near-dup: ORDERED pairs (a, b), a ≠ b, with
    C(a→b) = |grams(a) ∩ grams(b)| / |grams(a)| ≥ ``threshold`` — the
    containment half of Broder's resemblance/containment pair, the
    asymmetric complement of :func:`ngram_jaccard_dedup`.  A long page
    that wholesale-includes a short document scores containment ≈ 1 at a
    jaccard far below any dedup threshold, so a jaccard-only pipeline
    never sees it; containment is how a training-data pipeline catches
    boilerplate inclusion and quote-expansion duplicates.  (Reference
    scope: the MapReduce engine ships no similarity ops — this extends
    the same documents-table dedup family the round briefs require.)

    Plan — the prefix-light scratch discipline
    (:func:`_ngram_jaccard_prefix_light`), ONE gram-stream shuffle:

    1. distinct (doc, gram-hash) rows; vocab-sized doc-frequency groupBy
       truncated to the {NGRAM_HOT_DF_LIMIT} hottest grams, broadcast,
       long tail df=1 — any TOTAL order satisfies the prefix theorem.
    2. one groupBy collects each doc's rarest-first gram array
       (sort inside the array: zero extra exchanges); persisted — it
       feeds the prefix stream, the full stream, and both verify sides.
    3. containment prefix theorem (one-sided Xiao et al. WWW'08 form):
       C(a→b) ≥ t ⟹ |grams(a) ∩ grams(b)| ≥ ⌈t·na⌉, so among a's
       ``na − ⌈t·na⌉ + 1`` rarest grams at least one lies in grams(b).
       Candidates join a's PREFIX against b's FULL gram list — b cannot
       be pruned (any gram of b may witness a's prefix); the exact size
       bound nb ≥ t·na (inter ≤ nb) prunes further.  Rarest-first makes
       prefix grams low-frequency, so the full-side explode meets few
       prefix partners per gram; residual hot-key skew is AQE's job.
    4. exact verify: array_intersect on the persisted arrays;
       containment = both / na.  No sketch anywhere — exact by
       construction, like the jaccard prefix paths (pytest pins the
       one-sided theorem against a filter-free reference plan).

    Output: (id_a, id_b, containment), id_a the CONTAINED side.
    """
    base = spread_for_compute(df).select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in block_cols],
        F.col(text_col).alias("_txt"),
    )
    meta = base.select("_id", *[F.col(c) for c in block_cols])
    grams = (
        char_ngram_rows(base, F.lower(F.col("_txt")), n, keep=["_id"])
        .select("_id", hash60(F.col("g")).alias("h"))
        .distinct()
        # consumed by TWO subtrees (hot-df groupBy and the array collect);
        # persisting halves the scan+shingle+distinct work (guide §5 —
        # this operator persists the larger arrs table anyway, so the
        # gram stream is not the memory ceiling)
        .persist()
    )
    d = grams.groupBy("h").count()
    hot = d.filter(F.col("count") >= 2).orderBy(
        F.desc("count"), "h"
    ).limit(NGRAM_HOT_DF_LIMIT)
    g2 = grams.join(F.broadcast(hot), "h", "left").select(
        "_id", "h", F.coalesce("count", F.lit(1)).alias("df")
    )
    arrs = (
        g2.groupBy("_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "h"))).alias("sdh"))
        .select(
            "_id",
            F.col("sdh.h").alias("hs"),
            F.size("sdh").cast("long").alias("ng"),
        )
        .join(meta, "_id")
        .persist()
    )
    # prefix length na − ⌈t·na⌉ + 1, float noise may only LENGTHEN it
    plen = (
        F.col("ng")
        - F.ceil(F.col("ng") * F.lit(threshold) - F.lit(1e-9))
        + 1
    )
    pa = arrs.select(
        F.col("_id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in block_cols],
        F.col("ng").alias("na"),
        F.posexplode(F.slice("hs", F.lit(1), plen)).alias("pa", "h"),
    )
    pb = arrs.select(
        F.col("_id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
        F.col("ng").alias("nb"),
        F.posexplode("hs").alias("pb", "h"),
    )
    cond = F.col("id_a") != F.col("id_b")
    for c in block_cols:
        cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
    size_cond = F.col("nb") >= F.col("na") * F.lit(threshold) - F.lit(1e-9)
    # one-sided POSITIONAL filter (round 10 — the same Xiao WWW'08 §3.2
    # bound the jaccard prefix path applies): C(a→b) ≥ t needs overlap
    # I ≥ ⌈t·na⌉, and a match at 1-based sorted ranks (ia, ib) bounds
    # I ≤ 1 + min(na − ia, nb − ib) — late-position matches die inside
    # codegen, before the candidate distinct's exchange.  Exact: the
    # pair's FIRST common gram under the global order sits at the pair's
    # minimal ranks where the bound is loosest, so a qualifying pair
    # always keeps at least that row.
    alpha = F.ceil(F.col("na") * F.lit(threshold) - F.lit(1e-9))
    pos_cond = (
        1
        + F.least(
            F.col("na") - (F.col("pa") + 1), F.col("nb") - (F.col("pb") + 1)
        )
    ) >= alpha
    pairs = (
        pa.join(pb, ["h"])
        .filter(cond & size_cond & pos_cond)
        .select("id_a", "id_b", "na")
        .distinct()
    )
    inter = (
        pairs.join(
            arrs.select(F.col("_id").alias("id_a"), F.col("hs").alias("ha")),
            "id_a",
        )
        .join(
            arrs.select(F.col("_id").alias("id_b"), F.col("hs").alias("hb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "na",
            F.size(F.array_intersect("ha", "hb")).cast("long").alias("both"),
        )
    )
    return inter.select(
        "id_a",
        "id_b",
        (F.col("both") / F.col("na")).alias("containment"),
    ).filter(F.col("containment") >= threshold)


# ---------------------------------------------------------------------------
# 5. embedding cosine near-dup (IVF-bucketed)
# ---------------------------------------------------------------------------

def embedding_near_dup(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int | str = 16,
    threshold: float = 0.4,
    nprobe: int = 2,
    assign: str = "brute",
) -> DataFrame:
    """Cosine near-dup pairs within IVF cells, multi-probe.

    Centroids are the vectors with id < ``num_centroids`` — deterministic
    seeds (contiguous ids assumed), so the oracle can replicate the exact
    cell assignment.  Candidate generation is the standard IVF search
    shape: every vector is INDEXED in its primary (max-cosine) cell and
    PROBES its top-``nprobe`` cells — a pair is a candidate when either
    member's probe list reaches the other's primary cell, which recovers
    the boundary near-dups single-probe misses.  Cost: each cell's
    product is |primary members| × |probers| ≈ nprobe·(n/k)² vs the
    (nprobe·n/k)² of probing both sides — 2× single-probe at nprobe=2,
    not 4×.  Duplicate discoveries (both directions, several shared
    cells) collapse in the final distinct; cosine is deterministic per
    pair via the quantized-integer path (functions/vectors.py), so
    results are engine-exact.
    """
    # quantize every vector ONCE and carry (array, Σq²); all downstream
    # cosines are prequantized_cosine — bit-identical to quantized_cosine
    # but the candidate join never re-quantizes or re-norms a side
    # persist() is a materialization barrier, not just reuse: without it
    # CollapseProject inlines quantize() into every consumer expression,
    # re-quantizing each vector once per centroid row in `scored`
    base = (
        spread_for_compute(vectors)
        .select(F.col(id_col).alias("_id"), quantize(F.col(vec_col)).alias("_q"))
        .withColumn("_n2", quantized_norm2(F.col("_q")))
        .persist()
    )
    from mapreduceproject_spark.operators.similarity import resolve_centroid_filter

    pick = resolve_centroid_filter(base, F.col("_id"), num_centroids)
    cents = F.broadcast(
        pick(base).select(
            F.col("_id").alias("cid"),
            F.col("_q").alias("cq"),
            F.col("_n2").alias("cn2"),
        )
    )
    from mapreduceproject_spark.operators.similarity import assign_cells

    # one ranking pass feeds both the index and the probe sides;
    # assign="twolevel" swaps the n·C brute scoring for faiss-style
    # coarse quantization (the measured second-order knob, SCALING.md)
    assigned = (
        assign_cells(base, cents, "_id", nprobe=nprobe, assign=assign)
        .select("_id", "_q", "_n2", "cid", "rn")
        .persist()
    )
    primary = assigned.filter(F.col("rn") == 1).select(
        F.col("_id").alias("id_p"), F.col("_q").alias("qp"), F.col("_n2").alias("np2"), "cid"
    )
    probe = assigned.select(
        F.col("_id").alias("id_q"), F.col("_q").alias("qq"), F.col("_n2").alias("nq2"), "cid"
    )
    return (
        probe.join(primary, "cid")
        .filter(F.col("id_q") != F.col("id_p"))
        .select(
            F.least("id_q", "id_p").alias("id_a"),
            F.greatest("id_q", "id_p").alias("id_b"),
            prequantized_cosine(
                F.col("qq"), F.col("qp"), F.col("nq2"), F.col("np2")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


# ---------------------------------------------------------------------------
# 6. duplicate clusters (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Min-label propagation to a fixpoint: (id, cluster_id=min id in
    component).

    The driver loop is control-flow only — data never leaves executors.
    Each iteration is one join + one aggregate (label spread along edges);
    iterations needed = graph diameter, and near-dup graphs are shallow
    (dup clusters are cliques or near-cliques from LSH banding).
    Checkpointing truncates lineage every round so the plan doesn't grow
    exponentially across iterations — the standard iterative-DataFrame
    discipline.

    ``checkpoint_dir`` selects durability: None (default) uses
    ``localCheckpoint`` — fast, but stored on executors, so losing one
    mid-run means recompute-from-nothing; a reliable path (HDFS/S3 on a
    real cluster) switches to ``checkpoint()``, which survives executor
    loss — the right choice for long 100 TB runs.
    """

    def ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint()
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint()

    # materialize the (usually expensive) edge computation once BEFORE the
    # symmetrization union — union(e, e.swapped) evaluates its input twice,
    # which would re-run the whole upstream near-dup pipeline; and without
    # any checkpoint every iteration's join would re-run it too
    e = ckpt(edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")))
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = ckpt(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
    )
    for it in range(max_iter):
        nbr = sym.join(labels, sym.dst == labels.id).select(
            F.col("src").alias("id"), F.col("label")
        )
        # one Spark job per TWO iterations (round 11, guide §2.6 job
        # accounting): carry each id's own (old) label through the
        # min-aggregate and piggyback the convergence count on the
        # checkpoint's materialization via observe() — no separate
        # old-vs-new join job — and materialize only every SECOND round
        # (plus the max_iter backstop).  Min-label propagation is
        # monotone, so "the LAST round changed nothing" alone proves the
        # fixpoint; a converged-at-odd-round graph pays one extra no-op
        # round, half the checkpoint jobs on the shallow LSH-clique
        # graphs this clusters (2-4 rounds).  The un-checkpointed odd
        # round's subtree appears twice in the even round's plan (label
        # join + self-vote union) — ReuseExchange collapses the heavy
        # exchanges below it, and the saved materialization job wins.
        tagged = labels.withColumn("own", F.lit(True)).unionByName(
            nbr.withColumn("own", F.lit(False))
        )
        agged = tagged.groupBy("id").agg(
            F.min("label").alias("label"),
            F.min(F.when(F.col("own"), F.col("label"))).alias("_old"),
        )
        if it % 2 == 0 and it != max_iter - 1:
            labels = agged.select("id", "label")
            continue
        obs = Observation(f"cc_changed_{uuid.uuid4().hex[:8]}")
        # coalesce: F.sum over ZERO rows is NULL, and NULL == 0 is False —
        # without it an empty label table (clean corpus, no near-dup
        # pairs) never trips the convergence break and burns all max_iter
        # checkpoint jobs on empty frames.
        flagged = agged.observe(
            obs,
            F.coalesce(
                F.sum((F.col("label") < F.col("_old")).cast("long")),
                F.lit(0),
            ).alias("changed"),
        )
        labels = ckpt(flagged.select("id", "label"))
        if obs.get["changed"] == 0:
            break
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def duplicate_clusters(
    pairs: DataFrame,
    checkpoint_dir: str | None = None,
    algorithm: str = "propagation",
) -> DataFrame:
    """Cluster assignment for every document that appears in a near-dup
    pair: (doc_id, cluster_id), cluster_id = smallest doc id reachable
    through the pair graph.  Downstream keep-one-per-cluster is then a
    trivial filter(doc_id == cluster_id).

    ``algorithm``: "propagation" (default — min-label, rounds =
    diameter, ideal for shallow LSH clique graphs) or "star"
    (:func:`connected_components_star` — O(log n) rounds on any shape,
    the choice when components may be long chains)."""
    fn = {
        "propagation": connected_components,
        "star": connected_components_star,
    }[algorithm]
    return fn(pairs, checkpoint_dir=checkpoint_dir).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


# ---------------------------------------------------------------------------
# 7. edit-distance (fuzzy string) near-dup
# ---------------------------------------------------------------------------

def edit_distance_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    length_col: str,
    prefix_chars: int = 40,
    block_prefix: int = 4,
    length_band: int = 8,
    max_dist: int = 5,
) -> DataFrame:
    """Levenshtein near-dup pairs over a fixed text prefix, blocked on
    (block_cols, first ``block_prefix`` chars, |length diff| ≤ band).

    Edit distance is quadratic per pair, so the blocking keys do all the
    scale work: the equi-join on (block, prefix) bounds each block's pair
    product, the length band prunes inside it, and the DP only ever runs
    on ``prefix_chars``-char strings (O(prefix²) constant per pair).  Two
    strings within distance d must have first-``block_prefix`` prefixes
    within distance d as well — exact-prefix blocking therefore trades
    recall for cost only when edits hit the first characters; that recall
    contract is the operator's documented knob, same spirit as
    length-band blocking in :func:`ngram_jaccard_dedup`.

    Reference has no fuzzy matching at all (SURVEY §2.6 absence list);
    this is the entity-resolution / near-dup primitive for short strings.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in block_cols],
        F.col(length_col).alias("_len"),
        F.substring(F.lower(F.col(text_col)), 1, prefix_chars).alias("_pfx"),
    ).withColumn("_blk", F.substring("_pfx", 1, block_prefix))
    a = base.select(
        F.col("_id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in block_cols],
        F.col("_len").alias("len_a"),
        F.col("_pfx").alias("pfx_a"),
        "_blk",
    )
    b = base.select(
        F.col("_id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
        F.col("_len").alias("len_b"),
        F.col("_pfx").alias("pfx_b"),
        "_blk",
    )
    cond = (F.col("id_a") < F.col("id_b")) & (
        F.abs(F.col("len_a") - F.col("len_b")) <= length_band
    )
    for c in block_cols:
        cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
    return (
        a.join(b, ["_blk"])
        .filter(cond)
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("pfx_a"), F.col("pfx_b")).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= max_dist)
    )


# ---------------------------------------------------------------------------
# 8. semantic dedup (SemDeDup: k-means clusters -> intra-cluster cosine prune)
# ---------------------------------------------------------------------------

def semantic_dedup(
    spark,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | str = 8,
    iterations: int = 2,
    threshold: float = 0.5,
    assign: str = "brute",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with k-means, then
    prune near-duplicates *within* each cluster by pairwise cosine.

    Keep-priority follows the paper: within a cluster, documents FARTHER
    from the centroid are kept first (they carry more diversity), so rank
    ascending by cosine-to-centroid (ties -> lowest id).  A document is
    dropped when any higher-priority document in its cluster has cosine
    >= ``threshold`` with it; the reported ``keeper_id`` is the
    highest-priority such dominator.  (The paper's greedy scan skips
    dominators that were themselves dropped; this parallel exists-earlier
    rule over-drops only in >=3-chains below threshold transitivity and
    is deterministic + engine-exact, which the greedy scan is not under
    repartitioning.)

    Scale: the whole point of clustering first (vs all-pairs) is that the
    pair product is per-cluster, Sum_c |c|^2 ~ n^2/k for balanced
    clusters — at 100 TB, k grows with the corpus (the paper uses 50k
    clusters for LAION) so |c| stays bounded and the self-join shuffles
    on cluster_id with AQE splitting any hot cluster.  k-means itself
    never moves the corpus (operators/clustering.py).  Cosine is the
    quantized-integer path — bit-identical across engines.
    """
    from mapreduceproject_spark.operators.clustering import kmeans_assignments
    from pyspark.sql import Window

    assigned = (
        kmeans_assignments(spark, vectors, id_col, vec_col, k, iterations, assign)
        .withColumn("_n2", quantized_norm2(F.col("q")))
    )
    w = Window.partitionBy("cluster_id").orderBy(F.asc("ccos"), F.asc("id"))
    ranked = assigned.withColumn("keep_rank", F.row_number().over(w)).persist()
    d = ranked.select(
        "cluster_id",
        F.col("id").alias("vec_id"),
        F.col("q").alias("_qd"),
        F.col("_n2").alias("_nd"),
        F.col("keep_rank").alias("_rd"),
    )
    e = ranked.select(
        "cluster_id",
        F.col("id").alias("keeper_id"),
        F.col("q").alias("_qe"),
        F.col("_n2").alias("_ne"),
        F.col("keep_rank").alias("_re"),
    )
    doms = (
        d.join(e, "cluster_id")
        .filter(F.col("_re") < F.col("_rd"))
        .select(
            "cluster_id",
            "vec_id",
            "keeper_id",
            prequantized_cosine(
                F.col("_qd"), F.col("_qe"), F.col("_nd"), F.col("_ne")
            ).alias("cosine"),
            "_re",
        )
        .filter(F.col("cosine") >= threshold)
    )
    # first-dominating-keeper per vec_id as ONE aggregate: _re (the
    # keeper's keep_rank) is unique within the vector's single cluster,
    # so min(struct(_re, ...)) picks exactly the row row_number()=1 under
    # (ORDER BY _re) picked — same values, minus a window exchange + sort
    # (round 10, guide §2.4; map-side partial min shrinks the shuffle to
    # one row per (partition, vec_id)).
    return (
        doms.groupBy("vec_id")
        .agg(
            F.min(
                F.struct("_re", "cluster_id", "keeper_id", "cosine")
            ).alias("_b")
        )
        .select(
            F.col("_b.cluster_id").alias("cluster_id"),
            "vec_id",
            F.col("_b.keeper_id").alias("keeper_id"),
            F.col("_b.cosine").alias("cosine"),
        )
    )


def connected_components_star(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC 2014).

    :func:`connected_components`'s min-label propagation needs one round
    per unit of component DIAMETER — fine for near-dup graphs (shallow
    cliques from LSH banding), quadratic-time on an adversarial long
    path.  The star alternation contracts any component to a star rooted
    at its minimum id in O(log n) rounds regardless of shape — the
    documented answer in SCALING.md's cliff list, now implemented.

    Each half-round, per node u over its (bidirectional) neighborhood:
    m(u) = min(N(u) ∪ {u}); large-star rewires the strictly larger
    neighbors of u to m(u), small-star the rest; both keep (u, m(u)) so
    connectivity is never lost.  All data motion is one groupBy + one
    join per half-round, keyed by node id.  Fixpoint detection is an
    order-independent checksum (count + bit_xor of pair hashes)
    piggybacked on the checkpoint materialization via ``observe`` — one
    Spark job per half-round, no extra comparison job.

    Output contract matches :func:`connected_components`:
    (id, cluster_id = min id in component).
    """

    def ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint()
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint()

    def canon(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col("u") != F.col("v"))
            .select(
                F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
            )
            .distinct()
        )

    def star(e: DataFrame, large: bool) -> DataFrame:
        nbr = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = nbr.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        joined = nbr.join(m, "u")
        pred = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        rewired = joined.filter(pred).select(F.col("v").alias("u"), F.col("m").alias("v"))
        self_link = m.select("u", F.col("m").alias("v"))
        return canon(rewired.union(self_link))

    e = ckpt(canon(edges.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))))
    checksum = None
    converged = False
    for _ in range(max_iter):
        stepped = star(star(e, large=True), large=False)
        obs = Observation(f"cc_star_{uuid.uuid4().hex[:8]}")
        observed = stepped.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("x"),
        )
        e = ckpt(observed)
        new_checksum = (obs.get["n"], obs.get["x"])
        if new_checksum == checksum:
            converged = True
            break
        checksum = new_checksum
    if not converged:
        # the star-extraction below is only valid at the fixpoint — on a
        # non-contracted graph it would silently return WRONG labels, so
        # enforce the docstring's exact-labels contract loudly.  O(log n)
        # rounds suffice for any graph shape, so hitting this means
        # max_iter was set far too low for the component structure.
        raise RuntimeError(
            f"connected_components_star did not reach the star fixpoint "
            f"within max_iter={max_iter} rounds; raise max_iter "
            f"(O(log n) rounds suffice for n nodes)"
        )
    # at the fixpoint every component is a star rooted at its min id:
    # non-roots appear as (root, w) pairs; roots label themselves
    members = e.select(F.col("v").alias("id"), F.col("u").alias("cluster_id"))
    roots = e.select(F.col("u").alias("id")).distinct().withColumn(
        "cluster_id", F.col("id")
    )
    return members.unionByName(roots).groupBy("id").agg(
        F.min("cluster_id").alias("cluster_id")
    )


def repeated_ngram_mask_profile(
    df: DataFrame, id_col: str, text_col: str, k: int = 12
) -> DataFrame:
    """Substring-level dedup mask: which tokens sit inside a k-gram that
    occurs >= 2 times corpus-wide (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the suffix-array
    ExactSubstr pass, re-expressed as a sliding-k-gram coverage plan).

    Unlike :func:`dedup.exact` (whole-document) and span-exact
    (non-overlapping fixed spans), this is the *sliding* window: every
    token position starts a gram, so a duplicated passage is caught at
    any alignment, and the output is per-document mask coverage — the
    statistic a masking/removal rewrite actually needs.

    Output: (id, n_tokens, n_masked, mask_ratio).

    Scale shape: tokens posexplode once (linear); grams assembled from
    ``lead()`` over the per-document window (no O(n·k) array
    re-evaluation); the ONLY corpus-wide exchange is the window count
    over the 60-bit gram hash — (id, pos, h) longs, never gram text.
    Coverage positions explode only for duplicated grams (output-
    proportional), then distinct + per-doc count.  Intra-document
    repeats count toward the >=2 threshold, matching ExactSubstr.
    """
    from pyspark.sql import Window

    from mapreduceproject_spark.functions.textfn import token_rows

    base = spread_for_compute(df)
    toks = token_rows(base, F.col(text_col), [id_col])
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    grams = (
        toks.select(
            id_col,
            "pos",
            F.concat_ws(" ", *parts).alias("gram"),
            F.lead("pos", k - 1).over(w).alias("_end"),
        )
        .filter(F.col("_end").isNotNull())
        .select(id_col, "pos", hash60(F.col("gram")).alias("h"))
    )
    global_c = F.count("*").over(Window.partitionBy("h"))
    dup = grams.select(id_col, "pos", global_c.alias("c")).filter(F.col("c") >= 2)
    covered = dup.select(
        id_col, F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("p")
    ).distinct()
    masked = covered.groupBy(id_col).agg(F.count("*").cast("long").alias("n_masked"))
    ntok = df.select(
        id_col, F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens")
    )
    n_masked = F.coalesce(F.col("n_masked"), F.lit(0)).cast("long")
    return ntok.join(masked, id_col, "left").select(
        id_col,
        "n_tokens",
        n_masked.alias("n_masked"),
        F.when(F.col("n_tokens") > 0, n_masked / F.col("n_tokens"))
        .otherwise(F.lit(0.0))
        .alias("mask_ratio"),
    )
