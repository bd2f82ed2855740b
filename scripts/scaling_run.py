"""Scale-trend evidence for SCALING.md: run the dedup/ANN tier on a ~10×
replica of the sf0.1 documents/embeddings tables and confirm AQE skew-join
splitting fires on a pathological hot key.

Fixture design (built under .scaling/, gitignored):
- documents ×REPLICAS: ids offset per replica; text passed through a
  per-replica alphabet rotation so replicas are NOT near-duplicates of
  each other — total near-dup work grows ~linearly (natural structure
  ×10), not quadratically (every doc in a 10-clone cluster), which is the
  honest scale-up of a real corpus.
- embeddings ×REPLICAS: ids offset; vector rotated by k positions per
  replica (norm-preserving, decorrelated across replicas).
- all other tables symlinked from the source sf dir.

Usage: python scripts/scaling_run.py [--build-only|--run-only]
Prints one JSON line with per-query wall-clock at the scaled fixture.

At REPLICAS=1000 set SPARK_DRIVER_MEM=48g+ (the 8g default OOMs the
doc-backed checks in the single local JVM) and run checks ONE PER
PROCESS; budget ~15 min for the build and 13-30 min per embeddings
check (measured round 6: ivf 803 s, pagerank 795 s, kmeans 1504 s,
semantic 1785 s).  ngram at 1000x is a documented disk DNF on this box
(~48 B/char x 1.5G chars > free scratch — SCALING.md round-6 section).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SRC_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# SPARK_GRAFT_SCALE_REPLICAS=100 gives a second decade of scale evidence;
# the default 10x fixture is bit-identical to earlier rounds' (the extra
# transform stages below are identity for k < 26 / k < 64).
REPLICAS = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICAS", "10"))
OUT_DIR = str(
    Path(__file__).resolve().parent.parent / ".scaling" / f"sf{REPLICAS}x"
)

# Queries that are quadratic BY DESIGN at their fixed default knobs
# (the documented IVF/k-means cliffs).  At 10x they run fixed-knob to
# MEASURE the cliff; past that the fixed-knob runs are pure cliff
# re-measurement at 100x the cost, so only their scaled-knob forms run
# (the *_scaling_check functions, whose knobs grow with REPLICAS).
FIXED_KNOB_CLIFFS = {
    "dedup_embedding_cosine",
    "pagerank_knn",
    "knn_triangle_census",
    "dedup_semantic",
}

# the heavy tier the verdict asks to measure beyond sf0.1
TIER = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_span_exact",
    "dedup_edit_distance",
    "dedup_embedding_cosine",
    "dedup_clusters",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "kmeans_embeddings",
    "text_fingerprints",
    "text_langid_ngram",
    # round-3 second wave (documents/embeddings-backed)
    "pii_scan_redact",
    "cdc_chunk_dedup",
    "bigram_lm_top",
    "heavy_hitters",
    "ann_hyperplane_topk",
    "pagerank_knn",
    "dedup_keep_best",
    # round-3 third wave (documents/embeddings-backed heavy shapes)
    "cross_source_shingle_overlap",
    "knn_triangle_census",
    "token_pmi_bigrams",
    "source_token_entropy",
    "token_zipf_fit",
    # round-9: the two-phase distributed rank (vocab-sized output)
    "vocab_stats",
    # round-3 fourth wave
    "dedup_semantic",
    "dedup_incremental_minhash",
    "chunk_sliding_windows",
    # round-4 wave (documents/embeddings-backed; join_key_skew_report is
    # events-backed and events don't scale in this fixture)
    "repeated_ngram_mask",
    "split_leakage_check",
    "embedding_outlier_scores",
    # round-4 retrieval/mining wave (seasonal_residual_outliers is
    # events-backed and events don't scale in this fixture)
    "ann_hard_negatives",
    "hybrid_rrf_retrieval",
    "budget_top_p_selection",
    "bigram_surprisal_filter",
    "knn_bfs_reach",
    "embedding_split_drift",
]

ALPHA = "abcdefghijklmnopqrstuvwxyz"


def build(spark) -> None:
    from pyspark.sql import functions as F

    out = Path(OUT_DIR)
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    for t in (
        "region nation customer supplier part orders lineitem events".split()
    ):
        os.symlink(f"{SRC_SF}/{t}.parquet", out / f"{t}.parquet")

    docs = spark.read.parquet(f"{SRC_SF}/documents.parquet")
    n_docs = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = []
    vowels = "aeiou"
    consonants = "".join(c for c in ALPHA if c not in vowels)
    for k in range(REPLICAS):
        # composed per-replica character permutation: alphabet rotation
        # (26) x vowel rotation (5) x consonant rotation (21, third
        # decade) = 2730 distinct maps, so replicas stay non-near-dup
        # past k=130; k < 130 composes with the identity consonant map —
        # bit-identical to the original 10x/100x fixtures.
        a, b, c = k % 26, (k // 26) % 5, (k // 130) % 21
        rot = ALPHA[a:] + ALPHA[:a]
        vrot = vowels[b:] + vowels[:b]
        crot = consonants[c:] + consonants[:c]
        txt = F.translate(
            F.translate(F.translate(F.col("text"), ALPHA, rot), vowels, vrot),
            consonants,
            crot,
        )
        reps.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * n_docs)).alias("doc_id"),
                txt.alias("text"),
                *[c2 for c2 in docs.columns if c2 not in ("doc_id", "text")],
            )
        )
    _write_chunked(reps, str(out / "documents.parquet"))

    emb = spark.read.parquet(f"{SRC_SF}/embeddings.parquet")
    n_emb = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    _write_chunked(
        [emb_replica(emb, k, n_emb) for k in range(REPLICAS)],
        str(out / "embeddings.parquet"),
    )


def emb_replica(
    emb, k: int, n_emb: int, id_col: str = "vec_id", vec_col: str = "embedding"
):
    """Replica k of the embeddings table: ids offset by k*n_emb, vector
    passed through a norm-preserving decorrelating transform — rotate by
    k%dim positions (slice+concat); past a full cycle, additionally
    reverse; past 128, additionally sign-flip a k-dependent prefix —
    64 x 2 x 65 = 8320 distinct transforms, identity-compatible with the
    original 10x/100x fixtures for k < 128.  Shared by the decade
    fixtures (build) and the centroid-knee chunk fixture
    (scripts/centroid_knee_proxy.py)."""
    from pyspark.sql import functions as F

    r = k % 64
    rotated = F.concat(
        F.slice(F.col(vec_col), r + 1, 10**6),
        F.slice(F.col(vec_col), 1, r),
    )
    if (k // 64) % 2 == 1:
        rotated = F.reverse(rotated)
    j = (k // 128) % 65
    if j:
        rotated = F.zip_with(
            rotated,
            F.sequence(F.lit(1), F.size(rotated)),
            lambda x, i: F.when(i <= F.lit(j), -x).otherwise(x),
        )
    return emb.select(
        (F.col(id_col) + F.lit(k * n_emb)).alias(id_col),
        rotated.alias(vec_col),
        *[c for c in emb.columns if c not in (id_col, vec_col)],
    )


def _write_chunked(reps: list, dest: str, chunk: int = 100) -> None:
    """Union replicas in bounded chunks and append each to ``dest``:
    a 1000-branch union is one logical plan Catalyst must analyze whole
    (minutes of driver time and a deep tree); 100-branch appends keep
    analysis bounded and produce identical table contents."""
    for start in range(0, len(reps), chunk):
        big = reps[start]
        for r in reps[start + 1 : start + chunk]:
            big = big.unionByName(r)
        big.repartition(32).write.mode("append").parquet(dest)


def skew_split_check(spark) -> bool:
    """Pathological spam bucket: one key owns ~90% of a 2M-row fact.  With
    AQE skew-join on, the final adaptive sort-merge join must carry the
    'skew=true' marker (hot partition split across tasks).

    Both broadcast thresholds are disabled so the tiny dim can't dodge the
    shuffle join, and the probe action runs on the join's OWN
    QueryExecution (a write would execute a separate command QE whose
    adaptive plan is not visible from the DataFrame)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        big = spark.range(2_000_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        dim = spark.range(200_000).select(F.col("id").alias("k"), F.lit("x").alias("v"))
        j = big.join(dim, "k")
        j.tail(1)
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    return "skew=true" in plan


def _skip_brute() -> bool:
    """SPARK_GRAFT_SCALE_SKIP_BRUTE with conventional falsy strings:
    '0'/'false'/'no'/'' re-enable the brute baseline measurement."""
    return os.environ.get("SPARK_GRAFT_SCALE_SKIP_BRUTE", "").strip().lower() not in (
        "", "0", "false", "no",
    )


def ivf_centroid_scaling_check(spark) -> dict:
    """The dedup_embedding_cosine 10x-fixture run shows the documented IVF
    cliff: fixed C=16 means 10x corpus -> (n/C)^2 = 100x per-cell pairs.
    The documented answer is raising C with corpus size; this runs the
    same operator at C=160 on the same fixture to show the knob works."""
    import time

    from pyspark.sql import functions as F

    from mapreduceproject_spark.operators.dedup import embedding_near_dup

    emb = spark.read.parquet(f"{OUT_DIR}/embeddings.parquet")
    brute_sec = None
    if not _skip_brute():
        # the brute side is a pure re-measure (recorded in the committed
        # 100x artifact); skip it when only the twolevel delta is needed
        t0 = time.perf_counter()
        embedding_near_dup(
            emb, "vec_id", "embedding", num_centroids=16 * REPLICAS, threshold=0.4, nprobe=2
        ).write.format("noop").mode("overwrite").save()
        brute_sec = round(time.perf_counter() - t0, 2)
        spark.catalog.clearCache()
    # the second-order knob: same scaled C, but assignment through coarse
    # quantization (n·√C instead of n·C dots) — the measured answer to
    # the 100× finding that assignment becomes the new quadratic
    t0 = time.perf_counter()
    embedding_near_dup(
        emb,
        "vec_id",
        "embedding",
        num_centroids=16 * REPLICAS,
        threshold=0.4,
        nprobe=2,
        assign="twolevel",
    ).write.format("noop").mode("overwrite").save()
    return {
        "c_scaled": 16 * REPLICAS,
        "sec": brute_sec,
        "twolevel_sec": round(time.perf_counter() - t0, 2),
    }


def pagerank_centroid_scaling_check(spark) -> dict:
    """pagerank_knn shares the IVF cell structure, so it shares the cliff:
    fixed 16 centroids at 10x corpus means 100x within-cell edge-candidate
    pairs.  Same knob, same fix — run the operator with centroids scaled
    10x on the scaled fixture."""
    import time

    from mapreduceproject_spark.operators.graph import knn_edges_ivf, pagerank

    emb = spark.read.parquet(f"{OUT_DIR}/embeddings.parquet")
    brute_sec = None
    if not _skip_brute():
        t0 = time.perf_counter()
        edges = knn_edges_ivf(
            emb, "vec_id", "embedding", num_centroids=16 * REPLICAS, k=4
        )
        pagerank(emb, edges, "vec_id", iterations=2).write.format("noop").mode(
            "overwrite"
        ).save()
        brute_sec = round(time.perf_counter() - t0, 2)
        spark.catalog.clearCache()
    t0 = time.perf_counter()
    edges = knn_edges_ivf(
        emb, "vec_id", "embedding", num_centroids=16 * REPLICAS, k=4,
        assign="twolevel",
    )
    pagerank(emb, edges, "vec_id", iterations=2).write.format("noop").mode(
        "overwrite"
    ).save()
    return {
        "c_scaled": 16 * REPLICAS,
        "sec": brute_sec,
        "twolevel_sec": round(time.perf_counter() - t0, 2),
    }


def semantic_k_scaling_check(spark) -> dict:
    """dedup_semantic shares the fixed-cluster-count cliff: k=8 at 10x
    corpus means (n/k)^2 = 100x intra-cluster pairs (measured 4 s -> 43 s).
    SemDeDup's own recipe is k proportional to corpus size (50k clusters
    for LAION); run the operator with k scaled 10x on the scaled fixture
    to show the knob restores near-linear behavior."""
    import time

    from mapreduceproject_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet(f"{OUT_DIR}/embeddings.parquet")
    brute_sec = None
    if not _skip_brute():
        t0 = time.perf_counter()
        semantic_dedup(
            spark, emb, "vec_id", "embedding", k=8 * REPLICAS, iterations=2, threshold=0.4
        ).write.format("noop").mode("overwrite").save()
        brute_sec = round(time.perf_counter() - t0, 2)
        spark.catalog.clearCache()
    t0 = time.perf_counter()
    semantic_dedup(
        spark, emb, "vec_id", "embedding", k=8 * REPLICAS, iterations=2,
        threshold=0.4, assign="twolevel",
    ).write.format("noop").mode("overwrite").save()
    return {
        "k_scaled": 8 * REPLICAS,
        "sec": brute_sec,
        "twolevel_sec": round(time.perf_counter() - t0, 2),
    }


def mg_throughput_check(spark) -> dict:
    """Candidate-pass throughput of the vectorized Misra-Gries summary
    (operators/frequency.py): tokens/sec over the scaled fixture's token
    stream, isolated from the verify pass.  Measured same-harness against
    the round-3 per-token dict loop at the 100× fixture: 6.2 s → 3.1 s
    end-to-end (2.0×; the artifact's legacy_dict_* fields record the
    baseline — scan+schedule overhead common to both bounds the ratio)."""
    import time

    from pyspark.sql import functions as F

    from mapreduceproject_spark.functions.textfn import tokens
    from mapreduceproject_spark.operators.frequency import _misra_gries_partition

    docs = spark.read.parquet(f"{OUT_DIR}/documents.parquet")
    stream = docs.select(
        F.explode(tokens(F.col("text"))).alias("term")
    ).persist()
    n_tokens = stream.count()  # also materializes the persist
    t0 = time.perf_counter()
    # capacity 101 = int(2/phi)+1 at the registered query's phi=0.02
    stream.mapInPandas(
        _misra_gries_partition(101, "term"), schema="term string"
    ).write.format("noop").mode("overwrite").save()
    sec = time.perf_counter() - t0
    stream.unpersist()
    return {
        "tokens": n_tokens,
        "sec": round(sec, 2),
        "tok_per_sec": int(n_tokens / sec),
    }


def ngram_scratch_check(spark) -> dict:
    """dedup_ngram_jaccard end-to-end at the scaled fixture under the
    default options: the exact prefix-light plan runs single-pass, or in
    doc-sharded passes when its estimated scratch exceeds free disk, and
    completes.  The resolved plan is read from plan_info, the
    machine-readable channel that replaced the stdout grep."""
    import time

    from mapreduceproject_spark.operators.dedup import ngram_jaccard_dedup

    docs = spark.read.parquet(f"{OUT_DIR}/documents.parquet")
    info: dict = {}
    t0 = time.perf_counter()
    ngram_jaccard_dedup(
        docs,
        "doc_id",
        "text",
        block_cols=["lang"],
        length_col="n_chars",
        n=3,
        length_band=8,
        threshold=0.55,
        plan_info=info,
    ).write.format("noop").mode("overwrite").save()
    return {
        "sec": round(time.perf_counter() - t0, 2),
        "route": info.get("route"),
        "shards": info.get("shards"),
    }


def kmeans_autok_check(spark) -> dict:
    """Round-5 driver-payload contract (operators/clustering.py): auto-k
    k-means at the scaled fixture under BOTH centroid carriers — driver
    literals (default, k <= max_literal_centroids) and the distributed
    localCheckpoint path (max_literal_centroids=0, the corpus-scaled-k
    carrier where the driver never holds centroids).  Both run the
    two-level assignment; equal results are pytest-pinned, this measures
    that the distributed carrier costs ~nothing at fixture scale.
    An untimed warmup pass runs first: the session's first kmeans pays
    scan/JIT costs that dwarf the carrier difference (a first cut
    mis-attributed that ~60 s warmup to the literal carrier)."""
    import time

    from mapreduceproject_spark.operators.clustering import kmeans_quantized
    from mapreduceproject_spark.operators.similarity import auto_centroid_count

    emb = spark.read.parquet(f"{OUT_DIR}/embeddings.parquet")
    n = emb.count()

    def run(cap):
        kmeans_quantized(
            spark, emb, "vec_id", "embedding", k="auto", assign="twolevel",
            max_literal_centroids=cap,
        ).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    run(0)  # warmup (distributed carrier), untimed
    lit_sec = None
    if REPLICAS <= 100:
        # past 100x the auto-k exceeds tens of thousands: forcing the
        # literal carrier would inline k·dim literal values into every
        # Lloyd re-plan — exactly the driver pathology the 512 gate
        # exists to prevent; there is nothing left to A/B up there
        t0 = time.perf_counter()
        run(10**9)  # force the literal/driver-collect carrier
        lit_sec = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    run(0)  # distributed carrier
    dist_sec = round(time.perf_counter() - t0, 2)
    return {
        "n": n,
        "auto_k": auto_centroid_count(n),
        "literal_sec": lit_sec,
        "distributed_sec": dist_sec,
    }


def semantic_autok_check(spark) -> dict:
    """dedup_semantic with k='auto' (the piecewise policy) + two-level
    assignment at the scaled fixture — the round-5 re-measure of the
    operator under its shipped defaults rather than a hand-scaled k."""
    import time

    from mapreduceproject_spark.operators.dedup import semantic_dedup
    from mapreduceproject_spark.operators.similarity import auto_centroid_count

    emb = spark.read.parquet(f"{OUT_DIR}/embeddings.parquet")
    n = emb.count()
    t0 = time.perf_counter()
    semantic_dedup(
        spark, emb, "vec_id", "embedding", k="auto", iterations=2,
        threshold=0.4, assign="twolevel",
    ).write.format("noop").mode("overwrite").save()
    return {
        "n": n,
        "auto_k": auto_centroid_count(n),
        "sec": round(time.perf_counter() - t0, 2),
    }


def ngram_recall_check(spark) -> dict:
    """n-gram recall at the scaled corpus: blocked-reference truth over a
    deterministic hash sample vs (a) the default plan (prefix-light —
    exact by theorem, so anything below 1.0 is a bug) and (b) the capped
    char-minhash triage at the production cap 256 (the measured 100x
    0.041 cliff, kept for the record).  The sample percentage bounds the
    truth side's pair work, which is quadratic per block; 20%% keeps
    it ~1/25th of the full pair work at <=100x, and past that the sample
    holds a FIXED ABSOLUTE size (the same contract dedup_minhash_recall
    documents: a gauge's exact-truth side is budgeted in documents, not
    corpus fraction — 20% of the 1000x corpus would alone exceed this
    box's disk)."""
    import time

    from pyspark.sql import functions as F

    from mapreduceproject_spark.functions.hashing import hash60
    from mapreduceproject_spark.operators.dedup import (
        _ngram_jaccard_blocked,
        ngram_jaccard_dedup,
    )

    pct = 20 if REPLICAS <= 100 else max(1, 2000 // REPLICAS)
    salt, cap = "|ng-recall", 256
    docs = spark.read.parquet(f"{OUT_DIR}/documents.parquet")
    sample = docs.filter(
        hash60(F.concat(F.col("text"), F.lit(salt))) % 100 < pct
    )

    kw = dict(
        block_cols=["lang"], length_col="n_chars", n=3, length_band=8,
        threshold=0.55,
    )
    t0 = time.perf_counter()
    truth = (
        _ngram_jaccard_blocked(sample, "doc_id", "text", **kw)
        .select("id_a", "id_b")
        .persist()
    )
    n_truth = truth.count()

    def recall_of(**opts):
        t1 = time.perf_counter()
        det = ngram_jaccard_dedup(sample, "doc_id", "text", **opts, **kw).select(
            F.col("id_a").alias("da"), F.col("id_b").alias("db")
        )
        n_det = truth.join(
            det,
            (F.col("id_a") == F.col("da")) & (F.col("id_b") == F.col("db")),
        ).count()
        return {
            "n_detected": n_det,
            "recall": round(n_det / n_truth, 4) if n_truth else None,
            "sec": round(time.perf_counter() - t1, 2),
        }

    out = {
        "sample_pct": pct,
        "n_truth_pairs": n_truth,
        "default_prefix": recall_of(),
        "char_capped": dict(triage_cap=cap, **recall_of(triage_cap=cap)),
        "sec": round(time.perf_counter() - t0, 2),
    }
    truth.unpersist()
    return out


def simhash_band_scaling_check(spark) -> dict:
    """simhash's default 8x8-bit banding has 256 buckets per band
    regardless of corpus size — the measured 7.4x/decade creep.  The
    lossless fix for max_hamming=4 is the minimal band count: 5x13-bit
    bands = 8192 buckets/band, bit-identical results (pigeonhole;
    pytest-proven).  Run it on the scaled fixture to show the knob."""
    import time

    from pyspark.sql import functions as F

    from mapreduceproject_spark.operators.dedup import simhash_dedup

    docs = spark.read.parquet(f"{OUT_DIR}/documents.parquet")
    t0 = time.perf_counter()
    simhash_dedup(docs, "doc_id", "text", max_hamming=4, num_bands=5).write.format(
        "noop"
    ).mode("overwrite").save()
    return {"num_bands": 5, "sec": round(time.perf_counter() - t0, 2)}


def main() -> None:
    from mapreduceproject_spark import plans
    from mapreduceproject_spark.session import get_spark

    spark = get_spark(app_name="scaling", master="local[32]")
    mode = sys.argv[1] if len(sys.argv) > 1 else ""
    if mode != "--run-only":
        build(spark)
    if mode == "--build-only":
        spark.stop()
        return

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    timings = {}
    only = os.environ.get("SPARK_GRAFT_SCALE_ONLY")
    # comma-list of query names, or "checks" to run only the skew/knob
    # checks — lets a big-R run be chunked across invocations against the
    # same prebuilt fixture (--run-only)
    wanted = (
        {n.strip() for n in only.split(",") if n.strip()}
        if only is not None
        else None
    )
    cliff_skipped = [
        n for n in TIER if REPLICAS > 10 and n in FIXED_KNOB_CLIFFS
    ]
    if wanted is not None:
        # an explicit selection overrides the cliff skip: naming a cliff
        # query re-runs it even at >10x.  Unknown names are a hard error
        # (same contract as SPARK_GRAFT_SCALE_CHECKS below): a typo after
        # an hours-long fixture build must not silently run zero queries.
        unknown = wanted - set(TIER) - {"checks"}
        if unknown:
            sys.exit(
                f"SPARK_GRAFT_SCALE_ONLY names not in the tier: "
                f"{sorted(unknown)}; known: {sorted(TIER)} + 'checks'"
            )
        tier = [n for n in TIER if n in wanted]
    else:
        tier = [n for n in TIER if n not in cliff_skipped]
        if cliff_skipped:
            print(
                f"# skipping fixed-knob cliff queries at {REPLICAS}x "
                f"(scaled-knob checks run instead): {cliff_skipped}",
                file=sys.stderr,
            )
    for name in tier:
        t0 = time.perf_counter()
        plans.QUERIES[name](spark, OUT_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        timings[name] = round(time.perf_counter() - t0, 2)
        # same hygiene as bench.py: don't let one query's persisted frames
        # evict into the next query's measurement
        spark.catalog.clearCache()
    out = {
        "fixture": OUT_DIR,
        "replicas": REPLICAS,
        "queries": timings,
        "total": round(sum(timings.values()), 2),
    }
    if wanted is None or "checks" in wanted:
        # SPARK_GRAFT_SCALE_CHECKS selects a subset ("ivf,mg").  Running
        # one check per process matters at 100x: shuffle scratch from
        # every check accumulates in one JVM's block manager until the
        # app stops, and the combined brute scaled-knob runs filled the
        # disk when all seven shared a session.
        sel = os.environ.get("SPARK_GRAFT_SCALE_CHECKS")
        chosen = (
            {c.strip() for c in sel.split(",") if c.strip()} if sel else None
        )
        checks = {
            "skew": ("aqe_skew_split_fired", skew_split_check),
            "ivf": ("ivf_centroids_scaled", ivf_centroid_scaling_check),
            "pagerank": ("pagerank_centroids_scaled", pagerank_centroid_scaling_check),
            "semantic": ("semantic_k_scaled", semantic_k_scaling_check),
            "simhash": ("simhash_band_scaled", simhash_band_scaling_check),
            "mg": ("mg_throughput", mg_throughput_check),
            "ngram": ("ngram_scratch", ngram_scratch_check),
            "kmeans_autok": ("kmeans_autok", kmeans_autok_check),
            "semantic_autok": ("semantic_autok", semantic_autok_check),
            "ngram_recall": ("ngram_recall_at_cap", ngram_recall_check),
        }
        if chosen is not None and (unknown := chosen - checks.keys()):
            # a typo here would silently run ZERO checks after an
            # hours-long fixture run — fail loudly instead
            raise SystemExit(
                f"unknown SPARK_GRAFT_SCALE_CHECKS names {sorted(unknown)}; "
                f"valid: {sorted(checks)}"
            )
        for short, (key, fn) in checks.items():
            if chosen is not None and short not in chosen:
                continue
            out[key] = fn(spark)
            spark.catalog.clearCache()
    print(json.dumps(out))
    # persist the full artifact (same rationale as bench.py: stdout tails
    # get truncated; the committed file under measurements/ is the record).
    # MERGE into any existing artifact for this fixture size: chunked
    # SPARK_GRAFT_SCALE_ONLY runs each carry a subset of the tier, and an
    # overwrite would drop the other chunks' evidence (round-4 lesson —
    # a single-query run once erased the whole 10x table).
    dest = Path(__file__).resolve().parent.parent / "measurements" / (
        f"scale_{REPLICAS}x_latest.json"
    )
    dest.parent.mkdir(exist_ok=True)
    if dest.exists():
        prior = json.loads(dest.read_text())
        if prior.get("fixture") == out["fixture"]:
            merged_q = {**prior.get("queries", {}), **out["queries"]}
            merged = {**prior, **out, "queries": merged_q}
            # deep-merge check sub-dicts so a partial re-run (e.g. a
            # SKIP_BRUTE twolevel-only pass) cannot null out previously
            # recorded fields or drop keys the rerun does not emit
            for k, v in out.items():
                pv = prior.get(k)
                if isinstance(v, dict) and isinstance(pv, dict) and k != "queries":
                    merged[k] = {
                        **pv,
                        **{kk: vv for kk, vv in v.items() if vv is not None},
                    }
            out = merged
            out["total"] = round(sum(merged_q.values()), 2)
    dest.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
