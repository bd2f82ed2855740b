"""Dedup suite over the documents/embeddings tables (BASELINE.json north
star).  Every oracle replicates the operator's exact algorithm — same
md5-derived hashes, same permutation constants, same banding — so the
DuckDB result is bit-identical, not merely statistically similar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceproject_spark.functions.hashing import (
    MERSENNE_P as P,
)
from mapreduceproject_spark.functions.hashing import (
    duck_hash60,
    hash60,
    minhash_params,
)
from mapreduceproject_spark.functions.textfn import (
    duck_char_ngrams,
    duck_tokens,
    duck_word_shingles,
)
from mapreduceproject_spark.functions.vectors import (
    duck_quantize,
    duck_quantized_cosine,
)
from mapreduceproject_spark.operators import dedup as dd
from mapreduceproject_spark.plans.registry import query
from mapreduceproject_spark.sources.catalog import load_table

# -- parameters pinned identically in Spark code and oracle SQL -------------
MINHASH_N, MINHASH_BANDS, SHINGLE_K, JACCARD_THR = 12, 4, 3, 0.5
MINHASH_SEED = 42
NGRAM_N, NGRAM_LEN_BAND, NGRAM_THR = 3, 8, 0.55
NGRAM_CONT_THR = 0.9
SIMHASH_MAX_HAMMING = 4
COSINE_THR, NEARDUP_NPROBE = 0.4, 2
EXACT_PREFIX = 80


@query(
    "dedup_exact",
    oracle=f"""
    SELECT md5(substr(text, 1, {EXACT_PREFIX})) AS key_md5,
           MIN(doc_id) AS keeper,
           COUNT(*) - 1 AS dup_count
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) >= 2
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-hash dedup groups under prefix normalization (first
    {EXACT_PREFIX} chars) — the hash-groupBy pattern; one shuffle on the
    content hash, output proportional to duplicate density."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_dedup_groups(
        docs, "doc_id", F.substring("text", 1, EXACT_PREFIX)
    )


def _minhash_sig_cte_parts() -> tuple[str, str]:
    """(mins, band_selects) SQL fragments shared by every minhash-family
    oracle — the permutation-minima select list and the banded UNION ALL
    — so a change to the permutation family or banding layout has
    exactly one site."""
    from mapreduceproject_spark.functions.hashing import duck_minhash_perm

    params = minhash_params(MINHASH_N, MINHASH_SEED)
    mins = ",\n           ".join(
        f"min({duck_minhash_perm('h', a, b)}) AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    rpb = MINHASH_N // MINHASH_BANDS
    band_selects = "\n      UNION ALL ".join(
        "SELECT id, {b} AS band, concat_ws(',', {cols}) AS sig FROM sigs".format(
            b=b, cols=", ".join(f"m{b * rpb + r}" for r in range(rpb))
        )
        for b in range(MINHASH_BANDS)
    )
    return mins, band_selects


def _minhash_prefix() -> str:
    """CTEs ``sh``/``sigs``/``bands`` shared by the full-corpus and
    incremental minhash oracles (identical shingle hashing, permutation
    minima, and banding over all documents)."""
    mins, band_selects = _minhash_sig_cte_parts()
    return f"""sh AS (
      SELECT DISTINCT doc_id AS id, {duck_hash60("sh")} AS h
      FROM (SELECT doc_id, unnest({duck_word_shingles("text", SHINGLE_K)}) AS sh
            FROM documents)
    ),
    sigs AS (SELECT id, {mins} FROM sh GROUP BY id),
    bands AS ({band_selects})"""


def _minhash_oracle() -> str:
    return f"""
    WITH {_minhash_prefix()},
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
    ),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT p.id_a, p.id_b, COUNT(*) AS both
      FROM pairs p JOIN sh x ON x.id = p.id_a JOIN sh y ON y.id = p.id_b AND y.h = x.h
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b, i.both / (na.n + nb.n - i.both) AS jaccard
    FROM inter i JOIN sizes na ON na.id = i.id_a JOIN sizes nb ON nb.id = i.id_b
    WHERE i.both / (na.n + nb.n - i.both) >= {JACCARD_THR}
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: {SHINGLE_K}-word shingles → {MINHASH_N}
    universal-hash minima → {MINHASH_BANDS} bands → bucket self-join →
    exact-jaccard verify ≥ {JACCARD_THR} (operators/dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_lsh_dedup(
        docs,
        "doc_id",
        "text",
        num_hashes=MINHASH_N,
        bands=MINHASH_BANDS,
        shingle_k=SHINGLE_K,
        threshold=JACCARD_THR,
        seed=MINHASH_SEED,
    )


def _minhash_bucket_stats_oracle() -> str:
    return f"""
    WITH {_minhash_prefix()},
    sizes AS (SELECT band, sig, COUNT(*) AS n FROM bands GROUP BY 1, 2)
    SELECT CAST(ceil(log2(n)) AS BIGINT) AS log2_size,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS implied_pairs
    FROM sizes
    GROUP BY 1
    """


@query("dedup_minhash_bucket_stats", oracle=_minhash_bucket_stats_oracle())
def dedup_minhash_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-occupancy histogram (log2 size classes): per class, the
    bucket count, member rows, and the implied pre-distinct candidate
    volume sum C(n,2) — the observability an ops team needs BEFORE paying
    a bucketed self-join at 100 TB, and the round-8 instrument that
    closed dedup_minhash_lsh's third-decade flag by RULING DENSITY OUT
    (implied pairs measured ×10.2 per ×10 rows, max bucket 65 — the
    "12×" was a cold-run artifact; warm decade ratio 7.9–8.8×, see
    SCALING.md round-8).  Cost: the signature pipeline plus one
    vocab-sized groupBy — strictly cheaper than the dedup it forecasts."""
    docs = load_table(spark, sf_dir, "documents")
    buckets = dd.lsh_band_buckets(
        dd.minhash_signatures(
            dd.shingle_hashes(docs, "doc_id", "text", SHINGLE_K),
            MINHASH_N,
            MINHASH_SEED,
        ),
        MINHASH_N,
        MINHASH_BANDS,
    )
    sizes = buckets.groupBy("band", "sig").agg(F.count("*").alias("n"))
    return sizes.groupBy(
        F.ceil(F.log2("n")).cast("long").alias("log2_size")
    ).agg(
        F.count("*").alias("n_buckets"),
        F.sum("n").alias("n_rows"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("implied_pairs"),
    )


def _duck_band_extract(start: int, width: int) -> str:
    """DuckDB expression for bits [start, start+width) of the (lo, hi)
    split signature — mirrors operators/dedup.py::_band_extract exactly
    (same shifts, same straddle arithmetic, same mask)."""
    mask = (1 << width) - 1
    if start >= 32:
        return f"(hi >> {start - 32}) & {mask}"
    if start + width <= 32:
        return f"(lo >> {start}) & {mask}"
    hi_mask = (1 << (start + width - 32)) - 1
    lo_mult = 1 << (32 - start)
    return f"((lo >> {start}) | ((hi & {hi_mask}) * {lo_mult})) & {mask}"


def _simhash_oracle() -> str:
    half = dd.SIMHASH_BITS // 2
    starts, widths = dd.band_layout(SIMHASH_MAX_HAMMING + 1)
    band_cases = "\n               ".join(
        f"WHEN {b} THEN {_duck_band_extract(starts[b], widths[b])}"
        for b in range(len(starts))
    )
    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id AS id,
             {duck_hash60("t")} AS h1,
             {duck_hash60(f"'{dd.SIMHASH_HI_SALT}' || t")} AS h2
      FROM (SELECT doc_id, unnest({duck_tokens("text")}) AS t FROM documents)
    ),
    votes AS (
      SELECT id, bit,
             SUM(CASE WHEN (h1 >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v1,
             SUM(CASE WHEN (h2 >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v2
      FROM tok, (SELECT unnest(range({half})) AS bit)
      GROUP BY id, bit
    ),
    sigs AS (
      SELECT id,
             CAST(SUM(CASE WHEN v1 > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN v2 > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS hi
      FROM votes GROUP BY id
    ),
    buckets AS (
      SELECT id, lo, hi, band,
             CASE band
               {band_cases}
             END AS bsig
      FROM sigs, (SELECT unnest(range({SIMHASH_MAX_HAMMING + 1})) AS band)
    ),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.lo AS lo_a, a.hi AS hi_a, b.lo AS lo_b, b.hi AS hi_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bsig = b.bsig AND a.id < b.id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS BIGINT) AS hamming
    FROM pairs
    WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= {SIMHASH_MAX_HAMMING}
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit token-vote signature (two salted
    32-bit halves), minimal-lossless banding ({SIMHASH_MAX_HAMMING + 1}
    near-equal-width bands — exact recall for hamming ≤
    {SIMHASH_MAX_HAMMING} by pigeonhole, ~8k buckets/band so candidate
    volume scales n²/8192 not n²/256), hamming ≤ {SIMHASH_MAX_HAMMING}
    verify."""
    docs = load_table(spark, sf_dir, "documents")
    out = dd.simhash_dedup(docs, "doc_id", "text", max_hamming=SIMHASH_MAX_HAMMING)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def _ngram_oracle() -> str:
    return f"""
    WITH g AS (
      SELECT DISTINCT doc_id AS id, lang, n_chars, {duck_hash60("gr")} AS h
      FROM (SELECT doc_id, lang, n_chars,
                   unnest({duck_char_ngrams("lower(text)", NGRAM_N)}) AS gr
            FROM documents)
    ),
    sizes AS (SELECT id, lang, n_chars, COUNT(*) AS n FROM g GROUP BY 1, 2, 3),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, a.n AS na, b.n AS nb
      FROM sizes a JOIN sizes b
        ON a.lang = b.lang AND a.id < b.id
       AND abs(a.n_chars - b.n_chars) <= {NGRAM_LEN_BAND}
    ),
    inter AS (
      SELECT p.id_a, p.id_b, p.na, p.nb, COUNT(*) AS n_common
      FROM pairs p JOIN g x ON x.id = p.id_a JOIN g y ON y.id = p.id_b AND y.h = x.h
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, n_common / (na + nb - n_common) AS jaccard
    FROM inter
    WHERE n_common / (na + nb - n_common) >= {NGRAM_THR}
    """


@query("dedup_ngram_jaccard", oracle=_ngram_oracle())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character {NGRAM_N}-gram jaccard near-dup, blocked on (lang,
    |n_chars diff| ≤ {NGRAM_LEN_BAND}) — precision-first blocked dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.ngram_jaccard_dedup(
        docs,
        "doc_id",
        "text",
        block_cols=["lang"],
        length_col="n_chars",
        n=NGRAM_N,
        length_band=NGRAM_LEN_BAND,
        threshold=NGRAM_THR,
    )


@query("dedup_ngram_sharded", oracle=_ngram_oracle())
def dedup_ngram_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-sharded EXACT char-{NGRAM_N}-gram jaccard
    (operators/dedup.py::_ngram_jaccard_prefix_sharded): the same
    contract as dedup_ngram_jaccard — identical oracle — computed in
    3 shards / 6 bounded-scratch passes, the single-box closure of the
    1000×-fixture disk DNF.  Exactness of the pass decomposition is the
    property under test: every unordered pair lands in exactly one
    diagonal or cross-shard pass."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.ngram_jaccard_dedup(
        docs,
        "doc_id",
        "text",
        block_cols=["lang"],
        length_col="n_chars",
        n=NGRAM_N,
        length_band=NGRAM_LEN_BAND,
        threshold=NGRAM_THR,
        shards=3,
    )


def _containment_oracle() -> str:
    return f"""
    WITH g AS (
      SELECT DISTINCT doc_id AS id, lang, {duck_hash60("gr")} AS h
      FROM (SELECT doc_id, lang,
                   unnest({duck_char_ngrams("lower(text)", NGRAM_N)}) AS gr
            FROM documents)
    ),
    sizes AS (SELECT id, lang, COUNT(*) AS n FROM g GROUP BY 1, 2),
    inter AS (
      SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS n_common
      FROM g x JOIN g y ON x.lang = y.lang AND x.h = y.h AND x.id <> y.id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_common AS DOUBLE) / a.n AS containment
    FROM inter i JOIN sizes a ON a.id = i.id_a
    WHERE CAST(i.n_common AS DOUBLE) / a.n >= {NGRAM_CONT_THR}
    """


@query("dedup_ngram_containment", oracle=_containment_oracle())
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric char-{NGRAM_N}-gram CONTAINMENT near-dup
    (operators/dedup.py::ngram_containment_dedup): ordered pairs where ≥
    {NGRAM_CONT_THR} of the contained doc's distinct grams appear in the
    container, blocked on lang — the quoted/subsumed-document relation a
    symmetric jaccard threshold never surfaces.  One-sided prefix filter
    (rarest-first order, a-prefix × b-full join) + exact array-intersect
    verify; no length band by design (the interesting containment pairs
    have very different lengths)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.ngram_containment_dedup(
        docs,
        "doc_id",
        "text",
        block_cols=["lang"],
        n=NGRAM_N,
        threshold=NGRAM_CONT_THR,
    )


def _embedding_oracle() -> str:
    from mapreduceproject_spark.operators.similarity import duck_auto_centroid_cut

    return f"""
    WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
    qv AS (SELECT id, {duck_quantize("vec")} AS q FROM v),
    c AS (SELECT id AS cid, q AS cq FROM qv WHERE id < {duck_auto_centroid_cut("qv")}),
    scored AS (
      SELECT qv.id, qv.q, c.cid, {duck_quantized_cosine("qv.q", "c.cq")} AS cos
      FROM qv, c
    ),
    assigned AS (
      SELECT id, q, cid, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cid) AS rn
        FROM scored
      ) WHERE rn <= {NEARDUP_NPROBE}
    )
    SELECT DISTINCT LEAST(p.id, q.id) AS id_a, GREATEST(p.id, q.id) AS id_b,
           {duck_quantized_cosine("p.q", "q.q")} AS cosine
    FROM assigned q JOIN assigned p ON q.cid = p.cid AND p.rn = 1 AND q.id <> p.id
    WHERE {duck_quantized_cosine("p.q", "q.q")} >= {COSINE_THR}
    """


@query("dedup_embedding_cosine", oracle=_embedding_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs within IVF cells (corpus-scaled
    ``num_centroids="auto"`` = max(16, n/125) deterministic centroids —
    the in-plan knob that keeps per-cell pair work bounded as the corpus
    grows; {NEARDUP_NPROBE}-probe assignment for boundary recall),
    quantized cosine ≥ {COSINE_THR}."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dd.embedding_near_dup(
        emb,
        "vec_id",
        "embedding",
        num_centroids="auto",
        threshold=COSINE_THR,
        nprobe=NEARDUP_NPROBE,
    )


def _clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({_minhash_oracle()})
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    """


@query("dedup_clusters", oracle=_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components (min-label propagation to
    fixpoint) over the MinHash-LSH near-dup pair graph — the iterative-
    algorithm representative; driver loop is control-only, per-iteration
    lineage truncated via localCheckpoint (oracle: recursive CTE
    transitive closure)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_dedup(
        docs,
        "doc_id",
        "text",
        num_hashes=MINHASH_N,
        bands=MINHASH_BANDS,
        shingle_k=SHINGLE_K,
        threshold=JACCARD_THR,
        seed=MINHASH_SEED,
    ).select("id_a", "id_b")
    return dd.duplicate_clusters(pairs)


# -- incremental ingestion dedup --------------------------------------------
INCR_SALT, INCR_NEW_PCT = "|ingest-v1", 10


def _incremental_oracle() -> str:
    arrival = duck_hash60(f"text || '{INCR_SALT}'")
    key = duck_hash60("text")
    return f"""
    WITH d AS (
      SELECT doc_id, lang, source,
             {arrival} % 100 < {INCR_NEW_PCT} AS is_new,
             {key} AS k
      FROM documents
    ),
    corpus AS (SELECT DISTINCT k FROM d WHERE NOT is_new),
    fresh AS (
      SELECT d.* FROM d LEFT JOIN corpus USING (k)
      WHERE d.is_new AND corpus.k IS NULL
    )
    SELECT doc_id, lang, source FROM (
      SELECT *, row_number() OVER (PARTITION BY k ORDER BY doc_id) AS rn
      FROM fresh) WHERE rn = 1
    """


@query("dedup_incremental", oracle=_incremental_oracle())
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup — the production pattern for a corpus
    that grows in batches: a new-arrivals batch (content-hash
    {INCR_NEW_PCT}%) is checked against the already-ingested corpus by
    exact content hash (anti-join: the corpus side stays a hash set, the
    new batch never joins corpus-x-corpus), then deduped within itself
    (keep lowest doc_id).  At 100 TB the corpus hash set is a bucketed
    table the daily batch anti-joins against — linear in batch size, not
    corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    is_new = hash60(F.concat(F.col("text"), F.lit(INCR_SALT))) % 100 < INCR_NEW_PCT
    keyed = docs.select(
        "doc_id", "lang", "source", is_new.alias("is_new"), hash60(F.col("text")).alias("k")
    )
    corpus = keyed.filter(~F.col("is_new")).select("k").distinct()
    fresh = keyed.filter(F.col("is_new")).join(corpus, "k", "left_anti")
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("doc_id")
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


EDIT_PREFIX, EDIT_BLOCK, EDIT_BAND, EDIT_MAX = 40, 4, 8, 5


@query(
    "dedup_edit_distance",
    oracle=f"""
    WITH b AS (
      SELECT doc_id AS id, lang, n_chars,
             substr(lower(text), 1, {EDIT_PREFIX}) AS pfx,
             substr(lower(text), 1, {EDIT_BLOCK}) AS blk
      FROM documents
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist
    FROM b a JOIN b b
      ON a.blk = b.blk AND a.lang = b.lang AND a.id < b.id
     AND abs(a.n_chars - b.n_chars) <= {EDIT_BAND}
    WHERE levenshtein(a.pfx, b.pfx) <= {EDIT_MAX}
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein fuzzy near-dup over {EDIT_PREFIX}-char prefixes, blocked
    on (lang, first {EDIT_BLOCK} chars, |n_chars diff| ≤ {EDIT_BAND}) — the
    entity-resolution primitive; blocking bounds the quadratic DP."""
    docs = load_table(spark, sf_dir, "documents")
    out = dd.edit_distance_dedup(
        docs,
        "doc_id",
        "text",
        block_cols=["lang"],
        length_col="n_chars",
        prefix_chars=EDIT_PREFIX,
        block_prefix=EDIT_BLOCK,
        length_band=EDIT_BAND,
        max_dist=EDIT_MAX,
    )
    return out.select("id_a", "id_b", F.col("edit_dist").cast("long").alias("edit_dist"))


# -- content-defined chunking dedup -----------------------------------------


def _cdc_oracle() -> str:
    from mapreduceproject_spark.functions.textfn import duck_token_rows
    from mapreduceproject_spark.operators.chunking import CDC_AVG_TOKENS

    return f"""
    WITH tok AS (
      SELECT doc_id, source, pos, tok
      FROM {duck_token_rows("lower(text)", "doc_id, source")}
    ),
    cut AS (
      SELECT doc_id, source, pos,
             CASE WHEN ({duck_hash60("tok")}) % {CDC_AVG_TOKENS} = 0
                  THEN 1 ELSE 0 END AS c,
             tok
      FROM tok
    ),
    chunked AS (
      SELECT doc_id, source, pos, tok,
             COALESCE(SUM(c) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
      FROM cut
    ),
    chunks0 AS (
      SELECT doc_id, source, chunk_idx,
             array_to_string(list(tok ORDER BY pos), ' ') AS ct,
             COUNT(*) AS n_tokens
      FROM chunked GROUP BY 1, 2, 3
    ),
    chunks AS (
      SELECT doc_id, source, chunk_idx, n_tokens,
             {duck_hash60("ct")} AS chunk_hash
      FROM chunks0
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY chunk_hash ORDER BY doc_id, chunk_idx) AS rn
      FROM chunks
    )
    SELECT source,
           COUNT(*) AS n_chunks,
           COUNT(DISTINCT chunk_hash) AS n_distinct_chunks,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_occurrences,
           CAST(SUM(CASE WHEN rn > 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS dup_tokens
    FROM ranked GROUP BY 1
    """


@query("cdc_chunk_dedup", oracle=_cdc_oracle())
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk dedup (word-level gear CDC, cut on
    hash60(token) % avg == 0): per-source chunk counts, distinct hashes,
    and the duplicate occurrences / token volume chunk-level dedup would
    reclaim — the shift-resistant storage-dedup primitive
    (operators/chunking.py)."""
    from mapreduceproject_spark.operators.chunking import (
        cdc_chunk_rows,
        chunk_dup_rollup,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = cdc_chunk_rows(docs, "doc_id", "text", keep=["source"])
    return chunk_dup_rollup(chunks, "doc_id", "source")


# -- keep-best canonical selection over duplicate clusters ------------------


def _keep_best_oracle() -> str:
    from mapreduceproject_spark.plans.text_queries import _quality_oracle

    return f"""
    WITH clusters AS ({_clusters_oracle()}),
    q AS (SELECT doc_id, quality FROM ({_quality_oracle()}))
    SELECT cluster_id, kept_doc_id, kept_quality,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_members - 1 AS BIGINT) AS n_dropped
    FROM (
      SELECT c.cluster_id,
             first(c.doc_id ORDER BY q.quality DESC, c.doc_id) AS kept_doc_id,
             first(q.quality ORDER BY q.quality DESC, c.doc_id) AS kept_quality,
             COUNT(*) AS n_members
      FROM clusters c JOIN q USING (doc_id)
      GROUP BY 1
    )
    """


@query("dedup_keep_best", oracle=_keep_best_oracle())
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: MinHash-LSH duplicate clusters joined
    with heuristic quality scores; each cluster keeps its highest-quality
    member (ties: lowest doc_id).  The end-to-end dedup decision a corpus
    pipeline actually ships — cluster, pick survivor, count the drops —
    composed entirely from existing operators (operators/dedup.py +
    operators/text_analysis.py)."""
    from mapreduceproject_spark.operators import text_analysis as ta

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_dedup(
        docs,
        "doc_id",
        "text",
        num_hashes=MINHASH_N,
        bands=MINHASH_BANDS,
        shingle_k=SHINGLE_K,
        threshold=JACCARD_THR,
        seed=MINHASH_SEED,
    ).select("id_a", "id_b")
    clusters = dd.duplicate_clusters(pairs)
    quality = ta.quality_scores(docs, "doc_id", "text").select("doc_id", "quality")
    # round-11 (guide §2.4): the rank-1 window + conditional aggregate is
    # ONE struct-min aggregate — same (quality desc NULLS LAST, doc_id
    # asc) winner, but a hash aggregate with map-side partials instead of
    # an exchange + full per-cluster sort + a second aggregate pass.  The
    # leading null flag makes a NULL quality (empty/whitespace-only doc,
    # quality_scores' guarded ratios) sort LAST exactly like the window's
    # desc-NULLS-LAST; doc_id is unique per member so the order is total
    # and the carried quality rides along untouched.
    best = F.min(
        F.struct(
            F.col("quality").isNull().cast("int").alias("qn"),
            (-F.col("quality")).alias("nq"),
            F.col("doc_id").alias("doc_id"),
            F.col("quality").alias("quality"),
        )
    )
    return (
        clusters.join(quality, "doc_id")
        .groupBy("cluster_id")
        .agg(best.alias("_b"), F.count("*").cast("long").alias("n_members"))
        .select(
            "cluster_id",
            F.col("_b.doc_id").alias("kept_doc_id"),
            F.col("_b.quality").alias("kept_quality"),
            "n_members",
            (F.col("n_members") - 1).cast("long").alias("n_dropped"),
        )
    )


# -- semantic dedup (SemDeDup) ----------------------------------------------
SEMANTIC_THR = 0.4


def _semantic_oracle() -> str:
    from mapreduceproject_spark.plans.similarity_queries import (
        KMEANS_ITERS,
        kmeans_cte_chain,
    )

    cos = duck_quantized_cosine("d.q", "e.q")
    return f"""
    WITH {kmeans_cte_chain(with_cos=True)},
    ranked AS (
      SELECT id, q, cluster_id,
             row_number() OVER (
               PARTITION BY cluster_id ORDER BY ccos ASC, id) AS keep_rank
      FROM a{KMEANS_ITERS}
    ),
    doms AS (
      SELECT d.cluster_id, d.id AS vec_id, e.id AS keeper_id,
             {cos} AS cosine, e.keep_rank AS er
      FROM ranked d JOIN ranked e
        ON e.cluster_id = d.cluster_id AND e.keep_rank < d.keep_rank
      WHERE {cos} >= {SEMANTIC_THR}
    )
    SELECT cluster_id, vec_id, keeper_id, cosine
    FROM (SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY er) AS rn FROM doms)
    WHERE rn = 1
    """


@query("dedup_semantic", oracle=_semantic_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embeddings, then drop
    each vector dominated by a higher-keep-priority cluster-mate at
    cosine >= 0.4 (priority = farther from centroid, i.e. more
    diverse, kept first).  The cluster-then-prune composition bounds pair
    work to sum over clusters of |c|^2 instead of n^2 — the published
    scale recipe for embedding-level dedup (operators/dedup.py
    semantic_dedup; k-means per operators/clustering.py)."""
    from mapreduceproject_spark.plans.similarity_queries import (
        KMEANS_ITERS,
        KMEANS_K,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return dd.semantic_dedup(
        spark,
        emb,
        "vec_id",
        "embedding",
        k=KMEANS_K,
        iterations=KMEANS_ITERS,
        threshold=SEMANTIC_THR,
    )


def _incremental_minhash_oracle() -> str:
    arrival = duck_hash60(f"text || '{INCR_SALT}'")
    return f"""
    WITH {_minhash_prefix()},
    flags AS (
      SELECT doc_id AS id, {arrival} % 100 < {INCR_NEW_PCT} AS is_new
      FROM documents
    ),
    pairs AS (
      SELECT DISTINCT a.id AS new_id, b.id AS corpus_id
      FROM bands a
      JOIN flags fa ON fa.id = a.id AND fa.is_new
      JOIN bands b ON a.band = b.band AND a.sig = b.sig
      JOIN flags fb ON fb.id = b.id AND NOT fb.is_new
    ),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT p.new_id, p.corpus_id, COUNT(*) AS both
      FROM pairs p
      JOIN sh x ON x.id = p.new_id
      JOIN sh y ON y.id = p.corpus_id AND y.h = x.h
      GROUP BY 1, 2
    )
    SELECT i.new_id, i.corpus_id,
           i.both / (na.n + nb.n - i.both) AS jaccard
    FROM inter i
    JOIN sizes na ON na.id = i.new_id
    JOIN sizes nb ON nb.id = i.corpus_id
    WHERE i.both / (na.n + nb.n - i.both) >= {JACCARD_THR}
    """


@query("dedup_incremental_minhash", oracle=_incremental_minhash_oracle())
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time NEAR-dup: the {INCR_NEW_PCT}% new-arrivals batch
    (same content-hash split as `dedup_incremental`) LSH-joins the
    existing corpus's band buckets — batch x corpus only, never corpus x
    corpus — then exact-jaccard verifies at >= {JACCARD_THR}.  The daily
    ingest gate a growing 100 TB corpus actually runs: per-ingest cost
    follows batch size, and the corpus bucket table is the reusable
    index (operators/dedup.py::minhash_lsh_incremental)."""
    docs = load_table(spark, sf_dir, "documents")
    is_new = hash60(F.concat(F.col("text"), F.lit(INCR_SALT))) % 100 < INCR_NEW_PCT
    flagged = docs.select("doc_id", "text", is_new.alias("_new"))
    return dd.minhash_lsh_incremental(
        flagged.filter(F.col("_new")),
        flagged.filter(~F.col("_new")),
        "doc_id",
        "text",
        num_hashes=MINHASH_N,
        bands=MINHASH_BANDS,
        shingle_k=SHINGLE_K,
        threshold=JACCARD_THR,
        seed=MINHASH_SEED,
    )


# -- sliding-window chunking -------------------------------------------------
CHUNK_WINDOW, CHUNK_STRIDE = 64, 48


@query(
    "chunk_sliding_windows",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {duck_tokens("text")} AS toks FROM documents
    ),
    w AS (
      SELECT doc_id,
             CAST(s / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
             CAST(s AS BIGINT) AS chunk_start,
             list_slice(toks, s + 1, least(s + {CHUNK_WINDOW}, len(toks))) AS win
      FROM t, unnest(range(0, len(toks), {CHUNK_STRIDE})) AS u(s)
      WHERE len(toks) > 0
    )
    SELECT doc_id, chunk_idx, chunk_start,
           CAST(len(win) AS BIGINT) AS n_tokens,
           {duck_hash60("array_to_string(win, ' ')")} AS chunk_hash
    FROM w
    """,
)
def chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining/RAG context chunking: {CHUNK_WINDOW}-token windows
    every {CHUNK_STRIDE} tokens (overlap {CHUNK_WINDOW - CHUNK_STRIDE}),
    trailing runt kept, 60-bit content hash per window.  Strictly
    scan-shaped — tokenize + one generator, zero shuffles
    (operators/chunking.py::sliding_token_windows)."""
    from mapreduceproject_spark.operators.chunking import sliding_token_windows

    docs = load_table(spark, sf_dir, "documents")
    return sliding_token_windows(
        docs, "doc_id", "text", window=CHUNK_WINDOW, stride=CHUNK_STRIDE
    )


# -- round-4 additions: sliding-gram mask + train/test leakage gate ----------
MASK_K = 12


def _mask_oracle() -> str:
    h = duck_hash60(f"array_to_string(t[j:j+{MASK_K - 1}], ' ')")
    return f"""
    WITH tk AS (SELECT doc_id, {duck_tokens("text")} AS t FROM documents),
    g AS (
      SELECT doc_id, CAST(j AS BIGINT) AS pos, {h} AS h
      FROM (SELECT doc_id, t, unnest(range(1, len(t) - {MASK_K} + 2)) AS j
            FROM tk WHERE len(t) >= {MASK_K})
    ),
    c AS (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS c FROM g),
    cov AS (
      SELECT DISTINCT doc_id, p
      FROM (SELECT doc_id, unnest(range(pos, pos + {MASK_K})) AS p
            FROM c WHERE c >= 2)
    ),
    m AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_masked FROM cov GROUP BY 1)
    SELECT tk.doc_id,
           CAST(len(tk.t) AS BIGINT) AS n_tokens,
           COALESCE(m.n_masked, 0) AS n_masked,
           CASE WHEN len(tk.t) > 0
                THEN COALESCE(m.n_masked, 0) / CAST(len(tk.t) AS BIGINT)
                ELSE 0.0 END AS mask_ratio
    FROM tk LEFT JOIN m ON m.doc_id = tk.doc_id
    """


@query("repeated_ngram_mask", oracle=_mask_oracle())
def repeated_ngram_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding {MASK_K}-gram duplicate-coverage mask (ExactSubstr-style
    substring dedup profile; Lee et al. 2022).  Catches duplicated
    passages at ANY alignment — the complement of dedup_span_exact's
    non-overlapping spans — and reports per-document how much text a
    masking rewrite would remove
    (operators/dedup.py::repeated_ngram_mask_profile)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.repeated_ngram_mask_profile(docs, "doc_id", "text", k=MASK_K)


def _leakage_oracle() -> str:
    from mapreduceproject_spark.plans.text_queries import (
        SPLIT_SALT,
        TRAIN_PCT,
        VAL_PCT,
    )

    return f"""
    WITH jac AS (
      SELECT * FROM ({_minhash_oracle()})
    ),
    sp AS (
      SELECT doc_id,
             CASE WHEN b < {TRAIN_PCT} THEN 'train'
                  WHEN b < {TRAIN_PCT + VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, {duck_hash60(f"text || '{SPLIT_SALT}'")} % 100 AS b
            FROM documents)
    )
    SELECT j.id_a, j.id_b, j.jaccard,
           sa.split AS split_a, sb.split AS split_b
    FROM jac j
    JOIN sp sa ON sa.doc_id = j.id_a
    JOIN sp sb ON sb.doc_id = j.id_b
    WHERE sa.split <> sb.split
    """


@query("split_leakage_check", oracle=_leakage_oracle())
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination gate: near-duplicate pairs (the
    dedup_minhash_lsh pipeline, identical constants) that CROSS the
    deterministic hash split of sample_hash_split — exactly the leaks
    that inflate eval numbers.  Composition of two verified pieces: the
    pair list is candidate-bucketed (never corpus²), and the split side
    is a doc-count-sized projection joined on id, so the gate costs one
    id-join more than the dedup pass it reuses."""
    from mapreduceproject_spark.plans.text_queries import (
        SPLIT_SALT,
        TRAIN_PCT,
        VAL_PCT,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_dedup(
        docs,
        "doc_id",
        "text",
        num_hashes=MINHASH_N,
        bands=MINHASH_BANDS,
        shingle_k=SHINGLE_K,
        threshold=JACCARD_THR,
        seed=MINHASH_SEED,
    )
    bucket = hash60(F.concat(F.col("text"), F.lit(SPLIT_SALT))) % 100
    split = (
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    splits = docs.select("doc_id", split.alias("split"))
    return (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
            ),
            "id_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
            ),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
    )


# -- MinHash-LSH recall gauge (round 4) --------------------------------------
# Deterministic hash-sample bounds the exact all-pairs truth pass; 40% of
# docs at fixture sizes, and the knob a corpus-scale gauge run would turn
# down to keep |sample|² affordable.
RECALL_SAMPLE_PCT, RECALL_SALT = 40, "|mh-recall"


def _minhash_recall_oracle() -> str:
    mins, band_selects = _minhash_sig_cte_parts()
    return f"""
    WITH smp AS (
      SELECT doc_id, text FROM documents
      WHERE {duck_hash60(f"text || '{RECALL_SALT}'")} % 100 < {RECALL_SAMPLE_PCT}
    ),
    sh AS (
      SELECT DISTINCT doc_id AS id, {duck_hash60("sh")} AS h
      FROM (SELECT doc_id, unnest({duck_word_shingles("text", SHINGLE_K)}) AS sh
            FROM smp)
    ),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    tinter AS (
      SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS both
      FROM sh x JOIN sh y ON y.h = x.h AND y.id > x.id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT i.id_a, i.id_b
      FROM tinter i JOIN sizes na ON na.id = i.id_a JOIN sizes nb ON nb.id = i.id_b
      WHERE i.both / (na.n + nb.n - i.both) >= {JACCARD_THR}
    ),
    sigs AS (SELECT id, {mins} FROM sh GROUP BY id),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
    ),
    dinter AS (
      SELECT p.id_a, p.id_b, COUNT(*) AS both
      FROM cand p JOIN sh x ON x.id = p.id_a JOIN sh y ON y.id = p.id_b AND y.h = x.h
      GROUP BY 1, 2
    ),
    det AS (
      SELECT i.id_a, i.id_b
      FROM dinter i JOIN sizes na ON na.id = i.id_a JOIN sizes nb ON nb.id = i.id_b
      WHERE i.both / (na.n + nb.n - i.both) >= {JACCARD_THR}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_truth_pairs,
           CAST(COUNT(d.id_a) AS BIGINT) AS n_detected,
           CASE WHEN COUNT(*) > 0
                THEN CAST(COUNT(d.id_a) AS BIGINT) / CAST(COUNT(*) AS BIGINT)
                ELSE 0.0 END AS recall
    FROM truth t LEFT JOIN det d ON d.id_a = t.id_a AND d.id_b = t.id_b
    """


@query("dedup_minhash_recall", oracle=_minhash_recall_oracle())
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gauge for the MinHash-LSH near-dup detector: exact all-pairs
    jaccard ground truth over a deterministic {RECALL_SAMPLE_PCT}% hash
    sample vs the SAME-constants LSH pipeline on the same sample —
    the number that decides bands/rows tradeoffs before a corpus-scale
    rollout, completing the accuracy-gauge family (ann_ivf_recall /
    ann_lsh_recall).  Precision is 1.0 by construction (detected pairs
    are exact-verified at the same threshold), so the single recall
    figure characterizes the detector.

    Scale shape: the exact truth pass is the deliberately-bounded part —
    the co-shingle self-join costs Σ df(shingle)² over the SAMPLE only;
    the sample percentage is the gauge's budget knob.  Everything else
    reuses the production pipeline's bucketed shapes."""
    docs = load_table(spark, sf_dir, "documents")
    sample = docs.filter(
        hash60(F.concat(F.col("text"), F.lit(RECALL_SALT))) % 100
        < RECALL_SAMPLE_PCT
    )
    from mapreduceproject_spark.sources.catalog import spread_for_compute

    hashed = dd.shingle_hashes(
        spread_for_compute(sample), "doc_id", "text", SHINGLE_K
    ).persist()
    # the co-shingle self-join counts intersections DIRECTLY (the oracle's
    # tinter shape): hashed is distinct (id, h), so count(*) per pair IS
    # |A∩B| — proposing distinct pairs first and re-joining through
    # verify_jaccard would run the expensive Σ df(h)² join twice for the
    # same number.
    inter = (
        hashed.select(F.col("_id").alias("id_a"), "h")
        .join(hashed.select(F.col("_id").alias("id_b"), "h"), "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("both"))
    )
    sizes = hashed.groupBy("_id").agg(F.count("*").alias("n"))
    truth = (
        inter.join(
            sizes.select(F.col("_id").alias("id_a"), F.col("n").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("_id").alias("id_b"), F.col("n").alias("nb")),
            "id_b",
        )
        .filter(
            F.col("both") / (F.col("na") + F.col("nb") - F.col("both"))
            >= JACCARD_THR
        )
        .select("id_a", "id_b")
    )
    # ONE shingle pipeline feeds both sides (the dedup_incremental_minhash
    # lesson: a second shingle->signature pipeline costs ~1.9x for zero
    # extra information) — compose the LSH stages on the same persisted
    # hashed frame instead of calling minhash_lsh_dedup on the raw sample.
    sigs = dd.minhash_signatures(hashed, MINHASH_N, MINHASH_SEED)
    buckets = dd.lsh_band_buckets(sigs, MINHASH_N, MINHASH_BANDS)
    det = dd.verify_jaccard(
        dd.candidate_pairs_from_buckets(buckets, None), hashed, JACCARD_THR
    ).select(F.col("id_a").alias("da"), F.col("id_b").alias("db"))
    joined = truth.join(
        det, (F.col("id_a") == F.col("da")) & (F.col("id_b") == F.col("db")), "left"
    )
    return joined.agg(
        F.count("*").cast("long").alias("n_truth_pairs"),
        F.count("da").cast("long").alias("n_detected"),
        F.when(
            F.count("*") > 0,
            F.count("da").cast("long") / F.count("*").cast("long"),
        )
        .otherwise(F.lit(0.0))
        .alias("recall"),
    )


# -- ngram-jaccard recall gauges ---------------------------------------------
# Exact truth over a deterministic hash sample (the blocked reference,
# operators/dedup.py::_ngram_jaccard_blocked) vs ngram_jaccard_dedup on
# the SAME sample, the dedup_minhash_recall design ("explicitly lossy"
# must be a number, not an adjective).  ngram_jaccard_est_recall measures
# the exact default plan (expected 1.0 — a permanent regression guard);
# ngram_jaccard_capped_recall measures the capped char triage (cap 64:
# recall ≈0.87 at sf0.01; cap 4: 0.02; production cap 256 kept 0.041 on
# the 100× near-threshold corpus — SCALING.md via
# scripts/scaling_run.py); ngram_jaccard_triage_recall measures the
# escalate_above route into that triage.
NGRAM_RECALL_PCT, NGRAM_RECALL_SALT, NGRAM_RECALL_CAP = 40, "|ng-recall", 64


def _ngram_truth_ctes() -> str:
    """Shared WITH-body: exact char-ngram jaccard truth pairs over the
    deterministic sample (smp -> g -> sizes -> tpairs -> tinter ->
    truth)."""
    return f"""smp AS (
      SELECT doc_id, lang, n_chars, text FROM documents
      WHERE {duck_hash60(f"text || '{NGRAM_RECALL_SALT}'")} % 100 < {NGRAM_RECALL_PCT}
    ),
    g AS (
      SELECT DISTINCT doc_id AS id, lang, n_chars, {duck_hash60("gr")} AS h
      FROM (SELECT doc_id, lang, n_chars,
                   unnest({duck_char_ngrams("lower(text)", NGRAM_N)}) AS gr
            FROM smp)
    ),
    sizes AS (SELECT id, lang, n_chars, COUNT(*) AS n FROM g GROUP BY 1, 2, 3),
    tpairs AS (
      SELECT a.id AS id_a, b.id AS id_b, a.n AS na, b.n AS nb
      FROM sizes a JOIN sizes b
        ON a.lang = b.lang AND a.id < b.id
       AND abs(a.n_chars - b.n_chars) <= {NGRAM_LEN_BAND}
    ),
    tinter AS (
      SELECT p.id_a, p.id_b, p.na, p.nb, COUNT(*) AS nc
      FROM tpairs p JOIN g x ON x.id = p.id_a JOIN g y ON y.id = p.id_b AND y.h = x.h
      GROUP BY 1, 2, 3, 4
    ),
    truth AS (
      SELECT id_a, id_b FROM tinter WHERE nc / (na + nb - nc) >= {NGRAM_THR}
    )"""


def _ngram_est_recall_oracle() -> str:
    # The default plan is EXACT (prefix theorem), so the
    # correct answer is detected ≡ truth — the oracle says so in SQL,
    # and the Spark side EARNS it by actually running both paths: any
    # lost pair shows up as n_detected < n_truth_pairs and fails parity.
    return f"""
    WITH {_ngram_truth_ctes()}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_truth_pairs,
           CAST(COUNT(*) AS BIGINT) AS n_detected,
           CASE WHEN COUNT(*) > 0 THEN 1.0 ELSE 0.0 END AS recall
    FROM truth
    """


def _ngram_capped_recall_oracle(
    cap: int = NGRAM_RECALL_CAP, extra_cols: str = ""
) -> str:
    from mapreduceproject_spark.functions.hashing import duck_minhash_perm

    params = minhash_params(dd.NGRAM_EST_HASHES, 42)
    mins = ",\n           ".join(
        f"min({duck_minhash_perm('h', a, b)}) AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    bucket_union = "\n      UNION ALL ".join(
        f"SELECT id, {i} AS hi, m{i} AS hv FROM sigs"
        for i in range(len(params))
    )
    return f"""
    WITH smp AS (
      SELECT doc_id, lang, n_chars, text FROM documents
      WHERE {duck_hash60(f"text || '{NGRAM_RECALL_SALT}'")} % 100 < {NGRAM_RECALL_PCT}
    ),
    g AS (
      SELECT DISTINCT doc_id AS id, lang, n_chars, {duck_hash60("gr")} AS h
      FROM (SELECT doc_id, lang, n_chars,
                   unnest({duck_char_ngrams("lower(text)", NGRAM_N)}) AS gr
            FROM smp)
    ),
    sizes AS (SELECT id, lang, n_chars, COUNT(*) AS n FROM g GROUP BY 1, 2, 3),
    tpairs AS (
      SELECT a.id AS id_a, b.id AS id_b, a.n AS na, b.n AS nb
      FROM sizes a JOIN sizes b
        ON a.lang = b.lang AND a.id < b.id
       AND abs(a.n_chars - b.n_chars) <= {NGRAM_LEN_BAND}
    ),
    tinter AS (
      SELECT p.id_a, p.id_b, p.na, p.nb, COUNT(*) AS nc
      FROM tpairs p JOIN g x ON x.id = p.id_a JOIN g y ON y.id = p.id_b AND y.h = x.h
      GROUP BY 1, 2, 3, 4
    ),
    truth AS (
      SELECT id_a, id_b FROM tinter WHERE nc / (na + nb - nc) >= {NGRAM_THR}
    ),
    sigs AS (SELECT id, {mins} FROM g GROUP BY id),
    buckets AS (
      {bucket_union}
    ),
    capped AS (
      SELECT id, hi, hv FROM (
        SELECT id, hi, hv, COUNT(*) OVER (PARTITION BY hi, hv) AS bs
        FROM buckets
      ) WHERE bs <= {cap}
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM capped a
      JOIN capped b ON a.hi = b.hi AND a.hv = b.hv AND a.id < b.id
      JOIN sizes sa ON sa.id = a.id
      JOIN sizes sb ON sb.id = b.id
      WHERE sa.lang = sb.lang AND abs(sa.n_chars - sb.n_chars) <= {NGRAM_LEN_BAND}
    ),
    dinter AS (
      SELECT c.id_a, c.id_b, sa.n AS na, sb.n AS nb, COUNT(*) AS nc
      FROM cand c
      JOIN sizes sa ON sa.id = c.id_a
      JOIN sizes sb ON sb.id = c.id_b
      JOIN g x ON x.id = c.id_a
      JOIN g y ON y.id = c.id_b AND y.h = x.h
      GROUP BY 1, 2, 3, 4
    ),
    det AS (
      SELECT id_a, id_b FROM dinter WHERE nc / (na + nb - nc) >= {NGRAM_THR}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_truth_pairs,
           CAST(COUNT(d.id_a) AS BIGINT) AS n_detected,
           CASE WHEN COUNT(*) > 0
                THEN CAST(COUNT(d.id_a) AS BIGINT) / CAST(COUNT(*) AS BIGINT)
                ELSE 0.0 END AS recall{extra_cols}
    FROM truth t LEFT JOIN det d ON d.id_a = t.id_a AND d.id_b = t.id_b
    """


def _ngram_recall_frame(
    spark: SparkSession,
    sf_dir: str,
    detect: dict,
    plan_info: dict | None = None,
) -> DataFrame:
    """Shared gauge body: truth pairs from the blocked reference over the
    deterministic sample vs ``ngram_jaccard_dedup(**detect)`` on the SAME
    sample, aggregated to (n_truth_pairs, n_detected, recall).
    ``plan_info`` receives the detected run's plan."""
    docs = load_table(spark, sf_dir, "documents")
    sample = docs.filter(
        hash60(F.concat(F.col("text"), F.lit(NGRAM_RECALL_SALT))) % 100
        < NGRAM_RECALL_PCT
    )
    kw = dict(
        block_cols=["lang"],
        length_col="n_chars",
        n=NGRAM_N,
        length_band=NGRAM_LEN_BAND,
        threshold=NGRAM_THR,
    )
    # the blocked cross-product shares no candidate logic with either
    # detected plan, and the sample keeps its quadratic blocks small
    truth = dd._ngram_jaccard_blocked(sample, "doc_id", "text", **kw).select(
        "id_a", "id_b"
    )
    det = dd.ngram_jaccard_dedup(
        sample, "doc_id", "text", plan_info=plan_info, **detect, **kw
    ).select(F.col("id_a").alias("da"), F.col("id_b").alias("db"))
    joined = truth.join(
        det, (F.col("id_a") == F.col("da")) & (F.col("id_b") == F.col("db")), "left"
    )
    return joined.agg(
        F.count("*").cast("long").alias("n_truth_pairs"),
        F.count("da").cast("long").alias("n_detected"),
        F.when(
            F.count("*") > 0,
            F.count("da").cast("long") / F.count("*").cast("long"),
        )
        .otherwise(F.lit(0.0))
        .alias("recall"),
    )


@query("ngram_jaccard_est_recall", oracle=_ngram_est_recall_oracle())
def ngram_jaccard_est_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gauge for ngram_jaccard_dedup's default plan: blocked-
    reference truth pairs over a deterministic {NGRAM_RECALL_PCT}% hash
    sample vs the same sample through the default route (prefix-light).
    The plan is exact by the PPJoin prefix theorem, so the expected
    recall is exactly 1.0 — this gauge is the permanent regression guard
    that EARNS that claim by running both plans end-to-end (a lost pair
    fails oracle parity, not just a docstring).

    Scale shape: the sample percentage is the budget knob (the blocked
    truth is the bounded part, same contract as dedup_minhash_recall)."""
    return _ngram_recall_frame(spark, sf_dir, {})


@query("ngram_jaccard_capped_recall", oracle=_ngram_capped_recall_oracle())
def ngram_jaccard_capped_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gauge for the capped char-minhash TRIAGE mode
    (triage_cap={NGRAM_RECALL_CAP}): the forfeited-pairs rate of the
    saturated-bucket drop as a measured number, not a docstring.
    Precision is 1.0 by construction (every candidate is exact-verified
    at the same threshold), so recall alone characterizes the cap's
    loss; the same loss is machine-readable in-band per run via
    ngram_jaccard_dedup's loss_observation.

    The truth and triage sides need structurally different gram
    pipelines (blocked cross-product vs signature folds), so unlike the
    minhash gauge the pipelines aren't shared — the gauge costs ~2x one
    dedup pass over the sample."""
    return _ngram_recall_frame(
        spark, sf_dir, {"triage_cap": NGRAM_RECALL_CAP}
    )


@query(
    "ngram_jaccard_triage_recall",
    oracle=_ngram_capped_recall_oracle(
        cap=dd.NGRAM_TRIAGE_BUCKET_CAP,
        extra_cols=",\n           TRUE AS escalated",
    ),
)
def ngram_jaccard_triage_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gauge for the ``escalate_above`` ESCALATION path: the
    sharded exact plan is launched with ``escalate_above=-1`` so its
    pass-0 candidate-mass checkpoint fires, abandons the exact run, and
    re-routes to char-minhash triage (cap {dd.NGRAM_TRIAGE_BUCKET_CAP})
    with exact verification of survivors.  The oracle replicates the
    capped char pipeline at the triage cap AND pins escalated = TRUE —
    so BOTH the routing decision and the routed mode's values are
    earned end-to-end: if escalation fails to fire, the detected side
    comes from the exact plan, n_detected exceeds the capped oracle's,
    and the escalated literal (``route == "triage"`` in the operator's
    plan_info) flips FALSE.

    This is the measured answer to "what do I lose if the exact-regime
    announcement routes me to triage at 100 TB": recall at the
    production cap, on the same deterministic sample every gauge uses.
    """
    plan: dict = {}
    frame = _ngram_recall_frame(
        spark, sf_dir, {"shards": 2, "escalate_above": -1}, plan_info=plan
    )
    # plan_info fills driver-side at build time (the escalation happens
    # eagerly inside the sharded driver), so the literal is already the
    # real routing decision, not a placeholder
    return frame.select(
        "*", F.lit(plan.get("route") == "triage").alias("escalated")
    )


# -- per-source duplication report (round 5) ---------------------------------
# The dedup observability rollup every curation run publishes next to the
# dedup itself: per source, how many docs participate in an exact-dup
# group and how many keep-first would remove.  Two window functions over
# ONE content-hash shuffle (count + first-keeper rank share the
# partition), then a source-keyed partial+final aggregate — output is
# O(sources), never O(corpus), and nothing about the shape changes at
# 100 TB (the hash shuffle is the same one dedup_exact already pays).


@query(
    "dedup_source_report",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source, md5(substr(text, 1, {EXACT_PREFIX})) AS hk
      FROM documents
    ),
    f AS (
      SELECT source,
             COUNT(*) OVER (PARTITION BY hk) AS n_copies,
             row_number() OVER (PARTITION BY hk ORDER BY doc_id) AS rn
      FROM h
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS removal_rate
    FROM f GROUP BY source
    """,
)
def dedup_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-dup rollup: n_docs, docs in a >1 group
    (n_dup_docs), docs keep-first dedup would drop (n_removed, lowest
    doc_id kept — dedup_exact's keeper rule), and the removal rate.
    Same {EXACT_PREFIX}-char-prefix md5 key as dedup_exact, so the
    report numbers the exact pipeline users already run."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        "source",
        F.md5(F.substring("text", 1, EXACT_PREFIX)).alias("hk"),
    )
    pw = Window.partitionBy("hk")
    flagged = h.select(
        "source",
        F.count("*").over(pw).alias("n_copies"),
        F.row_number()
        .over(pw.orderBy("doc_id"))
        .alias("rn"),
    )
    removed = F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).cast("long")
    return flagged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_docs"),
        removed.alias("n_removed"),
        (removed.cast("double") / F.count("*")).alias("removal_rate"),
    )
