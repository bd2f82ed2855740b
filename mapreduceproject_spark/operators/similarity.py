"""Similarity search (approximate nearest neighbor) over embedding columns.

No analogue exists in the reference (its only lookup is exact filename →
replica set, /root/reference/src/master_globals.go:8-11); this is the
BASELINE.json north-star extension for training-data pipelines.

Two strategies, one verified against the other:

- **Brute force** (the correctness baseline): broadcast the (small) query
  set against the corpus, score every pair, keep top-k per query with a
  window.  At 100 TB the corpus side stays partition-parallel and nothing
  shuffles except the final per-query top-k — the classic
  "small-queries × huge-corpus" scan pattern.
- **IVF** (the scale path): assign corpus vectors to the nearest of C
  deterministic centroids (one cheap broadcast pass), then probe only the
  ``nprobe`` nearest cells per query — scoring cost drops by ~C/nprobe at
  the standard IVF recall tradeoff.

All cosines use the integer-quantized path (functions/vectors.py) so DuckDB
oracles reproduce scores — and therefore ranks — bit-for-bit.  Every ANN
operator ends in the same exact top-k cut, :func:`_per_query_topk`, which
Spark runs as a per-partition partial ``WindowGroupLimit`` before the
per-query exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduceproject_spark.functions.vectors import (
    prequantized_cosine,
    quantize,
    quantized_norm2,
)
from mapreduceproject_spark.sources.catalog import spread_for_compute


# -- IVF centroid auto-scaling ----------------------------------------------
# The 10x-fixture measurement (SCALING.md): fixed centroid count turns
# every IVF-cell family member quadratic — (n/C)² per-cell pairs.  The
# documented knob is C ∝ corpus; "auto" turns that knob in-plan (a
# broadcast 1-row count, no driver collect).  Growth is PIECEWISE, not
# linear (round-4 verdict: linear C = n/125 collected ~8M centroids to
# the driver at n=1e9 and re-planned them as literals):
#
#   C(n) = max(16, min(n // 125,  16 * floor(sqrt(n)),  65536))
#
# - linear region (n <= 4e6): C = n/125, the measured vecs-per-cell
#   sweet spot — unchanged at every fixture/driver scale;
# - sqrt region (n > 4e6, the knee where n/125 = 16*sqrt(n)): C grows
#   with sqrt(n), the cost-balanced point for two-level assignment
#   (n·sqrt(C) routing vs n·(n/C) in-cell work both grow ~n^1.25);
# - hard cap 65536 (reached at n ≈ 16.8M): bounds EVERY downstream
#   C-proportional structure — the broadcast centroid table is at most
#   65536·dim·8 bytes (33.5 MB at dim=64) and the k-means literal/
#   driver path is additionally gated by max_literal_centroids
#   (operators/clustering.py), giving a documented max driver payload
#   INDEPENDENT of corpus size.
AUTO_VECS_PER_CELL = 125
AUTO_SQRT_MULT = 16
AUTO_MAX_CENTROIDS = 65536
MIN_CENTROIDS = 16


def auto_centroid_count(n: int) -> int:
    """Driver-side mirror of the in-plan "auto" cutoff (same arithmetic:
    float double division + truncation, IEEE double sqrt + floor — both
    engines and this function agree bit-for-bit on integer inputs)."""
    import math

    return max(
        MIN_CENTROIDS,
        min(
            int(n / AUTO_VECS_PER_CELL),
            AUTO_SQRT_MULT * math.floor(math.sqrt(n)),
            AUTO_MAX_CENTROIDS,
        ),
    )


def duck_auto_centroid_cut(from_clause: str) -> str:
    """DuckDB scalar subquery computing the SAME cutoff as
    ``resolve_centroid_filter(..., "auto")`` / ``auto_centroid_count``.
    ``from_clause`` names the CTE/table whose row count is the corpus
    size (integer ``//`` is floor for positive counts, matching Spark's
    double-division + cast-to-long truncation; floor(sqrt(n)) is IEEE
    double sqrt in both engines)."""
    return (
        f"(SELECT greatest({MIN_CENTROIDS}, least("
        f"count(*) // {AUTO_VECS_PER_CELL}, "
        f"{AUTO_SQRT_MULT} * CAST(floor(sqrt(count(*))) AS BIGINT), "
        f"{AUTO_MAX_CENTROIDS}))"
        f" FROM {from_clause})"
    )


def resolve_centroid_filter(base: DataFrame, id_expr, num_centroids):
    """Predicate selecting the centroid seed rows of ``base``.

    int -> the classic deterministic ``id < C``; "auto" -> the cutoff is
    computed from the corpus size inside the plan, so the same code runs
    unmodified at 10x / 1000x corpus without re-tuning.
    """
    if num_centroids == "auto":
        cut = F.broadcast(
            base.agg(
                F.greatest(
                    F.lit(MIN_CENTROIDS),
                    F.least(
                        (F.count("*") / AUTO_VECS_PER_CELL).cast("long"),
                        AUTO_SQRT_MULT * F.floor(F.sqrt(F.count("*"))),
                        F.lit(AUTO_MAX_CENTROIDS).cast("long"),
                    ),
                ).alias("_ccut")
            )
        )
        return lambda df: (
            df.crossJoin(cut).filter(id_expr < F.col("_ccut")).drop("_ccut")
        )
    return lambda df: df.filter(id_expr < F.lit(int(num_centroids)))


def assign_cells(
    vecs: DataFrame,
    centroids: DataFrame,
    id_name: str,
    nprobe: int = 1,
    assign: str = "brute",
    coarse_nprobe: int = 4,
) -> DataFrame:
    """Top-``nprobe`` IVF cells per vector: (id_name, _q, _n2, cid, cos,
    rn), rn=1 the primary cell; ties → lowest cid at every level.

    ``assign="brute"`` scores every (vector, centroid) pair — n·C dots.
    With C ∝ n (the "auto" policy) that term is the measured second-order
    quadratic at the 100× fixture (SCALING.md): 272–542 s at C=1600.
    ``assign="twolevel"`` is the textbook fix production IVF/k-means
    builds use (faiss-style coarse quantization): pick ~√C of the
    centroids as COARSE seeds (in-plan count → ceil(√C) cutoff; centroid
    ids are assumed contiguous from 0, same as the seeding contract),
    route each fine centroid to its nearest coarse seed, route each
    vector to its top-``coarse_nprobe`` coarse seeds, and score only the
    fine centroids inside those coarse cells — n·(√C + coarse_nprobe·√C)
    expected dots, all joins broadcast (centroid tables are tiny).

    Exactness: with ``coarse_nprobe`` >= the coarse seed count the
    candidate set is every centroid and the result is IDENTICAL to brute
    (pytest-pinned); at the default it is the standard IVF approximation
    — a vector whose true cell hides in an unprobed coarse cell can be
    routed to its second-best cell.

    Exchange discipline (round 6, the third-decade fix): the quantized
    vector (~dim·8 B ≈ 512 B at dim=64) NEVER rides a scoring window's
    shuffle.  Scores are computed where ``_q`` is already resident (the
    broadcast-join projection, pre-exchange), the top-k windows shuffle
    only (id, cell, cos) ≈ 24 B rows, and ``_q``/``_n2`` re-attach by id
    AFTER selection — one n-sized join instead of hauling the array
    through an n·√C-row exchange (~20× shuffle bytes at dim=64; at the
    2M-vector 1000× fixture the difference is a 6 GB window vs a 140 GB
    one).  Values are bit-identical: same cosine arithmetic, same
    (cos desc, cid asc) tie-breaks, and the re-attach join key is the
    unique vector id.
    """
    cb = F.broadcast(centroids)
    slim = vecs.select(id_name, "_q", "_n2")

    def _reattach(top: DataFrame) -> DataFrame:
        return top.join(slim, id_name).select(
            id_name, "_q", "_n2", "cid", "cos", "rn"
        )

    if assign == "brute":
        scored = vecs.crossJoin(cb).select(
            id_name,
            "cid",
            prequantized_cosine(
                F.col("_q"), F.col("cq"), F.col("_n2"), F.col("cn2")
            ).alias("cos"),
        )
        w = Window.partitionBy(id_name).orderBy(F.desc("cos"), F.asc("cid"))
        return _reattach(
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= nprobe)
            .select(id_name, "cid", "cos", "rn")
        )
    if assign != "twolevel":
        raise ValueError(f"assign must be brute|twolevel, got {assign!r}")
    cut = F.broadcast(
        centroids.agg(
            F.ceil(F.sqrt(F.count("*"))).cast("long").alias("_gcut")
        )
    )
    # coarse seeds = the first ceil(√C) centroids by cid RANK (not raw id
    # value — k-means cluster ids can have gaps when clusters vanish);
    # the single-partition window is over the tiny centroid table only
    wseed = Window.orderBy(F.asc("cid"))
    coarse = F.broadcast(
        centroids.withColumn("_pos", F.row_number().over(wseed))
        .crossJoin(cut)
        .filter(F.col("_pos") <= F.col("_gcut"))
        .select(
            F.col("cid").alias("gid"),
            F.col("cq").alias("gq"),
            F.col("cn2").alias("gn2"),
        )
    )
    gcos = prequantized_cosine(F.col("cq"), F.col("gq"), F.col("cn2"), F.col("gn2"))
    wf = Window.partitionBy("cid").orderBy(F.desc("_gcos"), F.asc("gid"))
    fine_routed = F.broadcast(
        centroids.crossJoin(coarse)
        .select("cid", "cq", "cn2", "gid", gcos.alias("_gcos"))
        .withColumn("_rn", F.row_number().over(wf))
        .filter(F.col("_rn") == 1)
        .select("gid", "cid", "cq", "cn2")
    )
    vcos = prequantized_cosine(F.col("_q"), F.col("gq"), F.col("_n2"), F.col("gn2"))
    wv = Window.partitionBy(id_name).orderBy(F.desc("_vcos"), F.asc("gid"))
    # coarse routing window shuffles (id, gid, cos) only; _q re-attaches
    # at n·coarse_nprobe rows for the fine scoring join below
    vec_routed = (
        vecs.crossJoin(coarse)
        .select(id_name, "gid", vcos.alias("_vcos"))
        .withColumn("_rn", F.row_number().over(wv))
        .filter(F.col("_rn") <= coarse_nprobe)
        .select(id_name, "gid")
        .join(slim, id_name)
    )
    # fine scoring happens inside the broadcast join's projection (where
    # _q is resident); the projection drops _q so the final top-nprobe
    # window shuffles slim rows
    scored = vec_routed.join(fine_routed, "gid").select(
        id_name,
        "cid",
        prequantized_cosine(
            F.col("_q"), F.col("cq"), F.col("_n2"), F.col("cn2")
        ).alias("cos"),
    )
    w = Window.partitionBy(id_name).orderBy(F.desc("cos"), F.asc("cid"))
    return _reattach(
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select(id_name, "cid", "cos", "rn")
    )


# -- random-hyperplane LSH (cosine sketch) ----------------------------------
# Integer hyperplane coefficients from an LCG over (plane, dim) so the
# DuckDB oracle regenerates the identical planes: exact integer dot
# products, no float seed divergence.  |coeff| < 2^30 and |quantized
# component| <= ~1e6, so a 64-dim dot stays far below 2^63.
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2**31


def hyperplane_coeffs(num_bits: int, dim: int, table: int = 0) -> list[list[int]]:
    """num_bits lists of dim signed integer coefficients (deterministic).

    ``table`` offsets the LCG stream so each LSH table draws independent
    hyperplanes; table=0 reproduces the original planes exactly (the
    registered query and its oracle pin that stream).
    """
    base = table * num_bits
    return [
        [
            ((_LCG_A * ((base + j) * dim + d) + _LCG_C) % _LCG_M) - _LCG_M // 2
            for d in range(dim)
        ]
        for j in range(num_bits)
    ]


def _signature(q_col_name: str, planes: list[list[int]]):
    """Bit j of the signature = sign of <q, plane_j> (>= 0 -> 1).

    Built as ONE SQL string parsed once: assembling the 512 coefficient
    literals as individual Column objects costs ~2 s of Py4J round-trips
    per query construction; the SQL parser swallows the same literals in
    milliseconds.
    """
    terms = []
    for j, plane in enumerate(planes):
        arr = ", ".join(f"{w}L" for w in plane)
        terms.append(
            f"(CASE WHEN aggregate(zip_with({q_col_name}, array({arr}), "
            "(x, w) -> x * w), 0L, (acc, x) -> acc + x) >= 0 "
            f"THEN {1 << j}L ELSE 0L END)"
        )
    return F.expr(" + ".join(terms))


def probe_masks(num_bits: int, probe_bits: int) -> list[int]:
    """All XOR masks with popcount ≤ ``probe_bits`` over ``num_bits`` —
    the multi-probe bucket neighborhood, in deterministic
    (popcount, value) order (identity mask first).  Shared by the Spark
    operator and the oracle SQL so both probe the same bucket set."""
    # enumerate combinations directly — output-sized, Σ_j C(num_bits, j)
    # masks — instead of scanning all 2^num_bits integers, which hangs
    # the driver for legitimate wide signatures (2^32 iterations at the
    # 32-bit widths large corpora want)
    from itertools import combinations

    masks: list[int] = []
    for j in range(probe_bits + 1):
        layer = []
        for bits in combinations(range(num_bits), j):
            m = 0
            for b in bits:
                m |= 1 << b
            layer.append(m)
        masks.extend(sorted(layer))
    return masks


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    num_bits: int = 8,
    dim: int = 64,
    k: int = 5,
    num_tables: int = 1,
    probe_bits: int = 1,
) -> DataFrame:
    """Random-hyperplane LSH top-k: candidates share the query's signature
    bucket or any ≤``probe_bits``-bit-flip neighbor (multi-probe), then
    exact quantized cosine reranks.

    The IVF alternative when no centroid set exists: signatures are one
    embarrassingly-parallel pass, the candidate join shuffles on the
    bucket id (2^num_bits buckets — size num_bits for ~corpus/2^bits
    occupancy), and scoring touches only co-bucketed pairs.  Probing all
    1-bit flips trades (num_bits+1)x candidate volume for the recall lost
    to near-orthogonal-boundary vectors.

    ``num_tables`` is the standard LSH recall lever: L independent
    hyperplane tables union their candidates, so the miss probability
    decays like (1 − p^b)^L at L× candidate cost — WITHOUT growing any
    single bucket.  All L signatures are computed in ONE corpus pass
    (posexplode to (table, sig) rows → one composite-key broadcast join),
    so raising L never adds corpus scans — only per-row signature work
    and candidate volume.  (Fewer bits also raises recall but
    quadratically inflates per-bucket pair work; measured on the
    fixture: bits 8→4
    recall 0.15→0.60 while bucket occupancy grows 16×, versus L 1→4 at
    8 bits reaching comparable recall with bucket sizes unchanged).
    ``probe_bits`` is the second recall lever (multi-probe depth): probe
    every bucket within hamming ``probe_bits`` of the query signature —
    Σ_{{j<=probe_bits}} C(num_bits, j) probes per (query, table).  Depth 2
    at 8 bits is 37 probes (vs 9 at depth 1): candidate volume grows
    ~4x per table while bucket SIZES stay fixed (the lever IVF lacks),
    so it composes with ``num_tables`` without re-bucketing anything.
    Default 1 table / depth 1 reproduces the original single-table
    operator bit-for-bit (the registered query's oracle pins that
    stream).
    """
    cq0 = _quantized_side(corpus, id_col, vec_col, "neighbor_id")
    qq0 = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize(F.col(query_vec_col)).alias("_qq"),
    ).withColumn("_qn2", quantized_norm2(F.col("_qq")))
    probes = F.array(
        *[F.lit(m) for m in probe_masks(num_bits, probe_bits)]
    )
    all_planes = [
        hyperplane_coeffs(num_bits, dim, table=t) for t in range(num_tables)
    ]
    if num_tables == 1:
        # original single-table stream (plan pinned by the registered
        # query's oracle): one signature column, no table dimension
        cq = cq0.withColumn("_sig", _signature("_q", all_planes[0]))
        qside = qq0.withColumn("_qsig", _signature("_qq", all_planes[0]))
    else:
        # ONE corpus pass computes every table's signature, then
        # posexplode fans out to (table, sig) rows feeding ONE candidate
        # join — L scans become 1.  The persist() hides the difference at
        # fixture scale, but on a cluster-resident corpus each extra pass
        # is a full re-read; the generate+broadcast-hash-join pipeline
        # stays inside one codegen stage either way.
        cq = cq0.select(
            "*",
            F.posexplode(
                F.array(*[_signature("_q", p) for p in all_planes])
            ).alias("_t", "_sig"),
        )
        qside = qq0.select(
            "*",
            F.posexplode(
                F.array(*[_signature("_qq", p) for p in all_planes])
            ).alias("_qt", "_qsig"),
        )
    qq = F.broadcast(
        qside.withColumn("_probe", F.explode(probes))
        .withColumn("_bucket", F.col("_qsig").bitwiseXOR(F.col("_probe")))
        .drop("_qsig", "_probe")
    )
    join_cond = cq["_sig"] == qq["_bucket"]
    if num_tables > 1:
        join_cond = join_cond & (cq["_t"] == qq["_qt"])
    cand = (
        cq.join(qq, join_cond)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            prequantized_cosine(
                F.col("_qq"), F.col("_q"), F.col("_qn2"), F.col("_n2")
            ).alias("cosine"),
        )
    )
    if num_tables > 1:
        # a pair found by several tables scores identically — collapse
        cand = cand.groupBy("query_id", "neighbor_id").agg(
            F.max("cosine").alias("cosine")
        )
    # within one table no dedup is needed: the probe masks are distinct,
    # so the probed buckets are distinct and a corpus vector's single
    # signature matches at most one probe per query
    return _per_query_topk(cand, "cosine", k)


def _quantized_side(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    keep: dict[str, str] | None = None,
) -> DataFrame:
    """(id, quantized array, Σq², *keep) — the per-vector scoring artifact.

    Persisted: it feeds every pair-scoring expression downstream, and the
    persist() barrier stops CollapseProject from inlining quantize() into
    each consumer (which would re-quantize per scored pair — the exact
    waste this projection exists to remove).  This is the 'index build'
    half of similarity search: at corpus scale you materialize it once
    and amortize over every query batch.  Spread first so the per-vector
    scoring that follows parallelizes even off a single-split local scan.

    ``keep`` maps source column → output alias for payload columns the
    caller needs alongside the vectors (e.g. a class label for
    hard-negative mining).
    """
    extra = [F.col(src).alias(dst) for src, dst in (keep or {}).items()]
    return (
        spread_for_compute(df)
        .select(
            F.col(id_col).alias(out_id), *extra, quantize(F.col(vec_col)).alias("_q")
        )
        .withColumn("_n2", quantized_norm2(F.col("_q")))
        .persist()
    )


def _per_query_topk(
    scored: DataFrame, score_col: str, k: int, rank_col: str = "rank"
) -> DataFrame:
    """The one top-k cut every ANN plan ends with: ``row_number`` per
    query_id under the (score DESC, neighbor_id ASC) total order, rows
    with rank ≤ k, the rank cast to long (the oracles' BIGINT).

    Spark plans this as a partial ``WindowGroupLimit`` on every map
    partition, the per-query ``Exchange``, then the final
    ``WindowGroupLimit`` + ``Window`` — so the exchange carries at most
    P·k rows per query, not the n scored rows.  Exact: a row in a
    query's global top-k under a total order is in its partition's top-k
    (neighbor_id is unique per query, so the order is total).  Output:
    ``scored``'s columns, then ``rank_col``.
    """
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score_col), F.asc("neighbor_id")
    )
    return (
        scored.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .select(*scored.columns, F.col(rank_col).cast("long").alias(rank_col))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors per query vector.

    Output: (query_id, neighbor_id, cosine, rank), self-matches excluded.
    ``queries`` must be broadcast-small; the corpus scan is embarrassingly
    parallel and the only shuffle is the per-query top-k cut
    (:func:`_per_query_topk`), whose partial ``WindowGroupLimit`` sends at
    most P·k rows per query through it.  Both
    sides are quantized once up front; each of the Q·n scored pairs then
    costs a single O(dim) integer dot product.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            quantize(F.col(query_vec_col)).alias("_qq"),
        ).withColumn("_qn2", quantized_norm2(F.col("_qq")))
    )
    cq = _quantized_side(corpus, id_col, vec_col, "neighbor_id")
    scored = (
        cq.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            prequantized_cosine(
                F.col("_qq"), F.col("_q"), F.col("_qn2"), F.col("_n2")
            ).alias("cosine"),
        )
    )
    return _per_query_topk(scored, "cosine", k)


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    query_id_col: str,
    query_vec_col: str,
    query_label_col: str,
    k: int = 5,
) -> DataFrame:
    """Top-k most-similar vectors with a DIFFERENT label per query —
    contrastive hard-negative mining (the pairs a metric-learning /
    embedding-training run feeds its loss: close in vector space, apart
    in label space).

    Output: (query_id, qlabel, neighbor_id, nlabel, cosine, rank).  Same
    broadcast-queries × corpus-scan shape as :func:`brute_force_topk` —
    the label-mismatch predicate prunes same-class pairs BEFORE the
    per-query top-k window, so the only shuffle is Q·k rows.  At corpus
    scale the scan side swaps for :func:`ivf_topk`'s probed candidates
    (k widened to survive the label filter); the scoring and ordering
    contract here is the exact baseline that variant is measured against.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_label_col).alias("qlabel"),
            quantize(F.col(query_vec_col)).alias("_qq"),
        ).withColumn("_qn2", quantized_norm2(F.col("_qq")))
    )
    cq = _quantized_side(
        corpus, id_col, vec_col, "neighbor_id", keep={label_col: "nlabel"}
    )
    scored = (
        cq.crossJoin(q)
        # self-match guard, same contract as brute_force_topk: when the
        # query and corpus tables share an id space but NOT a label
        # assignment (separately-labeled query sets), label mismatch
        # alone would return a vector as its own cosine-1.0 "negative".
        .filter(
            (F.col("nlabel") != F.col("qlabel"))
            & (F.col("neighbor_id") != F.col("query_id"))
        )
        .select(
            "query_id",
            "qlabel",
            "neighbor_id",
            "nlabel",
            prequantized_cosine(
                F.col("_qq"), F.col("_q"), F.col("_qn2"), F.col("_n2")
            ).alias("cosine"),
        )
    )
    return _per_query_topk(scored, "cosine", k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    num_centroids: int | str = 16,
    nprobe: int = 4,
    k: int = 5,
    assign: str = "brute",
) -> DataFrame:
    """IVF-bucketed approximate top-k: probe the ``nprobe`` max-cosine cells.

    Centroids are the corpus vectors with id < ``num_centroids`` —
    deterministic seeds so the oracle replicates cell assignment exactly.
    Corpus→cell is one broadcast pass; query→probe list likewise; the
    candidate join shuffles on the cell id, sized ~nprobe/C of brute
    force.  All scoring runs on once-quantized vectors.
    ``assign="twolevel"`` routes the CORPUS-side cell assignment through
    coarse quantization (:func:`assign_cells`) — the n·C fix when C is
    corpus-scaled; the query side stays brute (queries are few).
    """
    cq = _quantized_side(corpus, id_col, vec_col, "neighbor_id")
    pick = resolve_centroid_filter(cq, F.col("neighbor_id"), num_centroids)
    centroids = F.broadcast(
        pick(cq).select(
            F.col("neighbor_id").alias("cid"),
            F.col("_q").alias("cq"),
            F.col("_n2").alias("cn2"),
        )
    )

    cells = assign_cells(cq, centroids, "neighbor_id", nprobe=1, assign=assign).select(
        "neighbor_id", "_q", "_n2", "cid"
    )

    qq = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            quantize(F.col(query_vec_col)).alias("_qq"),
        ).withColumn("_qn2", quantized_norm2(F.col("_qq")))
    )
    qcos = prequantized_cosine(F.col("_qq"), F.col("cq"), F.col("_qn2"), F.col("cn2"))
    wq = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cid"))
    probed = (
        qq.crossJoin(centroids)
        .select("query_id", "_qq", "_qn2", "cid", qcos.alias("ccos"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "_qq", "_qn2", "cid")
    )

    cand = (
        probed.join(cells, "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            prequantized_cosine(
                F.col("_qq"), F.col("_q"), F.col("_qn2"), F.col("_n2")
            ).alias("cosine"),
        )
    )
    return _per_query_topk(cand, "cosine", k)


def sq8_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    dim: int,
    k: int = 5,
    rerank_factor: int = 4,
    narrow_rerank: bool = True,
) -> DataFrame:
    """Scalar-quantized (SQ8) ANN with exact rerank.

    The faiss-style memory/scan trade for a 100 TB vector corpus: each
    float dimension is quantized to one byte against per-dimension
    corpus min/max (a 4× smaller index than float32, 8× vs double), the
    candidate scan ranks by an exact INTEGER dot over the byte codes,
    and only the top ``rerank_factor * k`` candidates per query pay the
    full-precision cosine.

    Plan shape: per-dim min/max is ONE partial-aggregating pass (2·dim
    agg expressions — no explode, no per-dim shuffle rows), the 1-row
    stats frame broadcasts into the coding projection, candidate scoring
    is an embarrassingly-parallel broadcast crossJoin (queries are the
    small side).  With ``narrow_rerank`` (default) the adot candidate
    cut (:func:`_per_query_topk` at ``rerank_factor * k``) runs on NARROW
    (query_id, neighbor_id, adot) rows — its partial ``WindowGroupLimit``
    keeps ≤ P·rf·k rows per query before the exchange — and the
    ≤ NQ·rf·k surviving ids broadcast back onto the coded table to fetch
    vectors for the exact rerank.  The wide shape drags BOTH quantized
    vector arrays of every scored pair into the adot cut; the rejoin
    costs one extra broadcast-join scan of the persisted
    coded table, a linear pass with no shuffle.  Determinism: code
    construction uses the same IEEE double expression tree as the DuckDB
    oracle, so codes — and therefore candidate sets — are bit-identical;
    the adot cut keeps its (adot DESC, neighbor_id ASC) total order; the
    rerank reuses the quantized-integer cosine every other ANN query
    pins.  ``narrow_rerank=False`` keeps the wide shape as the pytest
    equality baseline.
    """
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    stats = F.broadcast(
        corpus.select(e.alias("_e")).agg(
            F.array(
                *[F.min(F.element_at("_e", d + 1)) for d in range(dim)]
            ).alias("_mins"),
            F.array(
                *[F.max(F.element_at("_e", d + 1)) for d in range(dim)]
            ).alias("_maxs"),
        )
    )

    def coded(side: DataFrame, sid: str, svec: str, out_id: str) -> DataFrame:
        ee = F.transform(F.col(svec), lambda x: x.cast("double"))
        # zip_with over MATERIALIZED columns (not computed arrays inlined
        # into the lambda — the O(len²) re-evaluation pathology textfn.py
        # documents); arithmetic grouping ((x−mn)/(mx−mn))·255 matches the
        # oracle SQL token-for-token so the IEEE doubles are identical.
        code = F.zip_with(
            F.zip_with(F.col("_ee"), F.col("_mins"), lambda x, mn: x - mn),
            F.zip_with(F.col("_maxs"), F.col("_mins"), lambda mx, mn: mx - mn),
            lambda c, s: F.when(
                s > 0,
                F.least(
                    F.greatest(F.floor(c / s * 255), F.lit(0)), F.lit(255)
                ),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        return (
            spread_for_compute(side)
            .select(
                F.col(sid).alias(out_id),
                quantize(F.col(svec)).alias("_q"),
                ee.alias("_ee"),
            )
            .withColumn("_n2", quantized_norm2(F.col("_q")))
            .crossJoin(stats)
            .select(out_id, "_q", "_n2", code.alias("_c"))
            .persist()
        )

    cc = coded(corpus, id_col, vec_col, "neighbor_id")
    qfull = coded(queries, query_id_col, query_vec_col, "query_id")
    adot = F.aggregate(
        F.zip_with(F.col("_qc"), F.col("_c"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    if narrow_rerank:
        qcodes = F.broadcast(
            qfull.select("query_id", F.col("_c").alias("_qc"))
        )
        narrow = (
            cc.crossJoin(qcodes)
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", adot.alias("adot"))
        )
        cand_ids = _per_query_topk(narrow, "adot", rerank_factor * k).select(
            "query_id", "neighbor_id"
        )
        cand = (
            F.broadcast(cand_ids)
            .join(cc.select("neighbor_id", "_q", "_n2"), "neighbor_id")
            .join(
                F.broadcast(
                    qfull.select(
                        "query_id",
                        F.col("_q").alias("_qq"),
                        F.col("_n2").alias("_qn2"),
                    )
                ),
                "query_id",
            )
        )
    else:
        qc = F.broadcast(
            qfull.select(
                "query_id",
                F.col("_q").alias("_qq"),
                F.col("_n2").alias("_qn2"),
                F.col("_c").alias("_qc"),
            )
        )
        cand = _per_query_topk(
            cc.crossJoin(qc)
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "_qq", "_qn2", "neighbor_id", "_q", "_n2", adot.alias("adot")),
            "adot",
            rerank_factor * k,
        )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        prequantized_cosine(
            F.col("_qq"), F.col("_q"), F.col("_qn2"), F.col("_n2")
        ).alias("cosine"),
    )
    return _per_query_topk(scored, "cosine", k, rank_col="rnk")


def mahalanobis_outlier_scores(
    df: DataFrame, id_col: str, vec_col: str, keep: list[str] | None = None
) -> DataFrame:
    """Diagonal-Mahalanobis outlier score per embedding — the embedding-
    space quality gate (drop encoder failures / off-distribution vectors
    before semantic dedup or DSIR reweighting trusts them).

    d²(x) = Σ_d (x_d − μ_d)² / σ²_d with per-dimension population
    moments over the whole corpus; ``is_outlier`` flags d² above the
    chi-square-motivated D + 3·√(2D) cut.

    Determinism contract (both engines bit-identical): vectors quantize
    to 1e-6-floor longs, per-dim Σq and Σq² are exact integer sums
    (order-independent), and the per-vector d² sums its D terms in
    element order — the :mod:`functions.vectors` pattern.  Mahalanobis
    is invariant under per-dim linear scaling, so quantized d² equals
    float d² up to quantization error.

    Scale shape: one posexplode (n·D rows of longs) → one D-row groupBy
    → a broadcast 1-row stats join back; no corpus-wide shuffle other
    than the D-key aggregate, and D is a constant (64 here).
    """
    keep = keep or []
    # persist: emb feeds BOTH the stats subtree (posexplode -> groupBy)
    # and the final scoring projection — without the barrier the corpus
    # scan + quantize pipeline executes twice per action (the same
    # dual-consumer rule as minhash sigs / knn cells).
    emb = (
        spread_for_compute(df)
        .select(id_col, *keep, quantize(F.col(vec_col)).alias("q"))
        .persist()
    )
    dims = emb.select(id_col, F.posexplode("q").alias("dim", "v"))
    # Overflow audit: quantized components are ~1e6-scale, so int64 Σv²
    # wraps at ~9M vectors and (Σv)² far sooner — sum in decimal(38,0)
    # (Spark) / HUGEINT (DuckDB twin), both exact, then convert ONCE to
    # double: round-to-nearest from the same exact integer is the same
    # double on every engine, and all downstream arithmetic is double.
    stats = dims.groupBy("dim").agg(
        F.sum(F.col("v").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            (F.col("v").cast("decimal(19,0)") * F.col("v")).cast("decimal(38,0)")
        ).alias("s2"),
        F.count("*").alias("n"),
    )
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    moments = stats.select(
        "dim",
        (s1d / F.col("n")).alias("mu"),
        ((s2d - s1d * s1d / F.col("n")) / F.col("n")).alias("var"),
    )
    row = moments.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mu"))), lambda x: x["mu"]
        ).alias("mu_arr"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "var"))), lambda x: x["var"]
        ).alias("var_arr"),
    )
    diff = F.zip_with(
        F.col("q"), F.col("mu_arr"), lambda x, m: x.cast("double") - m
    )
    term = F.zip_with(
        diff, F.col("var_arr"), lambda d, v: d * d / F.greatest(v, F.lit(1e-12))
    )
    d2 = F.aggregate(term, F.lit(0.0), lambda acc, x: acc + x)
    ndim = F.size("q").cast("double")
    cut = ndim + F.lit(3.0) * F.sqrt(F.lit(2.0) * ndim)
    return emb.crossJoin(F.broadcast(row)).select(
        id_col,
        *keep,
        d2.alias("maha_d2"),
        (d2 > cut).alias("is_outlier"),
    )


def split_centroid_drift(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    salt: str,
    min_cos: float = 0.99,
) -> DataFrame:
    """Per-label centroid cosine between two deterministic hash-split
    halves of the corpus — the embedding-space drift gauge for a
    train/validation split.  A healthy random split puts both halves on
    the same distribution, so per-label centroids should be near-equal
    (cosine ≈ 1); a label whose halves diverge below ``min_cos`` signals
    a split correlated with content (time-ordered ids, source-clustered
    ids) — exactly the pathology split_leakage_check cannot see because
    no individual pair is a near-duplicate.

    Split assignment is hash60(id || salt) % 2 — the ab_test_welch
    discipline: deterministic, engine-portable, assignment at the row
    level.  Determinism: vectors quantize to 1e-6-floor longs; per
    (label, dim) the half-sums are exact integer sums
    (order-independent, int64 — wraps only past ~9e12 rows per half per
    label, ~300× above a 100 TB corpus on one label); the cross/self
    dot products accumulate in decimal(38,0) / HUGEINT (their terms
    reach ~4e20, past int64 — SCALING.md known-cliff #5) and convert
    ONCE to double, so cos(Σa, Σb) = cos(mean_a, mean_b) exactly (scale
    invariance) and both engines emit the same bits.

    Scale: one n·D posexplode into a (labels × D)-key aggregate, then a
    labels-key aggregate — the embedding_outlier_scores shape, linear
    in corpus size with bounded aggregate state.
    """
    from mapreduceproject_spark.functions.hashing import hash60
    from mapreduceproject_spark.functions.vectors import quantize

    v = hash60(F.concat(F.col(id_col).cast("string"), F.lit(salt))) % 2
    e = df.select(F.col(label_col).alias("label"), v.alias("v"), quantize(F.col(vec_col)).alias("q"))
    counts = e.groupBy("label").agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).cast("long").alias("n_train"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).cast("long").alias("n_val"),
    )
    d = e.select("label", "v", F.posexplode("q").alias("dim", "qv")).select(
        "label", F.col("dim").cast("long").alias("dim"), "v", "qv"
    )
    s = d.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("v") == 0, F.col("qv")).otherwise(0)).cast("long").alias("sa"),
        F.sum(F.when(F.col("v") == 1, F.col("qv")).otherwise(0)).cast("long").alias("sb"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    g = s.groupBy("label").agg(
        F.sum(dec("sa") * F.col("sb")).cast("double").alias("dt"),
        F.sum(dec("sa") * F.col("sa")).cast("double").alias("n2a"),
        F.sum(dec("sb") * F.col("sb")).cast("double").alias("n2b"),
    )
    # degenerate-half guard: a half whose vectors are ALL zero has norm 0
    # and no defined centroid direction — engines also disagree on
    # double/0 (NULL vs inf), so gate the division explicitly.  drift_cos
    # stays NULL (undefined) but is_drifted is TRUE: an all-zero half
    # (encoder failures concentrated in one split) is maximal divergence,
    # not a label to silently drop from the report.
    cos = F.when(
        (F.col("n2a") > 0) & (F.col("n2b") > 0),
        F.col("dt") / (F.sqrt(F.col("n2a")) * F.sqrt(F.col("n2b"))),
    )
    return (
        g.join(counts, "label")
        .filter((F.col("n_train") > 0) & (F.col("n_val") > 0))
        .select(
            "label",
            "n_train",
            "n_val",
            cos.alias("drift_cos"),
            F.coalesce(cos < F.lit(min_cos), F.lit(True)).alias("is_drifted"),
        )
        .orderBy("label")
    )


def dim_correlation_top(
    df: DataFrame,
    vec_col: str,
    dim: int,
    top_k: int = 20,
    chunk_rows: int = 16_384,
) -> DataFrame:
    """Top-``top_k`` most-correlated embedding dimension PAIRS — the
    redundant-dimension report an embedding-table owner runs before
    spending storage/compute on all D dims (a |corr| ≈ 1 pair means one
    of the two carries no information; a block of them means the encoder
    collapsed).  Complements embedding_dim_stats, which sees each
    dimension alone and cannot catch cross-dimension collapse.

    No analogue in the reference (its reducers are per-key counters,
    /root/reference/src/reduce_exe_word_count.go); this is pairwise
    statistics over array columns, which Spark has no built-in for.

    Plan shape (the 100 TB design): per-partition Gram accumulation in an
    Arrow ``mapInPandas`` kernel — each task reduces its whole partition
    to ONE D×D upper-triangular partial (D(D+3)/2 + 1 rows: pair sums,
    per-dim sums, a count row) — then a single tiny aggregate over
    P·O(D²) partial rows and a broadcast assembly of the D-row moment
    table onto the D(D-1)/2 pair rows.  Corpus bytes cross the Python
    boundary once (Arrow-batched); NOTHING row-scaled is shuffled.  The
    posexplode-pair alternative (n·D²/2 shuffle rows — ~2e15 at 1e12
    vectors, D=64) is exactly what this kernel avoids.  At large D the
    partial volume is P·D²/2 rows of longs; coalesce the scan or raise
    ``chunk_rows`` before pointing it at D ≳ 2048.

    Determinism (the functions/vectors contract): components floor-
    quantize to 1e-6 longs IN the kernel (np float64 ops are the same
    IEEE ops as F.floor(cast double * 1e6)); per-chunk int64 matmuls are
    exact (asserted |q| < 2^22 and chunk ≤ 16384 ⇒ |Σ chunk| < 2^62) and
    accumulate into arbitrary-precision Python ints, emitted as
    decimal(38,0) — so every moment both engines see is the SAME exact
    integer, and the one double expression per output row (mean / var /
    corr) evaluates identically.  Zero-variance dims produce NULL corr
    (nullif guard) and are excluded, not NaN-ordered; tiny negative
    double var from the E[x²]−E[x]² form is clamped at 0 on both
    engines (greatest) so sqrt never sees a negative.
    """
    import pandas as pd  # noqa: PLC0415 — Arrow kernel deps stay lazy

    # the int64-exactness envelope is two-sided: |q| < 2^22 per component
    # AND chunk_rows ≤ 2^19 so any pair's per-chunk dot stays under
    # 2^19·(2^22)² = 2^63 — enforce the half the kernel can't see
    # (round-9 ADVICE: the docstring advised raising chunk_rows with
    # nothing stopping a caller from crossing the ceiling silently)
    if chunk_rows > 1 << 19:
        raise ValueError(
            "dim_correlation_top: chunk_rows > 2^19 breaks the int64-exact "
            "envelope (chunk_rows * (2^22)^2 must stay below 2^63); "
            "coalesce the scan instead of raising chunk_rows past it"
        )

    idx_i, idx_j = [], []
    for a in range(dim):
        for b in range(a, dim):
            idx_i.append(a)
            idx_j.append(b)

    def gram_partial(batches):
        import decimal

        import numpy as np

        n_rows = 0
        sums = [0] * dim
        gram = [0] * len(idx_i)
        tri_i = np.asarray(idx_i, dtype=np.int64)
        tri_j = np.asarray(idx_j, dtype=np.int64)
        for pdf in batches:
            vecs = pdf[vec_col]
            for lo in range(0, len(vecs), chunk_rows):
                chunk = vecs.iloc[lo : lo + chunk_rows]
                m = np.stack(chunk.to_numpy()).astype(np.float64)
                # element-level NaN/Inf bypasses the row-level isNotNull
                # filter AND the magnitude guard below (floor(NaN) casts
                # to INT64_MIN, whose np.abs stays negative) — refuse it
                # before it poisons the exact moment sums (round-9
                # ADVICE; the oracle's NULL semantics never see such a
                # value because DuckDB's floor(NULL) propagates)
                if not np.isfinite(m).all():
                    raise ValueError(
                        "dim_correlation_top: non-finite embedding element "
                        "(NaN/Inf/NULL) — clean the vector column first; "
                        "exact integer moments cannot represent it"
                    )
                q = np.floor(m * 1_000_000.0).astype(np.int64)
                # int64-exactness envelope: |q|<2^22, ≤16384 rows ⇒ the
                # per-chunk dot of any dim pair stays below 2^62
                if np.abs(q).max(initial=0) >= 1 << 22:
                    raise ValueError(
                        "dim_correlation_top: component magnitude past the "
                        "int64-exact envelope (|x| >= ~4.19); re-scale the "
                        "embedding column or lower chunk_rows"
                    )
                n_rows += q.shape[0]
                g = q.T @ q  # D×D int64, exact inside the envelope
                cs = q.sum(axis=0)
                for d in range(dim):
                    sums[d] += int(cs[d])
                flat = g[tri_i, tri_j]
                for t in range(len(gram)):
                    gram[t] += int(flat[t])
        out_i = [-1] + [d + 1 for d in range(dim)] + [int(a) + 1 for a in idx_i]
        out_j = [-1] + [-1] * dim + [int(b) + 1 for b in idx_j]
        out_v = [n_rows] + sums + gram
        yield pd.DataFrame(
            {
                "i": pd.Series(out_i, dtype="int32"),
                "j": pd.Series(out_j, dtype="int32"),
                "v": [decimal.Decimal(x) for x in out_v],
            }
        )

    vecs = df.select(F.col(vec_col)).where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )
    partials = vecs.mapInPandas(gram_partial, "i int, j int, v decimal(38,0)")
    # persist barrier: four branches (pair moments, per-dim moments, and
    # the two 1-row count broadcasts) consume this D(D+3)/2+1-row
    # aggregate — without it each branch would re-run the corpus-sized
    # Arrow kernel (the repo's persist-without-unpersist lifecycle: the
    # table is tiny and the session-scoped cache is dropped with the job)
    moments = partials.groupBy("i", "j").agg(F.sum("v").alias("v")).persist()
    # empty-partition partials still emit an n=0 count row (the kernel
    # yields its zero matrix unconditionally); n > 0 turns an empty
    # corpus into an empty result instead of 0/0 NaN correlations —
    # matching the oracle, whose grouped CTEs vanish on empty input
    n_row = moments.where(
        (F.col("i") == -1) & (F.col("j") == -1) & (F.col("v") > 0)
    ).select(F.col("v").cast("long").alias("n"))
    mean = F.col("s").cast("double") / F.col("n")
    stats = (
        moments.where((F.col("i") > 0) & (F.col("j") == -1))
        .select(F.col("i").alias("dim"), F.col("v").alias("s"))
        .join(
            moments.where((F.col("i") > 0) & (F.col("i") == F.col("j"))).select(
                F.col("i").alias("dim"), F.col("v").alias("g2")
            ),
            "dim",
        )
        .crossJoin(F.broadcast(n_row))
        .select(
            "dim",
            mean.alias("mean"),
            F.greatest(
                F.col("g2").cast("double") / F.col("n") - mean * mean,
                F.lit(0.0),
            ).alias("var"),
        )
    )
    pairs = (
        moments.where((F.col("i") > 0) & (F.col("j") > F.col("i")))
        .crossJoin(F.broadcast(n_row))
        .join(
            F.broadcast(
                stats.select(
                    F.col("dim").alias("i"),
                    F.col("mean").alias("mean_i"),
                    F.col("var").alias("var_i"),
                )
            ),
            "i",
        )
        .join(
            F.broadcast(
                stats.select(
                    F.col("dim").alias("j"),
                    F.col("mean").alias("mean_j"),
                    F.col("var").alias("var_j"),
                )
            ),
            "j",
        )
    )
    corr = (
        F.col("v").cast("double") / F.col("n")
        - F.col("mean_i") * F.col("mean_j")
    ) / F.nullif(F.sqrt(F.col("var_i") * F.col("var_j")), F.lit(0.0))
    return (
        pairs.select(
            F.col("i").cast("long").alias("dim_i"),
            F.col("j").cast("long").alias("dim_j"),
            corr.alias("corr"),
        )
        .where(F.col("corr").isNotNull())
        .orderBy(F.abs(F.col("corr")).desc(), "dim_i", "dim_j")
        .limit(top_k)
    )


def _pq_subvectors(df: DataFrame, id_col: str, vec_col: str, m_sub: int, sub_dim: int) -> DataFrame:
    """(id, m, sq): quantized sub-vector m = components [m·sub_dim+1 ..
    (m+1)·sub_dim] — re-derived from the scan per consumer (the kmeans
    contract: the corpus never persists in exploded form).  Round 11
    NOTE: routing this through the persisted _quantized_side (to share
    the quantize pass with the recall gauges' brute-force truth side)
    was built and MEASURED SLOWER — ann_pq_topk 2.24 → 3.06 s,
    ann_pq_recall 2.82 → 3.51 s same-host A/B at sf0.1: the extra
    persist materialization + norm work costs more than the shared
    quantize saves (quantize is one cheap projection per consumer).
    Kept re-derived.  Null or mis-sized embeddings are filtered here
    AND in the oracle's base CTE (round-9 ADVICE: posexplode would drop
    such a row while the oracle's cross join kept it with NULL
    sub-vectors — same clean-input contract as dim_correlation_top)."""
    q = quantize(F.col(vec_col))
    return df.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == m_sub * sub_dim)
    ).select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m_sub - 1)),
                lambda m: F.slice(q, m * sub_dim + 1, sub_dim),
            )
        ).alias("m", "sq"),
    )


def _pq_l2(a, b):
    """Exact integer squared L2 between quantized sub-vectors: terms are
    ≤ (2·1.2e6)² · sub_dim ≈ 5e13 at the vectors contract's magnitudes —
    int64 with headroom."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m_sub: int = 8,
    k_code: int = 16,
    iterations: int = 2,
    assign: str = "arrow",
) -> DataFrame:
    """Product-quantization codebooks: an independent k_code-centroid
    k-means per sub-space m (dim/m_sub components each), all m_sub
    trainings riding the SAME jobs — one (m, cid)-keyed Lloyd pass per
    iteration instead of m_sub separate runs.

    Determinism is the kmeans_quantized contract restated per sub-space:
    seeds are the sub-vectors of ids < k_code; assignment is exact-int
    squared L2 with (dist, cid) struct-min tie-break; means divide exact
    long sums ONCE to double and re-quantize (floor ·1e6).  A cluster
    that loses all members vanishes — identical on both engines.

    Scale shape: per iteration the corpus is scanned once (n·m_sub
    sub-vector rows, never persisted), assignment is a broadcast join on
    m + an ALGEBRAIC struct-min groupBy (partial map-side, the exchange
    carries n·m_sub two-int rows), and the means aggregate exchanges
    only (m_sub·k_code·sub_dim)-keyed partials.  Centroid state is
    m_sub·k_code·sub_dim longs (4 KB at 8×16×8) — broadcast-trivial.

    Returns (m, cid, cq: array<long>).
    """
    sub_dim = dim // m_sub
    sv = _pq_subvectors(corpus, id_col, vec_col, m_sub, sub_dim)
    cents = sv.where(F.col("id") < k_code).select(
        "m", F.col("id").cast("int").alias("cid"), F.col("sq").alias("cq")
    )
    for _ in range(iterations):
        asg = _pq_assign(sv, cents, assign)
        sums = (
            asg.select("m", "cid", F.posexplode("sq").alias("d", "qd"))
            .groupBy("m", "cid", "d")
            .agg(F.sum("qd").alias("s"), F.count("*").alias("n"))
        )
        # exact long sum / n once to double, re-quantize — the kmeans
        # mean discipline (sum of ±1.2e6 terms wraps long only past
        # ~7.7e12 members per (m, cid) — SCALING known-cliff #5)
        mean = F.col("s").cast("double") / F.col("n") / 1_000_000.0
        cents = (
            sums.withColumn("mq", F.floor(mean * 1_000_000.0).cast("long"))
            .groupBy("m", "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "mq"))),
                    lambda x: x.getField("mq"),
                ).alias("cq")
            )
            # eager checkpoint per iteration: the codebook is m_sub·k_code
            # rows (~4 KB), but WITHOUT materializing it every downstream
            # consumer (next iteration, encoding pass, LUT build) replays
            # the whole Lloyd lineage from the corpus scan (the kmeans
            # distributed-carrier rule, operators/clustering.py).
            # Measured honestly: 64.3 s → 55.4 s at n=1M — modest,
            # because the dominant cost is the HOF assignment expression
            # itself (n·m_sub·k_code zip_with/aggregate evaluations),
            # not the replayed scans; the checkpoint still bounds the
            # replay factor at any iteration count.
            .localCheckpoint(eager=True)
        )
    return cents


def _pq_assign(sv: DataFrame, cents: DataFrame, assign: str = "arrow") -> DataFrame:
    """(id, m, sq, cid): nearest codebook entry per sub-vector.

    Two bit-identical forms (pytest pins the equality; exact integer L2²
    with lowest-cid tie-break on both):

    - ``assign="hof"`` — the oracle-shaped DataFrame form the PQ DuckDB
      CTEs replay: broadcast join on m (k_code candidate rows per
      sub-vector), higher-order-function L2², algebraic (dist, cid)
      struct-min groupBy.  Correct, but the HOF expressions never enter
      whole-stage codegen and the groupBy exchanges n·m_sub rows —
      measured as THE superlinear tail in measurements/pq_scale.json
      (6.22× cost for 5× vectors), named by SCALING.md round 9 as the
      one non-codegen hot loop left in the ANN tier.
    - ``assign="arrow"`` (default, the production path) — the codebook
      (m_sub·k_code rows, ≤4096 gated — the clustering literal-gate
      discipline) collects to numpy and each partition's sub-vectors
      batch through ONE vectorized int64 distance matmul; argmin's
      first-occurrence rule over ascending-cid rows IS the lowest-cid
      tie-break.  Zero exchange (the HOF form's k_code-fold candidate
      blowup and its groupBy both vanish) and the kernel is the
      dim_correlation_top int64-envelope shape: (x−c)² ≤ 2^48·sub_dim
      per entry, exact.
    """
    if assign == "hof":
        scored = sv.join(F.broadcast(cents), "m").select(
            "id",
            "m",
            "sq",
            F.struct(
                _pq_l2(F.col("sq"), F.col("cq")).alias("dist"),
                F.col("cid").alias("cid"),
            ).alias("cand"),
        )
        return scored.groupBy("id", "m").agg(
            F.min("cand").getField("cid").alias("cid"),
            F.first("sq").alias("sq"),
        )
    if assign != "arrow":
        raise ValueError(f"unknown PQ assign mode {assign!r} (arrow|hof)")
    return _pq_assign_arrow(sv, cents)


def _pq_assign_arrow(sv: DataFrame, cents: DataFrame) -> DataFrame:
    """Arrow mapInPandas form of :func:`_pq_assign` — see its docstring
    for the contract and the measured motivation."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    rows = cents.collect()
    if not rows:
        # no codebook entries (empty corpus, or no seed ids < k_code):
        # the HOF form's broadcast join against an empty side yields an
        # empty frame — mirror that instead of KeyError-ing in the kernel
        return sv.sparkSession.createDataFrame(
            [],
            StructType(list(sv.schema.fields) + [StructField("cid", IntegerType())]),
        )
    if len(rows) > 4096:
        # the clustering-literal-gate discipline: the codebook is a
        # driver payload here, so its size must be bounded INDEPENDENT
        # of the corpus (m_sub·k_code is 128 at the 8×16 default)
        raise ValueError(
            f"pq assign=arrow: codebook has {len(rows)} entries (> 4096 "
            "driver-payload gate); use assign='hof' for corpus-scaled "
            "codebooks"
        )
    import numpy as np

    by_m: dict[int, list] = {}
    for r in rows:
        by_m.setdefault(int(r["m"]), []).append((int(r["cid"]), r["cq"]))
    packed = {
        m: (
            np.array([c for c, _ in sorted(v)], dtype=np.int32),
            np.array([q for _, q in sorted(v)], dtype=np.int64),
        )
        for m, v in by_m.items()
    }
    out_schema = StructType(
        list(sv.schema.fields) + [StructField("cid", IntegerType())]
    )

    def kernel(batches):
        import numpy as np  # noqa: PLC0415 — worker-side import

        for pdf in batches:
            if not len(pdf):
                continue
            ms = pdf["m"].to_numpy()
            x = np.stack(pdf["sq"].to_numpy()).astype(np.int64)
            cid_out = np.empty(len(pdf), dtype=np.int32)
            for m in np.unique(ms):
                cids, cb = packed[int(m)]
                mask = ms == m
                xm = x[mask]
                # exact int64: (x−c)² ≤ (2^24)² = 2^48 per dim, ×sub_dim
                # ≤ 2^51+ — far inside int64; argmin first-occurrence
                # over ascending cid = the lowest-cid tie-break
                d = ((xm[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
                cid_out[mask] = cids[np.argmin(d, axis=1)]
            out = pdf.copy()
            out["cid"] = cid_out
            yield out

    return sv.mapInPandas(kernel, out_schema)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    dim: int,
    m_sub: int = 8,
    k_code: int = 16,
    iterations: int = 2,
    k: int = 5,
    assign: str = "arrow",
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou et al., PAMI'11): corpus vectors compress to m_sub codebook
    codes (m_sub·log2(k_code) bits — 4 B/vector at 8×16 vs 256 B raw,
    the 64× memory cut that makes billion-vector search fit RAM); each
    query scores a vector by summing m_sub LUT entries
    dot(q_m, centroid[m, code_m(x)]) instead of a dim-length dot.

    No analogue in the reference (its only lookup is exact filename →
    replica set); this is the BASELINE.json similarity-search north star's
    compressed tier, completing brute/LSH/IVF/SQ8 with the codebook
    family.

    Scale shape: training is pq_codebooks (corpus never moves); encoding
    is one id-keyed exchange of n·m_sub two-int rows collapsed to an
    m_sub-int code array per vector; scoring BROADCASTS the per-query
    LUTs (NQ·m_sub·k_code longs) over the code table and computes each
    of the n·NQ scores as m_sub codegen array lookups — zero shuffle
    until the per-query top-k cut (:func:`_per_query_topk`), whose partial
    ``WindowGroupLimit`` sends ≤ P·k·NQ rows through the exchange instead
    of the n·NQ scores.  Determinism: every LUT entry is
    an exact integer dot of quantized vectors; the single double division
    happens once per output row; ties break on neighbor_id.

    Output: (query_id, neighbor_id, score, rank) — score is the ADC
    inner-product approximation in original units (÷ SCALE²).
    """
    sub_dim = dim // m_sub
    cents = pq_codebooks(
        corpus, id_col, vec_col, dim, m_sub, k_code, iterations, assign
    )
    codes = (
        _pq_assign(
            _pq_subvectors(corpus, id_col, vec_col, m_sub, sub_dim), cents, assign
        )
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "cid"))),
                lambda x: x.getField("cid"),
            ).alias("codes")
        )
    )
    qsv = _pq_subvectors(queries, query_id_col, query_vec_col, m_sub, sub_dim)
    lut = (
        qsv.join(F.broadcast(cents), "m")
        .select(
            F.col("id").alias("query_id"),
            (F.col("m") * k_code + F.col("cid")).alias("slot"),
            F.aggregate(
                F.zip_with(F.col("sq"), F.col("cq"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            ).alias("dot"),
        )
        .groupBy("query_id")
        .agg(
            # keyed MAP, not a positional array: a codebook cluster that
            # lost every member vanishes from cents, and positional
            # indexing would silently shift every later slot — map keys
            # stay correct under any surviving-centroid subset
            F.map_from_entries(F.collect_list(F.struct("slot", "dot"))).alias(
                "lut"
            )
        )
    )
    k_lit = F.lit(k_code)
    scored = (
        codes.crossJoin(F.broadcast(lut))
        .where(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            (
                F.aggregate(
                    F.zip_with(
                        F.col("codes"),
                        F.sequence(F.lit(0), F.lit(m_sub - 1)),
                        lambda c, m: F.element_at(
                            F.col("lut"), (m * k_lit + c).cast("int")
                        ),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, t: acc + t,
                ).cast("double")
                / (1_000_000.0 * 1_000_000.0)
            ).alias("score"),
        )
    )
    return _per_query_topk(scored, "score", k)
