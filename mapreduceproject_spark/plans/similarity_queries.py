"""Similarity-search suite over the embeddings table (BASELINE.json north
star).  Oracles replicate the exact algorithm — same quantized-integer
cosine, same deterministic tie-break (score DESC, id ASC) — so ranks match
bit-for-bit, not just approximately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceproject_spark.functions.vectors import (
    duck_quantize,
    duck_quantized_cosine,
    prequantized_cosine,
    quantize,
    quantized_norm2,
)
from mapreduceproject_spark.operators import similarity as sim
from mapreduceproject_spark.plans.registry import query
from mapreduceproject_spark.sources.catalog import load_table

# -- parameters pinned identically in Spark code and oracle SQL -------------
NUM_QUERIES = 8  # query set = vec_id < NUM_QUERIES (deterministic subset)
TOP_K = 5
IVF_CENTROIDS, NPROBE = 16, 4

_QUANT_CTE = f"""
    WITH v AS (
      SELECT vec_id AS id, label, {duck_quantize("CAST(embedding AS DOUBLE[])")} AS q
      FROM embeddings
    ),
    qs AS (SELECT id AS query_id, label AS qlabel, q AS qq FROM v WHERE id < {NUM_QUERIES})
"""


def _bruteforce_oracle() -> str:
    return f"""
    {_QUANT_CTE},
    scored AS (
      SELECT qs.query_id, v.id AS neighbor_id,
             {duck_quantized_cosine("qs.qq", "v.q")} AS cosine
      FROM qs, v WHERE v.id <> qs.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    """


@query("ann_bruteforce_topk", oracle=_bruteforce_oracle())
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{TOP_K} per query vector (queries = vec_id <
    {NUM_QUERIES}, broadcast against the corpus scan) — the ANN
    correctness baseline (operators/similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = sim.brute_force_topk(
        emb,
        emb.filter(F.col("vec_id") < NUM_QUERIES),
        "vec_id",
        "embedding",
        "vec_id",
        "embedding",
        k=TOP_K,
    )
    return out.withColumnRenamed("rank", "rnk")


def _ivf_oracle() -> str:
    return f"""
    {_QUANT_CTE},
    c AS (SELECT id AS cid, q AS cq FROM v WHERE id < {IVF_CENTROIDS}),
    cor AS (
      SELECT v.id, v.q, c.cid, {duck_quantized_cosine("v.q", "c.cq")} AS ccos
      FROM v, c
    ),
    cells AS (
      SELECT id, q, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cid) AS rn
        FROM cor) WHERE rn = 1
    ),
    qscore AS (
      SELECT qs.query_id, qs.qq, c.cid, {duck_quantized_cosine("qs.qq", "c.cq")} AS ccos
      FROM qs, c
    ),
    probes AS (
      SELECT query_id, qq, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, cid) AS rn
        FROM qscore) WHERE rn <= {NPROBE}
    ),
    cand AS (
      SELECT p.query_id, cl.id AS neighbor_id,
             {duck_quantized_cosine("p.qq", "cl.q")} AS cosine
      FROM probes p JOIN cells cl ON cl.cid = p.cid AND cl.id <> p.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM cand)
    WHERE rnk <= {TOP_K}
    """


@query("ann_ivf_topk", oracle=_ivf_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-{TOP_K}: {IVF_CENTROIDS} deterministic
    centroids, {NPROBE}-cell multi-probe — the ~C/nprobe-cheaper scale
    path whose recall is measured against ann_bruteforce_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = sim.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < NUM_QUERIES),
        "vec_id",
        "embedding",
        "vec_id",
        "embedding",
        num_centroids=IVF_CENTROIDS,
        nprobe=NPROBE,
        k=TOP_K,
    )
    return out.withColumnRenamed("rank", "rnk")


def _filtered_oracle() -> str:
    return f"""
    {_QUANT_CTE},
    scored AS (
      SELECT qs.query_id, v.id AS neighbor_id,
             {duck_quantized_cosine("qs.qq", "v.q")} AS cosine
      FROM qs JOIN v ON v.label = qs.qlabel AND v.id <> qs.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    """


@query("ann_filtered_topk", oracle=_filtered_oracle())
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered ANN: candidates must share the query's label
    (pre-filter semantics — the equi-join prunes before any scoring, the
    pattern for 'same language / same source only' retrieval)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < NUM_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qlabel"),
            quantize(F.col("embedding")).alias("_qq"),
        ).withColumn("_qn2", quantized_norm2(F.col("_qq")))
    )
    corpus = (
        emb.select(
            "vec_id", "label", quantize(F.col("embedding")).alias("_cq")
        )
        .withColumn("_cn2", quantized_norm2(F.col("_cq")))
        .persist()  # barrier: quantize once per vector, not per scored pair
    )
    scored = (
        corpus
        .join(q, (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            prequantized_cosine(
                F.col("_qq"), F.col("_cq"), F.col("_qn2"), F.col("_cn2")
            ).alias("cosine"),
        )
    )
    return sim._per_query_topk(scored, "cosine", TOP_K, rank_col="rnk")


# -- k-means clustering -----------------------------------------------------
# k="auto" (max(16, n/125) seed centroids from an in-plan corpus count,
# operators/similarity.py::resolve_centroid_filter) is the shipped
# default: cluster count scales with the corpus, so the per-cluster pair
# work downstream consumers do (semantic dedup) stays bounded — the
# fixed-k (n/k)² cliff SCALING.md measured.  The oracle computes the
# identical cutoff with a DuckDB scalar subquery.
KMEANS_K: int | str = "auto"
KMEANS_ITERS, EMB_DIM = 2, 64


def kmeans_cte_chain(with_cos: bool = False) -> str:
    """Unrolled Lloyd iterations as a CTE chain (generated, not
    hand-maintained): assignment by quantized cosine, exact-integer
    per-dimension means — replicates operators/clustering.py bit-for-bit.
    Returns the WITH-body text; the final assignment CTE is
    ``a{KMEANS_ITERS}`` with columns (id, q, cluster_id[, ccos]) —
    ``ccos`` (cosine to the assigned centroid) only when ``with_cos``,
    for consumers ranking within clusters (semantic dedup)."""
    from mapreduceproject_spark.functions.vectors import QUANT_SCALE
    from mapreduceproject_spark.operators.similarity import duck_auto_centroid_cut

    kcut = duck_auto_centroid_cut("qv") if KMEANS_K == "auto" else KMEANS_K
    parts = [
        f"""qv AS (
      SELECT vec_id AS id,
             {duck_quantize("CAST(embedding AS DOUBLE[])")} AS q
      FROM embeddings
    ),
    c0 AS (
      SELECT id AS cid, q AS cq FROM qv WHERE id < {kcut}
    )"""
    ]
    for i in range(KMEANS_ITERS + 1):
        final = i == KMEANS_ITERS and with_cos
        parts.append(
            f"""a{i} AS (
      SELECT id, q, cluster_id{', cos AS ccos' if final else ''} FROM (
        SELECT qv.id, qv.q, c.cid AS cluster_id,
               {duck_quantized_cosine("qv.q", "c.cq")} AS cos,
               row_number() OVER (
                 PARTITION BY qv.id
                 ORDER BY {duck_quantized_cosine("qv.q", "c.cq")} DESC, c.cid) AS rn
        FROM qv, c{i} AS c) WHERE rn = 1
    )"""
        )
        if i < KMEANS_ITERS:
            parts.append(
                f"""u{i} AS (
      SELECT cluster_id, d,
             CAST(SUM(q[d]) AS DOUBLE) / COUNT(*) / {QUANT_SCALE} AS m
      FROM a{i}, range(1, {EMB_DIM + 1}) t(d)
      GROUP BY 1, 2
    ),
    c{i + 1} AS (
      SELECT cluster_id AS cid,
             {duck_quantize(f"list(m ORDER BY d)")} AS cq
      FROM u{i} GROUP BY 1
    )"""
            )
    return ",\n    ".join(parts)


def _kmeans_oracle() -> str:
    return f"""
    WITH {kmeans_cte_chain()}
    SELECT id AS vec_id, cluster_id FROM a{KMEANS_ITERS}
    """


@query("kmeans_embeddings", oracle=_kmeans_oracle())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means over the embeddings (k="auto" =
    max(16, n/125) corpus-scaled clusters, {KMEANS_ITERS} Lloyd
    iterations, quantized-integer arithmetic) — the iterative-ML
    operator; per-iteration data motion is one k x dim centroid
    broadcast plus one partial+final aggregate, the corpus never moves
    (operators/clustering.py)."""
    from mapreduceproject_spark.operators.clustering import kmeans_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_quantized(
        spark, emb, "vec_id", "embedding", k=KMEANS_K, iterations=KMEANS_ITERS
    )


@query(
    "ann_ivf_recall",
    oracle=f"""
    SELECT CASE WHEN COUNT(*) > 0
                THEN CAST(COUNT(ivf.neighbor_id) AS DOUBLE) / COUNT(*)
                ELSE 0.0 END AS recall_at_k,
           COUNT(*) AS n_truth_pairs
    FROM ({_bruteforce_oracle()}) bf
    LEFT JOIN ({_ivf_oracle()}) ivf
      ON ivf.query_id = bf.query_id AND ivf.neighbor_id = bf.neighbor_id
    """,
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the IVF index against brute-force ground truth —
    the ANN quality gauge computed as one plan (left join truth→approx,
    hit ratio).  The number that decides num_centroids/nprobe tradeoffs
    before a corpus-scale rollout."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < NUM_QUERIES)
    truth = sim.brute_force_topk(
        emb, queries_df, "vec_id", "embedding", "vec_id", "embedding", k=TOP_K
    ).select("query_id", "neighbor_id")
    approx = sim.ivf_topk(
        emb,
        queries_df,
        "vec_id",
        "embedding",
        "vec_id",
        "embedding",
        num_centroids=IVF_CENTROIDS,
        nprobe=NPROBE,
        k=TOP_K,
    ).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    joined = truth.join(
        approx,
        (F.col("query_id") == F.col("aq")) & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    return joined.agg(
        F.when(
            F.count("*") > 0, F.count("an").cast("double") / F.count("*")
        )
        .otherwise(F.lit(0.0))
        .alias("recall_at_k"),
        F.count("*").alias("n_truth_pairs"),
    )


# -- random-hyperplane LSH --------------------------------------------------
LSH_BITS = 8
# The recall-gauge configuration (ann_lsh_recall) — the shipped
# similarity-search default, chosen by the round-5 sweep (SCALING.md):
# 6 bits x 6 tables x depth-1 probes measured recall 0.72@5 at ~2/3
# expected candidate fraction on the near-orthogonal synthetic fixture
# (8 bits x 4 tables: 0.36; configurations pushing past ~0.85 scanned
# MORE than brute force — on this data high recall is intrinsically
# near-linear, and real clustered embeddings sit well above these
# numbers at the same knobs).
LSH_RECALL_BITS, LSH_TABLES, LSH_PROBE_BITS = 6, 6, 1


def _sig_sql(q: str, planes: list[list[int]]) -> str:
    terms = []
    for j, plane in enumerate(planes):
        lits = "[" + ", ".join(str(w) for w in plane) + "]"
        dot = (
            f"list_aggregate(list_transform(range(1, 65), "
            f"i -> ({q})[i] * ({lits})[i]), 'sum')"
        )
        terms.append(f"CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END")
    return " + ".join(terms)


def _hyperplane_table_ctes(
    t: int, bits: int = LSH_BITS, probe_bits: int = 1
) -> str:
    """sigs/probes/cand CTE block for LSH table ``t`` (suffix = t)."""
    planes = sim.hyperplane_coeffs(bits, 64, table=t)
    masks = (
        "["
        + ", ".join(str(m) for m in sim.probe_masks(bits, probe_bits))
        + "]"
    )
    return f"""sigs{t} AS (SELECT id, q, {_sig_sql("q", planes)} AS sig FROM v),
    qsig{t} AS (SELECT query_id, qq, {_sig_sql("qq", planes)} AS sig FROM qs),
    probes{t} AS (
      SELECT query_id, qq, xor(sig, m) AS bucket
      FROM qsig{t}, (SELECT unnest({masks}) AS m)
    ),
    cand{t} AS (
      SELECT p.query_id, s.id AS neighbor_id,
             {duck_quantized_cosine("p.qq", "s.q")} AS cosine
      FROM probes{t} p JOIN sigs{t} s ON s.sig = p.bucket AND s.id <> p.query_id
    )"""


def _hyperplane_oracle() -> str:
    return f"""
    {_QUANT_CTE},
    {_hyperplane_table_ctes(0)}
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM cand0)
    WHERE rnk <= {TOP_K}
    """


def _hyperplane_multi_oracle() -> str:
    tables = ",\n    ".join(
        _hyperplane_table_ctes(t, LSH_RECALL_BITS, LSH_PROBE_BITS)
        for t in range(LSH_TABLES)
    )
    union = " UNION ALL ".join(
        f"SELECT * FROM cand{t}" for t in range(LSH_TABLES)
    )
    return f"""
    {_QUANT_CTE},
    {tables},
    cand AS (
      SELECT query_id, neighbor_id, MAX(cosine) AS cosine
      FROM ({union}) GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM cand)
    WHERE rnk <= {TOP_K}
    """


@query("ann_hyperplane_topk", oracle=_hyperplane_oracle())
def ann_hyperplane_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH top-{TOP_K}: {LSH_BITS}-bit integer-LCG
    sign signatures, 1-bit-flip multi-probe, exact quantized-cosine
    rerank on co-bucketed candidates — the centroid-free ANN scale path
    alongside IVF (operators/similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = sim.hyperplane_lsh_topk(
        emb,
        emb.filter(F.col("vec_id") < NUM_QUERIES),
        "vec_id",
        "embedding",
        "vec_id",
        "embedding",
        num_bits=LSH_BITS,
        dim=64,
        k=TOP_K,
    )
    return out.withColumnRenamed("rank", "rnk")


@query(
    "ann_lsh_recall",
    oracle=f"""
    SELECT CASE WHEN COUNT(*) > 0
                THEN CAST(COUNT(lsh.neighbor_id) AS DOUBLE) / COUNT(*)
                ELSE 0.0 END AS recall_at_k,
           COUNT(*) AS n_truth_pairs
    FROM ({_bruteforce_oracle()}) bf
    LEFT JOIN ({_hyperplane_multi_oracle()}) lsh
      ON lsh.query_id = bf.query_id AND lsh.neighbor_id = bf.neighbor_id
    """,
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the shipped LSH similarity-search default
    ({LSH_RECALL_BITS} bits × {LSH_TABLES} tables × depth-{LSH_PROBE_BITS}
    probes — the round-5 sweep's pick, measured 0.72@5 on the fixture vs
    0.36 for the old 8-bit/4-table config; SCALING.md holds the full
    sweep table) against brute-force ground truth.  The LSH twin of
    ann_ivf_recall: left join truth→approx, hit ratio."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < NUM_QUERIES)
    truth = sim.brute_force_topk(
        emb, queries_df, "vec_id", "embedding", "vec_id", "embedding", k=TOP_K
    ).select("query_id", "neighbor_id")
    approx = sim.hyperplane_lsh_topk(
        emb,
        queries_df,
        "vec_id",
        "embedding",
        "vec_id",
        "embedding",
        num_bits=LSH_RECALL_BITS,
        dim=64,
        k=TOP_K,
        num_tables=LSH_TABLES,
        probe_bits=LSH_PROBE_BITS,
    ).select(F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an"))
    joined = truth.join(
        approx,
        (F.col("query_id") == F.col("aq")) & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    return joined.agg(
        F.when(
            F.count("*") > 0, F.count("an").cast("double") / F.count("*")
        )
        .otherwise(F.lit(0.0))
        .alias("recall_at_k"),
        F.count("*").alias("n_truth_pairs"),
    )


# -- PageRank over the IVF-cell kNN graph -----------------------------------
PR_K, PR_ITERS, PR_DAMP = 4, 2, 0.85
from mapreduceproject_spark.operators.graph import PR_SCALE as SCALE  # noqa: E402


def _knn_edges_ctes(k: int) -> str:
    """CTE block deriving the same kNN edge list as knn_edges_ivf:
    cell assignment (max quantized cosine, lowest-cid ties), within-cell
    pairs, top-k by (cosine DESC, dst).  Shared verbatim by the PageRank,
    triangle-census and degree-histogram oracles so the graph they verify
    is provably the same one.  Centroid count is the corpus-scaled "auto"
    cutoff (max(16, n/125)) matching the Spark queries' default."""
    from mapreduceproject_spark.operators.similarity import duck_auto_centroid_cut

    return f"""c AS (SELECT id AS cid, q AS cq FROM v WHERE id < {duck_auto_centroid_cut("v")}),
    cor AS (
      SELECT v.id, v.q, c.cid, {duck_quantized_cosine("v.q", "c.cq")} AS ccos
      FROM v, c
    ),
    cells AS (
      SELECT id, q, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cid) AS rn
        FROM cor) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.id AS src, b.id AS dst,
             {duck_quantized_cosine("a.q", "b.q")} AS cosine
      FROM cells a JOIN cells b ON a.cid = b.cid AND a.id <> b.id
    ),
    edges AS (
      SELECT src, dst FROM (
        SELECT *, row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rn
        FROM pairs) WHERE rn <= {k}
    )"""


def _pagerank_oracle() -> str:
    parts = [
        f"""{_knn_edges_ctes(PR_K)},
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM v),
    p0 AS (SELECT id AS vid, {SCALE} // nn AS p FROM v, n)"""
    ]
    # fixed-point integer recurrence (operators/graph.py): order-independent
    # integer sums, bit-identical across engines
    d_num = int(round(PR_DAMP * 100))
    for i in range(PR_ITERS):
        parts.append(
            f"""inf{i} AS (
      SELECT e.dst AS vid,
             CAST(SUM(({d_num} * p.p) // (100 * d.deg)) AS BIGINT) AS inflow
      FROM edges e JOIN deg d USING (src) JOIN p{i} p ON p.vid = e.src
      GROUP BY 1
    ),
    p{i + 1} AS (
      SELECT b.vid,
             ({100 - d_num} * {SCALE}) // (100 * nn) + COALESCE(i.inflow, 0) AS p
      FROM (SELECT vid FROM p{i}) b LEFT JOIN inf{i} i USING (vid), n
    )"""
        )
    body = ",\n    ".join(parts)
    return f"""
    {_QUANT_CTE},
    {body}
    SELECT vid AS vec_id, CAST(p AS DOUBLE) / {float(SCALE)} AS pr FROM p{PR_ITERS}
    """


@query("pagerank_knn", oracle=_pagerank_oracle())
def pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({PR_ITERS} unrolled iterations, d={PR_DAMP}) over the
    top-{PR_K} cosine kNN graph built from same-IVF-cell pairs — corpus
    centrality for curation weighting; edge generation is cell-bounded
    (never corpus²) and each iteration is one src-join + one dst-groupBy
    (operators/graph.py).  Dangling-node mass deliberately leaks (no
    global redistribution barrier); documented in the operator."""
    from mapreduceproject_spark.operators.graph import knn_edges_ivf, pagerank

    emb = load_table(spark, sf_dir, "embeddings")
    edges = knn_edges_ivf(
        emb, "vec_id", "embedding", num_centroids="auto", k=PR_K
    )
    return pagerank(emb, edges, "vec_id", iterations=PR_ITERS, damping=PR_DAMP)


# -- triangle census + degree distribution over the same graph ---------------
_UND_DEG_CTES = """und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst
    ),
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
      FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
      GROUP BY 1
    )"""


def _triangle_oracle() -> str:
    return f"""
    {_QUANT_CTE},
    {_knn_edges_ctes(PR_K)},
    {_UND_DEG_CTES},
    ds AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
      FROM deg
    ),
    ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM und),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM und e1
      JOIN und e2 ON e1.b = e2.a
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0
                THEN CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
                ELSE 0.0 END AS global_clustering
    FROM ds, ec, tri
    """


@query("knn_triangle_census", oracle=_triangle_oracle())
def knn_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count and global clustering coefficient of the kNN cosine
    graph — the transitivity gauge that separates genuine semantic
    neighborhoods (high closure) from LSH/IVF bucketing noise (low).
    Canonical a<b<c edge ordering counts each triangle exactly once with
    two joins and no /3 pass; wedge work is bounded by k² per node
    (operators/graph.py triangle_census)."""
    from mapreduceproject_spark.operators.graph import knn_edges_ivf, triangle_census

    emb = load_table(spark, sf_dir, "embeddings")
    edges = knn_edges_ivf(
        emb, "vec_id", "embedding", num_centroids="auto", k=PR_K
    )
    return triangle_census(edges)


def _degree_hist_oracle() -> str:
    return f"""
    {_QUANT_CTE},
    {_knn_edges_ctes(PR_K)},
    {_UND_DEG_CTES}
    SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg GROUP BY 1
    """


@query("knn_degree_hist", oracle=_degree_hist_oracle())
def knn_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected degree distribution of the kNN cosine graph — the
    first sanity plot of a similarity graph (spikes betray duplicate
    clusters, heavy tails betray hub vectors that need skew handling in
    any per-node join downstream).  Two vocabulary-sized shuffles
    (operators/graph.py degree_histogram)."""
    from mapreduceproject_spark.operators.graph import degree_histogram, knn_edges_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    edges = knn_edges_ivf(
        emb, "vec_id", "embedding", num_centroids="auto", k=PR_K
    )
    return degree_histogram(edges)


# -- SQ8: scalar-quantized candidate scan + exact rerank --------------------
# (EMB_DIM shared with the k-means tier above — one source of truth)
SQ8_RERANK = 4


def _sq8_oracle() -> str:
    dim = EMB_DIM
    idx = "CAST(i AS INT)"
    return f"""
    WITH v AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e,
             {duck_quantize("CAST(embedding AS DOUBLE[])")} AS q
      FROM embeddings
    ),
    stats AS (
      SELECT list(mn ORDER BY d) AS mins, list(mx ORDER BY d) AS maxs
      FROM (SELECT d, MIN(x) AS mn, MAX(x) AS mx
            FROM (SELECT unnest(e) AS x, unnest(range(1, {dim} + 1)) AS d FROM v)
            GROUP BY d)
    ),
    coded AS (
      SELECT id, q,
             list_transform(range(1, {dim} + 1), i ->
               CASE WHEN maxs[{idx}] - mins[{idx}] > 0
                    THEN CAST(least(greatest(floor((e[{idx}] - mins[{idx}]) / (maxs[{idx}] - mins[{idx}]) * 255), 0), 255) AS BIGINT)
                    ELSE 0 END) AS c
      FROM v, stats
    ),
    qs AS (SELECT id AS query_id, q AS qq, c AS qc FROM coded WHERE id < {NUM_QUERIES}),
    cand AS (
      SELECT query_id, qq, id AS neighbor_id, q,
             CAST(list_aggregate(list_transform(range(1, {dim} + 1), i -> qc[{idx}] * c[{idx}]), 'sum') AS BIGINT) AS adot
      FROM qs, coded WHERE id <> query_id
    ),
    top AS (
      SELECT query_id, qq, neighbor_id, q
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adot DESC, neighbor_id) AS rn
            FROM cand)
      WHERE rn <= {SQ8_RERANK * TOP_K}
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT query_id, neighbor_id,
                 {duck_quantized_cosine("qq", "q")} AS cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY {duck_quantized_cosine("qq", "q")} DESC, neighbor_id) AS rnk
          FROM top)
    WHERE rnk <= {TOP_K}
    """


@query("ann_sq8_rerank_topk", oracle=_sq8_oracle())
def ann_sq8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 ANN: byte codes against per-dim corpus min/max, integer-dot
    candidate ranking, exact quantized-cosine rerank of the top
    {SQ8_RERANK}·{TOP_K} — the 4× index-memory reduction path for a
    100 TB vector corpus (operators/similarity.py::sq8_rerank_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.sq8_rerank_topk(
        emb,
        emb.filter(F.col("vec_id") < NUM_QUERIES),
        "vec_id",
        "embedding",
        "vec_id",
        "embedding",
        dim=EMB_DIM,
        k=TOP_K,
        rerank_factor=SQ8_RERANK,
    )


# -- per-label centroid similarity map (round 4) ------------------------------


def _centroid_sim_oracle() -> str:
    dot = (
        "list_aggregate(list_transform(range(1, len(ca)+1), "
        "i -> ca[i] * cb[i]), 'sum')"
    )
    na = "list_aggregate(list_transform(ca, x -> x * x), 'sum')"
    nb = "list_aggregate(list_transform(cb, x -> x * x), 'sum')"
    return f"""
    WITH e AS (SELECT label, {duck_quantize("CAST(embedding AS DOUBLE[])")} AS q
               FROM embeddings),
    d AS (
      SELECT label, CAST(i AS BIGINT) - 1 AS dim, q[i] AS v
      FROM (SELECT label, q, unnest(range(1, len(q) + 1)) AS i FROM e)
    ),
    cent AS (
      SELECT label, dim,
             CAST(SUM(v) AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS mu
      FROM d GROUP BY label, dim
    ),
    arr AS (SELECT label, list(mu ORDER BY dim) AS c FROM cent GROUP BY label)
    SELECT a.label AS label_a, b.label AS label_b,
           {dot} / NULLIF(sqrt({na}) * sqrt({nb}), 0) AS cosine
    FROM (SELECT label, c AS ca FROM arr) a
    JOIN (SELECT label, c AS cb FROM arr) b ON a.label < b.label
    """


@query("label_centroid_similarity", oracle=_centroid_sim_oracle())
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids — the
    cluster/source similarity map that tells a curation pipeline which
    slices are near-redundant (merge candidates) vs complementary
    (diversity).  Exact-integer per-(label, dim) sums make the centroids
    bit-identical across engines; the pairwise stage is |labels|²-sized
    (a broadcast self-join over a frame that has already collapsed from
    corpus-size to label-count)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode(quantize(F.col("embedding"))).alias("dim", "v")
    )
    cent = dims.groupBy("label", "dim").agg(
        (F.sum("v") / F.count("*")).alias("mu")
    )
    arr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mu"))), lambda x: x["mu"]
        ).alias("c")
    )
    a = arr.select(F.col("label").alias("label_a"), F.col("c").alias("ca"))
    b = arr.select(F.col("label").alias("label_b"), F.col("c").alias("cb"))
    dot = F.aggregate(
        F.zip_with("ca", "cb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.aggregate(F.col("ca"), F.lit(0.0), lambda acc, x: acc + x * x)
    nb = F.aggregate(F.col("cb"), F.lit(0.0), lambda acc, x: acc + x * x)
    return a.join(F.broadcast(b), F.col("label_a") < F.col("label_b")).select(
        "label_a",
        "label_b",
        # nullif: an all-zero-centroid label (only zero vectors) has no
        # direction — NULL cosine on both engines, never an ANSI abort
        (dot / F.nullif(F.sqrt(na) * F.sqrt(nb), F.lit(0.0))).alias("cosine"),
    )


# -- contrastive hard-negative mining (round 4) -------------------------------


def _hard_negative_oracle() -> str:
    return f"""
    {_QUANT_CTE},
    scored AS (
      SELECT qs.query_id, qs.qlabel, v.id AS neighbor_id, v.label AS nlabel,
             {duck_quantized_cosine("qs.qq", "v.q")} AS cosine
      FROM qs, v WHERE v.label <> qs.qlabel AND v.id <> qs.query_id
    )
    SELECT query_id, qlabel, neighbor_id, nlabel, cosine, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    """


@query("ann_hard_negatives", oracle=_hard_negative_oracle())
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} most-similar OTHER-label vectors per query — the
    contrastive hard negatives a metric-learning / embedding-training
    pipeline mines for its loss (close in vector space, apart in label
    space; the complement of ann_filtered_topk's same-label constraint).
    Queries broadcast against the corpus scan; the label-mismatch
    predicate prunes before the per-query top-k window, so only Q·k rows
    shuffle (operators/similarity.py hard_negative_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = sim.hard_negative_topk(
        emb,
        emb.filter(F.col("vec_id") < NUM_QUERIES),
        "vec_id",
        "embedding",
        "label",
        "vec_id",
        "embedding",
        "label",
        k=TOP_K,
    )
    return out.withColumnRenamed("rank", "rnk")


# -- hybrid lexical+dense retrieval, RRF fusion (round 4) ---------------------
# Query documents are doc_id < RRF_QUERIES; the fixtures pin doc_id ≡ vec_id
# (both 0..n-1, TESTDATA.md), so the dense twin of a query document is the
# embedding with the same id.  RRF_C = 60 is the standard reciprocal-rank-
# fusion constant (Cormack et al.); candidates = top-RRF_CAND from each
# ranker, fused top-RRF_TOP reported.
RRF_QUERIES, RRF_CAND, RRF_C, RRF_TOP = 8, 20, 60, 10


def _rrf_oracle() -> str:
    from mapreduceproject_spark.functions.textfn import duck_tokens

    toks = f"list_distinct({duck_tokens('lower(text)')})"
    return f"""
    WITH d AS (SELECT doc_id, {toks} AS toks FROM documents),
    q AS (SELECT doc_id AS query_id, toks AS qtoks FROM d WHERE doc_id < {RRF_QUERIES}),
    qt AS (SELECT query_id, unnest(qtoks) AS tok FROM q),
    dt AS (SELECT doc_id, unnest(toks) AS tok FROM d),
    ov AS (
      SELECT qt.query_id, dt.doc_id, count(*) AS ov
      FROM qt JOIN dt USING (tok) WHERE dt.doc_id <> qt.query_id
      GROUP BY qt.query_id, dt.doc_id
    ),
    lex AS (
      SELECT query_id, doc_id, row_number() OVER (
               PARTITION BY query_id ORDER BY jac DESC, doc_id) AS lex_rnk
      FROM (SELECT ov.query_id, ov.doc_id,
                   CAST(ov.ov AS DOUBLE) / (len(q.qtoks) + len(d2.toks) - ov.ov) AS jac
            FROM ov
            JOIN q ON q.query_id = ov.query_id
            JOIN d d2 ON d2.doc_id = ov.doc_id)
      QUALIFY lex_rnk <= {RRF_CAND}
    ),
    v AS (SELECT vec_id AS id, {duck_quantize("CAST(embedding AS DOUBLE[])")} AS vq
          FROM embeddings),
    qv AS (SELECT id AS query_id, vq AS qq FROM v WHERE id < {RRF_QUERIES}),
    den AS (
      SELECT query_id, id AS doc_id, row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, id) AS den_rnk
      FROM (SELECT qv.query_id, v.id, {duck_quantized_cosine("qv.qq", "v.vq")} AS cosine
            FROM qv, v WHERE v.id <> qv.query_id)
      QUALIFY den_rnk <= {RRF_CAND}
    ),
    fused AS (
      SELECT coalesce(lex.query_id, den.query_id) AS query_id,
             coalesce(lex.doc_id, den.doc_id) AS doc_id,
             coalesce(lex_rnk, 0) AS lex_rnk,
             coalesce(den_rnk, 0) AS den_rnk,
             (CASE WHEN lex_rnk IS NULL THEN 0.0
                   ELSE 1.0 / ({RRF_C} + lex_rnk) END
              + CASE WHEN den_rnk IS NULL THEN 0.0
                     ELSE 1.0 / ({RRF_C} + den_rnk) END) AS rrf_score
      FROM lex FULL OUTER JOIN den
        ON lex.query_id = den.query_id AND lex.doc_id = den.doc_id
    )
    SELECT query_id, doc_id, CAST(lex_rnk AS BIGINT) AS lex_rnk,
           CAST(den_rnk AS BIGINT) AS den_rnk, rrf_score, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rnk
          FROM fused)
    WHERE rnk <= {RRF_TOP}
    """


@query("hybrid_rrf_retrieval", oracle=_rrf_oracle())
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: token-set Jaccard (lexical) and quantized cosine
    (dense) rankers fused by reciprocal-rank fusion, top-{RRF_TOP} per
    query document — the two-tower + BM25-style ensemble a curation
    pipeline uses to mine eval-adjacent or topically-linked documents
    that either ranker alone misses.

    Scale shape: the query token sets and query vectors broadcast (Q
    rows); each ranker is one corpus scan + a per-query top-{RRF_CAND}
    window over filtered candidates; the fusion join is Q·{RRF_CAND}
    rows a side — driver-free and linear in the corpus.  At 100 TB the
    lexical scan swaps its broadcast-intersect for the inverted-index
    (explode + token join) form and the dense scan for IVF probing;
    ranks 0 mean "absent from that ranker's candidate list"."""
    from mapreduceproject_spark.functions.textfn import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.array_distinct(tokens(F.lower(F.col("text")))).alias("toks")
    )
    q = F.broadcast(
        toks.filter(F.col("doc_id") < RRF_QUERIES).select(
            F.col("doc_id").alias("query_id"), F.col("toks").alias("qtoks")
        )
    )
    ov = (
        toks.crossJoin(q)
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            F.size(F.array_intersect("toks", "qtoks")).alias("ov"),
            F.size("qtoks").alias("qsz"),
            F.size("toks").alias("dsz"),
        )
        .filter(F.col("ov") > 0)
        .withColumn(
            "jac",
            F.col("ov").cast("double")
            / (F.col("qsz") + F.col("dsz") - F.col("ov")),
        )
    )
    wl = Window.partitionBy("query_id").orderBy(F.desc("jac"), F.asc("doc_id"))
    lex = (
        ov.withColumn("lex_rnk", F.row_number().over(wl))
        .filter(F.col("lex_rnk") <= RRF_CAND)
        .select("query_id", "doc_id", "lex_rnk")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    den = sim.brute_force_topk(
        emb,
        emb.filter(F.col("vec_id") < RRF_QUERIES),
        "vec_id",
        "embedding",
        "vec_id",
        "embedding",
        k=RRF_CAND,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("den_rnk"),
    )
    contrib = lambda c: F.when(  # noqa: E731 — tiny local expression builder
        F.col(c).isNull(), F.lit(0.0)
    ).otherwise(F.lit(1.0) / (F.lit(RRF_C) + F.col(c)))
    fused = (
        lex.join(den, ["query_id", "doc_id"], "full_outer")
        .withColumn("rrf_score", contrib("lex_rnk") + contrib("den_rnk"))
        .select(
            "query_id",
            "doc_id",
            F.coalesce("lex_rnk", F.lit(0)).cast("long").alias("lex_rnk"),
            F.coalesce("den_rnk", F.lit(0)).cast("long").alias("den_rnk"),
            "rrf_score",
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= RRF_TOP)
        .select(
            "query_id", "doc_id", "lex_rnk", "den_rnk", "rrf_score",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# -- bounded BFS reachability over the kNN graph (round 4) --------------------
BFS_SEEDS, BFS_HOPS = 3, 4


def _bfs_oracle() -> str:
    parts = [
        f"""r0 AS (
      SELECT id AS seed, id AS vid, CAST(0 AS BIGINT) AS dist
      FROM v WHERE id < {BFS_SEEDS}
    )"""
    ]
    for hop in range(1, BFS_HOPS + 1):
        parts.append(
            f"""r{hop} AS (
      SELECT seed, vid, CAST(MIN(dist) AS BIGINT) AS dist FROM (
        SELECT seed, vid, dist FROM r{hop - 1}
        UNION ALL
        SELECT r.seed, e.dst AS vid, r.dist + 1 AS dist
        FROM r{hop - 1} r JOIN edges e ON e.src = r.vid
        WHERE r.dist = {hop - 1}
      ) GROUP BY seed, vid
    )"""
        )
    body = ",\n    ".join(parts)
    return f"""
    {_QUANT_CTE},
    {_knn_edges_ctes(PR_K)},
    {body}
    SELECT seed, vid AS vec_id, dist FROM r{BFS_HOPS}
    """


@query("knn_bfs_reach", oracle=_bfs_oracle())
def knn_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (≤ {BFS_HOPS}) from {BFS_SEEDS} seed vectors
    over the same IVF-cell-bounded kNN graph PageRank ranks — the
    neighborhood-expansion primitive behind "find everything within N
    hops of these exemplars" (seed-based corpus exploration, influence
    radius, contamination blast-radius checks).  Level-synchronous BFS:
    per hop one frontier×edges join + one anti-join, frontier ≤
    seeds·k^hop with the graph's fixed fan-out k={PR_K}
    (operators/graph.py bfs_hops); the oracle unrolls the same recurrence
    as min-dist CTEs."""
    from mapreduceproject_spark.operators.graph import bfs_hops, knn_edges_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    edges = knn_edges_ivf(emb, "vec_id", "embedding", num_centroids="auto", k=PR_K)
    seeds = emb.select("vec_id").filter(F.col("vec_id") < BFS_SEEDS)
    out = bfs_hops(edges, seeds, "vec_id", max_hops=BFS_HOPS)
    return out.select("seed", F.col("vid").alias("vec_id"), "dist")


# -- product quantization (round 9) -------------------------------------------
# The compressed ANN tier completing brute/LSH/IVF/SQ8: corpus vectors
# become PQ_M codebook codes (PQ_M·log2(PQ_K) bits = 4 B/vector at 8×16
# vs 256 B raw — the memory cut that makes billion-vector search fit
# executor RAM), queries score by summing PQ_M LUT entries (asymmetric
# distance computation, Jégou et al. PAMI'11).  The oracle unrolls the
# per-subspace Lloyd trainings as one (m, cid)-keyed CTE chain — the
# kmeans_cte_chain pattern with a subspace dimension.
PQ_M, PQ_K, PQ_ITERS = 8, 16, 2


def _pq_cte_chain() -> str:
    from mapreduceproject_spark.functions.vectors import QUANT_SCALE

    sd = EMB_DIM // PQ_M

    def l2(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(range(1, {sd + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
        )

    parts = [
        f"""qv AS (
      SELECT vec_id AS id,
             {duck_quantize("CAST(embedding AS DOUBLE[])")} AS q
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
    ),
    sv AS (
      SELECT id, m, list_slice(q, m * {sd} + 1, (m + 1) * {sd}) AS sq
      FROM qv, range(0, {PQ_M}) t(m)
    ),
    c0 AS (
      SELECT m, id AS cid, sq AS cq FROM sv WHERE id < {PQ_K}
    )"""
    ]
    for i in range(PQ_ITERS + 1):
        parts.append(
            f"""a{i} AS (
      SELECT id, m, sq, cid FROM (
        SELECT sv.id, sv.m, sv.sq, c.cid,
               row_number() OVER (
                 PARTITION BY sv.id, sv.m
                 ORDER BY {l2("sv.sq", "c.cq")} ASC, c.cid ASC) AS rn
        FROM sv JOIN c{i} AS c ON sv.m = c.m) WHERE rn = 1
    )"""
        )
        if i < PQ_ITERS:
            parts.append(
                f"""u{i} AS (
      SELECT m, cid, d,
             CAST(SUM(sq[d]) AS DOUBLE) / COUNT(*) / {QUANT_SCALE} AS mean
      FROM a{i}, range(1, {sd + 1}) t(d)
      GROUP BY 1, 2, 3
    ),
    c{i + 1} AS (
      SELECT m, cid,
             list(CAST(floor(mean * {QUANT_SCALE}) AS BIGINT) ORDER BY d) AS cq
      FROM u{i} GROUP BY 1, 2
    )"""
            )
    parts.append(
        f"""lut AS (
      SELECT sv.id AS qid, sv.m, c.cid,
             list_aggregate(list_transform(range(1, {sd + 1}),
                            i -> sv.sq[i] * c.cq[i]), 'sum') AS dot
      FROM sv JOIN c{PQ_ITERS} AS c ON sv.m = c.m
      WHERE sv.id < {NUM_QUERIES}
    ),
    sc AS (
      SELECT l.qid AS query_id, a.id AS neighbor_id, SUM(dot) AS s
      FROM a{PQ_ITERS} AS a JOIN lut l ON l.m = a.m AND l.cid = a.cid
      WHERE a.id != l.qid GROUP BY 1, 2
    )"""
    )
    return ",\n    ".join(parts)


def _pq_oracle() -> str:
    from mapreduceproject_spark.functions.vectors import QUANT_SCALE

    return f"""
    WITH {_pq_cte_chain()}
    SELECT query_id, neighbor_id,
           CAST(s AS DOUBLE) / ({QUANT_SCALE}.0 * {QUANT_SCALE}.0) AS score,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
          FROM sc)
    WHERE rn <= {TOP_K}
    """


@query("ann_pq_topk", oracle=_pq_oracle())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: per-subspace codebooks ({PQ_M}×{PQ_K},
    {PQ_ITERS} Lloyd iterations), corpus compressed to {PQ_M} codes per
    vector, queries scored by asymmetric LUT sums — see
    operators/similarity.py::pq_topk for the broadcast/zero-shuffle
    scoring shape and the compression arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.pq_topk(
        emb,
        emb.filter(F.col("vec_id") < NUM_QUERIES),
        "vec_id",
        "embedding",
        "vec_id",
        "embedding",
        dim=EMB_DIM,
        m_sub=PQ_M,
        k_code=PQ_K,
        iterations=PQ_ITERS,
        k=TOP_K,
    )


@query(
    "ann_pq_recall",
    oracle=f"""
    SELECT CASE WHEN COUNT(*) > 0
                THEN CAST(COUNT(pq.neighbor_id) AS DOUBLE) / COUNT(*)
                ELSE 0.0 END AS recall_at_k,
           COUNT(*) AS n_truth_pairs
    FROM ({_bruteforce_oracle()}) bf
    LEFT JOIN ({_pq_oracle()}) pq
      ON pq.query_id = bf.query_id AND pq.neighbor_id = bf.neighbor_id
    """,
)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of PQ-ADC against brute-force ground truth — the
    quality gauge every approximate operator ships (the ann_ivf_recall
    contract): the number that decides PQ_M/PQ_K before trading exact
    vectors for 4-byte codes at corpus scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < NUM_QUERIES)
    truth = sim.brute_force_topk(
        emb, queries_df, "vec_id", "embedding", "vec_id", "embedding", k=TOP_K
    ).select("query_id", "neighbor_id")
    approx = sim.pq_topk(
        emb,
        queries_df,
        "vec_id",
        "embedding",
        "vec_id",
        "embedding",
        dim=EMB_DIM,
        m_sub=PQ_M,
        k_code=PQ_K,
        iterations=PQ_ITERS,
        k=TOP_K,
    ).select(F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an"))
    joined = truth.join(
        approx,
        (F.col("query_id") == F.col("aq")) & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    return joined.agg(
        F.when(
            F.count("*") > 0, F.count("an").cast("double") / F.count("*")
        )
        .otherwise(F.lit(0.0))
        .alias("recall_at_k"),
        F.count("*").alias("n_truth_pairs"),
    )


# -- label-propagation communities over the kNN graph (round 9) ---------------
# The density-respecting complement to dedup_clusters' connected
# components: a thin bridge between two dense embedding neighborhoods
# does not merge them.  Fixed synchronous rounds + deterministic ties
# (most votes, then lowest community id) — the unrolled-iteration
# contract pagerank/BFS established, so the oracle replays the exact
# recurrence.
LPA_ROUNDS = 3


def _lpa_cte_body() -> str:
    # MATERIALIZED is load-bearing: each round references l{i} twice
    # (vote join + self-vote union) and DuckDB inlines plain CTEs, so the
    # edge pipeline would re-evaluate ~2^rounds times — measured 4.5 s ->
    # 0.2 s at sf0.001 from this one keyword
    parts = [
        f"""{_knn_edges_ctes(PR_K)},
    und AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges)
    ),
    l0 AS MATERIALIZED (SELECT id AS vid, CAST(id AS BIGINT) AS community FROM v)"""
    ]
    for i in range(LPA_ROUNDS):
        parts.append(
            f"""t{i} AS MATERIALIZED (
      SELECT vid, community, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT u.dst AS vid, l.community
        FROM und u JOIN l{i} l ON l.vid = u.src
        UNION ALL
        SELECT vid, community FROM l{i}) GROUP BY 1, 2
    ),
    b{i} AS MATERIALIZED (
      SELECT vid, community AS new_community FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vid ORDER BY n DESC, community) AS rn
        FROM t{i}) WHERE rn = 1
    ),
    l{i + 1} AS MATERIALIZED (
      SELECT l.vid, COALESCE(b.new_community, l.community) AS community
      FROM l{i} l LEFT JOIN b{i} b USING (vid)
    )"""
        )
    return ",\n    ".join(parts)


def _lpa_oracle() -> str:
    return f"""
    {_QUANT_CTE},
    {_lpa_cte_body()}
    SELECT vid AS vec_id, community FROM l{LPA_ROUNDS}
    """


def _modularity_oracle() -> str:
    # the exact-integer modularity formula community_modularity
    # documents: Q = (W·M2 − Σdeg_c²)/M2² in the doubled representation,
    # HUGEINT products (DuckDB's decimal(38,0)-class integer), one
    # double conversion of the exact numerator, two double divisions —
    # token-matched to the Spark expression tree
    final = f"l{LPA_ROUNDS}"
    return f"""
    {_QUANT_CTE},
    {_lpa_cte_body()},
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1),
    dcsq AS (
      SELECT CAST(SUM(CAST(dc AS HUGEINT) * CAST(dc AS HUGEINT)) AS HUGEINT)
               AS sumd2
      FROM (SELECT l.community, CAST(SUM(deg.d) AS HUGEINT) AS dc
            FROM deg JOIN {final} l ON l.vid = deg.src GROUP BY 1)
    ),
    w AS (
      SELECT CAST(SUM(CASE WHEN a.community = b.community THEN 1 ELSE 0 END)
                  AS BIGINT) AS within_und
      FROM und u
      JOIN {final} a ON a.vid = u.src
      JOIN {final} b ON b.vid = u.dst
    ),
    m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges_und FROM und),
    ns AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
             CAST(COUNT(DISTINCT community) AS BIGINT) AS n_communities
      FROM {final}
    )
    SELECT n_vertices, n_communities, n_edges_und,
           CASE WHEN n_edges_und > 0
                THEN CAST(CAST(within_und AS HUGEINT) * n_edges_und - sumd2
                          AS DOUBLE)
                     / CAST(n_edges_und AS DOUBLE)
                     / CAST(n_edges_und AS DOUBLE)
                ELSE 0.0 END AS modularity
    FROM ns, m2, w, dcsq
    """


@query("knn_label_communities", oracle=_lpa_oracle())
def knn_label_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities ({LPA_ROUNDS} synchronous rounds,
    deterministic ties) over the same top-{PR_K} cosine kNN graph
    PageRank ranks — density-respecting embedding grouping for corpus
    curation; see operators/graph.py::label_propagation for the
    per-round natural-key exchange shape."""
    from mapreduceproject_spark.operators.graph import knn_edges_ivf, label_propagation

    emb = load_table(spark, sf_dir, "embeddings")
    edges = knn_edges_ivf(emb, "vec_id", "embedding", num_centroids="auto", k=PR_K)
    return label_propagation(emb, edges, "vec_id", rounds=LPA_ROUNDS)


@query("knn_community_modularity", oracle=_modularity_oracle())
def knn_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the {LPA_ROUNDS}-round LPA communities over
    the same kNN graph — the quality gauge knn_label_communities was
    missing (round-9 verdict #4): LPA is the one approximate operator
    that shipped without a measured number, and modularity is the
    standard score that decides whether a fixed round budget produced
    real density structure (Q ≈ 0 = no better than random).  Exact
    integer edge/degree counts, one double division — see
    operators/graph.py::community_modularity.  The convergence half of
    the gauge pair is in-band: label_propagation(plan_info=...) observes
    per-round labels-changed counts (pytest-pinned)."""
    from mapreduceproject_spark.operators.graph import (
        community_modularity,
        knn_edges_ivf,
        label_propagation,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # checkpoint the kNN edge build ONCE: both consumers (LPA's
    # symmetrized closure and the modularity joins) otherwise replay the
    # full IVF edge pipeline from the scan — the bfs_hops shared-input
    # rule
    edges = knn_edges_ivf(
        emb, "vec_id", "embedding", num_centroids="auto", k=PR_K
    ).localCheckpoint(eager=False)
    labels = label_propagation(emb, edges, "vec_id", rounds=LPA_ROUNDS)
    return community_modularity(labels, edges, "vec_id")
