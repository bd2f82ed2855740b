"""Round-11 suites: NULL-cosine ordering + bounded two-level top-k in the
kNN edge build, the fused keep-best struct-min aggregate's NULL-quality
semantics, and the single-pass DSIR feature stream."""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreduceproject_spark.operators import quality as q
from mapreduceproject_spark.operators.graph import knn_edges_ivf


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# -- knn edge build: NULL cosine + bounded aggregation state -------------------


def _zero_norm_fixture(spark):
    # centroids = ids 0,1; id 5 is an all-zero vector: prequantized_cosine
    # returns NULL for every pair it joins (vectors.py's nullif), so its
    # edges exercise the NULL branch of the top-k order.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 0.1, 0.0, 0.0]),
        (3, [0.9, 0.2, 0.0, 0.0]),
        (4, [0.8, 0.1, 0.1, 0.0]),
        (5, [0.0, 0.0, 0.0, 0.0]),  # zero-norm: NULL cosine to everything
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_knn_edges_null_cosine_sorts_last(spark):
    """Round-10 advice (medium): the aggregate top-k's ascending struct
    order put a NULL cosine FIRST, displacing genuine neighbors, where the
    retired window's desc-NULLS-LAST put it last.  Pin the whole edge set
    on a fixture WITH a zero-norm vector against the window formulation
    (the round-10 pinning fixture had no zero-norm vectors)."""
    from mapreduceproject_spark.functions.vectors import prequantized_cosine
    from mapreduceproject_spark.operators.similarity import (
        _quantized_side,
        assign_cells,
        resolve_centroid_filter,
    )

    emb = _zero_norm_fixture(spark)
    k = 2
    got = {
        tuple(r)
        for r in knn_edges_ivf(emb, "vec_id", "embedding", 2, k).collect()
    }

    cq = _quantized_side(emb, "vec_id", "embedding", "id")
    pick = resolve_centroid_filter(cq, F.col("id"), 2)
    cents = F.broadcast(
        pick(cq).select(
            F.col("id").alias("cid"), F.col("_q").alias("cq"), F.col("_n2").alias("cn2")
        )
    )
    cells = assign_cells(cq, cents, "id", nprobe=1, assign="brute").select(
        "id", "_q", "_n2", "cid"
    )
    a = cells.select("cid", F.col("id").alias("src"), F.col("_q").alias("qa"), F.col("_n2").alias("na"))
    b = cells.select("cid", F.col("id").alias("dst"), F.col("_q").alias("qb"), F.col("_n2").alias("nb"))
    pairs = (
        a.join(b, "cid")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            prequantized_cosine(F.col("qa"), F.col("qb"), F.col("na"), F.col("nb")).alias("cosine"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    want = {
        tuple(r)
        for r in pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("src", "dst")
        .collect()
    }
    assert got == want and got
    # the zero-norm vector's NULL-cosine edges must not displace real
    # neighbors: src 0's top-2 are real-cosine dsts, never dst 5
    zero_dsts = {d for s, d in got if s == 0}
    assert 5 not in zero_dsts


def test_zero_norm_cosine_is_null_never_nan(spark):
    """A zero vector has no direction: every cosine form returns NULL for
    it (vectors.py's nullif), never NaN.  The kNN top-k sorts a NULL
    cosine last by coalescing it to +inf; a NaN would slip past that
    coalesce and sort after +inf, so the order holds only while NaN
    cannot occur."""
    from mapreduceproject_spark.functions import vectors as vx

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),
         (2, [0.0, 0.0, 0.0], [0.0, 0.0, 0.0]),
         (3, [1.0, 2.0, 3.0], [0.0, 0.0, 0.0]),
         (4, [1.0, 0.0, 0.0], [0.5, 0.5, 0.0])],
        "i int, a array<double>, b array<double>",
    )
    qa, qb = vx.quantize(F.col("a")), vx.quantize(F.col("b"))
    n2 = lambda q: F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x * x)  # noqa: E731
    forms = {
        "cos": vx.cosine_similarity(F.col("a"), F.col("b")),
        "qcos": vx.quantized_cosine(F.col("a"), F.col("b")),
        "pcos": vx.prequantized_cosine(qa, qb, n2(qa), n2(qb)),
    }
    rows = df.select(
        "i",
        *[c.alias(n) for n, c in forms.items()],
        *[F.isnan(c).alias(f"{n}_nan") for n, c in forms.items()],
    ).collect()
    for r in rows:
        for n in forms:
            assert r[f"{n}_nan"] is not True, (r.i, n)
            assert (r[n] is None) == (r.i != 4), (r.i, n, r[n])


def _py_knn_edges(rows, num_centroids: int, k: int) -> set[tuple[int, int]]:
    """knn_edges_ivf's answer in plain Python: quantized cosine (NULL for
    a zero norm), cells by max cosine to the centroids (NULL lowest, ties
    to the lowest centroid id), then per src the top k by cosine DESC
    NULLS LAST, dst ASC."""
    from mapreduceproject_spark.functions.vectors import QUANT_SCALE

    q = {i: [math.floor(x * QUANT_SCALE) for x in v] for i, v in rows}
    n2 = {i: sum(x * x for x in v) for i, v in q.items()}

    def cos(a, b):
        den = math.sqrt(n2[a]) * math.sqrt(n2[b])
        return None if den == 0.0 else sum(x * y for x, y in zip(q[a], q[b])) / den

    def key(c):
        return (c is not None, c if c is not None else 0.0)

    cell = {i: max(range(num_centroids), key=lambda c: (*key(cos(i, c)), -c)) for i in q}
    edges = set()
    for s in q:
        cands = [(cos(s, d), d) for d in q if d != s and cell[d] == cell[s]]
        cands.sort(key=lambda t: (t[0] is None, -t[0] if t[0] is not None else 0.0, t[1]))
        edges |= {(s, d) for _, d in cands[:k]}
    return edges


def test_knn_edges_zero_vectors_match_nulls_last_reference(spark):
    """With zero vectors in the input (NULL cosine to everything, and an
    all-NULL candidate list for a zero src), the edge build returns the
    same top-k as a cosine DESC NULLS LAST, dst ASC reference computed
    without Spark."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 0.1, 0.0, 0.0]),
        (3, [0.9, 0.2, 0.0, 0.0]),
        (4, [0.8, 0.1, 0.1, 0.0]),
        (5, [0.0, 0.0, 0.0, 0.0]),
        (6, [0.1, 0.9, 0.0, 0.0]),
        (7, [0.0, 0.0, 0.0, 0.0]),
        (8, [0.2, 0.8, 0.3, 0.0]),
        (9, [-0.5, 0.1, 0.0, 0.2]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    k = 3
    got = {tuple(r) for r in knn_edges_ivf(emb, "vec_id", "embedding", 2, k).collect()}
    want = _py_knn_edges(rows, 2, k)
    assert got == want
    assert {d for s, d in got if s == 5} == {0, 2, 3}  # all NULL: dst order


def test_knn_edges_topk_aggregation_state_bounded(spark, sf_dir):
    """Plan gate (round-10 verdict #1): the final per-src aggregate's
    input must be the level-1 (src, partition) local top-k output —
    ≤ P·k rows per src — never the raw pair stream.  Two collect_list
    aggregates, the first keyed by spark_partition_id."""
    from mapreduceproject_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _plan(knn_edges_ivf(emb, "vec_id", "embedding", 16, 4))
    assert "SPARK_PARTITION_ID" in plan.upper()
    assert plan.count("collect_list") >= 2
    assert "Window" not in plan  # the round-10 window-free shape holds


# -- keep-best: fused struct-min ≡ rank-1 window under NULL quality -----------


def test_keep_best_struct_min_null_quality_sorts_last(spark):
    """The fused min(struct(qn, -quality, doc_id, quality)) must pick the
    same keeper as the retired rank-1 window (quality DESC NULLS LAST,
    doc_id ASC) — including clusters whose best-id member has NULL
    quality (empty docs), and all-NULL clusters."""
    rows = [
        # cluster 1: NULL quality on the LOWEST doc_id — window keeps 2
        (1, 1, None),
        (1, 2, 0.7),
        (1, 3, 0.4),
        # cluster 2: all NULL — window keeps lowest doc_id
        (2, 10, None),
        (2, 11, None),
        # cluster 3: quality tie — doc_id breaks it
        (3, 20, 0.5),
        (3, 21, 0.5),
    ]
    df = spark.createDataFrame(rows, "cluster_id long, doc_id long, quality double")
    best = F.min(
        F.struct(
            F.col("quality").isNull().cast("int").alias("qn"),
            (-F.col("quality")).alias("nq"),
            F.col("doc_id").alias("doc_id"),
            F.col("quality").alias("quality"),
        )
    )
    got = {
        r["cluster_id"]: (r["kept"], r["kq"])
        for r in df.groupBy("cluster_id")
        .agg(best.alias("_b"))
        .select(
            "cluster_id",
            F.col("_b.doc_id").alias("kept"),
            F.col("_b.quality").alias("kq"),
        )
        .collect()
    }
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    want = {
        r["cluster_id"]: (r["doc_id"], r["quality"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want == {1: (2, 0.7), 2: (10, None), 3: (20, 0.5)}


# -- DSIR: single-pass feature stream ≡ retired union form ---------------------


def test_dsir_feature_rows_single_pass_matches_union_form(spark):
    """_feature_rows (round 11: one tokenize pass, one generate) must
    emit exactly the retired token_rows ∪ word_shingle_rows(k=2) stream,
    with multiplicity, on every short-document edge: empty text, NULL
    text, 1-word, 2-word, repeated tokens."""
    from mapreduceproject_spark.functions.textfn import token_rows, word_shingle_rows

    rows = [
        (1, "the cat sat on the mat"),
        (2, "hello"),
        (3, ""),
        (4, None),
        (5, "a a a"),
        (6, "x  y"),  # run of whitespace
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["feature"])
        for r in q._feature_rows(df, "doc_id", "text").collect()
    )
    uni = token_rows(df, F.col("text"), ["doc_id"]).select(
        "doc_id", F.col("tok").alias("feature")
    )
    bi = word_shingle_rows(df, F.col("text"), 2, ["doc_id"]).select(
        "doc_id", F.col("sh").alias("feature")
    )
    want = sorted((r["doc_id"], r["feature"]) for r in uni.unionByName(bi).collect())
    assert got == want


def test_dsir_weights_carry_target_flag_inline(spark):
    """dsir_weights end-to-end on a hand corpus: weights must be exactly
    the Σ cnt·λ_micro recurrence (the oracle's arithmetic) — pinned here
    against a direct recomputation from the same feature stream."""
    rows = [
        (1, "spam spam ham", True),
        (2, "ham eggs", False),
        (3, "", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_en boolean")
    w = q.dsir_weights(df, "doc_id", "text", F.col("is_en"), num_buckets=8)
    got = {r["doc_id"]: r["weight_micro"] for r in w.collect()}
    # independent recomputation in python from the same definitions
    from mapreduceproject_spark.functions.hashing import hash60

    feats = q._feature_rows(df, "doc_id", "text").withColumn(
        "bucket", hash60(F.col("feature")) % 8
    )
    rows2 = feats.collect()
    tflag = {1: True, 2: False, 3: False}
    import collections
    import math

    bc = collections.Counter()
    tc = collections.Counter()
    per_doc = collections.Counter()
    for r in rows2:
        bc[r["bucket"]] += 1
        if tflag[r["doc_id"]]:
            tc[r["bucket"]] += 1
        per_doc[(r["doc_id"], r["bucket"])] += 1
    tt, rt = sum(tc.values()), sum(bc.values())
    lam = {
        b: math.floor(
            1_000_000
            * (math.log((tc[b] + 1) / (tt + 8)) - math.log((bc[b] + 1) / (rt + 8)))
        )
        for b in bc
    }
    want = collections.Counter()
    for (d, b), cnt in per_doc.items():
        want[d] += cnt * lam[b]
    assert got == dict(want)
