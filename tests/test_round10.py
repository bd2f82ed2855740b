"""Round-10 suites: per-partition ANN top-k pruning (plan gates), Arrow
PQ assignment ≡ HOF form, sq8 narrow rerank ≡ wide form, LPA convergence
gauge + modularity hand-truth, BPE merge hand-truth (overlap semantics),
and the NB quality classifier's calibration table."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduceproject_spark.operators import quality as q
from mapreduceproject_spark.operators import similarity as sim
from mapreduceproject_spark.operators import text_analysis as ta
from mapreduceproject_spark.operators.graph import (
    community_modularity,
    label_propagation,
)
from mapreduceproject_spark.plans import QUERIES
from mapreduceproject_spark.sources.catalog import load_table
from tests.test_plans import _partial_topk_limits, _plan


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# -- per-partition top-k pruning ----------------------------------------------


def _assert_rank_window_input_pruned(name, df, *cuts):
    # the per-query rank window's input is a per-partition top-k (at most
    # P·k rows per query), never the raw scored stream: Spark's partial
    # WindowGroupLimit sits below the query_id Exchange.  In the physical
    # tree the Window is its ancestor, so it prints first.
    plan = _plan(df)
    limits = _partial_topk_limits(plan)
    for cut in cuts:
        assert cut in limits, (name, cut, limits)
    assert plan.index("Window [") < plan.index(", Partial"), name


def test_ann_final_window_input_pruned(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 4)
    args = (emb, qs, "vec_id", "embedding", "vec_id", "embedding")
    for name, df in (
        ("brute", sim.brute_force_topk(*args, k=5)),
        ("pq", sim.pq_topk(*args, dim=64, k=5)),
        (
            "hard_neg",
            sim.hard_negative_topk(
                emb.withColumn("label", (F.col("vec_id") % 3).cast("long")),
                qs.withColumn("label", (F.col("vec_id") % 3).cast("long")),
                "vec_id", "embedding", "label",
                "vec_id", "embedding", "label",
                k=5,
            ),
        ),
    ):
        _assert_rank_window_input_pruned(name, df, 5)


def test_ann_prune_adaptive_off_at_toy_scale(spark, sf_dir):
    # the per-partition prune is Spark's own partial WindowGroupLimit, so
    # no registered ANN query crosses into Python for it at any scale.
    # (ann_pq_topk is excluded: its plan keeps the Arrow PQ-assignment
    # kernel of its encode step)
    for name in (
        "ann_bruteforce_topk", "ann_hard_negatives",
        "ann_sq8_rerank_topk", "ann_filtered_topk", "ann_hyperplane_topk",
        "ann_ivf_topk",
    ):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "MapInPandas" not in plan, name


# -- Arrow PQ assignment -------------------------------------------------------


def test_pq_assign_arrow_equals_hof(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 4)
    args = (emb, qs, "vec_id", "embedding", "vec_id", "embedding")
    a = sim.pq_topk(*args, dim=64, k=5, assign="arrow")
    b = sim.pq_topk(*args, dim=64, k=5, assign="hof")
    assert _rows(a) == _rows(b)


def test_pq_codebooks_arrow_equals_hof(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = sim.pq_codebooks(emb, "vec_id", "embedding", 64, assign="arrow")
    b = sim.pq_codebooks(emb, "vec_id", "embedding", 64, assign="hof")
    assert _rows(a.select("m", "cid", F.to_json("cq"))) == _rows(
        b.select("m", "cid", F.to_json("cq"))
    )


# -- LPA gauges ----------------------------------------------------------------


def test_lpa_labels_changed_observation(spark):
    # barbell: two triangles joined by one bridge edge.  Round 1 settles
    # each triangle onto its lowest id (and the bridge pulls 3 toward
    # 0's side exactly once); later rounds go quiet — the observed
    # labels-changed sequence must be in-band, monotone to zero, and
    # zero in the final round (converged within the fixed budget).
    nodes = spark.createDataFrame([(i,) for i in range(6)], "vid long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)],
        "src long, dst long",
    )
    info: dict = {}
    labels = label_propagation(nodes, edges, "vid", rounds=3, plan_info=info)
    labels.collect()
    obs = info["lpa_labels_changed"]
    assert len(obs) == 3
    changed = [o.get["labels_changed"] for o in obs]
    assert changed[0] > 0
    assert changed[-1] == 0
    # the density contract: the bridge must NOT merge the two triangles
    comms = {r["vid"]: r["community"] for r in labels.collect()}
    assert comms[0] == comms[1] == comms[2]
    assert comms[3] == comms[4] == comms[5]
    assert comms[0] != comms[5]


def test_community_modularity_hand_truth(spark):
    # two disjoint triangles, perfect 2-community split:
    # M2 = 12, W = 12, deg_c = 6 each ->
    # Q = (12*12 - 2*36) / 144 = 0.5 exactly
    labels = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 3)], "vid long, community long"
    )
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)], "src long, dst long"
    )
    row = community_modularity(labels, edges, "vid").collect()[0]
    assert row["n_vertices"] == 6
    assert row["n_communities"] == 2
    assert row["n_edges_und"] == 12
    assert row["modularity"] == 0.5


def test_community_modularity_single_community_is_zero(spark):
    # everything in one community: Q = (W*M2 - M2^2)/M2^2 = 0 when the
    # graph is fully within-community
    labels = spark.createDataFrame([(i, 7) for i in range(4)], "vid long, community long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    row = community_modularity(labels, edges, "vid").collect()[0]
    assert row["modularity"] == 0.0


# -- BPE merges ----------------------------------------------------------------


def _docs(spark, texts):
    return spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_bpe_merge_hand_truth(spark):
    # tokens: 'aaa' x2, 'ab' x3
    # r1 pairs: (a,a) 2x2=4, (a,b) 3 -> merge (a,a); greedy: aaa -> [aa,a]
    # r2 pairs: (aa,a) 2, (a,b) 3 -> merge (a,b)
    # r3 pairs: (aa,a) 2 -> merge (aa,a)
    out = ta.bpe_merge_table(_docs(spark, ["aaa aaa", "ab ab ab"]), "text")
    assert _rows(out) == [
        (1, "a", "a", 4),
        (2, "a", "b", 3),
        (3, "aa", "a", 2),
    ]


def test_bpe_merge_overlap_both_occurrences_merge(spark):
    # 'abab' x3: r1 (a,b) 6 vs (b,a) 3 -> merge (a,b); BOTH occurrences
    # must merge in one pass ([a,b,a,b] -> [ab,ab]), so r2 sees
    # (ab,ab) 3.  r3 has no pairs left -> only 2 merge rows.
    out = ta.bpe_merge_table(_docs(spark, ["abab abab abab"]), "text")
    assert _rows(out) == [
        (1, "a", "b", 6),
        (2, "ab", "ab", 3),
    ]


def test_bpe_merge_tie_breaks_lexicographic(spark):
    # 'xy' and 'xz' once each: both pairs count 1 -> (x,y) wins the tie
    out = ta.bpe_merge_table(_docs(spark, ["xy xz"]), "text", rounds=1)
    assert _rows(out) == [(1, "x", "y", 1)]


# -- NB quality classifier ------------------------------------------------------


def test_nb_quality_calibration_table(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sc = q.nb_quality_scores(docs, "doc_id", "text", ta.STOPWORDS)
    cal = (
        sc.groupBy("teacher_kept")
        .agg(
            F.count("*").alias("n"),
            (F.sum("llr_micro") / F.sum("n_tokens")).alias("mean_llr_per_tok"),
        )
        .collect()
    )
    by_label = {r["teacher_kept"]: r for r in cal}
    # both classes must exist at sf0.001 and the learned score must
    # separate them in the teacher's direction (kept docs score higher
    # per token than dropped docs) — the calibration table the verdict
    # asked the pytest to pin
    assert set(by_label) == {True, False}
    assert (
        by_label[True]["mean_llr_per_tok"] > by_label[False]["mean_llr_per_tok"]
    )


# -- sq8 narrow rerank ---------------------------------------------------------


def test_sq8_narrow_rerank_bit_equal(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 4)
    args = (emb, qs, "vec_id", "embedding", "vec_id", "embedding")
    a = sim.sq8_rerank_topk(*args, dim=64, k=5)
    b = sim.sq8_rerank_topk(*args, dim=64, k=5, narrow_rerank=False)
    assert _rows(a) == _rows(b)


def test_second_wave_final_windows_pruned(spark, sf_dir):
    # same gate as test_ann_final_window_input_pruned, extended to the
    # three remaining ANN operators: sq8's heaviest window (the adot cut
    # at rerank_factor·k) is pruned as well as its final rerank window;
    # hyperplane with two tables prunes after its cross-table collapse.
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 4)
    args = (emb, qs, "vec_id", "embedding", "vec_id", "embedding")
    for name, df, cuts in (
        ("sq8", sim.sq8_rerank_topk(*args, dim=64, k=5, rerank_factor=4), (5, 20)),
        (
            "hyperplane",
            sim.hyperplane_lsh_topk(
                *args, num_bits=6, k=5, num_tables=2, probe_bits=1
            ),
            (5,),
        ),
        ("ivf", sim.ivf_topk(*args, num_centroids=16, nprobe=4, k=5), (5,)),
    ):
        _assert_rank_window_input_pruned(name, df, *cuts)


def test_knn_edges_fast_brute_path_matches_assign_cells_window(spark, sf_dir):
    """Round-10: knn_edges_ivf's brute path assigns cells with ONE
    max(struct) aggregate and cuts top-k with sort_array+slice.  Pin both
    against the reference formulation (assign_cells' row_number window +
    a per-src row_number window) — same (cos desc, cid asc) winner, same
    (cosine desc, dst asc) edge order, bit-equal edge set."""
    from pyspark.sql import Window

    from mapreduceproject_spark.operators.graph import knn_edges_ivf
    from mapreduceproject_spark.operators.similarity import (
        _quantized_side,
        assign_cells,
        prequantized_cosine,
        resolve_centroid_filter,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    got = {tuple(r) for r in knn_edges_ivf(emb, "vec_id", "embedding", 16, 4).collect()}

    cq = _quantized_side(emb, "vec_id", "embedding", "id")
    pick = resolve_centroid_filter(cq, F.col("id"), 16)
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
        .filter(F.col("rn") <= 4)
        .select("src", "dst")
        .collect()
    }
    assert got == want and got
