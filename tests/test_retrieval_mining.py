"""Hand-truth and invariant tests for the round-4 retrieval/mining wave:
contrastive hard negatives, hybrid RRF fusion, seasonal residual outliers,
token-budget top-p selection, and per-document bigram surprisal.  Oracle
parity runs separately in test_oracle_parity; these pin the semantics the
hash comparison can't articulate (label constraints, fusion arithmetic,
prefix-closure of the budget selection, hand-computed surprisal)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mapreduceproject_spark.plans import QUERIES
from mapreduceproject_spark.plans.curation_queries import TOPP_BUDGET_BP
from mapreduceproject_spark.plans.similarity_queries import RRF_C, RRF_TOP


def test_hard_negatives_never_share_label(spark, sf_dir):
    rows = QUERIES["ann_hard_negatives"](spark, sf_dir).collect()
    assert rows, "query set must produce candidates"
    for r in rows:
        assert r["nlabel"] != r["qlabel"], (r["query_id"], r["neighbor_id"])
        assert r["neighbor_id"] != r["query_id"]


def test_hard_negatives_are_subset_of_unfiltered_ranking(spark, sf_dir):
    """Every hard negative's cosine is a cosine the unrestricted brute
    ranking could have produced — i.e. dropping the label filter can only
    move candidates UP, never change their scores."""
    hn = QUERIES["ann_hard_negatives"](spark, sf_dir)
    per_query_max = {
        r["query_id"]: r["cosine"]
        for r in hn.filter(F.col("rnk") == 1).collect()
    }
    brute = QUERIES["ann_bruteforce_topk"](spark, sf_dir)
    brute_best = {
        r["query_id"]: r["cosine"]
        for r in brute.filter(F.col("rnk") == 1).collect()
    }
    for qid, cos in per_query_max.items():
        assert cos <= brute_best[qid] + 1e-12


def test_rrf_score_recomputes_from_ranks(spark, sf_dir):
    rows = QUERIES["hybrid_rrf_retrieval"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        expect = (0.0 if r["lex_rnk"] == 0 else 1.0 / (RRF_C + r["lex_rnk"])) + (
            0.0 if r["den_rnk"] == 0 else 1.0 / (RRF_C + r["den_rnk"])
        )
        assert abs(r["rrf_score"] - expect) < 1e-12
        assert r["lex_rnk"] > 0 or r["den_rnk"] > 0, "fused row from neither ranker"
        assert 1 <= r["rnk"] <= RRF_TOP


def test_seasonal_outlier_hand_truth(spark, tmp_path):
    """Six events in one (type, dow, hour) cell, one wildly off — the
    planted spike must rank first with the textbook z value."""
    base = [(i, "2024-01-08 05:%02d:00" % i, 10.0) for i in range(5)]
    rows = base + [(5, "2024-01-15 05:30:00", 110.0)]  # same dow (Mon) + hour
    df = spark.createDataFrame(
        [(i, ts, "click", v) for i, ts, v in rows],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = QUERIES["seasonal_residual_outliers"](spark, d).collect()
    assert out[0]["event_id"] == 5
    # cents: five 1000s and one 11000 -> mean 2666.66., sd from n-1
    cents = [1000] * 5 + [11000]
    mu = sum(cents) / 6
    sd = math.sqrt(sum((c - mu) ** 2 for c in cents) / 5)
    assert abs(out[0]["z"] - (11000 - mu) / sd) < 1e-9
    assert out[0]["dow"] == 2 and out[0]["hr"] == 5  # Spark Monday=2


def test_top_p_selection_is_quality_prefix_per_source(spark, sf_dir):
    """The selected set must be a PREFIX of the quality-ordered doc list,
    every selected row must satisfy the budget inequality, and the first
    unselected doc must violate it (the selection is tight)."""
    sel = QUERIES["budget_top_p_selection"](spark, sf_dir).toPandas()
    assert len(sel)
    full = (
        QUERIES["text_quality_scores"](spark, sf_dir)
        .join(
            spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                "doc_id", "source"
            ),
            "doc_id",
        )
        .select("doc_id", "source", "quality", "n_tokens")
        .toPandas()
    )
    for source, grp in full.groupby("source"):
        ordered = grp.sort_values(
            ["quality", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        total = int(ordered["n_tokens"].sum())
        chosen = set(sel[sel["source"] == source]["doc_id"])
        cum = 0
        for _, row in ordered.iterrows():
            in_budget = cum * 10000 < TOPP_BUDGET_BP * total
            assert (row["doc_id"] in chosen) == in_budget, (source, row["doc_id"])
            cum += int(row["n_tokens"])


def test_bigram_surprisal_hand_truth(spark, tmp_path):
    """Corpus of one document 'a b a b': bigrams ab, ba, ab.
    c(a,b)=2 head(a)=2; c(b,a)=1 head(b)=1; V=2 continuations.
    p(b|a)=(2+.5)/(2+.5*2)=2.5/3; p(a|b)=(1+.5)/(1+.5*2)=.75."""
    d = str(tmp_path)
    spark.createDataFrame(
        [(0, "a b a b")], "doc_id long, text string"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = QUERIES["bigram_surprisal_filter"](spark, d).collect()
    assert len(out) == 1 and out[0]["n_bigrams"] == 3
    q = lambda p: math.floor(-math.log(p) * 1e6)  # noqa: E731
    expect = (2 * q(2.5 / 3.0) + q(0.75)) / (1e6 * 3)
    assert abs(out[0]["avg_nll"] - expect) < 1e-12


def test_bfs_hops_hand_truth(spark):
    """Chain 0->1->2->3->4->5 plus a shortcut 0->3: min-dist must win and
    the 4-hop bound must exclude vertex 5 via the chain-only path."""
    from mapreduceproject_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (0, 3)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "vec_id long")
    got = {
        (r["seed"], r["vid"]): r["dist"]
        for r in bfs_hops(edges, seeds, "vec_id", max_hops=4).collect()
    }
    assert got == {
        (0, 0): 0,
        (0, 1): 1,
        (0, 2): 2,
        (0, 3): 1,  # shortcut beats the 3-hop chain
        (0, 4): 2,
        (0, 5): 3,
    }


def test_bfs_reach_is_monotone_in_hops(spark, sf_dir):
    out = QUERIES["knn_bfs_reach"](spark, sf_dir).collect()
    assert out
    from mapreduceproject_spark.plans.similarity_queries import BFS_HOPS, BFS_SEEDS

    seeds = {r["seed"] for r in out}
    assert seeds == set(range(BFS_SEEDS))
    for r in out:
        assert 0 <= r["dist"] <= BFS_HOPS


def test_hard_negatives_exclude_self_when_query_relabeled(spark):
    """The self-match guard must hold even when the query table re-labels
    a corpus id: label mismatch alone would return the vector as its own
    cosine-1.0 'hard negative' at rank 1."""
    import mapreduceproject_spark.operators.similarity as sim

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0], "a"), (1, [0.0, 1.0], "b"), (2, [0.7, 0.7], "a")],
        "id bigint, v array<double>, label string",
    )
    queries = corpus.filter("id = 0").select(
        "id", "v", F.lit("z").alias("label")  # id 0 re-labeled: != every corpus label
    )
    out = sim.hard_negative_topk(
        corpus, queries, "id", "v", "label", "id", "v", "label", k=3
    ).collect()
    ids = {r["neighbor_id"] for r in out}
    assert 0 not in ids, "query's own vector returned as its hard negative"
    assert ids == {1, 2}


def test_split_drift_flags_degenerate_zero_half(spark):
    """A label whose val-half is all zero vectors has no centroid
    direction: drift_cos must be NULL (not an engine-dependent div-by-0)
    and is_drifted must be TRUE — the maximally divergent label must not
    vanish from the report."""
    from mapreduceproject_spark.operators.similarity import split_centroid_drift

    # ids chosen so hash60(id||salt)%2 puts >=1 row in each half per label
    rows = [(i, [1.0, 0.0], "ok") for i in range(8)]
    rows += [(100 + i, [0.0, 0.0], "dead") for i in range(8)]
    df = spark.createDataFrame(rows, "id bigint, v array<double>, label string")
    out = {
        r["label"]: r
        for r in split_centroid_drift(df, "id", "v", "label", "|t").collect()
    }
    assert "dead" in out, "degenerate label dropped from the drift report"
    assert out["dead"]["drift_cos"] is None
    assert out["dead"]["is_drifted"] is True
    assert abs(out["ok"]["drift_cos"] - 1.0) < 1e-9
    assert out["ok"]["is_drifted"] is False


def test_text_ops_survive_empty_documents(spark):
    """Empty / whitespace-only docs must yield NULL ratios and keep=False,
    not an ANSI DIVIDE_BY_ZERO abort (Spark 4 raises even on double/0)."""
    from mapreduceproject_spark.operators import text_analysis as ta2

    df = spark.createDataFrame(
        [(1, "real words here and more"), (2, ""), (3, "   ")],
        ["doc_id", "text"],
    )
    q = {r["doc_id"]: r for r in ta2.quality_scores(df, "doc_id", "text").collect()}
    assert q[2]["punct_ratio"] is None and q[2]["keep"] is False
    assert q[3]["stopword_ratio"] is None and q[3]["keep"] is False
    assert q[1]["keep"] is True
    s = {r["doc_id"]: r for r in ta2.token_stats(df, "doc_id", "text").collect()}
    assert s[2]["mean_token_len"] is None and s[2]["n_ws_tokens"] == 0
    assert s[1]["mean_token_len"] is not None
