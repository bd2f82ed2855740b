"""Physical-plan quality gates.

Correct results aren't enough at 100 TB — these tests pin the *plan*
properties that make the queries scale: predicate pushdown reaching the
parquet scan, column pruning in ReadSchema, broadcast joins for dim
tables, partial+final aggregation, and whole-stage codegen coverage.
A regression that silently turns a broadcast join into a shuffle join or
drops a pushed filter fails here even though results stay correct.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

from mapreduceproject_spark.plans import QUERIES
from mapreduceproject_spark.sources.catalog import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    plan = _plan(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_column_pruning_reaches_scan(spark, sf_dir):
    # a 2-column projection must not scan all 11 lineitem columns
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(li)
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read and "l_comment" not in read


def test_dim_join_broadcasts(spark, sf_dir):
    plan = _plan(QUERIES["join_broadcast_dim"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q5_join_chain_broadcasts_small_dims(spark, sf_dir):
    # region/nation are tiny: AQE or static planning must broadcast them
    plan = _plan(QUERIES["q5_region_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    # two-phase agg: map-side partial before the shuffle
    plan = _plan(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert "partial_sum" in plan or "HashAggregate(keys" in plan
    assert plan.count("HashAggregate") >= 2


def test_wordcount_wholestage_codegen(spark, sf_dir):
    df = QUERIES["word_count"](spark, sf_dir)
    df.collect()  # AQE only finalizes codegen stages in the executed plan
    plan = _plan(df)
    # "*(n)" prefixes mark WholeStageCodegen spans in the final plan; both
    # the partial and final aggregates must be inside one
    assert "isFinalPlan=true" in plan and "*(" in plan
    assert "partial_count" in plan


def test_semi_anti_join_no_full_materialization(spark, sf_dir):
    semi = _plan(QUERIES["join_semi"](spark, sf_dir))
    anti = _plan(QUERIES["join_anti"](spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_topk_uses_limit_not_global_sort(spark, sf_dir):
    # top-k must be TakeOrderedAndProject (per-partition heap + merge),
    # never a full global sort followed by limit
    plan = _plan(QUERIES["topk_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_ann_queries_broadcast_query_side(spark, sf_dir):
    for name in ("ann_bruteforce_topk", "ann_ivf_topk", "ann_filtered_topk"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, name


def test_no_cartesian_in_dedup(spark, sf_dir):
    # every dedup op must prune candidates; a CartesianProduct means the
    # blocking/banding collapsed into all-pairs
    for name in (
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "dedup_exact",
    ):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_tfidf_dfreq_join_not_broadcast_hinted(spark, sf_dir):
    # dfreq is vocabulary-sized — tens of GB at web scale — so the tf⋈df
    # join must NOT carry a broadcast hint; AQE may still choose broadcast
    # at small sf, which is why this asserts on the logical plan's hints,
    # not the physical join choice
    df = QUERIES["text_tfidf_top_terms"](spark, sf_dir)
    logical = df._jdf.queryExecution().analyzed().toString()
    # exactly one hint survives: the 1-row n_docs scalar (always safe);
    # the vocabulary-sized dfreq side must be unhinted
    hints = [ln for ln in logical.splitlines() if "ResolvedHint" in ln]
    assert len(hints) == 1, hints
    after = logical.split("ResolvedHint")[1]
    assert "n_docs" in after.splitlines()[1] + after.splitlines()[2]


def test_ngram_jaccard_linear_gram_build(spark, sf_dir):
    # the gram build must be the explode-positions formulation: a
    # transform-over-computed-string lambda inlines lower(text) per gram
    # index (O(len²) per doc, SCALING.md); Generate(explode(sequence...))
    # with a single substring per output row is the linear plan
    opt = _optimized(QUERIES["dedup_ngram_jaccard"](spark, sf_dir))
    assert "sequence(1," in opt
    assert "transform(" not in opt


def test_ngram_prefix_light_fallback_has_no_window_sorts(spark, sf_dir, monkeypatch):
    # the exact n-gram plan orders grams without a gram-stream sort: the
    # registered single-pass plan and every pass of the sharded plan
    # must contain NO window operator and must broadcast the hot-df table
    from mapreduceproject_spark.operators import dedup as dd

    real = dd._ngram_jaccard_prefix_light
    pass_plans = []

    def recording(*args, **kwargs):
        res = real(*args, **kwargs)
        pass_plans.append(_plan(res))
        return res

    monkeypatch.setattr(dd, "_ngram_jaccard_prefix_light", recording)
    single = _plan(QUERIES["dedup_ngram_jaccard"](spark, sf_dir))
    assert len(pass_plans) == 1
    QUERIES["dedup_ngram_sharded"](spark, sf_dir)
    assert len(pass_plans) == 1 + 6  # 3 shards: 3 diagonal + 3 cross passes
    for plan in [single, *pass_plans[1:]]:
        assert "Window" not in plan, "prefix-light plan re-grew a window sort"
        assert "BroadcastHashJoin" in plan  # hot-df table rides a broadcast


def test_decontam_broadcasts_benchmark_grams(spark, sf_dir):
    # the benchmark shingle set is eval-suite-sized (bounded); the
    # train⋈bench join must replicate it, never shuffle the corpus side
    plan = _plan(QUERIES["decontam_ngram_overlap"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pack_window_is_bucketed(spark, sf_dir):
    # greedy fill is sequential per window: the window spec must include
    # the bucket column, or one partition per lang serializes the corpus
    plan = _plan(QUERIES["pack_token_shards"](spark, sf_dir))
    spec = plan.split("windowspecdefinition(")[1].split(")")[0]
    assert "lang" in spec and "_bucket" in spec, spec


def test_repetition_partial_aggregation(spark, sf_dir):
    # token/shingle counts must partial-aggregate map-side before the
    # doc-id shuffle — at 100 TB the gram stream is the biggest flow
    plan = _plan(QUERIES["text_repetition_metrics"](spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_stratified_sample_filter_before_agg(spark, sf_dir):
    # hash membership is a per-row projection: the optimized plan must
    # filter before any exchange (no shuffle of dropped rows)
    opt = _optimized(QUERIES["stratified_sample_stats"](spark, sf_dir))
    assert "Filter" in opt


def test_spread_for_compute_keeps_pushdown(spark, sf_dir):
    # heavy operators opt into spread_for_compute at their entry points
    # (sources/catalog.py); filters and pruning must still reach the
    # parquet scan BELOW the added exchange.
    from mapreduceproject_spark.sources.catalog import spread_for_compute

    docs = (
        spread_for_compute(load_table(spark, sf_dir, "documents"))
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang")
    )
    plan = _plan(docs)
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read and "text" not in read, f"pruning lost: {read}"
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "lang" in pushed, f"filter not pushed below exchange: {pushed}"


def test_spread_for_compute_noop_when_parallel(spark, sf_dir):
    # already-parallel inputs (>= defaultParallelism partitions) must not
    # gain an exchange — the at-scale no-op contract.
    from mapreduceproject_spark.sources.catalog import spread_for_compute

    par = spark.sparkContext.defaultParallelism
    df = load_table(spark, sf_dir, "lineitem").repartition(par)
    assert spread_for_compute(df) is df


def test_training_interleave_uses_topk_not_full_sort(spark, sf_dir):
    # the global cut must be TakeOrderedAndProject (per-partition heaps),
    # never a full single-partition sort of the corpus
    plan = _plan(QUERIES["training_interleave"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_bm25_broadcasts_query_terms(spark, sf_dir):
    # the query-term set is tiny and must ride broadcast joins; the only
    # corpus-sized shuffle is the (doc, term) tf aggregation
    plan = _plan(QUERIES["bm25_search"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # dl is a size(tokens) projection, NOT a second corpus explode.  The
    # ANALYZED plan (pre cache-substitution, so independent of what other
    # tests have (un)cached) shows the tf explode subtree once per logical
    # consumer (df + scoring) and nothing for dl: exactly 2 Generates —
    # the pre-fix shape had 3 (dl's own explode as a third).  At runtime
    # tf's persist collapses the two copies into one cached fill.
    df = QUERIES["bm25_search"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("Generate explode") == 2


# -- round-3 second wave ----------------------------------------------------


def test_pii_scan_has_no_shuffle(spark, sf_dir):
    # pure codegen projection: any Exchange would mean the scan pattern broke
    plan = _plan(QUERIES["pii_scan_redact"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "*(1)" in plan  # whole-stage codegen star on the single stage


def test_heavy_hitters_verify_join_broadcasts_candidates(spark, sf_dir):
    # the whole point of the two-pass: the verify join must broadcast the
    # tiny candidate set, never shuffle the full token stream by token
    plan = _plan(QUERIES["heavy_hitters"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_bigram_top_uses_takeordered(spark, sf_dir):
    plan = _plan(QUERIES["bigram_lm_top"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_data_profile_prunes_each_branch_scan(spark, sf_dir):
    # each unioned branch must read ONLY its own column
    plan = _plan(QUERIES["data_profile"](spark, sf_dir))
    reads = [
        seg.splitlines()[0]
        for seg in plan.split("ReadSchema:")[1:]
    ]
    # no branch scan may read more than one lineitem column
    multi = [r for r in reads if r.count("l_") > 1]
    assert not multi, f"unpruned branch scans: {multi}"
    assert "Expand" not in plan  # the 12x multi-distinct shape must not return


def test_hyperplane_probe_join_broadcasts_queries(spark, sf_dir):
    plan = _plan(QUERIES["ann_hyperplane_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_cdc_shuffles_only_on_doc_and_hash(spark, sf_dir):
    # linear chain: exchanges keyed by the doc id (window + chunk groupBy)
    # and the chunk hash (dup ranking) plus the final source rollup — no
    # joins, no cartesian anywhere
    plan = _plan(QUERIES["cdc_chunk_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # no join operators expected at all — the pipeline is a linear chain
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert op not in plan


def test_front_queue_names_are_registered():
    """_ordered silently ignores unknown names, so a typo in _FRONT would
    quietly demote a query out of the driver's 50-entry correctness
    window — make that loud instead."""
    from mapreduceproject_spark.plans.registry import _FRONT, QUERIES

    missing = [n for n in _FRONT if n not in QUERIES]
    assert missing == [], f"_FRONT names not in registry: {missing}"


def test_chunk_sliding_windows_zero_exchange(spark, sf_dir):
    """The chunker must stay strictly scan-shaped: no Exchange anywhere
    in the physical plan — a regression here (e.g. an accidental
    repartition or distinct) multiplies 100 TB cost."""
    plan = _plan(QUERIES["chunk_sliding_windows"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_incremental_minhash_single_shingle_pipeline(spark, sf_dir):
    """The shingle+hash stream must be computed ONCE (persisted) and the
    per-side signature aggregates must each be side-filtered below the
    aggregate (filter on the carried group key pushes to the cache scan),
    so total aggregate input equals one full pass — the two-independent-
    pipelines formulation (measured 1.9x slower) re-shingled per side."""
    plan = _optimized(QUERIES["dedup_incremental_minhash"](spark, sf_dir))
    # one cached shingle stream; at most one aggregate per join side
    assert "InMemoryRelation" in plan
    assert plan.count("AS m0#") <= 2
    # the batch/corpus flag is a grouping key, so its filters sit below
    # the aggregates (pushed toward the cache scan), not above the join
    sig_aggs = [
        l for l in plan.splitlines() if "Aggregate [_id" in l and "min(" in l
    ]
    assert sig_aggs and all("_new" in l for l in sig_aggs)


def test_semantic_dedup_pair_join_is_on_cluster_id(spark, sf_dir):
    """The prune self-join must key on cluster_id (pair work n^2/k) and
    never degenerate to a cartesian product."""
    plan = _plan(QUERIES["dedup_semantic"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    joins = [l for l in plan.splitlines() if "Join" in l and "cluster_id" in l]
    assert joins, "expected a join keyed on cluster_id"


def test_skew_report_uses_takeordered_and_broadcast_total(spark, sf_dir):
    """The top-k cut must be TakeOrdered (no global sort) and the 1-row
    global rollup must come back as a broadcast, not a shuffle join."""
    plan = _plan(QUERIES["join_key_skew_report"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_outlier_stats_join_broadcasts(spark, sf_dir):
    """Per-dim moments collapse to ONE row; rejoining them to the corpus
    must be a broadcast, and nothing in the plan may shuffle the corpus
    beyond the constant-key dim aggregate."""
    plan = _plan(QUERIES["embedding_outlier_scores"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_repeated_ngram_mask_shuffles_hashes_not_text(spark, sf_dir):
    """The corpus-wide exchange for the duplicate-gram count must carry
    the 60-bit hash — gram TEXT must be projected away before any
    exchange (the window partitions on h; text appears only in scans
    and the narrow gram-assembly stage)."""
    df = QUERIES["repeated_ngram_mask"](spark, sf_dir)
    opt = _optimized(df)
    # the optimized plan's window/aggregate keys are h / id / pos longs
    assert "hashpartitioning(h#" in _plan(df) or "h#" in opt
    assert "CartesianProduct" not in _plan(df)


def test_ab_test_single_partial_aggregated_pass(spark, sf_dir):
    """Both arms' sufficient statistics must come from ONE grouped
    aggregate with a map-side partial (no per-arm scan, no join)."""
    plan = _plan(QUERIES["ab_test_welch"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "HashAggregate" in plan and plan.count("HashAggregate") >= 2
    assert "Join" not in plan


def test_bootstrap_single_fanout_no_raw_reshuffle(spark, sf_dir):
    """The B-replica explode must happen once, and raw rows shuffle only
    into the (type, replica) grouped aggregate — replica means and the
    CI order statistics are (type x B)-sized frames."""
    plan = _plan(QUERIES["bootstrap_ci_poisson"](spark, sf_dir))
    assert plan.count("Generate explode") == 1
    # two scans (point mean + replica pipeline) are fine; no cartesian
    assert "CartesianProduct" not in plan


def test_hard_negatives_broadcast_query_side(spark, sf_dir):
    """Hard-negative mining must keep the brute shape: queries broadcast
    against the corpus scan, never a shuffle pair join."""
    plan = _plan(QUERIES["ann_hard_negatives"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_rrf_fusion_joins_candidate_lists_not_corpora(spark, sf_dir):
    """Both rankers broadcast their query side; the full-outer fusion join
    runs over Q x RRF_CAND candidate lists, so no SortMergeJoin may touch a
    corpus-sized side and nothing is cartesian."""
    plan = _plan(QUERIES["hybrid_rrf_retrieval"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_seasonal_outliers_broadcast_cells_and_takeordered(spark, sf_dir):
    """The seasonal-cell side is statically bounded (168 x |types|): the
    join back must broadcast, and the top-N must be TakeOrdered, not a
    global single-partition window over all events."""
    plan = _plan(QUERIES["seasonal_residual_outliers"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_top_p_selection_single_scan_source_windows(spark, sf_dir):
    """Budget selection is two windows over the same source partitioning —
    one scan, no join, and only source-keyed exchanges."""
    plan = _plan(QUERIES["budget_top_p_selection"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_bigram_surprisal_model_join_is_aqe_sized(spark, sf_dir):
    """The instances x model join is bigram-keyed; a web-corpus model is
    tens of GB so the plan must not hard-pin a broadcast on it (AQE decides
    at runtime) and must never be cartesian."""
    df = QUERIES["bigram_surprisal_filter"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # hints live in the ANALYZED plan (EliminateResolvedHint folds them
    # away before the optimized plan — same rationale as the tfidf test):
    # the only broadcast hint allowed is the 1-row vocab scalar
    logical = df._jdf.queryExecution().analyzed().toString()
    hints = [ln for ln in logical.splitlines() if "ResolvedHint" in ln]
    assert len(hints) <= 1, hints
    if hints:
        after = logical.split("ResolvedHint")[1]
        assert "_v" in after.splitlines()[1] + after.splitlines()[2], hints


def test_bfs_reach_no_cartesian_bounded_frontier(spark, sf_dir):
    plan = _plan(QUERIES["knn_bfs_reach"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_split_drift_partial_agg_no_cartesian(spark, sf_dir):
    """The drift gauge is two map-side-combined aggregates over a
    posexplode (the embedding_outlier_scores shape): partial aggregation
    must appear, no cartesian anywhere, and the corpus is read at most
    twice (counts branch + moments branch)."""
    df = QUERIES["embedding_split_drift"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    assert plan.count("Scan parquet") <= 2


def test_batch_sessionize_single_user_exchange(spark, sf_dir):
    # gaps-and-islands: lag flag, running session index, and the
    # per-(user, session) aggregate must all ride ONE user_id exchange —
    # the groupBy reuses the window's hashpartitioning(user_id)
    plan = _plan(QUERIES["batch_sessionize"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    # no global sort: every Sort node must be in-partition (global=false)
    import re

    for m in re.finditer(r"Sort \[[^\]]*\], (\w+),", plan):
        assert m.group(1) == "false", f"global sort in plan: {m.group(0)}"


def test_embedding_dim_stats_partial_agg_one_exchange(spark, sf_dir):
    # posexplode then ONE 64-group aggregate: map-side partial combine,
    # single exchange on the dimension key, no joins at all
    plan = _plan(QUERIES["embedding_dim_stats"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert op not in plan


def test_dedup_source_report_shares_hash_exchange(spark, sf_dir):
    # both window passes (copies count, keeper rank) share the content-
    # hash exchange; the only other exchange is the O(sources) rollup
    plan = _plan(QUERIES["dedup_source_report"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in plan


def test_interval_overlap_join_is_equi_join(spark, sf_dir):
    # the whole point of the binning: the overlap predicate must ride an
    # EQUI-join on (event_type, bin) — never a cartesian/nested-loop plan
    plan = _plan(QUERIES["interval_overlap_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_ngram_containment_single_gram_exchange_and_broadcast_df(spark, sf_dir):
    # prefix-light discipline carried over: the gram stream is shuffled
    # once (the per-doc array collect); the document-frequency order
    # arrives by BROADCAST join, not another gram-stream exchange; and
    # the prefix/full candidate join is an equi-join, never cartesian
    plan = _plan(QUERIES["dedup_ngram_containment"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


# -- round-9: single-partition-window family retired -------------------------


def test_token_zipf_fit_ranks_survivors_not_vocab(spark, sf_dir):
    # the r8 verdict's weak #1: the vocab must be cut by TakeOrdered
    # (per-partition heaps) BEFORE any rank window; an unpartitioned
    # row_number over the full term table would single-task the sort
    plan = _plan(QUERIES["token_zipf_fit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_vocab_stats_rank_is_two_phase(spark, sf_dir):
    # vocab_stats' output is inherently vocab-sized, so limit-first does
    # not apply; the global zipf_rank must come from the two-phase plan:
    # a sampled RANGE exchange (parallel per-slice sorts), with the
    # partition offsets arriving by BROADCAST.  The only SinglePartition
    # exchange allowed is the <= num_partitions-row offsets prefix sum.
    plan = _plan(QUERIES["vocab_stats"](spark, sf_dir))
    assert "rangepartitioning" in plan
    assert "BroadcastHashJoin" in plan
    # the pre-fix shape: row_number windowed directly over the vocab-
    # sized aggregate behind an Exchange SinglePartition feeding a Sort
    # of the full stats table.  Detect it structurally: every Window in
    # the plan must carry a partition spec (windowPartition col present).
    for line in plan.splitlines():
        ls = line.strip()
        if ls.startswith("Window ") or ls.startswith("*Window "):
            assert "_rank_pid" in ls or "windowspecdefinition(_rank" in ls


def test_customer_rfm_approx_no_global_sort(spark, sf_dir):
    # the production RFM path must never funnel the per-customer rollup
    # through a single task: no unpartitioned window (the exact twin's
    # three ntile sorts) and no global Sort before an Exchange
    # SinglePartition of the rollup — the only allowed plan is sketch
    # aggregate + broadcast + conditional aggregate
    plan = _plan(QUERIES["customer_rfm_approx"](spark, sf_dir))
    assert "Window" not in plan
    assert "ntile(" not in plan  # "ntile" alone matches perceNTILE_approx
    assert "BroadcastExchange" in plan


# -- round-9 second wave ------------------------------------------------------


def test_redundant_dims_kernel_runs_once_and_broadcast_assembly(spark, sf_dir):
    # the Arrow Gram kernel reduces each partition to one D×D partial;
    # the persist barrier must make every downstream branch read the
    # cached moments table (never re-run the corpus-sized kernel), the
    # D-row stats tables must arrive by BROADCAST join, and the final
    # cut must be TakeOrdered — no global sort, no row-scaled shuffle
    df = QUERIES["embedding_redundant_dims"](spark, sf_dir)
    plan = _plan(df)
    assert "InMemoryTableScan" in plan  # persist barrier in place
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # posexplode-pair anti-pattern: nothing row-scaled may shuffle; the
    # only hash exchange is the tiny (i, j) moments aggregate
    assert "posexplode" not in plan.lower()


def test_session_path_two_natural_key_exchanges(spark, sf_dir):
    # all three window passes (lag flag, running session index, running
    # session-start rank) must ride ONE user_id exchange; the
    # per-(user, session) path rollup reuses that partitioning (clustered
    # distribution satisfied), so the only other exchange is the
    # path-keyed count; the top-K is TakeOrdered, never a global sort
    plan = _plan(QUERIES["session_path_topk"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    import re

    for m in re.finditer(r"Sort \[[^\]]*\], (\w+),", plan):
        assert m.group(1) == "false", f"global sort in plan: {m.group(0)}"


def test_ohlc_single_exchange_partial_struct_extrema(spark, sf_dir):
    # one (event_type, bucket) exchange with the struct min/max extrema
    # partially aggregated map-side — every map task compacts to one row
    # per group BEFORE the shuffle; no window, no join, no global sort
    plan = _plan(QUERIES["events_ohlc_downsample"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan and "partial_max" in plan
    assert "Window" not in plan
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert op not in plan
    import re

    for m in re.finditer(r"Sort \[[^\]]*\], (\w+),", plan):
        assert m.group(1) == "false", f"global sort in plan: {m.group(0)}"


def test_pq_topk_broadcast_scoring_no_cartesian_no_global_sort(spark, sf_dir):
    # PQ scoring must broadcast the per-query LUT maps over the code
    # table (the brute_force_topk shape at O(m_sub) per pair); training
    # joins broadcast the tiny codebooks; nothing may plan a cartesian
    # or a global sort, and the only window is the per-query top-k
    plan = _plan(QUERIES["ann_pq_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan or "BuildRight, Cross" in plan
    assert "BroadcastHashJoin" in plan
    import re

    for m in re.finditer(r"Sort \[[^\]]*\], (\w+),", plan):
        assert m.group(1) == "false", f"global sort in plan: {m.group(0)}"


def test_label_propagation_natural_key_exchanges_only(spark, sf_dir):
    # every LPA round is a src-keyed join + (dst, community) count +
    # algebraic struct-min argmax + a vid-keyed left join — natural-key
    # exchanges of two-long rows; no cartesian, no global sort
    plan = _plan(QUERIES["knn_label_communities"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    import re

    for m in re.finditer(r"Sort \[[^\]]*\], (\w+),", plan):
        assert m.group(1) == "false", f"global sort in plan: {m.group(0)}"


# -- ANN top-k: one exact cut, pruned per partition by Spark ------------------

_ANN_TOPK_QUERIES = (
    "ann_bruteforce_topk",
    "ann_hard_negatives",
    "ann_ivf_topk",
    "ann_hyperplane_topk",
    "ann_sq8_rerank_topk",
    "ann_pq_topk",
    "ann_filtered_topk",
)


def _partial_topk_limits(plan: str) -> list[int]:
    """Limits of the partial ``WindowGroupLimit``s whose parent is the
    per-query hash ``Exchange``: the per-partition top-k Spark runs
    below the shuffle of a ``row_number`` ≤ k cut."""
    import re

    lines = plan.splitlines()
    return [
        int(m.group(1))
        for above, line in zip(lines, lines[1:])
        if "Exchange hashpartitioning(query_id#" in above
        and (
            m := re.search(
                r"WindowGroupLimit \[query_id#\d+L?\], .*row_number\(\), (\d+), Partial",
                line,
            )
        )
    ]


def test_ann_topk_cuts_pruned_by_partial_window_group_limit(spark, sf_dir):
    # every ANN top-k plan ends in _per_query_topk's row_number cut; the
    # pruning below its exchange is Spark's partial WindowGroupLimit, and
    # no plan crosses into Python for it.  pq_topk's only Python node is
    # the Arrow codebook assignment of its encode step
    # (_pq_assign_arrow: (id, m, sq) -> + cid).
    import re

    from mapreduceproject_spark.plans.similarity_queries import SQ8_RERANK, TOP_K

    for name in _ANN_TOPK_QUERIES:
        plan = _plan(QUERIES[name](spark, sf_dir))
        limits = _partial_topk_limits(plan)
        assert TOP_K in limits, (name, limits)
        if name == "ann_sq8_rerank_topk":
            # the adot candidate cut is pruned too, not only the rerank
            assert SQ8_RERANK * TOP_K in limits, limits
        pandas = [line for line in plan.splitlines() if "MapInPandas" in line]
        if name == "ann_pq_topk":
            assert pandas, "pq's Arrow codebook assignment is missing"
            for line in pandas:
                assert re.search(r"\[id#\d+L, m#\d+, sq#\d+, cid#\d+\]", line), line
        else:
            assert not pandas, (name, pandas)


def _assert_builds_start_no_job(spark, builds: dict) -> None:
    """Build each plan under its own job group: the build must start no
    Spark job, while its sink, run under the same group, does."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        for name, build in builds.items():
            group = f"build-{name}"
            sc.setJobGroup(group, group)
            df = build()
            assert tracker.getJobIdsForGroup(group) == [], name
            # the group does see jobs: the sink's run under it
            df.write.format("noop").mode("overwrite").save()
            assert tracker.getJobIdsForGroup(group), name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.catalog.clearCache()


TPCH_BENCH_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q6_forecast_revenue", "q12_late_shipments", "q18_large_orders",
)


def test_tpch_rebuild_starts_no_job(spark, sf_dir):
    # the first build of each query reads every table's schema once; the
    # catalog's schema memo answers every later build without a job
    for name in TPCH_BENCH_QUERIES:
        QUERIES[name](spark, sf_dir)
    _assert_builds_start_no_job(
        spark, {name: partial(QUERIES[name], spark, sf_dir) for name in TPCH_BENCH_QUERIES}
    )


# py4j commands the main thread may send to rebuild the six tpch plans.
# They send about 710 on a get_spark session: 12 for each of the 15
# load_table calls.  Each Column call capturing its Python call site
# (dataFrameDebugging enabled) brings that to about 2,000, and each
# load_table looking up the applicationId, setting a UTC timezone again
# and passing its path as a Java seq to about 810.
TPCH_REBUILD_PY4J_CEILING = 750


def test_tpch_rebuild_py4j_round_trip_budget(spark, sf_dir, monkeypatch):
    import threading

    for name in TPCH_BENCH_QUERIES:
        QUERIES[name](spark, sf_dir)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    main = threading.get_ident()
    sent: list[str] = []

    def recording(command, *args, **kwargs):
        if threading.get_ident() == main:
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", recording)
    for name in TPCH_BENCH_QUERIES:
        QUERIES[name](spark, sf_dir)
    monkeypatch.undo()
    assert not [c for c in sent if "PySparkCurrentOrigin" in c]
    assert 0 < len(sent) <= TPCH_REBUILD_PY4J_CEILING, len(sent)


def test_ann_operator_build_starts_no_job(spark, sf_dir):
    # building an ANN plan is lazy: no count or collect runs before the
    # caller's sink.  pq_topk is left out on purpose: pq_codebooks trains
    # and collects its codebook eagerly while the plan is built.
    from mapreduceproject_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    labeled = emb.withColumn("label", (F.col("vec_id") % 3).cast("long"))
    qs = emb.filter(F.col("vec_id") < 4)
    args = (emb, qs, "vec_id", "embedding", "vec_id", "embedding")
    builds = {
        "brute": lambda: sim.brute_force_topk(*args, k=5),
        "hard_negative": lambda: sim.hard_negative_topk(
            labeled, labeled.filter(F.col("vec_id") < 4),
            "vec_id", "embedding", "label", "vec_id", "embedding", "label", k=5,
        ),
        "ivf": lambda: sim.ivf_topk(*args, num_centroids="auto", nprobe=4, k=5),
        "hyperplane": lambda: sim.hyperplane_lsh_topk(
            *args, num_bits=6, k=5, num_tables=2
        ),
        "sq8": lambda: sim.sq8_rerank_topk(*args, dim=64, k=5),
        "filtered": lambda: QUERIES["ann_filtered_topk"](spark, sf_dir),
    }
    _assert_builds_start_no_job(spark, builds)
