"""Named-query registry: the engine's public query surface.

Every operator claimed in SURVEY §2 registers here as a callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB
oracle SQL string over the same parquet tables.  The driver — and our own
tests/test_oracle_parity.py — runs both sides and compares row count,
schema, and an order-insensitive value hash.

Column-name discipline: alias every computed column identically in the
Spark plan and the oracle SQL; the comparison sorts columns by name.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# The driver's correctness window covers the first 50 registry entries in
# order.  The rotation ledger: rounds 1-4 each produced a 50/50-green
# CORRECTNESS_r0N.json (0 failures ever recorded); with 177 registered
# queries the window must rotate, and the invariant we maintain is
# (a) no entry's newest row predates its current algorithm, and
# (b) rows age oldest-first.  After round 4: every entry has an
# r3/r4 driver row EXCEPT the 26 round-4 additions (never driver-run;
# full-surface parity only) and 5 one-expression wrappers on r1 rows —
# exactly the 31 the round-4 verdict directed to lead this window.
# Round-5 window (first 50), in order:
#   1-26:  the 26 never-driver-verified round-4 additions, in their
#          round-4 registration order.
#   27-31: the five r1-row wrappers (grep, line_count, kv_swap,
#          scalar_functions, date_functions).
#   32-36: NEW round-5 queries (ngram_jaccard_est_recall — the capped
#          fallback's recall gauge; equidepth_histogram_approx /
#          quality_calibration_approx — the approx-ntile production
#          twins; psi_distribution_drift — the PSI data-quality gate;
#          stratified_fixed_k_sample), never driver-run by definition.
#   37-40: entries whose ALGORITHM or default configuration changed
#          this round and therefore need a fresh row: ann_lsh_recall
#          (gauge reconfigured 8-bit/4-table -> 6-bit/6-table, values
#          changed), kmeans_embeddings + dedup_semantic (piecewise
#          auto-k policy + distributed-centroid carrier default),
#          dedup_embedding_cosine (piecewise auto-C policy — same
#          value at fixture scale, but the in-plan cutoff expression
#          changed).
#   41-50: refill with the OLDEST remaining rows: r2-row entries in
#          their CORRECTNESS_r02 order.
# Round-6 window (first 50), in order:
#   1-3:   the three round-5 late additions, never driver-run
#          (batch_sessionize, embedding_dim_stats, dedup_source_report —
#          registered after the r5 window froze; builder parity only).
#   4-6:   round-6 algorithm changes/additions: ngram_jaccard_est_recall
#          (now measures the NEW default fallback — the exact
#          prefix-light path — so its values changed from the r5 row),
#          ngram_jaccard_capped_recall (new name for the r5 capped-char
#          measurement), dedup_incremental_stream (new: streaming twin
#          of the ingest near-dup gate).
#   7-41:  refill with the OLDEST remaining rows: the 35-entry r2-row
#          tail, oldest-first (the rotation round 5's ledger promised).
#   42-50: the next-oldest remaining rows: r3-row entries in
#          registration order (everything else holds an r4/r5 row).
#          Eight fit; the ninth listed below (bigram_lm_top) leads the
#          tail at slot 51.
# Round-7 window: identical to round 6 (the round had one code change —
# the ingest gate's crash-replay fix, whose query was already in the
# window); CORRECTNESS_r07 re-recorded all 50 green.
# Round-8 window (first 50), in order:
#   1-2:   round-8 additions (second wave), never driver-run:
#          dedup_ngram_containment (asymmetric containment near-dup,
#          one-sided prefix filter) and interval_overlap_join (the
#          bin-replicated equi-join replacing a non-equi cartesian).
#   3-4:   round-8 additions (first wave), never driver-run:
#          dedup_ngram_sharded (the doc-sharded exact ngram plan — same
#          oracle as dedup_ngram_jaccard, pinning pass-decomposition
#          exactness) and dedup_minhash_bucket_stats (the LSH occupancy
#          histogram behind the third-decade attribution).
#   5:     dedup_incremental_stream — the gate's generation listing
#          moved to the Hadoop FS API and foreign-checkpoint refusal
#          landed this round; output semantics unchanged, re-verified.
#   6-38:  refill with the OLDEST remaining rows: the 33 entries whose
#          newest driver row is r3, in CORRECTNESS_r03 order.
#   39-50: next-oldest: the first 12 r4-row entries in CORRECTNESS_r04
#          order (dedup_minhash_lsh and dedup_ngram_jaccard — the two
#          operators this round's scale work touched — land here
#          naturally as oldest r4 rows; the last two r4 names the
#          first-wave comment counted at slots 49-50 move just past the
#          window and lead the next rotation).
# Round-9 window (first 50), in order:
#   1-2:   NEW this round (first wave), never driver-run:
#          customer_rfm_approx (the exact query's approx-ntile
#          production twin) and ngram_jaccard_triage_recall (the
#          escalate_above triage-escalation gauge — routing +
#          routed-mode values).
#   3-9:   NEW this round (second wave), never driver-run:
#          embedding_redundant_dims (Arrow Gram-kernel dimension-pair
#          correlations), session_path_topk (gap-session event paths),
#          events_ohlc_downsample (struct-extrema candle rollup),
#          stream_ohlc_downsample (its streaming twin, same oracle),
#          ann_pq_topk (product-quantization ADC ANN),
#          ann_pq_recall (its brute-force recall gauge), and
#          knn_label_communities (self-voting label propagation).
#   10-11: plan changed this round, fresh rows needed: token_zipf_fit
#          (vocab cut by TakeOrdered before the rank window) and
#          vocab_stats (zipf_rank now the two-phase distributed rank).
#          Both bit-identical by construction — the fresh row proves it.
#   12-46: refill with the OLDEST remaining rows: the 35 entries whose
#          newest driver row is r4 (the two the round-8 ledger promised
#          would lead — q5_region_revenue, join_inner_enrich — first),
#          in CORRECTNESS_r04 order.
#   47-50: next-oldest: the first 4 r5-row entries in CORRECTNESS_r05
#          order (the seven r5 names after them — ann_sq8_rerank_topk's
#          successors in the list: zorder_layout_extents onward through
#          dedup_minhash_recall — move just past the window and lead the
#          next rotation).  After this round the oldest remaining
#          evidence is r5.
# Round-10 window (first 50): 3 new queries (bpe_merge_topk,
#   nb_quality_score, knn_community_modularity), 10 plan-changed ANN/LPA
#   entries (the Arrow per-partition top-k prune + Arrow-PQ-assignment
#   round), then the 37 oldest remaining rows (r5, in CORRECTNESS_r05
#   order); the five r5 names after the cut lead the next rotation.
# Round-11 window (first 50): see the inline comments in _FRONT below —
#   27 entries whose PLAN changed in this optimization round (the
#   window-free knn edge build's bounded two-level top-k + NULL-cosine
#   fix, the size-adaptive ANN Arrow prune, the kmeans assignment
#   aggregate, the fused keep-best, CC 2-hop batching, single-pass DSIR,
#   langid pre-aggregation, the BPE state pin, the layout single-count +
#   distributed-rank lineage pin), then the 12 round-10 REWRITTEN dedup/
#   ngram/minhash paths the round-10 verdict asked the driver to re-earn
#   independently (its rotating window reached only 6 of the ~22
#   rewritten paths), then the 11 oldest remaining rows: the eight r5
#   names the round-10 ledger promised plus the first three r7 rows
#   (batch_sessionize, embedding_dim_stats, dedup_source_report).  After
#   this round the oldest remaining evidence is r7.
# Next window: the four entries ahead of the round-11 block changed after
#   the round-11 window and have only the in-repo parity run as evidence
#   (bm25_search, market_basket_lift and nb_quality_score were rewritten
#   in round 11; maple_juice_word_count's mapper now compiles to Catalyst).
#   pagerank_knn, whose edge pin now goes through ckpt(), is already in
#   the kNN block.
# Names absent from the registry are ignored (a pytest guards against
# typos).  Every registry entry, windowed or not, is parity-checked
# in-repo against its DuckDB oracle at sf0.001
# (tests/test_oracle_parity.py), and the whole surface is re-checked at
# the driver's sf0.01 each round (scripts/window_check.py all ->
# measurements/parity_sf0.01_r0N.json).
_FRONT: tuple[str, ...] = (
    "bm25_search",
    "market_basket_lift",
    "nb_quality_score",
    "maple_juice_word_count",
    # -- round-11 window -----------------------------------------------
    # 1-6: the kNN graph family — knn_edges_ivf's top-k became a bounded
    #      TWO-LEVEL aggregate with the NULL-cosine ordering fix
    #      (operators/graph.py; round-10 verdict #1 + advice medium).
    "knn_degree_hist",
    "knn_triangle_census",
    "knn_bfs_reach",
    "knn_label_communities",
    "knn_community_modularity",
    "pagerank_knn",
    # 7-13: the ANN tier — every plan changed with the size-adaptive
    #      Arrow top-k prune (since replaced by Spark's partial
    #      WindowGroupLimit on the one row_number cut); pq derives its
    #      sub-vectors from the raw corpus vectors (_pq_subvectors), not
    #      from a shared quantized side.
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "ann_hard_negatives",
    "ann_filtered_topk",
    "ann_hyperplane_topk",
    "ann_sq8_rerank_topk",
    "ann_pq_topk",
    # 14-17: the gauges composing those rewritten rankers.
    "ann_ivf_recall",
    "ann_lsh_recall",
    "ann_pq_recall",
    "hybrid_rrf_retrieval",
    # 18-19: kmeans assignment window -> max(struct) aggregate
    #      (operators/clustering.py), consumed by both.
    "kmeans_embeddings",
    "dedup_semantic",
    # 20-21: fused keep-best struct-min + connected-components 2-hop
    #      checkpoint batching (plans/dedup_queries.py, operators/dedup.py).
    "dedup_keep_best",
    "dedup_clusters",
    # 22-24: single-pass DSIR feature stream; langid per-(doc,gram)
    #      pre-aggregation; BPE initial-state lineage pin.
    "dsir_importance_weights",
    "text_langid_ngram",
    "bpe_merge_topk",
    # 25-27: layout audit single count; distributed_rank's persist ->
    #      lazy localCheckpoint swap was built and reverted
    #      (operators/ranking.py kept persist), so vocab_stats and
    #      token_zipf_fit plans did not change.
    "zorder_layout_extents",
    "vocab_stats",
    "token_zipf_fit",
    # 28-39: the round-10 REWRITTEN paths the round-10 verdict's ask #7
    #      front-loads so CORRECTNESS_r11 re-earns them independently
    #      (the builder's full-surface parity artifact was the only
    #      evidence for these last round).
    "dedup_ngram_jaccard",
    "dedup_ngram_sharded",
    "dedup_ngram_containment",
    "dedup_simhash",
    "dedup_incremental_stream",
    "dedup_minhash_lsh",
    "dedup_incremental_minhash",
    "cross_source_shingle_overlap",
    "ngram_jaccard_est_recall",
    "ngram_jaccard_capped_recall",
    "ngram_jaccard_triage_recall",
    "dedup_minhash_recall",
    # 40-50: refill with the OLDEST remaining rows: the eight r5 names
    #      the round-10 ledger promised would lead, then the first three
    #      r7 rows in CORRECTNESS_r07 order.
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q16_parts_supplier_diversity",
    "q20_concentrated_suppliers",
    "dedup_span_exact",
    "text_unigram_logprob",
    "curation_funnel_report",
    "agg_approx_distinct",
    "batch_sessionize",
    "embedding_dim_stats",
    "dedup_source_report",
)


def _ordered(names: list[str]) -> list[str]:
    # first occurrence wins: a name may be re-queued in _FRONT's priority
    # block while still listed in the re-verification section below it
    seen: set[str] = set()
    front = [
        n for n in _FRONT if n in names and not (n in seen or seen.add(n))
    ]
    rest = [n for n in names if n not in seen]
    return front + rest


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is DuckDB SQL or None (rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {n: QUERIES[n] for n in _ordered(list(QUERIES))}


def oracle_sql() -> dict[str, str]:
    return {n: ORACLES[n] for n in _ordered(list(ORACLES))}
