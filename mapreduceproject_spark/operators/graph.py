"""Link analysis over a similarity graph: PageRank on IVF-cell-bounded
kNN edges.

No reference analogue (its graph is the membership ring,
/root/reference/src/master_helpers.go:103-139 — topology, not data);
this is the corpus-centrality operator: rank documents/embeddings by how
often their neighbors' neighbors point back, for curation weighting or
representative selection.

Scale shape: edges come from within-IVF-cell pairs only (the same cell
assignment as ann_ivf_topk — one broadcast centroid pass), so edge
generation is Σ cell² not corpus², and every PageRank iteration is one
shuffle on dst plus a broadcast-free groupBy — the standard Pregel-free
DataFrame formulation.  Iterations are a fixed unrolled count
(deterministic, oracle-replicable), not convergence-tested.

Dangling nodes (empty cells of size 1 → no out-edges) simply leak their
mass: scores stay deterministic and comparable, we document rather than
redistribute (redistribution needs a per-iteration global scalar, a
needless barrier at this operator's job — relative ranking).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduceproject_spark.functions.vectors import prequantized_cosine

DAMPING = 0.85
# Fixed-point PageRank scale: scores are integers in units of 1e-12.
# Integer sums are order-independent, so two engines summing edge
# contributions in different orders still produce IDENTICAL scores —
# float inflow sums straddled value-hash rounding boundaries run-to-run.
PR_SCALE = 10**12


def knn_edges_ivf(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int | str = 16,
    k: int = 4,
    assign: str = "brute",
) -> DataFrame:
    """(src, dst) top-k cosine edges among same-IVF-cell vectors.

    Cell assignment matches ann_ivf_topk exactly: centroids are the
    vectors with id < num_centroids, cells by max quantized cosine
    (ties: lowest centroid id).  ``assign="twolevel"`` routes assignment
    through coarse quantization (operators/similarity.py::assign_cells)
    — the n·C scoring fix for corpus-scaled centroid counts.
    """
    from mapreduceproject_spark.operators.similarity import (
        _quantized_side,
        assign_cells,
        resolve_centroid_filter,
    )

    cq = _quantized_side(corpus, id_col, vec_col, "id")
    pick = resolve_centroid_filter(cq, F.col("id"), num_centroids)
    centroids = F.broadcast(
        pick(cq).select(
            F.col("id").alias("cid"), F.col("_q").alias("cq"), F.col("_n2").alias("cn2")
        )
    )
    if assign == "brute":
        # round-10: nprobe=1 brute assignment as ONE aggregate —
        # max(struct(cos, -cid)) picks the same (cos desc, cid asc)
        # winner as assign_cells' row_number window (NaN ordering agrees:
        # both treat NaN as greatest), with _q/_n2 riding the partial agg
        # at one row per id instead of a window exchange + sort + a
        # reattach join (guide §2.4; pytest pins edge equality vs
        # assign_cells on the fixture).
        scored = cq.crossJoin(centroids).select(
            "id",
            "_q",
            "_n2",
            "cid",
            prequantized_cosine(
                F.col("_q"), F.col("cq"), F.col("_n2"), F.col("cn2")
            ).alias("cos"),
        )
        cells = (
            scored.groupBy("id")
            .agg(
                F.max(
                    F.struct(
                        F.col("cos"),
                        (-F.col("cid")).alias("ncid"),
                        F.col("cid"),
                        F.col("_q"),
                        F.col("_n2"),
                    )
                ).alias("best")
            )
            .select(
                "id",
                F.col("best.cid").alias("cid"),
                F.col("best._q").alias("_q"),
                F.col("best._n2").alias("_n2"),
            )
            .persist()
        )
    else:
        cells = (
            assign_cells(cq, centroids, "id", nprobe=1, assign=assign)
            .select("id", "_q", "_n2", "cid")
            .persist()  # feeds BOTH sides of the pair self-join — without
            # the barrier the whole assignment pipeline runs twice
        )
    a = cells.select(
        F.col("cid"), F.col("id").alias("src"), F.col("_q").alias("qa"), F.col("_n2").alias("na")
    )
    b = cells.select(
        F.col("cid"), F.col("id").alias("dst"), F.col("_q").alias("qb"), F.col("_n2").alias("nb")
    )
    pairs = (
        a.join(b, "cid")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            prequantized_cosine(
                F.col("qa"), F.col("qb"), F.col("na"), F.col("nb")
            ).alias("cosine"),
        )
    )
    # top-k per src as a TWO-LEVEL aggregate (round 11): level 1 groups by
    # (src, spark_partition_id) — each group is one map partition's slice
    # of one src's candidates, so no aggregation buffer ever holds a whole
    # IVF cell (the round-10 single-level collect_list held |cell| structs
    # per src: an executor-OOM shape on one hot cell at scale, guide §5,
    # and a reduce-skew shape besides, §2.5) — and cuts each slice to its
    # local top-k; level 2 merges the ≤ P·k survivors per src.  Exactness:
    # (nc asc, dst asc) is a total order (dst is unique per src), and a row
    # among a src's k best overall is among the k best of whatever slice
    # holds it — fewer than k rows of that slice can precede it, since
    # they all precede it globally too.  So every global top-k row
    # survives level 1, level 2 cuts the same k rows, and the grouping key
    # only decides which partial list a row transits: the merged cut is
    # bit-identical for ANY partitioning.  sort_array(struct
    # (nc, dst)) is the same (cosine desc, dst asc) order as the retired
    # row_number window — nc COALESCEs a NULL cosine (zero-norm vector,
    # vectors.py's nullif) to +inf so it sorts LAST, matching the window's
    # desc-NULLS-LAST semantics (ascending struct order put NULL first,
    # which would have displaced real neighbors — round-10 advice).
    nc = F.coalesce(-F.col("cosine"), F.lit(float("inf"))).alias("nc")
    partial = (
        pairs.withColumn("_p", F.spark_partition_id())
        .groupBy("src", "_p")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct(nc, F.col("dst")))), 1, k
            ).alias("_t")
        )
    )
    return (
        partial.select("src", F.explode("_t").alias("_e"))
        .groupBy("src")
        .agg(F.slice(F.sort_array(F.collect_list("_e")), 1, k).alias("_t"))
        .select("src", F.explode("_t.dst").alias("dst"))
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    iterations: int = 2,
    damping: float = DAMPING,
    checkpoint_dir: str | None = None,
    ckpt_every: int = 3,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank in exact fixed-point arithmetic:
    p0 = SCALE/N (floor), then
    p_{t+1}(v) = floor((1-d)·SCALE/N) + Σ_{(u,v)} floor(d·p_t(u)/outdeg(u))
    with d as the rational damping·100/100 — every operation is integer,
    so the edge-contribution sum is order-independent and two engines (or
    two runs) produce bit-identical scores; float inflow sums differ in
    the last ulps run-to-run, enough to straddle a value-hash rounding
    boundary.  Each floor truncates < 1/SCALE of mass — invisible next
    to the documented dangling-node leak.

    N is kept in-plan (broadcast 1-row count); per iteration: one join
    edges→scores on src (shuffle on src, reusable), one groupBy dst.
    Output: (id_col, pr as double = p_int/SCALE) for every node.

    ``redistribute_dangling=False`` (default) deliberately LEAKS the
    mass of nodes with no out-edges — the recurrence the registered
    oracle replicates, documented in plans/similarity_queries.py.
    ``True`` adds the standard correction: each iteration aggregates the
    dangling nodes' current mass D (one extra broadcast 1-row aggregate)
    and every node additionally receives floor(d·D/(100·N)) — total mass
    then stays ~SCALE (up to floor truncation) like textbook PageRank.
    Off by default so existing oracle rows stay bit-identical.

    Every ``ckpt_every``-th iteration's score table is checkpointed, as
    are the input edges and the degree-joined edge table (local+lazy by
    default, durable when ``checkpoint_dir`` is given — same contract as
    connected_components): without the periodic lineage
    cut, iteration t's plan contains t copies of the join chain and
    Catalyst optimization time grows faster than the data does; cutting
    EVERY iteration wastes a materialization job each on short runs.
    """
    d_num = int(round(damping * 100))  # damping as an exact rational /100

    def ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is None:
            # lazy: the lineage cut happens at first materialization, so
            # no extra per-iteration job is spent eagerly caching frames
            # that the next iteration immediately consumes anyway
            return df.localCheckpoint(eager=False)
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint()

    # the bfs_hops rule: ``edges`` is consumed TWICE below — the
    # out-degree groupBy and the join's left side — and when it arrives as
    # an unmaterialized pipeline (the kNN edge build) both copies of that
    # build land in the one materialization job; the pin makes the second
    # consumer read the first's materialized partitions.
    edges = ckpt(edges)

    n_df = F.broadcast(nodes.agg(F.count("*").cast("long").alias("_n")))
    outdeg = edges.groupBy("src").agg(F.count("*").cast("long").alias("_deg"))
    ranked = (
        nodes.select(F.col(id_col).alias("_v"))
        .crossJoin(n_df)
        .select("_v", "_n", F.expr(f"{PR_SCALE}L div _n").alias("p"))
    )
    ed = ckpt(edges.join(outdeg, "src"))
    if redistribute_dangling:
        # the dangling-node SET is static across iterations — derive it
        # once and checkpoint, so the per-iteration mass aggregate joins
        # a materialized id list instead of re-running the whole
        # un-checkpointed edge pipeline (outdeg's groupBy over the raw
        # edge build) every iteration.
        dang_nodes = ckpt(
            nodes.select(F.col(id_col).alias("_v")).join(
                outdeg.select(F.col("src").alias("_v")),
                "_v",
                "left_anti",
            )
        )
    for it in range(iterations):
        contrib = (
            ed.join(ranked.select(F.col("_v").alias("src"), "p"), "src")
            .select(
                F.col("dst").alias("_v"),
                F.expr(f"({d_num}L * p) div (100L * _deg)").alias("c"),
            )
            .groupBy("_v")
            .agg(F.sum("c").cast("long").alias("inflow"))
        )
        base_p = F.expr(
            f"({100 - d_num}L * {PR_SCALE}L) div (100L * _n)"
        ) + F.coalesce(F.col("inflow"), F.lit(0).cast("long"))
        if redistribute_dangling:
            # dangling mass of the CURRENT scores, shared back uniformly:
            # one broadcast 1-row aggregate per iteration, integer floor
            dang = F.broadcast(
                ranked.join(dang_nodes, "_v").agg(
                    F.coalesce(F.sum("p"), F.lit(0)).cast("long").alias("_dm")
                )
            )
            ranked = (
                ranked.select("_v", "_n")
                .join(contrib, "_v", "left")
                .crossJoin(dang)
                .select(
                    "_v",
                    "_n",
                    (
                        base_p + F.expr(f"({d_num}L * _dm) div (100L * _n)")
                    ).alias("p"),
                )
            )
        else:
            ranked = (
                ranked.select("_v", "_n")
                .join(contrib, "_v", "left")
                .select("_v", "_n", base_p.alias("p"))
            )
        if redistribute_dangling or (it + 1) % ckpt_every == 0:
            # redistribute mode references the previous iteration's frame
            # THREE times (contrib, dangling aggregate, carry-through) —
            # without a per-iteration cut each consumer re-executes the
            # whole prior chain, compounding across iterations.  The
            # lazy localCheckpoint implies persist, so the three readers
            # share one materialization.
            ranked = ckpt(ranked)
    return ranked.select(
        F.col("_v").alias(id_col),
        (F.col("p").cast("double") / F.lit(float(PR_SCALE))).alias("pr"),
    )


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Distinct undirected closure {(src,dst)} ∪ {(dst,src)} in ONE pass
    over ``edges`` — the unionByName-of-swap form consumed the edge frame
    twice, and when it arrives as an unmaterialized pipeline (the kNN
    edge build) both copies of that build land in the same job (round
    11, guide §2.4).  An explode of the 2-element (row, swapped-row)
    array emits the identical pre-distinct multiset from a single
    consumption."""
    both = F.explode(
        F.array(
            F.struct(F.col("src"), F.col("dst")),
            F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
        )
    )
    return (
        edges.select(both.alias("_e"))
        .select(F.col("_e.src").alias("src"), F.col("_e.dst").alias("dst"))
        .distinct()
    )


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set (a < b) from a directed edge list —
    each kNN link counted once regardless of direction or duplication."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def undirected_degrees(und: DataFrame) -> DataFrame:
    """(v, deg) over a canonical undirected edge set — shared by the
    census and the histogram (SQL twin: _UND_DEG_CTES in
    plans/similarity_queries.py)."""
    return (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("deg"))
    )


def triangle_census(edges: DataFrame) -> DataFrame:
    """Global triangle census of the undirected graph: one row with node,
    edge, wedge and triangle counts plus the global clustering
    coefficient 3·T / wedges.

    The classic MR-style two-join formulation made cheap by canonical
    ordering: with every edge stored as (a < b), a wedge join
    (a,b)⋈(b,c) enumerates each ordered path a<b<c exactly once, and the
    closure join against (a,c) counts each triangle exactly once — no
    /3 deduplication pass, no symmetric 2× edge blow-up.  On a kNN graph
    the out-degree is bounded by k, so the wedge table is ≤ k²·|V| — the
    whole census is two bounded shuffles, linear in corpus size.  For
    skewed general graphs, the standard hardening is joining through the
    lower-degree endpoint first (node-iterator++); unnecessary here by
    construction.  All counts are exact int64; the coefficient is one
    int-ratio division, identical across engines.
    """
    # The canonical edge set feeds degree stats, the wedge join (twice)
    # and the closure join — without the barrier the whole upstream edge
    # pipeline (IVF cells + pair scoring, the expensive part) re-runs
    # once per consumer (measured 7.2 s -> ~2 s at sf0.1).
    und = undirected_edges(edges).persist()
    deg = undirected_degrees(und)
    dstats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        # coalesce: SUM over an empty graph is NULL, but this is a count
        F.coalesce(
            F.sum(F.expr("deg * (deg - 1L) div 2L")), F.lit(0)
        ).cast("long").alias("n_wedges"),
    )
    ecount = und.agg(F.count("*").cast("long").alias("n_edges"))
    wedge = (
        und.alias("e1")
        .join(und.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("a"),
            F.col("e2.b").alias("c"),
        )
    )
    tri = wedge.join(
        und.select(F.col("a"), F.col("b").alias("c")), ["a", "c"]
    ).agg(F.count("*").cast("long").alias("n_triangles"))
    return (
        dstats.crossJoin(F.broadcast(ecount))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                (3 * F.col("n_triangles")).cast("double")
                / F.col("n_wedges").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("global_clustering"),
        )
    )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Undirected degree distribution: (deg, n_nodes) — the first sanity
    plot of any similarity graph (a spiked histogram betrays duplicate
    clusters; a heavy tail betrays hub vectors that need salting in any
    downstream per-node join).  Two vocabulary-sized shuffles."""
    # both unionAll branches re-read the edge pipeline: persist once
    und = undirected_edges(edges).persist()
    return (
        undirected_degrees(und)
        .groupBy("deg")
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )


def bfs_hops(edges: DataFrame, seeds: DataFrame, id_col: str, max_hops: int = 4) -> DataFrame:
    """Multi-source BFS over a directed edge list: minimum hop distance
    (≤ ``max_hops``) from every seed to every vertex it reaches.

    Output: (seed, vid, dist) with dist ∈ [0, max_hops]; a vertex
    reachable from several seeds gets one row per seed.  The traversal
    is level-synchronous — per hop, one join of the CURRENT frontier
    (vertices first reached last hop) against ``edges`` on src, one
    distinct, one anti-join against the reached set — so each hop is
    two key-partitioned shuffles whose size is frontier·k, never
    corpus².  With a fixed fan-out k (the kNN graphs here) the frontier
    is bounded by seeds·k^hop; the unrolled hop count keeps the plan
    deterministic and oracle-replicable (the pagerank contract).  Each
    new frontier is lazily localCheckpoint'ed: max_hops is small, but
    the anti-join chain would otherwise nest hop plans inside one
    another.

    The edge list is checkpointed ONCE up front — it is consumed
    max_hops times, and when it arrives as an unmaterialized pipeline
    (the kNN edge build here) every hop would otherwise re-run that
    whole build (measured 4× cost at 4 hops).  The frontier side of each
    expansion is broadcast: seed-based exploration keeps it seeds·k^hop
    rows, so the per-hop join is one edge-scan map stage, no shuffle of
    the edge table.
    """
    edges = edges.localCheckpoint(eager=False)
    reached = seeds.select(
        F.col(id_col).alias("seed"),
        F.col(id_col).alias("vid"),
        F.lit(0).cast("long").alias("dist"),
    )
    frontier = reached
    for hop in range(1, max_hops + 1):
        nxt = (
            F.broadcast(frontier.alias("f"))
            .join(edges.alias("e"), F.col("f.vid") == F.col("e.src"))
            .select(
                F.col("f.seed").alias("seed"),
                F.col("e.dst").alias("vid"),
                F.lit(hop).cast("long").alias("dist"),
            )
            .distinct()
        )
        new = nxt.join(
            F.broadcast(reached.select("seed", "vid")), ["seed", "vid"], "left_anti"
        ).localCheckpoint(eager=False)
        reached = reached.unionByName(new)
        frontier = new
    return reached


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    rounds: int = 3,
    plan_info: dict | None = None,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    undirected closure of ``edges``: every vertex starts as its own
    community; each round it adopts the most common community among its
    neighbors AND itself (ties → lowest community id).  The self-vote is
    load-bearing: pure-neighbor synchronous updates oscillate on any
    bipartite structure (a 2-cycle swaps labels every round — caught by
    pytest before the self-vote landed), while including the current
    label breaks every swap tie toward convergence and keeps isolated
    vertices labeled for free.  Fixed ``rounds`` + deterministic ties
    remove update-order dependence and make the run oracle-replicable —
    the pagerank/BFS unrolled-iteration contract.  Unlike connected components (operators/dedup.py's
    alternating star), LPA respects DENSITY: a thin bridge between two
    dense kNN neighborhoods does not merge them, which is what a
    corpus-curation user wants from "group these embeddings".

    Scale shape: the symmetrized edge list is checkpointed once (the
    bfs_hops rule — it is consumed every round); each round is one
    src-keyed join (labels onto edges) + one (dst, community) count +
    one ALGEBRAIC struct-min argmax per dst + one left join back to the
    label table — all natural-key exchanges of two-long rows, never
    corpus², per-round volume E + V.  Label state is one long per
    vertex.  Output: (``id_col``, community).

    CONVERGENCE GAUGE (round-10; every approximate operator ships a
    measured number): when ``plan_info`` is given, each round attaches a
    ``DataFrame.observe`` counting labels that CHANGED that round, and
    the per-round checkpoint turns EAGER so the metric fires as the
    round materializes (a LAZY checkpoint swallows CollectMetrics — the
    observation event reports null once the plan reads the checkpointed
    RDD; measured, not theorized).  Gauge mode therefore runs the same
    per-round jobs the caller's action would run, just up front.
    ``plan_info["lpa_labels_changed"]`` holds per-round Observation
    objects whose ``.get["labels_changed"]`` is available as soon as
    this function returns; a tail of zeros means the fixed round budget
    converged, a non-zero tail means raise ``rounds`` (the
    dedup.py:plan_info in-band-reporting discipline).  The registered
    ``knn_community_modularity`` query is the quality half of the pair:
    an exact-integer modularity score over the final labels.
    """
    from pyspark.sql import Observation
    und = _symmetrize(edges).localCheckpoint(eager=False)
    labels = nodes.select(
        F.col(id_col).alias("vid"), F.col(id_col).cast("long").alias("community")
    )
    observations: list = []
    if plan_info is not None:
        plan_info["lpa_labels_changed"] = observations
    for _round in range(rounds):
        votes = (
            und.join(labels, und["src"] == labels["vid"])
            .select("dst", "community")
            .unionByName(
                labels.select(F.col("vid").alias("dst"), "community")
            )
        )
        tally = votes.groupBy("dst", "community").agg(
            F.count("*").cast("long").alias("n")
        )
        best = tally.groupBy("dst").agg(
            # struct-min argmax: most votes first (negated count), then
            # lowest community id — exact longs, engine-identical
            F.min(F.struct((-F.col("n")).alias("neg"), F.col("community")))
            .getField("community")
            .alias("new_community")
        )
        joined = labels.join(best, labels["vid"] == best["dst"], "left").select(
            "vid",
            F.col("community").alias("_prev"),
            F.coalesce(F.col("new_community"), F.col("community")).alias(
                "community"
            ),
        )
        if plan_info is not None:
            obs = Observation(f"lpa_round_{_round}")
            joined = joined.observe(
                obs,
                F.sum(
                    (F.col("community") != F.col("_prev")).cast("long")
                ).alias("labels_changed"),
            )
            observations.append(obs)
        labels = joined.select("vid", "community").localCheckpoint(
            eager=plan_info is not None
        )
    return labels.select(F.col("vid").alias(id_col), "community")


def community_modularity(
    labels: DataFrame,
    edges: DataFrame,
    id_col: str,
    community_col: str = "community",
) -> DataFrame:
    """Newman modularity of a community assignment over the undirected
    closure of ``edges`` — the quality gauge for
    :func:`label_propagation` (round-10: LPA joins the "every
    approximate operator ships a measured number" family; a fixed-round
    community run with no score is a result you can't compare across
    parameter choices).

    Q = Σ_c [ e_c/m − (deg_c / 2m)² ] over communities c, computed in
    the DOUBLED representation (every undirected edge appears in both
    directions, M2 = 2m, W = 2·Σe_c):

        Q = (W·M2 − Σ_c deg_c²) / M2²

    Exactness discipline (the knn_triangle_census oracle pattern): W,
    M2, and every deg_c are exact longs; the numerator's products and
    the Σdeg_c² sum run in decimal(38,0) (deg_c ≤ M2, so terms stay
    under 1e24 even at 10¹² edges — far inside 38 digits, where long
    arithmetic would wrap); ONE double conversion of the exact integer
    numerator, then two double divisions, token-identical in the oracle
    SQL.  Plan shape: one symmetrize+distinct, a src-keyed degree count,
    two label joins (natural keys), and three 1-row aggregates
    crossJoined — nothing corpus².

    Output: 1 row (n_vertices, n_communities, n_edges_und, modularity).
    """
    und = _symmetrize(edges).localCheckpoint(eager=False)
    lab = labels.select(
        F.col(id_col).alias("vid"), F.col(community_col).alias("community")
    )
    nstats = lab.agg(
        F.count("*").cast("long").alias("n_vertices"),
        F.countDistinct("community").cast("long").alias("n_communities"),
    )
    m2 = und.agg(F.count("*").cast("long").alias("n_edges_und"))
    deg = und.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    dcsq = (
        deg.join(lab, deg["src"] == lab["vid"])
        .groupBy("community")
        .agg(F.sum("d").cast("decimal(38,0)").alias("dc"))
        .agg(F.sum(F.col("dc") * F.col("dc")).alias("sumd2"))
    )
    within = (
        und.join(
            lab.select(F.col("vid").alias("src"), F.col("community").alias("ca")),
            "src",
        )
        .join(
            lab.select(F.col("vid").alias("dst"), F.col("community").alias("cb")),
            "dst",
        )
        .agg(F.sum((F.col("ca") == F.col("cb")).cast("long")).alias("within_und"))
    )
    num = (
        F.col("within_und").cast("decimal(38,0)")
        * F.col("n_edges_und").cast("decimal(38,0)")
        - F.col("sumd2")
    )
    return (
        nstats.crossJoin(m2)
        .crossJoin(within)
        .crossJoin(dcsq)
        .select(
            "n_vertices",
            "n_communities",
            "n_edges_und",
            F.when(
                F.col("n_edges_und") > 0,
                num.cast("double")
                / F.col("n_edges_und").cast("double")
                / F.col("n_edges_und").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("modularity"),
        )
    )
