"""Dedup-operator unit tests beyond oracle parity: the durable-checkpoint
path for iterative connected components, and multi-probe recall."""

from __future__ import annotations

import glob

from mapreduceproject_spark.operators import dedup as dd


def _cc(spark, checkpoint_dir=None):
    # two chains and a singleton-free triangle: {1,2,3,4}, {10,11}, {20,21,22}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["id_a", "id_b"],
    )
    rows = dd.connected_components(edges, checkpoint_dir=checkpoint_dir).collect()
    return {r["id"]: r["cluster_id"] for r in rows}


def test_connected_components_local_checkpoint(spark):
    got = _cc(spark)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches lineage truncation to reliable storage —
    same labels, and checkpoint files actually land in the directory
    (what survives executor loss on a real cluster)."""
    ckpt = str(tmp_path / "cc_ckpt")
    got = _cc(spark, checkpoint_dir=ckpt)
    assert got == _cc(spark)
    assert glob.glob(f"{ckpt}/*/rdd-*"), "reliable checkpoint files must exist"


def test_embedding_near_dup_multiprobe_superset(spark):
    """nprobe=2 must find every pair single-probe finds (candidates only
    grow) plus boundary pairs split across adjacent cells."""
    import random

    rng = random.Random(3)

    def vec(base, eps):
        return [b + eps * rng.random() for b in base]

    rows = []
    # two well-separated directions; near-dups straddle cell boundaries
    for i in range(40):
        base = [1.0, 0.0, 0.2] if i % 2 == 0 else [0.0, 1.0, 0.2]
        rows.append((i, vec(base, 0.3)))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    single = {
        (r["id_a"], r["id_b"])
        for r in dd.embedding_near_dup(
            emb, "vec_id", "embedding", num_centroids=4, threshold=0.9, nprobe=1
        ).collect()
    }
    multi = {
        (r["id_a"], r["id_b"])
        for r in dd.embedding_near_dup(
            emb, "vec_id", "embedding", num_centroids=4, threshold=0.9, nprobe=2
        ).collect()
    }
    assert single <= multi
    assert len(multi) >= len(single)


def test_edit_distance_dedup_invariants(spark):
    """Canonical ordering, threshold bound, and zero-distance for
    byte-identical prefixes sharing a block."""
    from mapreduceproject_spark.operators.dedup import edit_distance_dedup

    rows = [
        (1, "en", 20, "hello world padding xyz"),
        (2, "en", 21, "hello world padding xyzq"),   # 1 edit inside prefix
        (3, "en", 20, "hello world padding xyz"),    # identical to 1
        (4, "en", 300, "hello world padding xyz"),   # same text, len-band excluded
        (5, "de", 20, "hello world padding xyz"),    # same text, lang-block excluded
        (6, "en", 20, "zzzzz totally different"),    # different block prefix
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long, text string")
    out = edit_distance_dedup(
        df, "doc_id", "text", block_cols=["lang"], length_col="n_chars",
        prefix_chars=40, block_prefix=4, length_band=8, max_dist=5,
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["edit_dist"] for r in out}
    assert all(a < b for a, b in pairs)                  # canonical order
    assert all(d <= 5 for d in pairs.values())           # threshold bound
    assert pairs[(1, 3)] == 0                            # identical -> 0
    assert pairs[(1, 2)] == 1                            # one insertion
    assert (1, 4) not in pairs and (3, 4) not in pairs   # length band enforced
    assert not any(5 in p for p in pairs)                # lang block enforced
    assert not any(6 in p for p in pairs)                # prefix block enforced


def test_semantic_dedup_hand_truth(spark):
    """4-dim hand fixture, k=2, 0 Lloyd iterations (centroids = ids 0,1):
    cluster membership and drop/keep decisions are checkable by eye.

    Vectors: 0=[1,0,0,0] (centroid A), 1=[0,1,0,0] (centroid B),
    2=[1,.01,0,0] (cluster A, ~dup of 0), 3=[.9,.45,0,0] (cluster A,
    cos~0.89 to 0 — also above thr), 4=[0,.99,.14,0] (cluster B, ~dup
    of 1), 5=[0,0,.1,1] (cluster B by tie-margin, far from everyone).
    """
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0, 0.0]),
        (3, [0.9, 0.45, 0.0, 0.0]),
        (4, [0.0, 0.99, 0.14, 0.0]),
        (5, [0.0, 0.0, 0.1, 1.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["keeper_id"], r["cluster_id"])
        for r in dd.semantic_dedup(
            spark, vecs, "vec_id", "embedding", k=2, iterations=0, threshold=0.8
        ).collect()
    }
    # Cluster A = {0,2,3}: keep-priority ranks 3 (farthest from centroid 0)
    # first, then 2, then 0.  cos(3,2)~0.90 >= .8 so 2 is dropped by 3;
    # cos(0,3)~0.89 so 0 is dropped by 3 (earliest dominator).
    # Cluster B = {1,4,5}: 5 is kept (rank 1, far from all), 4 kept?
    # cos(4,5)~0.15 < .8 -> 4 survives 5; then 1 dropped by 4 (cos~0.99).
    assert got == {2: (3, 0), 0: (3, 0), 1: (4, 1)}


def test_semantic_dedup_pair_work_is_intra_cluster(spark):
    """Survivor set property: every reported vec_id names a keeper in the
    SAME cluster with higher keep priority, and no surviving pair within
    a cluster exceeds the threshold unless the later one is reported."""
    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    dropped = dd.semantic_dedup(
        spark, vecs, "vec_id", "embedding", k=4, iterations=1, threshold=0.9
    ).collect()
    for r in dropped:
        assert r["vec_id"] != r["keeper_id"]
        assert r["cosine"] >= 0.9


def test_semantic_dedup_auto_k_matches_explicit_floor(spark, sf_dir):
    """k='auto' on semantic dedup follows the IVF auto policy
    (max(16, n/125)); on the small fixture that's the floor, so results
    must equal explicit k=16 — the fixed-k (n/k)^2 cliff knob turned
    automatically, same contract as num_centroids='auto'."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fixed = dd.semantic_dedup(spark, emb, "vec_id", "embedding", k=16, threshold=0.4)
    auto = dd.semantic_dedup(spark, emb, "vec_id", "embedding", k="auto", threshold=0.4)
    assert sorted(map(tuple, fixed.collect())) == sorted(map(tuple, auto.collect()))


def test_minhash_bucket_cap_drops_viral_bucket_keeps_normal_pairs(spark):
    """max_bucket_size: 60 identical spam docs saturate one bucket per
    band (quadratic cliff); capped at 20 their pairs vanish while an
    ordinary near-dup pair in an uncapped bucket is still found."""
    spam = "buy cheap pills now best price limited offer click here fast"
    near_a = "the quick brown fox jumps over the lazy dog again and again"
    near_b = near_a + " ok"
    rows = [(i, spam) for i in range(1000, 1060)]
    rows += [(1, near_a), (2, near_b)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = dd.minhash_lsh_dedup(df, "doc_id", "text", threshold=0.3).collect()
    spam_pairs = [r for r in uncapped if r["id_a"] >= 1000]
    assert len(spam_pairs) == 60 * 59 // 2
    assert any(r["id_a"] == 1 and r["id_b"] == 2 for r in uncapped)

    capped = dd.minhash_lsh_dedup(
        df, "doc_id", "text", threshold=0.3, max_bucket_size=20
    ).collect()
    assert not any(r["id_a"] >= 1000 for r in capped)
    assert any(r["id_a"] == 1 and r["id_b"] == 2 for r in capped)


def test_minhash_lsh_candidate_recall_on_fixture(spark, sf_dir):
    """Recall gauge: LSH candidate pairs vs brute ground truth (all pairs
    with exact shingle-set jaccard >= 0.5, via the sparse co-occurrence
    join).  Theory for 12 hashes / 4 bands of 3: P(candidate | j) =
    1-(1-j^3)^4 — 0.41 at j=0.50 but 0.99+ at j>=0.9; the fixture's
    planted dups are high-jaccard, so measured recall must be ~1."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hashed = dd.shingle_hashes(docs, "doc_id", "text").persist()
    sizes = hashed.groupBy("_id").agg(F.count("*").alias("n"))
    co = (
        hashed.select(F.col("_id").alias("id_a"), "h")
        .join(hashed.select(F.col("_id").alias("id_b"), "h"), "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("both"))
    )
    truth = {
        (r["id_a"], r["id_b"])
        for r in co.join(sizes.select(F.col("_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .filter(F.col("both") / (F.col("na") + F.col("nb") - F.col("both")) >= 0.5)
        .collect()
    }
    sigs = dd.minhash_signatures(hashed, 12)
    cands = {
        (r["id_a"], r["id_b"])
        for r in dd.candidate_pairs_from_buckets(
            dd.lsh_band_buckets(sigs, 12, 4)
        ).collect()
    }
    assert truth, "fixture must contain true near-dup pairs"
    recall = len(truth & cands) / len(truth)
    assert recall >= 0.95, f"recall {recall} over {len(truth)} truth pairs"


def test_simhash_band_count_is_lossless_knob(spark, sf_dir):
    """Any num_bands > max_hamming yields bit-identical verified pairs
    (pigeonhole losslessness) — 5x13-bit banding gives 32x more buckets
    per band than the default 8x8 with zero recall change.  num_bands <=
    max_hamming must refuse loudly (it would silently lose pairs)."""
    import pytest as _pytest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dd.simhash_dedup(docs, "doc_id", "text", max_hamming=4).collect()
    }
    assert base, "fixture must contain simhash near-dups"
    for nb in (5, 6, 13):
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dd.simhash_dedup(
                docs, "doc_id", "text", max_hamming=4, num_bands=nb
            ).collect()
        }
        assert got == base, f"num_bands={nb} changed the verified pair set"
    with _pytest.raises(ValueError, match="lossy"):
        dd.simhash_dedup(docs, "doc_id", "text", max_hamming=4, num_bands=4)


def test_star_cc_matches_label_propagation(spark):
    """Alternating large/small-star CC must produce identical
    (id -> min-of-component) labels as min-label propagation on every
    graph shape: the hand graph, random graphs, stars, cliques."""
    import random

    def labels(fn, pairs):
        edges = spark.createDataFrame(pairs, ["id_a", "id_b"])
        return {r["id"]: r["cluster_id"] for r in fn(edges).collect()}

    cases = [
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        [(5, 1), (5, 2), (5, 3), (5, 4)],                      # star at 5
        [(a, b) for a in range(4) for b in range(a + 1, 4)]    # clique
        + [(a, b) for a in range(10, 13) for b in range(a + 1, 13)],
    ]
    for seed in range(3):
        rnd = random.Random(seed)
        cases.append(
            list({tuple(sorted(rnd.sample(range(40), 2))) for _ in range(50)})
        )
    for pairs in cases:
        a = labels(dd.connected_components, pairs)
        b = labels(dd.connected_components_star, pairs)
        assert a == b, f"divergence on {pairs[:5]}..."


def test_star_cc_converges_where_diameter_bound_fails(spark):
    """The adversarial case SCALING.md's cliff list names: a 120-node
    path has diameter 119, so min-label propagation capped at 12 rounds
    CANNOT finish (labels spread one hop per round), while the star
    alternation contracts it in O(log n) rounds and returns the exact
    component labels."""
    pairs = [(i, i + 1) for i in range(119)]
    edges = spark.createDataFrame(pairs, ["id_a", "id_b"])

    star = {
        r["id"]: r["cluster_id"]
        for r in dd.connected_components_star(edges, max_iter=12).collect()
    }
    assert star == {i: 0 for i in range(120)}

    plain = {
        r["id"]: r["cluster_id"]
        for r in dd.connected_components(edges, max_iter=12).collect()
    }
    assert any(v != 0 for v in plain.values()), (
        "diameter-bound propagation unexpectedly converged in 12 rounds"
    )


_NGRAM_KW = dict(
    block_cols=["lang"], length_col="n_chars", n=3, length_band=8,
    threshold=0.55,
)


def _ngram_pairs(df):
    return {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in df.collect()
    }


def _ngram_truth(docs):
    """The independent truth: every blocked pair verified, no prefix
    filter."""
    return _ngram_pairs(dd._ngram_jaccard_blocked(docs, "doc_id", "text", **_NGRAM_KW))


def test_ngram_estimate_mode_matches_exact_pairs(spark, sf_dir):
    """The default plan (prefix-light) is EXACT: PPJoin's prefix theorem
    holds under any total order, so pairs AND jaccard values must equal
    the blocked cross-product's — not probabilistically close,
    bit-identical — and the attached observation reports zero drops."""
    from pyspark.sql import Observation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    truth = _ngram_truth(docs)
    obs = Observation()
    got = _ngram_pairs(
        dd.ngram_jaccard_dedup(
            docs, "doc_id", "text", loss_observation=obs, **_NGRAM_KW
        )
    )
    assert truth and got == truth
    assert obs.get["bucket_rows_dropped"] == 0 and obs.get["bucket_rows_total"] > 0


def test_ngram_auto_prefix_light_plan_info_reports_exact(spark, sf_dir):
    """With no options the plan resolves driver-side, before any pair
    job, to the exact prefix-light route — plan_info names the route and
    carries no triage cap, so a consumer never classifies an exact run
    as a lossy sketch."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    info = {}
    out = dd.ngram_jaccard_dedup(docs, "doc_id", "text", plan_info=info, **_NGRAM_KW)
    assert info == {
        "route": "prefix_light",
        "shards": None,
        "triage_cap": None,
        "light_scratch_exceeds": False,
    }
    assert out.count() > 0


def test_ngram_char_cap_loss_is_machine_readable(spark, sf_dir):
    """The capped char-minhash triage mode must surface its loss IN-BAND:
    the observation reports how many bucket-membership rows the cap
    dropped on the same job — a pipeline caller reads the saturated
    fraction from observation.get, never from stdout."""
    from pyspark.sql import Observation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    obs, info = Observation(), {}
    out = dd.ngram_jaccard_dedup(
        docs, "doc_id", "text", triage_cap=50, loss_observation=obs,
        plan_info=info, **_NGRAM_KW,
    )
    out.collect()
    got = obs.get
    assert got["bucket_rows_dropped"] > 0
    assert got["bucket_rows_total"] >= got["bucket_rows_dropped"]
    assert info["route"] == "triage" and info["triage_cap"] == 50


def test_ngram_exact_mode_plan_info_and_bad_candidates(spark, sf_dir):
    """Option combinations that have no plan raise up front instead of
    silently running some default: a single shard, a triage cap next to
    shards or escalate_above (triage is its own route), and a
    non-positive cap."""
    import pytest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for bad, match in (
        (dict(shards=1), "shards must be >= 2"),
        (dict(shards=0), "shards must be >= 2"),
        (dict(triage_cap=64, shards=2), "triage_cap combines"),
        (dict(triage_cap=64, escalate_above=10), "triage_cap combines"),
        (dict(triage_cap=0), "triage_cap must be >= 1"),
    ):
        with pytest.raises(ValueError, match=match):
            dd.ngram_jaccard_dedup(docs, "doc_id", "text", **bad, **_NGRAM_KW)


def test_ngram_estimate_bucket_cap_is_bounded_subset(spark, sf_dir):
    """triage_cap is the triage mode's viral-bucket valve: a cap above
    every bucket drops nothing, capped output must be a SUBSET of that
    (it only drops pairs whose every shared-minimum bucket is saturated)
    and of the exact truth, and a tiny cap must actually shrink the pair
    set on this fixture (whose background char-trigram similarity
    concentrates ~80% of docs into one bucket per band — the measured
    341 M-candidate shape at 100×)."""
    from pyspark.sql import Observation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def pairs(cap, obs=None):
        return _ngram_pairs(
            dd.ngram_jaccard_dedup(
                docs, "doc_id", "text", triage_cap=cap, loss_observation=obs,
                **_NGRAM_KW,
            )
        )

    obs = Observation()
    uncapped = pairs(10**9, obs)
    assert obs.get["bucket_rows_dropped"] == 0
    assert uncapped <= _ngram_truth(docs)
    capped = pairs(50)
    assert capped <= uncapped
    assert len(capped) < len(uncapped)


def test_ngram_auto_announces_light_scratch_overrun(
    spark, sf_dir, monkeypatch, capsys
):
    """When the prefix-light scratch estimate exceeds the headroom AND
    bounding it would need more than NGRAM_MAX_SHARDS doc shards
    (free=1 byte forces an astronomical shard count), the default still
    runs the exact single-pass plan but SAYS so machine-readably up
    front — the caller decides between a cluster and explicit lossy
    triage.  (When a sane shard count suffices, the sharded plan runs
    instead — test_ngram_auto_routes_to_sharded.)"""
    import collections
    import shutil as _shutil

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    du = collections.namedtuple("du", "total used free")
    monkeypatch.setattr(dd, "NGRAM_SCRATCH_FLOOR_BYTES", 0)
    monkeypatch.setattr(_shutil, "disk_usage", lambda p: du(2, 1, 1))
    info = {}
    out = dd.ngram_jaccard_dedup(docs, "doc_id", "text", plan_info=info, **_NGRAM_KW)
    assert info["route"] == "prefix_light" and info["shards"] is None
    assert info["light_scratch_exceeds"] is True
    assert "triage_cap=" in capsys.readouterr().out
    assert out.count() > 0  # the warning is advisory: fixture-scale completes


def test_ngram_routing_below_floor_never_shards(spark, sf_dir, monkeypatch, capsys):
    """Below NGRAM_SCRATCH_FLOOR_BYTES the default never reroutes, even
    with zero free bytes: a few GiB of scratch is affordable anywhere,
    and the registered query's plan must not depend on a crowded host's
    free disk."""
    import collections
    import shutil as _shutil

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    du = collections.namedtuple("du", "total used free")
    monkeypatch.setattr(_shutil, "disk_usage", lambda p: du(1, 1, 0))
    info = {}
    dd.ngram_jaccard_dedup(docs, "doc_id", "text", plan_info=info, **_NGRAM_KW)
    assert info["route"] == "prefix_light" and info["shards"] is None
    # the model does exceed 0 free bytes; only the floor keeps it single-pass
    assert info["light_scratch_exceeds"] is True
    assert "# ngram_jaccard_dedup" not in capsys.readouterr().out


def test_ngram_sharded_exact_matches_exact(spark, sf_dir):
    """The doc-sharded plan is EXACT: pairs and jaccards bit-equal to
    the blocked truth at several shard counts (2 hits the minimum,
    3 exercises both diagonal and off-diagonal passes, 7 leaves some
    shards near-empty), and plan_info records the resolved plan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    truth = _ngram_truth(docs)
    assert truth
    for s in (2, 3, 7):
        info = {}
        got = _ngram_pairs(
            dd.ngram_jaccard_dedup(
                docs, "doc_id", "text", shards=s, plan_info=info, **_NGRAM_KW
            )
        )
        assert got == truth, f"shards={s} diverged from the blocked truth"
        assert info["route"] == "sharded" and info["shards"] == s
        # the candidate-mass checkpoint measures pass 0 and extrapolates
        # by pass-space fraction (diagonal pass covers 1/s^2)
        assert info["pass0_candidate_pairs"] >= 0
        assert (
            info["est_total_candidate_pairs"]
            == info["pass0_candidate_pairs"] * s * s
        )


def test_sharded_staged_mode_still_exact(spark, sf_dir, monkeypatch):
    """The adaptive decision un-stages fixture-scale passes, so the
    STAGED branch (the 1000x disk fix) keeps explicit coverage: zeroing
    the floor and the headroom forces it; staged output must equal
    unstaged output and plan_info must say which form ran."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def run(force_staged: bool):
        if force_staged:
            monkeypatch.setattr(dd, "NGRAM_SCRATCH_FLOOR_BYTES", 0)
            monkeypatch.setattr(dd, "NGRAM_SCRATCH_HEADROOM", 0.0)
        info: dict = {}
        rows = _ngram_pairs(
            dd.ngram_jaccard_dedup(
                docs, "doc_id", "text", shards=3, plan_info=info, **_NGRAM_KW
            )
        )
        monkeypatch.undo()
        return rows, info

    staged_rows, staged_info = run(True)
    plain_rows, plain_info = run(False)
    assert staged_info["pass_staging"] is True
    assert plain_info["pass_staging"] is False
    assert staged_rows == plain_rows and plain_rows


_SCRATCH_SCRIPT = """
import glob, sys
sys.path.insert(0, {repo!r})
from mapreduceproject_spark.session import get_spark
from mapreduceproject_spark.operators import dedup as dd
spark = get_spark(app_name="scratch-test", master="local[2]", shuffle_partitions=2)
scratch = dd._scratch_dir(spark)
docs = spark.read.parquet({sf!r} + "/documents.parquet")
pairs = dd.ngram_jaccard_dedup(docs, "doc_id", "text", shards=2, **{kw!r}).count()
print("RESULT", scratch, pairs, len(glob.glob(scratch + "/ngram-sharded-*")))
spark.stop()
"""


def test_sharded_scratch_under_spark_local_dirs_goes_with_the_jvm(sf_dir, tmp_path):
    """``_scratch_dir`` is the driver root Spark makes under
    ``SPARK_LOCAL_DIRS`` (which overrides ``spark.local.dir``), so the
    free-space probe prices the shuffle disk, and a sharded call's pass
    output is deleted with that root when the session's JVM exits."""
    import os
    import subprocess
    import sys
    import time
    from pathlib import Path

    local = tmp_path / "spark-local"
    local.mkdir()
    repo = Path(__file__).resolve().parent.parent
    script = _SCRATCH_SCRIPT.format(repo=str(repo), sf=sf_dir, kw=_NGRAM_KW)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env={**os.environ, "SPARK_LOCAL_DIRS": str(local)},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("RESULT"))
    _, scratch, pairs, live = line.split()
    assert Path(scratch).parent == local
    assert int(pairs) > 0 and int(live) == 1
    # Spark deletes its root in a JVM shutdown hook, which may still be
    # running when the Python process has returned
    deadline = time.monotonic() + 60
    while list(local.rglob("ngram-sharded-*")) and time.monotonic() < deadline:
        time.sleep(0.5)
    assert not list(local.rglob("ngram-sharded-*"))


def test_ngram_auto_routes_to_sharded(spark, sf_dir, monkeypatch):
    """The 1000x closure: when prefix-light's scratch estimate exceeds
    the headroom but a sane shard count bounds it, the default runs the
    EXACT doc-sharded plan (not the single-pass gamble, not lossy
    triage) and the output still equals the blocked truth."""
    import collections
    import shutil as _shutil

    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    truth = _ngram_truth(docs)
    light_need = 48 * docs.agg(F.sum("n_chars")).collect()[0][0]
    du = collections.namedtuple("du", "total used free")
    monkeypatch.setattr(dd, "NGRAM_SCRATCH_FLOOR_BYTES", 0)
    # free = light_need -> headroom 0.5 -> s_needed = ceil(2/0.5) = 4
    monkeypatch.setattr(
        _shutil, "disk_usage", lambda p: du(light_need * 2, light_need, light_need)
    )
    info = {}
    got = _ngram_pairs(
        dd.ngram_jaccard_dedup(docs, "doc_id", "text", plan_info=info, **_NGRAM_KW)
    )
    assert got == truth
    assert info["route"] == "sharded"
    assert info["shards"] == 4
    assert info["light_scratch_exceeds"] is True


def test_star_cc_raises_when_max_iter_exhausted(spark):
    """Exhausting max_iter before the star fixpoint must raise, never
    silently extract wrong labels from a non-contracted graph (the
    exact-labels contract in the docstring)."""
    import pytest

    pairs = [(i, i + 1) for i in range(119)]
    edges = spark.createDataFrame(pairs, ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="star fixpoint"):
        dd.connected_components_star(edges, max_iter=1)


def test_duplicate_clusters_star_backend_matches_default(spark, sf_dir):
    """The star backend must be a drop-in: identical (doc_id, cluster_id)
    assignments on the fixture's real minhash near-dup graph."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dd.minhash_lsh_dedup(docs, "doc_id", "text").select("id_a", "id_b")
    a = {tuple(r) for r in dd.duplicate_clusters(pairs).collect()}
    b = {tuple(r) for r in dd.duplicate_clusters(pairs, algorithm="star").collect()}
    assert a == b and a


def test_repeated_ngram_mask_hand_truth(spark):
    """Coverage math on a constructed corpus: docs A and B share one
    duplicated 3-token passage at DIFFERENT alignments (the case
    non-overlapping span dedup misses); C is unique; D is shorter than
    k so it cannot be masked."""
    docs = spark.createDataFrame(
        [
            (1, "x1 x2 dup1 dup2 dup3 y1 y2"),
            (2, "z1 dup1 dup2 dup3"),
            (3, "a b c d e f g"),
            (4, "p q"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in dd.repeated_ngram_mask_profile(docs, "doc_id", "text", k=3).collect()
    }
    assert rows[1]["n_tokens"] == 7 and rows[1]["n_masked"] == 3
    assert rows[2]["n_tokens"] == 4 and rows[2]["n_masked"] == 3
    assert rows[3]["n_masked"] == 0
    assert rows[4]["n_masked"] == 0 and rows[4]["mask_ratio"] == 0.0
    assert abs(rows[2]["mask_ratio"] - 0.75) < 1e-12


def test_repeated_ngram_mask_intra_doc_repeat(spark):
    """A passage repeated WITHIN one document counts toward the >=2
    threshold (ExactSubstr semantics): both occurrences mask."""
    docs = spark.createDataFrame(
        [(1, "r1 r2 r3 mid r1 r2 r3"), (2, "unrelated words only here")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in dd.repeated_ngram_mask_profile(docs, "doc_id", "text", k=3).collect()
    }
    assert rows[1]["n_masked"] == 6  # positions 1-3 and 5-7, not 'mid'
    assert rows[2]["n_masked"] == 0


def test_mahalanobis_outlier_hand_truth(spark):
    """A point far from a tight cluster must be flagged; cluster members
    must not.  Uses 2-dim vectors: d2 ≈ z1²+z2² per construction."""
    from mapreduceproject_spark.operators.similarity import (
        mahalanobis_outlier_scores,
    )

    base = [(i, [float(i % 5) / 100.0, float(i % 7) / 100.0]) for i in range(50)]
    far = [(99, [50.0, -50.0])]
    df = spark.createDataFrame(base + far, ["vec_id", "embedding"])
    rows = {r["vec_id"]: r for r in
            mahalanobis_outlier_scores(df, "vec_id", "embedding").collect()}
    assert rows[99]["is_outlier"]
    flagged = [i for i, r in rows.items() if r["is_outlier"]]
    assert flagged == [99]
    # scores are non-negative and the outlier dominates
    assert rows[99]["maha_d2"] > 10 * max(
        r["maha_d2"] for i, r in rows.items() if i != 99
    )


def test_lsh_band_buckets_rejects_nondivisible_bands(spark):
    """A bands count that doesn't divide num_hashes would silently drop
    trailing hashes from every bucket key — must raise instead."""
    import pytest

    df = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="must divide"):
        dd.minhash_lsh_dedup(df, "doc_id", "text", num_hashes=14, bands=4)


def test_connected_components_empty_pairs_terminates_clean(spark):
    """Zero near-dup pairs (a clean corpus) must converge immediately —
    the observe() sum over zero rows is NULL and needs the coalesce to
    trip the break — and return an empty labeling."""
    empty = spark.createDataFrame([], "id_a bigint, id_b bigint")
    out = dd.duplicate_clusters(empty)
    assert out.count() == 0


def test_source_report_matches_exact_dedup_keeper_rule(spark, sf_dir):
    """dedup_source_report promises to number the SAME pipeline
    dedup_exact runs: per source, n_removed must equal the docs that
    exact_dedup_groups' keeper rule (keep MIN(doc_id) per md5-prefix
    group) would discard.  Recomputed here from the operator's own
    output so a keeper-rule change in either place breaks this test."""
    from pyspark.sql import functions as F

    from mapreduceproject_spark.operators.dedup import exact_dedup_groups
    from mapreduceproject_spark.plans import QUERIES
    from mapreduceproject_spark.plans.dedup_queries import EXACT_PREFIX
    from mapreduceproject_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    key = F.substring("text", 1, EXACT_PREFIX)
    groups = exact_dedup_groups(docs, "doc_id", key)
    # removed = group members minus the keeper, attributed to THEIR source
    removed_per_source = {
        r["source"]: r["n"]
        for r in (
            docs.select("doc_id", "source", F.md5(key).alias("key_md5"))
            .join(groups.select("key_md5", "keeper"), "key_md5")
            .filter(F.col("doc_id") != F.col("keeper"))
            .groupBy("source")
            .agg(F.count("*").alias("n"))
            .collect()
        )
    }
    report = {
        r["source"]: r["n_removed"]
        for r in QUERIES["dedup_source_report"](spark, sf_dir).collect()
    }
    assert {s: n for s, n in report.items() if n > 0} == removed_per_source
    assert sum(removed_per_source.values()) > 0  # fixture has dup groups


def test_ngram_containment_hand_truth(spark):
    """Ordered semantics: the short doc quoted inside the long one scores
    containment 1.0 in the a-in-b direction ONLY; the unrelated doc pairs
    with neither."""
    short = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, short, "en"),
        (2, "PREFIX :: " + short + " :: SUFFIX padding text", "en"),
        (3, "zzz completely different content here zzz", "en"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dd.ngram_containment_dedup(
            docs, "doc_id", "text", block_cols=["lang"], n=3, threshold=0.9
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (2, 1) not in got  # asymmetric: the long doc is not contained
    assert not any(3 in k for k in got)


def test_ngram_containment_matches_bruteforce(spark, sf_dir):
    """The one-sided prefix filter is lossless: operator output equals a
    filter-free Python brute force (exact distinct-gram containment over
    every same-lang ordered pair) on the fixture corpus."""
    from collections import defaultdict

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    thr = 0.85  # off the registered 0.9 to exercise a second threshold
    got = {
        (r["id_a"], r["id_b"], round(r["containment"], 9))
        for r in dd.ngram_containment_dedup(
            docs, "doc_id", "text", block_cols=["lang"], n=3, threshold=thr
        ).collect()
    }
    grams: dict[int, set] = {}
    lang_docs = defaultdict(list)
    for r in docs.select("doc_id", "lang", "text").collect():
        t = r["text"].lower()
        gs = (
            {t[i : i + 3] for i in range(len(t) - 2)} if len(t) >= 3 else {t}
        )
        grams[r["doc_id"]] = gs
        lang_docs[r["lang"]].append(r["doc_id"])
    want = set()
    for ids in lang_docs.values():
        for a in ids:
            for b in ids:
                if a == b:
                    continue
                c = len(grams[a] & grams[b]) / len(grams[a])
                if c >= thr:
                    want.add((a, b, round(c, 9)))
    assert want and got == want


def test_ngram_mass_triage_escalation_contract(spark, sf_dir, monkeypatch, capsys):
    """escalate_above: past it the sharded exact run is abandoned at the
    pass-0 checkpoint (before its verify join is scheduled) and re-routes
    to the char-minhash triage with exact verify — output bit-equal to
    calling triage directly at NGRAM_TRIAGE_BUCKET_CAP, plan_info records
    the routing.  Below it, or with the default None past
    NGRAM_EXACT_CANDIDATE_CEILING (announced on stdout), the sharded run
    proceeds and stays exact."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    direct = _ngram_pairs(
        dd.ngram_jaccard_dedup(
            docs, "doc_id", "text", triage_cap=dd.NGRAM_TRIAGE_BUCKET_CAP,
            **_NGRAM_KW,
        )
    )
    info = {}
    escalated = _ngram_pairs(
        dd.ngram_jaccard_dedup(
            docs, "doc_id", "text", shards=2, escalate_above=-1,
            plan_info=info, **_NGRAM_KW,
        )
    )
    assert escalated == direct and direct
    assert info["route"] == "triage" and info["shards"] is None
    assert info["triage_cap"] == dd.NGRAM_TRIAGE_BUCKET_CAP
    assert info["est_total_candidate_pairs"] > -1  # checkpoint recorded

    truth = _ngram_truth(docs)
    info2 = {}
    below = _ngram_pairs(
        dd.ngram_jaccard_dedup(
            docs, "doc_id", "text", shards=2, escalate_above=10**18,
            plan_info=info2, **_NGRAM_KW,
        )
    )
    assert below == truth and info2["route"] == "sharded"

    capsys.readouterr()
    monkeypatch.setattr(dd, "NGRAM_EXACT_CANDIDATE_CEILING", -1)
    info3 = {}
    proceed = _ngram_pairs(
        dd.ngram_jaccard_dedup(
            docs, "doc_id", "text", shards=2, plan_info=info3, **_NGRAM_KW,
        )
    )
    assert proceed == truth and info3["route"] == "sharded"
    assert "proceeding as asked" in capsys.readouterr().out
