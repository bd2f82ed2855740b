"""Text-analysis operators for LLM-data pipelines.

The reference's entire text processing is whitespace-splitting lines inside
user executables (/root/reference/src/node.go:919-931,
src/reduce_exe_word_count.go:20-32); these are the BASELINE.json
north-star extensions.  Everything is built from JVM-side column
expressions (no Python UDFs in any hot path) and every hash is the
portable hash60 so DuckDB oracles match bit-for-bit.

Scale notes, per operator:
- token/quality metrics: pure per-row projections — embarrassingly
  parallel, whole-stage-codegen'd, zero shuffle.
- langid: one explode+agg over (lang, gram) [small output: langs × grams],
  profiles broadcast back; per-doc scoring is a semi-join-sized agg.
- winnowing fingerprints: per-row array ops then one distinct — the
  fingerprint set is the scale-invariant artifact (used for copy
  detection / near-dup at corpus scale).
- tf-idf: two aggs (doc-term, term-df) + a broadcast scalar N; the
  doc-term agg is the only corpus-sized shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduceproject_spark.functions.hashing import hash60
from mapreduceproject_spark.functions.textfn import char_ngram_rows, tokens

# Portable ASCII-only token pattern — identical semantics in Java regex
# (Spark) and RE2 (DuckDB): letter runs, digit runs, single other-glyphs.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_PATTERN = r"[^A-Za-z0-9\s]"
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# The composite quality score over the three ratio columns — ONE
# arithmetic shape, referenced by quality_scores and every oracle that
# orders or filters on quality (identical doubles on both engines).
QUALITY_COMPOSITE_SQL = "1.0 - punct_ratio * 2.0 - digit_ratio + stopword_ratio * 0.5"


def duck_quality_ratio_cols(toks_expr: str, text_expr: str = "text") -> str:
    """DuckDB select-list fragment computing ``punct_ratio``,
    ``digit_ratio``, ``stopword_ratio`` — the oracle twin of
    :func:`quality_scores`' ratio columns (same regexes, same stoplist,
    same int/int-exact double divisions)."""
    stoplist = ", ".join(f"'{s}'" for s in STOPWORDS)
    # NULLIF mirrors the Spark side's zero-denominator guard: ratios are
    # NULL for empty/whitespace-only docs on BOTH engines (Spark ANSI
    # would otherwise raise DIVIDE_BY_ZERO; DuckDB would return NULL
    # unilaterally and diverge).
    return f"""CAST(len(regexp_extract_all({text_expr}, '{PUNCT_PATTERN}')) AS DOUBLE)
               / NULLIF(length({text_expr}), 0) AS punct_ratio,
             CAST(len(regexp_extract_all({text_expr}, '[0-9]')) AS DOUBLE)
               / NULLIF(length({text_expr}), 0) AS digit_ratio,
             CAST(len(list_filter({toks_expr}, t -> list_contains([{stoplist}], lower(t)))) AS DOUBLE)
               / NULLIF(len({toks_expr}), 0) AS stopword_ratio"""


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token accounting: whitespace tokens, BPE-ish regex
    tokens, chars — the 'how many tokens am I about to pay for' operator."""
    t = F.col(text_col)
    toks = tokens(t)
    return df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("n_chars_exact"),
        F.size(toks).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_PATTERN), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
        # NULL for token-free docs: Spark ANSI raises DIVIDE_BY_ZERO even
        # on double/0, so the guard is a crash fix, not a cosmetic one
        F.when(
            F.size(toks) > 0,
            F.aggregate(
                F.transform(toks, F.length), F.lit(0).cast("long"), lambda a, x: a + x
            ).cast("double")
            / F.size(toks),
        ).alias("mean_token_len"),
    )


def quality_scores(
    df: DataFrame, id_col: str, text_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Heuristic quality metrics + composite score + keep flag.

    All ratios are int/int divisions (exact doubles, engine-identical);
    the composite combines them in a fixed arithmetic order.  ``keep``
    names extra input columns carried through unchanged (e.g. the source
    a downstream budget selection partitions on).
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_chars = F.length(t)
    n_toks = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    punct = F.size(F.regexp_extract_all(t, F.lit(PUNCT_PATTERN), F.lit(0)))
    digits = F.size(F.regexp_extract_all(t, F.lit(r"[0-9]"), F.lit(0)))
    stops = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, F.lower(x))))
    out = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        n_toks.cast("long").alias("n_tokens"),
        # zero-denominator guards (empty / whitespace-only docs): NULL
        # ratios on both engines — Spark ANSI raises DIVIDE_BY_ZERO even
        # for double/0, and the DuckDB twin NULLIFs identically.  The
        # composite quality then stays NULL and keep is deterministically
        # FALSE (n_tokens >= 5 is already false, and false AND NULL =
        # false in three-valued logic).
        F.when(n_chars > 0, punct.cast("double") / n_chars).alias("punct_ratio"),
        F.when(n_chars > 0, digits.cast("double") / n_chars).alias("digit_ratio"),
        F.when(n_toks > 0, stops.cast("double") / n_toks).alias("stopword_ratio"),
    )
    score = (
        F.lit(1.0)
        - F.col("punct_ratio") * 2.0
        - F.col("digit_ratio")
        + F.col("stopword_ratio") * 0.5
    )
    return out.select(
        "*",
        score.alias("quality"),
        ((F.col("n_tokens") >= 5) & (score > 0.5)).alias("keep"),
    )


def _bigram_model(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared add-k bigram-LM construction for :func:`bigram_lm_top` and
    :func:`bigram_surprisal` — ONE definition of the tokenization, the
    per-document lead() window, the bigram count table, the head counts
    (w1 counted *as a bigram head*), and the distinct-continuation
    vocabulary V, so the two consumers cannot drift.

    Returns ``(inst, with_head, vocab)``: per-document bigram instances
    ``(id, w1, w2)``, the count table with ``n_bigram``/``n_head`` longs,
    and the single-row ``_v`` vocabulary aggregate (broadcast by callers).
    """
    from mapreduceproject_spark.functions.textfn import token_rows

    toks = token_rows(df.select(id_col, text_col), F.lower(F.col(text_col)), [id_col])
    wd = Window.partitionBy(id_col).orderBy("pos")
    inst = (
        toks.withColumn("w2", F.lead("tok").over(wd))
        .filter(F.col("w2").isNotNull())
        .select(id_col, F.col("tok").alias("w1"), "w2")
    )
    c2 = inst.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("n_bigram"))
    wh = Window.partitionBy("w1")
    with_head = c2.withColumn("n_head", F.sum("n_bigram").over(wh).cast("long"))
    vocab = c2.agg(F.countDistinct("w2").alias("_v"))
    return inst, with_head, vocab


def bigram_surprisal(
    df: DataFrame, id_col: str, text_col: str, add_k: float = 0.5
) -> DataFrame:
    """Per-document average surprisal under the corpus add-k bigram LM —
    the second rung of the CCNet-style perplexity ladder (unigram rung:
    plans/curation_queries.py text_unigram_logprob).  Low avg_nll =
    predictable boilerplate, high = noise / language mismatch.

    Same self-contained model as :func:`bigram_lm_top` (head counts and
    continuation vocabulary V from the bigram table itself); each bigram
    instance's −ln p(w2|w1) is micro-quantized (floor·1e6) to a long
    BEFORE the per-document sum, so the aggregate is order-independent
    and bit-identical across engines.  Shape: one lead() window (shuffle
    on id), one bigram groupBy, a head window, then an instances×model
    join on the bigram key — deliberately NOT broadcast-hinted (a
    web-corpus bigram table is tens of GB; AQE broadcasts only when it
    truly fits, the text_tfidf_top_terms contract) — and one final
    per-document agg.  Linear end to end.
    """
    inst, model, vocab = _bigram_model(df, id_col, text_col)
    scored = model.crossJoin(F.broadcast(vocab)).select(
        "w1",
        "w2",
        F.floor(
            -F.log(
                (F.col("n_bigram") + F.lit(add_k))
                / (F.col("n_head") + F.lit(add_k) * F.col("_v"))
            )
            * F.lit(1e6)
        )
        .cast("long")
        .alias("q_nll"),
    )
    return inst.join(scored, ["w1", "w2"]).groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        (F.sum("q_nll").cast("double") / (F.lit(1e6) * F.count("*"))).alias("avg_nll"),
    )


def winnowing_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al.): hash char
    k-grams, take the min hash of each sliding window of ``window`` grams,
    emit the distinct minima.  Guarantees any shared substring of length
    ≥ k+window-1 yields a shared fingerprint — the standard copy-detection
    sketch.  Per-row array math + one distinct; no joins.
    """
    # position-explode + sliding-frame min, NOT transform-over-slice on an
    # array column: Catalyst inlines a computed expression into every
    # lambda that references it, so slicing per window position
    # re-evaluates the gram build O(len) times — O(len²) per document.
    # char_ngram_rows materializes the lowered string once and explodes
    # gram start positions; each gram is built and hashed exactly once.
    from mapreduceproject_spark.sources.catalog import spread_for_compute

    pos = char_ngram_rows(
        spread_for_compute(df), F.lower(F.col(text_col)), k, keep=[id_col], pos_col="pos"
    ).select(F.col(id_col), "pos", hash60(F.col("g")).alias("h"))
    wf = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    wn = Window.partitionBy(id_col)
    wins = pos.select(
        F.col(id_col),
        "pos",
        F.min("h").over(wf).alias("wmin"),
        F.count("*").over(wn).alias("n"),
    )
    # full windows start at pos 0..n-window; shorter docs keep pos 0
    # (frame = whole array, matching "min of everything")
    return (
        wins.filter((F.col("pos") <= F.col("n") - window) | (F.col("pos") == 0))
        .select(F.col(id_col), F.col("wmin").alias("fp"))
        .distinct()
    )


def langid_ngram(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    n: int = 3,
    profile_size: int = 20,
) -> DataFrame:
    """Character-n-gram language ID, profiles learned from the corpus.

    Train: top ``profile_size`` n-grams per labelled language (by total
    occurrences; ties → gram asc).  Classify: distinct doc grams ∩
    profile, argmax hits (ties → lang asc).  Two aggs + one broadcastable
    profile join — the Cavnar–Trenkle n-gram profile method in DataFrame
    form.

    Contract: ``id_col`` is unique in ``df`` (one row, so one label, per
    document).  The per-doc gram counts are grouped by (id, label, gram)
    and scored as (id, gram) rows without a distinct.  A repeated id
    would weigh its text twice in its language's profile and repeat its
    output row; an id with two labels would also count each of its grams
    twice in its profile hits.  ``text_langid_ngram`` passes the
    ``documents`` table, whose key is ``doc_id``.
    """
    from mapreduceproject_spark.sources.catalog import spread_for_compute

    # round 11 (guide §2.3/§5): aggregate the raw gram stream ONCE into
    # per-(doc, gram) counts and persist THAT — the profile build and the
    # per-doc scoring both derive from it.  The retired form persisted
    # the RAW gram stream (one cached row per character of corpus text)
    # and paid two full gram-stream exchanges over it (the (lang, gram)
    # count + the per-doc distinct); now one exchange builds the
    # aggregated table, the distinct is free (rows are unique on
    # (_id, g) — _lang is functionally dependent on _id), and the
    # (lang, gram) tally re-keys the already-collapsed counts.
    grams = (
        char_ngram_rows(
            spread_for_compute(df).select(
                F.col(id_col).alias("_id"),
                F.col(lang_col).alias("_lang"),
                F.col(text_col),
            ),
            F.lower(F.col(text_col)),
            n,
            keep=["_id", "_lang"],
        )
        .groupBy("_id", "_lang", "g")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    lang_counts = grams.groupBy("_lang", "g").agg(F.sum("cnt").alias("cnt"))
    wp = Window.partitionBy("_lang").orderBy(F.desc("cnt"), F.asc("g"))
    profile = (
        lang_counts.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= profile_size)
        .select(F.col("_lang").alias("plang"), "g")
    )
    doc_grams = grams.select("_id", "g")
    scores = (
        doc_grams.join(F.broadcast(profile), "g")
        .groupBy("_id", "plang")
        .agg(F.count("*").alias("hits"))
    )
    ws = Window.partitionBy("_id").orderBy(F.desc("hits"), F.asc("plang"))
    best = (
        scores.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") == 1)
        .select("_id", F.col("plang").alias("pred_lang"), "hits")
    )
    return (
        df.select(F.col(id_col).alias("_id"), F.col(lang_col).alias("lang"))
        .join(best, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "lang",
            F.coalesce(F.col("pred_lang"), F.lit("und")).alias("pred_lang"),
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
            (F.coalesce(F.col("pred_lang"), F.lit("und")) == F.col("lang")).alias(
                "correct"
            ),
        )
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, top_k: int = 3
) -> DataFrame:
    """Top-k TF-IDF terms per document (ln(N/df) idf, ties → term asc).

    doc-term counts are the one corpus-sized shuffle; N arrives as a
    broadcast scalar (no driver-side collect), df as a second small agg.

    The tf⋈df join is deliberately NOT broadcast-hinted: dfreq has one row
    per vocabulary term, and a web-scale corpus vocabulary is tens of GB —
    a guaranteed broadcast OOM.  Left unhinted, AQE broadcasts it when it
    actually fits and shuffle-joins when it doesn't.
    """
    terms = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = terms.groupBy("_id", "term").agg(F.count("*").alias("tf"))
    # df from the ALREADY-AGGREGATED tf table: it has exactly one row per
    # (doc, term), so a term-count over it is the document frequency —
    # terms.distinct() would re-run the corpus explode AND shuffle the
    # full (doc, term) pair set a second time for the identical number.
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "_id",
            "term",
            "tf",
            (
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select(
            F.col("_id").alias(id_col),
            "term",
            "tf",
            "tfidf",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def bigram_lm_top(
    df: DataFrame, id_col: str, text_col: str, top_n: int = 20, add_k: float = 0.5
) -> DataFrame:
    """Smoothed bigram language model: top-N bigrams by corpus count with
    their add-k conditional log-probability ln((c(w1,w2)+k)/(c1(w1)+k*V)).

    c1(w1) counts w1 *as a bigram head* and V is the distinct-continuation
    vocabulary — both derived from the bigram table itself, so the model
    is self-contained (no separate unigram pass).  Shape: one posexplode,
    a lead() over the per-document window (shuffle on id), one bigram
    groupBy, a head-count window, and a broadcast of the single-row V —
    linear end to end, the exact plan you'd run over a 100 TB corpus to
    seed a KenLM-style count table.  Model construction is shared with
    :func:`bigram_surprisal` via :func:`_bigram_model`.
    """
    _inst, with_head, vocab = _bigram_model(df, id_col, text_col)
    scored = with_head.crossJoin(F.broadcast(vocab)).select(
        "w1",
        "w2",
        "n_bigram",
        "n_head",
        F.log(
            (F.col("n_bigram") + F.lit(add_k))
            / (F.col("n_head") + F.lit(add_k) * F.col("_v"))
        ).alias("logp"),
    )
    # TakeOrdered top-N first (per-partition heaps + merge), THEN rank the
    # survivors — a global row_number window would single-partition the
    # whole bigram table before discarding all but N rows
    top = scored.orderBy(F.desc("n_bigram"), F.asc("w1"), F.asc("w2")).limit(top_n)
    wt = Window.orderBy(F.desc("n_bigram"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rnk", F.row_number().over(wt).cast("long")).select(
        "w1", "w2", "n_bigram", "n_head", "logp", "rnk"
    )


# -- BPE-merge tokenizer training (round 10) ----------------------------------
BPE_DELIM = "\x1f"  # symbol delimiter, stripped from tokens before encoding


def _bpe_seq(w) -> F.Column:
    # word -> '<D>a<D><D>b<D><D>c<D>': every symbol wrapped in single
    # delimiters, DOUBLE delimiters as internal boundaries.  This makes
    # the merge a plain left-to-right non-overlapping replace(): the
    # pattern '<D>a<D><D>b<D>' consumes only the pair's own boundary
    # characters, leaving one '<D>' on each side for the neighboring
    # pairs — so [a,b,a,b] merges BOTH (a,b) occurrences in one pass,
    # while [a,a,a] merges greedily left-to-right to [aa,a] (both
    # pinned by the hand-truth pytest).
    pre = F.regexp_replace(w, "(.)", BPE_DELIM + BPE_DELIM + "$1")
    return F.concat(pre.substr(F.lit(2), F.length(pre)), F.lit(BPE_DELIM))


def bpe_merge_table(df: DataFrame, text_col: str, rounds: int = 3) -> DataFrame:
    """First ``rounds`` byte-pair-encoding merges (Sennrich et al.,
    ACL'16) over the corpus vocabulary — tokenizer training as a
    DataFrame op.

    Output: (merge_round, lhs, rhs, pair_count), the merge table in
    learned order.  Determinism: exact long pair counts; ties break
    lexicographically on (lhs, rhs); the merge application is a single
    non-overlapping left-to-right ``replace()`` whose greedy semantics
    are identical in Spark and DuckDB (see :func:`_bpe_seq`).

    100-TB shape: the corpus is touched ONCE (tokenize + word count,
    one natural-key exchange with map-side partial aggregation); all
    merge rounds run over the DISTINCT-WORD table (vocabulary-sized,
    corpus-independent).  Per round: one vocab-scan pair tally
    (map-side combined, (lhs,rhs)-keyed), one TakeOrdered(1) cut, one
    broadcast-literal merge application — no corpus re-scan, no driver
    collect (the 1-row best pair rides a broadcast crossJoin, the
    kmeans distributed-carrier rule).  State is localCheckpointed per
    round so round r+1 does not replay round r's tally lineage.
    """
    from mapreduceproject_spark.functions.textfn import token_rows

    toks = token_rows(df.select(text_col), F.lower(F.col(text_col)), [])
    wc = (
        toks.select(F.replace(F.col("tok"), F.lit(BPE_DELIM), F.lit("")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    # round 11: the INITIAL state is consumed twice (round 0's pair tally
    # AND round 1's state update) — without this lineage pin the whole
    # corpus tokenize + word-count pipeline ran once per consumer (the
    # only corpus-scale work in the query; every later round's state was
    # already checkpointed).  One materialization per merge round now
    # holds for round 0 too (guide §5 reuse).
    state = wc.select(_bpe_seq(F.col("w")).alias("s"), "cnt").localCheckpoint(
        eager=False
    )
    merges = []
    for r in range(rounds):
        core = F.col("s").substr(F.lit(2), F.length("s") - 2)
        arr = F.split(core, BPE_DELIM + BPE_DELIM)
        prs = (
            state.select("cnt", arr.alias("a"))
            .where(F.size("a") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(a) - 1), "
                        "i -> struct(element_at(a, i) AS lhs, "
                        "element_at(a, i + 1) AS rhs))"
                    )
                ).alias("p"),
            )
        )
        tally = prs.groupBy(
            F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs")
        ).agg(F.sum("cnt").cast("long").alias("pair_count"))
        best = (
            tally.orderBy(F.desc("pair_count"), "lhs", "rhs")
            .limit(1)
            .select(
                F.lit(r + 1).cast("long").alias("merge_round"),
                "lhs",
                "rhs",
                "pair_count",
            )
            .localCheckpoint(eager=False)
        )
        merges.append(best)
        pat = F.concat(
            F.lit(BPE_DELIM),
            F.col("_ml"),
            F.lit(BPE_DELIM + BPE_DELIM),
            F.col("_mr"),
            F.lit(BPE_DELIM),
        )
        rep = F.concat(F.lit(BPE_DELIM), F.col("_ml"), F.col("_mr"), F.lit(BPE_DELIM))
        state = (
            state.crossJoin(
                F.broadcast(
                    best.select(F.col("lhs").alias("_ml"), F.col("rhs").alias("_mr"))
                )
            )
            .select(F.replace(F.col("s"), pat, rep).alias("s"), "cnt")
            .localCheckpoint(eager=False)
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.orderBy("merge_round")
