"""Data-layout optimization: Z-order (Morton) clustering for scan pruning.

At 100 TB the cheapest query is the one that never reads the file: parquet
min/max footer stats (and Delta/Iceberg file-level stats) prune a scan only
when each file's value RANGE is tight.  A linear sort is tight on the
leading key and useless on the second; interleaving the key bits (Morton /
Z-order) makes every file a small rectangle in (a, b) space, so point and
range predicates on EITHER column prune.

:func:`zorder_key` builds the interleaved key as a pure-arithmetic column
(bit tests + shifted adds — whole-stage-codegen-friendly, identical in any
SQL engine); :func:`layout_extents` is the audit query that PROVES the
pruning win: bucket the table into ``n_buckets`` files under each layout
and report the per-file extent sums a min/max-stats pruner would see.

Rewriting the layout costs one global sort (a range-partitioned exchange —
exactly what ``df.repartitionByRange(...).sortWithinPartitions`` or a
``CLUSTER BY`` write does on a cluster); that one-time cost is the standard
trade for every later scan pruning on both keys.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 31 bits per key: covers EVERY non-negative int32 key exactly (the
# interleaved key occupies 62 bits of the signed long), so the audit is
# correct at any scale factor — 16 bits silently aliased keys >= 65536
# (distant keys mapped into the same z-neighborhood, corrupting the
# extent numbers on exactly the large corpora the audit exists for,
# invisibly to oracle parity since both engines shared the truncation).
ZORDER_BITS = 31

# layout_extents policy knob: at or below this row count one task sorts the
# audit columns (a few narrow longs/row — ~300 MB at the bound) faster than
# the two-phase distributed rank's extra stages; above it the single-task
# sort is the 199/200-idle straggler and the distributed plan takes over.
# Size-derived, not core-count-derived, so the bench at any cpu count and a
# cluster resolve it identically from the data.
NTILE_SINGLE_SORT_MAX_ROWS = 8_000_000


def zorder_key(a: Column, b: Column, bits: int = ZORDER_BITS) -> Column:
    """Interleave the low ``bits`` bits of two non-negative integer
    columns: bit i of ``a`` lands at position 2i, of ``b`` at 2i+1."""
    al, bl = a.cast("long"), b.cast("long")
    terms = [
        F.shiftright(al, i).bitwiseAND(1) * F.lit(1 << (2 * i))
        + F.shiftright(bl, i).bitwiseAND(1) * F.lit(1 << (2 * i + 1))
        for i in range(bits)
    ]
    return reduce(lambda x, y: x + y, terms).alias("zkey")


def duck_zorder(a_expr: str, b_expr: str, bits: int = ZORDER_BITS) -> str:
    """DuckDB SQL twin of :func:`zorder_key` (same shifted-add form)."""
    terms = [
        f"(((CAST({a_expr} AS BIGINT) >> {i}) & 1) * {1 << (2 * i)}"
        f" + ((CAST({b_expr} AS BIGINT) >> {i}) & 1) * {1 << (2 * i + 1)})"
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def layout_extents(
    df: DataFrame,
    a_col: str,
    b_col: str,
    tiebreak: list[str],
    n_buckets: int = 64,
) -> DataFrame:
    """Per-layout pruning audit: split the table into ``n_buckets``
    equal-size files under (1) a linear sort on (a, b) and (2) a Z-order
    sort, and sum each file's value extents (max−min+1) per key.

    Output (2 rows): layout, n_buckets, sum_extent_a, sum_extent_b.
    A pruner answering ``b = const`` touches files whose b-extent covers
    the constant — the z-order row's far smaller ``sum_extent_b`` at a
    modestly larger ``sum_extent_a`` is the win, quantified.

    The bucketing mirrors the file-split a range-partitioned write
    produces; ties are broken by ``tiebreak`` so the bucket assignment is
    a total order both engines compute identically.  Buckets are derived
    from an EXACT global rank (``operators.ranking.distributed_rank`` —
    the two-phase range-exchange plan, 32+ parallel sorts) plus the
    closed-form NTILE arithmetic: with N rows and n buckets, q = N div n,
    r = N mod n, ranks ≤ (q+1)·r fall in bucket ⌈rank/(q+1)⌉ and the
    rest in r + ⌈(rank − (q+1)·r)/q⌉ — bit-identical to the SQL NTILE
    both engines define (pytest pins it against a window NTILE on
    indivisible sizes).  Round 10: this retired the audit's two
    deliberately single-partition NTILE window sorts — the same
    distributed-rank retirement vocab_stats got in round 9 — so the
    audit itself now scales instead of funnelling the table through one
    task twice (guide §2.5: the 199/200-tasks-idle shape).

    ADAPTIVE, measured both ways at sf0.1: below
    {NTILE_SINGLE_SORT_MAX_ROWS:,} rows the plain window NTILE wins (one
    sort of a few MB vs the two-phase plan's persist + two broadcast
    joins + offset window ≈ +1.2 s of pure stage overhead), above it the
    single task IS the bottleneck — same policy-by-size discipline as
    ngram_jaccard_dedup's scratch-model routing.  The one-column count that
    picks the branch is the only eager action and costs a columnar scan.
    Both branches are bit-identical (the pytest pins the arithmetic
    against window NTILE), so the switch is invisible to the oracle.
    """
    from pyspark.sql import Window

    from mapreduceproject_spark.operators.ranking import distributed_rank

    base = df.select(
        F.col(a_col).alias("a"),
        F.col(b_col).alias("b"),
        *tiebreak,
        zorder_key(F.col(a_col), F.col(b_col)),
    )
    # ONE count serves both the branch pick and the NTILE arithmetic's N
    # (round 11: the first cut counted the audit input twice — an eager
    # count for the branch plus a separate n_row aggregate crossJoined
    # into each layout's plan — two full scans at scale for one scalar).
    # Carrying N as a literal is the same driver-side policy-scalar rule
    # as the count itself: one long, never data.
    n_total = int(base.agg(F.count("*")).first()[0] or 0)
    use_window = n_total <= NTILE_SINGLE_SORT_MAX_ROWS
    out = []
    for layout, order in (
        ("linear", [F.col("a"), F.col("b"), *[F.col(c) for c in tiebreak]]),
        ("zorder", [F.col("zkey"), *[F.col(c) for c in tiebreak]]),
    ):
        if use_window:
            bucketed = base.withColumn(
                "bucket", F.ntile(n_buckets).over(Window.orderBy(*order))
            )
        else:
            ranked = (
                distributed_rank(base, order, rank_col="_rnk")
                .withColumn("_N", F.lit(n_total).cast("long"))
                .withColumn("_q", F.expr(f"_N div {int(n_buckets)}"))
                .withColumn("_r", F.expr(f"_N % {int(n_buckets)}"))
            )
            bucketed = ranked.withColumn(
                "bucket",
                F.when(
                    F.col("_rnk") <= (F.col("_q") + 1) * F.col("_r"),
                    F.expr("(_rnk + _q) div (_q + 1)"),
                )
                .otherwise(
                    F.col("_r") + F.expr("(_rnk - (_q + 1) * _r + _q - 1) div _q")
                )
                .cast("int"),
            )
        ext = (
            bucketed.groupBy("bucket")
            .agg(
                (F.max("a") - F.min("a") + 1).alias("ea"),
                (F.max("b") - F.min("b") + 1).alias("eb"),
            )
            .agg(
                F.count("*").alias("n_buckets"),
                F.sum("ea").cast("long").alias("sum_extent_a"),
                F.sum("eb").cast("long").alias("sum_extent_b"),
            )
            .select(F.lit(layout).alias("layout"), "*")
        )
        out.append(ext)
    return out[0].unionByName(out[1])
