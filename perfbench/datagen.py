"""Seeded input generator for the benchmark.

Writes the ten catalog tables (``region`` ... ``embeddings``) as parquet
files with the column names, types and value vocabularies the registered
queries read, plus a line corpus for the maple/juice workload.  The same
seed always gives byte-identical inputs; nothing is read from outside the
output directory.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
P_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "nut"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
O_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64
DOCS_SEED = 20240101


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def write_tables(out: Path, seed: int, sf: float, n_docs: int, n_vecs: int) -> None:
    """The catalog tables at scale ``sf`` (lineitem has 6e6*sf rows)."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    _write(out, "region", {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(O_STATUS, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    })
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(n_cust // 10, 1), n_ev, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # The documents' text is the same for every seed, drawn from a fixed
    # generator; the seed draws only their order (and so their doc_id).  The
    # char-n-gram dedup cost depends on which random texts happen to share
    # grams, so texts drawn per seed moved the dedup work by up to 30%.
    # One doc in twenty repeats an original with a marker word, one in a
    # hundred repeats it verbatim.
    drng = np.random.default_rng(DOCS_SEED)
    n_near, n_exact = n_docs // 20, n_docs // 100
    n_orig = n_docs - n_near - n_exact
    lengths = drng.permutation(10 + (np.arange(n_orig) * 37) % 90)
    texts = [" ".join(drng.choice(DOC_WORDS, int(n))) for n in lengths]
    src = drng.choice(n_orig, n_near + n_exact, replace=False)
    texts += [texts[i] + " dup" for i in src[:n_near]] + [texts[i] for i in src[n_near:]]
    langs = drng.permutation(np.resize(np.repeat(LANGS, np.round(np.array(LANG_P) * n_docs).astype(int)), n_docs))
    order = rng.permutation(n_docs)
    texts, langs = [texts[i] for i in order], langs[order]
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vecs)),
    })


def write_corpus(out: Path, seed: int, n_files: int, n_lines: int, vocab: int) -> dict[str, int]:
    """Line corpus over ``vocab`` words whose occurrence counts follow
    Zipf(1.1) by rank, split over ``n_files`` text files.  The counts and
    line lengths are the same for every seed; which word holds which rank,
    and where each token lands, are drawn from the seed.  Returns the exact
    word counts."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed + 7919)
    lens = 1 + np.arange(n_lines) % 12
    weights = 1.0 / np.arange(1, vocab + 1) ** 1.1
    per_rank = np.maximum(1, np.floor(weights / weights.sum() * lens.sum())).astype(np.int64)
    per_rank[0] += lens.sum() - per_rank.sum()  # the most frequent word absorbs the rounding
    words = rng.permutation([f"w{i:05d}" for i in range(vocab)])
    toks = rng.permutation(np.repeat(words, per_rank))
    lens = rng.permutation(lens)
    ends = np.cumsum(lens)
    lines = [" ".join(toks[e - n:e]) for n, e in zip(lens.tolist(), ends.tolist())]
    per_file = -(-n_lines // n_files)
    for f in range(n_files):
        (out / f"part{f:02d}.txt").write_text("\n".join(lines[f * per_file:(f + 1) * per_file]) + "\n")
    return dict(zip(words.tolist(), per_rank.tolist()))
