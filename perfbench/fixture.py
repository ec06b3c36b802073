"""Seeded fixture tables with the schemas of the package's parquet fixtures.

- ``write_corpus``: the ``documents`` and ``embeddings`` tables: word-salad
  documents over a small query-engine vocabulary with planted
  near-duplicates, and unit-norm 64-d embeddings in ten clusters for the
  first 40% of the doc ids. A seeded share of the documents also carries
  the stop words the Gopher quality rules count, so the trained quality
  gates see both labels.
- ``write_tables``: those two plus the TPC-H-like star schema (region,
  nation, customer, supplier, part, orders, lineitem) and the ``events``
  stream table, with row counts proportional to a scale factor (sf 1 =
  6M lineitem rows) and every measure on its decimal grid; here every
  doc id has an embedding.

The same arguments always write byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
STOPS = "the be to of and that have with".split()
# Every 50th doc is the stand-in benchmark the decontamination gate
# calibrates on; it draws from its own vocabulary, so only copies of it
# read as contaminated.
BENCH_WORDS = (
    "alpha beta gamma delta epsilon zeta theta kappa lambda sigma omega "
    "north south east west river stone cloud ember frost"
).split()
BENCH_EVERY = 50
PROSE_SHARE = 0.6
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMB_DIM = 64


def word_salad(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct texts of 10-100 words drawn from WORDS (BENCH_WORDS for
    every BENCH_EVERY-th); a PROSE_SHARE of them draw a quarter of their
    words from STOPS instead."""
    vocab = np.array(WORDS, dtype=object)
    bench = np.array(BENCH_WORDS, dtype=object)
    stops = np.array(STOPS, dtype=object)
    out, seen = [], set()
    while len(out) < n:
        k = int(rng.integers(10, 101))
        pool = bench if len(out) % BENCH_EVERY == 0 else vocab
        words = pool[rng.integers(0, len(pool), k)]
        if rng.random() < PROSE_SHARE:
            at = rng.random(k) < 0.25
            words[at] = stops[rng.integers(0, len(stops), int(at.sum()))]
        text = " ".join(words)
        if text not in seen:
            seen.add(text)
            out.append(text)
    return out


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = word_salad(rng, n)
    # 5% planted near-duplicates: a copy of another doc with " dup" appended
    # (sources are drawn from the other docs, so every text stays distinct)
    picked = rng.choice(n, 2 * (n // 20), replace=False)
    for d, s in zip(picked[: n // 20], picked[n // 20 :]):
        texts[d] = texts[s] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(10, EMB_DIM))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.normal(scale=1.5, size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )


def write_corpus(out_dir: str, seed: int, n_docs: int) -> dict[str, pa.Table]:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under out_dir
    and return both tables."""
    rng = np.random.default_rng(seed)
    tables = {"documents": documents(rng, n_docs), "embeddings": embeddings(rng, int(n_docs * 0.4))}
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables


SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = (("blue", "hot", "new", "old", "red", "small"), ("anvil", "bolt", "gear", "ring", "widget"))
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_DAY_US = 86_400 * 1_000_000


def _dates(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    lo, hi = (np.datetime64(d, "D").astype(np.int64) for d in (first, last))
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values, n: int) -> np.ndarray:
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def star_schema(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": list(REGIONS)}),
        "nation": pa.table(
            {"n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)], "n_regionkey": i32([i % 5 for i in range(25)])}
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_WORDS[0], n_part), _pick(rng, PART_WORDS[1], n_part))],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": i32(rng.integers(1, 8, n_line)),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 104950.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _pick(rng, ("F", "O"), n_line),
                "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04"),
            }
        ),
    }
    return out


def events(rng: np.random.Generator, sf: float) -> pa.Table:
    """Event-time-ordered events over 30 days; props is ``{"k": 0..99}``."""
    n = int(1_000_000 * sf)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(10, int(15_000 * sf)), n),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.maximum(1, np.round(rng.exponential(50.0, n) * 100)) / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, pa.Table]:
    """Write every fixture table as ``<name>.parquet`` under out_dir."""
    rng = np.random.default_rng([seed, 3])
    tables = star_schema(rng, sf)
    tables["events"] = events(rng, sf)
    n_docs = int(50_000 * sf)
    tables["documents"] = documents(rng, n_docs)
    tables["embeddings"] = embeddings(rng, n_docs)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables
