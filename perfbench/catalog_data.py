"""Seeded generator of the catalog tables.

Writes the ten tables the catalog queries read (region nation customer
supplier part orders lineitem events documents embeddings), one parquet
file each, in the schema and value distributions of the test tables
(TESTDATA.md; the documents and embeddings columns are described in
FIXTURES.md).  Row counts are those of sf0.1, except for documents and
embeddings, which have 200 rows (they have 500 at sf0.001 and sf0.01, and
5,000 and 2,000 at sf0.1).  The DuckDB oracle that checks the MinHash
query takes ~2 s at 200 documents, ~7 s at 500 and ~57 s at sf0.1, and
every run checks it.  The distributions were
read off the test tables:

- TPC-H-like tables: uniform keys, categories and prices over the same
  ranges and date windows;
- events: 30 days from 2024-01-01 with exponential gaps, 1,500 users,
  five event types, ``value`` exponential with mean 50;
- documents: a text is 10-100 words drawn uniformly from a 30-word
  vocabulary, except that 5% of the documents copy another document's
  text and append `` dup`` (the near-duplicates the dedup, MinHash and
  n-gram Jaccard queries find); ``lang`` is ``en`` for 41% and one of
  four others for the rest; ``source`` is ``src{doc_id % 20}``;
- embeddings: unit vectors of 64 Gaussian components, float32, with ten
  labels drawn uniformly and no cluster structure.

The same seed gives the same tables, so every run of a workload queries the
same data and the DuckDB oracles can check each result.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()

# row counts of the sf0.1 test tables, except documents and embeddings
N_CUSTOMER, N_SUPPLIER, N_PART = 15000, 1000, 20000
N_ORDERS, N_LINEITEM, N_EVENTS = 150000, 600000, 100000
N_DOCS = 200
N_VECS = 200
N_USERS = 1500
DIM = 64
N_LABELS = 10
DUP_SHARE = 0.05


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pd.Series:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pd.Series(d.astype("datetime64[us]"))


def _documents(rng: np.random.Generator) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    # near-duplicates sit before and after their originals, as in the test tables
    texts = [texts[j] for j in rng.permutation(N_DOCS)]
    doc_id = np.arange(N_DOCS, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": doc_id,
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_WEIGHTS),
        "source": [f"src{j % 20}" for j in doc_id],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator) -> pd.DataFrame:
    x = rng.standard_normal((N_VECS, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": list(x.astype(np.float32)),
        "label": rng.integers(0, N_LABELS, N_VECS).astype(np.int32),
    })


def tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    nc, ns, np_, no, nl, ne = (N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS,
                               N_LINEITEM, N_EVENTS)
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, np_),
                                              rng.choice(PART_NOUN, np_))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
    })
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    gaps_us = rng.exponential(30 * 86400e6 / ne, ne).astype(np.int64)
    out["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pd.Series(np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype(
            "timedelta64[us]")),
        "user_id": rng.integers(0, N_USERS, ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table as ``{out_dir}/{name}.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, df in tables(seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
        counts[name] = len(df)
    return counts
