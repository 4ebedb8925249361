"""Seeded input corpus for the benchmark: the ten tables the registry
queries read (TPC-H-ish star schema, an events stream, a small text corpus
and an embedding table) written as single parquet files.

The benchmark owns this generator so that its inputs do not change when the
program's own generators change. Schemas and value domains follow the
sf0.01 test tables (TESTDATA.md); the text and embedding tables carry a planted
near-duplicate tier so the pair-finding operators return pairs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# rows at scale factor 1 for the tables that scale; sf=0.01 gives the
# sf0.01 row counts of TESTDATA.md
ROWS_SF1 = {
    "lineitem": 6_000_000,
    "orders": 1_500_000,
    "customer": 150_000,
    "part": 200_000,
    "supplier": 10_000,
    "events": 1_000_000,
}
DOCS = 500
VECTORS = 500
DIM = 64

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "zh", "es", "de", "fr"]
P_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "shiny"]
P_NOUN = ["widget", "plate", "ring", "rod", "gear", "bolt", "valve", "pipe"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _days(start: np.datetime64, offsets: np.ndarray) -> np.ndarray:
    return start + offsets.astype("int64") * np.timedelta64(_DAY_US, "us")


def tables(seed: int, sf: float = 0.01) -> dict[str, pd.DataFrame]:
    """All ten tables for one seed, as pandas frames."""
    rng = np.random.default_rng(seed)
    n = {k: max(int(v * sf), 1) for k, v in ROWS_SF1.items()}
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    nc = n["customer"]
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(ns, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = n["part"]
    retail = np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(npart, dtype="int64"),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": rng.choice(P_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype("int32"),
            "p_retailprice": retail,
        }
    )
    no = n["orders"]
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype="int64"),
            "o_custkey": rng.integers(0, nc, no).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _days(_EPOCH_1995, rng.integers(0, 2400, no)),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    partkey = rng.integers(0, npart, nl).astype("int64")
    qty = rng.integers(1, 51, nl).astype("float64")
    price = np.round(qty * retail[partkey], 2)
    # a handful of mispriced lines, so the outlier scan has rows to report
    spikes = rng.choice(nl, max(nl // 2000, 3), replace=False)
    price[spikes] = np.round(price[spikes] * 40.0, 2)
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl).astype("int64"),
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
            "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(np.datetime64("1995-01-02", "us"), rng.integers(0, 2500, nl)),
        }
    )
    ne = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * _DAY_US, ne)
    ).astype("timedelta64[us]")
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype="int64"),
            "ts": ts,
            "user_id": rng.integers(0, max(ne // 66, 1), ne).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": rng.integers(1, 49003, ne) / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def _documents(rng: np.random.Generator) -> pd.DataFrame:
    """10-100 words from the 31-word vocabulary; ~4% of docs are mutated
    copies of an earlier doc (one word in ~37 replaced)."""
    words: list[list[str]] = []
    for i in range(DOCS):
        if i > 10 and rng.random() < 0.04:
            src = list(words[int(rng.integers(max(i - 10, 0), i))])
            for p in range(len(src)):
                if rng.random() < 1 / 37:
                    src[p] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.append(src)
        else:
            k = int(rng.integers(10, 101))
            words.append([VOCAB[j] for j in rng.integers(0, len(VOCAB), k)])
    text = [" ".join(w) for w in words]
    return pd.DataFrame(
        {
            "doc_id": np.arange(DOCS, dtype="int64"),
            "text": text,
            "lang": rng.choice(LANGS, DOCS),
            "source": [f"src{i % 20}" for i in range(DOCS)],
            "n_chars": np.array([len(t) for t in text], dtype="int64"),
        }
    )


def _embeddings(rng: np.random.Generator) -> pd.DataFrame:
    """L2-normalized float32 vectors around 10 label centres; ~5% are
    near-twins of an earlier vector (one coordinate nudged)."""
    centres = rng.normal(size=(10, DIM))
    label = rng.integers(0, 10, VECTORS)
    x = centres[label] * 0.3 + rng.normal(size=(VECTORS, DIM))
    for i in np.flatnonzero(rng.random(VECTORS) < 0.05):
        if i > 0:
            x[i] = x[int(rng.integers(0, i))]
            x[i, int(rng.integers(0, DIM))] += rng.normal() * 0.2
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(VECTORS, dtype="int64"),
            "embedding": list(x.astype("float32")),
            "label": label.astype("int32"),
        }
    )


def write(out_dir: str, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write every table as ``{out_dir}/{name}.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, df in tables(seed, sf).items():
        tbl = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            tbl = tbl.set_column(
                1, "embedding",
                pa.array([v.tolist() for v in df["embedding"]], pa.list_(pa.float32())),
            )
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = len(df)
    return counts
