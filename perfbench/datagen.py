"""Seeded input generator for the benchmark.

Builds the ten tables that ``__spark_entry__`` queries read (TPC-H-style
star schema plus ``events``, ``documents`` and ``embeddings``) with the
same column names, types and value ranges as the project's test data, and
the row batches that the ``lake_ingest`` workload writes.  The same seed
gives the same tables and batches.  Tables are written as one parquet
file each with pyarrow, so the program under test only ever sees the
generated files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "large", "hot", "cold", "old", "small", "red", "green"]
_PART_NOUN = ["anvil", "ring", "bolt", "plate", "widget", "gear", "spring", "valve"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data customer "
    "vector join index page cache shard node log commit file plan"
).split()
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "a"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"],
    "zh": ["a", "the"],
}
_DAY_US = 86_400 * 1_000_000


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Bag-of-words documents; about 4% are near copies of an earlier
    document (one word replaced) and 1% exact copies, so both dedup
    operators find pairs."""
    langs = rng.choice(_LANGS, n)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            src = texts[int(rng.integers(0, i))].split(" ")
            if r >= 0.01:
                src[int(rng.integers(0, len(src)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(src))
            continue
        k = int(rng.integers(12, 90))
        pool = _WORDS + _STOPWORDS[langs[i]]
        texts.append(" ".join(rng.choice(pool, k)))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    labels = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": list(vecs),
        "label": labels,
    })


def make_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """All ten input tables at scale factor ``sf`` (lineitem = 6M x sf)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"), "r_name": _REGIONS,
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    start_us = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(rng.integers(start_us, start_us + 30 * _DAY_US, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """Write each table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


class LakeBatches:
    """Seeded row batches for ``lake_ingest``: appends of fresh keys,
    upserts that mostly hit recent keys (the change-data pattern), and
    deletes of existing keys."""

    DAYS = 4

    def __init__(self, seed: int, rows: int) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.rows = rows
        self.next_id = 0

    def _rows(self, ids: np.ndarray) -> pd.DataFrame:
        n = len(ids)
        return pd.DataFrame({
            "id": ids.astype("int64"),
            "day": (ids % self.DAYS).astype("int32"),
            "amount": np.round(self.rng.uniform(0.0, 1000.0, n), 2),
            "qty": self.rng.integers(1, 100, n).astype("int64"),
            "note": self.rng.choice(_WORDS, n),
        })

    def append(self) -> pd.DataFrame:
        ids = np.arange(self.next_id, self.next_id + self.rows)
        self.next_id += self.rows
        return self._rows(ids)

    def _existing(self, n: int) -> np.ndarray:
        recent = max(1, self.next_id - 2 * self.rows)
        k_recent = (n * 3) // 4
        a = self.rng.choice(np.arange(recent, self.next_id), min(k_recent, self.next_id - recent), replace=False)
        b = self.rng.choice(self.next_id, n - len(a), replace=False)
        return np.unique(np.concatenate([a, b]))

    def upsert(self) -> pd.DataFrame:
        """A quarter-batch: existing keys with new values plus new keys."""
        n = self.rows // 4
        old = self._existing(n - n // 5)
        new = np.arange(self.next_id, self.next_id + n // 5)
        self.next_id += n // 5
        return self._rows(np.concatenate([old, new]))

    def delete_keys(self, n: int) -> pd.DataFrame:
        return pd.DataFrame({"id": self._existing(n).astype("int64")})
