"""Correctness checks for fetched results.

Results are normalized (columns sorted by name, timestamps as text,
floats rounded to 6 places, rows sorted) and hashed as
``tools/hash_compare.py`` does: md5 over the sorted rows of ``str``
values.  Query results are compared with DuckDB running the entry's
``oracle_sql()`` on the same generated files; ``dedup_minhash_lsh`` has
no oracle and is checked by exact shingle Jaccard of each reported pair,
recall of identical documents, and one pinned hash per run.  Lake
reads are compared with a pandas model of the same seeded writes.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(col):
            df[c] = col.round(6)
        elif col.dtype == object:
            df[c] = col.map(lambda v: str(list(v)) if isinstance(v, (list, np.ndarray)) else str(v))
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> tuple[int, str]:
    norm = normalize(df)
    rows = sorted(tuple(str(v) for v in r) for r in norm.itertuples(index=False, name=None))
    return len(rows), hashlib.md5(repr(rows).encode()).hexdigest()


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal up to row order and 1e-6; else a short reason."""
    a, b = normalize(got), normalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, atol=1e-6)
    except AssertionError as exc:
        return str(exc).splitlines()[0][:200]
    return None


def oracle_frames(data_dir: str, tables: tuple[str, ...], sqls: dict[str, str]) -> dict[str, pd.DataFrame]:
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {name: con.sql(sql).df() for name, sql in sqls.items()}
    finally:
        con.close()


def _shingles(text: str, k: int = 5) -> set[bytes]:
    s = " ".join(text.strip().lower().split()).encode()
    if len(s) < k:
        return {s}
    return {s[i:i + k] for i in range(len(s) - k + 1)}


def check_minhash(result: pd.DataFrame, docs: pd.DataFrame, threshold: float = 0.5) -> str | None:
    """Every reported pair has exact 5-byte-shingle Jaccard >= threshold
    (matching its reported value), and every pair of identical documents
    is found."""
    text = dict(zip(docs["doc_id"], docs["text"]))
    sh = {i: _shingles(t) for i, t in text.items()}
    for a, b, j in result[["id_a", "id_b", "jaccard"]].itertuples(index=False, name=None):
        sa, sb = sh[a], sh[b]
        exact = len(sa & sb) / len(sa | sb)
        if exact < threshold - 1e-6 or abs(exact - j) > 1e-3:
            return f"pair ({a},{b}) reported {j} exact {exact:.6f}"
    found = set(zip(result["id_a"], result["id_b"]))
    by_text: dict[str, list[int]] = {}
    for i, t in text.items():
        by_text.setdefault(t, []).append(i)
    for ids in by_text.values():
        for x in ids[1:]:
            if (min(ids[0], x), max(ids[0], x)) not in found:
                return f"exact copy pair ({ids[0]},{x}) missing"
    return None


class LakeModel:
    """Pandas model of a table written by append, key upsert and key
    delete."""

    KEY = "id"

    def __init__(self) -> None:
        self.rows = pd.DataFrame()

    def append(self, batch: pd.DataFrame) -> None:
        self.rows = pd.concat([self.rows, batch], ignore_index=True)

    def upsert(self, batch: pd.DataFrame) -> None:
        keep = self.rows[~self.rows[self.KEY].isin(batch[self.KEY])]
        self.rows = pd.concat([keep, batch], ignore_index=True)

    def delete(self, keys: pd.DataFrame) -> None:
        self.rows = self.rows[~self.rows[self.KEY].isin(keys[self.KEY])].reset_index(drop=True)

    def snapshot(self) -> pd.DataFrame:
        return self.rows.copy()


def lake_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    cols = sorted(want.columns)
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return f"missing columns {missing}"
    got = got[cols].astype({c: want[c].dtype for c in cols})
    return frames_match(got, want[cols])
