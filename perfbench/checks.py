"""Correctness gates for every timed result.

- Registered queries are compared with their DuckDB ``ORACLES`` SQL run on
  the same generated directory: same columns, same rows, values equal
  (columns sorted by name, rows sorted by every column).
- Similarity requests are compared with a numpy twin that repeats the
  engine's arithmetic step for step, so ids and ranks must match exactly.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

QUANT = 1_000_000


def duck_frame(sf_dir: str, sql: str) -> pd.DataFrame:
    """Run oracle SQL over one view per parquet table of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for f in sorted(os.listdir(sf_dir)):
            name, ext = os.path.splitext(f)
            if ext == ".parquet":
                path = os.path.join(sf_dir, f)
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frame_problems(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Differences between two result frames; empty when they are equal."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    g, w = _normalize(got), _normalize(want)
    problems = []
    for col in g.columns:
        a, b = g[col].tolist(), w[col].tolist()
        bad = [
            i
            for i, (x, y) in enumerate(zip(a, b))
            if not (x == y or (_missing(x) and _missing(y)) or str(x) == str(y))
        ]
        if bad:
            problems.append(f"{col}: {len(bad)} values differ, first row {bad[0]}")
    return problems


def _missing(x) -> bool:
    return x is None or (isinstance(x, float) and np.isnan(x))


# ---------------------------------------------------------------- similarity
def h64(s: str) -> int:
    """Driver twin of the engine's ``functions.hashing.h64``."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def lsh_planes(n_planes: int = 8, dims: int = 64, seed: str = "lsh") -> np.ndarray:
    """The engine's hyperplane coefficients as the doubles it ships."""
    return np.array(
        [
            [((h64(f"{seed}:{b}:{i}") % 2001) - 1000) / 1000.0 for i in range(dims)]
            for b in range(n_planes)
        ]
    )


def _fold(terms: np.ndarray) -> np.ndarray:
    """Left-to-right double sum along the last axis, the order of the
    engine's ``aggregate`` fold (numpy's pairwise sum would differ in the
    last bits)."""
    acc = np.zeros(terms.shape[:-1])
    for i in range(terms.shape[-1]):
        acc = acc + terms[..., i]
    return acc


class SimilarityTwin:
    """numpy twin of ``brute_force_topk(exact=True)`` and ``lsh_topk``
    over one index."""

    def __init__(self, vecs: np.ndarray, n_planes: int = 8):
        self.v64 = vecs.astype(np.float64)
        self.q = np.floor(self.v64 * QUANT).astype(np.int64)
        self.qnorm = np.sqrt((self.q * self.q).sum(axis=1).astype(np.float64))
        self.planes = lsh_planes(n_planes, vecs.shape[1])
        self.buckets = self._bucket(self.v64)
        # the engine squares float32 elements in float32, then sums in double
        self.norm = np.sqrt(_fold((vecs * vecs).astype(np.float64)))

    def _bucket(self, v64: np.ndarray) -> np.ndarray:
        bucket = np.zeros(len(v64), dtype=np.int64)
        for b, plane in enumerate(self.planes):
            proj = _fold(v64 * plane)
            bucket += np.where(proj >= 0, 1 << b, 0)
        return bucket

    def exact(self, qvec: np.ndarray, k: int = 10) -> list[int]:
        qq = np.floor(qvec.astype(np.float64) * QUANT).astype(np.int64)
        dot = (self.q @ qq).astype(np.float64)
        qn = np.sqrt(float(qq @ qq))
        cos = dot / (self.qnorm * qn)
        return self._top(cos, np.arange(len(cos)), k)

    def ann(self, qvec: np.ndarray, k: int = 10) -> tuple[list[int], int]:
        """Top-k inside the query's bucket, and the bucket's row count."""
        q64 = qvec.astype(np.float64)
        qb = self._bucket(q64[None, :])[0]
        rows = np.nonzero(self.buckets == qb)[0]
        dot = _fold(self.v64[rows] * q64)
        qn = np.sqrt(_fold(q64 * q64))
        cos = dot / (self.norm[rows] * qn)
        return self._top(cos, rows, k), len(rows)

    @staticmethod
    def _top(cos: np.ndarray, rows: np.ndarray, k: int) -> list[int]:
        order = np.lexsort((rows, -cos))[:k]
        return [int(r) for r in rows[order]]
