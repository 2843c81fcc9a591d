"""BM25 scoring math, faithful to the reference engine.

Constants K=1.2, B=0.75, SIGMA=0.0
(`/root/reference/seekstorm/src/add_result.rs:20-22`).

* idf = ln((N - df + 0.5)/(df + 0.5) + 1), N = indexed doc count,
  df = posting count (`index.rs:3023-3026`, `search.rs:3225-3230`).
* per-term, per-field contribution =
  boost * idf * (tf*(K+1)/(tf + K*(1-B+B*dl_q/avgdl)) + SIGMA)
  (`add_result.rs:1171-1426`), summed over query terms.
* dl_q is the *decompressed quantized* doc length
  (SmallFloat byte4, `index.rs:4232-4279`); avgdl is the mean of
  quantized lengths over docs (`commit.rs:318-319`).
* Reference arithmetic is f32 throughout; :func:`bm25_scores_f32`
  reproduces that. A float64 twin (:func:`bm25_scores_f64`) exists for
  SQL-oracle comparison, where DuckDB computes in doubles.
"""

from __future__ import annotations

import math

import numpy as np

K = 1.2
B = 0.75
SIGMA = 0.0


def idf(n_docs: int, df: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def idf_f32(n_docs: int, df: int) -> np.float32:
    """f32 idf with the log evaluated in float64 then rounded to f32.

    The f32 argument is computed exactly as the reference does
    (f32 adds/divide); routing the transcendental through float64 and
    rounding makes the value reproducible across math libraries
    (numpy, JVM, DuckDB ``ln(x)::FLOAT``) — a 1-ulp float64 libm
    difference virtually never changes the rounded f32.
    """
    n = np.float32(n_docs)
    d = np.float32(df)
    arg = (n - d + np.float32(0.5)) / (d + np.float32(0.5)) + np.float32(1.0)
    return np.float32(np.log(np.float64(arg)))


def bm25_component(dl_q: np.ndarray, avgdl: float, dtype=np.float32) -> np.ndarray:
    """K*(1-B+B*dl_q/avgdl) — the cached denominator term
    (reference commit.rs:321-325 precomputes these per length byte)."""
    dl = np.asarray(dl_q, dtype=dtype)
    return (dtype(K) * (dtype(1.0) - dtype(B) + dtype(B) * dl / dtype(avgdl))).astype(
        dtype
    )


def bm25_term_scores(
    tf: np.ndarray,
    dl_q: np.ndarray,
    n_docs: int,
    df: int,
    avgdl: float,
    dtype=np.float32,
    boost: float = 1.0,
) -> np.ndarray:
    """Vectorized per-doc score contribution of one term."""
    tf = np.asarray(tf, dtype=dtype)
    comp = bm25_component(dl_q, avgdl, dtype)
    if dtype is np.float32:
        term_idf = idf_f32(n_docs, df)
    else:
        term_idf = dtype(idf(n_docs, df))
    return (
        dtype(boost)
        * term_idf
        * (tf * dtype(K + 1.0) / (tf + comp) + dtype(SIGMA))
    ).astype(dtype)
