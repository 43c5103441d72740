"""BM25 / TFIDF scoring — exact reference formulas.

Reference (rank-identity critical, keep the operation ORDER so float64
results are bit-identical):

- BM25 (queryProcessor/Scorer.java:26-32, constants :13-15):
      Bj  = 0.3 + (0.7 * (dl / avgdl))
      s   = (tf / ((1.5 * Bj) + tf)) * log10(N / df)
  NOTE: no (k1+1) numerator, idf un-smoothed log10.
- TFIDF (queryProcessor/Scorer.java:41-43):
      s   = (1 + log10(tf)) * log10(N / df)
- idf stored in the lexicon at merge time (model/InvertedIndex.java:166):
      idf = log10(N / df)

Both column-expression forms (oracle / distributed exhaustive top-k) and
numpy forms (driver-side DAAT MaxScore) are provided; they share the
same operation order.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import BM25_B, BM25_K1, BM25_ONE_MINUS_B

BM25 = "bm25"
TFIDF = "tfidf"


# --------------------------- column expressions ---------------------------

def idf_col(df: Column, n_docs) -> Column:
    return F.log10(F.lit(n_docs) / df)


def bm25_col(tf: Column, dl: Column, df: Column, n_docs, avgdl) -> Column:
    bj = F.lit(BM25_ONE_MINUS_B) + (F.lit(BM25_B) * (dl / F.lit(avgdl)))
    return (tf / ((F.lit(BM25_K1) * bj) + tf)) * idf_col(df, n_docs)


def tfidf_col(tf: Column, df: Column, n_docs) -> Column:
    return (F.lit(1.0) + F.log10(tf)) * idf_col(df, n_docs)


def score_col(standard: str, tf: Column, dl: Column, df: Column, n_docs, avgdl) -> Column:
    """bm25_col or tfidf_col by standard name (the Column twin of
    maxscore.score_np); raises on an unknown standard."""
    if standard == BM25:
        return bm25_col(tf, dl, df, n_docs, avgdl)
    if standard == TFIDF:
        return tfidf_col(tf, df, n_docs)
    raise ValueError(f"unknown standard {standard!r}")


def bm25_coeff_col(tf: Column, dl: Column, avgdl) -> Column:
    """df-independent part of BM25: score = coeff * idf. Used to fold the
    term-upper-bound computation (Scorer.java:52-72) into the posting
    aggregation: UB = max(coeff) * idf."""
    bj = F.lit(BM25_ONE_MINUS_B) + (F.lit(BM25_B) * (dl / F.lit(avgdl)))
    return tf / ((F.lit(BM25_K1) * bj) + tf)


def tfidf_coeff_col(tf: Column) -> Column:
    return F.lit(1.0) + F.log10(tf)


# ------------------------------ numpy forms -------------------------------

def bm25_np(tf: np.ndarray, dl: np.ndarray, idf: float, avgdl: float) -> np.ndarray:
    bj = BM25_ONE_MINUS_B + (BM25_B * (dl.astype(np.float64) / avgdl))
    return (tf / ((BM25_K1 * bj) + tf)) * idf


def bm25_coeff_np(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """numpy twin of bm25_coeff_col — same constants and operation order,
    so float64 results are bit-identical to the Catalyst evaluation
    (IEEE-754 +,*,/ are exactly rounded, hence deterministic across
    engines at a fixed parenthesization; pinned by
    tests/test_salted_build.py::test_numpy_bm25_coeff_matches_catalyst)."""
    bj = BM25_ONE_MINUS_B + (BM25_B * (dl.astype(np.float64) / avgdl))
    return tf / ((BM25_K1 * bj) + tf)


def tfidf_np(tf: np.ndarray, idf: float) -> np.ndarray:
    return (1.0 + np.log10(tf.astype(np.float64))) * idf
