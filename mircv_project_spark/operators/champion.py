"""Champion lists (static index pruning) + the pruned serve path.

Classic top-docs static pruning (Manning et al., IIR §7.1.3): per term
keep only the m highest-impact postings; query time scores only those.
The reference engine keeps full lists and prunes dynamically
(``queryProcessor/Scorer.java`` MaxScore); champion lists are the
complementary STATIC trade — bounded per-term work regardless of df,
the right serve-path shape when head-term df grows with the corpus.

Pins (restated in oracle._champion_*_sql — change both or neither):
- impact order = (bm25_coeff desc, docid asc) where bm25_coeff is the
  df-independent BM25 factor tf / ((1.5 * (0.3 + 0.7*dl/avgdl)) + tf)
  (scoring.bm25_coeff_col — same parenthesization both engines, so the
  doubles are bit-identical and the order agrees).  A term's true BM25
  top-m IS its top-m by this coefficient (idf is constant per term), so
  single-term queries served from champions are exact by construction;
- m = CHAMPION_M = 32;
- serve-path scores keep CORPUS-GLOBAL df/idf/avgdl (pruning restricts
  candidates, never the statistics).

Scale shape: top-m per term is a mergeable aggregate, computed as a
salted two-stage window — stage 1 ranks within (term, docid % SALT)
so a head term's postings spread over SALT reducers and each emits at
most m rows; stage 2 ranks the <= SALT*m survivors per term.  Exact
because (coeff desc, docid asc) is a total order: the global top-m is
contained in the union of per-salt top-m.  Same discipline as the
salted posting build (index_build.py) and knn_join's partial top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import scoring
from .index_build import InvertedIndex
from .topk import _EMPTY_SCHEMA, _score_and_rank, query_terms, resolve_query_terms

CHAMPION_M = 32
CHAMPION_SALT = 16


def champion_lists(
    flat: DataFrame,
    avgdl: float,
    m: int = CHAMPION_M,
    salt: int = CHAMPION_SALT,
) -> DataFrame:
    """(term, docid, tf, doc_len) postings -> per-term top-m champion
    rows (same columns), exact under (bm25_coeff desc, docid asc)."""
    cols = flat.columns
    coeff = scoring.bm25_coeff_col(F.col("tf"), F.col("doc_len"), avgdl)
    order = [F.col("_impact").desc(), F.col("docid").asc()]
    w1 = Window.partitionBy("term", "_salt").orderBy(*order)
    part = (
        flat.withColumn("_impact", coeff)
        .withColumn("_salt", F.pmod(F.col("docid"), F.lit(salt)))
        .withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= m)
    )
    w2 = Window.partitionBy("term").orderBy(*order)
    return (
        part.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= m)
        .select(*cols)
    )


def champion_table(index: InvertedIndex, m: int = CHAMPION_M) -> DataFrame:
    """Full-vocabulary champion table -> (term, docid, tf)."""
    return champion_lists(index.flat, index.avgdl, m=m).select(
        "term", "docid", F.col("tf").cast("long").alias("tf")
    )


def champion_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    standard: str = scoring.BM25,
    k: int = 10,
    m: int = CHAMPION_M,
) -> DataFrame:
    """Top-k served from champion lists only (disjunctive; approximate
    by design when a multi-term query's top doc hides outside one
    term's champions — recall vs the exhaustive ranking is measured in
    tests; single-term queries are exact by construction).

    The champion selection commutes with the query-term restriction
    (lists are per term), so the serve path prunes the postings scan to
    the query terms FIRST and champions only those lists.
    """
    got = resolve_query_terms(index, query_terms(queries, index.parse))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], _EMPTY_SCHEMA)
    rows, qt = got
    terms = sorted({t for _, t, *_ in rows})
    champ = champion_lists(
        index.flat.where(F.col("term").isin(terms)), index.avgdl, m=m
    )
    matched = champ.join(F.broadcast(qt), "term")
    return _score_and_rank(
        matched, standard, index.n_docs, index.avgdl, k, False, {}
    )
