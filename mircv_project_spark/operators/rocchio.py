"""Rocchio pseudo-relevance feedback (vector-space family) — the
second feedback model beside RM3's language-model family.

Rocchio (1971): move the query vector toward the centroid of the
feedback docs' tf-idf vectors, q' = a·q + b/|Dr|·sum(d).  This
implementation pins a = b = 1/2 and folds the constants into an
integer-scaled weight so every aggregate is exact BIGINT arithmetic
(shuffle-order-independent — the lm.py discipline applied to the
vector-space model):

1. first pass: BM25 top fb_docs per query — the engine's standard
   rounded ranking (identical to RM3's stage 1);
2. doc-vector weights quantized per (doc, term):
   wq(t, d) = round(1e6 · (1 + log10 tf) · log10(N/df)) as BIGINT;
3. centroid sums S(t) = sum over feedback docs of wq(t, d) — exact;
4. expanded query weight, scaled by 2·fb_docs (rank-preserving,
   keeps everything integer):
   qw(t) = fb_docs · qtf(t) · 1e6 + S(t) for original in-lexicon
   terms; qw(t) = S(t) for the top fb_terms expansion terms by
   (S desc, term asc) not already in the query;
5. final pass: score_scaled(d) = sum over selected terms of
   qw(t) · wq(t, d) — an exact integer; reported as
   round(score_scaled / 1e12, 6); ranking (score_scaled desc,
   docid asc); candidates = docs matching >= 1 selected term.

All five stages restated verbatim in oracle._rocchio_sql.

Scale shape: same as RM3 — the feedback-doc term-vector fetch is a
broadcast docid semi-join on the flat postings (a forward index at
100 TB), the final pass the standard broadcast-join + one (qid, docid)
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import scoring
from .index_build import InvertedIndex
from .topk import exhaustive_topk, query_terms, resolve_query_terms

ROCCHIO_FB_DOCS = 10
ROCCHIO_FB_TERMS = 5
_MICRO = 1_000_000.0


def _wq_col(n_docs):
    return F.round(
        F.lit(_MICRO)
        * (F.lit(1.0) + F.log10(F.col("tf")))
        * F.log10(F.lit(float(n_docs)) / F.col("df"))
    ).cast("long")


def rocchio_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    k: int = 10,
    fb_docs: int = ROCCHIO_FB_DOCS,
    fb_terms: int = ROCCHIO_FB_TERMS,
) -> DataFrame:
    """-> DataFrame(qid string, docno string, rank long, score double)."""
    empty = "qid string, docno string, rank long, score double"
    got = resolve_query_terms(index, query_terms(queries, index.parse))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], empty)
    orig = got[1].select("qid", "term", "qtf")

    first = exhaustive_topk(index, queries, scoring.BM25, k=fb_docs)
    fb = first.select("qid", (F.col("docno").cast("long") + 1).alias("docid"))

    # df rides on the postings join so wq never needs a lexicon lookup
    flat_df = index.flat.join(
        F.broadcast(index.lexicon.select("term", "df")), "term"
    )
    fbt = flat_df.join(F.broadcast(fb), "docid").select(
        "qid", "term", _wq_col(index.n_docs).alias("wq")
    )
    cent = fbt.groupBy("qid", "term").agg(F.sum("wq").alias("s"))

    # original terms: qw = fb_docs * qtf * 1e6 + S (S = 0 when the term
    # never occurs in the feedback docs)
    qw_orig = (
        orig.join(cent, ["qid", "term"], "left")
        .select(
            "qid",
            "term",
            (
                F.lit(fb_docs) * F.col("qtf").cast("long") * F.lit(1_000_000)
                + F.coalesce(F.col("s"), F.lit(0))
            ).alias("qw"),
        )
    )
    # expansion: top fb_terms non-original feedback terms by (S desc, term)
    w_win = Window.partitionBy("qid").orderBy(
        F.col("s").desc(), F.col("term").asc()
    )
    qw_exp = (
        cent.join(orig.select("qid", "term"), ["qid", "term"], "left_anti")
        .withColumn("er", F.row_number().over(w_win))
        .where(F.col("er") <= fb_terms)
        .select("qid", "term", F.col("s").alias("qw"))
    )
    sel = qw_orig.unionByName(qw_exp)

    matched = flat_df.join(F.broadcast(sel), "term").select(
        "qid", "docid", (F.col("qw") * _wq_col(index.n_docs)).alias("c")
    )
    scored = matched.groupBy("qid", "docid").agg(F.sum("c").alias("scaled"))
    w = Window.partitionBy("qid").orderBy(
        F.col("scaled").desc(), F.col("docid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "qid",
            (F.col("docid") - 1).cast("string").alias("docno"),
            "rank",
            F.round(F.col("scaled") / F.lit(1e12), 6).alias("score"),
        )
    )
