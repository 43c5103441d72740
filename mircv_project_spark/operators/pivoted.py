"""Pivoted document-length normalization ranking (Singhal, Buckley &
Mitra, SIGIR 1996) — the SMART ltu-style weighting that preceded BM25
as the length-normalization standard.

Seventh scoring standard beside BM25/TFIDF (the reference's two), the
LM pair (qld.py), and the DFR pair (dfr.py):

    w(t,d) = (1 + ln(1 + ln(tf))) / ((1-s) + s * dl/avgdl)
             * ln((N + 1) / df)
    score(q,d) = sum_t qtf_t * w(t,d)   over matched in-lexicon terms

Exactness contract (the lm/qld/dfr discipline): each per-(term,doc)
weight micro-quantizes to BIGINT (round(w*1e6), half away from zero on
both engines) BEFORE the per-doc sum — exact integer aggregation,
shuffle-order-independent at round 6.

Float-parity pins (restated in oracle._pivoted_topk_sql — change both
or neither): every ln routes through log10 with the LITERAL conversion
constant LN10 = 2.302585092994046 (ln(x) = log10(x) * LN10 — the pl2
literal-routing discipline; a direct ln() can differ in the last ulp
between engines); slope s = 0.25 applied as the LITERALS 0.75 and 0.25
(never 1 - 0.25 — the CORI one-ulp lesson; the textbook 0.2 adapted to
the dyadic 0.25 so s and 1-s are both exact);
parenthesizations: ltf = 1.0 + (log10(tf_d) * LN10), num = 1.0 +
(log10(ltf) * LN10), den = 0.75 + (0.25 * (dl_d / avgdl)), idfp =
log10((n_docs_d + 1.0) / df_d) * LN10, w = (num / den) * idfp; rank
(micro desc, docid asc); score = round(micro/1e6, 6).

Scale shape: identical to qld/pl2 — per-query lexicon lookup broadcast
into one postings scan, one (qid, docid) aggregate, all Catalyst
built-ins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .index_build import InvertedIndex
from .topk import _EMPTY_SCHEMA, query_terms, resolve_query_terms

PIV_S = 0.25  # pivot slope (dyadic; literals 0.75/0.25 on both sides)
LN10 = 2.302585092994046  # ln(10) as a pinned literal
_MICRO = 1e6


def pivoted_weight_col(tf, dl, df, n_docs: int, avgdl: float):
    """The pinned pivoted-normalization per-(term,doc) weight
    (double) — see the module docstring for every parenthesization."""
    tf_d = tf.cast("double")
    dl_d = dl.cast("double")
    ltf = F.lit(1.0) + (F.log10(tf_d) * F.lit(LN10))
    num = F.lit(1.0) + (F.log10(ltf) * F.lit(LN10))
    den = F.lit(0.75) + (F.lit(0.25) * (dl_d / F.lit(float(avgdl))))
    idfp = (
        F.log10((F.lit(float(n_docs)) + F.lit(1.0)) / df.cast("double"))
        * F.lit(LN10)
    )
    return (num / den) * idfp


def pivoted_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    k: int = 10,
) -> DataFrame:
    """-> DataFrame(qid string, docno string, rank long, score double)."""
    got = resolve_query_terms(index, query_terms(queries, index.parse))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], _EMPTY_SCHEMA)
    qt = got[1]

    matched = index.flat.join(F.broadcast(qt), "term")
    w_micro = F.round(
        pivoted_weight_col(
            F.col("tf"), F.col("doc_len"), F.col("df"), index.n_docs, index.avgdl
        )
        * F.lit(_MICRO)
    ).cast("long")

    scored = (
        matched.withColumn("wm", w_micro)
        .groupBy("qid", "docid")
        .agg(F.sum(F.col("qtf").cast("long") * F.col("wm")).alias("micro"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("micro").desc(), F.col("docid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "qid",
            (F.col("docid") - 1).cast("string").alias("docno"),
            "rank",
            F.round(F.col("micro") / F.lit(_MICRO), 6).alias("score"),
        )
    )


BM25P_DELTA = 0.5  # BM25+ lower bound (dyadic — exactly representable)


def bm25_plus_weight_col(tf, dl, df, n_docs: int, avgdl: float):
    """BM25+ per-(term,doc) weight (Lv & Zhai, CIKM 2011): the
    engine's exact BM25 coefficient (scoring.py parenthesization —
    tf / ((k1 * (0.3 + 0.7*dl/avgdl)) + tf)) LOWER-BOUNDED by the
    dyadic delta = 0.5, times the engine idf log10(N/df).  The fix for
    BM25's over-penalization of long documents: a single occurrence
    in any doc is worth at least delta*idf."""
    from .. import config

    tf_d = tf.cast("double")
    dl_d = dl.cast("double")
    bj = F.lit(config.BM25_ONE_MINUS_B) + (
        F.lit(config.BM25_B) * (dl_d / F.lit(float(avgdl)))
    )
    coeff = tf_d / ((F.lit(config.BM25_K1) * bj) + tf_d)
    idf = F.log10(F.lit(float(n_docs)) / df.cast("double"))
    return (coeff + F.lit(BM25P_DELTA)) * idf


def bm25_plus_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    k: int = 10,
) -> DataFrame:
    """-> DataFrame(qid string, docno string, rank long, score double)
    — the eighth scoring standard, under the micro-BIGINT aggregation
    discipline (weights quantized BEFORE the per-doc sum; pins
    restated in oracle._bm25_plus_topk_sql: delta = 0.5 LITERAL,
    coefficient parenthesization = the engine's BM25 form, idf =
    log10(N/df), rank (micro desc, docid asc))."""
    got = resolve_query_terms(index, query_terms(queries, index.parse))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], _EMPTY_SCHEMA)
    qt = got[1]

    matched = index.flat.join(F.broadcast(qt), "term")
    w_micro = F.round(
        bm25_plus_weight_col(
            F.col("tf"), F.col("doc_len"), F.col("df"), index.n_docs, index.avgdl
        )
        * F.lit(_MICRO)
    ).cast("long")
    scored = (
        matched.withColumn("wm", w_micro)
        .groupBy("qid", "docid")
        .agg(F.sum(F.col("qtf").cast("long") * F.col("wm")).alias("micro"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("micro").desc(), F.col("docid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "qid",
            (F.col("docid") - 1).cast("string").alias("docno"),
            "rank",
            F.round(F.col("micro") / F.lit(_MICRO), 6).alias("score"),
        )
    )
