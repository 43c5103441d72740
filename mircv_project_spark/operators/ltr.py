"""Learning-to-rank feature extraction: per (query, candidate-doc)
feature vectors for training a reranker.

The export stage between "first-pass retrieval" and "train an LTR /
cross-encoder model": candidates are the BM25 top-pool per query, and
each row carries every signal the engine can compute in one pass —
the three scoring standards plus the match-shape features.

Pins (restated in oracle._ltr_features_sql — change both or neither):
- candidate pool = BM25 top LTR_POOL under the engine's standard
  ranking (round(bm25,6) desc, docid asc);
- bm25 / tfidf features rounded to 6; the qld feature is the integer
  micro-log10 QLD score (operators/qld.py pins: mu=2048, quantized
  per-term weights, in-lexicon |q|) reported /1e6 round 6;
- n_match = number of DISTINCT in-lexicon query terms the doc matches;
  doc_len = the raw token count.

Scale shape: one postings join + one (qid, docid) aggregate computes
every feature simultaneously (no per-feature pass); the pool cut is a
window over the aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import scoring
from .index_build import InvertedIndex
from .qld import QLD_MU, _MICRO, q_length_map
from .topk import n_terms, query_terms, resolve_query_terms

LTR_POOL = 20


def ltr_features(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    pool: int = LTR_POOL,
) -> DataFrame:
    """-> (qid, docno, bm25, tfidf, qld, n_match, doc_len)."""
    schema = (
        "qid string, docno string, bm25 double, tfidf double, qld double,"
        " n_match long, doc_len long"
    )
    got = resolve_query_terms(index, query_terms(queries, index.parse), ("df", "cf"))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], schema)
    rows, qt = got

    n, avgdl, c_total = index.n_docs, index.avgdl, float(index.sum_doc_len)
    bm25 = scoring.bm25_col(F.col("tf"), F.col("doc_len"), F.col("df"), n, avgdl)
    tfidf = scoring.tfidf_col(F.col("tf"), F.col("df"), n)
    w_micro = F.round(
        F.log10(
            F.lit(1.0)
            + (F.col("tf").cast("double") * F.lit(c_total))
            / (F.lit(QLD_MU) * F.col("cf").cast("double"))
        )
        * F.lit(_MICRO)
    ).cast("long")

    matched = index.flat.join(F.broadcast(qt), "term")
    agg = (
        matched.select(
            "qid",
            "docid",
            "doc_len",
            (F.col("qtf") * bm25).alias("b"),
            (F.col("qtf") * tfidf).alias("t"),
            (F.col("qtf").cast("long") * w_micro).alias("qm"),
        )
        .groupBy("qid", "docid")
        .agg(
            F.sum("b").alias("bm25_raw"),
            F.sum("t").alias("tfidf_raw"),
            F.sum("qm").alias("tsum"),
            F.count("*").alias("n_match"),
            F.max("doc_len").alias("doc_len"),
        )
    )
    dl_micro = F.round(
        F.log10(F.lit(QLD_MU) / (F.col("doc_len").cast("double") + F.lit(QLD_MU)))
        * F.lit(_MICRO)
    ).cast("long")
    qmap = q_length_map(rows)
    agg = agg.withColumn(
        "qld_micro", F.col("tsum") + qmap[F.col("qid")].cast("long") * dl_micro
    )

    w = Window.partitionBy("qid").orderBy(
        F.round(F.col("bm25_raw"), 6).desc(), F.col("docid").asc()
    )
    return (
        agg.withColumn("prank", F.row_number().over(w))
        .where(F.col("prank") <= pool)
        .select(
            "qid",
            (F.col("docid") - 1).cast("string").alias("docno"),
            F.round(F.col("bm25_raw"), 6).alias("bm25"),
            F.round(F.col("tfidf_raw"), 6).alias("tfidf"),
            F.round(F.col("qld_micro") / F.lit(_MICRO), 6).alias("qld"),
            F.col("n_match").cast("long").alias("n_match"),
            F.col("doc_len").cast("long").alias("doc_len"),
        )
    )


TRIPLET_POS = 2
TRIPLET_NEG = 3


def training_triplets(
    index: InvertedIndex,
    docs: DataFrame,
    queries: list[tuple[str, str]],
    n_pos: int = TRIPLET_POS,
    n_neg: int = TRIPLET_NEG,
) -> DataFrame:
    """-> (qid, pos_docno, pos_grade, neg_docno, neg_rank): contrastive
    training triplets for a retrieval model — every (positive, hard
    negative) pair per query.

    Pins (restated in oracle._triplets_sql — change both or neither):
    over the full BM25 candidate ranking, positives = the first n_pos
    docs (by rank) matching ALL in-lexicon query terms; hard negatives
    = the first n_neg docs matching only SOME — the highest-scoring
    partial matches, the classic hard-negative mining rule (Karpukhin
    et al. 2020) grounded in the conjunctive-match relevance proxy.
    No pool cut on the side selection: a fixed pool saturates with
    full matches as the corpus grows (measured: 50 was all-full at
    sf0.01) and silently empties the negatives.  Queries lacking
    either side emit nothing (e.g. single-term queries have no
    partial matches).  pos_grade carries the matched-term count.

    Scale shape: one pooled retrieval pass whose aggregate already
    counts matched terms; mining adds one window split and an
    n_pos x n_neg per-query cross join of two tiny ranked heads.
    """
    out_schema = (
        "qid string, pos_docno string, pos_grade int,"
        " neg_docno string, neg_rank long"
    )
    got = resolve_query_terms(index, query_terms(queries, index.parse))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], out_schema)
    rows, qt = got
    bm25 = scoring.bm25_col(
        F.col("tf"), F.col("doc_len"), F.col("df"), index.n_docs, index.avgdl
    )
    pooled = (
        index.flat.join(F.broadcast(qt), "term")
        .withColumn("contrib", F.col("qtf") * bm25)
        .groupBy("qid", "docid")
        .agg(F.sum("contrib").alias("raw"), F.count("*").alias("nmatch"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.round(F.col("raw"), 6).desc(), F.col("docid").asc()
    )
    pooled = pooled.withColumn("rank", F.row_number().over(w).cast("long"))
    req = F.create_map(*[F.lit(x) for kv in n_terms(rows).items() for x in kv])
    pooled = pooled.withColumn("full", F.col("nmatch") == req[F.col("qid")])

    wside = Window.partitionBy("qid", "full").orderBy(F.col("rank").asc())
    sided = pooled.withColumn("sr", F.row_number().over(wside))
    pos = sided.where(F.col("full") & (F.col("sr") <= n_pos)).select(
        "qid",
        (F.col("docid") - 1).cast("string").alias("pos_docno"),
        F.col("nmatch").cast("int").alias("pos_grade"),
    )
    neg = sided.where(~F.col("full") & (F.col("sr") <= n_neg)).select(
        "qid",
        (F.col("docid") - 1).cast("string").alias("neg_docno"),
        F.col("rank").alias("neg_rank"),
    )
    return pos.join(neg, "qid").select(
        "qid", "pos_docno", "pos_grade", "neg_docno", "neg_rank"
    )


HN_POOL = 20
HN_K = 5


def hard_negatives(
    index: InvertedIndex,
    docs: DataFrame,
    queries: list[tuple[str, str]],
    pool: int = HN_POOL,
    k: int = HN_K,
) -> DataFrame:
    """-> (qid, docno, rank, score, grade): DPR-style hard-negative
    mining — per query, the first k docs the lexical ranker retrieves
    HIGH but the judgments grade LOW (Karpukhin et al. EMNLP 2020
    train dense retrievers on exactly these "BM25 hard negatives";
    random negatives are too easy).

    Pinned semantics (restated in oracle._hard_negatives_sql — change
    both sides or neither): run = exhaustive BM25 top pool (the
    engine's standard ranking/total order), judged grade = the
    synthetic-qrels law (least(#distinct matched query terms, 3)),
    hard negative = grade <= 1 (the bpref judged-nonrel split: every
    retrieved doc matches >= 1 term so grade 0 cannot occur in-run),
    first k per query IN RANK ORDER.

    Scale shape: one standard top-pool run + the qrels equi-join —
    constant work per query."""
    from . import scoring
    from .evaluation import synthetic_qrels
    from .topk import exhaustive_topk

    run = exhaustive_topk(index, queries, scoring.BM25, k=pool)
    qrels = synthetic_qrels(docs, queries)
    j = run.join(qrels, ["qid", "docno"], "left").select(
        "qid",
        "docno",
        "rank",
        "score",
        F.coalesce(F.col("grade"), F.lit(0)).cast("int").alias("grade"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("rank").asc())
    return (
        j.where(F.col("grade") <= 1)
        .withColumn("hn", F.row_number().over(w))
        .where(F.col("hn") <= k)
        .select("qid", "docno", "rank", "score", "grade")
    )
