"""Divergence-from-randomness ranking — PL2 (Amati & van Rijsbergen,
TOIS 2002), the classic DFR instantiation Terrier ships as its default.

Fifth scoring standard beside BM25/TFIDF (the reference's two,
``queryProcessor/Scorer.java``) and the LM pair (qld.py).  PL2 =
Poisson model (P), Laplace after-effect (L), normalization 2:

    tfn    = tf * log2(1 + c * avgdl / dl)          (c = 1, pinned)
    lambda = cf / N
    w(t,d) = (tfn*log2(tfn/lambda) + (lambda - tfn)*log2(e)
              + 0.5*log2(2*pi*tfn)) / (tfn + 1)
    score(q,d) = sum_t qtf_t * w(t,d)   over matched in-lexicon terms

Exactness contract (the lm.py/qld.py discipline): each per-(term,doc)
weight is quantized to integer micro units (round(w * 1e6) BIGINT,
half away from zero on both engines) BEFORE the per-doc sum, so the
aggregate is exact integer arithmetic and shuffle-order-independent at
round 6.  Negative weights are KEPT (Terrier semantics — no clamp);
candidates = docs matching >= 1 in-lexicon term.

Float-parity pins (restated in oracle._pl2_topk_sql — change both or
neither): every log goes through log10 (the correctly-rounded libm
entry point both engines share; log2()-via-ln differs in the last ulp
between JVM and C) and the base conversion uses LITERAL doubles:

- L2      = 0.3010299956639812   (log10(2))
- LOG2E   = 1.4426950408889634   (log2(e))
- TWO_PI  = 6.283185307179586    (2*pi)
- c = 1 folded: the normalization ratio is avgdl / dl_double;
- parenthesizations: tfn = (tf_double * g) / L2 with
  g = log10(1.0 + avgdl / dl_double); term1 = (tfn * log10(tfn /
  lambda)) / L2; term2 = (lambda - tfn) * LOG2E; term3 = (0.5 *
  log10(TWO_PI * tfn)) / L2; w = ((term1 + term2) + term3) /
  (tfn + 1.0) — the sum associates LEFT;
- lambda = cf_double / n_docs_double (one division);
- rank (micro desc, docid asc); score = round(micro / 1e6, 6).

Scale shape: identical to qld_topk — per-query lexicon lookup
broadcast into one postings scan, a single (qid, docid) aggregate, all
expressions Catalyst built-ins (whole-stage codegen, no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .index_build import InvertedIndex
from .topk import _EMPTY_SCHEMA, query_terms, resolve_query_terms

PL2_C = 1.0  # normalization-2 constant (folded into avgdl/dl at c=1)
L2 = 0.3010299956639812  # log10(2) as a pinned literal
LOG2E = 1.4426950408889634  # log2(e) as a pinned literal
TWO_PI = 6.283185307179586  # 2*pi as a pinned literal
_MICRO = 1e6


def pl2_weight_col(tf, dl, cf, n_docs: int, avgdl: float):
    """The pinned PL2 per-(term,doc) weight expression (double).

    Arguments are Columns (tf, dl, cf) + Python scalars; every
    parenthesization here is restated verbatim in the SQL oracle.
    """
    tf_d = tf.cast("double")
    dl_d = dl.cast("double")
    lam = cf.cast("double") / F.lit(float(n_docs))
    g = F.log10(F.lit(1.0) + F.lit(float(avgdl)) / dl_d)
    tfn = (tf_d * g) / F.lit(L2)
    term1 = (tfn * F.log10(tfn / lam)) / F.lit(L2)
    term2 = (lam - tfn) * F.lit(LOG2E)
    term3 = (F.lit(0.5) * F.log10(F.lit(TWO_PI) * tfn)) / F.lit(L2)
    return ((term1 + term2) + term3) / (tfn + F.lit(1.0))


def pl2_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    k: int = 10,
) -> DataFrame:
    """-> DataFrame(qid string, docno string, rank long, score double)."""
    got = resolve_query_terms(index, query_terms(queries, index.parse), ("cf",))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], _EMPTY_SCHEMA)
    qt = got[1]

    matched = index.flat.join(F.broadcast(qt), "term")
    w_micro = F.round(
        pl2_weight_col(
            F.col("tf"), F.col("doc_len"), F.col("cf"), index.n_docs, index.avgdl
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


def dph_weight_col(tf, dl, cf, n_docs: int, avgdl: float):
    """The pinned DPH per-(term,doc) weight expression (double) —
    Amati's hypergeometric DFR model in Terrier's parameter-free form:

        f    = tf / dl
        norm = ((1 - f) * (1 - f)) / (tf + 1)
        w    = norm * ( (tf * log2((tf*avgdl/dl) * (N/cf))
                         + 0.5 * log2(2*pi*tf*(1-f)) )

    Every log routes through log10 with the pinned literal constants
    (the pl2 discipline); parenthesizations restated verbatim in
    oracle._dph_topk_sql: t1 = (tf_d * log10(((tf_d * avgdl) / dl_d)
    * (n_docs_d / cf_d))) / L2, t2 = (0.5 * log10((TWO_PI * tf_d) *
    (1.0 - f))) / L2, w = norm * (t1 + t2).  tf == dl (a doc that is
    ONE term repeated) pins w = 0 on both sides — Terrier's own form
    is 0 * -inf = NaN there; the zero reading (norm = 0, "no
    information") keeps the pipeline total at scale.
    """
    tf_d = tf.cast("double")
    dl_d = dl.cast("double")
    f_rel = tf_d / dl_d
    norm = ((F.lit(1.0) - f_rel) * (F.lit(1.0) - f_rel)) / (
        tf_d + F.lit(1.0)
    )
    t1 = (
        tf_d
        * F.log10(
            ((tf_d * F.lit(float(avgdl))) / dl_d)
            * (F.lit(float(n_docs)) / cf.cast("double"))
        )
    ) / F.lit(L2)
    t2 = (
        F.lit(0.5)
        * F.log10((F.lit(TWO_PI) * tf_d) * (F.lit(1.0) - f_rel))
    ) / F.lit(L2)
    return F.when(tf == dl, F.lit(0.0)).otherwise(norm * (t1 + t2))


def dph_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    k: int = 10,
) -> DataFrame:
    """-> DataFrame(qid string, docno string, rank long, score double):
    DPH divergence-from-randomness ranking — the PARAMETER-FREE DFR
    model (no c, no mu, no b/k1) beside PL2; same integer-micro
    aggregation discipline and plan shape (broadcast query terms into
    one postings scan, one (qid, docid) aggregate)."""
    got = resolve_query_terms(index, query_terms(queries, index.parse), ("cf",))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], _EMPTY_SCHEMA)
    qt = got[1]

    matched = index.flat.join(F.broadcast(qt), "term")
    w_micro = F.round(
        dph_weight_col(
            F.col("tf"), F.col("doc_len"), F.col("cf"), index.n_docs, index.avgdl
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
