"""Query-likelihood ranking with Dirichlet smoothing (QLD).

Third scoring standard beside BM25/TFIDF (``queryProcessor/Scorer.java``
has only those two; QLD is the classic LM alternative — Zhai & Lafferty,
"A Study of Smoothing Methods for Language Models Applied to Ad Hoc
Information Retrieval", SIGIR 2001).  Rank-equivalent matched-terms
form, so it runs off the same postings + lexicon tables:

    log10 P(q|d) ~ sum_t qtf_t * log10(1 + tf_t / (mu * cf_t / C))
                   + |q| * log10(mu / (dl + mu))

where C = total token count, cf_t = collection frequency (both already
in the lexicon), |q| = total count of IN-LEXICON query tokens, and the
candidate set is docs matching >= 1 in-lexicon query term (docs with no
match are never emitted — standard DAAT practice).

Exactness contract (same discipline as operators/lm.py): each per-term
weight and the per-doc length part are quantized to integer micro-log10
units (round(log10(.) * 1e6) as BIGINT, half away from zero on both
engines) BEFORE the per-doc sum, so the aggregate is exact integer
arithmetic and shuffle-order-independent at round 6.  Pins (change the
oracle too or neither):

- mu = 2048 (dyadic, exactly representable);
- inner ratio parenthesized (tf_double * C) / (mu * cf_double) — factors
  cast to double BEFORE multiplying (BIGINT tf*C overflows at corpus
  scale, and double semantics must match DuckDB's);
- score = round(micro_total / 1e6, 6); ranking by micro_total desc
  (integer — no float tie ambiguity), docid asc.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .index_build import InvertedIndex
from .topk import _EMPTY_SCHEMA, query_terms, resolve_query_terms

QLD_MU = 2048.0
_MICRO = 1e6

# Jelinek-Mercer pins: lambda = 0.5 (dyadic), so the matched-term odds
# factor (1-lambda)/lambda is EXACTLY 1 and never appears as a float;
# the per-query constant |q| * log10(lambda) is carried as the integer
# micro literal round(1e6 * log10(0.5)) = -301030, pinned on both
# sides (the CORI 0.6-literal discipline: deriving it via log10() on
# each engine would be the same value, but a literal removes the
# question).
JM_LAMBDA = 0.5
JM_LOG_LAMBDA_MICRO = -301030


def q_length_map(rows) -> Column:
    """qid -> |q| as a map Column: the qtf sum over a query's
    ``resolve_query_terms`` rows, so in-lexicon tokens only, with
    multiplicity preserved."""
    q_total: dict[str, int] = {}
    for q, _, c, *_ in rows:
        q_total[q] = q_total.get(q, 0) + c
    return F.create_map(*[F.lit(x) for kv in q_total.items() for x in kv])


def qld_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    k: int = 10,
    mu: float = QLD_MU,
) -> DataFrame:
    """-> DataFrame(qid string, docno string, rank long, score double)."""
    got = resolve_query_terms(index, query_terms(queries, index.parse), ("cf",))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], _EMPTY_SCHEMA)
    rows, qt = got

    c_total = float(index.sum_doc_len)
    matched = index.flat.join(F.broadcast(qt), "term")
    w_micro = F.round(
        F.log10(
            F.lit(1.0)
            + (F.col("tf").cast("double") * F.lit(c_total))
            / (F.lit(mu) * F.col("cf").cast("double"))
        )
        * F.lit(_MICRO)
    ).cast("long")

    scored = (
        matched.withColumn("wm", w_micro)
        .groupBy("qid", "docid")
        .agg(
            F.sum(F.col("qtf").cast("long") * F.col("wm")).alias("tsum"),
            F.max("doc_len").alias("doc_len"),
        )
    )
    dl_micro = F.round(
        F.log10(F.lit(mu) / (F.col("doc_len").cast("double") + F.lit(mu)))
        * F.lit(_MICRO)
    ).cast("long")
    qmap = q_length_map(rows)
    scored = scored.withColumn(
        "micro", F.col("tsum") + qmap[F.col("qid")].cast("long") * dl_micro
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


def qljm_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    k: int = 10,
) -> DataFrame:
    """Query likelihood with Jelinek-Mercer smoothing — the OTHER
    classic LM smoothing beside qld_topk's Dirichlet (Zhai & Lafferty
    SIGIR 2001 compare exactly these two; JM interpolates linearly,
    Dirichlet by document length).  Matched-terms form:

        log10 P(q|d) ~ sum_t qtf_t * log10(1 + ((1-L)/L) * (tf_t/dl)
                                                 / (cf_t/C))
                       + |q| * log10(L)

    Exactness contract (the qld_topk/lm.py discipline): per-(term,doc)
    weights quantized to integer micro-log10 BIGINT before the exact
    per-doc sum.  Pins (change oracle._qljm_topk_sql too or neither):

    - lambda = 0.5 (dyadic) -> the odds factor is EXACTLY 1 and is
      omitted; the query-constant part is |q| * JM_LOG_LAMBDA_MICRO
      with the -301030 literal (not a runtime log10);
    - inner ratio parenthesized (tf_double * C) / (dl_double *
      cf_double) — factors cast double BEFORE multiplying;
    - score = round(micro / 1e6, 6); rank (micro desc, docid asc).

    Scale shape: identical to qld_topk — tiny per-query lexicon
    lookup, one broadcast join into the postings scan, one (qid,
    docid) aggregate; unlike Dirichlet the weight needs dl per row,
    which already rides in ``flat``.
    """
    got = resolve_query_terms(index, query_terms(queries, index.parse), ("cf",))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], _EMPTY_SCHEMA)
    rows, qt = got

    c_total = float(index.sum_doc_len)
    matched = index.flat.join(F.broadcast(qt), "term")
    w_micro = F.round(
        F.log10(
            F.lit(1.0)
            + (F.col("tf").cast("double") * F.lit(c_total))
            / (F.col("doc_len").cast("double") * F.col("cf").cast("double"))
        )
        * F.lit(_MICRO)
    ).cast("long")

    scored = (
        matched.withColumn("wm", w_micro)
        .groupBy("qid", "docid")
        .agg(F.sum(F.col("qtf").cast("long") * F.col("wm")).alias("tsum"))
    )
    qmap = q_length_map(rows)
    scored = scored.withColumn(
        "micro",
        F.col("tsum")
        + qmap[F.col("qid")].cast("long") * F.lit(JM_LOG_LAMBDA_MICRO),
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


AD_DELTA = 0.5  # absolute discount, dyadic — folded into integer forms


def qlad_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    k: int = 10,
) -> DataFrame:
    """Query likelihood with ABSOLUTE-DISCOUNT smoothing — the third
    member of Zhai & Lafferty's SIGIR 2001 smoothing triad beside
    Dirichlet (qld_topk) and Jelinek-Mercer (qljm_topk): subtract a
    constant delta from every seen count and redistribute the freed
    mass delta*|d|_u/dl over the collection model.  Matched-terms
    rank-equivalent form:

        log10 P(q|d) ~ sum_t qtf_t
                         * log10(1 + (tf_t - delta)/(delta*|d|_u*cf_t/C))
                       + |q| * log10(delta*|d|_u / dl)

    with |d|_u = the doc's DISTINCT term count.

    Exactness contract (the qld/qljm/lm.py discipline): per-(term,doc)
    weights and the per-doc length part quantized to integer
    micro-log10 BIGINT before the exact per-doc sum.  Pins (change
    oracle._qlad_topk_sql too or neither):

    - delta = 0.5 (DYADIC) folded into INTEGER forms: tf - delta =
      (2*tf - 1)/2 and 1/(delta*du) = 2/du cancel, so the inner ratio
      is ((2*tf - 1)_double * C) / (du_double * cf_double) — every
      factor exact, cast double BEFORE multiplying; the length part is
      log10(du_double / (2.0 * dl_double));
    - tf >= 1 always, so the max(tf - delta, 0) clamp never binds and
      is omitted on both sides;
    - score = round(micro / 1e6, 6); rank (micro desc, docid asc).

    Scale shape: qld_topk's plan plus ONE postings-grain aggregate for
    the per-doc distinct-term counts (du) joined into the scored
    docs — at 100 TB that's the same shuffle class as the doc-length
    table the index already maintains.
    """
    got = resolve_query_terms(index, query_terms(queries, index.parse), ("cf",))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], _EMPTY_SCHEMA)
    rows, qt = got

    c_total = float(index.sum_doc_len)
    du = index.flat.groupBy("docid").agg(
        F.count("*").cast("long").alias("du")
    )
    matched = index.flat.join(F.broadcast(qt), "term").join(du, "docid")
    w_micro = F.round(
        F.log10(
            F.lit(1.0)
            + (
                (F.lit(2) * F.col("tf") - F.lit(1)).cast("double")
                * F.lit(c_total)
            )
            / (F.col("du").cast("double") * F.col("cf").cast("double"))
        )
        * F.lit(_MICRO)
    ).cast("long")

    scored = (
        matched.withColumn("wm", w_micro)
        .groupBy("qid", "docid")
        .agg(
            F.sum(F.col("qtf").cast("long") * F.col("wm")).alias("tsum"),
            F.max("doc_len").alias("doc_len"),
            F.max("du").alias("du"),
        )
    )
    dl_micro = F.round(
        F.log10(
            F.col("du").cast("double")
            / (F.lit(2.0) * F.col("doc_len").cast("double"))
        )
        * F.lit(_MICRO)
    ).cast("long")
    qmap = q_length_map(rows)
    scored = scored.withColumn(
        "micro", F.col("tsum") + qmap[F.col("qid")].cast("long") * dl_micro
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
