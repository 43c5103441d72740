"""Query-language completeness: min-should-match and query-time
synonym expansion — the two Lucene query-DSL features between plain
OR and the +must/-not boolean syntax (operators/boolquery.py).

min-should-match (msm_topk): a doc qualifies iff it matches at least
m of the query's IN-LEXICON distinct terms, with m clamped per query
to that count (the Lucene clamp: a 1-term query under msm=2 still
matches on its 1 term; a 2-term query behaves conjunctively).
Scoring/rank identical to the standard BM25 path over the qualifying
docs.

synonym expansion (synonym_topk): each original query term t expands
to {t} ∪ SYN_MAP[t] at its original weight; when two originals expand
to the same term its weights SUM (the natural groupBy semantics —
pinned); OOV expansion terms drop exactly like OOV originals.  df for
the expanded terms is their own lexicon df (no blending).  Both
restated verbatim in the oracle.

Scale shape: both are the standard broadcast-query-terms join + one
(qid, docid) aggregate — msm adds a HAVING on the match count,
synonyms only widen the tiny broadcast table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import scoring
from ..session import local_frame
from .index_build import InvertedIndex
from .topk import n_terms, query_terms, resolve_query_terms

MSM_M = 2


def msm_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    m: int = MSM_M,
    k: int = 10,
) -> DataFrame:
    """-> DataFrame(qid string, docno string, rank long, score double)."""
    empty = "qid string, docno string, rank long, score double"
    got = resolve_query_terms(index, query_terms(queries, index.parse))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], empty)
    rows, qt = got
    req = F.create_map(
        *[F.lit(x) for q, n in sorted(n_terms(rows).items()) for x in (q, min(m, n))]
    )

    s = scoring.bm25_col(
        F.col("tf"), F.col("doc_len"), F.col("df"), index.n_docs, index.avgdl
    )
    scored = (
        index.flat.join(F.broadcast(qt), "term")
        .withColumn("contrib", F.col("qtf") * s)
        .groupBy("qid", "docid")
        .agg(F.sum("contrib").alias("raw"), F.count("*").alias("nmatch"))
        .where(F.col("nmatch") >= req[F.col("qid")])
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("docid").asc()
    )
    return (
        scored.withColumn("score", F.round(F.col("raw"), 6))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "qid",
            (F.col("docid") - 1).cast("string").alias("docno"),
            "rank",
            "score",
        )
    )


def synonym_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    syn_map: dict[str, list[str]],
    k: int = 10,
) -> DataFrame:
    """-> DataFrame(qid string, docno string, rank long, score double)."""
    empty = "qid string, docno string, rank long, score double"
    expanded: dict[tuple[str, str], int] = {}
    for q, t, c in query_terms(queries, index.parse):
        for e in [t] + list(syn_map.get(t, [])):
            expanded[(q, e)] = expanded.get((q, e), 0) + c
    got = resolve_query_terms(
        index, [(q, t, c) for (q, t), c in sorted(expanded.items())]
    )
    if got is None:
        return index.flat.sparkSession.createDataFrame([], empty)
    qt = got[1]
    s = scoring.bm25_col(
        F.col("tf"), F.col("doc_len"), F.col("df"), index.n_docs, index.avgdl
    )
    scored = (
        index.flat.join(F.broadcast(qt), "term")
        .withColumn("contrib", F.col("qtf") * s)
        .groupBy("qid", "docid")
        .agg(F.sum("contrib").alias("raw"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("docid").asc()
    )
    return (
        scored.withColumn("score", F.round(F.col("raw"), 6))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "qid",
            (F.col("docid") - 1).cast("string").alias("docno"),
            "rank",
            "score",
        )
    )


def search_after_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    page: int = 2,
    k: int = 10,
) -> DataFrame:
    """Cursor pagination (Elasticsearch search_after): page p of the
    BM25 ranking WITHOUT a deep offset — each page re-runs the query
    with a strictly-after predicate on the previous page's last
    (score, docid) cursor, so the engine only ever ranks k survivors
    instead of materializing p·k rows per query.

    The cursor order is the engine's total ranking order
    (round(score,6) desc, docid asc): rows after cursor (cs, cd) are
    score < cs OR (score == cs AND docid > cd).  Emitted ranks are the
    GLOBAL ranks ((page-1)·k + i) — restated in the oracle as the
    plain rank window sliced to the page, which the cursor recursion
    must equal exactly.

    Scale note: the repeated per-page scoring is the standard
    search_after trade (stateless cursors, no deep materialization);
    each page's post-filter ranking is top-k over a shrinking set."""
    from .topk import exhaustive_topk

    spark = index.flat.sparkSession
    empty = "qid string, docno string, rank long, score double"
    if page < 1:
        raise ValueError("page >= 1")
    if page == 1:
        return exhaustive_topk(index, queries, scoring.BM25, k=k)
    # walk pages via the cursor — each step filters strictly-after
    got = resolve_query_terms(index, query_terms(queries, index.parse))
    if got is None:
        return spark.createDataFrame([], empty)
    qt = got[1]
    s = scoring.bm25_col(
        F.col("tf"), F.col("doc_len"), F.col("df"), index.n_docs, index.avgdl
    )
    scored = (
        index.flat.join(F.broadcast(qt), "term")
        .withColumn("contrib", F.col("qtf") * s)
        .groupBy("qid", "docid")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
        .persist()
    )
    try:
        w = Window.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col("docid").asc()
        )
        cur_rows = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .groupBy("qid")
            .agg(F.min("score").alias("cs"), F.max(
                F.when(F.col("rn") == k, F.col("docid"))
            ).alias("cd"))
            .collect()
        )
        page_df = None
        for p in range(2, page + 1):
            live = [
                (r["qid"], float(r["cs"]), int(r["cd"]))
                for r in cur_rows
                if r["cd"] is not None  # fewer than k results: done
            ]
            if not live:  # every query exhausted — stop walking
                return spark.createDataFrame([], empty)
            cur = local_frame(spark, live, "qid string, cs double, cd long")
            after = scored.join(F.broadcast(cur), "qid").where(
                (F.col("score") < F.col("cs"))
                | ((F.col("score") == F.col("cs")) & (F.col("docid") > F.col("cd")))
            )
            page_df = (
                after.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= k)
            )
            if p < page:
                cur_rows = (
                    page_df.groupBy("qid")
                    .agg(
                        F.min("score").alias("cs"),
                        F.max(
                            F.when(F.col("rn") == k, F.col("docid"))
                        ).alias("cd"),
                    )
                    .collect()
                )
        out = page_df.select(
            "qid",
            (F.col("docid") - 1).cast("string").alias("docno"),
            (F.col("rn") + F.lit((page - 1) * k)).cast("long").alias("rank"),
            "score",
        ).localCheckpoint()
    finally:
        scored.unpersist()
    return out


RECENCY_HL_S = 1024  # half-life in seconds


def recency_topk(
    index: InvertedIndex,
    doc_ts: DataFrame,
    queries: list[tuple[str, str]],
    half_life_s: int = RECENCY_HL_S,
    k: int = 10,
) -> DataFrame:
    """Recency-boosted retrieval — prefer fresh turns: boosted score =
    round(score6 · decay_u / 1e6, 6) where

        decay_u = round(1e6 · 2^(−age_s / half_life_s)) as BIGINT,
        age_s   = max corpus ts_s − doc ts_s  (exact integer seconds).

    The multiplicative-decay shape every time-aware ranker uses; the
    decay factor quantizes to integer micro units per doc BEFORE the
    product (the item_popularity discipline), so the only float steps
    are one pow per doc and one product+round per result — identical
    on both engines.  Rank (boosted desc, docid asc), top k.

    ``doc_ts``: (docid, ts_s long) — the doc-attribute side table
    (at scale co-bucketed with doc_index on docid)."""
    from .topk import exhaustive_topk

    spark = index.flat.sparkSession
    base = exhaustive_topk(index, queries, scoring.BM25, k=2_000_000_000)
    mx = doc_ts.agg(F.max("ts_s")).collect()[0][0]
    decay_u = F.round(
        F.lit(1_000_000.0)
        * F.pow(
            F.lit(2.0),
            -(F.lit(int(mx)) - F.col("ts_s")).cast("double")
            / F.lit(float(half_life_s)),
        )
    ).cast("long")
    ts = doc_ts.select(
        (F.col("docid") - 1).cast("string").alias("docno"),
        decay_u.alias("decay_u"),
    )
    boosted = base.join(ts, "docno").select(
        "qid",
        "docno",
        F.round(
            F.col("score") * F.col("decay_u").cast("double") / F.lit(1e6), 6
        ).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("docno").cast("long").asc()
    )
    return (
        boosted.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "docno", "rank", "score")
    )


def doc_term_vectors(
    index: InvertedIndex, probe_docnos: list[int]
) -> DataFrame:
    """Lucene's term-vectors API (GET /<index>/_termvectors): the full
    per-document term statistics surface a relevance engineer inspects
    — for each probe document, every indexed term with its in-doc tf
    and the corpus-level df/cf beside the doc length.

    -> (docno string, term string, tf long, df long, cf long,
    doc_len long), one row per (probe doc, term).

    Pins (restated in oracle._doc_term_vectors_sql): probes addressed
    by docno (= docid - 1, the TREC identity), stats corpus-global.

    Scale shape: the probe filter prunes the flat postings scan to a
    handful of docids (partition/rowgroup pruning on the stored
    layout); the tiny probe-side rows BROADCAST into the lexicon
    equi-join — never a full-lexicon shuffle."""
    docids = [int(d) + 1 for d in probe_docnos]
    mine = index.flat.where(F.col("docid").isin(docids)).select(
        "term", "docid", "tf", "doc_len"
    )
    lex = index.lexicon.select("term", "df", "cf")
    return lex.join(F.broadcast(mine), "term").select(
        (F.col("docid") - 1).cast("string").alias("docno"),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.col("cf").cast("long").alias("cf"),
        F.col("doc_len").cast("long").alias("doc_len"),
    )


QUOTA_PER_SOURCE = 2


def source_quota_topk(
    index: InvertedIndex,
    docs: DataFrame,
    queries: list[tuple[str, str]],
    k: int = 10,
    quota: int = QUOTA_PER_SOURCE,
    id_col: str = "doc_id",
    dim_col: str = "source",
) -> DataFrame:
    """Per-source result diversification by quota (the "max N per
    domain" rule every web engine applies — Lucene/ES implement it as
    collapse variants; this is the quota form: at most ``quota``
    results from any one source, survivors re-ranked densely).

    Pins (restated in oracle._SOURCE_QUOTA_SQL — change both or
    neither): quota = 2 over the `source` dim (docno = doc_id), the
    within-source cut AND the final re-rank both use the ranking's
    total order (round-6 score desc, docid asc), k = 10 AFTER
    re-ranking — a court of survivors, not a filtered page.
    -> (qid, docno, source, rank, score).

    Scale shape: one exhaustive ranking, one metadata equi-join on
    docno, two windows ((qid, source) quota cut, then (qid) re-rank)
    — no per-source re-query, same discipline as facet_top_hits."""
    from .topk import exhaustive_topk

    turns = exhaustive_topk(index, queries, scoring.BM25, k=2_000_000_000)
    meta = docs.select(
        F.col(id_col).cast("long").alias("did"),
        F.col(dim_col).cast("string").alias("source"),
    )
    j = turns.drop("rank").join(meta, turns.docno.cast("long") == meta.did)
    w_src = Window.partitionBy("qid", "source").orderBy(
        F.col("score").desc(), F.col("docno").cast("long").asc()
    )
    kept = j.withColumn("sr", F.row_number().over(w_src)).where(
        F.col("sr") <= quota
    )
    w_q = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("docno").cast("long").asc()
    )
    return (
        kept.withColumn("rank", F.row_number().over(w_q).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "docno", "source", "rank", "score")
    )
