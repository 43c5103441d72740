"""Impact-ordered (score-at-a-time) retrieval — the third serve-path
family next to DAAT (topk.py/maxscore.py) and static pruning
(champion.py).

Anh & Moffat (SIGIR 2001/2006) precompute each posting's full scoring
contribution, quantize it to a small integer "impact", and lay the
index out as per-term SEGMENTS of equal-impact postings sorted by
impact descending.  Query evaluation is Score-at-a-Time (SAAT —
Lin & Trotman's JASS): accumulate segments across all query terms in
global impact order, stopping early under an "anytime" posting budget
rho.  At 100-TB scale this family trades a little precision for a
HARD per-query work bound independent of df — the property neither
MaxScore (theta depends on the data) nor champion lists (fixed m per
term, not per query) gives.

Pins (restated in oracle._impact_topk_sql — change both or neither):

- per-posting score = the ROUND-6 BM25 score (corpus-global
  df/idf/avgdl, qtf = 1) — the same round the ranking gates pin;
- GLOBAL quantization: smax = max over all postings of score6,
  impact = round((255.0 * score6) / smax) as BIGINT — the
  multiplication binds before the ONE division (parenthesization
  pinned; exact-.5 ties round HALF_UP on both engines), b = 8 bits so
  impacts lie in [0, 255];
- zero-impact postings are DROPPED from the impact index (a posting
  whose score quantizes to 0 cannot move any accumulator) — docs whose
  every matched posting has impact 0 are absent from results on BOTH
  sides;
- query accumulation: total(d) = sum over matched terms of
  qtf * impact — an exact integer sum, shuffle-order-independent;
- rank (total desc, docid asc), top k = 10; output keeps the INTEGER
  total (``impact``) — no float ever enters the gate hash.

The budgeted SAAT path (``impact_topk_saat``) is exact at
budget = None by construction (all segments processed == the plain
sum) — that is what the gate runs; the anytime regime (small rho) is
measured in tests/test_impact.py (segments actually skipped, overlap
floor vs the exact ranking).

Scale shape: quantization is one map over the flat postings + a
scalar max; the segment metadata table (term, impact, count) is
~256 rows per query term — the budget selection reads ONLY metadata
(driver-tiny, the pruned-topk discipline) and the posting scan is a
broadcast semi-join on the selected (term, impact) pairs, so skipped
segments are never read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from . import scoring
from .index_build import InvertedIndex
from .topk import (
    _EMPTY_SCHEMA,
    _score_and_rank,
    query_terms,
    resolve_query_terms,
)

IMPACT_LEVELS = 255  # 8-bit quantization


def impact_postings(index: InvertedIndex, levels: int = IMPACT_LEVELS) -> DataFrame:
    """flat postings -> (term, impact, docid) with impact in [1, levels]
    (zero-impact postings dropped), globally quantized against the
    corpus max round-6 BM25 per-posting score."""
    lex = index.lexicon.select("term", "df")
    s6 = F.round(
        scoring.bm25_col(
            F.col("tf"), F.col("doc_len"), F.col("df"), index.n_docs, index.avgdl
        ),
        6,
    )
    scored = index.flat.join(F.broadcast(lex), "term").select(
        "term", "docid", s6.alias("s6")
    )
    smax = scored.agg(F.max("s6").alias("m")).collect()[0]["m"]
    iq = F.round((F.lit(float(levels)) * F.col("s6")) / F.lit(float(smax))).cast(
        "long"
    )
    return (
        scored.select("term", iq.alias("impact"), "docid")
        .where(F.col("impact") >= 1)
    )


def impact_segment_meta(imp: DataFrame) -> DataFrame:
    """Segment metadata only: (term, impact, n_postings) — what the
    anytime budget selection reads instead of the postings."""
    return imp.groupBy("term", "impact").agg(
        F.count("*").cast("long").alias("n_postings")
    )


def _rank_totals(totals: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("qid").orderBy(
        F.col("total").desc(), F.col("docid").asc()
    )
    return (
        totals.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "qid",
            (F.col("docid") - 1).cast("string").alias("docno"),
            "rank",
            F.col("total").cast("long").alias("impact"),
        )
    )


_EMPTY = "qid string, docno string, rank long, impact long"


def impact_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    k: int = 10,
    levels: int = IMPACT_LEVELS,
    imp: DataFrame | None = None,
) -> DataFrame:
    """Full-traversal impact-ordered top-k (exact for the quantized
    scoring function): total(d) = sum qtf * impact over matched terms.
    -> (qid, docno, rank, impact long)."""
    got = resolve_query_terms(index, query_terms(queries, index.parse))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], _EMPTY)
    rows, qt = got
    if imp is None:
        imp = impact_postings(index, levels=levels)
    matched = imp.where(F.col("term").isin(sorted({t for _, t, *_ in rows}))).join(
        F.broadcast(qt.select("qid", "term", "qtf")), "term"
    )
    totals = matched.groupBy("qid", "docid").agg(
        F.sum(F.col("qtf").cast("long") * F.col("impact")).alias("total")
    )
    return _rank_totals(totals, k)


def impact_topk_saat(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    k: int = 10,
    budget: int | None = None,
    levels: int = IMPACT_LEVELS,
    imp: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """Score-at-a-Time with an anytime posting budget (JASS): per
    query, segments are taken in (qtf*impact desc, term asc, impact
    desc) order while the cumulative posting count stays <= budget
    (the first segment always processes).  budget = None processes
    everything — identical to ``impact_topk`` by construction.

    Returns (results, stats) where stats records segments/postings
    selected vs available — the early-termination proof the tests
    assert on."""
    spark = index.flat.sparkSession
    stats = {"segments_total": 0, "segments_selected": 0,
             "postings_total": 0, "postings_selected": 0}
    got = resolve_query_terms(index, query_terms(queries, index.parse))
    if got is None:
        return spark.createDataFrame([], _EMPTY), stats
    rows, qt = got
    if imp is None:
        imp = impact_postings(index, levels=levels)
    imp_q = imp.where(F.col("term").isin(sorted({t for _, t, *_ in rows})))

    # metadata-only segment selection (driver-tiny: <= levels * |terms|)
    meta = impact_segment_meta(imp_q).collect()
    qtf_by: dict[str, dict[str, int]] = {}
    for q, t, c, _ in rows:
        qtf_by.setdefault(q, {})[t] = c

    selected: dict[str, set[tuple[str, int]]] = {}
    for qid, tw in qtf_by.items():
        segs = [
            (r["term"], int(r["impact"]), int(r["n_postings"]))
            for r in meta
            if r["term"] in tw
        ]
        segs.sort(key=lambda s: (-tw[s[0]] * s[1], s[0], -s[1]))
        stats["segments_total"] += len(segs)
        stats["postings_total"] += sum(n for _, _, n in segs)
        used = 0
        sel = set()
        for t, iqv, n in segs:
            if budget is not None and sel and used + n > budget:
                continue
            sel.add((t, iqv))
            used += n
        selected[qid] = sel
        stats["segments_selected"] += len(sel)
        stats["postings_selected"] += used

    sel_rows = [
        (qid, t, iqv) for qid, sel in selected.items() for t, iqv in sel
    ]
    if not sel_rows:
        return spark.createDataFrame([], _EMPTY), stats
    sel_df = local_frame(spark, sel_rows, "qid string, term string, impact long")
    matched = imp_q.join(F.broadcast(sel_df), ["term", "impact"]).join(
        F.broadcast(qt.select("qid", "term", "qtf")), ["qid", "term"]
    )
    totals = matched.groupBy("qid", "docid").agg(
        F.sum(F.col("qtf").cast("long") * F.col("impact")).alias("total")
    )
    return _rank_totals(totals, k), stats


CASCADE_POOL = 100


def bm25_cascade_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    k: int = 10,
    pool: int = CASCADE_POOL,
    levels: int = IMPACT_LEVELS,
    imp: DataFrame | None = None,
) -> DataFrame:
    """Two-stage cascade serve (the rank-and-refine production shape:
    Wang/Lin/Metzler SIGIR 2011, Asadi & Lin SIGIR 2013): stage 1
    ranks on the CHEAP 8-bit impact index (integer adds only) and
    keeps a candidate pool per query; stage 2 rescores ONLY the pool
    with the exact BM25 used everywhere else and re-ranks on the
    round-6 score.

    Output is the standard (qid, docno, rank, score double) frame —
    the gate shares bm25_topk's exhaustive oracle BY MEASUREMENT:
    pool = 100 gives a stage-1 candidate set that contains the true
    BM25 top-k on the driver corpora (rank identity verified at
    sf0.001/0.01/0.1) — shrinking the pool or the quantizer's
    ``levels`` breaks that share; the approximate regime (small pool)
    is measured in tests/test_impact.py.

    Scale shape: stage 1 is impact_topk's single integer aggregate;
    the pool (|q| * pool rows, driver-bounded) broadcasts back into
    ONE candidate-filtered postings join, so the expensive float
    scorer touches at most pool docs per query — the cost model that
    makes cascades the standard at serve time."""
    stage1 = impact_topk(index, queries, k=pool, levels=levels, imp=imp)
    cand = stage1.select(
        "qid", (F.col("docno").cast("long") + F.lit(1)).alias("docid")
    )

    got = resolve_query_terms(index, query_terms(queries, index.parse))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], _EMPTY_SCHEMA)
    matched = index.flat.join(F.broadcast(got[1]), "term").join(
        F.broadcast(cand), ["qid", "docid"]
    )
    return _score_and_rank(
        matched, scoring.BM25, index.n_docs, index.avgdl, k, False, {}
    )
