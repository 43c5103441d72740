"""Plain WAND dynamic-pruning top-k (DAAT), rank-identical.

The third dynamic-pruning family beside MaxScore (operators/maxscore.py
— the reference's own ``queryProcessor/Scorer.java:85-162``) and
Block-Max WAND (operators/bmw.py): WAND as published (Broder, Carmel,
Herscovici, Soffer, Zien — "Efficient query evaluation using a two-level
retrieval process", CIKM 2003).  It prunes with GLOBAL term upper
bounds only (the lexicon's bm25_ub/tfidf_ub,
``model/LexiconEntry.java:40-42``) and needs no per-block metadata at
all.  This module owns the one WAND pivot loop; Block-Max WAND is this
loop plus a ``skip`` hook that reads the per-block bounds, so plain
WAND stays the classic baseline the block-max papers compare against
and runs against any store whose lists carry no block-max arrays.

Pivot walk: cursors sorted by current docid; the pivot is the shortest
prefix whose UB sum could still round into the heap
(``>= theta - ROUND_EPS`` — the same half-quantum guard as
maxscore/bmw, because the final ranking compares round(score, 6)).
Docs before the pivot doc are skipped wholesale via nextGEQ; when the
lists up to the pivot align, the doc is fully evaluated, else the
largest-UB lagging list jumps forward (fastest theta growth).

Rank-safety contract identical to maxscore.max_score / bmw: heap orders
(round6(score), -docid), output sorted (-round6, docid), conjunctive =
the shared strict-intersection kernel (maxscore.strict_intersection).
Same top-k as operators/topk.exhaustive_topk on both standards, every
codec — shared oracle.
"""

from __future__ import annotations

from . import scoring  # noqa: F401  (re-export convention of the DAAT family)
from .maxscore import (
    MAX_DOCID,
    ROUND_EPS,
    PostingCursor,
    TermPostings,
    maxscore_topk_df,
    open_cursors,
    push,
    ranked,
    strict_intersection,
)


def wand(
    cursors: list[PostingCursor], k: int, conjunctive: bool = False, skip=None
) -> list[tuple[int, float]]:
    """[(docid, raw_score)] sorted by (-round(score,6), docid), length
    <= k — the same contract as maxscore.max_score / bmw.block_max_wand.

    ``skip(live, q, d, theta) -> docid``, called only while the heap is
    full, may return a docid past the pivot doc d below which no doc
    can reach theta given live[0..q] (the cursors sitting at or before
    d); those cursors then jump there.  Conjunctive mode hands it to
    the strict-intersection kernel."""
    if conjunctive:
        return strict_intersection(cursors, k, skip)
    if not cursors or k <= 0:
        return []

    heap: list[tuple[float, int, float]] = []
    theta = 0.0
    live = [c for c in cursors if c.docid() != MAX_DOCID]
    while live:
        live.sort(key=lambda c: c.docid())
        while live and live[-1].docid() == MAX_DOCID:
            live.pop()
        if not live:
            break

        full = len(heap) == k
        acc = 0.0
        p = -1
        for i, c in enumerate(live):
            acc += c.ub
            if not full or acc >= theta - ROUND_EPS:
                p = i
                break
        if p < 0:
            break  # no remaining doc can round into the heap
        d = live[p].docid()
        # lists beyond the pivot already sitting on d contribute to both
        # the bound and the evaluation (sorted: they are contiguous)
        q = p
        while q + 1 < len(live) and live[q + 1].docid() == d:
            q += 1

        if full and skip is not None:
            nxt = skip(live, q, d, theta)
            if nxt > d:
                for i in range(q + 1):
                    live[i].next_geq(nxt)
                continue

        if live[0].docid() == d:
            # all lists up to q aligned: evaluate d fully
            score = 0.0
            for i in range(q + 1):
                score += live[i].score()
            theta = push(heap, k, d, score)
            for i in range(q + 1):
                live[i].next()
        else:
            # advance the largest-UB lagging list to d (classic WAND
            # picker: fastest theta growth, most skipping)
            j = max(
                (i for i in range(p) if live[i].docid() < d),
                key=lambda i: live[i].ub,
            )
            live[j].next_geq(d)

    return ranked(heap)


def wand_topk(
    term_postings: dict[str, TermPostings],
    query_tokens: list[str],
    codec: str,
    standard: str,
    n_docs: int,
    avgdl: float,
    k: int,
    conjunctive: bool,
) -> list[tuple[int, float]]:
    """One query end-to-end: ``open_cursors`` then WAND."""
    return wand(
        open_cursors(term_postings, query_tokens, codec, standard, n_docs, avgdl),
        k, conjunctive,
    )


def wand_topk_df(
    reader,
    queries: list[tuple[str, str]],
    standard: str = scoring.BM25,
    k: int = 10,
    conjunctive: bool = False,
):
    """Batch evaluation over an IndexReader -> DataFrame(qid, docno,
    rank, score), row-identical to exhaustive_topk / maxscore_topk_df
    (same fetch, rounding and tie rules — shared plumbing)."""
    return maxscore_topk_df(
        reader, queries, standard, k, conjunctive, _topk_fn=wand_topk
    )
