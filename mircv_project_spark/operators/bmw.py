"""Block-Max WAND dynamic-pruning top-k (DAAT), rank-identical.

The north-star pairs two dynamic-pruning families — "block-max
WAND/MaxScore pruning".  operators/maxscore.py re-implements the
reference's own MaxScore (``queryProcessor/Scorer.java:85-162``); this
module adds the other family from the public literature: Block-Max WAND
(Ding & Suel, "Faster top-k document retrieval using block-max
indexes", SIGIR 2011), which the reference does not have but whose
block-max metadata its BlockDescriptor skip pointers
(``model/BlockDescriptor.java:70-76``) already anticipate.

Block-Max WAND is operators/wand.py's pivot loop plus a block-max
``skip`` hook.  Two pruning levels per pivot candidate d:

1. WAND pivot over GLOBAL term upper bounds (the lexicon's
   bm25_ub/tfidf_ub — ``model/LexiconEntry.java:40-42``): sort cursors
   by current docid, pivot = first prefix whose UB sum can reach theta;
   everything before the pivot doc is skipped wholesale.
2. SHALLOW block-max check: before decoding anything, each cursor
   resolves the block that would contain d from metadata only
   (max_doc_id skip array + per-block (max_tf, min_dl) — the BM25
   coefficient is increasing in tf and decreasing in dl, so
   score(max_tf, min_dl) bounds every posting in the block for any
   avgdl).  If the block-level sum cannot reach theta, the whole
   aligned block range [d, min block boundary] is skipped without
   decoding a single payload.  Conjunctive mode applies the same
   check over every list in maxscore.strict_intersection.

Rank-safety: identical guard discipline to operators/maxscore.py — the
final ranking compares round(score, 6), so every prune tests
``bound < theta - ROUND_EPS`` (a doc below that line rounds strictly
below the k-th rounded score and can neither displace nor tie it), and
the heap orders (round6(score), -docid) exactly like the exhaustive
oracle.  Both standards, both modes, every codec: same top-k as
operators/topk.exhaustive_topk.

Execution locality mirrors MaxScore: sequential per query on the driver
over lexicon-pruned posting lists (bucket partition pruning + parquet
min/max limit the scan to the query terms); the distributed rank-safe
fallback for head terms is operators/topk.py.
"""

from __future__ import annotations

from bisect import bisect_left

import numpy as np

from . import scoring
from .maxscore import (
    MAX_DOCID,
    ROUND_EPS,
    PostingCursor,
    TermPostings,
    maxscore_topk_df,
    open_cursors,
    score_np,
)
from .wand import wand


class BMWCursor(PostingCursor):
    """PostingCursor + per-block score-bound metadata (bmax/bub).

    Shallow probes (``_shallow_frontier``) never touch payload bytes:
    they binary-search the per-list max_doc_id skip array and read the
    precomputed per-block score bound — the deep pointer (and its
    lazily-decoded block) is left where it is.

    The (bmax, bub) pair is memoized on TermPostings keyed
    (standard, avgdl) — the PostingCursor._decoded discipline: shared
    READ-ONLY across cursors/queries, so a warm batch builds each
    term's metadata arrays once instead of once per query (round-6;
    BMW was 4-7x slower than WAND on the same warm cache and most of
    the gap was this per-query rebuild plus numpy scalar overhead in
    the frontier walk — bmax is kept as a plain list for C bisect).
    """

    __slots__ = ("bmax", "bub", "min_bub")

    def __init__(self, tp: TermPostings, codec: str, standard: str,
                 n_docs: int, avgdl: float):
        super().__init__(tp, codec, standard, n_docs, avgdl)
        key = ("bmw_meta", standard, avgdl)
        meta = tp._decoded.get(key)
        if meta is None:
            bmax = [b["max_doc_id"] for b in tp.blocks]
            blist = score_np(  # PostingCursor's block scoring
                standard,
                np.array([b["max_tf"] for b in tp.blocks], dtype=np.float64),
                np.array([b["min_dl"] for b in tp.blocks], dtype=np.float64),
                tp.idf,
                avgdl,
            ).tolist()
            # min over the list's block bounds: when the pivot prefix's
            # min-bound sum already reaches theta, NO position can be
            # shallow-skipped (bsum >= sum of mins everywhere), so the
            # caller skips the frontier walk outright — the common case
            # on near-uniform-tf corpora, where the walk is pure
            # overhead (conservative: skipping only skips an
            # OPTIMIZATION, every candidate still scores fully)
            meta = (bmax, blist, min(blist) if blist else 0.0)
            tp._decoded[key] = meta
        self.bmax, self.bub, self.min_bub = meta

def _shallow_frontier(
    lists: list[BMWCursor], d: int, cap: int, theta: float
) -> int:
    """Smallest docid x in [d, cap) where the combined per-block score
    bound of ``lists`` could still reach theta — or ``cap`` when no such
    x exists below it.  Pure metadata walk over the block-max arrays
    (one interval per block edge); cold RUNS of blocks are crossed
    without decoding anything, so the caller's single deep next_geq
    lands directly on the first plausible block (Ding & Suel's
    candidate-selection move)."""
    sbis = [bisect_left(c.bmax, d) for c in lists]
    cur = d
    while True:
        bsum = 0.0
        boundary = MAX_DOCID
        for c, s in zip(lists, sbis):
            if s < len(c.bmax):
                bsum += c.bub[s]  # plain floats/ints: no numpy scalars
                if c.bmax[s] < boundary:
                    boundary = c.bmax[s]
        if bsum >= theta - ROUND_EPS:
            return cur
        if boundary == MAX_DOCID or boundary + 1 >= cap:
            return cap
        cur = boundary + 1
        for j, c in enumerate(lists):
            if sbis[j] < len(c.bmax) and c.bmax[sbis[j]] < cur:
                sbis[j] += 1


def _skip(live: list[BMWCursor], q: int, d: int, theta: float) -> int:
    """WAND ``skip`` hook: the first docid >= d where the block-level
    bound of live[0..q] could reach theta, capped where the next list
    joins the pivot set (the bound changes there)."""
    smin = 0.0
    for i in range(q + 1):
        smin += live[i].min_bub
    if smin >= theta - ROUND_EPS:
        return d  # no position is shallow-skippable; skip the walk
    cap = live[q + 1].docid() if q + 1 < len(live) else MAX_DOCID
    return _shallow_frontier(live[: q + 1], d, cap, theta)


def block_max_wand(
    cursors: list[BMWCursor], k: int, conjunctive: bool = False
) -> list[tuple[int, float]]:
    """Returns [(docid, raw_score)] sorted by (-round(score,6), docid),
    length <= k — the same contract (and the same conjunctive
    strict-intersection semantics) as maxscore.max_score."""
    return wand(cursors, k, conjunctive, skip=_skip)


def bmw_topk(
    term_postings: dict[str, TermPostings],
    query_tokens: list[str],
    codec: str,
    standard: str,
    n_docs: int,
    avgdl: float,
    k: int,
    conjunctive: bool,
) -> list[tuple[int, float]]:
    """One query end-to-end: ``open_cursors`` then Block-Max WAND."""
    return block_max_wand(
        open_cursors(
            term_postings, query_tokens, codec, standard, n_docs, avgdl,
            BMWCursor,
        ),
        k, conjunctive,
    )


def bmw_topk_df(
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
        reader, queries, standard, k, conjunctive, _topk_fn=bmw_topk
    )
