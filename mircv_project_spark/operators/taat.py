"""Term-at-a-time (TAAT) accumulator retrieval, rank-identical when
unbounded.

The third index-traversal strategy beside document-at-a-time
(operators/maxscore.py MaxScore, operators/wand.py WAND,
operators/bmw.py Block-Max WAND — the reference's own family,
``queryProcessor/Scorer.java``) and score-at-a-time
(operators/impact.py impact-ordered SAAT): classic TAAT with
accumulators in the Moffat & Zobel mold ("Self-indexing inverted files
for fast text retrieval", TOIS 1996).

Terms process in ASCENDING df order (rarest first — their postings
nominate the highest-idf accumulators before any common term floods the
table); each term's whole posting list streams once, adding
qtf * score into a per-doc accumulator.  ``acc_cap`` bounds the
accumulator table with the CONTINUE strategy: once the table is full,
no NEW accumulators are created but existing ones keep absorbing
updates — recall degrades gracefully on common-term-only docs while
every already-nominated doc's score stays exact.

acc_cap=None is exact: every posting accumulates, and the final
ranking applies the exhaustive rounding/tie rules (round(score, 6)
desc, docid asc) — the gate regime, sharing the exhaustive SQL oracle.
The bounded regime's recall floor lives in tests/test_taat.py.

Duplicate query tokens open one accumulation pass per OCCURRENCE
(double-scoring, as in the reference's getPostingLists); conjunctive
mode requires a doc present in EVERY cursor's list (strict
intersection — the maxscore.max_score contract).
"""

from __future__ import annotations

import functools

import numpy as np

from .maxscore import (
    PostingCursor,
    TermPostings,
    maxscore_topk_df,
    open_cursors,
    push,
    ranked,
)
from . import scoring  # noqa: F401


def _term_arrays(cur: PostingCursor):
    """Full (docids, scores) of one cursor's list as flat numpy arrays —
    reuses PostingCursor's memoized per-block decode + score vectors
    (read-only; the arrays concatenate, never mutate the cache)."""
    ids, scores = [], []
    bi = 0
    while bi < len(cur.tp.blocks):
        cur._load(bi)
        ids.append(cur._ids)
        scores.append(np.asarray(cur._scores, dtype=np.float64))
        bi += 1
    if not ids:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    return np.concatenate(ids), np.concatenate(scores)


def taat_topk(
    term_postings: dict[str, TermPostings],
    query_tokens: list[str],
    codec: str,
    standard: str,
    n_docs: int,
    avgdl: float,
    k: int,
    conjunctive: bool,
    acc_cap: int | None = None,
) -> list[tuple[int, float]]:
    """[(docid, raw_score)] sorted by (-round(score,6), docid), length
    <= k — the maxscore.max_score contract.  ``acc_cap=None`` (exact)
    is the ``maxscore_topk`` signature serve_topk dispatches to."""
    cursors = open_cursors(
        term_postings, query_tokens, codec, standard, n_docs, avgdl
    )
    if not cursors or k <= 0:
        return []
    # rarest-first processing order (df asc, term asc for determinism)
    cursors.sort(key=lambda c: (c.tp.df, c.tp.term))

    acc: dict[int, float] = {}
    cnt: dict[int, int] = {}
    for cur in cursors:
        ids, scores = _term_arrays(cur)
        for d, s in zip(ids.tolist(), scores.tolist()):
            a = acc.get(d)
            if a is None:
                if acc_cap is not None and len(acc) >= acc_cap:
                    continue  # CONTINUE strategy: no new accumulators
                acc[d] = s
                cnt[d] = 1
            else:
                acc[d] = a + s
                cnt[d] += 1

    n_req = len(cursors)
    heap: list[tuple[float, int, float]] = []
    for d, s in acc.items():
        if not conjunctive or cnt[d] == n_req:
            push(heap, k, d, s)
    return ranked(heap)


def taat_topk_df(
    reader,
    queries: list[tuple[str, str]],
    standard: str = scoring.BM25,
    k: int = 10,
    conjunctive: bool = False,
    acc_cap: int | None = None,
):
    """Batch evaluation over an IndexReader -> DataFrame(qid, docno,
    rank, score), row-identical to exhaustive_topk when acc_cap is None
    (same fetch, rounding and tie rules — shared plumbing)."""
    return maxscore_topk_df(
        reader, queries, standard, k, conjunctive,
        _topk_fn=functools.partial(taat_topk, acc_cap=acc_cap),
    )
