"""Exhaustive distributed top-k retrieval (the rank-safe oracle path).

MaxScore (operators/maxscore.py) must return exactly this ranking —
dynamic pruning is rank-safe (``queryProcessor/Scorer.java:85-162``).
This path is itself fully distributed and is the scale fallback for
query loads where posting lists are too large to pull to the driver:
broadcast the (tiny) query-term table, score matched postings JVM-side,
one shuffle on (qid, docid), per-query top-k window.

Reference query semantics replicated exactly:
- query tokens run through the SAME tokenizer pipeline (Q1);
- terms missing from the lexicon are silently dropped
  (``QueryProcessorMain.java:139-154``: loadFromDisk -> null -> skipped);
- duplicate query tokens open duplicate cursors, so a term occurring
  q times in the query contributes q * termscore (no dedup in
  ``getPostingLists``);
- conjunctive mode requires the doc to appear in every posting list of
  the *existing* query terms (Q8);
- ties broken deterministically by ascending docid (the reference heap
  compares score only — Scorer.java:205-208 — so equal-score order is
  implementation-defined; we pin docid order, SURVEY §5 risk register).

Scores are rounded to 6 decimals for cross-engine comparison; ranking
uses the rounded score so rank and value agree across engines.

Every distributed scorer looks its query terms up through
``resolve_query_terms``: one bucket/term-pruned lexicon collect, OOV
terms dropped, and the surviving rows broadcast as an Arrow local
relation (``session.local_frame``) that no Python worker touches.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenizer import tokenize
from ..session import local_frame
from ..sources.index_store import prune_terms
from . import scoring
from .index_build import InvertedIndex

ROUND_DECIMALS = 6


def query_terms(queries: list[tuple[str, str]], parse: bool) -> list[tuple[str, str, int]]:
    """(qid, text) -> [(qid, term, qtf)] with multiplicity preserved."""
    rows = []
    for qid, text in queries:
        counts: dict[str, int] = {}
        for tok in tokenize(text, parse):
            counts[tok] = counts.get(tok, 0) + 1
        rows.extend((qid, term, qtf) for term, qtf in counts.items())
    return rows


_EMPTY_SCHEMA = "qid string, docno string, rank long, score double"
_QT_DDL = "qid string, term string, qtf int, df long"
_STAT_TYPES = {"df": "long", "cf": "long", "bm25_ub": "double", "tfidf_ub": "double"}


def resolve_query_terms(src, qt_rows, stats=("df",)):
    """The lexicon lookup of a query batch (``model/Lexicon.java:154-195``).

    ``src`` is an InvertedIndex or an IndexReader; ``qt_rows`` are
    ``(qid, term, qtf)`` rows (``query_terms``, or a caller's expanded
    or reweighted terms).  The lexicon is pruned like
    ``IndexReader._prune`` (bucket, then ``term IN``) and collected once
    for the ``stats`` columns.  Terms missing from it drop silently
    (``QueryProcessorMain.java:139-154``).

    -> None when ``qt_rows`` is empty (no Spark job) or no term is in the
    lexicon; else ``(rows, qt)``: the in-lexicon ``(qid, term, qtf,
    *stats)`` rows, multiplicity preserved, and ``qt``, their frame as
    an Arrow local relation (``session.local_frame``) for broadcasting.
    """
    if not qt_rows:
        return None
    terms = sorted({t for _, t, _ in qt_rows})
    lex = prune_terms(src.lexicon, terms, src.term_buckets)
    found = {r[0]: tuple(r[1:]) for r in lex.select("term", *stats).collect()}
    rows = [(q, t, c, *found[t]) for q, t, c in qt_rows if t in found]
    if not rows:
        return None
    ddl = ", ".join(["qid string, term string, qtf int"]
                    + [f"{c} {_STAT_TYPES[c]}" for c in stats])
    return rows, local_frame(src.lexicon.sparkSession, rows, ddl)


def n_terms(rows) -> Counter:
    """qid -> its number of in-lexicon terms (the conjunctive
    requirement) over ``resolve_query_terms`` rows."""
    return Counter(r[0] for r in rows)


def _score_and_rank(
    matched: DataFrame,
    standard: str,
    n_docs: int,
    avgdl: float,
    k: int,
    conjunctive: bool,
    n_required: dict[str, int],
) -> DataFrame:
    """(qid, qtf, df, docid, tf, doc_len) rows -> top-k result frame.
    Shared by the flat (pre-compression) and block-store query paths."""
    s = scoring.score_col(
        standard, F.col("tf"), F.col("doc_len"), F.col("df"), n_docs, avgdl
    )
    scored = (
        matched.withColumn("contrib", F.col("qtf") * s)
        .groupBy("qid", "docid")
        .agg(F.sum("contrib").alias("raw_score"), F.count("*").alias("nmatch"))
    )
    if conjunctive:
        req = F.create_map(*[F.lit(x) for kv in n_required.items() for x in kv])
        scored = scored.where(F.col("nmatch") == req[F.col("qid")])

    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("docid").asc()
    )
    return (
        scored.withColumn("score", F.round(F.col("raw_score"), ROUND_DECIMALS))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "qid",
            (F.col("docid") - 1).cast("string").alias("docno"),
            "rank",
            "score",
        )
    )


def exhaustive_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    standard: str = scoring.BM25,
    k: int = 10,
    conjunctive: bool = False,
) -> DataFrame:
    """-> DataFrame(qid string, docno string, rank long, score double)."""
    got = resolve_query_terms(index, query_terms(queries, index.parse))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], _EMPTY_SCHEMA)
    rows, qt = got
    matched = index.flat.join(F.broadcast(qt), "term")
    return _score_and_rank(
        matched, standard, index.n_docs, index.avgdl, k, conjunctive, n_terms(rows)
    )


def explain_topdoc(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    standard: str = scoring.BM25,
) -> DataFrame:
    """Score explanation (Lucene's explain API): the per-term breakdown
    of each query's RANK-1 document — which terms contributed what, and
    from which statistics.  The transparency surface a relevance
    engineer debugs with.

    -> (qid, docno, term, tf, doc_len, df, contrib, total): one row per
    matching query term of the top document; contrib =
    round(qtf * score_term, 6) per row, total = the RANKING's score —
    round 6 of the RAW sum, NOT the sum of the rounded contributions
    (pinned; the rank-1 selection uses exactly the ranking's
    (round-6 score desc, docid asc) order so the explained doc IS the
    served doc).

    Scale shape: identical to exhaustive_topk (pruned flat join against
    the broadcast query table) plus one rank-1 window and one self-join
    of the per-term rows against the winners — no new shuffles beyond
    the scorer's."""
    empty = (
        "qid string, docno string, term string, tf long, doc_len long,"
        " df long, contrib double, total double"
    )
    got = resolve_query_terms(index, query_terms(queries, index.parse))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], empty)
    s = scoring.score_col(
        standard, F.col("tf"), F.col("doc_len"), F.col("df"), index.n_docs, index.avgdl
    )
    per = index.flat.join(F.broadcast(got[1]), "term").withColumn(
        "raw", F.col("qtf") * s
    )
    scored = per.groupBy("qid", "docid").agg(F.sum("raw").alias("raw_score"))
    w = Window.partitionBy("qid").orderBy(
        F.round(F.col("raw_score"), 6).desc(), F.col("docid").asc()
    )
    top1 = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "qid", "docid", F.round(F.col("raw_score"), 6).alias("total")
        )
    )
    return per.join(top1, ["qid", "docid"]).select(
        "qid",
        (F.col("docid") - 1).cast("string").alias("docno"),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("doc_len").cast("long").alias("doc_len"),
        F.col("df").cast("long").alias("df"),
        F.round(F.col("raw"), 6).alias("contrib"),
        "total",
    )


def topk_from_blocks(
    reader,
    queries: list[tuple[str, str]],
    standard: str = scoring.BM25,
    k: int = 10,
    conjunctive: bool = False,
) -> DataFrame:
    """Distributed top-k reading the COMPRESSED block store — the scale
    query path for posting lists too large to pull to the driver.

    Plan: bucket/term-pruned scan of the run-grained postings table ->
    explode blocks -> Arrow-batched block decode (one numpy decode per
    block, rows regenerated via mapInPandas) -> broadcast-join the tiny
    query-term table -> same shared scoring/agg/rank tail as the flat
    path.  Rank-identical to exhaustive_topk and MaxScore; exercised
    against the same DuckDB oracle (bm25_topk_compressed)."""
    got = resolve_query_terms(reader, query_terms(queries, reader.parse))
    if got is None:
        return reader.postings.sparkSession.createDataFrame([], _EMPTY_SCHEMA)
    rows, qt = got
    blocks = reader._prune(reader.postings, sorted({t for _, t, *_ in rows})).select(
        "term", F.explode("blocks").alias("b")
    )
    matched = _decode_blocks_df(blocks, reader.codec).join(F.broadcast(qt), "term")
    return _score_and_rank(
        matched, standard, reader.n_docs, reader.avgdl, k, conjunctive, n_terms(rows)
    )


def topk_from_shards(
    readers,
    queries: list[tuple[str, str]],
    standard: str = scoring.BM25,
    k: int = 10,
    conjunctive: bool = False,
) -> DataFrame:
    """Federated top-k across physically separate index shards — the
    query-time dual of the build's partial-index merge (north rule:
    multi-way merge of per-partition indexes; here the partitions are
    whole stores).

    The distributed-IR correctness trap this solves: each shard's
    stored statistics (df, N, avgdl, idf, UBs) cover only ITS subset,
    and scoring shards independently with local stats is NOT
    rank-identical to a single global index (idf skew across shards).
    The fix is the textbook global-statistics merge (CORI/GlOSS
    lineage): one metadata round-trip collects per-shard (df, N,
    sum_dl) for the query terms, global df = sum of shard dfs, global
    N/avgdl likewise, then every shard's postings score under the SAME
    global expressions and one rank window cuts k.  Exact by
    construction — shards partition the posting rows, docids are
    preserved (shard_index), and per-posting scores depend only on
    (tf, dl, global df/N/avgdl) — so this shares the single-store
    oracle BY DESIGN.

    Scale shape: lexicon lookups are bucket/min-max-pruned per shard
    (tiny metadata reads); posting scans decode only the query terms'
    blocks per shard; the union is a pure narrow concat (no shuffle
    until the final per-query agg/rank, the same tail every other
    query path pays)."""
    from functools import reduce

    if not readers:
        raise ValueError("need at least one shard reader")
    parse, codec = readers[0].parse, readers[0].codec
    for r in readers[1:]:
        if r.parse != parse or r.codec != codec:
            raise ValueError("shards disagree on parse/codec")

    spark = readers[0].postings.sparkSession
    qt_rows = query_terms(queries, parse)
    if not qt_rows:
        return spark.createDataFrame([], _EMPTY_SCHEMA)
    terms = sorted({t for _, t, _ in qt_rows})

    # global-statistics merge: sum df per term across shards, global
    # N / avgdl from the shard stats rows
    n_docs = sum(r.n_docs for r in readers)
    sum_dl = sum(r.sum_doc_len for r in readers)
    avgdl = sum_dl / float(n_docs)
    df_by_term: dict[str, int] = {}
    for r in readers:
        for row in r._prune(r.lexicon, terms).select("term", "df").collect():
            df_by_term[row["term"]] = (
                df_by_term.get(row["term"], 0) + int(row["df"])
            )
    rows = [(q, t, c, df_by_term[t]) for q, t, c in qt_rows if t in df_by_term]
    if not rows:
        return spark.createDataFrame([], _EMPTY_SCHEMA)
    qt = local_frame(spark, rows, _QT_DDL)

    flats = [
        _decode_blocks_df(
            r._prune(r.postings, terms).select(
                "term", F.explode("blocks").alias("b")
            ),
            codec,
        )
        for r in readers
    ]
    flat = reduce(lambda a, b: a.unionByName(b), flats)
    matched = flat.join(F.broadcast(qt), "term")
    return _score_and_rank(
        matched, standard, n_docs, avgdl, k, conjunctive, n_terms(rows)
    )


def _decode_blocks_df(blocks: DataFrame, codec: str) -> DataFrame:
    """(term, b struct) rows -> (term, docid, tf, doc_len) via one
    Arrow-batched numpy decode per block (shared by the compressed-store
    query paths)."""
    import pandas as pd

    from ..functions import codecs as C

    def decode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            outs = []
            for term, b in zip(pdf["term"], pdf["b"]):
                ids, tfs, dls = C.decode_block(b, codec=codec)
                outs.append(
                    pd.DataFrame(
                        {
                            "term": term,
                            "docid": ids.astype("int64"),
                            "tf": tfs.astype("int32"),
                            "doc_len": dls.astype("int32"),
                        }
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    return blocks.mapInPandas(decode, "term string, docid long, tf int, doc_len int")


# Pruning guard: theta is rounded to the 6-decimal ranking grid, so any
# doc whose score bound falls strictly below theta - ROUND_EPS rounds
# strictly below theta and can neither displace nor tie the k-th doc.
_PRUNE_EPS = 0.5e-6


def _block_ub_col(standard: str, n_docs: int, avgdl: float):
    """Per-block score upper bound from (max_tf, min_dl, df) columns —
    the same expressions (and op order) as the real scorer, evaluated at
    the block-max point: the BM25 coefficient is increasing in tf and
    decreasing in dl, so score(max_tf, min_dl) bounds every posting."""
    return scoring.score_col(
        standard, F.col("max_tf"), F.col("min_dl"), F.col("df"), n_docs, avgdl
    )


def _block_meta_df(reader, terms: list[str], dfs: dict[str, int], standard: str):
    """(term, run, bi, bn, max_tf, min_dl, bub) block-metadata frame for
    the given terms — metadata ONLY: the payload binaries are projected
    away before any window/shuffle, and nested-schema pruning keeps them
    out of the parquet read entirely (asserted in tests/test_plans.py)."""
    dfmap = local_frame(
        reader.postings.sparkSession, [(t, dfs[t]) for t in terms], "term string, df long"
    )
    # DIRECT field references (col("blocks.n") -> array<int>) are what
    # nested-schema pruning understands: a posexplode of the full block
    # struct — or any transform(...) lambda — makes the scan read the
    # payload binaries too, while arrays_zip over field refs prunes the
    # ReadSchema to exactly struct<n, max_tf, min_dl>
    return (
        reader._prune(reader.postings, terms)
        .select(
            "term", "run",
            F.posexplode(
                F.arrays_zip(
                    F.col("blocks.n"), F.col("blocks.max_tf"), F.col("blocks.min_dl")
                )
            ).alias("bi", "m"),
        )
        .select(
            "term", "run", "bi",
            F.col("m.n").alias("bn"),
            F.col("m.max_tf").alias("max_tf"),
            F.col("m.min_dl").alias("min_dl"),
        )
        .join(F.broadcast(dfmap), "term")
        .withColumn("bub", _block_ub_col(standard, reader.n_docs, reader.avgdl))
    )


def topk_from_blocks_pruned(
    reader,
    queries: list[tuple[str, str]],
    standard: str = scoring.BM25,
    k: int = 10,
    conjunctive: bool = False,
    metrics: dict | None = None,
) -> DataFrame:
    """Distributed top-k over the compressed store WITH block-max
    pruning — Q4's skipping benefit on the distributed path (the
    driver-side analog is operators/maxscore.py nextGEQ).  Rank-safe:
    provably identical output to topk_from_blocks / exhaustive_topk
    (same oracle; both modes).

    Conjunctive mode prunes harder and needs no theta: only docs
    present in EVERY query-term list qualify, so the rarest (min-df)
    term's list alone is a complete candidate source — it decodes
    fully, every other term becomes candidate-driven block lookups, and
    the final nmatch == n_required filter enforces exactness.  This is
    the distributed analog of the reference's conjunctive DAAT driven
    by nextGEQ on the shortest list (queryProcessor/Scorer.java:98-137).

    Four passes, all metadata-driven before any payload decode:

    1. theta bootstrap, block-max guided: only the highest-upper-bound
       term per query decodes, and only its top blocks by per-block
       score bound (score(max_tf, min_dl) bounds every posting in the
       block) covering ~max(4k, 256) postings — NOT the whole list.
       The k-th best decoded single-term contribution lower-bounds the
       final k-th score (scores are additive and non-negative; any
       decoded subset yields a valid, merely possibly weaker, theta).
    2. essential split (driver-side, per query): terms whose suffix of
       cumulative upper bounds stays below theta - eps are
       NON-essential — a doc appearing only in them cannot reach the
       top k.  Essential blocks decode eagerly EXCEPT the cold blocks
       of terms with a positive hot cut: a block can source a top-k
       candidate only if qtf*block_ub + sum(other terms' qtf*UB) >=
       theta - eps, and only a query's top-UB term can have a positive
       cut — exactly the head-term lists, where the decode cost lives.
    3. non-essential terms contribute to candidate docs only: the
       needed block INDEX per (candidate docid, run) comes from the
       run's block-max array via a pure Catalyst
       size(filter(maxes, m -> m < docid)) searchsorted — blocks whose
       docid range contains no candidate are NEVER decoded (nor their
       payload bytes materialized past the parquet column reader).
    4. partial (hot-cut) terms' cold blocks complete candidate scores
       through the same candidate-driven lookup, excluding the blocks
       already decoded eagerly.

    At scale this is the difference between decoding a stopword's 10^9
    postings and decoding the handful of its blocks that overlap the
    few thousand candidates from the selective terms — including when
    the stopword is the query's own top-UB term (head-term queries),
    which previously decoded in full for theta.

    The final ranking (at most k rows per query) is collected here and
    returned as a ``local_frame``, the driver route's result shape, so
    the frames the passes persist (the theta block selection, its
    decoded rows and the essential matches) are released before return.
    """
    spark = reader.postings.sparkSession
    collect_metrics = metrics is not None  # extra count jobs only on request
    metrics = metrics if metrics is not None else {}
    ub_col = "bm25_ub" if standard == scoring.BM25 else "tfidf_ub"
    got = resolve_query_terms(
        reader, query_terms(queries, reader.parse), stats=("df", ub_col)
    )
    if got is None:
        return spark.createDataFrame([], _EMPTY_SCHEMA)
    rows, _ = got
    lex = {t: (df, ub) for _, t, _, df, ub in rows}

    # per-query term list with contribution upper bounds (qtf * term UB)
    by_qid: dict[str, list[tuple[str, int, int, float]]] = {}
    for q, t, c, df, ub in rows:
        by_qid.setdefault(q, []).append((t, c, df, c * ub))

    sel_df = rows1 = matched_e = None  # persisted below, released in the finally
    try:
        if conjunctive:
            # rarest term per query is the (complete) candidate source; a
            # theta lower bound from single-term contributions would NOT be
            # rank-safe here (the k-th conjunctive score can sit below it),
            # and isn't needed — intersection is the prune.
            ess_pairs, ne_pairs = [], []
            for q, lst in by_qid.items():
                for i, (t, c, df, _) in enumerate(
                    sorted(lst, key=lambda x: (x[2], x[0]))
                ):
                    (ess_pairs if i == 0 else ne_pairs).append((q, t, c, df))
        else:
            # --- pass 1: block-max-guided theta bootstrap ---
            # theta only needs to LOWER-bound the final k-th score, and any
            # subset of the top-UB term's postings yields a valid bound — so
            # instead of decoding t1's ENTIRE list (the dominant cost when
            # the top-UB term is a head term), rank its blocks by their
            # per-block score bound (metadata only: score(max_tf, min_dl) is
            # an upper bound for any posting in the block) and decode just
            # enough top blocks to cover ~theta_target postings.  A weaker
            # theta can only cost extra decode downstream, never rank
            # correctness — every later prune re-checks against theta.
            t1_pairs = {
                (q, max(lst, key=lambda x: x[3])[0]) for q, lst in by_qid.items()
            }
            t1_terms = sorted({t for _, t in t1_pairs})
            theta_target = max(4 * k, 256)
            wsel = Window.partitionBy("term").orderBy(
                F.col("bub").desc(), F.col("run").asc(), F.col("bi").asc()
            )
            # the block selection stays a DataFrame (persisted, metadata-
            # sized) instead of a collect + re-createDataFrame round trip:
            # the theta job below computes it as a broadcast subquery, so
            # pass 1 costs ONE job submission instead of two (round-6; the
            # selection is reused for the eager/decoded-key anti-joins)
            sel_df = (
                _block_meta_df(reader, t1_terms, {t: lex[t][0] for t in t1_terms}, standard)
                .withColumn("cum", F.sum("bn").over(wsel))
                .where(F.col("cum") - F.col("bn") < theta_target)
                .select("term", "run", "bi")
                .persist()
            )
            rows1 = _decode_blocks_df(
                reader._prune(reader.postings, t1_terms)
                .select("term", "run", F.posexplode("blocks").alias("bi", "b"))
                .join(F.broadcast(sel_df), ["term", "run", "bi"])
                .select("term", "b"),
                reader.codec,
            ).persist()
            qt1 = local_frame(
                spark,
                [(q, t, c, df) for q, lst in by_qid.items() for t, c, df, _ in lst
                 if (q, t) in t1_pairs],
                _QT_DDL,
            )
            s1 = scoring.score_col(
                standard, F.col("tf"), F.col("doc_len"), F.col("df"),
                reader.n_docs, reader.avgdl,
            )
            w = Window.partitionBy("qid").orderBy(F.col("contrib").desc())
            kth = (
                rows1.join(F.broadcast(qt1), "term")
                .select("qid", (F.col("qtf") * s1).alias("contrib"))
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == k)
                .select("qid", F.round("contrib", ROUND_DECIMALS).alias("theta"))
                .collect()
            )
            theta = {r["qid"]: r["theta"] for r in kth}  # absent -> <k docs -> 0

            # --- pass 2: essential split + candidates ---
            ess_pairs, ne_pairs = [], []
            for q, lst in by_qid.items():
                th = theta.get(q, 0.0)
                lst_sorted = sorted(lst, key=lambda x: -x[3])  # ub desc
                acc = 0.0
                cut = len(lst_sorted)  # first index (from the end) kept essential
                for i in range(len(lst_sorted) - 1, 0, -1):  # t1 (index 0) always essential
                    acc += lst_sorted[i][3]
                    if acc < th - _PRUNE_EPS:
                        cut = i
                    else:
                        break
                for i, (t, c, df, _) in enumerate(lst_sorted):
                    (ess_pairs if i < cut else ne_pairs).append((q, t, c, df))

        ess_terms = sorted({t for _, t, _, _ in ess_pairs})
        qt_e = local_frame(spark, ess_pairs, _QT_DDL)

        # per-essential-term hot cut (disjunctive only): a block of
        # essential term t can SOURCE a top-k candidate only if
        #   qtf*block_ub + sum(other terms' qtf*global_UB) >= theta - eps;
        # colder blocks cannot hold a doc that both reaches theta and is
        # invisible to every other essential term's hot blocks, so they
        # defer to candidate-driven lookups exactly like non-essential
        # blocks.  Only a query's top-UB term can have a positive cut (for
        # any other term the "others" sum already contains that top UB,
        # which is >= theta by construction) — so this prunes exactly the
        # HEAD-term lists, which is where the decode cost lives at scale.
        hot_cut: dict[str, float] = {}
        if not conjunctive:
            totals = {q: sum(x[3] for x in lst) for q, lst in by_qid.items()}
            for q, t, c, _df in ess_pairs:
                own = c * lex[t][1]
                cq = (theta.get(q, 0.0) - _PRUNE_EPS - (totals[q] - own)) / c
                hot_cut[t] = min(hot_cut.get(t, float("inf")), cq)
        partial_terms = sorted(t for t, v in hot_cut.items() if v > 0)

        # eager essential decode: every block EXCEPT partial terms' cold
        # blocks and the already-decoded theta selection
        eager = reader._prune(reader.postings, ess_terms).select(
            "term", "run", F.posexplode("blocks").alias("bi", "b")
        )
        if partial_terms:
            cut_df = local_frame(
                spark, [(t, hot_cut[t]) for t in partial_terms], "term string, cut double"
            )
            dfmap_e = local_frame(
                spark, [(t, lex[t][0]) for t in ess_terms], "term string, df long"
            )
            eager = (
                eager.join(F.broadcast(dfmap_e), "term")
                .join(F.broadcast(cut_df), "term", "left")
                .withColumn("max_tf", F.col("b.max_tf"))
                .withColumn("min_dl", F.col("b.min_dl"))
                .where(
                    F.col("cut").isNull()
                    | (_block_ub_col(standard, reader.n_docs, reader.avgdl)
                       >= F.col("cut"))
                )
                .select("term", "run", "bi", "b")
            )
            if collect_metrics:
                metrics["ess_blocks_total"] = (
                    reader._prune(reader.postings, ess_terms)
                    .select(F.explode("blocks"))
                    .count()
                )
                metrics["ess_blocks_eager"] = eager.count()
        if rows1 is not None:
            eager = eager.join(F.broadcast(sel_df), ["term", "run", "bi"], "left_anti")
        rows_new = _decode_blocks_df(eager.select("term", "b"), reader.codec)
        rows_e = rows1.unionByName(rows_new) if rows1 is not None else rows_new
        matched_e = rows_e.join(F.broadcast(qt_e), "term").persist()
        matched = matched_e
        candidates = matched_e.select("qid", "docid").distinct()

        def _candidate_lookup(pairs, exclude_keys=None, metric_prefix=None):
            """Candidate-driven block lookups for (qid, term) pairs whose
            contributions aren't (fully) in matched_e: the needed block
            INDEX per (candidate docid, run) comes from the run's block-max
            array via a pure Catalyst size(filter(maxes, m < docid))
            searchsorted — blocks whose docid range holds no candidate are
            NEVER decoded.  ``exclude_keys`` drops blocks already decoded
            eagerly (their rows are counted through matched_e)."""
            lterms = sorted({t for _, t, _, _ in pairs})
            lqt = local_frame(spark, pairs, _QT_DDL)
            want = (
                candidates.join(F.broadcast(lqt.select("qid", "term")), "qid")
                .select("term", "docid")
                .distinct()
            )
            run_meta = reader._prune(reader.postings, lterms).select(
                "term",
                "run",
                # direct field ref (NOT a transform lambda): prunes the scan
                # to struct<max_doc_id> — payload binaries never read here
                F.col("blocks.max_doc_id").alias("maxes"),
            )
            needed = (
                want.join(run_meta, "term")
                .select(
                    "term",
                    "run",
                    F.size(F.filter("maxes", lambda m: m < F.col("docid"))).alias("bi"),
                    F.size("maxes").alias("nb"),
                )
                .where(F.col("bi") < F.col("nb"))
                .select("term", "run", "bi")
                .distinct()
            )
            if exclude_keys is not None:
                needed = needed.join(
                    F.broadcast(exclude_keys), ["term", "run", "bi"], "left_anti"
                )
            blocks_l = (
                reader._prune(reader.postings, lterms)
                .select("term", "run", F.posexplode("blocks").alias("bi", "b"))
                .join(needed, ["term", "run", "bi"])
                .select("term", "b")
            )
            if collect_metrics and metric_prefix:
                metrics[f"{metric_prefix}_blocks_total"] = (
                    reader._prune(reader.postings, lterms)
                    .select(F.explode("blocks"))
                    .count()
                )
                metrics[f"{metric_prefix}_blocks_decoded"] = needed.count()
            rows_l = _decode_blocks_df(blocks_l, reader.codec)
            return rows_l.join(F.broadcast(lqt), "term").join(
                candidates, ["qid", "docid"], "left_semi"
            )

        # partial terms owe their COLD blocks' contributions to candidate
        # docs (the eager/hot rows are already in matched_e for these same
        # (qid, term) pairs, so decoded blocks are excluded)
        b_pairs = [(q, t, c, df) for q, t, c, df in ess_pairs if t in partial_terms]
        decoded_keys = None
        if b_pairs:
            decoded_keys = eager.select("term", "run", "bi")
            if rows1 is not None:
                decoded_keys = decoded_keys.unionByName(sel_df)
        # NOTE (round-6): merging the two lookup classes into one call was
        # tried and REVERTED — the decoded-key exclusion is term-global
        # while the "already counted" argument is per (qid, term): any term
        # that is essential for one query and non-essential for another
        # (the common case on a shared vocabulary) loses the second query's
        # contributions from its eagerly-decoded blocks.  The split calls
        # are the correct shape.
        if ne_pairs:
            matched = matched.unionByName(
                _candidate_lookup(ne_pairs, metric_prefix="ne")
            )
        if b_pairs:
            matched = matched.unionByName(
                _candidate_lookup(
                    b_pairs, exclude_keys=decoded_keys, metric_prefix="cold"
                )
            )
        metrics["essential_terms"] = len(ess_terms)
        metrics["non_essential_pairs"] = len(ne_pairs)
        metrics["partial_terms"] = len(partial_terms)

        ranked = _score_and_rank(
            matched, standard, reader.n_docs, reader.avgdl, k, conjunctive, n_terms(rows)
        ).collect()
    finally:
        for cached in (sel_df, rows1, matched_e):
            if cached is not None:
                cached.unpersist()
    return local_frame(spark, ranked, _EMPTY_SCHEMA)


def filtered_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    allowed: DataFrame,
    standard: str = scoring.BM25,
    k: int = 10,
    conjunctive: bool = False,
) -> DataFrame:
    """Metadata-filtered retrieval: exhaustive top-k restricted to the
    docids in ``allowed`` (single ``docid`` column).

    The reference engine has no doc-attribute filters (its docIndex
    carries only docno/length, ``model/DocumentIndex.java:37-48``); this
    is the faceted-search extension a transcript corpus needs (restrict
    to role='assistant', a tool, a time range, ...).

    Semantics pinned for the oracle gate:
    - the filter restricts the CANDIDATE set only; df/idf/avgdl stay
      corpus-global (standard IR practice — scores comparable across
      filters, and the lexicon is not rebuilt per predicate);
    - conjunctive mode requires all existing query terms within the
      allowed subset (the filter applies before the nmatch test).

    Scale shape: the attribute predicate is evaluated on the doc-
    attribute table FIRST, then a left-semi join prunes the matched
    postings on docid.  Matched postings are bounded by the query
    terms' df (never the corpus), so the semi-join shuffles the small
    side; with AQE a selective predicate turns the allowed side into a
    broadcast.  On a real deployment the attribute table is co-bucketed
    with doc_index on docid, making this a local join.
    """
    got = resolve_query_terms(index, query_terms(queries, index.parse))
    if got is None:
        return index.flat.sparkSession.createDataFrame([], _EMPTY_SCHEMA)
    rows, qt = got
    matched = index.flat.join(F.broadcast(qt), "term").join(
        allowed.select("docid"), "docid", "left_semi"
    )
    return _score_and_rank(
        matched, standard, index.n_docs, index.avgdl, k, conjunctive, n_terms(rows)
    )


def trec_format(results: DataFrame, standard: str) -> DataFrame:
    """Project to the reference's TREC output shape
    (``QueryProcessorMain.java:112-118``): qid Q0 docno rank score STANDARD."""
    return results.select(
        "qid",
        F.lit("Q0").alias("q0"),
        "docno",
        "rank",
        "score",
        F.lit(standard.upper()).alias("standard"),
    )


def filtered_topk_scoped_stats(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    allowed: DataFrame,
    standard: str = scoring.BM25,
    k: int = 10,
) -> DataFrame:
    """filtered_topk's OTHER design point: per-VIEW statistics.  Where
    filtered_topk keeps df/idf/avgdl corpus-global (scores comparable
    across filters), this recomputes df, N, and avgdl over the allowed
    subset — the Lucene per-field-stats analog, the right choice when
    the view IS the collection (e.g. ranking assistant turns as their
    own corpus).  Terms absent from the subset drop like OOV terms.

    Scale shape: one semi-join prunes the query terms' postings to the
    subset; the subset df is a tiny per-term count over those pruned
    postings (bounded by query-term df); stats are one agg over the
    filtered doc index."""
    spark = index.flat.sparkSession
    qt_rows = query_terms(queries, index.parse)
    if not qt_rows:
        return spark.createDataFrame([], _EMPTY_SCHEMA)
    terms = sorted({t for _, t, _ in qt_rows})

    adl = index.doc_index.join(allowed.select("docid"), "docid", "left_semi")
    st = adl.agg(
        F.count("*").alias("n"), F.sum("doc_len").alias("s")
    ).collect()[0]
    n_f = int(st["n"])
    if n_f == 0:
        return spark.createDataFrame([], _EMPTY_SCHEMA)
    avgdl_f = int(st["s"]) / n_f

    fpost = (
        index.flat.where(F.col("term").isin(terms))
        .join(allowed.select("docid"), "docid", "left_semi")
        .persist()
    )
    try:
        fdf = {
            r["term"]: r["df"]
            for r in fpost.groupBy("term")
            .agg(F.count("*").alias("df"))
            .collect()
        }
        rows = [(q, t, c, fdf[t]) for q, t, c in qt_rows if t in fdf]
        if not rows:
            return spark.createDataFrame([], _EMPTY_SCHEMA)
        matched = fpost.join(F.broadcast(local_frame(spark, rows, _QT_DDL)), "term")
        out = _score_and_rank(
            matched, standard, n_f, avgdl_f, k, False, {}
        ).localCheckpoint()
    finally:
        fpost.unpersist()
    return out
