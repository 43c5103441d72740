"""Boolean query syntax: Lucene-style ``+must -not should`` retrieval.

The reference's only boolean control is the all-or-nothing conjunctive
flag (``QueryProcessorMain.java:60-61``); real query languages mix
per-term operators.  Semantics (pinned, restated in
oracle._boolean_topk_sql — change both or neither):

- a query is whitespace-split into words; a leading ``+`` marks MUST,
  a leading ``-`` marks MUST_NOT, otherwise SHOULD.  Each word then
  runs through the standard tokenizer; the operator applies to every
  token the word yields;
- candidates = docs matching >= 1 MUST or SHOULD term, restricted to
  docs containing ALL in-lexicon MUST terms, minus docs containing ANY
  in-lexicon MUST_NOT term;
- out-of-lexicon terms are silently dropped from their role — the
  reference's missing-term convention (Q8) extended per-operator
  (an OOV MUST does not empty the result; an OOV NOT excludes
  nothing);
- score = BM25/TFIDF sum over matched MUST + SHOULD terms with query
  multiplicity, rank (round(score,6) desc, docid asc).

Scale shape: scoring is the shared exhaustive tail; the MUST
constraint is the conjunctive nmatch test counting MUST hits only;
exclusion is one left-anti join against the MUST_NOT terms' postings
(bounded by those terms' df) on (qid, docid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from collections import Counter

from . import scoring
from ..functions.tokenizer import tokenize
from ..session import local_frame
from .index_build import InvertedIndex
from .topk import _EMPTY_SCHEMA, ROUND_DECIMALS, resolve_query_terms


def parse_boolean_query(text: str, parse: bool) -> dict[str, list[str]]:
    """-> {'must': [...], 'should': [...], 'not': [...]} token lists
    (multiplicity kept within must/should)."""
    out: dict[str, list[str]] = {"must": [], "should": [], "not": []}
    for word in text.split():
        if word.startswith("+"):
            role, word = "must", word[1:]
        elif word.startswith("-"):
            role, word = "not", word[1:]
        else:
            role = "should"
        out[role].extend(tokenize(word, parse))
    return out


def boolean_topk(
    index: InvertedIndex,
    queries: list[tuple[str, str]],
    standard: str = scoring.BM25,
    k: int = 10,
) -> DataFrame:
    """-> DataFrame(qid string, docno string, rank long, score double)."""
    spark = index.flat.sparkSession
    parsed = {qid: parse_boolean_query(text, index.parse) for qid, text in queries}

    # must and should terms score alike (qtf counts both); NOT terms only
    # exclude, and a NOT term missing from the lexicon excludes nothing
    got = resolve_query_terms(index, [
        (qid, t, c)
        for qid, p in parsed.items()
        for t, c in Counter(p["must"] + p["should"]).items()
    ])
    if got is None:
        return spark.createDataFrame([], _EMPTY_SCHEMA)
    must = {(qid, t) for qid, p in parsed.items() for t in p["must"]}
    score_rows = [(*r, (r[0], r[1]) in must) for r in got[0]]
    n_must = dict.fromkeys(parsed, 0)
    for qid, _, _, _, is_must in score_rows:
        n_must[qid] += is_must
    qt = local_frame(
        spark, score_rows, "qid string, term string, qtf int, df long, is_must boolean"
    )
    matched = index.flat.join(F.broadcast(qt), "term")
    s = scoring.score_col(
        standard, F.col("tf"), F.col("doc_len"), F.col("df"), index.n_docs, index.avgdl
    )
    scored = (
        matched.withColumn("contrib", F.col("qtf") * s)
        .groupBy("qid", "docid")
        .agg(
            F.sum("contrib").alias("raw_score"),
            F.sum(F.when(F.col("is_must"), 1).otherwise(0)).alias("nmust"),
        )
    )
    req = F.create_map(*[F.lit(x) for kv in n_must.items() for x in kv])
    scored = scored.where(F.col("nmust") == req[F.col("qid")])

    not_rows = [(qid, t) for qid, p in parsed.items() for t in set(p["not"])]
    if not_rows:
        nt = local_frame(spark, not_rows, "qid string, term string")
        excluded = index.flat.join(F.broadcast(nt), "term").select(
            "qid", "docid"
        )
        scored = scored.join(excluded, ["qid", "docid"], "left_anti")

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
