"""Distributed block-max pruned top-k (operators/topk.py
topk_from_blocks_pruned): rank-identical to the exhaustive scorer on
every query, and on a skewed corpus (one near-stopword + selective
terms) it must actually skip decoding most of the stopword's blocks —
Q4's block-skipping benefit on the distributed path."""

import pandas as pd
import pytest
from pyspark.sql import functions as F  # noqa: F401 (plan debugging)

from mircv_project_spark.operators import scoring, topk
from mircv_project_spark.operators.index_build import build_index, filter_indexable
from mircv_project_spark.oracle import CONJ_QUERY_SET, QUERY_SET
from mircv_project_spark.sources.index_store import IndexReader
from mircv_project_spark.sources.transcripts import assign_doc_ids, load_transcripts
from tests.conftest import SF_SMALL, persistent_rdds


def _cmp(df_a, df_b):
    a = df_a.toPandas().sort_values(["qid", "rank"], ignore_index=True)
    b = df_b.toPandas().sort_values(["qid", "rank"], ignore_index=True)
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])


@pytest.fixture(scope="module")
def driver_idx(spark):
    t = assign_doc_ids(filter_indexable(load_transcripts(spark, SF_SMALL)))
    idx = build_index(spark, t, parse=False)
    return idx, IndexReader.from_memory(idx)


@pytest.fixture(scope="module")
def skew_idx(spark):
    t = assign_doc_ids(filter_indexable(_skewed_transcripts(spark)))
    idx = build_index(spark, t, parse=False)
    return idx, IndexReader.from_memory(idx)


@pytest.fixture(scope="module")
def head_idx(spark):
    t = assign_doc_ids(filter_indexable(_head_skewed_transcripts(spark)))
    idx = build_index(spark, t, parse=False)
    return idx, IndexReader.from_memory(idx)


def test_pruned_rank_identical_driver_corpus(spark, driver_idx):
    idx, reader = driver_idx
    for standard in [scoring.BM25, scoring.TFIDF]:
        ex = topk.exhaustive_topk(idx, QUERY_SET, standard, k=10)
        pr = topk.topk_from_blocks_pruned(reader, QUERY_SET, standard, k=10)
        _cmp(ex, pr)


def test_pruned_conjunctive_rank_identical(spark, driver_idx):
    """Conjunctive pruned path == exhaustive conjunctive ranking; the
    rarest-term candidate source must also SKIP most blocks of the
    other (denser) terms (intersection-driven lookups)."""
    idx, reader = driver_idx
    for standard in [scoring.BM25, scoring.TFIDF]:
        ex = topk.exhaustive_topk(idx, CONJ_QUERY_SET, standard, k=10, conjunctive=True)
        pr = topk.topk_from_blocks_pruned(
            reader, CONJ_QUERY_SET, standard, k=10, conjunctive=True
        )
        _cmp(ex, pr)


def test_pruned_batches_release_their_caches(spark, driver_idx):
    """A pruned batch persists the theta block selection, its decoded
    rows and the essential matches, and must release all of them before
    it returns: a server that fails over to this route would otherwise
    gain cached RDDs with every batch."""
    _, reader = driver_idx
    before = persistent_rdds(spark)
    disj = topk.topk_from_blocks_pruned(reader, QUERY_SET, scoring.BM25, k=10)
    conj = topk.topk_from_blocks_pruned(
        reader, CONJ_QUERY_SET, scoring.BM25, k=10, conjunctive=True
    )
    assert persistent_rdds(spark) == before
    assert disj.count() > 0 and conj.count() > 0


def test_pruned_conjunctive_skips_dense_blocks(spark, skew_idx):
    idx, reader = skew_idx
    queries = [("c1", "rare common")]
    metrics: dict = {}
    pr = topk.topk_from_blocks_pruned(
        reader, queries, scoring.BM25, k=5, conjunctive=True, metrics=metrics
    )
    ex = topk.exhaustive_topk(idx, queries, scoring.BM25, k=5, conjunctive=True)
    _cmp(ex, pr)
    # 'rare' (df ~ 10) is the candidate source; 'common' (df ~ 1800,
    # ~40+ blocks) contributes via candidate-driven lookups only
    assert metrics["essential_terms"] == 1, metrics
    assert metrics["ne_blocks_total"] > 20, metrics
    assert metrics["ne_blocks_decoded"] < metrics["ne_blocks_total"] / 2, metrics


def _skewed_transcripts(spark, n=2000, rare_every=200):
    """Every doc holds the near-stopword 'common' (plus a unique filler)
    except each 10th-percentile doc also holds 'rare'; 'common' df ~ 0.9n
    so its idf/UB is tiny, 'rare' df = n/rare_every with a large UB."""
    rows = []
    for i in range(n):
        words = [f"filler{i % 37}"]
        if i % 10 != 0:
            words.append("common")
        if i % rare_every == 0:
            words.append("rare common")
        rows.append(
            (f"conv-{i // 8:012d}", i % 8, "user", " ".join(words), None, None)
        )
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string,"
        " ts timestamp",
    )


def _head_skewed_transcripts(spark, n=2000):
    """'common' (df ~ 0.9n, ~45 blocks) is near-uniform tf=1 except a
    CLUSTER of adjacent docs (docids 2..7) with tf=6 — the regime where
    a head-term query's top-UB term is the stopword itself and block-max
    metadata should keep its cold tail undecoded."""
    rows = []
    for i in range(n):
        words = [f"filler{i % 37}"]
        if i % 10 != 0:
            words.append("common")
        if 1 <= i <= 6:
            words.extend(["common"] * 5)
        if i % 200 == 0:
            words.append("rare")
        rows.append(
            (f"conv-{i // 8:012d}", i % 8, "user", " ".join(words), None, None)
        )
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string,"
        " ts timestamp",
    )


def test_pruned_head_term_query_partial_decode(spark, head_idx):
    """Single-term query ON the near-stopword: pass 1 must bootstrap
    theta from the top blocks by block-max score bound instead of
    decoding the whole list, and the hot cut must leave the cold tail
    (max_tf=1 blocks) undecoded."""
    idx, reader = head_idx
    queries = [("h1", "common")]
    metrics: dict = {}
    pr = topk.topk_from_blocks_pruned(
        reader, queries, scoring.BM25, k=5, metrics=metrics
    )
    ex = topk.exhaustive_topk(idx, queries, scoring.BM25, k=5)
    _cmp(ex, pr)
    assert metrics["partial_terms"] == 1, metrics
    assert metrics["ess_blocks_total"] > 30, metrics
    # eager (hot) blocks: only the tf=6 cluster's block(s)
    assert metrics["ess_blocks_eager"] <= 3, metrics
    # candidates all come from already-decoded blocks -> the cold
    # completion owes (almost) nothing
    assert metrics["cold_blocks_decoded"] <= 2, metrics


def test_pruned_shared_term_across_queries(spark, head_idx):
    """One batch where 'common' is the partial-decode essential term of
    query h1 AND a non-essential lookup term of query h2: the decoded-
    block exclusion applies per (qid, term) class, so h2's lookups must
    still see every needed block and both rankings stay exhaustive."""
    idx, reader = head_idx
    queries = [("h1", "common"), ("h2", "rare common")]
    metrics: dict = {}
    pr = topk.topk_from_blocks_pruned(
        reader, queries, scoring.BM25, k=5, metrics=metrics
    )
    ex = topk.exhaustive_topk(idx, queries, scoring.BM25, k=5)
    _cmp(ex, pr)
    # both top-UB terms carry a positive hot cut ('rare' trivially —
    # every one of its blocks is hot)
    assert metrics["partial_terms"] == 2, metrics
    assert metrics["non_essential_pairs"] == 1, metrics
    # h2's candidate-driven lookups on 'common' decode a handful of its
    # blocks (the ~10 'rare' docids), not the whole list
    assert 1 <= metrics["ne_blocks_decoded"] < metrics["ne_blocks_total"] / 2, metrics


def test_pruned_skips_stopword_blocks(spark, skew_idx):
    idx, reader = skew_idx
    queries = [("q1", "rare common")]
    metrics: dict = {}
    pr = topk.topk_from_blocks_pruned(
        reader, queries, scoring.BM25, k=5, metrics=metrics
    )
    ex = topk.exhaustive_topk(idx, queries, scoring.BM25, k=5)
    _cmp(ex, pr)
    # 'common' must be classified non-essential and most of its blocks
    # (df ~ 1800 -> ~42 blocks of ~44 docids) never decode: only the
    # ones whose docid range contains one of the ~10 'rare' candidates.
    assert metrics["non_essential_pairs"] >= 1, metrics
    assert metrics["ne_blocks_total"] > 20, metrics
    assert metrics["ne_blocks_decoded"] < metrics["ne_blocks_total"] / 2, metrics
    assert metrics["ne_blocks_decoded"] >= 1, metrics
