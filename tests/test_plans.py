"""Physical-plan tests: the scale properties, asserted on explain()
output (SURVEY §4: what Catalyst must be doing for this design)."""

import pytest
from pyspark.sql import functions as F

from mircv_project_spark.functions import codecs
from mircv_project_spark.operators import scoring, topk
from mircv_project_spark.operators.index_build import (
    build_index,
    filter_indexable,
    write_index,
)
from mircv_project_spark.oracle import QUERY_SET
from mircv_project_spark.plans import checks
from mircv_project_spark.sources.index_store import IndexReader
from mircv_project_spark.sources.transcripts import assign_doc_ids, load_transcripts
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def stored_index(spark, tmp_path_factory):
    t = assign_doc_ids(filter_indexable(load_transcripts(spark, SF_SMALL)))
    idx = build_index(spark, t, parse=False, codec=codecs.VB)
    out = str(tmp_path_factory.mktemp("planidx") / "index")
    write_index(idx, out)
    return idx, out


def test_posting_fetch_prunes_partitions_and_pushes_term(spark, stored_index):
    _, out = stored_index
    reader = IndexReader.from_dir(spark, out)
    terms = ["spark", "join"]
    brows = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(reader.term_buckets)).cast("int"))
        .collect()
    )
    pruned = reader.postings.where(
        F.col("bucket").isin([r[0] for r in brows])
    ).where(F.col("term").isin(terms))
    checks.assert_partition_pruned(pruned, "bucket")
    checks.assert_filter_pushed(pruned, "term")


def test_exhaustive_topk_broadcasts_query_terms(spark, stored_index):
    idx, _ = stored_index
    df = topk.exhaustive_topk(idx, QUERY_SET, scoring.BM25, k=10)
    checks.assert_broadcast_join(df)
    checks.assert_no_sort_merge_join(df)
    checks.assert_whole_stage_codegen(df)


def test_query_term_table_is_a_local_relation(spark, vb_index):
    """resolve_query_terms: the query-term table the distributed scorers
    broadcast is an Arrow local relation (LocalTableScan), not a
    parallelized Python list (Scan ExistingRDD) whose every job runs
    Python workers.  An OOV term drops; an all-OOV batch is None."""
    idx, _ = vb_index
    term = idx.lexicon.orderBy(F.col("df").desc(), "term").first()["term"]
    oov = "\x00not-a-term\x00"
    rows, qt = topk.resolve_query_terms(idx, [("q1", term, 2), ("q1", oov, 1)])
    assert [r[:3] for r in rows] == [("q1", term, 2)]
    plan = qt._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert qt.schema.simpleString() == "struct<qid:string,term:string,qtf:int,df:bigint>"
    assert [tuple(r) for r in qt.collect()] == rows
    assert topk.resolve_query_terms(idx, [("q2", oov, 1)]) is None


def test_doc_index_scan_prunes_columns(spark, stored_index):
    _, out = stored_index
    reader = IndexReader.from_dir(spark, out)
    two_cols = reader.doc_index.select("docid", "doc_len")
    text = checks.plan_text(two_cols)
    # ReadSchema must contain only the projected columns
    read_schema = text.split("ReadSchema:")[1].splitlines()[0]
    assert "docid" in read_schema and "doc_len" in read_schema
    assert "conv_id" not in read_schema, text


def test_block_meta_scan_excludes_payload(spark, stored_index):
    """The theta-bootstrap / hot-cut block-metadata frame must never
    read the posting payload binaries: nested-schema pruning has to
    reach through the posexplode so the parquet scan carries only
    (max_doc_id, n, max_tf, min_dl) per block."""
    _, out = stored_index
    reader = IndexReader.from_dir(spark, out)
    meta = topk._block_meta_df(reader, ["spark", "join"], {"spark": 3, "join": 3}, scoring.BM25)
    text = checks.plan_text(meta)
    read_schema = text.split("ReadSchema:")[1].splitlines()[0]
    assert "max_tf" in read_schema and "min_dl" in read_schema, text
    for payload in ("docids", "tfs", "dls"):
        assert payload not in read_schema, (payload, text)


def test_near_dup_exact_chunked_plan_no_cartesian(spark):
    """The chunk-matmul exact path must join via hash equi-joins on the
    chunk keys — never the BroadcastNestedLoopJoin the all-pairs form
    degenerates to (that form is the negative control here)."""
    from mircv_project_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_exact,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    good = embedding_near_dup_pairs_exact(emb, 0.42, chunk_size=64)
    checks.assert_no_broadcast_nested_loop(good)
    checks.assert_broadcast_join(good)  # chunk-key broadcasts
    # negative control: the all-pairs verifier IS a nested-loop join
    bad = embedding_near_dup_pairs(emb, 0.42)
    assert "BroadcastNestedLoopJoin" in checks.plan_text(bad)


def test_lsh_cosine_topk_plan_is_bucket_equi_join(spark):
    """Multi-probe ANN: the candidate join must be a broadcast HASH
    equi-join on the expanded Hamming-ball keys — not the
    BroadcastNestedLoopJoin a bit_count(sig ^ psig) <= r predicate
    join degenerates to (VERDICT r02 'What's wrong' #1)."""
    from mircv_project_spark.operators.similarity import lsh_cosine_topk

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    df = lsh_cosine_topk(emb, list(range(5)), k=3)
    checks.assert_no_broadcast_nested_loop(df)
    checks.assert_broadcast_join(df)


def test_near_dup_blocked_plan_no_cartesian(spark):
    from mircv_project_spark.operators.similarity import (
        embedding_near_dup_pairs_blocked,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    df = embedding_near_dup_pairs_blocked(emb, 0.42, rows_per_band=7, bands=160, seed=1234)
    checks.assert_no_broadcast_nested_loop(df)


def test_python_xxhash64_matches_spark(spark):
    """functions/hashing.py must be bit-identical to the F.xxhash64
    that writes the postings bucket column — a divergence makes the
    bucket-pruned term lookup silently drop terms (CLAUDE.md invariant).
    Checked over the real indexed vocabulary plus randomized strings
    covering every XXH64 length class (0, <4, <8, <32, >=32, unicode)."""
    import random
    import string

    from mircv_project_spark.functions.hashing import term_bucket, xxhash64
    from mircv_project_spark.functions.tokenizer import tokenize

    t = assign_doc_ids(filter_indexable(load_transcripts(spark, SF_SMALL)))
    vocab = sorted(
        {tok for r in t.select("text").collect() for tok in tokenize(r["text"], False)}
    )
    rng = random.Random(20260817)
    cases = list(vocab)
    cases += ["", "a", "ab", "abc", "abcd", "x" * 31, "x" * 32, "x" * 100]
    for _ in range(400):
        n = rng.randint(0, 80)
        cases.append("".join(rng.choice(string.printable) for _ in range(n)))
    for _ in range(100):
        n = rng.randint(1, 40)
        cases.append(
            "".join(chr(rng.randint(1, 0xFFF)) for _ in range(n))
        )
    df = spark.createDataFrame([(c,) for c in cases], "s string").select(
        "s",
        F.xxhash64("s").alias("h"),
        F.pmod(F.xxhash64("s"), F.lit(128)).cast("int").alias("b"),
    )
    for r in df.collect():
        assert xxhash64(r["s"].encode("utf-8")) == r["h"], repr(r["s"])
        assert term_bucket(r["s"], 128) == r["b"], repr(r["s"])


def test_tpch_q1_filter_and_projection_reach_the_scan(spark):
    """relational.pricing_summary: the NTZ cutoff must appear in
    PushedFilters (an epoch-wrapper would block it) and the scan must
    read only the 7 needed columns."""
    from mircv_project_spark.operators.relational import pricing_summary

    df = pricing_summary(
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    )
    plan = checks.plan_text(df)
    assert "LessThanOrEqual(l_shipdate" in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read


def test_tpch_q4_is_left_semi(spark):
    from mircv_project_spark.operators.relational import order_priority_counts

    df = order_priority_counts(
        spark.read.parquet(f"{SF_SMALL}/orders.parquet"),
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet"),
    )
    plan = checks.plan_text(df)
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q5_broadcasts_dims_and_pushes_date_filter(spark):
    """relational.local_supplier_volume: region/nation/supplier ride
    BroadcastHashJoins; the order-date range reaches the orders scan."""
    from mircv_project_spark.operators.relational import local_supplier_volume

    dfs = [
        spark.read.parquet(f"{SF_SMALL}/{t}.parquet")
        for t in ("customer", "orders", "lineitem", "supplier", "nation", "region")
    ]
    plan = checks.plan_text(local_supplier_volume(*dfs))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q6_all_predicates_pushed(spark):
    """relational.forecast_revenue_change: every Q6 predicate (ship
    window, discount bounds, quantity cap) must reach PushedFilters and
    the scan reads only the 4 needed columns."""
    from mircv_project_spark.operators.relational import (
        forecast_revenue_change,
    )

    df = forecast_revenue_change(
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    )
    plan = checks.plan_text(df)
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_returnflag" not in read and "l_tax" not in read


def test_tpch_q10_q14_broadcast_dims(spark):
    from mircv_project_spark.operators.relational import (
        promo_revenue_share,
        returned_item_revenue,
    )

    q10 = returned_item_revenue(
        *[
            spark.read.parquet(f"{SF_SMALL}/{t}.parquet")
            for t in ("customer", "orders", "lineitem", "nation")
        ]
    )
    plan = checks.plan_text(q10)
    assert "BroadcastHashJoin" in plan
    q14 = promo_revenue_share(
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet"),
        spark.read.parquet(f"{SF_SMALL}/part.parquet"),
    )
    plan14 = checks.plan_text(q14)
    assert "BroadcastHashJoin" in plan14
    assert "CartesianProduct" not in plan14


def test_tpch_q18_having_before_join(spark):
    """relational.large_volume_orders: the quantity-sum filter must run
    on the lineitem-only aggregate BEFORE the joins (Filter above the
    partial agg, below both joins), and no nested-loop join appears."""
    from mircv_project_spark.operators.relational import large_volume_orders

    df = large_volume_orders(
        spark.read.parquet(f"{SF_SMALL}/customer.parquet"),
        spark.read.parquet(f"{SF_SMALL}/orders.parquet"),
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet"),
    )
    plan = checks.plan_text(df)
    assert "BroadcastNestedLoopJoin" not in plan
    # the filtered agg feeds the join: sum_qty_c filter exists and the
    # lineitem scan reads only orderkey + quantity
    read = next(
        l for l in plan.splitlines()
        if "ReadSchema" in l and "l_quantity" in l
    )
    assert "l_extendedprice" not in read and "l_partkey" not in read


def test_tpch_q19_band_predicates_prune_scans(spark):
    """relational.discounted_revenue: the brand IN-list and size cap
    reach the part scan, the global quantity bounds reach the lineitem
    scan, and the join is an equi-join."""
    from mircv_project_spark.operators.relational import discounted_revenue

    df = discounted_revenue(
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet"),
        spark.read.parquet(f"{SF_SMALL}/part.parquet"),
    )
    plan = checks.plan_text(df)
    assert "In(p_brand" in plan
    assert "LessThanOrEqual(p_size,40)" in plan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "LessThanOrEqual(l_quantity,45.0)" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q7_q8_endpoint_filters_prune_before_big_joins(spark):
    """relational.volume_shipping / national_market_share: the dims
    ride BroadcastHashJoins, the date windows reach their fact scans,
    and no BNLJ appears."""
    from mircv_project_spark.operators.relational import (
        national_market_share,
        volume_shipping,
    )

    q7 = volume_shipping(
        *[
            spark.read.parquet(f"{SF_SMALL}/{t}.parquet")
            for t in ("customer", "orders", "lineitem", "supplier", "nation")
        ]
    )
    plan = checks.plan_text(q7)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "BroadcastNestedLoopJoin" not in plan

    q8 = national_market_share(
        *[
            spark.read.parquet(f"{SF_SMALL}/{t}.parquet")
            for t in (
                "customer", "orders", "lineitem", "supplier", "nation",
                "region", "part",
            )
        ]
    )
    plan8 = checks.plan_text(q8)
    assert plan8.count("BroadcastHashJoin") >= 3
    assert "EqualTo(p_type,PROMO)" in plan8
    assert "GreaterThanOrEqual(o_orderdate" in plan8
    assert "BroadcastNestedLoopJoin" not in plan8


def test_tpch_q15_q17_pruned_scans(spark):
    """relational.top_supplier: the quarter window reaches the lineitem
    scan.  small_quantity_revenue: the brand filter reaches the part
    scan and both passes stay equi-joins."""
    from mircv_project_spark.operators.relational import (
        small_quantity_revenue,
        top_supplier,
    )

    q15 = top_supplier(
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet"),
        spark.read.parquet(f"{SF_SMALL}/supplier.parquet"),
    )
    plan = checks.plan_text(q15)
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan

    q17 = small_quantity_revenue(
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet"),
        spark.read.parquet(f"{SF_SMALL}/part.parquet"),
    )
    plan17 = checks.plan_text(q17)
    assert "EqualTo(p_brand,Brand#11)" in plan17
    assert "BroadcastNestedLoopJoin" not in plan17


def test_tpch_q22_anti_join_on_pruned_orders(spark):
    """relational.idle_rich_customers: the no-recent-orders test is a
    LeftAnti equi-join and the cutoff reaches the orders scan."""
    from mircv_project_spark.operators.relational import idle_rich_customers

    df = idle_rich_customers(
        spark.read.parquet(f"{SF_SMALL}/customer.parquet"),
        spark.read.parquet(f"{SF_SMALL}/orders.parquet"),
        spark.read.parquet(f"{SF_SMALL}/nation.parquet"),
    )
    plan = checks.plan_text(df)
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_sparksql_q1_pushes_ntz_filter(spark):
    """The pure spark.sql() surface must push the NTZ cutoff to the
    scan exactly like the DataFrame form (same Catalyst plan class)."""
    import __spark_entry__ as E

    df = E._q_tpch_pricing_summary_sql(spark, SF_SMALL)
    plan = checks.plan_text(df)
    assert "LessThanOrEqual(l_shipdate" in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read


def test_session_ops_plans_have_no_nested_loops(spark, vb_index):
    """The session's join-heavy operators must all compile to hash
    joins (broadcast or shuffled) — a BroadcastNestedLoopJoin or
    CartesianProduct anywhere is a scale regression."""
    from mircv_project_spark import oracle
    from mircv_project_spark.operators.bm25f import bm25f_topk
    from mircv_project_spark.operators.facets import facet_counts
    from mircv_project_spark.operators.mlt import more_like_this
    from mircv_project_spark.operators.percolate import percolate
    from mircv_project_spark.operators.substring import substring_topk

    idx, _ = vb_index
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    frames = {
        "substring": substring_topk(docs, oracle.SUBSTR_SET[:2]),
        "mlt": more_like_this(idx, oracle.MLT_PROBE_DOCNOS[:2]),
        "bm25f": bm25f_topk(idx, oracle.QUERY_SET[:2]),
        "percolate": percolate(docs, oracle.QUERY_SET[:2]),
        "facets": facet_counts(docs, oracle.QUERY_SET[:2]),
    }
    for name, df in frames.items():
        plan = checks.plan_text(df)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_sdm_plan_has_no_nested_loops_and_broadcasts_queries(spark):
    """SDM's three feature legs are all term/id equi-joins with the
    tiny query tables broadcast — position-array work happens inside
    higher-order expressions, never a join predicate."""
    from mircv_project_spark import oracle
    from mircv_project_spark.operators.positional import (
        build_positional_postings,
    )
    from mircv_project_spark.operators.sdm import sdm_topk

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    pos = build_positional_postings(docs)
    df = sdm_topk(pos, oracle.PHRASE_SET[:3])
    plan = checks.plan_text(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q21_semi_anti_no_nested_loop(spark):
    """relational.waiting_suppliers: the exists/not-exists pair must
    compile to hash/merge LeftSemi + LeftAnti joins (orderkey equi key
    with the suppkey inequality as a residual), never a nested loop;
    the 'F' status filter reaches the orders scan."""
    from mircv_project_spark.operators.relational import waiting_suppliers

    df = waiting_suppliers(
        spark.read.parquet(f"{SF_SMALL}/orders.parquet"),
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet"),
        spark.read.parquet(f"{SF_SMALL}/supplier.parquet"),
    )
    plan = checks.plan_text(df)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EqualTo(o_orderstatus,F)" in plan


def test_facet_top_hits_no_nested_loop(spark):
    """facets.facet_top_hits: the metadata attach is an equi-join on
    docno — one ranking pass, no per-bucket re-query, no nested loop."""
    from mircv_project_spark.operators.facets import facet_top_hits
    from mircv_project_spark.operators.index_build import (
        build_index as _bi,
        filter_indexable as _fi,
    )
    from mircv_project_spark.sources.transcripts import (
        assign_doc_ids as _adi,
        load_transcripts as _lt,
    )

    idx = _bi(spark, _adi(_fi(_lt(spark, SF_SMALL))), parse=False)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    df = facet_top_hits(idx, docs, QUERY_SET[:2])
    assert "BroadcastNestedLoopJoin" not in checks.plan_text(df)


def test_session3c_new_ops_plan_guards(spark):
    """Plan guards for the round-3 continuation wave: the chunker is
    shuffle-free, the classifiers and rule miner compile to hash
    joins (no nested loops), and VSM broadcasts the query side."""
    from mircv_project_spark import oracle
    from mircv_project_spark.operators.clustering import (
        nearest_centroid_classify,
    )
    from mircv_project_spark.operators.curation import doc_chunks
    from mircv_project_spark.operators.graph import item_assoc_rules

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")

    # doc_chunks: pure projection + explode — NO exchange at all
    chunks_plan = checks.plan_text(doc_chunks(docs))
    assert "Exchange" not in chunks_plan

    checks.assert_no_broadcast_nested_loop(
        nearest_centroid_classify(emb, list(range(5)))
    )
    checks.assert_no_broadcast_nested_loop(item_assoc_rules(events))


def test_vsm_plan_broadcasts_query_side(spark, vb_index):
    from mircv_project_spark.operators.mlt import vsm_cosine_topk
    from mircv_project_spark import oracle

    idx, _ = vb_index
    df = vsm_cosine_topk(idx, oracle.QUERY_SET, k=5)
    checks.assert_no_broadcast_nested_loop(df)
    checks.assert_broadcast_join(df)


def test_chunk_pair_grid_is_engine_generated(spark):
    """Round-3 verdict What's-wrong #3: the exact embedding paths'
    (ci, cj) chunk-pair grid must come from spark.range + sequence
    (engine-side Range scan), never a driver-built Python list
    (LocalTableScan) — at G ~ 244k the list is ~3e10 driver tuples.
    Also pins the broadcast cutoff: small grids broadcast, huge grids
    report non-broadcastable so callers fall back to a shuffle join."""
    from mircv_project_spark.operators.similarity import _chunk_pair_grid

    grid, small = _chunk_pair_grid(spark, 5)
    assert small
    plan = grid._jdf.queryExecution().executedPlan().toString()
    assert "Range" in plan
    assert "LocalTableScan" not in plan and "ExistingRDD" not in plan
    got = sorted((r.ci, r.cj) for r in grid.collect())
    assert got == [(i, j) for i in range(5) for j in range(i, 5)]
    _, small_huge = _chunk_pair_grid(spark, 250_000)
    assert not small_huge


def test_round4_new_ops_plan_guards(spark):
    """Plan guards for the round-4 wave: the derived partsupp is an
    EQUI-join on the key residue (never a cross/nested-loop product),
    every Q2/Q11/Q16/Q20 plan is nested-loop-free, MaxSim broadcasts
    the probe-conv vectors, and span_corruption is join-free."""
    from mircv_project_spark import oracle
    from mircv_project_spark.operators.curation import span_corruption
    from mircv_project_spark.operators.relational import (
        derived_partsupp,
        excess_stock_suppliers,
        important_stock,
        min_cost_supplier,
        parts_supplier_counts,
    )
    from mircv_project_spark.operators.similarity import conv_maxsim_topk

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    part = spark.read.parquet(f"{SF_SMALL}/part.parquet")
    supplier = spark.read.parquet(f"{SF_SMALL}/supplier.parquet")
    nation = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    region = spark.read.parquet(f"{SF_SMALL}/region.parquet")
    lineitem = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")

    ps_plan = checks.plan_text(derived_partsupp(part, supplier))
    assert "CartesianProduct" not in ps_plan
    assert "BroadcastNestedLoopJoin" not in ps_plan

    checks.assert_no_broadcast_nested_loop(
        min_cost_supplier(part, supplier, nation, region)
    )
    # important_stock deliberately broadcast-cross-joins the ONE-ROW
    # grand total onto the per-part values (the right plan at any
    # scale); assert exactly that one nested loop and nothing else
    stock_plan = checks.plan_text(
        important_stock(part, supplier, nation), mode="simple"
    )
    assert stock_plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in stock_plan
    checks.assert_no_broadcast_nested_loop(
        parts_supplier_counts(part, supplier)
    )
    checks.assert_no_broadcast_nested_loop(
        excess_stock_suppliers(part, supplier, nation, region, lineitem)
    )

    # MaxSim's exhaustive baseline broadcasts the tiny probe-conv
    # vector table over ONE vector scan (the cosine_topk shape): the
    # nested loop's build side must be the broadcast, and there must
    # be exactly the one
    msim_plan = checks.plan_text(conv_maxsim_topk(emb, oracle.PROBE_IDS), mode="simple")
    assert msim_plan.count("BroadcastNestedLoopJoin") == 1
    assert "BroadcastExchange" in msim_plan
    assert "CartesianProduct" not in msim_plan

    # span_corruption: tokenize + explode + windows — no joins
    span_plan = checks.plan_text(span_corruption(docs))
    assert "Join" not in span_plan


def test_pivoted_and_bm25plus_broadcast_query_side(spark, vb_index):
    """The seventh/eighth scoring standards keep the qld/vsm plan
    shape: tiny query-term table broadcast into ONE postings scan —
    no shuffle of the posting stream against the query side."""
    from mircv_project_spark.operators.pivoted import (
        bm25_plus_topk,
        pivoted_topk,
    )
    from mircv_project_spark.oracle import QUERY_SET

    idx, _ = vb_index
    for fn in (pivoted_topk, bm25_plus_topk):
        df = fn(idx, QUERY_SET, k=10)
        checks.assert_broadcast_join(df)
        checks.assert_no_broadcast_nested_loop(df)
