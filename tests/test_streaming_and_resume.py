"""Streaming incremental indexing + checkpoint-resume (SURVEY §5.2.5):
- streaming deltas compacted == batch build over the same rows;
- watermarked windowed aggregation runs end-to-end;
- staged_build resumes from completed stages (lineage records skips)
  and its queries match the in-memory build.
"""

import json

import pytest
from pyspark.sql import functions as F

from mircv_project_spark.operators import scoring, topk
from mircv_project_spark.operators.index_build import (
    build_index,
    filter_indexable,
    staged_build,
)
from mircv_project_spark.oracle import QUERY_SET
from mircv_project_spark.sources.transcripts import assign_doc_ids, generate_transcripts
from mircv_project_spark.streaming import incremental as S
from tests.conftest import SF_SMALL, persistent_rdds


def _topk_rows(idx, queries=QUERY_SET[:4]):
    return sorted(
        tuple(r)
        for r in topk.exhaustive_topk(idx, queries, scoring.BM25, k=10).collect()
    )


def test_streaming_deltas_match_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    delta = str(tmp_path / "delta")
    ckpt = str(tmp_path / "ckpt")

    all_t = generate_transcripts(spark, 400, seed=11).orderBy("conv_id", "turn_idx")
    # two arrival batches in conv order (streaming docIds are
    # arrival-order, the reference's read-order semantics)
    part1 = all_t.where(F.col("conv_id") < "conv-000000000025")
    part2 = all_t.where(F.col("conv_id") >= "conv-000000000025")
    part1.coalesce(1).write.mode("overwrite").parquet(f"{inp}/b1")
    q = S.index_delta_query(spark, f"{inp}/b1", delta, ckpt, parse=False)
    q.awaitTermination(120)
    part2.coalesce(1).write.mode("append").parquet(f"{inp}/b1")
    q2 = S.index_delta_query(spark, f"{inp}/b1", delta, ckpt, parse=False)
    q2.awaitTermination(120)

    streamed = S.compact_index(spark, delta, parse=False)
    batch = build_index(
        spark, assign_doc_ids(filter_indexable(all_t)), parse=False
    )
    assert streamed.n_docs == batch.n_docs
    assert streamed.sum_doc_len == batch.sum_doc_len
    assert _topk_rows(streamed) == _topk_rows(batch)
    # per-batch scalable numbering must reproduce the batch build's
    # docid/docno mapping exactly (arrival order == conv order here)
    s_rows = streamed.doc_index.select("docid", "docno", "conv_id", "turn_idx")
    b_rows = batch.doc_index.select("docid", "docno", "conv_id", "turn_idx")
    assert s_rows.exceptAll(b_rows).count() == 0
    assert b_rows.exceptAll(s_rows).count() == 0

    # crash-replay idempotence: the offset for an epoch must EXCLUDE the
    # epoch's own (possibly pre-crash) rows, so a replay reuses the same
    # offset and overwrites with identical docids.
    n_b0 = (
        spark.read.parquet(f"{delta}/doc_index").where(F.col("batch") == 0).count()
    )
    assert S._next_doc_offset(spark, delta, epoch_id=0) == 0
    assert S._next_doc_offset(spark, delta, epoch_id=1) == n_b0
    assert S._next_doc_offset(spark, delta, epoch_id=99) == streamed.n_docs


def test_delta_drain_leaves_no_epoch_caches(spark, tmp_path):
    """The per-epoch drain persists its numbering + tokenize lineage so
    the two writes (doc_index, flat) share one materialization (round-6:
    the lineage previously executed twice per epoch), and must unpersist
    BOTH caches (tok + assign_doc_ids' internal range cache) when the
    epoch commits — a long-running stream must not accumulate one cached
    batch per epoch."""
    inp = str(tmp_path / "in")
    delta = str(tmp_path / "delta")
    ckpt = str(tmp_path / "ckpt")
    t = generate_transcripts(spark, 200, seed=13)
    t.coalesce(1).write.mode("overwrite").parquet(inp)

    before = persistent_rdds(spark)
    S.index_delta_query(spark, inp, delta, ckpt, parse=False).awaitTermination(120)
    assert persistent_rdds(spark) <= before
    # the drain's outputs are intact (both consumers saw the same rows)
    di = spark.read.parquet(f"{delta}/doc_index")
    fl = spark.read.parquet(f"{delta}/flat")
    assert di.count() == 200
    assert fl.select("docid").distinct().count() == 200


def test_compaction_is_incremental(spark, tmp_path):
    """A second compaction must (a) reuse the first generation's run
    files untouched, aggregating ONLY the not-yet-compacted epochs, and
    (b) still produce a lexicon bit-identical to a batch build over all
    rows — including BM25 upper bounds, which drift with avgdl and are
    recomputed exactly from the per-run (tf -> min dl) frontier."""
    import os

    inp = str(tmp_path / "in")
    delta = str(tmp_path / "delta")
    ckpt = str(tmp_path / "ckpt")

    all_t = generate_transcripts(spark, 600, seed=17).orderBy("conv_id", "turn_idx")
    part1 = all_t.where(F.col("conv_id") < "conv-000000000025")
    part2 = all_t.where(
        (F.col("conv_id") >= "conv-000000000025")
        & (F.col("conv_id") < "conv-000000000050")
    )
    part3 = all_t.where(F.col("conv_id") >= "conv-000000000050")

    part1.coalesce(1).write.mode("overwrite").parquet(inp)
    S.index_delta_query(spark, inp, delta, ckpt, parse=False).awaitTermination(120)
    part2.coalesce(1).write.mode("append").parquet(inp)
    S.index_delta_query(spark, inp, delta, ckpt, parse=False).awaitTermination(120)
    idx1 = S.compact_index(spark, delta, parse=False)
    n1 = idx1.n_docs

    state = f"{delta}/compacted"
    gen0_files = {
        f: os.path.getmtime(f"{state}/runs/gen=0/{f}")
        for f in os.listdir(f"{state}/runs/gen=0")
        if f.endswith(".parquet")
    }
    assert gen0_files

    part3.coalesce(1).write.mode("append").parquet(inp)
    S.index_delta_query(spark, inp, delta, ckpt, parse=False).awaitTermination(120)
    idx2 = S.compact_index(spark, delta, parse=False)
    assert idx2.n_docs > n1

    # (a) gen 0 untouched, new generation holds only the new epochs
    for f, mtime in gen0_files.items():
        assert os.path.getmtime(f"{state}/runs/gen=0/{f}") == mtime, f
    gens = sorted(d for d in os.listdir(f"{state}/runs") if d.startswith("gen="))
    assert len(gens) == 2, gens
    # the delta scan for the new generation partition-prunes compacted
    # epochs: the predicate lands in PartitionFilters and every row the
    # scan produces comes from a batch=2 file
    from mircv_project_spark.plans import checks

    meta1 = S._read_meta(spark, state)
    assert meta1 is not None and meta1["gen"] == 2
    w0 = 1  # watermark after the first compaction (epochs 0 and 1)
    pruned = spark.read.parquet(f"{delta}/flat").where(F.col("batch") > w0)
    checks.assert_partition_pruned(pruned, "batch")
    files = [
        r[0]
        for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    ]
    assert files and all("batch=2" in f for f in files), files

    # (b) exact lexicon parity with a batch build over the same rows
    batch = build_index(
        spark, assign_doc_ids(filter_indexable(all_t)), parse=False
    )
    cols = ["term", "df", "cf", "idf", "bm25_ub", "tfidf_ub"]
    s_rows = sorted(map(tuple, idx2.lexicon.select(*cols).collect()))
    b_rows = sorted(map(tuple, batch.lexicon.select(*cols).collect()))
    assert s_rows == b_rows
    assert _topk_rows(idx2) == _topk_rows(batch)
    # a third compaction with nothing new is a no-op on state
    idx3 = S.compact_index(spark, delta, parse=False)
    assert idx3.n_docs == idx2.n_docs
    assert sorted(
        d for d in os.listdir(f"{state}/runs") if d.startswith("gen=")
    ) == gens


def test_compacted_lexicon_never_reads_payload(spark, tmp_path):
    """The lazy pbm recompute (bmfront frontier) must keep the `blocks`
    payload OUT of the lexicon scan — the whole point of the frontier
    is exact UBs across avgdl drift without posting-payload reads."""
    from mircv_project_spark.plans import checks

    inp = str(tmp_path / "in")
    delta = str(tmp_path / "delta")
    ckpt = str(tmp_path / "ckpt")
    generate_transcripts(spark, 200, seed=29).coalesce(1).write.mode(
        "overwrite"
    ).parquet(inp)
    S.index_delta_query(spark, inp, delta, ckpt, parse=False).awaitTermination(120)
    idx = S.compact_index(spark, delta, parse=False)
    text = checks.plan_text(idx.lexicon)
    read_schemas = [seg.splitlines()[0] for seg in text.split("ReadSchema:")[1:]]
    assert read_schemas
    assert all("blocks" not in rs for rs in read_schemas), read_schemas


def test_compaction_crash_replay(spark, tmp_path):
    """Crash between the runs write and the meta commit: meta's
    _SUCCESS is the commit point, so a recompaction must treat the
    orphan generation as uncommitted, rebuild it, and still produce the
    batch-identical lexicon."""
    import os
    import shutil

    inp = str(tmp_path / "in")
    delta = str(tmp_path / "delta")
    ckpt = str(tmp_path / "ckpt")
    all_t = generate_transcripts(spark, 300, seed=23).orderBy("conv_id", "turn_idx")
    all_t.coalesce(1).write.mode("overwrite").parquet(inp)
    S.index_delta_query(spark, inp, delta, ckpt, parse=False).awaitTermination(120)

    idx1 = S.compact_index(spark, delta, parse=False)
    rows1 = sorted(map(tuple, idx1.lexicon.select("term", "df", "cf").collect()))
    state = f"{delta}/compacted"
    # simulate the crash: runs (gen 0) exist, meta never committed
    shutil.rmtree(f"{state}/meta")
    assert os.path.exists(f"{state}/runs/gen=0")

    idx2 = S.compact_index(spark, delta, parse=False)
    assert idx2.n_docs == idx1.n_docs
    rows2 = sorted(map(tuple, idx2.lexicon.select("term", "df", "cf").collect()))
    assert rows2 == rows1
    assert S._read_meta(spark, state) is not None  # committed this time


def test_watermarked_window_agg(spark, tmp_path):
    inp = str(tmp_path / "win_in")
    generate_transcripts(spark, 300, seed=3).coalesce(1).write.mode(
        "overwrite"
    ).parquet(inp)
    agg = S.turns_per_window(S.transcript_stream(spark, inp))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("winagg")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from winagg").collect()
    assert rows
    assert sum(r["turns"] for r in rows) == 300
    assert {r["role"] for r in rows} <= {"user", "assistant", "system", "tool"}


def test_window_agg_append_cross_batch_exactly_once(spark, tmp_path):
    """run_turns_per_window (append mode): a window emits exactly once,
    only after the watermark (max event time − 10 s) passes its end, and
    a window fed by TWO micro-batches emits the combined count (state
    carries across batches).  130 turns at 1 turn/s, split at t=65."""
    inp = str(tmp_path / "win_in")
    out = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "win_ckpt")
    epoch = 1704067200  # 2024-01-01 00:00:00 UTC
    t = generate_transcripts(spark, 130, seed=7)
    off = F.unix_timestamp("ts") - epoch
    t.where(off < 65).coalesce(1).write.mode("overwrite").parquet(inp)
    S.run_turns_per_window(spark, inp, out, ckpt).awaitTermination(120)
    first = spark.read.parquet(out).collect()
    # watermark after the 65-turn batch: 64 − 10 = 54 → only [0,30)
    # has end ≤ 54; [30,60) stays in state
    assert sum(r["turns"] for r in first) == 30
    assert max(r["window_end"].timestamp() for r in first) - epoch == 30

    t.where(off >= 65).coalesce(1).write.mode("append").parquet(inp)
    S.run_turns_per_window(spark, inp, out, ckpt).awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    # watermark 129 − 10 = 119 → [30,60) and [60,90) now emitted;
    # [90,120) (end 120 > 119) and [120,150) stay in state
    assert sum(r["turns"] for r in rows) == 90
    # exactly-once: no (window, role) appears twice across the appends
    keys = [(r["window_start"], r["role"]) for r in rows]
    assert len(keys) == len(set(keys))
    # cross-batch state: [60,90) spans the split (60..64 | 65..89)
    spanning = [r for r in rows if r["window_start"].timestamp() - epoch == 60]
    assert sum(r["turns"] for r in spanning) == 30


def test_staged_build_custom_buckets_queryable(spark, tmp_path):
    """staged_build(term_buckets=16) must carry the SAME bucket count
    into the returned handle that aggregate_postings hashed the bucket
    column with — a mismatch makes IndexReader._prune filter on wrong
    bucket ids and silently drop query terms."""
    from mircv_project_spark.sources.transcripts import load_transcripts
    from mircv_project_spark.sources.index_store import IndexReader
    from mircv_project_spark.operators.maxscore import maxscore_topk_df

    t = assign_doc_ids(filter_indexable(load_transcripts(spark, SF_SMALL)))
    idx16 = staged_build(spark, t, str(tmp_path / "b16"), parse=False, term_buckets=16)
    assert idx16.term_buckets == 16
    mem = build_index(spark, t, parse=False)
    got = sorted(
        map(tuple, maxscore_topk_df(
            IndexReader.from_memory(idx16), QUERY_SET[:4], scoring.BM25, k=10
        ).collect())
    )
    want = sorted(
        map(tuple, maxscore_topk_df(
            IndexReader.from_memory(mem), QUERY_SET[:4], scoring.BM25, k=10
        ).collect())
    )
    assert got == want and len(got) > 0


def test_staged_build_resumes(spark, tmp_path):
    from mircv_project_spark.sources.transcripts import load_transcripts

    t = assign_doc_ids(filter_indexable(load_transcripts(spark, SF_SMALL)))
    work = str(tmp_path / "stagework")

    idx1 = staged_build(spark, t, work, parse=False)
    mem = build_index(spark, t, parse=False)
    assert idx1.n_docs == mem.n_docs
    assert _topk_rows(idx1) == _topk_rows(mem)

    # resume: rerun -> all stages skipped
    idx2 = staged_build(spark, t, work, parse=False)
    assert _topk_rows(idx2) == _topk_rows(mem)
    lines = [json.loads(x) for x in open(f"{work}/lineage.jsonl")]
    tok_runs = [x for x in lines if x["stage"] == "tokenized"]
    post_runs = [x for x in lines if x["stage"] == "postings"]
    assert tok_runs[0]["skipped"] is False and tok_runs[-1]["skipped"] is True
    assert post_runs[0]["skipped"] is False and post_runs[-1]["skipped"] is True
    # partial resume: drop postings stage only -> tokenized still skipped
    import shutil

    shutil.rmtree(f"{work}/postings")
    idx3 = staged_build(spark, t, work, parse=False)
    assert _topk_rows(idx3) == _topk_rows(mem)
    lines = [json.loads(x) for x in open(f"{work}/lineage.jsonl")]
    assert [x for x in lines if x["stage"] == "tokenized"][-1]["skipped"] is True
    assert [x for x in lines if x["stage"] == "postings"][-1]["skipped"] is False


def test_stateful_sessionization(spark, tmp_path):
    """conversation_sessions (applyInPandasWithState): in-batch gap
    splits emit immediately, a session SPANNING the micro-batch
    boundary continues through the state store, and trailing sessions
    close by event-time timeout once sentinel batches advance the
    watermark."""
    from datetime import datetime, timedelta

    from mircv_project_spark.streaming import sessions as SS

    inp = str(tmp_path / "sess_in")
    out = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    schema = (
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )

    def write(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(inp)

    def turn(conv, i, sec, text):
        ts = datetime(2024, 1, 1) + timedelta(seconds=sec)
        return (conv, i, "user", text, None, ts)

    base = 1704067200  # epoch of 2024-01-01 UTC (session tz pinned UTC)
    # batch 1: conv A sessions [0..2] then (gap 8 > 5) [10, 11] open
    write(
        [turn("A", 0, 0, "aa"), turn("A", 1, 1, "bbb"), turn("A", 2, 2, "c"),
         turn("A", 3, 10, "dd"), turn("A", 4, 11, "e"),
         turn("B", 0, 4, "zz")],
        "overwrite",
    )
    SS.run_sessions(spark, inp, out, ckpt, gap_seconds=5).awaitTermination(120)
    got1 = {tuple(r) for r in spark.read.parquet(out).collect()}
    # A's FIRST session splits in-batch; B's times out in the no-data
    # batch availableNow appends once the watermark reaches 11s (B's
    # deadline is 4+5s); A's open [10, 11] session survives
    assert got1 == {
        ("A", 0, 3, base + 0, base + 2, 6),
        ("B", 0, 1, base + 4, base + 4, 2),
    }, got1

    # batch 2: sec 12 CONTINUES A's open [10, 11] session across the
    # batch boundary (gap 1 <= 5); sec 30 opens a new one
    write([turn("A", 5, 12, "ff"), turn("A", 6, 30, "g")], "append")
    SS.run_sessions(spark, inp, out, ckpt, gap_seconds=5).awaitTermination(120)

    # two sentinel batches close the trailing sessions via timeout
    for s in (100, 200):
        write([turn("zzzz-sentinel", 0, s, "flush")], "append")
        SS.run_sessions(spark, inp, out, ckpt, gap_seconds=5).awaitTermination(120)

    got = {
        tuple(r)
        for r in spark.read.parquet(out)
        .where(F.col("conv_id") != "zzzz-sentinel")
        .collect()
    }
    assert got == {
        ("A", 0, 3, base + 0, base + 2, 6),     # split in batch 1
        ("A", 1, 3, base + 10, base + 12, 5),   # spans batches 1+2
        ("A", 2, 1, base + 30, base + 30, 1),   # opened in batch 2, timed out
        ("B", 0, 1, base + 4, base + 4, 2),     # timed out
    }, got

    # conv B RESUMES after its trailing session already timed out: the
    # counter tombstone makes numbering continue at session_idx 1 (a
    # state.remove() at timeout would restart it at 0, colliding with
    # the emitted (B, 0, ...) row and diverging from the oracle's
    # full-history islands numbering)
    write([turn("B", 1, 300, "hh")], "append")
    SS.run_sessions(spark, inp, out, ckpt, gap_seconds=5).awaitTermination(120)
    for s in (400, 500):
        write([turn("zzzz-sentinel", 0, s, "flush")], "append")
        SS.run_sessions(spark, inp, out, ckpt, gap_seconds=5).awaitTermination(120)
    got_resumed = {
        tuple(r)
        for r in spark.read.parquet(out)
        .where(F.col("conv_id") != "zzzz-sentinel")
        .collect()
    }
    assert got_resumed == got | {("B", 1, 1, base + 300, base + 300, 2)}, got_resumed


def test_streaming_dedup_cross_batch(spark, tmp_path):
    """streaming_exact_dedup: within a batch only the minimum key of a
    fingerprint group is kept; the seen-set state crosses the
    micro-batch boundary (a batch-2 re-occurrence is flagged dup even
    though it is batch 2's first sighting); unique texts never flag;
    every input turn emits exactly once."""
    from datetime import datetime, timedelta

    from mircv_project_spark.streaming.dedup_stream import run_streaming_dedup

    inp = str(tmp_path / "sd_in")
    out = str(tmp_path / "sd_out")
    ckpt = str(tmp_path / "sd_ckpt")
    schema = (
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )

    def write(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(inp)

    def turn(conv, i, text):
        ts = datetime(2024, 1, 1) + timedelta(seconds=i)
        return (conv, i, "user", text, None, ts)

    # batch 1: "same text" twice (keys A0 < A1), one unique
    write(
        [turn("A", 0, "same text"), turn("A", 1, "Same  TEXT!"),
         turn("A", 2, "something unique")],
        "overwrite",
    )
    run_streaming_dedup(spark, inp, out, ckpt).awaitTermination(120)
    got1 = {(r.conv_id, r.turn_idx): r.is_dup for r in spark.read.parquet(out).collect()}
    # normalization makes "Same  TEXT!" an exact dup of "same text"
    assert got1 == {("A", 0): False, ("A", 1): True, ("A", 2): False}, got1

    # batch 2: re-occurrence of batch 1's text -> dup via STATE; new text kept
    write([turn("B", 0, "same text"), turn("B", 1, "fresh words")], "append")
    run_streaming_dedup(spark, inp, out, ckpt).awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    got = {(r.conv_id, r.turn_idx): r.is_dup for r in rows}
    assert got == {
        ("A", 0): False, ("A", 1): True, ("A", 2): False,
        ("B", 0): True, ("B", 1): False,
    }, got
    assert len(rows) == 5  # exactly-once emission per input turn
    fps = {(r.conv_id, r.turn_idx): r.fp for r in rows}
    assert fps[("A", 0)] == fps[("A", 1)] == fps[("B", 0)]
    assert len({fps[("A", 0)], fps[("A", 2)], fps[("B", 1)]}) == 3


def test_streaming_funnel_state_crosses_batches(spark, tmp_path):
    """The per-user chain state must survive the micro-batch boundary:
    view in batch 1, click+purchase in batch 2; a second user completes
    entirely in batch 1; a third has clicks but no view (no output)."""
    import pyspark.sql.functions as F

    from mircv_project_spark.streaming.funnel import run_streaming_funnel

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    from datetime import datetime, timezone

    def t(sec):
        return datetime.fromtimestamp(1704067200 + sec, tz=timezone.utc)

    b1 = [
        (0, t(0), 1, "view", 1.0, "{}"),
        (1, t(5), 2, "view", 1.0, "{}"),
        (2, t(6), 2, "click", 1.0, "{}"),
        (3, t(7), 2, "purchase", 1.0, "{}"),
        (4, t(8), 3, "click", 1.0, "{}"),
    ]
    b2 = [
        (5, t(100), 1, "click", 1.0, "{}"),
        (6, t(200), 1, "purchase", 1.0, "{}"),
        (7, t(300), 3, "click", 1.0, "{}"),
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(inp)
    run_streaming_funnel(spark, inp, out, ckpt).awaitTermination(300)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(inp)
    run_streaming_funnel(spark, inp, out, ckpt).awaitTermination(300)
    for i, flush in enumerate(("2030-01-01 00:00:00", "2030-01-01 00:00:10")):
        sent = spark.createDataFrame(
            [(-1, datetime.fromisoformat(flush + "+00:00"), -1, "flush", 0.0, "{}")],
            schema,
        )
        sent.coalesce(1).write.mode("append").parquet(inp)
        run_streaming_funnel(spark, inp, out, ckpt).awaitTermination(300)
    got = {
        r["user_id"]: r
        for r in spark.read.parquet(out).where(F.col("user_id") >= 0).collect()
    }
    us = 1_000_000
    base = 1704067200
    assert set(got) == {1, 2}          # user 3 never had a view
    assert got[1]["t_view"] == base * us
    assert got[1]["t_click"] == (base + 100) * us
    assert got[1]["t_purchase"] == (base + 200) * us
    assert got[1]["converted"] is True
    assert got[2]["converted"] is True


def test_streaming_funnel_matches_batch_operator(spark, tmp_path):
    """Full-corpus convergence at sf0.001: the streaming funnel's final
    rows equal operators/events.event_funnel exactly (the property the
    shared SQL oracle gates at sf0.01)."""
    import pyspark.sql.functions as F

    from mircv_project_spark.operators.events import event_funnel
    from mircv_project_spark.streaming.funnel import run_streaming_funnel
    from tests.conftest import SF_SMALL

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    split = "2024-01-15 00:00:00"
    ev.where(F.col("ts") < split).select(cols).coalesce(1).write.mode(
        "overwrite"
    ).parquet(inp)
    run_streaming_funnel(spark, inp, out, ckpt).awaitTermination(300)
    ev.where(F.col("ts") >= split).select(cols).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    run_streaming_funnel(spark, inp, out, ckpt).awaitTermination(300)
    from datetime import datetime

    for flush in ("2030-01-01 00:00:00", "2030-01-01 00:00:10"):
        sent = spark.createDataFrame(
            [(-1, datetime.fromisoformat(flush + "+00:00"), -1, "flush", 0.0, "{}")],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        sent.coalesce(1).write.mode("append").parquet(inp)
        run_streaming_funnel(spark, inp, out, ckpt).awaitTermination(300)
    stream_rows = {
        tuple(r)
        for r in spark.read.parquet(out).where(F.col("user_id") >= 0).collect()
    }
    batch_rows = {tuple(r) for r in event_funnel(ev).collect()}
    assert stream_rows == batch_rows


def test_streaming_range_join_pairs_cross_batches(spark, tmp_path):
    """Stream-stream interval join: a click in batch 1 must pair with a
    purchase arriving in batch 2 (right state crosses the epoch
    boundary), in-batch pairs emit immediately, out-of-horizon and
    wrong-order pairs never emit, and nothing emits twice."""
    import pyspark.sql.functions as F

    from mircv_project_spark.streaming.range_join import (
        run_streaming_range_join,
    )

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    from datetime import datetime, timezone

    base = 1704067200

    def t(sec):
        return datetime.fromtimestamp(base + sec, tz=timezone.utc)

    b1 = [
        (0, t(0), 1, "click", 1.0, "{}"),
        (1, t(10), 1, "purchase", 1.0, "{}"),   # pairs with 0 in-batch
        (2, t(20), 2, "click", 1.0, "{}"),
        (3, t(30), 3, "purchase", 1.0, "{}"),   # no click for user 3
    ]
    b2 = [
        (4, t(3000), 2, "purchase", 1.0, "{}"),  # pairs with 2 cross-batch
        (5, t(9000), 1, "purchase", 1.0, "{}"),  # click 0 out of horizon
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(inp)
    run_streaming_range_join(spark, inp, out, ckpt).awaitTermination(300)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(inp)
    run_streaming_range_join(spark, inp, out, ckpt).awaitTermination(300)
    rows = spark.read.parquet(out).collect()
    got = {(r.event_id, r.right_eid): r for r in rows}
    assert len(rows) == len(got) == 2  # exactly-once, no dup emission
    us = 1_000_000
    assert got[(1, 0)].lag_us == 10 * us
    assert got[(4, 2)].lag_us == 2980 * us
    assert got[(4, 2)].user_id == 2


def test_asof_last_epoch_equals_full_lexicon(spark, tmp_path):
    """asof_lexicon at the newest epoch must equal the compacted
    index's lexicon exactly (same derivation, full prefix)."""
    from pyspark.sql import functions as F

    from mircv_project_spark.operators.index_build import filter_indexable
    from mircv_project_spark.sources.transcripts import load_transcripts
    from mircv_project_spark.streaming import incremental as S

    base = str(tmp_path)
    inp, delta, ckpt = f"{base}/in", f"{base}/delta", f"{base}/ckpt"
    t = filter_indexable(load_transcripts(spark, "/root/testdata/sf0.001"))
    split = "conv-000000000032"
    t.where(F.col("conv_id") < split).coalesce(1).write.mode("overwrite").parquet(inp)
    S.index_delta_query(spark, inp, delta, ckpt, parse=False).awaitTermination(300)
    t.where(F.col("conv_id") >= split).coalesce(1).write.mode("append").parquet(inp)
    S.index_delta_query(spark, inp, delta, ckpt, parse=False).awaitTermination(300)

    last = (
        spark.read.parquet(f"{delta}/flat")
        .agg(F.max("batch"))
        .collect()[0][0]
    )
    asof = {
        r["term"]: (r["df"], r["cf"], r["idf"], r["bm25_ub"], r["tfidf_ub"])
        for r in S.asof_lexicon(spark, delta, epoch=int(last)).collect()
    }
    idx = S.compact_index(spark, delta, parse=False)
    full = {
        r["term"]: (
            r["df"], r["cf"], round(r["idf"], 6),
            round(r["bm25_ub"], 6), round(r["tfidf_ub"], 6),
        )
        for r in idx.lexicon.collect()
    }
    assert asof == full


def test_nrt_view_serves_uncompacted_epochs_exactly(spark, tmp_path):
    """Lucene-NRT pattern: commit a compaction over epoch 0 only, then
    query committed generations + the un-compacted epoch through
    nrt_index — ranking must equal the batch build over the FULL
    corpus, and the read must not advance the committed state."""
    inp = str(tmp_path / "in")
    delta = str(tmp_path / "delta")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "nrtstate")

    all_t = generate_transcripts(spark, 400, seed=23).orderBy(
        "conv_id", "turn_idx"
    )
    part1 = all_t.where(F.col("conv_id") < "conv-000000000025")
    part2 = all_t.where(F.col("conv_id") >= "conv-000000000025")
    part1.coalesce(1).write.mode("overwrite").parquet(inp)
    S.index_delta_query(spark, inp, delta, ckpt, parse=False).awaitTermination(120)
    part2.coalesce(1).write.mode("append").parquet(inp)
    S.index_delta_query(spark, inp, delta, ckpt, parse=False).awaitTermination(120)

    # commit epoch 0 only into a private state dir
    S.compact_index(spark, delta, parse=False, state_dir=state, upto_batch=0)
    meta_before = S._read_meta(spark, state)
    assert meta_before["watermark"] == 0

    nrt = S.nrt_index(spark, delta, parse=False, state_dir=state)
    batch = build_index(
        spark, assign_doc_ids(filter_indexable(all_t)), parse=False
    )
    assert nrt.n_docs == batch.n_docs
    assert nrt.sum_doc_len == batch.sum_doc_len

    # rank identity THROUGH the block store (postings, not flat)
    from mircv_project_spark.sources.index_store import IndexReader

    got = sorted(
        tuple(r)
        for r in topk.topk_from_blocks(
            IndexReader.from_memory(nrt), QUERY_SET[:4], scoring.BM25, k=10
        ).collect()
    )
    assert got == _topk_rows(batch)

    # read-only: the committed state did not advance
    assert S._read_meta(spark, state) == meta_before

    # nothing committed at all -> the whole corpus is "fresh"
    nrt_cold = S.nrt_index(
        spark, delta, parse=False, state_dir=str(tmp_path / "nostate")
    )
    got_cold = sorted(
        tuple(r)
        for r in topk.topk_from_blocks(
            IndexReader.from_memory(nrt_cold), QUERY_SET[:4], scoring.BM25, k=10
        ).collect()
    )
    assert got_cold == _topk_rows(batch)


def test_lexicon_diff_statuses(spark, tmp_path):
    inp = str(tmp_path / "in")
    delta = str(tmp_path / "delta")
    ckpt = str(tmp_path / "ckpt")
    all_t = generate_transcripts(spark, 300, seed=31).orderBy(
        "conv_id", "turn_idx"
    )
    p1 = all_t.where(F.col("conv_id") < "conv-000000000020")
    p2 = all_t.where(F.col("conv_id") >= "conv-000000000020")
    p1.coalesce(1).write.mode("overwrite").parquet(inp)
    S.index_delta_query(spark, inp, delta, ckpt, parse=False).awaitTermination(120)
    p2.coalesce(1).write.mode("append").parquet(inp)
    S.index_delta_query(spark, inp, delta, ckpt, parse=False).awaitTermination(120)

    rows = S.lexicon_diff(spark, delta, 0, 1).collect()
    assert rows
    asof0 = {
        r["term"]: (r["df"], r["cf"])
        for r in S.asof_lexicon(spark, delta, 0).collect()
    }
    full = {
        r["term"]: (r["df"], r["cf"])
        for r in S.asof_lexicon(spark, delta, 1).collect()
    }
    assert len(rows) == len(full)
    for r in rows:
        t = r["term"]
        assert (r["df_b"], r["cf_b"]) == full[t]
        assert (r["df_a"], r["cf_a"]) == asof0.get(t, (0, 0))
        if r["df_a"] == 0:
            assert r["status"] == "new"
        elif r["cf_b"] > r["cf_a"]:
            assert r["status"] == "grown"
        else:
            assert r["status"] == "stable"
            assert (r["df_a"], r["cf_a"]) == (r["df_b"], r["cf_b"])
    # epochs identical -> everything 'stable'
    same = S.lexicon_diff(spark, delta, 1, 1)
    assert same.where(F.col("status") != "stable").count() == 0


def test_streaming_neardup_cross_epoch_and_replay(spark, tmp_path):
    """A near-dup pair split ACROSS epochs is found when the later
    member arrives; replaying the last batch verbatim changes nothing
    (epoch-dir overwrite idempotence); results equal the batch
    operator on the full corpus."""
    from mircv_project_spark.operators.dedup import minhash_lsh_pairs
    from mircv_project_spark.streaming.neardup_stream import (
        all_neardup_pairs,
        run_streaming_neardup,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows1 = [
        (0, base, "en", "s", 0),
        (1, "totally different words entirely here now", "en", "s", 0),
    ]
    rows2 = [
        (2, base + " extra", "en", "s", 0),   # near-dup of 0, later epoch
        (3, "another unrelated document text", "en", "s", 0),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    inp, store, out, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "store"),
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(inp)
    run_streaming_neardup(spark, inp, store, out, ckpt, threshold=0.5
                          ).awaitTermination(120)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    run_streaming_neardup(spark, inp, store, out, ckpt, threshold=0.5
                          ).awaitTermination(120)

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in all_neardup_pairs(spark, out).collect()
    }
    batch = spark.createDataFrame(rows1 + rows2, schema)
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(batch, 0.5).collect()
    }
    assert got == want
    assert (0, 2) in got  # the cross-epoch pair

    # duplicate re-ingestion: the same documents arrive AGAIN as new
    # files (a feed replay / backfill overlap).  The store dedups on
    # (id, value), so jaccards stay exact, re-emitted rows are
    # byte-identical, and the distinct union is unchanged — row for
    # row, not just per-key.
    before = sorted(got.items())
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    run_streaming_neardup(spark, inp, store, out, ckpt, threshold=0.5
                          ).awaitTermination(120)
    after_rows = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in all_neardup_pairs(spark, out).collect()
    )
    assert after_rows == sorted(
        (a, b, j) for (a, b), j in before
    )
