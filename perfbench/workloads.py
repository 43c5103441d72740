"""The benchmark's two workloads, ``serve`` and ``nrt``.

``serve`` builds an index of SERVE_TURNS generated turns, writes it to
disk and opens it with ``IndexReader.from_dir``; one client then sends
single queries through ``serve_topk``, rotating the four driver-side
traversal families.  The driver term cache holds the whole vocabulary,
so traversal and the per-request Spark round trips do the work.

``nrt`` ingests a base corpus through the streaming path and compacts
it; each cycle then appends NRT_CYCLE_TURNS fresh turns as one parquet
file, drains one ``availableNow`` micro-batch, opens a cold
``nrt_index`` view and serves a query batch that must find the cycle's
marker term.  Every COMPACT_EVERY cycles ``compact_index`` runs.
Streaming, fresh aggregation and encode do the work; traversal is small.

Both run one client in a closed loop (the next request is sent when the
previous one has returned).  Each warms up until its per-request times
have settled, then times at least ``--seconds`` and a minimum number of
requests (cycles), closing the window on a whole period of the request
mix (a compaction).  Correctness checks run outside the timed window;
an operation that raises or returns a wrong answer counts as failed.

Sizes keep one run near a minute on a 4-core host, where Spark's fixed
cost is ~0.1-0.5 s a job and a cold session pays ~30 s before its
first warm build, so that many seeded runs of both workloads fit in an
hour.  There is no separate bulk-``build`` workload: the build layers
(transcripts, tokenizer, aggregation, encode, write) run in ``serve``'s
set-up and in every ``nrt`` cycle, where the traced run times them.
For the same reason the distributed pruned path (~10 s a batch) runs
only in traced ``serve`` runs.
"""

from __future__ import annotations

import functools
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

# ---------------------------------------------------------------- inputs


@functools.cache
def vocab() -> list[str]:
    """The engine's synthetic generator vocabulary (its default): a
    60-word head and 24 suffixed variants of each; a few are stopwords,
    which the parse pipeline drops from documents and queries."""
    from mircv_project_spark.sources.transcripts import _DEFAULT_VOCAB

    return _DEFAULT_VOCAB


# same power law as generate_transcripts' default (u ** alpha * |V|)
ZIPF_ALPHA = 1.6
# query terms that no document contains
ABSENT = [f"qqabsent{i}x" for i in range(8)]
ABSENT_SHARE = 0.05

K = 10
FAMILIES = ("maxscore", "wand", "bmw", "taat")


def zipf_word(rng: random.Random) -> str:
    words = vocab()
    return words[int(rng.random() ** ZIPF_ALPHA * len(words)) % len(words)]


def query_text(rng: random.Random, n_terms: int | None = None) -> str:
    """1-5 (or ``n_terms``) Zipf-drawn terms, each absent with ABSENT_SHARE."""
    return " ".join(
        rng.choice(ABSENT) if rng.random() < ABSENT_SHARE else zipf_word(rng)
        for _ in range(n_terms or rng.randint(1, 5))
    )


def corpus(spark, n_turns: int, seed: int):
    from mircv_project_spark.sources.transcripts import generate_transcripts

    return generate_transcripts(spark, n_turns, seed=seed)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


# ---------------------------------------------------------------- results


_FAIL_LOCK = threading.Lock()


@dataclass
class Result:
    setup_end: float = 0.0  # time.monotonic() when set-up finished
    attempted: int = 0
    failed: int = 0
    latencies_s: list = field(default_factory=list)  # per timed request
    window_s: float = 0.0
    items: int = 0  # queries answered (serve) / turns ingested (nrt)
    bytes_per_posting: float = 0.0
    extra: dict = field(default_factory=dict)  # report-only figures
    reader: object = None  # () -> IndexReader over the workload's index
    errors: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        with _FAIL_LOCK:  # serve's warm-up clients run side by side
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(what)


def _rows(rows) -> list[tuple]:
    """Result rows as sorted (qid, rank, docno, score) tuples."""
    return sorted((r["qid"], int(r["rank"]), r["docno"], float(r["score"])) for r in rows)


def _same_ranking(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        g[:3] == w[:3] and abs(g[3] - w[3]) <= 1e-6 for g, w in zip(got, want)
    )


# ------------------------------------------------------------------ serve

SERVE_TURNS = 10_000
# Interactive requests until the per-request p50 has settled: over 60-
# request windows of one process it fell from ~100 ms to a steady
# ~78 ms after ~120 requests (JIT of the route-estimate and projection
# paths).  WARM_CLIENTS send them side by side to settle sooner; the
# first timed requests then read the same p50 as the last.
SERVE_WARM_REQUESTS = 150
WARM_CLIENTS = 3
# The timed window runs for at least --seconds and MIN_TIMED_REQUESTS,
# and closes on a boundary of the fixed request mix, so every run times
# whole periods of it whatever its speed.
MIX_PERIOD = 20
MIN_TIMED_REQUESTS = 3 * MIX_PERIOD
# Slots of the mix that are conjunctive: 1 in 5, each with 2-5 terms,
# one per traversal family, two of them TFIDF.
CONJ_SLOTS = frozenset({3, 9, 14, 16})
PRUNED_QUERIES = 16
CHECK_EVERY = 7  # every 7th interactive result is checked (7 is coprime to the mix)


def mix(i: int) -> tuple[int, str, str, bool]:
    """Request ``i``'s slot of the fixed mix -> (terms, family, standard,
    conjunctive).  Over one period every (family, term count) pair
    occurs once, one request in 5 is conjunctive and 7 in 20 use TFIDF;
    seeds vary only the query terms."""
    from mircv_project_spark.operators import scoring

    slot = i % MIX_PERIOD
    std = scoring.TFIDF if slot % 3 == 0 else scoring.BM25
    return 1 + slot % 5, FAMILIES[slot % len(FAMILIES)], std, slot in CONJ_SLOTS


def run_serve(spark, ctx) -> Result:
    from mircv_project_spark.functions import tokenizer
    from mircv_project_spark.operators import index_build, maxscore, scoring, topk
    from mircv_project_spark.sources import index_store, transcripts

    res = Result()
    store = os.path.join(ctx.workdir, "store")
    with ctx.span("setup.build"):
        docs = index_build.filter_indexable(corpus(spark, SERVE_TURNS, ctx.seed))
        t0 = time.monotonic()
        idx = index_build.build_index(
            spark, transcripts.assign_doc_ids(docs, assume_sorted=True), parse=True
        )
        index_build.write_index(idx, store)
        res.extra["build_turns_per_s"] = idx.n_docs / (time.monotonic() - t0)
        # build checks: every (term, doc) pair is one posting, every
        # indexable turn one document
        n_pairs = idx.flat.count()
        n_turns = docs.count()
        spark.catalog.clearCache()
    ctx.log("serve: index built and written")
    reader = index_store.IndexReader.from_dir(spark, store)
    df_sum = reader.lexicon.agg({"df": "sum"}).collect()[0][0]
    res.attempted += 1
    if df_sum != n_pairs or reader.n_docs != n_turns:
        res.fail(f"build: sum(df)={df_sum} postings={n_pairs} "
                 f"n_docs={reader.n_docs} turns={n_turns}")
    res.bytes_per_posting = sum(
        dir_bytes(os.path.join(store, t)) for t in ("postings", "lexicon", "doc_index")
    ) / n_pairs

    checks: dict[tuple, list] = {}  # (standard, conj) -> [(queries, rows)]

    def serve(q, std, conj, **kw) -> list | None:
        """One request -> its sorted result tuples, or None if it failed."""
        try:
            return _rows(ctx.collect(maxscore.serve_topk(reader, q, std, K, conj, **kw)))
        except Exception as e:  # a failed request must not end the run
            res.fail(f"{q[0][0]}: {e!r}"[:300])
            return None

    def interactive(i: int, rng: random.Random):
        n_terms, family, std, conj = mix(i)
        q = [(f"i{i}", query_text(rng, n_terms))]
        return q, std, conj, serve(q, std, conj, family=family)

    # warm-up: the driver term cache takes the whole vocabulary, then
    # interactive requests until the p50 has settled.  Blocks decode on
    # first use; a term the warm-up missed is a rare one, with a block
    # or two that decode in ~0.2 ms each.
    reader.fetch(sorted({t for w in vocab() for t in tokenizer.tokenize(w, True)}))
    ctx.log("serve: term cache filled")

    def warm(i: int) -> None:
        interactive(i, random.Random((ctx.seed * 7919 + 1) * 100_003 + i))

    # one client under the tracer, whose span stack takes one thread
    with ThreadPoolExecutor(1 if ctx.tracer is not None else WARM_CLIENTS) as pool:
        list(pool.map(warm, range(SERVE_WARM_REQUESTS)))
    res.attempted += SERVE_WARM_REQUESTS
    res.setup_end = time.monotonic()
    ctx.log("serve: warm-up done")

    rng = random.Random(ctx.seed)
    t_start = time.monotonic()
    i = 0
    while (
        time.monotonic() - t_start < ctx.seconds
        or i < MIN_TIMED_REQUESTS
        or i % MIX_PERIOD
    ):
        ctx.begin_request(i)
        res.attempted += 1
        t = time.monotonic()
        q, std, conj, got = interactive(i, rng)
        res.latencies_s.append(time.monotonic() - t)
        ctx.end_request()
        if got is not None:
            res.items += 1
            if i % CHECK_EVERY == 0:
                checks.setdefault((std, conj), []).append((q, got))
        i += 1
    res.window_s = time.monotonic() - t_start
    ctx.log(f"serve: window closed after {i} requests")

    if ctx.tracer is not None:
        # The traced run also sends one 16-query batch down the
        # distributed pruned route (driver_bytes_budget=0), the route a
        # deployment takes once its posting lists outgrow the driver.
        # At ~10 s a batch it does not fit the timed runs' budget.
        batch_rng = random.Random(ctx.seed * 7919 + 2)
        batch = [(f"p{j}", query_text(batch_rng)) for j in range(PRUNED_QUERIES)]
        res.attempted += 1
        t = time.monotonic()
        got = serve(batch, scoring.BM25, False, driver_bytes_budget=0)
        res.extra["pruned_batch_s"] = time.monotonic() - t
        if got is not None:
            checks.setdefault((scoring.BM25, False), []).append((batch, got))

    # rank identity against the exhaustive scorer, one call per
    # (standard, conjunctive) group over the checked queries, side by
    # side except under the tracer
    def exhaustive(group):
        (std, conj), items = group
        queries = [qq for q, _ in items for qq in q]
        terms = sorted({t for _, text in queries for t in tokenizer.tokenize(text, True)})
        return _rows(
            topk.exhaustive_topk(reader.as_index_view(terms), queries, std, K, conj).collect()
        )

    with ThreadPoolExecutor(1 if ctx.tracer is not None else len(checks)) as pool:
        wanted = list(pool.map(exhaustive, checks.items()))
    for ((std, conj), items), want_all in zip(checks.items(), wanted):
        by_qid: dict[str, list] = {}
        for r in want_all:
            by_qid.setdefault(r[0], []).append(r)
        for q, got in items:
            want = sorted(r for qid, _ in q for r in by_qid.get(qid, []))
            if not _same_ranking(got, want):
                res.fail(f"rank mismatch {q[0][0]} std={std} conj={conj}")
    ctx.log("serve: results checked")
    res.extra["checked_requests"] = sum(len(v) for v in checks.values())
    res.reader = lambda: reader
    return res


# -------------------------------------------------------------------- nrt

NRT_BASE_TURNS = 5_000
NRT_CYCLE_TURNS = 500
NRT_MARKED = 5  # turns per cycle carrying the cycle's marker term
NRT_QUERIES = 10
NRT_WARM_CYCLES = 1
COMPACT_EVERY = 2
# The timed window runs for at least --seconds and NRT_MIN_CYCLES
# cycles, and closes on a compaction, so its median freshness is never
# one cycle's and its ingest rate spans more than one compaction.
NRT_MIN_CYCLES = 2 * COMPACT_EVERY
_CONV_BASE = 10**11  # fresh conversations sort after every base one


def _cycle_table(seed: int, cycle: int, marker: str):
    """One appended file: NRT_CYCLE_TURNS fresh turns, the first
    NRT_MARKED of them carrying ``marker``."""
    import pyarrow as pa

    rng = random.Random(seed * 1_000_003 + cycle)
    first = _CONV_BASE * 8 + cycle * NRT_CYCLE_TURNS
    texts = [
        " ".join(zipf_word(rng) for _ in range(rng.randint(20, 60)))
        for _ in range(NRT_CYCLE_TURNS)
    ]
    for j in range(NRT_MARKED):
        texts[j] = f"{texts[j]} {marker}"
    ids = range(first, first + NRT_CYCLE_TURNS)
    roles = ["user", "assistant", "system", "tool"]
    return pa.table(
        {
            "conv_id": pa.array([f"conv-{d // 8:012d}" for d in ids], pa.string()),
            "turn_idx": pa.array([d % 8 for d in ids], pa.int32()),
            "role": pa.array([roles[d % 4] for d in ids], pa.string()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.array([None] * NRT_CYCLE_TURNS, pa.string()),
            "ts": pa.array(
                [1_704_067_200_000_000 + d * 1_000_000 for d in ids],
                pa.timestamp("us", tz="UTC"),
            ),
        }
    )


def run_nrt(spark, ctx) -> Result:
    import pyarrow.parquet as pq

    from mircv_project_spark.operators import index_build, maxscore, scoring
    from mircv_project_spark.sources import index_store
    from mircv_project_spark.streaming import incremental

    res = Result()
    base = os.path.join(ctx.workdir, "nrt")
    inp, delta, ckpt = (os.path.join(base, d) for d in ("in", "delta", "ckpt"))
    staging = os.path.join(base, "staging")
    os.makedirs(staging)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ingested = 0  # indexable turns appended so far

    def drain(what: str) -> bool:
        with ctx.span("streaming.incremental.index_delta_query") as sp:
            q = incremental.index_delta_query(spark, inp, delta, ckpt, parse=True)
            ctx.alias_stream(q, sp)
            ok = q.awaitTermination(120)
        if not ok or q.exception() is not None:
            res.fail(f"{what}: stream did not finish ({q.exception()!r})")
            q.stop()
            return False
        return True

    def compact() -> None:
        res.attempted += 1
        try:
            idx = incremental.compact_index(spark, delta, parse=True)
        except Exception as e:  # a failed compaction must not end the run
            res.fail(f"compact: {e!r}"[:300])
            return
        if idx.n_docs != ingested:
            res.fail(f"compact: n_docs={idx.n_docs} want {ingested}")

    def cycle(c: int, rng: random.Random) -> float:
        nonlocal ingested
        marker = f"zqmark{ctx.seed}x{c}"
        table = _cycle_table(ctx.seed, c, marker)
        queries = [("m", marker)] + [
            (f"q{j}", query_text(rng)) for j in range(NRT_QUERIES - 1)
        ]
        res.attempted += 1
        t0 = time.monotonic()
        try:
            tmp = os.path.join(staging, f"c{c}.parquet")
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(inp, f"c{c}.parquet"))
            if not drain(f"cycle {c}"):
                return time.monotonic() - t0
            ingested += NRT_CYCLE_TURNS
            view = incremental.nrt_index(spark, delta, parse=True)
            reader = index_store.IndexReader.from_memory(view)
            rows = ctx.collect(
                maxscore.maxscore_topk_df(reader, queries, scoring.BM25, K)
            )
        except Exception as e:  # a failed cycle must not end the run
            res.fail(f"cycle {c}: {e!r}"[:300])
            return time.monotonic() - t0
        dt = time.monotonic() - t0
        hits = sum(1 for r in rows if r["qid"] == "m")
        if hits != NRT_MARKED or view.n_docs != ingested:
            res.fail(f"cycle {c}: marker hits {hits}/{NRT_MARKED}, "
                     f"n_docs {view.n_docs} want {ingested}")
        return dt

    # set-up: the committed base index, then warm-up cycles
    with ctx.span("setup.base"):
        base_df = corpus(spark, NRT_BASE_TURNS, ctx.seed)
        base_df.select(cols).coalesce(1).write.parquet(inp)
        ingested = index_build.filter_indexable(base_df).count()
    ctx.log("nrt: base corpus written")
    res.attempted += 1
    if drain("base"):
        compact()
    ctx.log("nrt: base ingested and compacted")
    rng = random.Random(ctx.seed)
    c = 0
    for _ in range(NRT_WARM_CYCLES):
        cycle(c, rng)
        c += 1
    res.setup_end = time.monotonic()
    ctx.log("nrt: warm-up done")

    t_start = time.monotonic()
    fresh = 0
    while True:
        ctx.begin_request(c)
        res.latencies_s.append(cycle(c, rng))
        ctx.end_request()
        fresh += NRT_CYCLE_TURNS
        c += 1
        if (c - NRT_WARM_CYCLES) % COMPACT_EVERY == 0:
            compact()
            if (
                time.monotonic() - t_start >= ctx.seconds
                and c - NRT_WARM_CYCLES >= NRT_MIN_CYCLES
            ):
                break
    res.window_s = time.monotonic() - t_start
    res.items = fresh
    ctx.log(f"nrt: window closed after {c - NRT_WARM_CYCLES} cycles")

    runs = os.path.join(delta, "compacted", "runs")
    n_postings = spark.read.parquet(runs).agg({"run_df": "sum"}).collect()[0][0]
    res.bytes_per_posting = (
        dir_bytes(runs) + dir_bytes(os.path.join(delta, "doc_index"))
    ) / n_postings
    res.reader = lambda: index_store.IndexReader.from_memory(
        incremental.compact_index(spark, delta, parse=True)
    )
    return res
