#!/usr/bin/env python3
"""Benchmark command for the inverted-index engine.

    python3 perfbench/run.py --workload serve|nrt --seed N --seconds S --trace 0|1

Run from the root of a source checkout: the engine is imported from it,
and scratch files go under ``.perfbench/`` there.  Each run starts one
``local[<cores>]`` session, builds its inputs from ``--seed``, warms up
(counted in ``setup_s``), runs one closed-loop client for at least
``--seconds`` and a minimum number of requests (``serve`` closes its
window on a whole period of its request mix, ``nrt`` on a compaction),
checks the answers outside the window, and stops Spark and its workers.

End-to-end metrics (``--trace 0``; no wrappers, job groups or event log):

- ``setup_s``: process start to the end of the warm-up;
- ``p50_ms``: median request latency -- one interactive query
  (``serve``), or append -> drain -> view -> results holding the fresh
  marker (``nrt``, its freshness);
- ``rate_per_s``: queries answered per second (``serve``), fresh turns
  ingested per second with compaction included (``nrt``);
- ``bytes_per_posting``: on-disk index bytes per posting.

With ``--trace 1`` the result line carries the per-layer metrics instead:
spans around the engine's public functions (``tracing.py``), the Spark
jobs each launched and their CPU, shuffle and spill from an uncompressed
event log, cache residue, and driver-side probes of the tokenizer and of
the six posting codecs (``probes.py``).  Span dumps stay in
``.perfbench/traces/``.  The line before the result is a report naming
each figure with its unit, peak RSS and the error rate among them.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

_T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import probes  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from tracing import EventLog, Tracer  # noqa: E402

CORES = len(os.sched_getaffinity(0))
# Bounded heap for a 16 GB, 4-core host; the engine's default is 32g.
DRIVER_MEM = "3g"

WORKLOADS = {"serve": workloads.run_serve, "nrt": workloads.run_nrt}

# (span name, metric suffixes) reported by the traced run
SPAN_METRICS = [
    ("session.get_spark", ["s"]),
    ("sources.transcripts.assign_doc_ids", ["s", "jobs"]),
    ("functions.tokenizer.tokenize", ["calls", "s"]),
    ("operators.index_build.build_index",
     ["s", "self_s", "jobs", "exec_cpu_s", "shuffle_write_mb", "spill_mb"]),
    ("operators.index_build.aggregate_postings", ["s", "jobs"]),
    ("operators.index_build.write_index", ["s", "jobs", "shuffle_write_mb"]),
    ("functions.codecs.decode_block", ["calls", "s"]),
    ("sources.index_store.IndexReader.from_dir", ["s"]),
    ("sources.index_store.IndexReader.fetch", ["calls", "s", "jobs", "job_ratio"]),
    ("operators.maxscore.serve_topk", ["calls", "s", "self_s", "jobs"]),
    ("operators.maxscore.maxscore_topk_df", ["s", "self_s", "jobs"]),
    ("operators.maxscore.maxscore_topk", ["calls", "s"]),
    ("operators.wand.wand_topk", ["calls", "s"]),
    ("operators.bmw.bmw_topk", ["calls", "s"]),
    ("operators.taat.taat_topk", ["calls", "s"]),
    ("operators.topk.topk_from_blocks_pruned",
     ["calls", "s", "jobs", "exec_cpu_s", "shuffle_write_mb", "cached_rdds_delta"]),
    ("streaming.incremental.index_delta_query", ["s", "jobs"]),
    ("streaming.incremental.nrt_index", ["s", "jobs", "cached_rdds_delta"]),
    ("streaming.incremental.compact_index", ["s", "jobs", "shuffle_write_mb"]),
]
UNITS = {
    "calls": "count", "s": "s", "self_s": "s", "jobs": "count",
    "exec_cpu_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "cached_rdds_delta": "count", "job_ratio": "ratio",
    "turns_per_s": "1/s", "encode_mpostings_per_s": "Mpostings/s",
    "decode_mpostings_per_s": "Mpostings/s", "bytes_per_posting": "B",
    "request_p50_ms": "ms", "persistent_rdds_end": "count",
}


def per_layer_names() -> list[str]:
    names = [f"{span}.{m}" for span, ms in SPAN_METRICS for m in ms]
    names.append("functions.tokenizer.doc_terms_series.turns_per_s")
    names += [
        f"functions.codecs.{c}.{m}"
        for c in probes.CODECS
        for m in ("encode_mpostings_per_s", "decode_mpostings_per_s", "bytes_per_posting")
    ]
    names += ["trace.request_p50_ms", "cache.persistent_rdds_end"]
    return names


def unit_of(name: str) -> str:
    return UNITS[name.rsplit(".", 1)[1]]


def _process_age_s() -> float:
    """Seconds since this process started (kernel clock ticks)."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_AGE_AT_T0 = _process_age_s()


class Context:
    """What a workload needs from the harness: its scratch dir, seed,
    window length, and the (possibly absent) tracer."""

    def __init__(self, workdir: str, seed: int, seconds: int, tracer: Tracer | None):
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer

    def span(self, name: str):
        if self.tracer is None:
            from contextlib import nullcontext

            return nullcontext()
        return self.tracer.span(name)

    def log(self, msg: str) -> None:
        """Progress on stderr, stamped with seconds since start."""
        print(f"[perfbench {time.monotonic() - _T0 + _AGE_AT_T0:7.2f}s] {msg}",
              file=sys.stderr, flush=True)

    def collect(self, df) -> list:
        return df.collect() if self.tracer is None else self.tracer.collect(df)

    def begin_request(self, i: int) -> None:
        if self.tracer is not None:
            self.tracer.request = i

    def end_request(self) -> None:
        if self.tracer is not None:
            self.tracer.request = None

    def alias_stream(self, query, span) -> None:
        """A streaming query runs its batches under a job group of its
        own (the run id); fold those jobs into ``span``."""
        if self.tracer is not None and span is not None:
            self.tracer.group_alias[str(query.runId)] = span.id


def _configure_env(workdir: str, trace: bool) -> str | None:
    """Point Spark and its workers at this checkout and its scratch dir.
    Returns the event-log dir when tracing."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    conf = os.path.join(workdir, "conf")
    os.makedirs(conf)
    # no JVM writes outside the checkout: temp files go to ``tmp`` and
    # the JVMs (spark-submit's launcher and the driver) keep no
    # /tmp/hsperfdata file
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    lines = [f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    evdir = None
    if trace:
        evdir = os.path.join(workdir, "eventlog")
        os.makedirs(evdir)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{evdir}",
            # Spark 4 zstd-compresses event logs and rolls them into a
            # directory of parts by default; one plain file is read here
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.environ["SPARK_CONF_DIR"] = conf
    return evdir


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _install_wrappers(tracer: Tracer) -> None:
    from mircv_project_spark.functions import codecs, tokenizer
    from mircv_project_spark.operators import bmw, index_build, maxscore, taat, topk, wand
    from mircv_project_spark.sources import index_store, transcripts
    from mircv_project_spark.streaming import incremental

    w = tracer.wrap
    w(transcripts, "assign_doc_ids", "sources.transcripts.assign_doc_ids")
    w(tokenizer, "tokenize", "functions.tokenizer.tokenize", light=True)
    w(index_build, "build_index", "operators.index_build.build_index")
    w(index_build, "write_index", "operators.index_build.write_index")
    # build_index looks aggregate_postings up in index_build; the
    # streaming module holds its own reference
    for owner in (index_build, incremental):
        w(owner, "aggregate_postings", "operators.index_build.aggregate_postings")
    w(codecs, "decode_block", "functions.codecs.decode_block", light=True)
    R = index_store.IndexReader
    w(R, "from_dir", "sources.index_store.IndexReader.from_dir")
    w(R, "fetch", "sources.index_store.IndexReader.fetch")
    w(maxscore, "serve_topk", "operators.maxscore.serve_topk")
    w(maxscore, "maxscore_topk_df", "operators.maxscore.maxscore_topk_df")
    w(maxscore, "maxscore_topk", "operators.maxscore.maxscore_topk", light=True)
    w(wand, "wand_topk", "operators.wand.wand_topk", light=True)
    w(bmw, "bmw_topk", "operators.bmw.bmw_topk", light=True)
    w(taat, "taat_topk", "operators.taat.taat_topk", light=True)
    w(topk, "topk_from_blocks_pruned", "operators.topk.topk_from_blocks_pruned")
    w(incremental, "nrt_index", "streaming.incremental.nrt_index")
    w(incremental, "compact_index", "streaming.incremental.compact_index")


def _p50_ms(values: list[float]) -> float:
    return statistics.median(values) * 1000.0


def end_to_end(res: workloads.Result, setup_s: float, peak_rss: int) -> dict:
    return {
        "setup_s": setup_s,
        "p50_ms": _p50_ms(res.latencies_s),
        "rate_per_s": res.items / res.window_s,
        "peak_rss_mb": peak_rss / 2**20,
        "bytes_per_posting": res.bytes_per_posting,
    }


# The end-to-end metrics of the result line.  Peak RSS swings 15-40%
# between runs with the JVM's heap sizing, so it is reported, not gated.
E2E_UNITS = {"setup_s": "s", "p50_ms": "ms", "rate_per_s": "1/s", "bytes_per_posting": "B"}


def report(workload: str, res: workloads.Result, e2e: dict) -> dict:
    """The figures the workload stands for, under their own names."""
    n = len(res.latencies_s)
    lat_ms = [x * 1000 for x in res.latencies_s]
    out = {
        "setup_s": (e2e["setup_s"], "s"),
        "peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
        "error_rate": (res.failed / res.attempted, "ratio"),
        "index_bytes_per_posting": (e2e["bytes_per_posting"], "B"),
    }
    if workload == "serve":
        out["query_latency_p50_ms"] = (e2e["p50_ms"], "ms")
        tail = stats.tail_percentile(n)
        if tail is not None:
            out[f"query_latency_p{tail:g}_ms"] = (stats.percentile(lat_ms, tail), "ms")
        out["queries_per_s"] = (e2e["rate_per_s"], "1/s")
        if "pruned_batch_s" in res.extra:
            out["pruned_batch_s"] = (res.extra["pruned_batch_s"], "s")
        out["build_turns_per_s"] = (res.extra["build_turns_per_s"], "turns/s")
    else:
        out["nrt_freshness_p50_s"] = (e2e["p50_ms"] / 1000, "s")
        out["ingest_turns_per_s"] = (e2e["rate_per_s"], "turns/s")
    out = {k: {"value": round(v, 4), "unit": u} for k, (v, u) in out.items()}
    out["samples"] = n
    out.update({k: v for k, v in res.extra.items() if k not in ("build_turns_per_s", "pruned_batch_s")})
    if res.errors:
        out["errors"] = res.errors
    return out


def per_layer(tracer: Tracer, log: EventLog, res: workloads.Result,
              probe: dict, rdds_end: int) -> dict:
    summary = tracer.summarize(log)
    out: dict[str, float] = {}
    for span, ms in SPAN_METRICS:
        a = summary.get(span, {})
        for m in ms:
            if m == "job_ratio":
                v = a.get("jobs", 0.0) / a["calls"] if a.get("calls") else 0.0
            else:
                v = a.get(m, 0.0)
            out[f"{span}.{m}"] = v
    out.update(probe)
    # minus an untraced run's p50_ms, the tracing overhead
    out["trace.request_p50_ms"] = _p50_ms(res.latencies_s)
    out["cache.persistent_rdds_end"] = rdds_end
    return out


def run_workload(args, workdir: str) -> tuple[dict, workloads.Result]:
    """Start Spark, run the workload (and the probes when tracing), stop
    Spark.  Returns the metrics for the result line and the result."""
    trace = bool(args.trace)
    evdir = _configure_env(workdir, trace)
    tracer = Tracer() if trace else None
    ctx = Context(workdir, args.seed, args.seconds, tracer)
    with stats.RssSampler() as rss:
        from mircv_project_spark import session

        with ctx.span("session.get_spark"):
            spark = session.get_spark(
                f"perfbench-{args.workload}",
                master=f"local[{CORES}]",
                shuffle_partitions=2 * CORES,
            )
        ctx.log("session started")
        try:
            spark.sparkContext.setLogLevel("ERROR")
            if trace:
                tracer.sc = spark.sparkContext
                _install_wrappers(tracer)
            res = WORKLOADS[args.workload](spark, ctx)
            if trace:
                tracer.restore()
                probe = probes.run(spark, args.seed, res.reader())
                rdds_end = int(spark.sparkContext._jsc.getPersistentRDDs().size())
        finally:
            _stop_spark(spark)

    e2e = end_to_end(res, res.setup_end - _T0 + _AGE_AT_T0, rss.peak_bytes)
    print("# report " + json.dumps({"workload": args.workload, "seed": args.seed,
                                    "trace": args.trace,
                                    **report(args.workload, res, e2e)}))
    if not trace:
        return {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}, res
    log = EventLog(os.path.join(evdir, os.listdir(evdir)[0]))
    traces = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(traces, exist_ok=True)
    tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    values = per_layer(tracer, log, res, probe, rdds_end)
    return {k: {"value": values[k], "unit": unit_of(k)} for k in per_layer_names()}, res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = importlib.util.find_spec("mircv_project_spark")
    if spec is None or not spec.origin.startswith(ROOT + os.sep):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        metrics, res = run_workload(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
