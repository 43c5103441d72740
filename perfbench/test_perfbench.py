"""Tests of the benchmark's own arithmetic and attribution.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import run
import stats
import workloads
from tracing import EventLog, Span, Tracer, covered, self_time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---- percentile choice under the >= 10-samples-beyond rule ----

@pytest.mark.parametrize(
    "n, want",
    [
        (39, None),  # even p75 leaves only 9 beyond
        (40, 75.0),
        (100, 90.0),
        (199, 90.0),  # p95 would leave 9
        (200, 95.0),
        (1000, 99.0),
        (10_000, 99.9),
    ],
)
def test_tail_percentile_leaves_ten_beyond(n, want):
    p = stats.tail_percentile(n)
    assert p == want
    if p is not None:
        assert n - stats._rank(p, n) >= stats.MIN_BEYOND


def test_percentile_is_nearest_rank():
    xs = list(range(1, 201))  # 1..200
    assert stats.percentile(xs, 95) == 190
    assert stats.percentile(xs, 50) == 100
    assert stats.percentile([7.0], 99) == 7.0


def test_relative_iqr_uses_statistics_quartiles():
    xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, med, q3 = 11.75, 14.5, 17.25  # exclusive method: ranks 2.75 and 8.25
    assert stats.relative_iqr(xs) == pytest.approx((q3 - q1) / med)


# ---- span self-time ----

def _span(i, start, end, parent=None):
    return Span(id=i, name=f"s{i}", start=start, end=end, parent=parent, request=None)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-2, 1), (9, 12)], 0, 10) == 2
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    root = _span(0, 0.0, 10.0)
    # two overlapping children (2..6 and 4..7 cover 5 s) and a nested
    # grandchild, which must not be subtracted twice
    a, b = _span(1, 2.0, 6.0, 0), _span(2, 4.0, 7.0, 0)
    a.children.append(_span(3, 3.0, 5.0, 1))
    root.children += [a, b]
    assert self_time(root) == pytest.approx(5.0)
    assert self_time(a) == pytest.approx(2.0)


def test_summary_books_resumed_spans_without_counting_calls():
    t = Tracer()
    with t.span("f", light=True):
        pass
    with t.span("f", light=True, resumed=True):
        pass
    out = t.summarize(None)
    assert out["f"]["calls"] == 1


# ---- event log folding ----

def _write_log(tmp_path, events):
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(path)


def test_event_log_books_a_reused_stage_to_its_first_job(tmp_path):
    def task(stage, cpu):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Metrics": {
                "Executor CPU Time": cpu,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                "Disk Bytes Spilled": 0,
            },
        }

    log = EventLog(_write_log(tmp_path, [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb-3"}},
        task(0, 5), task(1, 7),
        # job 1 lists stage 1 again (skipped there) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {}},
        task(2, 11),
    ]))
    assert log.job_group == {0: "pb-3", 1: None}
    assert log.job_metrics(0) == {"cpu_ns": 12, "shuffle_write_bytes": 200, "spill_bytes": 0}
    assert log.job_metrics(1)["cpu_ns"] == 11


def test_jobs_roll_up_to_enclosing_spans_and_aliases():
    t = Tracer()
    outer, inner, stream = _span(0, 0, 10), _span(1, 1, 2, 0), _span(2, 3, 4, 0)
    outer.children += [inner, stream]
    for s in (outer, inner, stream):
        s.rdds_before = s.rdds_after = 0
    t.spans = [outer, inner, stream]
    t.group_alias["run-id-of-a-stream"] = 2

    class Log:
        job_group = {0: "pb-0", 1: "pb-1", 2: "run-id-of-a-stream", 3: None}

        @staticmethod
        def job_metrics(job):
            return {"cpu_ns": 1e9, "shuffle_write_bytes": 0, "spill_bytes": 0}

    out = t.summarize(Log)
    assert out["s0"]["jobs"] == 3  # its own job plus both children's
    assert out["s1"]["jobs"] == 1
    assert out["s2"]["jobs"] == 1
    assert out["s0"]["exec_cpu_s"] == pytest.approx(3.0)


# ---- the serve request mix ----

def test_one_mix_period_has_the_stated_shares():
    from mircv_project_spark.operators import scoring

    period = [workloads.mix(i) for i in range(workloads.MIX_PERIOD)]
    # every (family, term count) pair once
    assert sorted((f, n) for n, f, _, _ in period) == sorted(
        (f, n) for f in workloads.FAMILIES for n in range(1, 6)
    )
    conj = [(n, f, std) for n, f, std, c in period if c]
    assert len(conj) == workloads.MIX_PERIOD // 5
    assert min(n for n, _, _ in conj) >= 2
    assert sorted(f for _, f, _ in conj) == sorted(workloads.FAMILIES)
    assert {std for _, _, std in conj} == {scoring.BM25, scoring.TFIDF}
    assert sum(std == scoring.TFIDF for _, _, std, _ in period) == 7
    # the schedule repeats exactly, so whole periods time the same mix
    later = range(workloads.MIX_PERIOD, 2 * workloads.MIX_PERIOD)
    assert [workloads.mix(i) for i in later] == period


# ---- the metric names the command prints match BENCHMARK.json ----

def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == run.E2E_UNITS
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert layers == {n: run.unit_of(n) for n in run.per_layer_names()}
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.WORKLOADS)


# ---- job-group attribution on a tiny plan (needs a local Spark) ----

@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    evdir = tmp_path_factory.mktemp("eventlog")
    spark = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{evdir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    yield spark, str(evdir)
    spark.stop()


def test_job_groups_attribute_a_tiny_plan(traced_spark, tmp_path):
    spark, evdir = traced_spark
    t = Tracer(spark.sparkContext)
    with t.span("outer"):
        spark.range(10).count()
        with t.span("inner"):
            df = spark.range(5)
            df.groupBy((df.id % 2).alias("k")).count().collect()
        spark.range(3).collect()
    spark.range(2).count()  # outside every span

    # a streaming query's batches run under its own run-id job group
    src = tmp_path / "in"
    spark.range(4).write.parquet(str(src))
    seen = []
    with t.span("stream") as sp:
        q = (
            spark.readStream.schema("id long").parquet(str(src))
            .writeStream.foreachBatch(lambda df, _: seen.append(df.count()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        t.group_alias[str(q.runId)] = sp.id
        assert q.awaitTermination(120)
    assert seen == [4]

    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    log = EventLog(os.path.join(evdir, os.listdir(evdir)[0]))
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    # the caller's group does not reach the foreachBatch thread: the
    # batch's jobs carry the query's run id, which the alias maps back
    groups = set(log.job_group.values())
    assert str(q.runId) in groups
    assert f"pb-{sp.id}" not in groups
    out = t.summarize(log)
    assert out["inner"]["jobs"] >= 1
    assert out["outer"]["jobs"] >= out["inner"]["jobs"] + 2
    assert out["stream"]["jobs"] >= 1
    assert out["outer"]["exec_cpu_s"] > 0
