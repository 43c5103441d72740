"""Spans around calls into the engine's layers, for the traced run only.

A span records name, start, end, parent and request id.  Spans that
can launch Spark work also set a Spark job group (``pb-<span id>``) and
count persistent RDDs before and after, so the Spark event log can be
folded back onto them: jobs, executor CPU, shuffle writes and spills.
Hot pure-Python functions (traversal kernels, block decode, the query
tokenizer) get ``light`` spans that only take the two clock readings.

The engine is not edited: ``Tracer.wrap`` swaps a module or class
attribute for a wrapper at the place where the engine's callers look it
up, and ``Tracer.restore`` puts every original back.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field, fields

from pyspark.sql import DataFrame

GROUP_PREFIX = "pb-"
LAZY_ATTR = "_perfbench_spans"


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    request: int | None
    end: float = 0.0
    resumed: bool = False  # materializes a DataFrame an earlier call returned
    rdds_before: int | None = None
    rdds_after: int | None = None
    children: list = field(default_factory=list, repr=False)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span) -> float:
    """The span's duration minus the part its child spans cover."""
    return span.dur - covered(
        [(c.start, c.end) for c in span.children], span.start, span.end
    )


class Tracer:
    """In-memory span recorder.  One client thread drives the workload;
    the streaming query's ``foreachBatch`` callback runs while that
    thread blocks in ``awaitTermination``, so one shared span stack
    nests both correctly."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.request: int | None = None
        self._stack: list[Span] = []
        self._saved: list[tuple[object, str, object]] = []
        # job groups that Spark itself sets (a streaming query's run id)
        # mapped onto the span that started the query
        self.group_alias: dict[str, int] = {}

    # ---- spans ----
    def _persistent_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    @contextmanager
    def span(self, name: str, light: bool = False, resumed: bool = False):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            start=0.0,
            parent=parent.id if parent else None,
            request=self.request,
            resumed=resumed,
        )
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s)
        spark_span = not light and self.sc is not None
        if spark_span:
            s.rdds_before = self._persistent_rdds()
            self._set_group(s)
        self._stack.append(s)
        s.start = time.monotonic()
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            if spark_span:
                s.rdds_after = self._persistent_rdds()
                # restore the nearest enclosing Spark span's group
                outer = next(
                    (p for p in reversed(self._stack) if p.rdds_before is not None),
                    None,
                )
                self._set_group(outer)

    def wrap(self, owner, attr: str, name: str, light: bool = False) -> None:
        """Replace ``owner.attr`` by a spanning wrapper (classmethods
        stay classmethods)."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, light=light) as s:
                out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                # lazy result: its jobs run when the caller collects it
                setattr(out, LAZY_ATTR, [name] + getattr(out, LAZY_ATTR, []))
            return out

        self._saved.append((owner, attr, raw))
        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)

    def collect(self, df) -> list:
        """``df.collect()``, booked to the spans of the wrapped calls that
        returned ``df`` (outermost first), so a function's time and jobs
        include materializing the DataFrame it returned."""
        names = getattr(df, LAZY_ATTR, [])
        with ExitStack() as stack:
            for n in names:
                stack.enter_context(self.span(n, resumed=True))
            return df.collect()

    def restore(self) -> None:
        while self._saved:
            owner, attr, raw = self._saved.pop()
            setattr(owner, attr, raw)

    # ---- output ----
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {f.name: getattr(s, f.name) for f in fields(s) if f.name != "children"}
                    for s in self.spans
                ],
                f,
            )

    def attribute_jobs(self, job_groups: dict[int, str | None]) -> dict[int, list[int]]:
        """span id -> job ids launched directly under that span's group
        (or under a group aliased to it)."""
        out: dict[int, list[int]] = defaultdict(list)
        for job, group in job_groups.items():
            if group is None:
                continue
            if group.startswith(GROUP_PREFIX):
                sid = int(group[len(GROUP_PREFIX):])
            elif group in self.group_alias:
                sid = self.group_alias[group]
            else:
                continue
            out[sid].append(job)
        return out

    def summarize(self, log: "EventLog | None") -> dict[str, dict[str, float]]:
        """Per span name: calls, s, self_s, and — where an event log is
        given — inclusive jobs, executor CPU, shuffle write and spill,
        plus the net change in persistent RDDs."""
        direct = self.attribute_jobs(log.job_group) if log else {}
        agg: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

        def jobs_under(s: Span) -> list[int]:
            out = list(direct.get(s.id, ()))
            for c in s.children:
                out.extend(jobs_under(c))
            return out

        for s in self.spans:
            a = agg[s.name]
            a["calls"] += not s.resumed
            a["s"] += s.dur
            a["self_s"] += self_time(s)
            if s.rdds_before is not None:
                a["cached_rdds_delta"] += s.rdds_after - s.rdds_before
            if log is not None and s.rdds_before is not None:
                jobs = jobs_under(s)
                a["jobs"] += len(jobs)
                for j in jobs:
                    m = log.job_metrics(j)
                    a["exec_cpu_s"] += m["cpu_ns"] / 1e9
                    a["shuffle_write_mb"] += m["shuffle_write_bytes"] / 1e6
                    a["spill_mb"] += m["spill_bytes"] / 1e6
        return {k: dict(v) for k, v in agg.items()}


class EventLog:
    """The subset of a Spark event log the spans need: each job's group
    and the task metrics of the stages it ran."""

    def __init__(self, path: str):
        self.job_group: dict[int, str | None] = {}
        self._job_stages: dict[int, list[int]] = {}
        self._stage_job: dict[int, int] = {}
        self._stage: dict[int, dict[str, int]] = defaultdict(
            lambda: {"cpu_ns": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        )
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            props = ev.get("Properties") or {}
            self.job_group[job] = props.get("spark.jobGroup.id")
            self._job_stages[job] = ev.get("Stage IDs", [])
            for st in self._job_stages[job]:
                # a stage reused by a later job is skipped there, so its
                # tasks belong to the first job that listed it
                self._stage_job.setdefault(st, job)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            st = self._stage[ev["Stage ID"]]
            st["cpu_ns"] += tm.get("Executor CPU Time", 0)
            st["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)

    def job_metrics(self, job: int) -> dict[str, int]:
        out = {"cpu_ns": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        for st in self._job_stages.get(job, ()):
            if self._stage_job.get(st) == job and st in self._stage:
                for k, v in self._stage[st].items():
                    out[k] += v
        return out
