"""Spans and Spark counters for the traced benchmark run.

The tracer works from outside the package: ``wrap_module`` replaces each
public function of a ``big_ann_spark`` module with a wrapper that
records one span per call (name, start, end, parent span, request id).
Every request of the closed loop runs under its own Spark job group, so
after the timed region ``spark_counters`` can attribute jobs (from
``sc.statusTracker()``) and their stages' task metrics (from the Spark
REST API) to the request and, by submission time, to the spans inside
it. Nothing here runs when the benchmark is not traced.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    request: str | None
    args: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; ``dump`` writes them out at the end."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.requests: dict[str, Span] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._request: str | None = None
        # time spent inside the tracer's own bookkeeping, the direct
        # cost tracing adds to the timed requests
        self.bookkeeping_s = 0.0

    # -- spans --------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self) -> tuple[int, int | None]:
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        return sid, parent

    def _close(self, sid, parent, name, layer, start, end, args) -> Span:
        self._stack().pop()
        span = Span(sid, name, layer, start, end, parent, self._request, args)
        with self._lock:
            self.spans.append(span)
        return span

    def request(self, kind: str, req_id: str):
        """Root span of one closed-loop request; its Spark jobs run
        under the job group ``req_id``."""
        return _RequestCtx(self, kind, req_id)

    def wrap_module(self, module, layer: str, names: list[str] | None = None) -> None:
        """Replace the module's public functions (those defined in it),
        or the given ``names``, with span-recording wrappers."""
        if names is None:
            names = [
                n
                for n, f in vars(module).items()
                if inspect.isfunction(f)
                and not n.startswith("_")
                and f.__module__ == module.__name__
            ]
        for n in names:
            setattr(module, n, self._wrap(getattr(module, n), f"{layer}.{n}", layer))

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            sid, parent = tracer._open()
            start = time.time()
            tracer.bookkeeping_s += time.perf_counter() - t0
            try:
                return fn(*a, **kw)
            finally:
                t1 = time.perf_counter()
                args = {}
                if name == "ann.open_probed_shards" and len(a) >= 3:
                    args["shards"] = len(a[2])
                tracer._close(sid, parent, name, layer, start, time.time(), args)
                tracer.bookkeeping_s += time.perf_counter() - t1

        return wrapper

    # -- derived numbers ------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self, spans: list[Span] | None = None) -> dict[str, float]:
        """Per layer: the sum of span durations minus the part of each
        span's interval its child spans cover."""
        kids = self.children()
        out: dict[str, float] = {}
        for s in self.spans if spans is None else spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])]
            )
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, s.duration - covered)
        return out

    def dump(self, path: str, extra: dict) -> None:
        record = dict(extra)
        record["spans"] = [s.__dict__ for s in self.spans]
        record["self_s"] = self.self_times()
        record["bookkeeping_s"] = self.bookkeeping_s
        with open(path, "w") as f:
            json.dump(record, f, indent=1, default=str)


class _SpanCtx:
    def __init__(self, tracer: Tracer | None, name, layer, args):
        self.tracer, self.name, self.layer, self.args = tracer, name, layer, args

    def __enter__(self):
        t = self.tracer
        if t is None:
            return self
        t0 = time.perf_counter()
        self.sid, self.parent = t._open()
        self.start = time.time()
        t.bookkeeping_s += time.perf_counter() - t0
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if t is None:
            return False
        t1 = time.perf_counter()
        self.span = t._close(
            self.sid, self.parent, self.name, self.layer, self.start, time.time(), self.args
        )
        t.bookkeeping_s += time.perf_counter() - t1
        return False


class _RequestCtx(_SpanCtx):
    def __init__(self, tracer: Tracer | None, kind: str, req_id: str):
        super().__init__(tracer, f"request.{kind}", "bench", {"kind": kind})
        self.req_id = req_id

    def __enter__(self):
        t = self.tracer
        if t is None:
            return self
        t0 = time.perf_counter()
        t._request = self.req_id
        t.spark.sparkContext.setJobGroup(self.req_id, self.name)
        t.bookkeeping_s += time.perf_counter() - t0
        return super().__enter__()

    def __exit__(self, *exc):
        t = self.tracer
        if t is None:
            return False
        super().__exit__(*exc)
        t0 = time.perf_counter()
        t.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        t.requests[self.req_id] = self.span
        t._request = None
        t.bookkeeping_s += time.perf_counter() - t0
        return False


def span(tracer: Tracer | None, name: str, layer: str = "bench", **args):
    """A span around a block, or a no-op when ``tracer`` is None."""
    return _SpanCtx(tracer, name, layer, args)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------- Spark


def _rest(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as r:
        return json.load(r)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


@dataclass
class JobRecord:
    id: int
    group: str | None
    submitted: float
    completed: float
    stages: list[int]


def spark_counters(spark, tracer: Tracer, settle_s: float = 10.0):
    """Read after the timed region. Returns (every job of the
    application as a JobRecord, {stage id: summed task metrics},
    {request id: job ids}). Request membership comes from the status
    tracker's job groups, plus any ungrouped job (one launched from a
    helper thread) submitted inside the request's window."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    by_req = {req: set(tracker.getJobIdsForGroup(req)) for req in tracer.requests}
    wanted = set().union(*by_req.values()) if by_req else set()
    # the UI listener is asynchronous: wait until it has every job
    deadline = time.time() + settle_s
    while True:
        raw = {j["jobId"]: j for j in _rest(base, "/jobs")}
        if all(i in raw and "completionTime" in raw[i] for i in wanted):
            break
        if time.time() > deadline:
            break
        time.sleep(0.2)
    jobs = [
        JobRecord(
            jid,
            j.get("jobGroup"),
            _epoch(j.get("submissionTime")) or 0.0,
            _epoch(j.get("completionTime")) or time.time(),
            list(j.get("stageIds", [])),
        )
        for jid, j in sorted(raw.items())
    ]
    for j in jobs:
        if j.group is None:
            for req, s in tracer.requests.items():
                if s.start <= j.submitted <= s.end:
                    by_req[req].add(j.id)
    stages: dict[int, dict] = {}
    for s in _rest(base, "/stages"):
        if s.get("status") == "SKIPPED":
            continue
        m = stages.setdefault(s["stageId"], {k: 0 for k in _STAGE_KEYS})
        for k in _STAGE_KEYS:
            m[k] += s.get(k, 0) or 0
    return jobs, stages, by_req


_STAGE_KEYS = (
    "numTasks",
    "executorRunTime",
    "executorCpuTime",
    "inputBytes",
    "inputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "outputBytes",
)


def jobs_in(jobs: list[JobRecord], start: float, end: float) -> list[JobRecord]:
    """Jobs submitted inside [start, end] (span windows are wall clock)."""
    return [j for j in jobs if start - 0.0005 <= j.submitted <= end + 0.0005]


def job_totals(jobs: list[JobRecord], stages: dict[int, dict]) -> dict[str, float]:
    tot = {k: 0.0 for k in _STAGE_KEYS}
    n_stages = 0
    for j in jobs:
        for sid in j.stages:
            m = stages.get(sid)
            if m is None:
                continue
            n_stages += 1
            for k in _STAGE_KEYS:
                tot[k] += m[k]
    return {
        "jobs": len(jobs),
        "stages": n_stages,
        "tasks": tot["numTasks"],
        "executor_run_s": tot["executorRunTime"] / 1e3,
        "executor_cpu_s": tot["executorCpuTime"] / 1e9,
        "input_bytes": tot["inputBytes"],
        "input_records": tot["inputRecords"],
        "shuffle_bytes": tot["shuffleReadBytes"] + tot["shuffleWriteBytes"],
        "output_bytes": tot["outputBytes"],
    }


def driver_only_s(span: Span, jobs: list[JobRecord]) -> float:
    """Wall time of the span with no Spark job running."""
    busy = _union_length(
        [(max(j.submitted, span.start), min(j.completed, span.end)) for j in jobs]
    )
    return max(0.0, span.duration - busy)
