"""Span recorder, Spark job-group tagging and stage metrics from the
driver's local REST API (loopback only).

A span is recorded around each call the benchmark makes into an engine
layer: name, start, end, parent span and the request id its root
carries. Spans stay in memory until the run ends. While a span is
open its thread's Spark jobs run under job group ``pb-<span id>``, so
every job, stage and SQL execution the REST API reports maps back to
the innermost span that caused it. Jobs submitted from the engine's own
worker threads (materialize's parallel table writes) carry no group;
they are attributed to the open span flagged ``catch_untagged`` whose
interval holds the job's submission time.

With tracing off, ``span`` is a no-op context manager and no Spark UI
runs.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import json
import threading
import time
import urllib.request
from dataclasses import asdict, dataclass, field

_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    request: str | None
    thread: str
    catch_untagged: bool = False
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None, catch_untagged: bool = False):
        """Yields the open Span (or None when tracing is off); callers
        may add attrs to it."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            id=next(self._ids),
            name=name,
            start=time.time(),
            end=0.0,
            parent=parent.id if parent else None,
            request=request or (parent.request if parent else None),
            thread=threading.current_thread().name,
            catch_untagged=catch_untagged,
        )
        sc = self.spark.sparkContext
        sc.setLocalProperty(_GROUP_PROP, f"pb-{s.id}")
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            sc.setLocalProperty(_GROUP_PROP, f"pb-{parent.id}" if parent else None)
            with self._lock:
                self.spans.append(s)

    def self_time_by_layer(self) -> dict[str, float]:
        """Seconds each layer spent in its own spans, minus the part of
        their intervals covered by child spans."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.layer] = out.get(s.layer, 0.0) + s.seconds - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _ts(s: str | None) -> float | None:
    """REST timestamps look like 2026-01-01T00:00:00.123GMT."""
    if not s:
        return None
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def _num(v) -> float:
    """SQL metric values are strings such as '12' or '1,024'."""
    try:
        return float(str(v).replace(",", "").split()[0])
    except (ValueError, IndexError):
        return 0.0


@dataclass
class SpanWork:
    """Spark work attributed to one span."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_rows: float = 0.0
    output_mb: float = 0.0
    wait_ms: float = 0.0
    files_read: float = 0.0
    files_written: float = 0.0

    def add(self, o: "SpanWork") -> None:
        for k, v in vars(o).items():
            setattr(self, k, getattr(self, k) + v)


class Rest:
    """Reader of the Spark driver's status REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def settled_jobs(self, timeout_s: float = 20.0) -> list[dict]:
        """All jobs, once the listener has caught up (no job running
        and the count stable across two polls)."""
        prev, deadline = -1, time.time() + timeout_s
        while True:
            jobs = self.get("/jobs")
            running = any(j["status"] == "RUNNING" for j in jobs)
            if (not running and len(jobs) == prev) or time.time() > deadline:
                return jobs
            prev = len(jobs)
            time.sleep(0.5)

    def cached_mb(self) -> float:
        return sum(
            r.get("memoryUsed", 0) + r.get("diskUsed", 0)
            for r in self.get("/storage/rdd")
        ) / 1e6


def attribute(tracer: Tracer, rest: Rest) -> dict[int, SpanWork]:
    """{span id: SpanWork} for every span that caused Spark work."""
    jobs = rest.settled_jobs()
    stages = {s["stageId"]: s for s in rest.get("/stages") if s["status"] != "SKIPPED"}
    execs = rest.get("/sql?details=true&planDescription=false&length=1000000")
    by_id = {s.id: s for s in tracer.spans}
    catchers = [s for s in tracer.spans if s.catch_untagged]

    def owner(job) -> int | None:
        g = job.get("jobGroup") or ""
        if g.startswith("pb-"):
            sid = int(g[3:])
            return sid if sid in by_id else None
        t = _ts(job.get("submissionTime"))
        for s in catchers:
            if t is not None and s.start - 0.01 <= t <= s.end + 0.01:
                return s.id
        return None

    work: dict[int, SpanWork] = {}
    job_owner: dict[int, int] = {}
    for job in jobs:
        sid = owner(job)
        if sid is None:
            continue
        job_owner[job["jobId"]] = sid
        w = work.setdefault(sid, SpanWork())
        w.jobs += 1
        for st_id in job.get("stageIds", []):
            st = stages.pop(st_id, None)  # a stage counts once
            if st is None:
                continue
            w.stages += 1
            w.tasks += st.get("numCompleteTasks", 0)
            w.cpu_s += st.get("executorCpuTime", 0) / 1e9
            w.shuffle_write_mb += st.get("shuffleWriteBytes", 0) / 1e6
            w.spill_mb += st.get("diskBytesSpilled", 0) / 1e6
            w.input_mb += st.get("inputBytes", 0) / 1e6
            w.input_rows += st.get("inputRecords", 0)
            w.output_mb += st.get("outputBytes", 0) / 1e6
            sub, first = _ts(st.get("submissionTime")), _ts(st.get("firstTaskLaunchedTime"))
            if sub is not None and first is not None:
                w.wait_ms += max(0.0, first - sub) * 1e3
    for ex in execs:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        sid = next((job_owner[j] for j in ids if j in job_owner), None)
        if sid is None:
            continue
        w = work[sid]
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                if m["name"] == "number of files read":
                    w.files_read += _num(m["value"])
                elif m["name"] == "number of written files":
                    w.files_written += _num(m["value"])
    return work


def layer_work(tracer: Tracer, work: dict[int, SpanWork], names: tuple[str, ...]) -> SpanWork:
    """Summed work of every span whose name is in ``names``."""
    total = SpanWork()
    for s in tracer.spans:
        if s.name in names and s.id in work:
            total.add(work[s.id])
    return total
