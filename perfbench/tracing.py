"""Traced mode: spans around each benchmark -> library call, plus Spark's
own job and stage counters read from the status store over py4j.

A span is (id, name, start, end, parent, op). Spans stay in memory until
the run ends. Every library-call span tags the Spark jobs it starts with a
job group, so each job is attributed to the call that ran it; within one
call, jobs are attributed to a pass by the Python call site Spark records
for them. Jobs become child spans of their call, so a call's self time is
its driver-side time with no Spark job running.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import re
import time
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

_CALL_SITE = re.compile(r" at (.+\.py):(\d+)$")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int


class Tracer:
    """Records spans; a disabled tracer records nothing and sets no job group."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int, tag_jobs: bool = False):
        """Record a span around the block and yield its id (None when off)."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, time.time(), 0.0, parent, op)
        self.spans.append(rec)
        self._stack.append(sid)
        if tag_jobs:
            self.sc.setJobGroup(f"span{sid}", name, False)
        try:
            yield sid
        finally:
            if tag_jobs:
                self.sc._jsc.clearJobGroup()
            rec.end = time.time()
            self._stack.pop()


@dataclass
class Job:
    id: int
    call_site: str
    span: int | None
    start: float
    end: float
    stages: list[int]


@dataclass
class Stage:
    id: int
    status: str
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_mb: float
    shuffle_write_mb: float
    spill_mb: float


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def read_spark(sc) -> tuple[list[Job], dict[int, Stage]]:
    """Every job and stage the status store retains, via py4j."""
    store = sc._jsc.sc().statusStore()
    jobs: list[Job] = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        group = _opt(j.jobGroup())
        submitted, completed = _opt(j.submissionTime()), _opt(j.completionTime())
        if submitted is None or completed is None:
            continue
        span = int(group[4:]) if group and group.startswith("span") else None
        jobs.append(
            Job(
                int(j.jobId()), j.name(), span, submitted.getTime() / 1e3,
                completed.getTime() / 1e3, [int(x) for x in _seq(j.stageIds())],
            )
        )
    stages: dict[int, Stage] = {}
    mb = float(1 << 20)
    for sid in sorted({s for j in jobs if j.span is not None for s in j.stages}):
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage that never ran has no attempt
            continue
        stages[sid] = Stage(
            sid, s.status().toString(), int(s.numCompleteTasks()),
            s.executorRunTime() / 1e3, s.executorCpuTime() / 1e9, s.jvmGcTime() / 1e3,
            s.inputBytes() / mb, s.shuffleWriteBytes() / mb,
            (s.memoryBytesSpilled() + s.diskBytesSpilled()) / mb,
        )
    return jobs, stages


@functools.lru_cache(maxsize=None)
def _functions_by_line(path: str) -> list[tuple[int, int, str]]:
    with open(path) as f:
        tree = ast.parse(f.read())
    return [
        (n.lineno, n.end_lineno, n.name)
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def py_call_site(call_site: str) -> bool:
    """Whether Spark recorded a Python source line as the job's call site
    (a job from a JVM-side call such as a parquet schema read has none)."""
    return _CALL_SITE.search(call_site) is not None


@functools.lru_cache(maxsize=None)
def pass_of(call_site: str) -> str | None:
    """The write_profile_bin pass a job belongs to, from its call site:
    ``frequent_items`` (called from a frequent-items function),
    ``sketch`` (the calling line names sketch_profile) or ``profile``
    (the calling line calls profile)."""
    m = _CALL_SITE.search(call_site)
    if m is None:
        return None
    path, line = m[1], int(m[2])
    try:
        enclosing = [f for f in _functions_by_line(path) if f[0] <= line <= f[1]]
        with open(path) as f:
            text = f.readlines()[line - 1]
    except (OSError, IndexError, SyntaxError):
        return None
    inner = max(enclosing, default=(0, 0, ""))[2]
    if "frequent" in inner:
        return "frequent_items"
    if "sketch_profile" in text:
        return "sketch"
    if re.search(r"\bprofile\(", text):
        return "profile"
    return None


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def self_times(spans: list[Span], jobs: list[Job]) -> dict[int, float]:
    """Each span's duration minus the part its children (spans and jobs) cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    for j in jobs:
        if j.span is not None:
            kids.setdefault(j.span, []).append((j.start, j.end))
    return {
        s.id: (s.end - s.start) - union_s(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


def dump(spans: list[Span], jobs: list[Job], stages: dict[int, Stage]) -> dict:
    """The trace file's body: spans with self times, attributed jobs, stages."""
    selfs = self_times(spans, jobs)
    return {
        "spans": [dict(asdict(s), self_s=selfs[s.id]) for s in spans],
        "jobs": [
            dict(asdict(j), **{"pass": pass_of(j.call_site)}) for j in jobs if j.span is not None
        ],
        "stages": [asdict(s) for s in stages.values()],
    }
