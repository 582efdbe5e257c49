"""Measurement from outside the program: spans, call wrappers, Spark job
counts, index sizes, memory and a CPU canary.

Every wrapper here replaces a name in a module namespace for the length of
one operation and restores it afterwards; nothing under ``pageindex_spark/``
is edited. Only functions that run in the driver process are wrapped. A
wrapper reached from a UDF closure would be cloudpickled into the Python
workers and change the program being measured (see ``workloads.QueryProbe``).
"""

from __future__ import annotations

import contextlib
import io
import math
import os
import re
import resource
import statistics
import sys
import time
from dataclasses import dataclass, field


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float = math.nan


@dataclass
class Tracer:
    """In-memory span recorder. Spans of one operation share ``request``;
    the parent is the span open when a child starts."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    request: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(
            len(self.spans), name,
            self._stack[-1] if self._stack else None, self.request,
            time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s.span_id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its children cover (s)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s.start
            for c in sorted(kids.get(s.span_id, []), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s.span_id] = (s.end - s.start) - covered
        return out

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


@contextlib.contextmanager
def wrapped(module, name: str, make_wrapper):
    """Replace ``module.name`` with ``make_wrapper(original)`` inside the
    block; the original is restored on exit."""
    orig = getattr(module, name)
    setattr(module, name, make_wrapper(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def timed_call(tracer: Tracer, span_name: str, on_return=None):
    """Wrapper factory: each call becomes a span; ``on_return(args, kwargs,
    result)`` may record counts at the same boundary."""

    def make(orig):
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                out = orig(*args, **kwargs)
            if on_return is not None:
                on_return(args, kwargs, out)
            return out

        return wrapper

    return make


# ---------------------------------------------------------------- Spark


@dataclass
class JobCount:
    jobs: int
    stages: int
    tasks: int


class SparkJobs:
    """Counts the Spark jobs, stages and tasks one operation submits: the
    operation runs under its own job group, and jobs a helper thread submits
    outside any group in the same interval are added."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._n = 0

    @contextlib.contextmanager
    def count(self, label: str):
        self._n += 1
        group = f"perfbench-{label}-{self._n}"
        before = set(self.tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, label)
        result = JobCount(0, 0, 0)
        try:
            yield result
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            ids = set(self.tracker.getJobIdsForGroup(group)) | (
                set(self.tracker.getJobIdsForGroup(None)) - before
            )
            for j in ids:
                info = self.tracker.getJobInfo(j)
                if info is None:
                    continue
                result.jobs += 1
                for sid in info.stageIds:
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:
                        result.stages += 1
                        result.tasks += st.numTasks


# ---------------------------------------------------------------- build log

_STAGE_RE = re.compile(r"^\[build_index\] ([a-z_]+?)(?:_chunk)?(\d*): ([0-9.]+)s$")
BUILD_STAGES = (
    "extract_write", "norms_and_stats", "extract_metadata", "segments",
    "compact", "compact_meta", "fold", "fold_meta",
)


class _Tee(io.TextIOBase):
    def __init__(self, sink):
        self.sink = sink
        self.buf = io.StringIO()

    def write(self, s):
        self.buf.write(s)
        return self.sink.write(s)

    def flush(self):
        self.sink.flush()


@contextlib.contextmanager
def build_stage_log():
    """Collect the ``[build_index] <stage>: Xs`` lines the build prints to
    stderr; yields a dict filled with per-stage seconds (chunks summed) on
    exit."""
    stages: dict[str, float] = {}
    tee = _Tee(sys.stderr)
    with contextlib.redirect_stderr(tee):
        try:
            yield stages
        finally:
            for line in tee.buf.getvalue().splitlines():
                m = _STAGE_RE.match(line.strip())
                if m:
                    stages[m.group(1)] = stages.get(m.group(1), 0.0) + float(m.group(3))


# ---------------------------------------------------------------- index


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def index_sizes(index_dir: str, extra: dict[str, str] | None = None) -> dict[str, int]:
    """On-disk bytes of each committed relation of an index."""
    rels = ("postings", "norms", "term_stats", "docs_extracted", "segments", "_lineage")
    out = {r.strip("_"): dir_bytes(os.path.join(index_dir, r)) for r in rels}
    for name, path in (extra or {}).items():
        out[name] += dir_bytes(path)
    return out


def postings_shape(index_dir: str, read_table) -> tuple[int, int, int]:
    """(runs, distinct terms, postings) over the committed postings."""
    t = read_table(os.path.join(index_dir, "postings"), columns=["term", "n_docs"])
    return t.num_rows, len(set(t.column("term").to_pylist())), int(
        sum(t.column("n_docs").to_pylist())
    )


# ---------------------------------------------------------------- process


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def jvm_peak_rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmHWM") / 1024.0


def cpu_canary_ms(rounds: int = 5) -> float:
    """Median time of a fixed pure-Python loop; an annotation of how fast
    the CPU ran around a run, never used to drop or repeat a run."""
    def once():
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        return (time.perf_counter() - t0) * 1000.0

    return statistics.median(once() for _ in range(rounds))


def p50(xs):
    return statistics.median(xs) if xs else 0.0
