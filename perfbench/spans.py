"""In-memory spans for the traced run.

A span has a name, a start, an end and a parent. Spans are recorded
from the benchmark's own files around calls into crawlspark's public
entry points; nothing inside the package is instrumented. Spans are
kept in memory and written out once, when the run ends.

When a SparkContext is given, each span also records the Spark jobs
submitted while it was open, as a delta of the highest job id the
status tracker knows. Job groups are not used: SnapshotStore.commit
submits its writes from a thread pool, and a job group set on the
calling thread does not reach those jobs. Stage and task counts are
resolved from the job ids when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    jobs: tuple[int, int] | None = None  # (last job id before, last after)
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [s.dur - covered(kids.get(i, []), s.start, s.end)
            for i, s in enumerate(spans)]


class Tracer:
    """Records spans whose name is in `names` (all spans if None).

    A span that is not recorded costs one set lookup, so the untraced
    run can keep the handful of spans its end-to-end metrics need."""

    def __init__(self, sc=None, names: set[str] | None = None):
        self.sc = sc
        self.names = names
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._job_info: dict[int, tuple[int, int]] = {}
        self.overhead_s = 0.0  # time spent recording, inside the spans

    def _last_job(self) -> int:
        # max taken JVM-side: the tracker keeps up to a thousand ids
        ids = self.sc._jsc.sc().statusTracker().getJobIdsForGroup(None)
        return int(self.sc._jvm.java.util.Arrays.stream(ids).max().orElse(-1))

    @contextmanager
    def span(self, name: str):
        if self.names is not None and name not in self.names:
            yield None
            return
        t0 = time.perf_counter()
        s = Span(name, 0.0, parent=self._stack[-1] if self._stack else None)
        j0 = self._last_job() if self.sc is not None else None
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if j0 is not None:
                s.jobs = (j0, self._last_job())
            self.overhead_s += time.perf_counter() - s.end

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.named(name)]

    def self_durations(self, name: str) -> list[float]:
        st = self_times(self.spans)
        return [st[i] for i, s in enumerate(self.spans) if s.name == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    # -- Spark job/stage/task counts ----------------------------------------
    def _stages_tasks(self, job_id: int) -> tuple[int, int]:
        if job_id not in self._job_info:
            st = self.sc.statusTracker()
            info = st.getJobInfo(job_id)
            stages = list(info.stageIds) if info else []
            tasks = 0
            for sid in stages:
                si = st.getStageInfo(sid)
                tasks += si.numTasks if si else 0
            self._job_info[job_id] = (len(stages), tasks)
        return self._job_info[job_id]

    def counts(self, s: Span) -> tuple[int, int, int]:
        """(jobs, stages, tasks) submitted while the span was open."""
        if s.jobs is None:
            return 0, 0, 0
        lo, hi = s.jobs
        stages = tasks = 0
        for jid in range(lo + 1, hi + 1):
            a, b = self._stages_tasks(jid)
            stages += a
            tasks += b
        return hi - lo, stages, tasks

    def dump(self, path) -> None:
        rows = []
        for s, self_s in zip(self.spans, self_times(self.spans)):
            row = asdict(s)
            row["self"] = self_s
            if self.sc is not None:
                row["jobs"], row["stages"], row["tasks"] = self.counts(s)
            rows.append(row)
        with open(path, "w") as fh:
            json.dump(rows, fh)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def spread(xs: list[float]) -> float:
    """Inter-quartile distance as a share of the median (0 below 2 samples)."""
    if len(xs) < 2 or not statistics.median(xs):
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)
