"""In-memory spans for the traced run.

A span has a name, a parent, a start and an end (``time.perf_counter``), and
the highest Spark job id seen at its start and end, so each job submitted in
between can be attributed to the innermost span that was open when it ran.
Spans stay in memory and go into the run record at the end.

Self time is a span's duration minus the part of it that its children cover
(computed as an interval union, so overlapping children are not counted
twice).
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

from .sparkstats import JobTotals, SparkStats


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    job_lo: int = -1  # highest job id before the span (exclusive bound)
    job_hi: int = -1  # highest job id at the end (inclusive bound)
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    def __init__(self, stats: SparkStats) -> None:
        self.stats = stats
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        jid = self.stats.max_job_id()
        sp = Span(name, self._open[-1] if self._open else None, time.perf_counter(), job_lo=jid)
        idx = len(self.spans)
        self.spans.append(sp)
        if sp.parent is not None:
            self.spans[sp.parent].children.append(idx)
        self._open.append(idx)
        try:
            yield sp
        finally:
            self._open.pop()
            sp.job_hi = self.stats.max_job_id()
            sp.end = time.perf_counter()

    def wrap(self, owner, attr: str, name_of):
        """Patch ``owner.attr`` so every call runs inside a span named
        ``name_of(*args, **kwargs)``; returns a function that undoes it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, orig)

    # -- analysis ------------------------------------------------------------
    def self_time(self, idx: int) -> float:
        return self.spans[idx].duration - self.covered_by(self.spans[idx].children)

    def covered_by(self, spans: list[int]) -> float:
        return covered([(self.spans[c].start, self.spans[c].end) for c in spans])

    def jobs_in(self, idx: int) -> set[int]:
        sp = self.spans[idx]
        return set(range(sp.job_lo + 1, sp.job_hi + 1))

    def self_jobs(self, idx: int) -> set[int]:
        jobs = self.jobs_in(idx)
        for c in self.spans[idx].children:
            jobs -= self.jobs_in(c)
        return jobs

    def totals(self, idx: int, per_job: dict[int, JobTotals]) -> JobTotals:
        """Spark work of the span's own jobs (children's jobs excluded)."""
        t = JobTotals()
        for j in sorted(self.self_jobs(idx)):
            if j in per_job:
                t.add(per_job[j])
        return t

    def record(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "parent": s.parent,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "self_s": round(self.self_time(i), 6),
                "jobs": sorted(self.self_jobs(i)),
            }
            for i, s in enumerate(self.spans)
        ]
