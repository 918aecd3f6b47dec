"""In-memory spans around the benchmark's calls into each layer.

A span records (name, start, end, parent, run id). Opening a span also
sets Spark's job group to the span's name, so the event log attributes
the jobs the call launches (see ``eventlog.py``). Spans stay in memory
and are written out with the run's result.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


GROUP_KEY = "spark.jobGroup.id"


def job_group(sc, group: str | None) -> str | None:
    """Set the job group of this thread's next Spark jobs; returns the
    previous one so a caller can restore it."""
    prev = sc.getLocalProperty(GROUP_KEY)
    sc.setLocalProperty(GROUP_KEY, group)
    return prev


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, tag: bool = True):
        """Time the body as a child of the innermost open span. The body's
        Spark jobs carry ``name`` as their job group, or none without ``tag``."""
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        outer = job_group(self._sc, name if tag else None)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            job_group(self._sc, outer)

    def self_seconds(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.seconds
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + s.seconds - child.get(i, 0.0)
        return out

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
