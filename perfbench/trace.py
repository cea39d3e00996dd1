"""Operation timing, failure accounting and (optionally) tracing.

Every call into the library goes through :meth:`Recorder.call`, which times
it, counts it as attempted, and counts an exception as a failure without
stopping the pass. With tracing on it also keeps a span per call in memory
(name, start, end, parent, request id) and runs the call under its own
Spark job group, so the jobs, stages and tasks it launched can be read back
from ``statusTracker()`` once the pass is over.
"""

from __future__ import annotations

import json
import math
import sys
import time
import traceback
from collections import Counter, defaultdict
from dataclasses import asdict, dataclass

FAILED = object()  # returned by Recorder.call when the operation raised


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    group: str
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self, sc, trace: bool):
        self.sc = sc
        self.trace = trace
        self.latency: dict[str, list[float]] = defaultdict(list)
        self.attempted: Counter = Counter()
        self.failed: Counter = Counter()
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def call(self, name: str, fn, *args, request: int | None = None, **kwargs):
        """Run ``fn(*args, **kwargs)`` as operation ``name``. A failure is
        counted, its traceback goes to stderr, and its latency is recorded
        as infinite: a failed operation misses every latency limit."""
        self.attempted[name] += 1
        t0 = time.perf_counter()
        span = self._enter(name, request, t0) if self.trace else None
        try:
            out = fn(*args, **kwargs)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed[name] += 1
            out = FAILED
        t1 = time.perf_counter()
        if span is not None:
            self._exit(span, t1)
        self.latency[name].append(t1 - t0 if out is not FAILED else math.inf)
        return out

    def _enter(self, name: str, request: int | None, t0: float) -> Span:
        parent = self._open[-1].id if self._open else None
        span = Span(len(self.spans), name, t0, t0, parent, request, f"{name}#{len(self.spans)}")
        self.spans.append(span)
        self._open.append(span)
        self.sc.setJobGroup(span.group, name)
        return span

    def _exit(self, span: Span, t1: float) -> None:
        span.end = t1
        self._open.pop()
        if self._open:
            self.sc.setJobGroup(self._open[-1].group, self._open[-1].name)
        else:
            self.sc.setJobGroup("perfbench.outside", "no open span")

    def count_jobs(self) -> None:
        """Fill each span's job/stage/task counts from the status tracker.
        Called after a pass, so the listener has seen every job end."""
        st = self.sc.statusTracker()
        for span in self.spans:
            jobs = st.getJobIdsForGroup(span.group)
            stages = [s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds]
            span.jobs, span.stages = len(jobs), len(stages)
            span.tasks = sum(si.numTasks for s in stages if (si := st.getStageInfo(s)))

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
