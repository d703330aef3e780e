"""Spans recorded around the benchmark's calls into the program.

Only the benchmark's own files record spans: each span wraps one call
into a public function of ``session``, ``hierarchy`` or ``rollup`` (or
the benchmark's own verify step). Spans are kept in memory and written
out once, when the run ends. The untraced run uses ``NullTracer``,
whose spans cost one context-manager entry and nothing else.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        yield None

    def set_op(self, op: int | None) -> None:
        pass


class Tracer:
    """Records spans; with a SparkContext attached, every span also runs
    its Spark jobs under a job group of its own, so jobs, tasks and
    shuffle bytes can be attributed to the span that caused them."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self.sc = None
        # time the tracer spends on its own bookkeeping while an op runs
        self.overhead_s = 0.0

    def set_op(self, op: int | None) -> None:
        self._op = op

    def _group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, self._op, parent and parent.id, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        t1 = time.perf_counter()
        s.start = t1
        try:
            yield s
        finally:
            t2 = time.perf_counter()
            s.end = t2
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def collect_jobs(self, spans: list[Span]) -> None:
        """Attach (job id, tasks run, shuffle bytes written) to each span.
        Waits for Spark's listener bus first: job-end events are
        delivered asynchronously, after the action has returned."""
        if self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        for s in spans:
            for job in tracker.getJobIdsForGroup(f"span{s.id}"):
                info = tracker.getJobInfo(job)
                tasks = shuffle = 0
                for stage in info.stageIds if info else ():
                    data = store.lastStageAttempt(stage)
                    if data.status().toString() != "SKIPPED":
                        tasks += data.numTasks()
                        shuffle += data.shuffleWriteBytes()
                s.jobs.append((job, tasks, shuffle))

    def self_time(self, spans: list[Span]) -> dict[str, float]:
        """Seconds per layer spent in a span of that layer and not in any
        of its child spans."""
        child: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in spans:
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child.get(s.id, 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
