"""In-memory spans around the calls the benchmark makes into each layer.

A span has a name, start, end, parent and run id. With tracing on, each
span also runs its Spark jobs under its own job group and, when it ends,
reads that group's jobs and stages from Spark's status store (which is
kept with ``spark.ui.enabled=false``): jobs, tasks, input, shuffle,
spill and output bytes. With tracing off a span only keeps its times,
which the end-to-end metrics need anyway.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = ("jobs", "tasks", "input_bytes", "shuffle_bytes", "spill_bytes", "bytes_written")


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: int
    id: int
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self._mark: Span | None = None
        self._status = self.sc._jsc.sc().statusStore() if enabled else None

    def begin(self, name: str, run_id: int | None = None) -> Span:
        """Open a span; without a ``run_id`` it takes its parent's, or -1
        (set-up) at top level."""
        top = self._stack[-1] if self._stack else None
        if run_id is None:
            run_id = top.run_id if top else -1
        sp = Span(name, time.perf_counter(), top.id if top else None, run_id, next(self._ids))
        self._stack.append(sp)
        if self.enabled:
            self.sc.setJobGroup(f"perfbench-{sp.id}", name)
        return sp

    def end(self, sp: Span) -> None:
        if self._mark is not None and self._mark.parent == sp.id:
            self.close_mark()
        sp.end = time.perf_counter()
        self._stack.remove(sp)
        self.spans.append(sp)
        if self.enabled:
            sp.counters = self._counters(f"perfbench-{sp.id}")
            # jobs after this span belong to the enclosing one again
            if self._stack:
                self.sc.setJobGroup(f"perfbench-{self._stack[-1].id}", self._stack[-1].name)
            else:
                self.sc._jsc.clearJobGroup()

    @contextmanager
    def span(self, name: str, run_id: int | None = None):
        sp = self.begin(name, run_id)
        try:
            yield sp
        finally:
            self.end(sp)

    def mark(self, name: str) -> None:
        """Start a child span of the current one that runs until the next
        mark or the end of its parent: for work the benchmark cannot wrap
        (a model or a check runs inside one package call, and the
        benchmark only sees the callback that starts each)."""
        self.close_mark()
        self._mark = self.begin(name)

    def close_mark(self) -> None:
        if self._mark is not None:
            sp, self._mark = self._mark, None
            self.end(sp)

    def _counters(self, group: str) -> dict[str, float]:
        c = dict.fromkeys(COUNTERS, 0)
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            c["jobs"] += 1
            stages = self._status.job(job_id).stageIds().iterator()
            while stages.hasNext():
                sd = self._status.lastStageAttempt(stages.next())
                if sd.status().toString() == "SKIPPED":
                    continue
                c["tasks"] += sd.numCompleteTasks()
                c["input_bytes"] += sd.inputBytes()
                c["shuffle_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c["bytes_written"] += sd.outputBytes()
        return c

    def gc_seconds(self) -> float:
        """Total collection time of the driver JVM's collectors."""
        if not self.enabled:
            return 0.0
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    # --- summaries ---------------------------------------------------------

    def self_seconds(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        children = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent] += s.seconds
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.seconds - children[s.id]
        return dict(out)

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "self_seconds": self.self_seconds()}, fh)
