"""Spans around calls into the program's layers, with Spark counts per span.

Spark is lazy: a span around a call that returns a DataFrame only times
building the plan. In a traced op the wrappers here therefore materialize
a layer's output inside its span (persist, then a ``noop`` write), so the
next layer starts from cached input and each span holds its own work.

Every span runs its Spark jobs under its own job group. After the op the
groups are resolved through the status tracker and the status store into
task, shuffle, run-time and GC counts. A span's self time and counts
exclude those of its child spans.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field
from typing import Callable, Iterator, Optional

ROOT_SPAN = "op"  # wraps a traced op; holds no layer's work
STAGE_COUNTERS = ("tasks", "failed_tasks", "executor_run_s", "gc_s", "shuffle_write_bytes", "input_bytes")


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    op: int
    group: str
    start: float
    end: float = 0.0
    self_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    counts: dict = field(default_factory=lambda: dict.fromkeys(STAGE_COUNTERS, 0))
    extra: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Holds the spans of one run in memory; ``dump`` writes them out."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._cached: list = []  # released when the next frame is materialized
        self._pinned: list = []  # kept until ``release``
        self.op = -1

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            op=self.op,
            group=f"perfbench-{self.op}-{len(self.spans)}",
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def materialize(self, df, *, pin: bool = False):
        """Persist ``df`` and compute it with a ``noop`` write. Unpinned
        frames materialized earlier are released: in a chain of layers
        their data now lives in the newer cache."""
        df.persist()
        df.write.format("noop").mode("overwrite").save()
        for old in self._cached:
            old.unpersist()
        self._cached = []
        (self._pinned if pin else self._cached).append(df)
        return df

    def is_materialized(self, df) -> bool:
        return any(df is c for c in self._cached + self._pinned)

    def release(self) -> None:
        for df in self._cached + self._pinned:
            df.unpersist()
        self._cached, self._pinned = [], []

    def cached_bytes(self) -> int:
        """Memory plus disk bytes of every RDD block currently cached."""
        return sum(
            int(info.memSize()) + int(info.diskSize())
            for info in self.sc._jsc.sc().getRDDStorageInfo()
        )

    # -- wrappers --------------------------------------------------------------

    def timed(self, name: str, fn: Callable, *, before: Optional[Callable] = None) -> Callable:
        """``fn`` in a span; ``before(span)`` runs first inside the span."""

        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                if before:
                    before(s)
                return fn(*args, **kwargs)

        return wrapper

    def forced(self, name: str, fn: Callable, *, input_span: Optional[str] = None,
               pin: bool = False) -> Callable:
        """``fn(df, ...)`` returning a DataFrame, with its output materialized
        in the span. When the input frame is not materialized yet it is
        materialized first, in a sibling span named ``input_span``."""

        def wrapper(df, *args, **kwargs):
            if input_span and not self.is_materialized(df):
                with self.span(input_span):
                    self.materialize(df)
            with self.span(name):
                return self.materialize(fn(df, *args, **kwargs), pin=pin)

        return wrapper

    # -- Spark counts ----------------------------------------------------------

    def resolve(self, spans: list[Span]) -> None:
        """Fill job/stage counts and self times of ``spans`` (one op)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in spans:
            for job_id in tracker.getJobIdsForGroup(s.group):
                s.jobs += 1
                it = store.job(job_id).stageIds().iterator()
                while it.hasNext():
                    st = store.lastStageAttempt(it.next())
                    if st.status().toString() == "SKIPPED":
                        continue
                    s.stages += 1
                    c = s.counts
                    c["tasks"] += st.numTasks()
                    c["failed_tasks"] += st.numFailedTasks()
                    c["executor_run_s"] += st.executorRunTime() / 1000.0
                    c["gc_s"] += st.jvmGcTime() / 1000.0
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["input_bytes"] += st.inputBytes()
        set_self_times(spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def set_self_times(spans: list[Span]) -> None:
    """A span's self time is its duration minus the time its children cover."""
    for s in spans:
        covered = sum(
            min(c.end, s.end) - max(c.start, s.start)
            for c in spans
            if c.parent == s.id
        )
        s.self_s = (s.end - s.start) - covered


def layer_coverage(spans: list[Span], op_s: float) -> float:
    """Share of an op's wall time ``op_s`` that layer spans cover: the self
    times of every span but the root ``op`` span, whose self time is the
    time no layer span covers."""
    return sum(s.self_s for s in spans if s.name != ROOT_SPAN) / op_s


@contextlib.contextmanager
def patched(obj, attr: str, make: Callable[[Callable], Callable]) -> Iterator[None]:
    """Replace ``obj.attr`` with ``make(original)`` for the block."""
    orig = getattr(obj, attr)
    setattr(obj, attr, make(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)
