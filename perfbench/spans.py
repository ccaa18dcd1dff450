"""Spans around the benchmark's calls into the package's layers.

A span records name, phase, start, end, parent and operation id. When
tracing is on, each span tags the Spark jobs it starts with its own
``setJobGroup`` id and, at exit, reads the group's counters from the
status store: jobs, completed tasks, shuffle read/write bytes, spill
and output bytes. Job names cannot attribute work to a layer — Spark
names jobs after Java frames such as ``count at
NativeMethodAccessorImpl.java:0`` — so the group is the only tag.

With tracing off, ``span`` yields at once and records nothing, so the
untraced run measures the program alone.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)

#: bounded wait for the listener bus to deliver job-end events before
#: the status store is read (the same bounded-wait rule as the
#: package's ``functions/obs.py``): a lost event must not hang the run
LISTENER_WAIT_MS = 10_000


@dataclass
class Span:
    name: str
    phase: str  # "call", "construct" or "execute"
    start: float
    end: float
    span_id: int
    parent: int | None
    op_id: int | None
    counters: dict[str, int] = field(default_factory=dict)


class Tracer:
    """Records spans in memory; ``enabled=False`` makes every span free."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._spark = spark
        self._stack: list[tuple[int, str]] = []
        self._next_id = 0
        self.op_id: int | None = None

    @property
    def _sc(self):
        return self._spark.sparkContext

    @contextmanager
    def span(self, name: str, phase: str = "call"):
        if not self.enabled:
            yield
            return
        span_id = self._next_id
        self._next_id += 1
        group = f"perfbench-{span_id}"
        parent = self._stack[-1] if self._stack else None
        self._sc.setJobGroup(group, name)
        self._stack.append((span_id, group))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self._sc._jsc.clearJobGroup()
            else:
                self._sc.setJobGroup(parent[1], "")
            self.spans.append(
                Span(
                    name, phase, start, end, span_id,
                    parent[0] if parent else None, self.op_id,
                    self._group_counters(group),
                )
            )

    def call(self, name: str, fn, *args, **kwargs):
        """Span around an eager call into a layer."""
        with self.span(name):
            return fn(*args, **kwargs)

    def lazy(self, name: str, fn, *args, action, **kwargs):
        """Span a call that returns a lazy DataFrame: ``construct`` is
        the call, ``execute`` the benchmark's ``action`` on its result."""
        with self.span(name, "construct"):
            df = fn(*args, **kwargs)
        with self.span(name, "execute"):
            return action(df)

    def _group_counters(self, group: str) -> dict[str, int]:
        jsc = self._sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(LISTENER_WAIT_MS)
        except Exception as e:  # py4j wraps the JVM TimeoutException
            raise RuntimeError(f"listener bus did not drain for {group}") from e
        store = jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        stages: set[int] = set()
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            out["tasks"] += job.numCompletedTasks()
            it = job.stageIds().iterator()
            while it.hasNext():
                stages.add(it.next())
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError as e:
                # past spark.ui.retainedStages the store drops skipped
                # stages first (they have no completion time); a skipped
                # stage ran nothing, so it adds nothing
                if e.java_exception.getClass().getName() != "java.util.NoSuchElementException":
                    raise
                continue
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["output_bytes"] += st.outputBytes()
        return out

    # ------------------------------------------------------------------
    # reports

    def inclusive(self) -> dict[int, dict[str, int]]:
        """Counters per span including its descendants' (a parent's own
        group holds only the jobs started outside its child spans)."""
        total = {s.span_id: dict(s.counters) for s in self.spans}
        # children close before their parent, so they come first
        for s in self.spans:
            if s.parent is not None:
                for k, v in total[s.span_id].items():
                    total[s.parent][k] += v
        return total

    def self_times(self) -> dict[tuple[str, str], list[float]]:
        """(name, phase) → [calls, total seconds, self seconds]; self
        time is the span's time minus what its child spans cover
        (children run one after another, so their durations add)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.end - s.start
        out: dict[tuple[str, str], list[float]] = {}
        for s in self.spans:
            row = out.setdefault((s.name, s.phase), [0, 0.0, 0.0])
            dur = s.end - s.start
            row[0] += 1
            row[1] += dur
            row[2] += dur - child_time.get(s.span_id, 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
