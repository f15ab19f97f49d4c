"""Outside-in Spark accounting and in-memory spans for the traced run.

Each measured call runs under its own Spark job group.  After the call the
listener bus is drained and the group's jobs are read back from Spark's
status store (``statusTracker().getJobIdsForGroup`` plus
``statusStore().lastStageAttempt``), which works with the UI disabled.  No
engine module is touched: the numbers are charged to whichever public call
the benchmark wrapped.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: stage-level counters summed per call; executorCpuTime is in ns, run time ms
_STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "executorCpuTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


@dataclass
class CallStats:
    """What Spark did for one wrapped call."""

    wall_s: float
    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: call wall time not covered by any of its jobs: plan building,
    #: driver-side numpy, py4j round trips, scheduling gaps between jobs
    driver_gap_s: float = 0.0


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in spans:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SparkAccounting:
    """Runs calls under fresh job groups and reads their Spark metrics."""

    def __init__(self, spark, prefix: str = "perfbench"):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._prefix = prefix
        self._n = 0

    def call(self, label: str, fn):
        """Run ``fn()`` under its own job group; return (result, CallStats)."""
        gid = f"{self._prefix}-{self._n}-{label}"
        self._n += 1
        self.sc.setJobGroup(gid, label, False)
        t0 = time.time()
        try:
            out = fn()
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        return out, self.read(gid, t0, t1)

    def read(self, gid: str, t0: float, t1: float) -> CallStats:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        st = CallStats(wall_s=t1 - t0)
        intervals = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            jd = store.job(jid)
            st.jobs += 1
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append(
                    (
                        jd.submissionTime().get().getTime() / 1000.0,
                        jd.completionTime().get().getTime() / 1000.0,
                    )
                )
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in list(info.stageIds) if info else []:
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    st.skipped_stages += 1
                    continue
                st.stages += 1
                vals = {f: getattr(sd, f)() for f in _STAGE_FIELDS}
                st.tasks += int(vals["numTasks"])
                st.executor_run_s += vals["executorRunTime"] / 1000.0
                st.executor_cpu_s += vals["executorCpuTime"] / 1e9
                st.shuffle_read_bytes += int(vals["shuffleReadBytes"])
                st.shuffle_write_bytes += int(vals["shuffleWriteBytes"])
                st.spill_bytes += int(vals["memoryBytesSpilled"]) + int(
                    vals["diskBytesSpilled"]
                )
        st.driver_gap_s = st.wall_s - union_length(intervals, t0, t1)
        return st

    def cached_bytes(self) -> int:
        """Memory + disk bytes of every cached RDD / DataFrame."""
        return sum(
            int(i.memSize()) + int(i.diskSize()) for i in self._jsc.getRDDStorageInfo()
        )


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written once at
    the end of the run.  ``span`` opens a plain timing span; ``call`` is a
    leaf span run under its own job group, carrying that call's Spark
    stats.  With no accounting (an untraced run) both are pass-throughs."""

    def __init__(self, accounting: SparkAccounting | None):
        self.acct = accounting
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @property
    def enabled(self) -> bool:
        return self.acct is not None

    def _open(self, name: str, op: int) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, op))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self._stack.pop()
        self.spans[idx].end = time.time()

    @contextmanager
    def span(self, name: str, *, op: int):
        if not self.enabled:
            yield
            return
        idx = self._open(name, op)
        try:
            yield
        finally:
            self._close(idx)

    def call(self, name: str, fn, *, op: int):
        """Run ``fn()``; when tracing, as a leaf span with Spark stats.
        Returns (result, CallStats or None)."""
        if not self.enabled:
            return fn(), None
        idx = self._open(name, op)
        try:
            out, st = self.acct.call(name, fn)
        finally:
            self._close(idx)
        self.spans[idx].attrs = asdict(st)
        return out, st

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
