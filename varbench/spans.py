"""Spans and Spark stage metrics for the traced run.

Spans are recorded only here, around the calls the benchmark makes
into the package's layers. They are kept in memory and written once
when the run ends. With tracing off, ``Tracer(enabled=False)`` hands
out a shared no-op context, so the untraced run pays one attribute
lookup per would-be span.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    op_id: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    op_id: str = ""

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), name, self.op_id, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.span_id, [])]
            )
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered
        return out

    def as_json(self) -> list[dict]:
        return [
            {"id": s.span_id, "name": s.name, "op": s.op_id, "parent": s.parent,
             "start": round(s.start, 6), "end": round(s.end, 6)}
            for s in self.spans
        ]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@contextlib.contextmanager
def wrapped(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Temporarily replace ``module.attr`` with a span-recording wrapper
    for each (module, attr, span name). Queries bind ``load_table`` by
    name at import, so each importing module is patched separately."""
    saved = []
    for mod, attr, name in targets:
        orig = getattr(mod, attr)

        def wrapper(*a, _orig=orig, _name=name, **kw):
            with tracer.span(_name):
                return _orig(*a, **kw)

        saved.append((mod, attr, orig))
        setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


#: StageData fields summed per op, with the scale to the reported unit.
STAGE_FIELDS = {
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "tasks": ("numTasks", 1),
    "input_bytes": ("inputBytes", 1),
    "input_records": ("inputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "gc_s": ("jvmGcTime", 1e-3),
}


class StageReader:
    """Reads the status store for the jobs an op started. Jobs are taken
    by id range, because a streaming query runs its batches under its
    own job group on its own thread; the op's job group is recorded
    with each job."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._next_job = self._probe_next_job(0)

    def _job(self, job_id: int):
        try:
            return self._sc.statusStore().job(job_id)
        except Exception:  # py4j raises NoSuchElementException for absent ids
            return None

    def _probe_next_job(self, start: int) -> int:
        j = start
        while self._job(j) is not None:
            j += 1
        return j

    def read(self) -> dict[str, dict]:
        """Stage metrics summed per job group over the jobs started since
        the last call."""
        self._sc.listenerBus().waitUntilEmpty(30_000)
        store = self._sc.statusStore()
        out: dict[str, dict] = {}
        seen = set()
        j = self._next_job
        while (job := self._job(j)) is not None:
            grp = job.jobGroup()
            totals = out.setdefault(grp.get() if grp.isDefined() else "", _zero())
            totals["jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                totals["stages"] += 1
                for key, (attr, scale) in STAGE_FIELDS.items():
                    totals[key] += getattr(st, attr)() * scale
            j += 1
        self._next_job = j
        return out


def _zero() -> dict:
    return dict.fromkeys([*STAGE_FIELDS, "stages", "jobs"], 0.0)


def summed(groups: dict[str, dict]) -> dict:
    total = _zero()
    for g in groups.values():
        for k in total:
            total[k] += g[k]
    return total


def executor_totals(spark) -> dict:
    """Application-wide cumulative counters, not subject to the status
    store's stage retention: shuffle-write bytes of all executors and
    the JVM's total garbage-collection time."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(30_000)
    execs = sc.statusStore().executorList(True)
    out = {"shuffle_write_bytes": sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size()))}
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    out["gc_s"] = sum(b.getCollectionTime() for b in beans) / 1000
    return out
