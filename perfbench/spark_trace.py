"""Spans and Spark counters, recorded from outside the program.

A :class:`Tracer` keeps every span in memory: name, start, end, parent
span and the id of the request it belongs to.  Spans are cheap and are
always recorded, because the end-to-end latencies are read from them.
The Spark counters are the expensive part and are read only when the
tracer is enabled (``--trace 1``): each request step runs under its own
job group, and once it ends the listener bus is drained and the job
group's jobs and stages are read from the status store, before its
retention limit can evict them.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

#: Stage and job counters summed per job group by :func:`read_counters`.
COUNTER_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "job_wall_ms",
    "executor_run_ms",
    "executor_cpu_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    request: str
    name: str
    parent: int | None
    phase: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder; Spark counters only when ``enabled``.

    Every span is stamped with the current ``phase`` (``setup``,
    ``warmup`` or ``timed``); totals and counters read timed spans only,
    and counters are only collected for them.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.phase = "setup"
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._spark = None

    def attach(self, spark) -> None:
        """Point the counters at a (new) session."""
        self._spark = spark

    @contextlib.contextmanager
    def span(self, name: str, request: str = "run", job_group: bool = False):
        """Time the body as one span.  With ``job_group`` and an enabled
        tracer the body's Spark jobs are tagged and counted."""
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans), request, name, parent, self.phase, time.perf_counter()
        )
        self.spans.append(s)
        self._stack.append(s.id)
        group = f"{request}/{name}/{s.id}"
        counting = (
            job_group
            and self.enabled
            and self.phase == "timed"
            and self._spark is not None
        )
        if counting:
            self._spark.sparkContext.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if counting:
                s.counters = read_counters(self._spark, group)

    def durations_s(self, name: str, phase: str = "timed") -> list[float]:
        return [s.ms / 1000 for s in self.spans if s.name == name and s.phase == phase]

    def total_ms(self, name: str) -> float:
        return 1000 * sum(self.durations_s(name))

    def counter(self, key: str, names: tuple[str, ...] | None = None) -> float:
        return sum(
            s.counters.get(key, 0)
            for s in self.spans
            if s.phase == "timed" and (names is None or s.name in names)
        )

    def dump(self, path: str, extra: dict) -> None:
        """Write every span, plus run facts, as one JSON document."""
        with open(path, "w") as fh:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, fh)


def read_counters(spark, group: str) -> dict:
    """Sum the status-store counters of every job in ``group``.

    ``job_wall_ms`` is the union of the jobs' submit→complete
    intervals, so concurrent jobs (broadcasts) are not counted twice.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    out = dict.fromkeys(COUNTER_FIELDS, 0)
    intervals = []
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out["jobs"] += 1
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append(
                (
                    job.submissionTime().get().getTime(),
                    job.completionTime().get().getTime(),
                )
            )
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            stage = store.lastStageAttempt(stage_ids.apply(i))
            if stage.status().toString() != "COMPLETE":
                continue  # skipped: its map output was reused
            out["stages"] += 1
            out["tasks"] += stage.numTasks()
            out["failed_tasks"] += stage.numFailedTasks()
            out["executor_run_ms"] += stage.executorRunTime()
            out["executor_cpu_ms"] += stage.executorCpuTime() / 1e6
            out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
            out["shuffle_read_bytes"] += stage.shuffleReadBytes()
            out["spill_bytes"] += stage.diskBytesSpilled()
    out["job_wall_ms"] = _union_ms(intervals)
    return out


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s last
    execution, from ``QueryExecution.tracker()``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
