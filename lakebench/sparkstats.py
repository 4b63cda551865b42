"""Per-operation Spark numbers, read from the status store, and the
arithmetic that rolls them up per pass.

The benchmark sets a job group around each call it makes into the
package and, in a traced pass, reads the jobs of that group and their
stages from ``SparkContext.statusStore()`` after the call returns.
Nothing inside the package is instrumented. The roll-up functions at the
bottom are plain arithmetic over these records, so they are tested
without Spark.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

#: StageData fields summed per operation: metric name -> (getter, scale)
_STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
    "input_mb": ("inputBytes", 1 / 2**20),
}
COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", *_STAGE_FIELDS)


@dataclass
class OpStats:
    """What Spark did for one operation: counters and job intervals
    (epoch seconds, from the status store's submission and completion
    times)."""

    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))
    intervals: list[tuple[float, float]] = field(default_factory=list)


def read_group(sc, group: str) -> OpStats:
    """Collect the jobs tagged ``group`` and their executed stages."""
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    no_status = sc._jvm.java.util.ArrayList()
    out = OpStats()
    c = out.counters
    stage_ids: set[int] = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        j = store.job(job_id)
        c["jobs"] += 1
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isDefined() and done.isDefined():
            out.intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        ids = j.stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, no_status, False, empty).iterator()
        while attempts.hasNext():
            s = attempts.next()
            if s.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            c["failed_tasks"] += s.numFailedTasks()
            for name, (getter, scale) in _STAGE_FIELDS.items():
                c[name] += getattr(s, getter)() * scale
    return out


# --- roll-up arithmetic (no Spark) ---------------------------------------


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def idle_cluster_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Wall time in ``[lo, hi]`` during which no Spark job ran."""
    return (hi - lo) - covered_s(intervals, lo, hi)


def core_busy_ratio(executor_run_s: float, wall_s: float, cores: int) -> float:
    """Executor run time as a share of the cores' wall time."""
    return executor_run_s / (wall_s * cores)


def pass_counters(ops: list[OpStats]) -> dict[str, float]:
    """Sum the counters of every operation in one pass."""
    total = dict.fromkeys(COUNTERS, 0.0)
    for op in ops:
        for k, v in op.counters.items():
            total[k] += v
    return total
