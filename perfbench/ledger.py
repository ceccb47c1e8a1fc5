"""Job-scoped Spark counters, read from the live status store.

Each measured call runs under its own job group; afterwards the
ledger asks the status store (``sc._jsc.sc().statusStore()``) for that
group's jobs and sums their stages. Keying on the group instead of
diffing global totals keeps the numbers right after
``spark.ui.retainedStages`` starts evicting old stages, where global
diffs go negative. Reading the store runs no Spark job.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager

COUNTERS = (
    "jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "executor_run_s",
    "executor_cpu_s", "gc_s",
)


class Ledger:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._ids = itertools.count()

    @contextmanager
    def scope(self, label: str):
        """Run the body under a fresh job group; yields the group id."""
        group = "perfbench-%d-%s" % (next(self._ids), label)
        self.sc.setJobGroup(group, label)
        try:
            yield group
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def read(self, group: str) -> dict:
        """Counters of every job in ``group``, plus the job intervals
        as (submitted, completed) epoch-millisecond pairs."""
        # job and stage end events reach the store through the
        # asynchronous listener bus; drain it so the last stage counts
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        intervals = []
        seen: set[int] = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            out["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime(),
                                  job.completionTime().get().getTime()))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, None, False, None)
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numTasks()
                    out["input_bytes"] += s.inputBytes()
                    out["shuffle_read_bytes"] += s.shuffleReadBytes()
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    out["executor_run_s"] += s.executorRunTime() / 1e3
                    out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                    out["gc_s"] += s.jvmGcTime() / 1e3
        out["intervals"] = intervals
        return out


def busy_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of millisecond intervals, in seconds."""
    total = 0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3
