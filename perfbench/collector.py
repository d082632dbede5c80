"""Per-layer counts read from Spark's status store.

A region is bracketed by job-id range, not by job group: ``foreachBatch``
bodies run on the stream thread and their jobs carry the stream's group,
never the caller's, so a ``setJobGroup`` bracket misses them. The range
is read from the DAG scheduler's next job id before and after the
region; after the region the listener bus is drained so that the status
store holds every job and stage the region started.

Only public status-store reads are used (the same data the Spark UI
shows), and they work with ``spark.ui.enabled=false``. ``spent_s`` adds
up the time :meth:`StatusStore.mark` and :meth:`StatusStore.since` take,
bus drains included: the cost of bracketing.
"""

from __future__ import annotations

import time
from dataclasses import asdict, dataclass


@dataclass
class Counts:
    """Totals over the jobs of one region. ``stages`` excludes skipped
    stages; ``task_ms`` is summed executor run time; ``shuffle_bytes``
    is shuffle bytes written; ``spill_bytes`` is memory plus disk spill."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_ms: int = 0
    shuffle_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0

    def as_dict(self) -> dict:
        return asdict(self)


class StatusStore:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self.spent_s = 0.0

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """The first job id of a region: call right before it."""
        t0 = time.perf_counter()
        self._drain()
        mark = self._sc.dagScheduler().nextJobId()
        self.spent_s += time.perf_counter() - t0
        return mark

    def since(self, mark: int) -> Counts:
        """Totals over every job started since ``mark``; call right after
        the region ends."""
        t0 = time.perf_counter()
        end = self._sc.dagScheduler().nextJobId()
        self._drain()
        c = Counts(jobs=end - mark)
        seen: set[int] = set()
        for job_id in range(mark, end):
            try:
                stage_ids = self._store.job(job_id).stageIds()
            except Exception:  # evicted past spark.ui.retainedJobs
                continue
            it = stage_ids.iterator()
            while it.hasNext():
                seen.add(int(it.next()))
        for sid in seen:
            s = self._store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            c.stages += 1
            c.tasks += s.numCompleteTasks()
            c.task_ms += s.executorRunTime()
            c.shuffle_bytes += s.shuffleWriteBytes()
            c.shuffle_read_bytes += s.shuffleReadBytes()
            c.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            c.input_bytes += s.inputBytes()
            c.output_bytes += s.outputBytes()
        self.spent_s += time.perf_counter() - t0
        return c
