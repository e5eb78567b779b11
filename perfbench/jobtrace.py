"""Per-phase job accounting from outside the program.

Each call into a public pimdb_spark function runs inside ``Tracer.phase``.
Untraced, a phase only takes wall time.  Traced, it also runs the call in
its own Spark job group and, right after the call, reads the status
store: the group's jobs from ``statusTracker()`` and, for each of their
stages, ``statusStore().lastStageAttempt(id)``.  Reading right away
matters: Spark keeps only ~1000 jobs and stages, so a read at the end of a
long run would silently lose the early ones.  Every job and stage id must
resolve, or the phase raises.  This works with the Spark UI disabled.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.metrics import COUNTERS


class LostJobError(RuntimeError):
    """A job or stage of a traced phase is gone from the status store."""


class Tracer:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.totals: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(COUNTERS, 0)
        )
        self.calls: dict[str, int] = defaultdict(int)
        self.input_records: dict[str, int] = defaultdict(int)
        self._seq = 0

    @contextmanager
    def phase(self, name: str):
        """Time (and, traced, account for) one call; yields a dict that
        receives ``wall_s`` when the call returns."""
        out: dict[str, float] = {}
        sc = self.spark.sparkContext
        group = None
        if self.traced:
            self._seq += 1
            group = f"perfbench-{self._seq}-{name}"
            sc.setJobGroup(group, name, interruptOnCancel=False)
        t0 = time.perf_counter()
        try:
            yield out
            out["wall_s"] = time.perf_counter() - t0
        finally:
            if group is not None:
                sc._jsc.clearJobGroup()
        self.calls[name] += 1
        self.totals[name]["wall_s"] += out["wall_s"]
        if group is not None:
            self._account(name, group)

    def _account(self, name: str, group: str) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # status store is fed asynchronously
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                raise LostJobError(f"{name}: job {jid} of {group} is not in the status store")
            stage_ids.update(info.stageIds)
        t = self.totals[name]
        t["jobs"] += len(job_ids)
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception as exc:  # py4j wraps NoSuchElementException
                raise LostJobError(f"{name}: stage {sid} of {group} is not in the status store") from exc
            if sd.status().toString() == "SKIPPED":
                continue
            t["stages"] += 1
            t["tasks"] += sd.numTasks()
            t["failed_tasks"] += sd.numFailedTasks()
            t["executor_run_s"] += sd.executorRunTime() / 1000.0
            t["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            t["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            t["input_bytes"] += sd.inputBytes()
            self.input_records[name] += sd.inputRecords()

    def per_call(self, name: str) -> dict[str, float]:
        """Mean of each counter over the phase's calls (zeros if none)."""
        n = self.calls[name]
        return {c: (v / n if n else 0.0) for c, v in self.totals[name].items()}
