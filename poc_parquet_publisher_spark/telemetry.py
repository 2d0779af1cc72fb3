"""Where a block's time went, read from Spark's status store.

``phase(spark)`` is the one way the tools in this repository measure a
registry entry (``bench.py``, ``scripts/profile_entry.py``,
``scripts/scale_probe.py``): wall seconds, the jobs, stages and tasks the
block ran, and their executor CPU, shuffle writes and spills. The store
is fed by Spark's status listener whether or not the UI serves it, so a
session with ``spark.ui.enabled=false`` (the default here) still reports.
"""

from __future__ import annotations

import contextlib
import time
import uuid
from dataclasses import dataclass, field

# The thread-local properties SparkContext.setJobGroup sets.
_GROUP_PROPERTIES = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


@dataclass
class Phase:
    """What one ``phase`` block did. ``stages`` counts every stage of
    the block's jobs, skipped ones included; ``per_stage`` holds one row
    per stage attempt that was not skipped."""

    seconds: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    per_stage: list[dict] = field(default_factory=list)


@contextlib.contextmanager
def phase(spark):
    """Run the block under a fresh job group and yield a ``Phase`` that
    is filled in when the block exits; the caller's job group is
    restored afterwards.

    The record is read as soon as the block returns, because the status
    store keeps only the last ``spark.ui.retainedJobs`` and
    ``spark.ui.retainedStages`` (1000 each). Jobs are found by job group,
    so jobs that a streaming query runs for the block (a memory-sink
    drain at build time) are not counted: they run on the stream's
    thread, under the stream's own run-id group.
    """
    sc = spark.sparkContext
    saved = [sc.getLocalProperty(key) for key in _GROUP_PROPERTIES]
    group = f"phase-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    record = Phase()
    try:
        t0 = time.perf_counter()
        yield record
        record.seconds = time.perf_counter() - t0
    finally:
        for key, value in zip(_GROUP_PROPERTIES, saved):
            sc.setLocalProperty(key, value)
    _read(sc, group, record)


def _read(sc, group: str, record: Phase) -> None:
    jsc = sc._jsc.sc()
    # Job and stage end events reach the store through the listener bus
    # after the action has returned; drain it so the last stage counts.
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for job in job_ids:
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    record.jobs = len(job_ids)
    record.stages = len(stage_ids)
    for sid in sorted(stage_ids):
        attempts = store.stageData(
            sid, False, sc._jvm.java.util.ArrayList(), False, no_quantiles
        )
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            if sd.status().toString() == "SKIPPED":
                continue
            cpu_ns = sd.executorCpuTime()
            shuffle_b = sd.shuffleWriteBytes()
            spill_b = sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            tasks = sd.numCompleteTasks()
            record.per_stage.append(
                {
                    "stage": sid,
                    "name": sd.name().split("\n")[0][:80],
                    "tasks": tasks,
                    "run_ms": sd.executorRunTime(),
                    "cpu_ms": round(cpu_ns / 1e6, 1),
                    "shuffle_read_mb": round(sd.shuffleReadBytes() / 1e6, 2),
                    "shuffle_write_mb": round(shuffle_b / 1e6, 2),
                    "input_mb": round(sd.inputBytes() / 1e6, 2),
                    "spill_mb": round(spill_b / 1e6, 2),
                }
            )
            record.tasks += tasks
            record.cpu_s += cpu_ns / 1e9
            record.shuffle_mb += shuffle_b / 1e6
            record.spill_mb += spill_b / 1e6
