"""Counters read from Spark over py4j, from outside the engine.

- job, stage and task counts per job group, from the status tracker;
- Catalyst phase times, from ``queryExecution().tracker()``;
- bytes held by persisted RDDs and cached tables, from RDD storage info;
- the driver JVM's live heap after a full collection, and its peak
  resident memory (``VmHWM``).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class JobGroups:
    """Tags the jobs of each call with its own job group, so the status
    tracker can attribute jobs, stages and tasks to it afterwards."""

    sc: object
    prefix: str
    groups: list[str] = field(default_factory=list)

    def set(self, name: str) -> str:
        group = f"{self.prefix}:{len(self.groups)}:{name}"
        self.groups.append(group)
        self.sc.setJobGroup(group, name)
        return group

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, groups: list[str]) -> dict[str, int]:
        """Jobs, stages run and tasks completed over ``groups``. Stages that
        AQE or shuffle reuse skipped complete no task and are not counted."""
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for group in groups:
            for job_id in tracker.getJobIdsForGroup(group):
                jobs += 1
                job = tracker.getJobInfo(job_id)
                for stage_id in job.stageIds if job else ():
                    stage = tracker.getStageInfo(stage_id)
                    if stage and stage.numCompletedTasks > 0:
                        stages += 1
                        tasks += stage.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


def plan(df):
    """Force ``df``'s physical plan, which its action then reuses; returns
    the query execution."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    return qe


def plan_phases(spark, qe) -> dict[str, float]:
    """Catalyst phase times in ms (analysis, optimization, planning) of a
    planned query execution, from its planning tracker."""
    jvm = spark._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
    return {name: float(phases.get(name).durationMs()) for name in phases.keySet()}


def storage_mb(spark) -> float:
    """Memory plus disk held by every persisted RDD (cached tables,
    persisted and checkpointed artifacts)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def jvm_live_heap_mb(spark) -> float:
    """Heap the driver JVM still uses after full collections: what the
    session retains (cached tables, memos, Spark's own state). One
    collection can leave twice the live set behind (objects Spark's
    cleaner releases only after it), so this takes the least used heap
    over several collections, a moment apart."""
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(5):
        jvm.java.lang.System.gc()
        used.append(rt.totalMemory() - rt.freeMemory())
        time.sleep(0.2)
    return min(used) / MB


def jvm_peak_rss_mb(spark) -> float:
    """``VmHWM`` of the driver JVM, found through the JVM's own pid."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
