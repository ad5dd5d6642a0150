"""Spark status-store collector: per-call job and stage metrics.

Each benchmark operation runs under its own Spark job group. After the
operation returns, the collector waits for the listener bus to drain and
reads the group's jobs and stages from ``SparkContext.statusStore()``
through py4j. This works with ``spark.ui.enabled=false``: the status
store is filled by the listener, not by the UI.

A stage is a *UDF stage* when its RDD operation graph holds a
``MapInArrow`` (or ``MapInPandas``) node: that is where the engine's
Python task code runs (encode or decode). Every other completed stage is
scan, exchange or driver-side plumbing.
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass, field

_UDF_NODES = ("MapInArrow", "MapInPandas")


@dataclass
class StageMetrics:
    stage_id: int
    udf: bool
    num_tasks: int
    run_s: float            # summed executor run time of the stage's tasks
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int        # memory + disk bytes spilled
    failed_tasks: int
    task_run_p50_s: float
    task_run_max_s: float


@dataclass
class CallMetrics:
    label: str
    wall_s: float
    jobs_s: float           # union of the group's job intervals
    n_jobs: int
    stages: list[StageMetrics] = field(default_factory=list)

    @property
    def driver_s(self) -> float:
        """Wall time of the call not covered by any of its Spark jobs."""
        return max(0.0, self.wall_s - self.jobs_s)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


class StatusCollector:
    """Runs callables under a fresh job group and reads their metrics."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._store = self._sc._jsc.sc().statusStore()
        self._ids = itertools.count()
        q = self._sc._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q

    def _seq(self, s) -> list:
        return list(self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(s))

    def _drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def run(self, label: str, fn, *args, **kwargs):
        """Call ``fn`` under a new job group; return (result, CallMetrics)."""
        group = f"perfbench-{label}-{next(self._ids)}"
        self._sc.setJobGroup(group, label)
        t0 = time.time()
        try:
            result = fn(*args, **kwargs)
        finally:
            wall = time.time() - t0
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        return result, self.metrics(group, label, wall)

    def metrics(self, group: str, label: str, wall_s: float) -> CallMetrics:
        self._drain()
        intervals, stage_ids = [], []
        n_jobs = 0
        for j in self._seq(self._store.jobsList(None)):
            g = j.jobGroup()
            if not g.isDefined() or g.get() != group:
                continue
            n_jobs += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
            stage_ids += [int(s) for s in self._seq(j.stageIds())]
        out = CallMetrics(label, wall_s, min(wall_s, _union_len(intervals)),
                          n_jobs)
        for sid in sorted(set(stage_ids)):
            out.stages += self._stage(sid)
        return out

    def _stage(self, sid: int) -> list[StageMetrics]:
        found = []
        for s in self._seq(self._store.stageData(sid, False, None, True,
                                                 self._quantiles)):
            if s.status().toString() != "COMPLETE":
                continue  # skipped (reused shuffle output) or failed
            p50 = mx = 0.0
            dist = s.taskMetricsDistributions()
            if dist.isDefined():
                q = [float(x) for x in self._seq(dist.get().executorRunTime())]
                p50, mx = q[0] / 1e3, q[1] / 1e3
            found.append(StageMetrics(
                stage_id=sid,
                udf=self._is_udf_stage(sid),
                num_tasks=s.numTasks(),
                run_s=s.executorRunTime() / 1e3,
                shuffle_write_bytes=s.shuffleWriteBytes(),
                shuffle_read_bytes=s.shuffleReadBytes(),
                spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                failed_tasks=s.numFailedTasks(),
                task_run_p50_s=p50,
                task_run_max_s=mx,
            ))
        return found

    def _is_udf_stage(self, sid: int) -> bool:
        graph = self._store.operationGraphForStage(sid)
        dot = self._jvm.org.apache.spark.ui.scope.RDDOperationGraph \
            .makeDotFile(graph)
        return any(f'label="{n}"' in dot for n in _UDF_NODES)
