"""Spark's own counters, read from outside the program.

``JobGroupCounters`` tags every job a call launches with a job group and,
after the call, sums the stage metrics of those jobs from the status store
(which works with the UI off). ``StreamProgress`` is a
``StreamingQueryListener`` that keeps each query's progress reports.
"""

from __future__ import annotations

import itertools
import json
import statistics

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

COUNTERS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_bytes",
    "spill_bytes",
    "peak_exec_mem_mb",
)


class JobGroupCounters:
    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gateway = self.sc._gateway
        self._no_status = gateway.jvm.java.util.ArrayList()
        self._no_quantiles = gateway.new_array(gateway.jvm.double, 0)
        self._ids = itertools.count()

    def open(self, label: str) -> str:
        group = f"perfbench:{label}:{next(self._ids)}"
        self.sc.setJobGroup(group, label)
        return group

    def close(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until the status store has seen every posted event."""
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    def read(self, groups) -> dict[str, float]:
        """Summed stage metrics of every job in ``groups``."""
        self.drain()
        out = dict.fromkeys(COUNTERS, 0.0)
        stage_ids: set[int] = set()
        tracker = self.sc.statusTracker()
        for group in groups:
            for job_id in tracker.getJobIdsForGroup(group):
                out["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                if info is not None:
                    stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                attempts = self._store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles
                )
            except Py4JJavaError:  # evicted from the store; counted as absent
                continue
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["peak_exec_mem_mb"] = max(
                    out["peak_exec_mem_mb"], sd.peakExecutionMemory() / 2**20
                )
        return out


def add_counters(total: dict[str, float], part: dict[str, float]) -> None:
    for k, v in part.items():
        if k == "peak_exec_mem_mb":
            total[k] = max(total.get(k, 0.0), v)
        else:
            total[k] = total.get(k, 0.0) + v


class StreamProgress(StreamingQueryListener):
    """Progress reports of every streaming query, keyed by run id."""

    def __init__(self):
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:
        self.progress.setdefault(str(event.runId), [])

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        self.progress.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def summary(self, run_ids) -> dict[str, float]:
        reports = [p for r in run_ids for p in self.progress.get(r, [])]
        last = [self.progress[r][-1] for r in run_ids if self.progress.get(r)]
        ops = [op for p in last for op in p.get("stateOperators", [])]
        return {
            "batches": float(len(reports)),
            "batch_ms_p50": (
                statistics.median(p["batchDuration"] for p in reports)
                if reports
                else 0.0
            ),
            "add_batch_ms": float(
                sum(p["durationMs"].get("addBatch", 0) for p in reports)
            ),
            "wal_commit_ms": float(
                sum(p["durationMs"].get("walCommit", 0) for p in reports)
            ),
            "state_commit_ms": float(
                sum(
                    op.get("commitTimeMs", 0)
                    for p in reports
                    for op in p.get("stateOperators", [])
                )
            ),
            "state_rows": float(sum(op.get("numRowsTotal", 0) for op in ops)),
            "state_memory_bytes": float(
                sum(op.get("memoryUsedBytes", 0) for op in ops)
            ),
        }
