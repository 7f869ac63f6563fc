"""Spans and layer counters for the traced run.

Everything here is read from outside the engine, around the calls the
benchmark makes into it:

- ``Spans`` keeps spans in memory and computes self time (a span's
  duration minus the part of it its children cover) when written out.
- ``Jobs`` reads Spark jobs and stages from the JVM status store. Job
  ids are sequential, so the jobs a phase started are the ids past the
  last one seen. A stage is counted once: a stage that is SKIPPED, or
  that an earlier job already ran, adds no tasks and no metrics.
- ``Py4jCounter`` counts commands the driver thread sends to the JVM.
- ``StreamBatches`` counts streaming micro-batches via a listener.
"""

from __future__ import annotations

import json
import threading

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0

#: Layer metrics a traced pass sums over its keys, with their units.
#: ``exec.core_busy`` and ``exec.reuse_ratio`` are ratios of the sums.
UNITS = {
    "build.s": "s", "build.py4j_calls": "count", "build.jobs": "count",
    "build.overhead_s": "s", "plan.s": "s", "exec.s": "s",
    "exec.cpu_s": "s", "exec.gc_s": "s", "exec.jobs": "count",
    "exec.stages_run": "count", "exec.stages_skipped": "count",
    "exec.tasks": "count", "exec.tasks_failed": "count",
    "exec.input_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "release.s": "s", "release.blocks_alive": "count",
    "release.storage_mb": "MB", "write.mb": "MB", "write.files": "count",
    "write.stream_batches": "count", "exec.core_busy": "ratio",
    "exec.reuse_ratio": "ratio",
}
RATIOS = ("exec.core_busy", "exec.reuse_ratio")


class Spans:
    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, kind: str, t0: float, t1: float,
            parent: int | None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent,
                           "name": name, "kind": kind, "t0": t0, "t1": t1,
                           "attrs": attrs})
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["self_s"] = (s["t1"] - s["t0"]) - covered(
                s["t0"], s["t1"], kids.get(s["id"], []))
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def covered(t0: float, t1: float, children: list[dict]) -> float:
    """Length of the union of children's intervals, clipped to [t0, t1]."""
    total, end = 0.0, t0
    for c in sorted(children, key=lambda c: c["t0"]):
        lo, hi = max(c["t0"], end), min(c["t1"], t1)
        if hi > lo:
            total += hi - lo
            end = hi
    return total


class Jobs:
    STAGE_FIELDS = ("numTasks", "numFailedTasks", "executorRunTime",
                    "executorCpuTime", "jvmGcTime", "inputBytes",
                    "shuffleReadBytes", "shuffleWriteBytes",
                    "diskBytesSpilled")

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._counted: set[int] = set()
        self._next = 0
        self.new(read=False)  # skip the jobs that ran before tracing

    def new(self, read: bool = True) -> list[dict]:
        """Jobs started since the last call, with their deduplicated
        stage counters. Waits until the status store has caught up."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = []
        while True:
            try:
                j = self._store.job(self._next)
            except Py4JJavaError:
                break
            self._next += 1
            if read:
                jobs.append(self._job(j))
            else:
                self._counted.update(stage_ids(j))
        return jobs

    def _job(self, j) -> dict:
        sub, done = j.submissionTime(), j.completionTime()
        ids = stage_ids(j)
        job = {"id": j.jobId(),
               "t0": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
               "t1": done.get().getTime() / 1000.0 if done.isDefined() else None,
               "stages_run": 0, "stages_skipped": 0, "tasks": 0,
               "tasks_failed": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
               "input_mb": 0.0, "shuffle_read_mb": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        for sid in sorted(ids):
            if sid in self._counted:
                job["stages_skipped"] += 1
                continue
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                job["stages_skipped"] += 1
                continue
            self._counted.add(sid)
            v = dict(zip(self.STAGE_FIELDS,
                         (getattr(st, f)() for f in self.STAGE_FIELDS)))
            job["stages_run"] += 1
            job["tasks"] += v["numTasks"]
            job["tasks_failed"] += v["numFailedTasks"]
            job["cpu_s"] += v["executorCpuTime"] / 1e9
            job["run_s"] += v["executorRunTime"] / 1e3
            job["gc_s"] += v["jvmGcTime"] / 1e3
            job["input_mb"] += v["inputBytes"] / MB
            job["shuffle_read_mb"] += v["shuffleReadBytes"] / MB
            job["shuffle_write_mb"] += v["shuffleWriteBytes"] / MB
            job["spill_mb"] += v["diskBytesSpilled"] / MB
        return job


def stage_ids(job) -> list[int]:
    return [int(x) for x in job.stageIds().mkString(",").split(",") if x]


def blocks_alive(spark) -> int:
    """Persistent RDDs (cached or checkpointed) still registered."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def storage_mb(spark) -> float:
    """Memory plus disk held by registered RDD blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


class Py4jCounter:
    """Counts commands the calling thread sends over py4j's client."""

    def __init__(self, spark):
        self.n = 0
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        me = threading.get_ident()

        def counted(*args, **kwargs):
            if threading.get_ident() == me:
                self.n += 1
            return send(*args, **kwargs)

        client.send_command = counted


class StreamBatches(StreamingQueryListener):
    """Counts micro-batch progress events of every streaming query."""

    def __init__(self):
        self.n = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.n += 1

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
