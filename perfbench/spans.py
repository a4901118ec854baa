"""Spans around layer calls, and the Spark-side numbers behind them.

A span records name, start, end and its parent, and tags every Spark job
started inside it with a job group (``setJobGroup``), so the event log
can be cut per span afterwards: jobs, shuffle bytes written, bytes
spilled and bytes read. Spans live in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark, tag: str) -> None:
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def group(self, name: str) -> str:
        return f"{self.tag}/{name}"

    def _tag_jobs(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group(name), name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._tag_jobs(name)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            self._stack.pop()
            self._tag_jobs(parent)
            self.spans.append(
                {"name": name, "parent": parent, "start": start, "end": end}
            )

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def top_sum(self) -> float:
        """Summed wall time of the spans that have no parent."""
        return sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] is None
        )


def jvm_gc_s(spark) -> float:
    """Cumulative GC time of the driver JVM (executors share it in local
    mode), from the platform MXBeans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def _heap_pools(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def reset_heap_peaks(spark) -> None:
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()


def old_gen_peak_mb(spark) -> float:
    """Peak occupancy of the driver JVM's old generation since the last
    ``reset_heap_peaks``: the heap that outlives young collections. The
    young pools are left out: G1 fills eden to its target size before
    collecting it, whatever the program keeps alive."""
    return sum(
        p.getPeakUsage().getUsed()
        for p in _heap_pools(spark)
        if "Old Gen" in p.getName() or "Tenured" in p.getName()
    ) / 2**20


def retained_storage_bytes(spark) -> int:
    """Memory plus disk bytes of every RDD block still stored — cached
    DataFrames and ``localCheckpoint`` blocks alike."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def release_storage(spark) -> None:
    """Drop cached DataFrames and every persisted RDD (checkpoint blocks)."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def event_log_files(event_dir: str, app_id: str) -> list[str]:
    """The numbered files of the application's rolling event log, in
    write order."""
    paths = glob.glob(os.path.join(event_dir, f"eventlog_v2_{app_id}", "events_*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {event_dir}")
    return sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as f:
            yield from f


_JOB_START = '{"Event":"SparkListenerJobStart"'
_TASK_END = '{"Event":"SparkListenerTaskEnd"'


def group_metrics(paths: list[str]) -> dict[str | None, dict]:
    """Per job group: jobs, shuffle bytes written, bytes spilled to disk,
    input bytes read and executor run time, summed over its tasks."""
    out: dict = defaultdict(
        lambda: {
            "jobs": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "input_bytes": 0,
            "executor_run_s": 0.0,
        }
    )
    stage_group: dict[int, str | None] = {}
    for line in _lines(paths):
        if line.startswith(_JOB_START):
            ev = json.loads(line)
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            out[g]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, g)
        elif line.startswith(_TASK_END):
            ev = json.loads(line)
            m = ev.get("Task Metrics")
            if not m:
                continue
            rec = out[stage_group.get(ev["Stage ID"])]
            rec["shuffle_write_bytes"] += m["Shuffle Write Metrics"][
                "Shuffle Bytes Written"
            ]
            rec["spill_bytes"] += m["Disk Bytes Spilled"]
            rec["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            rec["executor_run_s"] += m["Executor Run Time"] / 1e3
    return dict(out)
