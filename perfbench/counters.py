"""Counters read from outside the program, through the driver's own APIs.

* Spark's status store (works with the UI off): jobs, stages, tasks, task
  run and CPU time, task GC, shuffle bytes and spill, read after each
  trigger or query because the store keeps only the last
  ``spark.ui.retainedJobs`` jobs.
* The JVM's garbage-collector MXBeans (driver GC; in local mode the
  driver JVM also runs the tasks), and the memory the JVM holds: its
  resident pages outside the Java heap and its live heap.
* Blocks held by the block manager (``getRDDStorageInfo``).
* Per-trigger progress of a streaming query (``StreamingQueryListener``).
"""

from __future__ import annotations

import json
import queue
import re
from dataclasses import dataclass, fields

from pyspark.sql.streaming import StreamingQueryListener

from probe import resident_outside


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: StageTotals) -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


class SparkCounters:
    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._tracker = sc.statusTracker()
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        scala = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala
        )
        self._no_task_status = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        mgmt = jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mgmt.getGarbageCollectorMXBeans())
        self._seen: set[int] = set(self._tracker.getJobIdsForGroup(None))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def read(self) -> StageTotals:
        """Totals over the jobs that finished since the previous read.
        Jobs still running are left for the next read."""
        out = StageTotals()
        for job_id in sorted(set(self._tracker.getJobIdsForGroup(None)) - self._seen):
            job = self._json(self._store.job(job_id))
            if job["status"] == "RUNNING":
                continue
            self._seen.add(job_id)
            out.jobs += 1
            for stage_id in job["stageIds"]:
                out.add(self._stage(stage_id))
        return out

    def _stage(self, stage_id: int) -> StageTotals:
        t = StageTotals()
        try:
            attempts = self._json(
                self._store.stageData(
                    stage_id, False, self._no_task_status, False, self._no_quantiles
                )
            )
        except Exception:  # noqa: BLE001 — stage already evicted from the store
            return t
        for s in attempts:
            if s["status"] == "SKIPPED":
                continue
            t.stages += 1
            t.tasks += s["numCompleteTasks"]
            t.run_ms += s["executorRunTime"]
            t.cpu_ms += s["executorCpuTime"] / 1e6
            t.gc_ms += s["jvmGcTime"]
            t.shuffle_write_bytes += s["shuffleWriteBytes"]
            t.shuffle_read_bytes += s["shuffleReadBytes"]
            t.spill_bytes += s["diskBytesSpilled"]
        return t

    def gc_ms(self) -> float:
        """Collection time summed over the JVM's collectors."""
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def blocks_held(self) -> tuple[int, int]:
        """(cached RDD partitions, bytes they hold in memory and on disk)."""
        blocks = size = 0
        for info in self._jsc.getRDDStorageInfo():
            blocks += info.numCachedPartitions()
            size += info.memSize() + info.diskSize()
        return blocks, size


class JvmMemory:
    """What the driver JVM holds, as the program's own figures: its
    resident pages outside the Java heap (metaspace, generated code,
    thread stacks, native and Arrow buffers), and the heap's live objects.
    The pages of the heap itself are left out: how many of them are
    resident, and how full they are between collections, is the
    collector's sizing choice, not the program's.

    ``heap_log`` is the file the JVM writes its heap reservation to under
    ``-Xlog:gc+heap+coops=debug:file=<heap_log>``."""

    def __init__(self, spark, heap_log: str):
        self._jvm = jvm = spark.sparkContext._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        with open(heap_log) as fh:
            m = re.search(r"Heap address: 0x([0-9a-f]+), size: (\d+) MB", fh.read())
        self._lo = int(m[1], 16)
        self._hi = self._lo + int(m[2]) * (1 << 20)
        self._memory = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()

    def outside_heap(self) -> int:
        """Resident bytes of the JVM outside the Java heap's range."""
        return resident_outside(self.pid, self._lo, self._hi)

    def live_heap(self) -> int:
        """Bytes in use on the heap right after a full collection."""
        self._jvm.java.lang.System.gc()
        return int(self._memory.getHeapMemoryUsage().getUsed())


class TriggerLog(StreamingQueryListener):
    """Queues the progress of every trigger that read input, and the end
    of the query. Listener callbacks arrive on the listener-bus thread."""

    def __init__(self):
        self.events: queue.Queue = queue.Queue()

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        if p.numInputRows > 0:
            self.events.put(
                {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                }
            )

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        self.events.put({"terminated": True, "error": event.exception})

    def next(self, timeout: float) -> dict:
        """The next trigger's progress; raises RuntimeError if the query
        ended or nothing arrived within ``timeout`` seconds."""
        try:
            ev = self.events.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"no trigger completed within {timeout:.0f} s") from None
        if ev.get("terminated"):
            raise RuntimeError(f"streaming query ended: {ev['error']}")
        return ev
