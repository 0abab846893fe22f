"""Counters read from outside the engine: JVM MXBeans, Spark's status
store and the operating system.

Nothing here changes what the engine does; every read is a py4j call
into objects Spark and the JVM already keep.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError


def tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return total


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user and nice
    return fields[7], sum(fields[:8])


def steal_share(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took away between two readings."""
    total = b[1] - a[1]
    return (b[0] - a[0]) / total if total else 0.0


def _opt_ms(option) -> float | None:
    """Scala ``Option[java.util.Date]`` -> epoch seconds, or None."""
    return option.get().getTime() / 1000.0 if option.isDefined() else None


class JvmProbe:
    """Counters of one Spark session's driver JVM."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._compiles = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._mem = mf.getMemoryMXBean()
        self.pid = int(mf.getRuntimeMXBean().getPid())
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._jsc = jsc

    def counters(self) -> dict[str, float]:
        """Cumulative Janino compiles, HotSpot JIT ms and GC ms."""
        return {
            "codegen_compiles": float(self._compiles.getCount()),
            "jit_ms": float(self._jit.getTotalCompilationTime()),
            "gc_ms": float(sum(g.getCollectionTime() for g in self._gcs)),
        }

    def heap_used_mb(self) -> float:
        return self._mem.getHeapMemoryUsage().getUsed() / 1e6

    def vm_hwm_mb(self) -> float:
        """Peak resident set (VmHWM) of the JVM process."""
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def persisted_rdd_ids(self) -> set[int]:
        return {int(k) for k in self.sc._jsc.getPersistentRDDs().keySet()}

    def storage_mb(self) -> float:
        infos = self._jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def jobs(self, first: int, stop: int) -> list[dict]:
        """Jobs ``first <= id < stop`` with their stages' task metrics.

        Waits for the listener bus first, so the status store holds the
        final metrics of every finished job.
        """
        self._bus.waitUntilEmpty()
        out = []
        for jid in range(first, stop):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # evicted from the store, or never submitted
                continue
            ids = job.stageIds()
            stages = []
            for i in range(ids.size()):
                try:
                    st = self._store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:
                    continue
                stages.append({
                    "status": str(st.status()),
                    "tasks": st.numTasks(),
                    "failed_tasks": st.numFailedTasks(),
                    "run_s": st.executorRunTime() / 1e3,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "shuffle_read_mb": st.shuffleReadBytes() / 1e6,
                    "shuffle_write_mb": st.shuffleWriteBytes() / 1e6,
                    "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6,
                })
            group = job.jobGroup()
            out.append({
                "id": jid,
                "group": group.get() if group.isDefined() else None,
                "start": _opt_ms(job.submissionTime()),
                "end": _opt_ms(job.completionTime()),
                "stages": stages,
            })
        return out
