"""Measurement helpers: Spark status-store counters, process memory and CPU,
spans.

Counters are read from the Spark driver's AppStatusStore through the
SparkContext's JVM handle, so they need no Spark UI. Every traced call runs under
its own Spark job group, and a span's counters are the sums over the stages
of that group's jobs.
"""

from __future__ import annotations

import gc
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


# ---------------------------------------------------------------------------
# status store
# ---------------------------------------------------------------------------
@dataclass
class StageTotals:
    task_s: float = 0.0
    shuffle_bytes: int = 0
    gc_s: float = 0.0
    spill_bytes: int = 0
    fetch_wait_s: float = 0.0
    failed_tasks: int = 0
    jobs: int = 0
    # (executor run time, slowest task / median task) of the busiest stage
    busiest: tuple[float, float] = (0.0, 0.0)

    def add(self, other: "StageTotals") -> None:
        self.task_s += other.task_s
        self.shuffle_bytes += other.shuffle_bytes
        self.gc_s += other.gc_s
        self.spill_bytes += other.spill_bytes
        self.fetch_wait_s += other.fetch_wait_s
        self.failed_tasks += other.failed_tasks
        self.jobs += other.jobs
        self.busiest = max(self.busiest, other.busiest)


class StatusProbe:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.store = self.sc._jsc.sc().statusStore()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def group_totals(self, group: str, since: float) -> StageTotals:
        """Sums over the stages that the group's jobs ran at or after
        `since` (epoch seconds). A job that reuses shuffle output lists the
        producing stage too; that stage ran before the span and is skipped."""
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = StageTotals(jobs=len(job_ids))
        if not stage_ids:
            return out
        since_ms = since * 1e3
        stages = self._stage_list()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in stage_ids:
                continue
            submitted = s.submissionTime()
            if submitted.isDefined() and submitted.get().getTime() >= since_ms:
                out.add(self._stage_totals(s))
        return out

    def _stage_list(self):
        arr = self.sc._gateway.new_array(self.jvm.double, 0)
        return self.store.stageList(
            self.jvm.java.util.ArrayList(), False, False, arr,
            self.jvm.java.util.ArrayList(),
        )

    def _stage_totals(self, s) -> StageTotals:
        run_ms = s.executorRunTime()
        return StageTotals(
            task_s=run_ms / 1e3,
            shuffle_bytes=s.shuffleReadBytes() + s.shuffleWriteBytes(),
            gc_s=s.jvmGcTime() / 1e3,
            spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
            fetch_wait_s=s.shuffleFetchWaitTime() / 1e3,
            failed_tasks=s.numFailedTasks(),
            busiest=(run_ms / 1e3, self._task_skew(s) if run_ms else 0.0),
        )

    def _task_skew(self, s) -> float:
        """Slowest task's run time over the median task's, in stage `s`."""
        q = self.sc._gateway.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.store.taskSummary(s.stageId(), s.attemptId(), q)
        if summary.isEmpty():
            return 0.0
        run = summary.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 0.0

    def cached_bytes(self) -> int:
        """Bytes of cached RDD blocks still stored (memory + disk)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def _heap_pool_beans(self):
        mf = self.jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]

    def reset_heap_peaks(self) -> None:
        for pool in self._heap_pool_beans():
            pool.resetPeakUsage()

    def heap_pools(self) -> dict[str, dict[str, float]]:
        """Per JVM heap pool, in MiB: peak used since the last reset, used
        after the latest collection, and committed now."""
        out = {}
        for pool in self._heap_pool_beans():
            after = pool.getCollectionUsage()
            out[pool.getName()] = {
                "peak_mb": pool.getPeakUsage().getUsed() / 2**20,
                "after_gc_mb": after.getUsed() / 2**20 if after is not None else 0.0,
                "committed_mb": pool.getUsage().getCommitted() / 2**20,
            }
        return out

    def live_heap_mb(self, settle_s: float = 1.0, rounds: int = 6) -> float:
        """Heap in use after full collections: what the driver JVM holds
        live at this point, independent of how the collector sized the heap.
        Python's cycle collector runs first, so JVM objects that only
        unreachable Python proxies still hold are released. Spark's cleaner
        threads free blocks of collected broadcasts and shuffles after a
        collection (one curate reading fell from 374 to 109 MiB over two
        seconds), so collections repeat `settle_s` apart, at least three
        times, until two readings agree within 2%."""
        gc.collect()
        mx = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        readings: list[float] = []
        for _ in range(rounds):
            if readings:
                time.sleep(settle_s)
            self.jvm.java.lang.System.gc()
            readings.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
            if len(readings) >= 3 and abs(readings[-1] - readings[-2]) <= 0.02 * readings[-2]:
                break
        return readings[-1]

    def jvm_pid(self) -> int:
        return int(self.jvm.java.lang.ProcessHandle.current().pid())


# ---------------------------------------------------------------------------
# process memory and CPU
# ---------------------------------------------------------------------------
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _process_tree(root: int) -> dict[int, int]:
    """pid -> CPU clock ticks for `root` and all its descendants. The ticks
    are fields 14-17 of /proc/<pid>/stat: user and system time of the
    process's threads, plus those of its children that exited and were
    waited for."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields from 3 on follow the parenthesised command name
        fields = stat[stat.rindex(")") + 2 :].split()
        kids.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(v) for v in fields[11:15])
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        if pid in ticks:
            tree[pid] = ticks[pid]
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root` and all its descendants. Time the
    hypervisor stole from the vCPUs is not charged to a process, so this
    moves much less with the host's load than wall time does."""
    return sum(_process_tree(root).values()) / CLK_TCK


def _jit_thread_ticks(jvm_pid: int) -> dict[int, int]:
    """tid -> CPU clock ticks of the JVM's JIT compiler threads (named
    "C1 CompilerThread<n>" / "C2 CompilerThread<n>")."""
    out = {}
    task = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("(") : stat.rindex(")")]:
            fields = stat[stat.rindex(")") + 2 :].split()
            out[int(tid)] = int(fields[11]) + int(fields[12])
    return out


class CpuMeter:
    """CPU seconds that the process tree of `root` spends between two
    readings, less what the JVM's JIT compiler threads spent. Compilation
    is the JVM's one-off warm-up: it runs on otherwise idle cores in bursts
    of 0.7-2.4 s per 10 CPU-second iteration, long after the code it
    compiles has settled. Set-up time still includes it."""

    def __init__(self, root: int, jvm_pid: int):
        self.root, self.jvm_pid = root, jvm_pid

    def read(self) -> tuple[int, dict[int, int]]:
        return sum(_process_tree(self.root).values()), _jit_thread_ticks(self.jvm_pid)

    @staticmethod
    def seconds(start: tuple[int, dict[int, int]], end: tuple[int, dict[int, int]]) -> float:
        # the JVM starts and stops compiler threads as its queue grows and
        # shrinks: a thread that started counts whole; one that stopped
        # drops out, leaving its few ticks since `start` in the total
        jit = sum(t - start[1].get(tid, 0) for tid, t in end[1].items())
        return (end[0] - start[0] - jit) / CLK_TCK


def tree_rss_mb(root: int) -> float:
    """Resident memory of `root` and all its descendants, in MiB."""
    total_kb = 0
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total_kb += int(f.read().split()[1]) * PAGE_KB
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Background thread keeping the peak of tree_rss_mb(root)."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root, self.interval = root, interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval)

    def reset(self) -> None:
        self.peak_mb = tree_rss_mb(self.root)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
@dataclass
class Span:
    name: str
    iteration: int
    parent: str | None
    start: float
    end: float = 0.0
    counters: StageTotals = field(default_factory=StageTotals)
    self_s: float | None = None  # set for spans whose self time is a remainder

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; each span runs under its own job group."""

    def __init__(self, probe: StatusProbe):
        self.probe = probe
        self.spans: list[Span] = []

    def run(self, name: str, iteration: int, fn, parent: str | None = None):
        group = f"{name}#{iteration}"
        self.probe.set_group(group)
        since = time.time()
        span = Span(name, iteration, parent, time.perf_counter())
        try:
            result = fn()
        finally:
            span.end = time.perf_counter()
            self.probe.set_group(None)
        span.counters = self.probe.group_totals(group, since)
        self.spans.append(span)
        return result

    def medians(self) -> dict[str, dict[str, float]]:
        """Per span name: median self time and counters over iterations."""
        by_name: dict[str, list[Span]] = {}
        for s in self.spans:
            by_name.setdefault(s.name, []).append(s)
        out = {}
        for name, spans in by_name.items():
            out[name] = {
                "self_s": statistics.median(
                    s.wall_s if s.self_s is None else s.self_s for s in spans
                ),
                "wall_s": statistics.median(s.wall_s for s in spans),
                "task_s": statistics.median(s.counters.task_s for s in spans),
                "shuffle_bytes": statistics.median(s.counters.shuffle_bytes for s in spans),
                "jobs": statistics.median(s.counters.jobs for s in spans),
                "n": len(spans),
            }
        return out
