"""Spark status-store harvest, process-tree CPU and memory sampling.

Every timed call runs under its own job group; ``Harvester.take(group)``
sums the stage metrics of that group's jobs straight from the
AppStatusStore.  Harvest right after each call: the engine's session
keeps only ``spark.ui.retainedStages=200`` stages.
"""

from __future__ import annotations

import os
import threading
import time

# counters summed per job group; names are the per-layer metric suffixes
COUNTERS = (
    "executor_cpu_s", "executor_run_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "jobs", "stages", "tasks",
)
MB = 1 << 20
CLK_TCK = os.sysconf("SC_CLK_TCK")


class Harvester:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._empty = jvm.java.util.ArrayList()
        # stageList's quantiles argument must be an (empty) double[];
        # None throws a NullPointerException inside the store
        self._quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._seq = 0

    def group(self, label: str) -> str:
        """Start a fresh job group for the calling thread."""
        self._seq += 1
        name = f"perfbench-{self._seq}-{label}"
        self.sc.setJobGroup(name, label)
        return name

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def take(self, group: str) -> dict[str, float]:
        """Sum the stage metrics of every job in ``group``."""
        tracker = self.sc.statusTracker()
        job_ids = self.jobs(group)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = float(len(job_ids))
        stages = self._store.stageList(
            self._empty, False, False, self._quantiles, self._empty
        )
        for i in range(stages.length()):
            s = stages.apply(i)
            if s.stageId() not in stage_ids or s.numCompleteTasks() == 0:
                continue  # skipped stages reuse earlier shuffle output
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            out["shuffle_read_mb"] += s.shuffleReadBytes() / MB
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
        return out

    def cached_mb(self) -> float:
        """Memory plus disk held by cached RDDs right now."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos) / MB

    def jvm_pid(self) -> int:
        return int(self.sc._jvm.java.lang.ProcessHandle.current().pid())


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


# HotSpot's JIT threads (names as /proc shows them, cut to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def _ticks(stat_path: str, n: int) -> int:
    """utime + stime (n=2), plus cutime + cstime (n=4), of one /proc stat."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:11 + n])


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user plus system) used so far by ``root`` and its live
    descendants, with the children each has reaped: rooted at the
    benchmark's own process, that is the Python driver, the JVM and the
    JVM's Python workers."""
    ticks = 0
    for pid in process_tree(root):
        try:
            ticks += _ticks(f"/proc/{pid}/stat", 4)
        except OSError:
            continue  # exited since the scan; its parent has reaped it
    return ticks / CLK_TCK


class JitCpu:
    """CPU seconds used so far by the JVM's JIT compiler threads.

    Compilation decays over the first rounds of a workload and then comes
    in bursts, so it is kept out of the per-job CPU.  HotSpot starts and
    stops compiler threads on demand: a thread that has exited keeps the
    CPU it was last seen with."""

    def __init__(self, jvm_pid: int):
        self.task = f"/proc/{jvm_pid}/task"
        self._is_jit: dict[str, bool] = {}
        self._seen: dict[str, int] = {}

    def __call__(self) -> float:
        try:
            tids = os.listdir(self.task)
        except OSError:
            tids = []
        for tid in tids:
            if tid not in self._is_jit:
                try:
                    with open(f"{self.task}/{tid}/comm") as f:
                        comm = f.read().strip()
                except OSError:
                    continue
                if comm == "java":
                    continue  # not named yet
                self._is_jit[tid] = comm.startswith(JIT_THREADS)
            if self._is_jit[tid]:
                try:
                    self._seen[tid] = _ticks(f"{self.task}/{tid}/stat", 2)
                except OSError:
                    pass
        return sum(self._seen.values()) / CLK_TCK


def _pss_mb(pid: int) -> float:
    """Proportional set size: forked Python workers share pages with
    their daemon, and summing their plain RSS would count those twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0.0


class RssSampler:
    """Peak summed resident memory (PSS) of a process tree, sampled on a
    daemon thread; ``jvm_peak_mb`` tracks the root process alone."""

    def __init__(self, root_pid: int, period_s: float = 0.1):
        self.root, self.period = root_pid, period_s
        self.peak_mb = self.jvm_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids = process_tree(self.root)
        last_scan = time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - last_scan > 1.0:
                pids, last_scan = process_tree(self.root), time.monotonic()
            sizes = {p: _pss_mb(p) for p in pids}
            self.jvm_peak_mb = max(self.jvm_peak_mb, sizes.get(self.root, 0.0))
            self.peak_mb = max(self.peak_mb, sum(sizes.values()))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
