"""Spark counters read from outside the program, with the UI off.

Each timed call runs under its own job group; afterwards the group's jobs
are read from ``statusTracker().getJobIdsForGroup`` and each job's stages
from the status store (``statusStore().stageData``, a Scala ``Seq``
converted with ``JavaConverters.seqAsJavaList``).  Also here: CPU seconds
and peak RSS of the driver JVM, its workers and this Python process, and
the environment fingerprint (what Spark actually used).
"""

from __future__ import annotations

import contextlib
import itertools
import os
import resource
import subprocess
import time
from dataclasses import dataclass, field

# Counters whose value depends only on the plan and the input, never on
# timing: they repeat exactly run to run for one seed, an exact regression
# signal.  Times, GC, spill and the driver-only gap do not.
EXACT_COUNTERS = ("jobs", "stages", "tasks", "input_bytes",
                  "shuffle_read_bytes", "shuffle_write_bytes")


@dataclass
class Counts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    driver_only_s: float = 0.0
    wall_s: float = 0.0

    def add(self, other: "Counts") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__dataclass_fields__}


@dataclass
class Probe:
    """One timed call: its job group and wall-clock window.  ``counts``
    stays empty until :meth:`SparkCounters.fill` reads the status store,
    so an untraced run pays nothing for counters."""

    name: str
    group: str
    t0: float = 0.0
    t1: float = 0.0
    wall_s: float = 0.0
    counts: Counts = field(default_factory=Counts)


class SparkCounters:
    """Job-group bookkeeping for one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._seq = itertools.count()

    @contextlib.contextmanager
    def measure(self, name: str):
        """Run the body under a fresh job group and time it."""
        probe = Probe(name, f"perfbench-{next(self._seq)}-{name}")
        self.sc.setJobGroup(probe.group, name, False)
        probe.t0 = time.time()
        start = time.perf_counter()
        try:
            yield probe
        finally:
            probe.wall_s = time.perf_counter() - start
            probe.t1 = probe.t0 + probe.wall_s
            self.sc._jsc.clearJobGroup()

    def fill(self, probe: Probe) -> Counts:
        """Read the probe's jobs, stages and task metrics, and the wall
        time during which none of its jobs ran (``driver_only_s``)."""
        c = Counts(wall_s=probe.wall_s)
        tracker = self.sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(probe.group))
        c.jobs = len(job_ids)
        busy: list[tuple[float, float]] = []
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
            span = self._job_span(jid)
            if span is not None:
                busy.append(span)
        for sid in sorted(stage_ids):
            for sd in self._stage_data(sid):
                status = str(sd.status())
                if status == "SKIPPED" or status == "PENDING":
                    continue
                c.stages += 1
                c.tasks += sd.numTasks()
                c.input_bytes += sd.inputBytes()
                c.shuffle_read_bytes += (sd.shuffleRemoteBytesRead()
                                         + sd.shuffleLocalBytesRead())
                c.shuffle_write_bytes += sd.shuffleWriteBytes()
                c.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c.executor_run_s += sd.executorRunTime() / 1000.0
                c.gc_s += sd.jvmGcTime() / 1000.0
        c.driver_only_s = max(probe.wall_s - covered(busy, probe.t0, probe.t1), 0.0)
        probe.counts = c
        return c

    def total(self, probes) -> Counts:
        """Sum of :meth:`fill` over ``probes``."""
        out = Counts()
        for p in probes:
            out.add(self.fill(p))
        return out

    def _stage_data(self, sid: int) -> list:
        empty_list = self._jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        try:
            seq = self._store.stageData(sid, False, empty_list, False, quantiles)
        except Exception:  # noqa: BLE001 - stage evicted from the store
            return []
        return list(self._jvm.scala.collection.JavaConverters.seqAsJavaList(seq))

    def _job_span(self, jid: int) -> tuple[float, float] | None:
        try:
            job = self._store.job(jid)
        except Exception:  # noqa: BLE001 - job evicted from the store
            return None
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isEmpty() or done.isEmpty():
            return None
        return sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def jvm_pid(spark) -> int | None:
    """PID of the driver JVM (the py4j gateway process)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM plus this Python process, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = jvm_pid(spark)
    jvm_kb = _status_kb(pid, "VmHWM") if pid else 0
    return (py_kb + jvm_kb) / 1024.0


def _proc_cpu_ticks(pid: int) -> tuple[int, int]:
    """(utime+stime+cutime+cstime, ppid) of one process, in clock ticks."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    # fields[0] is state; ppid is field 4 of stat, utime..cstime 14..17.
    return sum(int(x) for x in fields[11:15]), int(fields[1])


# The driver JVM's runtime-service threads, by the name prefix of their
# /proc comm: HotSpot's JIT compilers and the G1 collector's workers.
SERVICE_THREADS = {
    "jit": ("C1 CompilerThre", "C2 CompilerThre"),
    "gc": ("GC Thread", "G1 "),
}


def service_cpu_seconds(spark) -> dict[str, float]:
    """CPU seconds used so far by each group of :data:`SERVICE_THREADS` in
    the driver JVM.  Exact only while those threads stay alive; the JIT's
    do when the JVM runs with ``-XX:-UseDynamicNumberOfCompilerThreads``
    (the CPU of a thread that has exited is no longer listed per thread)."""
    out = dict.fromkeys(SERVICE_THREADS, 0.0)
    pid = jvm_pid(spark)
    if not pid:
        return out
    task_dir = f"/proc/{pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        for group, prefixes in SERVICE_THREADS.items():
            if comm.startswith(prefixes):
                fields = stat.rsplit(")", 1)[1].split()
                out[group] += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return out


def cpu_seconds(spark) -> float:
    """CPU seconds used so far by this Python process, the driver JVM and
    the JVM's descendants (Python workers), user + system."""
    t = os.times()
    total = t.user + t.system
    root = jvm_pid(spark)
    if not root:
        return total
    ticks, children = 0, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            cpu, ppid = _proc_cpu_ticks(int(entry))
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append((int(entry), cpu))
    stack = [root]
    try:
        ticks += _proc_cpu_ticks(root)[0]
    except (OSError, ValueError, IndexError):
        return total
    while stack:
        for pid, cpu in children.get(stack.pop(), []):
            ticks += cpu
            stack.append(pid)
    return total + ticks / os.sysconf("SC_CLK_TCK")


def env_fingerprint(spark) -> dict:
    """What Spark actually ran with — not OS affinity."""
    sc = spark.sparkContext
    mem_total_kb = 0
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_total_kb = int(line.split()[1])
    except OSError:
        pass
    try:
        nproc = int(subprocess.run(["nproc"], capture_output=True, text=True,
                                   check=True, timeout=10).stdout.strip())
    except (OSError, ValueError, subprocess.SubprocessError):
        nproc = None
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_max_memory_gb": round(
            sc._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**30, 2),
        "mem_total_gb": round(mem_total_kb / 2**20, 2),
        "nproc": nproc,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "spark_version": spark.version,
    }
