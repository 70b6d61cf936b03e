"""Measurement from outside the program: /proc counters for the process
tree and the host, and Spark's own status store read through py4j.

Nothing here imports the package under test.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# /proc: process tree CPU and PSS, host steal
# --------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree_pids(root: int) -> list[int]:
    """root and every live descendant (driver Python, the JVM, the Python
    UDF daemon and its workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """user+sys CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / CLK_TCK


def tree_pss_mb(root: int) -> float:
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class HostCpu:
    """Host-wide /proc/stat counters: CPU delivered to this machine's
    processes (user+nice+system+irq+softirq) and CPU stolen by the
    hypervisor, in seconds summed over CPUs."""

    def __init__(self, busy: float, steal: float):
        self.busy = busy
        self.steal = steal

    @classmethod
    def now(cls) -> "HostCpu":
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        busy = v[0] + v[1] + v[2] + v[5] + v[6]
        return cls(busy / CLK_TCK, v[7] / CLK_TCK)

    def since(self, start: "HostCpu") -> "HostCpu":
        return HostCpu(self.busy - start.busy, self.steal - start.steal)

    def delivered_share(self) -> float:
        """Share of the CPU time this machine asked for that it got."""
        want = self.busy + self.steal
        return self.busy / want if want > 0 else 1.0


class Interval:
    """Wall time of one measured interval, with the host CPU counters over
    it. ``steal_free_s`` scales the wall time by the share of demanded CPU
    the hypervisor delivered: a first-order estimate of the time without
    steal, which under-corrects a burst (README: the window)."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.h0 = HostCpu.now()
        self.wall_s = 0.0
        self.host = HostCpu(0.0, 0.0)

    def stop(self) -> "Interval":
        self.wall_s = time.perf_counter() - self.t0
        self.host = HostCpu.now().since(self.h0)
        return self

    @property
    def steal_free_s(self) -> float:
        return self.wall_s * self.host.delivered_share()


# Memory rate the timings are normalized to: a typical probe reading on the
# 4-vCPU Xeon VM the bounds were set on.
REF_MEM_GBPS = 7.5


def canary() -> dict:
    """Single-core machine-speed calibration: the two fixed-work rates of
    the repository's ``bench.cpu_canary`` (an interpreter loop, Mops/s, and
    a 200 MB array sum, GB/s, each best of 3), kept here so that the
    benchmark does not change when bench.py does. Taken at the start and
    end of every run as a record of the machine; the timings are
    normalized by ``MemProbe`` instead."""
    import numpy as np

    big = np.random.default_rng(42).random(25_000_000)
    big.sum()
    mem_gbps = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        big.sum()
        mem_gbps = max(mem_gbps, big.nbytes / (time.perf_counter() - t0) / 1e9)
    n = 2_000_000
    pyloop_mops = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(n):
            x += i * 3 % 7
        pyloop_mops = max(pyloop_mops, n / (time.perf_counter() - t0) / 1e6)
    return {"pyloop_mops": pyloop_mops, "mem_gbps": mem_gbps}


class MemProbe:
    """Machine speed during a run, sampled between the calls.

    On a shared host the program's throughput follows the memory rate its
    neighbours leave it far more than the interpreter rate (README: noise),
    and one reading at each end of a run is too noisy to use. So the probe
    sums a 200 MB array (about twice the L3 cache), best of 3, before
    set-up and after every call, and the run's speed is the median of those
    readings relative to REF_MEM_GBPS. The array is kept for the whole run,
    so it is a constant in the tree's PSS: ``mb``."""

    def __init__(self):
        import numpy as np

        self.a = np.full(25_000_000, 1.0)
        self.samples: list[float] = []

    @property
    def mb(self) -> float:
        return self.a.nbytes / 2**20

    def sample(self) -> None:
        self.a.sum()
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            self.a.sum()
            best = min(best, time.perf_counter() - t0)
        self.samples.append(self.a.nbytes / best / 1e9)

    def speed(self) -> float:
        return statistics.median(self.samples) / REF_MEM_GBPS


class PssSampler:
    """Background thread sampling the tree's PSS; keeps the peak."""

    def __init__(self, root: int, period_s: float = 0.25):
        self.root = root
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))


def jvm_heap_mb(spark) -> dict:
    """The driver JVM's heap (in local mode the executors' too): the
    committed size, and what is still in use after full collections once
    the calls have returned, i.e. what the program keeps on the heap. One
    collection is not enough: Spark's cleaner frees broadcasts and shuffle
    state only after the collection that found them unreachable (rule_checks
    runs read 182, 122, 67, 67 MB over collections 0.5 s apart), so the
    least of four is kept."""
    import gc

    gc.collect()  # drop Python-side handles that pin Java objects
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    seq = []
    for i in range(4):
        if i:
            time.sleep(0.5)
        jvm.java.lang.System.gc()
        seq.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
    usage = bean.getHeapMemoryUsage()
    return {"committed_mb": usage.getCommitted() / 2**20,
            "live_mb": min(seq), "seq": seq}


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """Spans recorded around calls into the program: name, start, end and
    the parent span. Kept in memory and written at the end of the run."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer = tracer
        self.rec = {"id": len(tracer.spans), "name": name,
                    "parent": tracer._stack[-1] if tracer._stack else None,
                    **attrs}
        tracer.spans.append(self.rec)

    def __enter__(self) -> dict:
        self.rec["start"] = time.perf_counter()
        self.tracer._stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.perf_counter()
        self.rec["dur_s"] = self.rec["end"] - self.rec["start"]
        self.tracer._stack.pop()


# --------------------------------------------------------------------------
# Spark status store (works with the UI disabled)
# --------------------------------------------------------------------------


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class SparkStatus:
    """Reads stage, task and SQL-node metrics of the jobs a call ran.

    Each measured call runs under its own job group; ``call_metrics``
    gathers that group's jobs and their stages from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.cores = self.sc.defaultParallelism
        self._seen_exec = self._max_exec_id()

    def _max_exec_id(self) -> int:
        ids = [e.executionId() for e in _seq(self.sql_store.executionsList())]
        return max(ids, default=-1)

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self._seen_exec = self._max_exec_id()

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def call_metrics(self, group: str, wall_s: float) -> dict:
        """spark.* metrics of one call's jobs."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        no_status = self.jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        stages = [
            stage
            for info in map(tracker.getJobInfo, jobs) if info is not None
            for sid in info.stageIds
            for stage in _seq(self.store.stageData(
                sid, False, no_status, False, no_quantiles))
        ]
        tasks = sum(s.numCompleteTasks() for s in stages)
        widest = max((s.numTasks() for s in stages), default=0)
        longest = max(stages, key=lambda s: s.executorRunTime(), default=None)
        straggler = 1.0
        if longest is not None:
            runs = sorted(
                t.duration().get() for t in _seq(self.store.taskList(
                    longest.stageId(), longest.attemptId(), 100000))
                if t.duration().isDefined()
            )
            if runs and runs[len(runs) // 2] > 0:
                straggler = runs[-1] / runs[len(runs) // 2]
        cpu_ns = sum(s.executorCpuTime() for s in stages)
        return {
            "spark.jobs": len(jobs),
            "spark.tasks": tasks,
            "spark.waves": widest / self.cores,
            "spark.straggler_ratio": straggler,
            "spark.gc_s": sum(s.jvmGcTime() for s in stages) / 1000,
            "spark.shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / 2**20,
            "spark.spill_mb": sum(s.diskBytesSpilled() for s in stages) / 2**20,
            "spark.cpu_busy_ratio": cpu_ns / 1e9 / (self.cores * wall_s) if wall_s else 0.0,
        }

    def python_udf_metrics(self) -> dict:
        """Sum of the Arrow Python-UDF node metrics over the SQL executions
        started since the last ``begin``: run, start and init seconds and
        bytes sent to the Python workers."""
        out = {"run_s": 0.0, "boot_s": 0.0, "init_s": 0.0, "sent_bytes": 0.0}
        names = {"time to run Python workers": "run_s",
                 "time to start Python workers": "boot_s",
                 "time to initialize Python workers": "init_s",
                 "data sent to Python workers": "sent_bytes"}
        for e in _seq(self.sql_store.executionsList()):
            eid = e.executionId()
            if eid <= self._seen_exec:
                continue
            values = self.sql_store.executionMetrics(eid)
            graph = self.sql_store.planGraph(eid)
            for node in _seq(graph.allNodes()):
                if "ArrowEvalPython" not in node.name():
                    continue
                for m in _seq(node.metrics()):
                    key = names.get(m.name())
                    if key is None or not values.contains(m.accumulatorId()):
                        continue
                    out[key] += parse_metric(values.apply(m.accumulatorId()))
        return out


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
          "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: '44.7 s' or 'total (min, med, max
    (stageId: taskId))\\n44.7 s (1.2 s, ...)'. Seconds or bytes."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)
