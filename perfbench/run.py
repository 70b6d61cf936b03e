"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_filter --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
the seed (in a child process, cached under .perfbench_work/), starts Spark
on local[<cpus>] and measures:

  * set-up: get_spark() plus the first, cold call and its check;
  * a fixed number of untimed warm-up calls;
  * the timed window: calls until --seconds have passed.

Every call's output is checked; one call per run is also compared in full
with an oracle. The last line of stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics (perfbench/layers.py) with --trace 1. The
line before it (prefixed `perfbench-diag`) carries the chosen calls' times,
the host steal, the memory-probe readings, the CPU canary at the start and
end of the run, and the timings before machine-speed normalization. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOAD_NAMES = ("crawl_filter", "rule_checks")

MIN_WINDOW_CALLS = 2
QUIET_STEAL_SHARE = 0.03
MAX_WINDOW_FACTOR = 1.5
NCPU = os.cpu_count()  # /proc/stat's steal is summed over every CPU
DRIVER_MEM = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full",
                    help="input size; toy is for the self-test")
    return ap.parse_args(argv)


def environment() -> None:
    """Environment for Spark and its Python workers: every scratch file
    inside the checkout, the package importable by the workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": os.environ.get(
            "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher's too: scratch in the checkout
        # and no /tmp/hsperfdata_* file
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYTHONHASHSEED": "0",
    }
    os.environ.update(env)


def generate(workload: str, seed: int, size: str) -> str:
    """Inputs and expected outputs of (workload, seed, size), made in a
    child process so none of their cost or imports land in the set-up."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
         "--seed", str(seed), "--size", size, "--out", os.path.join(WORK, "cache")],
        check=True, capture_output=True, text=True, timeout=170,
    )
    return out.stdout.strip().splitlines()[-1]


def start_spark():
    from data_quality_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # a fixed, pre-touched heap: how far G1 happens to grow it made peak
        # PSS bimodal (1.62 vs 2.14 GB on the same input); the heap the
        # program keeps shows in heap_live_mb, its pressure in spark.gc_s
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Calls:
    """Runs calls of one workload and counts attempts and failures. A call
    that raises, or whose output fails its check, is failed."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, fn=None):
        """One call. Returns (result or None, Interval of the call alone)."""
        from measure import Interval

        self.attempted += 1
        iv = Interval()
        try:
            res = (fn or self.wl.call)()
        except Exception:  # a failed call is counted, the run goes on
            iv.stop()
            self._fail(traceback.format_exc())
            return None, iv
        iv.stop()
        err = self.wl.check(res)
        if err:
            self._fail(err)
            self.wl.cleanup(res)
            return None, iv
        return res, iv

    def verify(self, res) -> None:
        """Full comparison of a successful call's output with the oracle; a
        mismatch turns that call into a failed one."""
        try:
            err = self.wl.verify(res)
        except Exception:  # counted like a wrong answer
            err = traceback.format_exc()
        if err:
            self._fail(err)

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"perfbench: call failed: {msg}", file=sys.stderr)


def setup(name: str, data: str, traced: bool = False):
    """get_spark() and the first, cold call with its check and the full
    oracle comparison. The set-up interval ends when the check passed;
    the oracle comparison is not timed. When traced, the cold call runs
    under the status reader's "cold" job group."""
    from measure import Interval

    iv = Interval()
    spark = start_spark()
    from workloads import WORKLOADS

    wl = WORKLOADS[name](spark, data, os.path.join(WORK, "out"))
    calls = Calls(wl)
    status = None
    if traced:
        from measure import SparkStatus

        status = SparkStatus(spark)
        status.begin("cold")
    res, _ = calls.run()
    iv.stop()
    if res is not None:
        calls.verify(res)
        wl.cleanup(res)
    return spark, wl, calls, iv, status


def window(calls: Calls, seconds: float, root_pid: int, probe) -> tuple[list, list]:
    """Timed calls for `seconds`, then the quietest of them.

    Host steal comes in bursts and a burst slows a call far more than the
    stolen CPU time alone accounts for. So the window runs on, up to
    MAX_WINDOW_FACTOR x `seconds`, until MIN_WINDOW_CALLS calls saw less
    than QUIET_STEAL_SHARE of the machine stolen, and the metrics use the
    MIN_WINDOW_CALLS (or more, if quiet) calls with the least steal. At
    MAX_WINDOW_FACTOR x `seconds` the window ends however many calls
    succeeded, with the successful ones (none if every call failed).
    The memory probe samples the machine after every call, outside it.
    Returns ([(Interval, tree CPU seconds)] of those calls, a record of
    every call run)."""
    from measure import tree_cpu_s

    ok, log = [], []
    t0 = time.perf_counter()
    while True:
        cpu0 = tree_cpu_s(root_pid)
        res, iv = calls.run()
        cpu = tree_cpu_s(root_pid) - cpu0
        log.append({"ok": res is not None, "wall_s": iv.wall_s, "cpu_s": cpu,
                    "steal_share": steal_share(iv)})
        if res is not None:
            ok.append((iv, cpu))
            calls.wl.cleanup(res)
        probe.sample()
        elapsed = time.perf_counter() - t0
        quiet = [c for c in ok if steal_share(c[0]) < QUIET_STEAL_SHARE]
        if elapsed >= seconds and len(quiet) >= MIN_WINDOW_CALLS:
            return quiet, log
        if elapsed >= MAX_WINDOW_FACTOR * seconds:
            return sorted(ok, key=lambda c: steal_share(c[0]))[:MIN_WINDOW_CALLS], log


def steal_share(iv) -> float:
    """Share of the machine's CPU capacity stolen during the interval."""
    return iv.host.steal / (NCPU * iv.wall_s) if iv.wall_s else 0.0


def window_rates(chosen: list, items_per_call: int) -> dict:
    """items_per_s and cpu_s_per_kitem of the chosen calls' median
    steal-free wall time and median tree CPU; 0 when no call succeeded (the
    run is then not correct). On a quiet call the scaling changes the time
    by a few percent at most; in a run that found no quiet call it takes
    back part of the burst."""
    if not chosen:
        return {"items_per_s": 0.0, "cpu_s_per_kitem": 0.0}
    return {
        "items_per_s": items_per_call / statistics.median(iv.steal_free_s for iv, _ in chosen),
        "cpu_s_per_kitem": statistics.median(c for _, c in chosen) / (items_per_call / 1000),
    }


def end_to_end(name: str, data: str, seconds: float, root_pid: int) -> tuple[dict, dict]:
    from measure import Interval, MemProbe, PssSampler, canary, jvm_heap_mb

    canary_start = canary()
    probe = MemProbe()
    with PssSampler(root_pid) as pss:
        probe.sample()
        spark, wl, calls, setup_iv, _ = setup(name, data)
        probe.sample()
        for _ in range(wl.warmup_calls):
            res, _ = calls.run()
            if res is not None:
                wl.cleanup(res)
            probe.sample()
        win = Interval()
        chosen, log = window(calls, seconds, root_pid, probe)
        win.stop()
        heap = jvm_heap_mb(spark)
        stop_spark(spark)
    canary_end = canary()
    raw = {"setup_s": setup_iv.steal_free_s, **window_rates(chosen, wl.items)}
    # timings at the reference machine speed: a shared host drifts between
    # slow and fast phases that last minutes (README: noise)
    speed = probe.speed()
    metrics = {
        "setup_s": (raw["setup_s"] * speed, "s"),
        "items_per_s": (raw["items_per_s"] / speed, "1/s"),
        "cpu_s_per_kitem": (raw["cpu_s_per_kitem"] * speed, "s"),
        # the pinned, pre-touched heap and the probe's array are constants
        # of the benchmark: the memory metrics are the rest of the
        # footprint and the live heap
        "nonheap_pss_mb": (pss.peak_mb - heap["committed_mb"] - probe.mb, "MB"),
        "heap_live_mb": (heap["live_mb"], "MB"),
    }
    diag = {
        "raw": raw,
        "machine_speed": speed,
        "mem_probe_gbps": probe.samples,
        "cpu_canary": {"start": canary_start, "end": canary_end},
        "items_per_call": wl.items,
        "setup_wall_s": setup_iv.wall_s,
        "setup_steal_s": setup_iv.host.steal,
        "window_calls": log,
        "chosen_wall_s": [iv.wall_s for iv, _ in chosen],
        "chosen_steal_free_s": [iv.steal_free_s for iv, _ in chosen],
        "chosen_steal_share": [steal_share(iv) for iv, _ in chosen],
        "chosen_cpu_s": [c for _, c in chosen],
        "window_wall_s": win.wall_s,
        "host.steal_s": win.host.steal,
        "peak_pss_mb": pss.peak_mb,
        "heap": heap,
        "errors": calls.errors[:5],
    }
    return result(calls, metrics), diag


def result(calls: Calls, metrics: dict) -> dict:
    return {
        "correct": calls.failed == 0,
        "attempted": calls.attempted,
        "failed": calls.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    a = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_quality_spark")):
        print(f"perfbench: no data_quality_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    environment()
    data = generate(a.workload, a.seed, a.size)
    if a.trace:
        from layers import traced_run

        corpus = generate("corpus_ops", a.seed, a.size)
        out, diag = traced_run(a.workload, data, corpus)
    else:
        out, diag = end_to_end(a.workload, data, a.seconds, os.getpid())
    diag.update(workload=a.workload, seed=a.seed, trace=a.trace, size=a.size)
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(
            WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}.json"),
            "w") as fh:
        json.dump({"result": out, "diag": diag}, fh, indent=1)
    print("perfbench-diag " + json.dumps(diag, separators=(",", ":")))
    print(json.dumps(out, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
