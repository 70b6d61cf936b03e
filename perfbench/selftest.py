"""Self-test of the benchmark at toy input size.

    python3 perfbench/selftest.py

1. In one process: a correct call of each workload passes its check, and a
   deliberately wrong output, and a call that raises, are each counted as
   failed.
2. As an evaluation run would: `run.py` on each workload with --trace 0 and 1
   prints, as its last line, every metric BENCHMARK.json names for that
   mode, each with its unit, and correct=true.
3. Run outside a full checkout, `run.py` exits non-zero without a result.
4. On a copy of the checkout whose `run_pipeline` always raises, `run.py`
   still ends, with exit 0 and a result line saying correct=false.

Exits non-zero on the first failed expectation.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 3


def expect(cond: bool, msg: str) -> None:
    if not cond:
        print(f"selftest FAILED: {msg}", file=sys.stderr)
        sys.exit(1)
    print(f"ok: {msg}")


def wrong(name: str, res: dict) -> dict:
    """The same result with one answer off by one."""
    if name == "crawl_filter":
        return {**res, "kept": res["kept"] + 1}
    rule_id = next(iter(res["ko"]))
    return {**res, "ko": {**res["ko"], rule_id: res["ko"][rule_id] + 1}}


def fault_injection() -> None:
    sys.path[:0] = [ROOT, HERE]
    import run
    from workloads import WORKLOADS

    run.environment()
    data = {w: run.generate(w, SEED, "toy") for w in WORKLOADS}
    spark = run.start_spark()
    try:
        for name, cls in WORKLOADS.items():
            wl = cls(spark, data[name], os.path.join(run.WORK, "out"))
            calls = run.Calls(wl)
            res, _ = calls.run()
            expect(res is not None and calls.failed == 0, f"{name}: correct call passes")
            calls.verify(res)
            expect(calls.failed == 0, f"{name}: oracle agrees with a correct call")
            calls.run(lambda: wrong(name, res))
            expect(calls.failed == 1, f"{name}: a wrong output is counted as failed")
            calls.run(lambda: 1 // 0)
            expect(calls.failed == 2 and calls.attempted == 3,
                   f"{name}: a raising call is counted as failed")
            wl.cleanup(res)
    finally:
        run.stop_spark(spark)


def last_line(cmd: list[str], cwd: str) -> tuple[int, str]:
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=400)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines[-1] if lines else ""


def evaluation_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, line = last_line(
                [sys.executable, "perfbench/run.py", "--workload", w["name"],
                 "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
                 "--size", "toy"], ROOT)
            expect(code == 0, f"{w['name']} trace={trace}: exit 0")
            out = json.loads(line)
            expect(set(out) == {"correct", "attempted", "failed", "metrics"},
                   f"{w['name']} trace={trace}: result keys")
            expect(out["correct"] and out["failed"] == 0 and out["attempted"] >= 1,
                   f"{w['name']} trace={trace}: correct, {out['attempted']} attempted")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            expect(got == want, f"{w['name']} trace={trace}: every {key} metric with its unit")
            expect(all(isinstance(v["value"], float) for v in out["metrics"].values()),
                   f"{w['name']} trace={trace}: numeric values")


def outside_checkout() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as d:
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        code, line = last_line(
            [sys.executable, "perfbench/run.py", "--workload", "crawl_filter",
             "--seed", "1", "--seconds", "1", "--trace", "0"], d)
        expect(code != 0 and not line, "outside a checkout: non-zero exit, no result")


def broken_program() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as d:
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copytree(os.path.join(ROOT, "data_quality_spark"),
                        os.path.join(d, "data_quality_spark"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        with open(os.path.join(d, "data_quality_spark", "pipeline",
                               "quality_filter.py"), "a") as fh:
            fh.write("\n\ndef run_pipeline(*args, **kwargs):\n"
                     "    raise RuntimeError('deliberately broken')\n")
        code, line = last_line(
            [sys.executable, "perfbench/run.py", "--workload", "crawl_filter",
             "--seed", str(SEED), "--seconds", "1", "--trace", "0",
             "--size", "toy"], d)
        expect(code == 0 and line.startswith("{"), "every call raises: the run ends with a result")
        out = json.loads(line)
        expect(not out["correct"] and out["failed"] == out["attempted"] >= 1,
               f"every call raises: correct=false, {out['failed']}/{out['attempted']} failed")


if __name__ == "__main__":
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    outside_checkout()
    broken_program()
    fault_injection()
    evaluation_runs()
    print("selftest passed")
