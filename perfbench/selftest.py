#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs (about two minutes).

Run from the repository root:

    python3 perfbench/selftest.py

It checks that
- a run prints, as its last stdout line, every metric BENCHMARK.json
  names for its mode (end-to-end with --trace 0, per-layer with
  --trace 1), each with its unit, and that every output checked correct;
- each correctness check rejects a deliberately corrupted output;
- run.py exits non-zero, printing no result, where the program is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def check_result(result: dict, spec: list[dict], what: str) -> None:
    expect(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{what}: result keys")
    expect(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
           f"{what}: every output correct")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    expect(got == {m["name"]: m["unit"] for m in spec}, f"{what}: metric names and units")
    expect(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
           f"{what}: numeric values")


def corrupt_first_number(path: str) -> None:
    """Add one to the second field of the first data row of the CSV."""
    part = next(p for p in sorted(os.listdir(path)) if p.startswith("part-"))
    full = os.path.join(path, part)
    with open(full) as fh:
        lines = fh.read().splitlines()
    fields = lines[1].split(",")
    fields[1] = str(int(fields[1]) + 1)
    lines[1] = ",".join(fields)
    with open(full, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    work_dir = os.path.join(root, ".perfbench")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), *bench["command"][2:]]

    # 1. the program absent: non-zero exit, no result line
    bare = os.path.join(work_dir, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "density",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    expect(p.returncode != 0 and '"metrics"' not in p.stdout, "no program: non-zero exit")

    # 2. one full command line: the last stdout line is the result
    p = subprocess.run([*cmd, "--workload", "density", "--seed", "1", "--seconds", "1",
                        "--trace", "0", "--tiny"], capture_output=True, text=True, timeout=300)
    expect(p.returncode == 0, "command line run exits 0")
    check_result(json.loads(p.stdout.strip().splitlines()[-1]), bench["end_to_end"],
                 "command line density --trace 0")

    # 3. every workload in both modes, in one JVM
    sys.path.insert(0, root)
    run.isolate(work_dir, bench["command"][bench["command"].index("--driver-mem") + 1])
    try:
        for workload in run.WORKLOADS:
            for trace in (False, True):
                result = run.run(workload, seed=1, seconds=1, trace=trace, work_dir=work_dir,
                                 tiny=True)
                spec = bench["per_layer"] if trace else bench["end_to_end"]
                check_result(result, spec, f"{workload} --trace {int(trace)}")

            # 4. the check accepts the last output and rejects it corrupted
            case = run.Case(run.TINY[workload], work_dir, seed=1)
            out = os.path.join(work_dir, "out", workload)
            expect(case.check(out) is None, f"{workload}: check accepts the real output")
            sub = "densities" if workload == "density" else f"diameter_{max(case.want)}"
            corrupt_first_number(os.path.join(out, sub))
            expect(case.check(out) is not None, f"{workload}: check rejects a corrupted count")
            if workload == "diameter":
                shutil.rmtree(os.path.join(out, sub))
                expect(case.check(out) is not None, "diameter: check rejects a missing year")
    finally:
        run.stop_spark()
    expect(checks.strict_stop([(1, 5), (2, 95), (3, 100)]) == [(1, 5, 0.05), (2, 95, 0.95)],
           "strict stop ends after the first share above 0.90")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
