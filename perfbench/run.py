#!/usr/bin/env python3
"""Benchmark of the citegraph_spark CLI tasks (density, exact diameter).

Run from the repository root:

    python3 perfbench/run.py --workload density --seed 1 --seconds 8 --trace 0

One client drives `citegraph_spark.cli.main` in a closed loop on
`local[<cores>]`: the next CLI task starts only after the previous one
returned and its output was checked. Inputs come from `--seed` and are
written once per seed under `.perfbench/` before any timing. The run

1. sets up 3 times: a fresh SparkSession from `session.get_spark` (the
   first also launches the JVM) plus one CLI task on the workload's small
   input (TINY);
2. runs `warm_up` untimed CLI tasks on the measured input, then times
   CLI tasks on it until `--seconds` have passed (at least one);
3. checks every task's output (checks.py), outside the timed region.

End-to-end metrics (`--trace 0`):
- `setup_s`: median CPU seconds of a set-up;
- `cpu_s`: median CPU seconds of a CLI task on the measured input;
- `peak_rss_mb`: peak resident memory of the driver (Python + JVM).
CPU seconds count every thread of the Python driver, the driver JVM and
any Python worker, except the JVM's JIT compiler threads. They are the
timings with regression bounds because, on a shared 4-vCPU VM with 5-17 %
hypervisor CPU steal, wall times of identical runs moved by up to 50 %
and CPU times by a few percent. Wall times are printed on the summary
line.

With `--trace 1` it alternates untraced tasks and tasks traced per layer
(spans.py) and prints the per-layer metrics instead, with the median
untraced wall time (`cli.wall_s`) and the tracing overhead (traced minus
untraced median wall time). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

import checks
from inputs import make_graph
from spans import Span, Tracer

SETUPS = 3

UNITS = {
    # end to end (--trace 0)
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    # per layer (--trace 1)
    "cli.wall_s": "s",
    "session.get_spark_s": "s",
    "sources.scan_s": "s",
    "sources.rows": "count",
    "sources.sinks.save_s": "s",
    "operators.graph.density_s": "s",
    "operators.graph.snapshot_edges_s": "s",
    "operators.graph.hop_plot_s": "s",
    "operators.graph.hop_plot.rounds": "count",
    "operators.graph.hop_plot.pairs": "count",
    "operators.graph.hop_plot.pairs_per_s": "pairs/s",
    "operators.graph.hop_plot.s_per_round": "s/round",
    "operators.graph.hop_plot.jobs_per_round": "jobs/round",
    "operators.graph.hop_plot.tasks": "count",
    "operators.graph.hop_plot.failed_tasks": "count",
    "cli.years": "count",
    "cli.per_year_s": "s",
    "cli.jobs": "count",
    "cli.tasks": "count",
    "trace.overhead_s": "s",
}


@dataclass(frozen=True)
class Workload:
    task: str
    copies: int
    max_year: int
    max_d: int | None = None  # diameter only: --max-d
    #: untimed tasks on the measured input before timing: a density task is
    #: short, so its first ones still fall steeply as the JIT warms up; a
    #: diameter task is long enough to be measured from the first
    warm_up: int = 0


WORKLOADS = {
    # text scan, two aggregations and the single-file CSV sink; no iteration
    "density": Workload("density", copies=1, max_year=2002, warm_up=3),
    # 1992 takes the driver-local BFS, 1993 (2,919 edges) the distributed
    # frontier BFS: rounds d=2 (wedge join) and d=3 (frontier join plus a
    # lineage checkpoint)
    "diameter": Workload("diameter", copies=13, max_year=1992, max_d=3),
}

#: the same CLI task on a small input: the set-ups' warm-up, and the
#: whole self-test
TINY = {
    "density": Workload("density", copies=2, max_year=1993),
    "diameter": Workload("diameter", copies=1, max_year=1992, max_d=3),
}


# ----------------------------------------------------------- processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks(path: str) -> int:
    with open(path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])  # utime + stime


def cpu_seconds() -> float:
    """CPU time used so far by this process and its descendants (the
    driver JVM and any Python workers), all threads, minus the JVM's JIT
    compiler threads: compilation is warm-up work whose timing varies run
    to run. CPU time stolen by the hypervisor is never in it."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            ticks += _cpu_ticks(f"/proc/{pid}/stat")
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if "CompilerThre" in fh.read():
                        ticks -= _cpu_ticks(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) of this process (the Python
    driver) and its descendants (the driver JVM and any Python workers)."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_spark() -> None:
    """Stop the session, end the JVM and wait until every child exits."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for _ in range(50):
        if not descendants(os.getpid()):
            break
        time.sleep(0.1)


def isolate(work_dir: str, driver_mem: str) -> None:
    """Keep Spark's scratch files inside the checkout, pin the driver heap
    and the JIT compiler threads."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # fixed JIT compiler threads: an exiting one would carry its CPU time
    # into the process total that cpu_seconds() reads
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    ).strip()


# ---------------------------------------------------------------- runs


class Case:
    """One workload input with its expected output."""

    def __init__(self, wl: Workload, work_dir: str, seed: int):
        self.wl = wl
        self.graph = make_graph(work_dir, seed, wl.copies, wl.max_year)
        self.want = (checks.expected_hop_plots(self.graph, wl.max_d)
                     if wl.task == "diameter" else None)

    def argv(self, out_dir: str) -> list[str]:
        argv = [self.wl.task, self.graph.path, out_dir]
        return argv + ["--max-d", str(self.wl.max_d)] if self.wl.max_d else argv

    def check(self, out_dir: str) -> str | None:
        if self.wl.task == "density":
            return checks.check_density(out_dir, self.graph)
        return checks.check_diameter(out_dir, self.want)


class Run:
    def __init__(self, work_dir: str, task: str, tracer: Tracer):
        self.out_dir = os.path.join(work_dir, "out", task)
        self.app_name = f"citegraph_{task}"
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.cpu_s: list[float] = []

    def task(self, case: Case, traced: bool = False) -> float:
        """One CLI task; returns its seconds (output check excluded)."""
        from citegraph_spark import cli

        shutil.rmtree(self.out_dir, ignore_errors=True)
        self.attempted += 1
        cpu0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.layers(), self.tracer.span("cli"):
                    rc = cli.main(case.argv(self.out_dir))
            else:
                rc = cli.main(case.argv(self.out_dir))
        except Exception as e:  # a failed task is counted, the loop goes on
            self.failures.append(f"{type(e).__name__}: {e}"[:300])
            return time.perf_counter() - t0
        seconds = time.perf_counter() - t0
        self.cpu_s.append(cpu_seconds() - cpu0)
        problem = f"exit code {rc}" if rc != 0 else case.check(self.out_dir)
        if problem:
            self.failures.append(problem)
        return seconds

    def setup(self, warm_up: Case, first: bool) -> tuple[float, float]:
        """(Re)start the SparkSession and run one warm-up task; returns
        the (wall, CPU) seconds of both."""
        from pyspark.sql import SparkSession

        from citegraph_spark import session

        if not first:
            SparkSession.getActiveSession().stop()
        cpu0 = cpu_seconds()
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            session.get_spark(app_name=self.app_name)
        wall = time.perf_counter() - t0
        cpu = cpu_seconds() - cpu0
        wall += self.task(warm_up)
        return wall, cpu + self.cpu_s[-1]


def _sum(spans: list[Span], name: str, attr: str = "seconds") -> float:
    return sum(getattr(s, attr) for s in spans if s.name == name)


def layer_metrics(tracer: Tracer) -> list[dict[str, float]]:
    """Per traced CLI task: its layer metrics, from its span tree."""
    by_parent: dict[int | None, list[Span]] = {}
    for s in tracer.spans:
        by_parent.setdefault(s.parent, []).append(s)

    def tree(s: Span) -> list[Span]:
        out = [s]
        for c in by_parent.get(s.id, []):
            out += tree(c)
        return out

    rows = []
    for root in (s for s in tracer.spans if s.name == "cli"):
        spans = tree(root)
        scan = [s for s in spans if s.name == "sources.scan"]
        hop = [s for s in spans if s.name == "operators.graph.hop_plot"]
        scan_s = sum(s.seconds for s in scan)
        hop_s = sum(s.seconds for s in hop)
        rounds = sum(s.counts.get("rounds", 0) for s in hop)
        pairs = sum(s.counts.get("pairs", 0) for s in hop)
        density_s = _sum(spans, "operators.graph.density")
        years = sum(1 for s in spans if s.name == "operators.graph.snapshot_edges")
        rows.append({
            "sources.scan_s": scan_s,
            "sources.rows": sum(s.counts.get("rows", 0) for s in scan),
            "sources.sinks.save_s": _sum(spans, "sources.sinks.save"),
            # the forced call re-reads its inputs; their forced scan is subtracted
            "operators.graph.density_s": max(density_s - scan_s, 0.0) if density_s else 0.0,
            "operators.graph.snapshot_edges_s": _sum(spans, "operators.graph.snapshot_edges"),
            "operators.graph.hop_plot_s": hop_s,
            "operators.graph.hop_plot.rounds": rounds,
            "operators.graph.hop_plot.pairs": pairs,
            "operators.graph.hop_plot.pairs_per_s": pairs / hop_s if hop_s else 0.0,
            "operators.graph.hop_plot.s_per_round": hop_s / rounds if rounds else 0.0,
            "operators.graph.hop_plot.jobs_per_round":
                _sum(hop, "operators.graph.hop_plot", "jobs") / rounds if rounds else 0.0,
            "operators.graph.hop_plot.tasks": _sum(hop, "operators.graph.hop_plot", "tasks"),
            "operators.graph.hop_plot.failed_tasks":
                _sum(hop, "operators.graph.hop_plot", "failed_tasks"),
            "cli.years": years,
            "cli.per_year_s": root.seconds / years if years else 0.0,
            "cli.jobs": sum(s.jobs for s in spans),
            "cli.tasks": sum(s.tasks for s in spans),
        })
    return rows


def _fmt(xs: list[float]) -> str:
    return "[" + ", ".join(f"{x:.2f}" for x in xs) + "]"


def run(workload: str, seed: int, seconds: float, trace: bool, work_dir: str,
        tiny: bool = False) -> dict:
    small = Case(TINY[workload], work_dir, seed)
    case = small if tiny else Case(WORKLOADS[workload], work_dir, seed)
    graph = case.graph
    tracer = Tracer(f"{workload}-s{seed}-{os.getpid()}")
    r = Run(work_dir, workload, tracer)

    setups = [r.setup(small, first=(i == 0)) for i in range(SETUPS)]
    for _ in range(case.wl.warm_up):
        r.task(case)
    plain: list[float] = []
    plain_cpu: list[float] = []
    traced: list[float] = []
    t0 = time.perf_counter()
    while not plain or (trace and not traced) or time.perf_counter() - t0 < seconds:
        if trace and len(traced) < len(plain):
            traced.append(r.task(case, traced=True))
        else:
            plain.append(r.task(case))
            plain_cpu.append(r.cpu_s[-1])
    rss = peak_rss_mb()

    wall_s = statistics.median(plain)
    if trace:
        tracer.dump(os.path.join(work_dir, f"spans-{workload}-s{seed}.json"))
        per_task = layer_metrics(tracer)
        metrics = {k: statistics.median(row[k] for row in per_task) for k in per_task[0]}
        metrics["session.get_spark_s"] = statistics.median(
            s.seconds for s in tracer.spans if s.name == "session.get_spark")
        metrics["trace.overhead_s"] = statistics.median(traced) - wall_s
        metrics["cli.wall_s"] = wall_s
    else:
        metrics = {
            "setup_s": statistics.median(cpu for _, cpu in setups),
            "cpu_s": statistics.median(plain_cpu),
            "peak_rss_mb": rss,
        }
    failed = len(r.failures)
    print(f"perfbench: {workload} seed={seed} edges={graph.edges} "
          f"set-up wall={_fmt([w for w, _ in setups])} cpu={_fmt([c for _, c in setups])} "
          f"task wall={_fmt(plain)} cpu={_fmt(plain_cpu)} traced wall={_fmt(traced)} "
          f"failed_share={failed}/{r.attempted}")
    for problem in r.failures:
        print(f"perfbench: FAILED {problem}")
    return {
        "correct": failed == 0,
        "attempted": r.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in sorted(metrics.items())},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--driver-mem", default="1g", help="driver JVM heap (SPARK_GRAFT_DRIVER_MEM)")
    p.add_argument("--tiny", action="store_true", help="self-test scale inputs")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "citegraph_spark", "cli.py")):
        print("perfbench: run from the repository root (citegraph_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work_dir = os.path.join(root, ".perfbench")
    isolate(work_dir, args.driver_mem)
    # on SIGTERM, unwind through the `finally` that stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work_dir,
                     tiny=args.tiny)
    finally:
        stop_spark()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
