"""Subprocess probe for the executor-loss durability tests
(tests/test_lineage.py::test_*_executor_kill).

Runs pagerank (12 rounds, real parquet edges) on
`local-cluster[2,1,1536]` — standalone-style SEPARATE executor JVMs, the
closest a single box gets to cluster fault injection — and, unless
--no-kill, SIGKILLs one CoarseGrainedExecutorBackend mid-iteration.
Kill timing is deterministic, not wall-clock: a driver-side wrapper
counts cut_lineage calls and the watcher fires after the SECOND one.
pagerank's first two truncations are its edge table and its node table,
so the kill lands before round 1: the plan's lineage now ends at
checkpointed state that the message table, the initial ranks and all
12 rounds must read back. Killing earlier proves nothing —
pre-checkpoint stages recompute from the parquet scan's intact lineage
and the job survives in either mode (the flake the first wall-clock
watcher actually hit).

Usage: _kill_probe.py <reliable|default> <ckpt_dir> <sf_dir> [--no-kill]
Prints `RESULT <sha16> rows=N killed=PID|None secs=S` and exits 0 on
success; prints `FAILED killed=PID: <error>` and exits 1 on failure.
Not a pytest module (leading underscore keeps it out of collection).
"""

from __future__ import annotations

import hashlib
import os
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

mode, ckpt_dir, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3]
do_kill = "--no-kill" not in sys.argv
# --single-executor: local-cluster[1,1,1536] instead of [2,1,1536]. For
# the NEGATIVE control (default localCheckpoint must DIE on executor
# loss) the 2-executor topology is flaky under box contention: the kill
# may take the executor that happens to hold no round-state blocks and
# the job survives legitimately. One executor makes block loss certain.
MASTER = ("local-cluster[1,1,1536]" if "--single-executor" in sys.argv
          else "local-cluster[2,1,1536]")
ITERATIONS = 12

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

builder = (
    SparkSession.builder.master(MASTER)
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.default.parallelism", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.checkpoint.dir", ckpt_dir)
    .appName(f"kill_probe_{mode}")
)
if mode == "reliable":
    builder = builder.config("spark.citegraph.reliableCheckpoint", "true")
spark = builder.getOrCreate()

from citegraph_spark.operators import graph as graph_ops  # noqa: E402
from citegraph_spark.operators.graph import pagerank  # noqa: E402

# Deterministic kill timing: wrap cut_lineage so the watcher fires only
# after the SECOND truncation completed (pagerank's node table; the first
# is its edge table) — at that point truncated state provably exists (and
# is all the job has: its lineage ends at the checkpoint) while every
# round still needs it. Killing any earlier proves nothing: every stage
# would still be recomputable from the parquet scan's intact lineage and
# the job survives in either mode.
_cuts = {"n": 0}
_orig_cut = graph_ops.cut_lineage


def _counting_cut(df):
    out = _orig_cut(df)
    _cuts["n"] += 1
    return out


graph_ops.cut_lineage = _counting_cut

edges = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
    F.col("l_orderkey").cast("long").alias("src"),
    F.col("l_partkey").cast("long").alias("dst"),
)

killed: dict = {"pid": None}
start = time.time()


def _executor_pids() -> list[int]:
    out = subprocess.run(
        ["ps", "-eo", "pid,args"], capture_output=True, text=True
    ).stdout
    return [
        int(line.split(None, 1)[0])
        for line in out.splitlines()
        if "CoarseGrainedExecutorBackend" in line
    ]


def _watcher() -> None:
    deadline = time.time() + 180
    while time.time() < deadline:
        time.sleep(0.25)
        # fire after the second truncation (the node table, before
        # round 1): the plan's lineage now ENDS at checkpointed state
        # (localCheckpoint blocks in executor storage / reliable files
        # on the DFS) that all 12 rounds must read back
        if _cuts["n"] >= 2:
            break
    pids = _executor_pids()
    if pids:
        killed["pid"] = pids[0]
        print(f"WATCHER: killing executor pid {pids[0]} of {pids}", flush=True)
        os.kill(pids[0], signal.SIGKILL)
    else:
        print("WATCHER: no executor JVM found", flush=True)


if do_kill:
    threading.Thread(target=_watcher, daemon=True).start()

try:
    rows = sorted(
        (r["node"], round(r["rank"], 9))
        for r in pagerank(edges, iterations=ITERATIONS).collect()
    )
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    print(
        f"RESULT {digest} rows={len(rows)} killed={killed['pid']} "
        f"secs={time.time() - start:.0f}",
        flush=True,
    )
    spark.stop()
    sys.exit(0)
except Exception as ex:  # noqa: BLE001 — the probe's contract is exit status
    print(
        f"FAILED killed={killed['pid']}: {type(ex).__name__}: {str(ex)[:800]}",
        flush=True,
    )
    spark.stop()
    sys.exit(1)
