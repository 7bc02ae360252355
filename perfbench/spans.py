"""Spans around the calls into each program layer, recorded from outside.

`Tracer.layers()` swaps the layers' public functions, on their modules,
for wrappers that record a span around each call and then restores them;
the CLI resolves those names at call time, so a traced `cli.main` runs
through the wrappers. Lazy layers (the loaders, `density`,
`snapshot_edges`) return unevaluated DataFrames, so the wrapper forces
each one into Spark's `noop` sink inside its span — extra work that only
the traced run pays. Each span runs its Spark jobs under its own job
group; `SparkContext.statusTracker()` then gives its jobs, tasks and
failed tasks. Spans stay in memory until `dump`.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    id: int = 0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str):
        from pyspark import SparkContext

        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent.id if parent else None,
                 run_id=self.run_id, id=next(self._ids))
        group = f"perfbench-{self.run_id}-{s.id}"
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobGroup(group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            sc = SparkContext._active_spark_context
            if sc is not None:
                self._collect_jobs(sc, group, s)
                if parent is not None:
                    sc.setJobGroup(f"perfbench-{self.run_id}-{parent.id}", parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    @staticmethod
    def _collect_jobs(sc, group: str, s: Span) -> None:
        tracker = sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            s.jobs += 1
            job = tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else []:
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    s.tasks += stage.numTasks
                    s.failed_tasks += stage.numFailedTasks

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)

    # ------------------------------------------------------------ layers

    def _force(self, df, s: Span) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"perfbench_rows_{s.id}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
            "overwrite"
        ).save()
        s.counts["rows"] = obs.get["rows"]

    def _wrap(self, name: str, fn, force: bool = False):
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if force:
                    self._force(out, s)
            return out

        return traced

    def _wrap_bfs(self, fn):
        """Count on the enclosing span the BFS levels computed (`rounds`,
        d=1 included) and the connected pairs found (`pairs`)."""

        def traced(*args, **kwargs):
            counts = fn(*args, **kwargs)
            if not self._stack:
                return counts
            s = self._stack[-1]
            s.counts["rounds"] = s.counts.get("rounds", 0) + len(counts)
            s.counts["pairs"] = s.counts.get("pairs", 0) + (counts[-1][1] if counts else 0)
            return counts

        return traced

    @contextlib.contextmanager
    def layers(self):
        """Install the layer wrappers for the duration of the block."""
        import citegraph_spark.operators.graph as graph
        import citegraph_spark.sources as sources

        patches = [
            (sources, "load_citations",
             self._wrap("sources.scan", sources.load_citations, force=True)),
            (sources, "load_published_dates",
             self._wrap("sources.scan", sources.load_published_dates, force=True)),
            (sources, "save_sorted_csv_single",
             self._wrap("sources.sinks.save", sources.save_sorted_csv_single)),
            (graph, "density", self._wrap("operators.graph.density", graph.density, force=True)),
            (graph, "snapshot_edges",
             self._wrap("operators.graph.snapshot_edges", graph.snapshot_edges, force=True)),
            (graph, "hop_plot_df", self._wrap("operators.graph.hop_plot", graph.hop_plot_df)),
            (graph, "connected_pairs_by_distance",
             self._wrap_bfs(graph.connected_pairs_by_distance)),
        ]
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
        for mod, attr, fn in patches:
            setattr(mod, attr, fn)
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)
