"""Correctness checks of the CLI outputs, run outside the timed region.

Each check returns None when the output is right and a one-line reason
when it is not. The expected values never come from the program under
test: density is compared with K times the reference's golden counts,
and each hop-plot with a driver-local BFS replay of the raw input text.
"""

from __future__ import annotations

import csv
import glob
import os
from collections import defaultdict, deque

from inputs import GraphInput, read_graph


def read_csv_dir(path: str) -> list[list[str]] | None:
    """Header + rows of the single-file CSV the CLI writes under `path`."""
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    if len(parts) != 1:
        return None
    with open(parts[0], newline="") as fh:
        return list(csv.reader(fh))


def check_density(out_dir: str, graph: GraphInput) -> str | None:
    from citegraph_spark.fixtures import HEPTH_DENSITIES

    rows = read_csv_dir(os.path.join(out_dir, "densities"))
    if rows is None:
        return "densities: not exactly one part file"
    if rows[0] != ["year", "n(t)", "e(t)"]:
        return f"densities: header {rows[0]}"
    k = graph.copies
    want = [(y, k * n, k * e) for y, n, e in HEPTH_DENSITIES if y <= graph.max_year]
    try:
        got = [tuple(int(v) for v in r) for r in rows[1:]]
    except ValueError as e:
        return f"densities: {e}"
    return None if got == want else f"densities: got {got[:3]}..., want {want[:3]}..."


# -------------------------------------------------------------- diameter


def bfs_pair_counts(edges: list[tuple[int, int]], max_d: int) -> list[tuple[int, int]]:
    """[(d, cumulative unordered connected pairs at distance <= d)] until
    no new pairs appear or d reaches max_d."""
    adj: dict[int, set[int]] = defaultdict(set)
    for f, t in edges:
        if f != t:
            adj[f].add(t)
            adj[t].add(f)
    per_d: dict[int, int] = defaultdict(int)
    for src in adj:
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            if dist[u] == max_d:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for v, dv in dist.items():
            if v > src:
                per_d[dv] += 1
    out, cum = [], 0
    for d in range(1, max_d + 1):
        if d > 1 and per_d.get(d, 0) == 0:
            break
        cum += per_d.get(d, 0)
        out.append((d, cum))
    return out


def strict_stop(counts: list[tuple[int, int]]) -> list[tuple[int, int, float]]:
    """The reference's emission rule over the max-d denominator: d=1,2
    always; d>=3 only while the previous row's share is <= 0.90."""
    total = counts[-1][1]
    out: list[tuple[int, int, float]] = []
    for d, g in counts:
        pct = g * 1.0 / total
        if d > 2 and not (out and out[-1][2] <= 0.90):
            break
        out.append((d, g, pct))
        if d >= 2 and pct > 0.90:
            break
    return out


def expected_hop_plots(graph: GraphInput, max_d: int) -> dict[int, list[tuple[int, int, float]]]:
    """{year: hop-plot rows} replayed from the input files; years whose
    snapshot has no edges are absent, as the CLI skips them."""
    edges, years = read_graph(graph.path)
    out = {}
    for year in sorted(set(years.values())):
        snap = [(f, t) for f, t in edges
                if years.get(f, year + 1) <= year and years.get(t, year + 1) <= year]
        if snap:
            out[year] = strict_stop(bfs_pair_counts(snap, max_d))
    return out


def check_diameter(out_dir: str, want: dict[int, list[tuple[int, int, float]]]) -> str | None:
    written = sorted(os.path.basename(p) for p in glob.glob(os.path.join(out_dir, "diameter_*")))
    if written != sorted(f"diameter_{y}" for y in want):
        return f"diameter: wrote {written}, want years {sorted(want)}"
    for year, rows_want in want.items():
        rows = read_csv_dir(os.path.join(out_dir, f"diameter_{year}"))
        if rows is None or rows[0] != ["d", "g(d)", "percent_of_total"]:
            return f"diameter_{year}: missing part file or bad header"
        try:
            got = [(int(d), int(g), float(p)) for d, g, p in rows[1:]]
        except ValueError as e:
            return f"diameter_{year}: {e}"
        if got != rows_want:
            return f"diameter_{year}: got {got}, want {rows_want}"
    return None
