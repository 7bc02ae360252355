"""Seeded benchmark inputs, written once per seed outside the timed region.

Every input is built from `citegraph_spark.fixtures.synth_hepth_dataset`
(a hep-th-shaped graph whose per-year cumulative counts equal the
reference's golden `HEPTH_DENSITIES`). The density input concatenates K
copies, each from its own seed and with its ids shifted by
`k * ID_STRIDE`, so the copies are disjoint and the expected output is
exactly K times the golden counts. Copy k of seed s uses synthetic seed
`s * 1000 + k`, so no two benchmark seeds share a copy. Ids stay below
9 digits, so the loader's `11`-prefix normalization never fires.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from dataclasses import dataclass

#: larger than the biggest synthetic id (37,201 at 2002)
ID_STRIDE = 100_000


@dataclass(frozen=True)
class GraphInput:
    path: str
    copies: int
    max_year: int
    edges: int


def _data_lines(path: str) -> list[str]:
    with open(path) as fh:
        return [line.rstrip("\n") for line in fh if line.strip() and not line.startswith("#")]


def make_graph(work_dir: str, seed: int, copies: int, max_year: int) -> GraphInput:
    """`citations.txt` + `published-dates.txt` of `copies` disjoint
    hep-th-shaped graphs truncated at `max_year`. Reused if already
    written for the same (seed, copies, max_year)."""
    from citegraph_spark.fixtures import synth_hepth_dataset

    if copies * ID_STRIDE >= 10**8:
        raise ValueError(f"{copies} copies would reach 9-digit ids")
    path = os.path.join(work_dir, "inputs", f"graph-s{seed}-k{copies}-y{max_year}")
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        cit: list[str] = []
        pub: list[str] = []
        with tempfile.TemporaryDirectory(dir=work_dir) as tmp:
            for k in range(copies):
                synth_hepth_dataset(tmp, max_year=max_year, seed=seed * 1000 + k)
                off = k * ID_STRIDE
                for line in _data_lines(f"{tmp}/citations.txt"):
                    f, t = line.split()
                    cit.append(f"{int(f) + off} {int(t) + off}")
                for line in _data_lines(f"{tmp}/published-dates.txt"):
                    pid, date = line.split("\t")
                    pub.append(f"{int(pid) + off}\t{date}")
        with open(os.path.join(path, "citations.txt"), "w") as fh:
            fh.write("# FromNodeId ToNodeId\n" + "\n".join(cit) + "\n")
        with open(os.path.join(path, "published-dates.txt"), "w") as fh:
            fh.write("\n".join(pub) + "\n")
        with open(done, "w") as fh:
            fh.write(f"{len(cit)}\n")
    with open(done) as fh:
        edges = int(fh.read())
    return GraphInput(path, copies, max_year, edges)


def read_graph(path: str) -> tuple[list[tuple[int, int]], dict[int, int]]:
    """(directed edges, {id: year}) parsed straight from the input text."""
    edges = []
    for line in _data_lines(os.path.join(path, "citations.txt")):
        f, t = line.split()
        edges.append((int(f), int(t)))
    years = {}
    for line in _data_lines(os.path.join(path, "published-dates.txt")):
        pid, date = line.split("\t")
        years[int(pid)] = int(date[:4])
    return edges, years
