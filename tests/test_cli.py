"""CLI surface: density/diameter on the reference text formats, both the
exact BFS path and the HyperBall --approx path."""

from __future__ import annotations

import csv
import glob
import tempfile

import pytest

from citegraph_spark.cli import main

CITS = "# comment\n2 1\n3 1\n4 2\n5 4\n6 5\n"
PUBS = (
    "1\t1992-01-01\n2\t1993-03-04\n3\t1993-05-06\n"
    "4\t1994-01-01\n5\t1994-02-01\n6\t1994-03-01\n"
)


def _write_inputs(d: str) -> None:
    with open(f"{d}/citations.txt", "w") as f:
        f.write(CITS)
    with open(f"{d}/published-dates.txt", "w") as f:
        f.write(PUBS)


def _read_rows(pattern: str) -> list[dict]:
    (path,) = glob.glob(pattern)
    with open(path) as f:
        return list(csv.DictReader(f))


def test_cli_density(spark):
    with tempfile.TemporaryDirectory() as d:
        _write_inputs(d)
        assert main(["density", d, f"{d}/out"]) == 0
        rows = _read_rows(f"{d}/out/densities/part*.csv")
        got = {r["year"]: (r["n(t)"], r["e(t)"]) for r in rows}
        assert got == {"1993": ("3", "2"), "1994": ("6", "5")}


def test_cli_diameter_exact_vs_approx(spark):
    with tempfile.TemporaryDirectory() as d:
        _write_inputs(d)
        assert main(["diameter", d, f"{d}/exact"]) == 0
        assert main(["diameter", d, f"{d}/approx", "--approx"]) == 0
        exact = _read_rows(f"{d}/exact/diameter_1994/part*.csv")
        approx = _read_rows(f"{d}/approx/diameter_1994/part*.csv")
        assert [r["d"] for r in exact] == [r["d"] for r in approx]
        # same emission rule, monotone estimates, bounded relative error
        pcts = [float(r["percent_of_total"]) for r in approx]
        assert all(b >= a for a, b in zip(pcts, pcts[1:]))
        for e, a in zip(exact, approx):
            assert abs(int(a["g(d)"]) - int(e["g(d)"])) / int(e["g(d)"]) < 0.35


# the 1994 snapshot is the path 3-1-2-4-5-6: 5, 9, 12, 14, 15 pairs at d<=1..5
PATH_1994 = [(1, 5), (2, 9), (3, 12), (4, 14), (5, 15)]


def _hop_rows(d: str, year: int) -> list[tuple[int, int, float]]:
    return [
        (int(r["d"]), int(r["g(d)"]), float(r["percent_of_total"]))
        for r in _read_rows(f"{d}/diameter_{year}/part*.csv")
    ]


@pytest.mark.parametrize(
    "nodepairs, levels, total",
    [(None, 4, 15), ("# year,total_pairs\n1994,100\n", 5, 100)],
    ids=["missing", "present"],
)
def test_cli_diameter_denominator(spark, nodepairs, levels, total):
    """percent_of_total is over nodepairs.csv's total when the file is
    present, else over the BFS's own pair count (15). Over 15, 12/15 <=
    0.90 lets d=4 in and 14/15 > 0.90 stops there; over 100 the strict
    stop never fires."""
    with tempfile.TemporaryDirectory() as d:
        _write_inputs(d)
        if nodepairs is not None:
            with open(f"{d}/nodepairs.csv", "w") as f:
                f.write(nodepairs)
        assert main(["diameter", d, f"{d}/out"]) == 0
        got = _hop_rows(f"{d}/out", 1994)
        assert [(r[0], r[1]) for r in got] == PATH_1994[:levels]
        for _, g, pct in got:
            assert pct == pytest.approx(g / total)


def test_cli_diameter_malformed_nodepairs_raises(spark):
    with tempfile.TemporaryDirectory() as d:
        _write_inputs(d)
        with open(f"{d}/nodepairs.csv", "w") as f:
            f.write("1994,not-a-number\n")
        with pytest.raises(Exception, match="(?i)malformed"):
            main(["diameter", d, f"{d}/out"])
