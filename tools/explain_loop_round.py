"""Dump the per-round physical plan of the fixed-round broadcast loops
(pagerank / hits / sssp) — the registered queries' own explain is the
final small output plan, so this builds ONE sssp_bounded relaxation
round from the operator's own message table (`_sssp_table`) and round
step (`_sssp_step`), in broadcast mode, and prints its plan (r13
evidence for plans/r13/loop_round_{before,after}.txt).

Usage: python tools/explain_loop_round.py [--aqe-on]

--aqe-on reproduces the pre-r13 state (AQE left enabled inside the
zero-shuffle broadcast rounds) so the before/after plan diff is
generated from the same code path rather than a checkout.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    aqe_on = "--aqe-on" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from citegraph_spark.lineage import cut_lineage
    from citegraph_spark.operators.graph import (
        _aqe_off_for_rounds,
        _sssp_step,
        _sssp_table,
    )
    from citegraph_spark.plans.entry_queries import _citations
    from citegraph_spark.session import get_spark

    spark = get_spark(app_name="explain_loop_round")
    cit = _citations(spark, sf_dir)
    edges_w = cit.select(
        F.col("from").cast("long").alias("src"),
        F.col("to").cast("long").alias("dst"),
        (1 + F.col("to") % 5).cast("double").alias("w"),
    )
    e_aug = _sssp_table(edges_w, "dst")
    dist0 = cut_lineage(
        spark.createDataFrame([(1, 0.0)], "node long, dist double")
    )
    with _aqe_off_for_rounds(spark, not aqe_on):
        rnd = _sssp_step(e_aug, F.broadcast(dist0))
        print(f"=== sssp_bounded relaxation round (AQE {'ON' if aqe_on else 'OFF'}) ===")
        rnd.explain("formatted")
    e_aug.unpersist()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
