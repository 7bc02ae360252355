"""The fixed-round message-passing loops past the broadcast budget: the
shuffled fallback must compute what broadcast mode computes."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from citegraph_spark.fixtures import fixture_citations, fixture_published
from citegraph_spark.functions.sketches import hyperball_hopplot
from citegraph_spark.operators import graph


def _edges(spark):
    return fixture_citations(spark).selectExpr("`from` as src", "`to` as dst")


def _rows(df):
    return sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


RUNS = {
    "pagerank": lambda spark: _rows(graph.pagerank(_edges(spark))),
    "hits": lambda spark: _rows(graph.hits(_edges(spark))),
    # source 9 reaches 9 of the 11 fixture nodes
    "sssp_bounded": lambda spark: _rows(
        graph.sssp_bounded(
            _edges(spark).withColumn("w", (1 + F.col("dst") % 3).cast("double")), 9
        )
    ),
    "hyperball_hopplot": lambda spark: hyperball_hopplot(
        graph.snapshot_edges(fixture_citations(spark), fixture_published(spark), 1998)
    ),
}


@pytest.mark.parametrize("op", sorted(RUNS))
def test_shuffled_fallback_matches_broadcast(spark, monkeypatch, op):
    keys = []
    build_table = graph._message_table

    def recording_table(df, key):
        keys.append(key)
        return build_table(df, key)

    monkeypatch.setattr(graph, "_message_table", recording_table)
    broadcast = RUNS[op](spark)
    monkeypatch.setattr(graph, "_BROADCAST_BUDGET_BYTES", 0)
    fallback = RUNS[op](spark)

    # the two runs partitioned the message table differently: the second
    # really took the fallback (join-key partitioning, shuffled rounds)
    assert len(keys) == 2 and keys[0] != keys[1], keys
    assert len(broadcast) > 2
    if op == "hyperball_hopplot":
        # summation order differs between the modes in the last digit
        assert [d for d, _ in fallback] == [d for d, _ in broadcast]
        for (_, got), (_, want) in zip(fallback, broadcast):
            assert math.isclose(got, want, rel_tol=1e-9), (got, want)
    else:
        assert fallback == broadcast
