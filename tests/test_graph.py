"""Graph-family contracts that span operators: every iterative integer
operator (components_over_pairs included) is bit-identical under any
partitioning, and component propagation that runs out of rounds fails
loudly instead of returning partial labels."""

from __future__ import annotations

import pytest

from mapreduce_chisquare_spark.operators.dedup import components_over_pairs
from mapreduce_chisquare_spark.operators.graph import (
    connected_components_star,
    hits,
    kcore_peel,
    label_propagation,
    pagerank,
    personalized_pagerank,
)

# directed: a 4-cycle, a hub citing it, two sinks, a duplicate edge
_DIRECTED = [
    ("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
    ("h", "a"), ("h", "b"), ("h", "s1"), ("a", "s1"),
    ("c", "s2"), ("c", "s2"),
]
# undirected: a K4, a triangle bridged to it, a hair, a self-loop
_UNDIRECTED = [
    (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
    (4, 5), (5, 6), (5, 7), (6, 7), (7, 8), (9, 9),
]


def _run_all(spark, parts):
    d = spark.createDataFrame(_DIRECTED, "src string, dst string")
    u = spark.createDataFrame(_UNDIRECTED, "lo long, hi long")
    d, u = d.repartition(parts), u.repartition(parts)
    ops = {
        "pagerank": pagerank(d, iterations=4),
        "ppr": personalized_pagerank(d, ["a", "h"], iterations=4),
        "hits": hits(d, iterations=3),
        "lpa": label_propagation(u),
        "kcore": kcore_peel(u, k=3),
        "cc_star": connected_components_star(u.toDF("src", "dst")),
        "components": components_over_pairs(u.toDF("doc_a", "doc_b")),
    }
    return {k: sorted(tuple(r) for r in df.collect()) for k, df in ops.items()}


def test_iterative_operators_identical_under_any_partitioning(spark):
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "1")
        one = _run_all(spark, 1)
        spark.conf.set(key, "7")
        seven = _run_all(spark, 7)
    finally:
        spark.conf.set(key, saved)
    assert spark.conf.get(key) == saved
    assert all(one[k] for k in one), one
    assert one == seven


def test_components_over_pairs_raises_when_rounds_run_out(spark):
    """Min-label propagation needs diameter-many rounds: a 30-node
    path cannot converge in the default max_iter=20, and returning
    its labels would split the one component into wrong ids."""
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="fixed point"):
        components_over_pairs(path)
    short = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "doc_a long, doc_b long"
    )
    stats: dict = {}
    got = {
        r.doc_id: r.component_id
        for r in components_over_pairs(short, stats=stats).collect()
    }
    assert got == {i: 0 for i in range(5)}
    assert stats == {"rounds": 5}
