"""Graph-family contracts that span operators: every iterative integer
operator (components_over_pairs included) is bit-identical under any
partitioning, and component propagation that runs out of rounds fails
loudly instead of returning partial labels."""

from __future__ import annotations

import random
import re
from collections import Counter

import pytest

from mapreduce_chisquare_spark.operators.dedup import components_over_pairs
from mapreduce_chisquare_spark.operators.graph import (
    KCORE_ROUNDS,
    connected_components_star,
    hits,
    kcore_peel,
    label_propagation,
    pagerank,
    personalized_pagerank,
)
from mapreduce_chisquare_spark.plans.registry import REGISTRY

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


def _peel(edges, k: int, rounds: int) -> Counter:
    """Reference k-core peel: symmetrize, drop self-loops, then per
    round keep the edges whose two endpoints have degree >= k."""
    e = {(a, b) for lo, hi in edges for a, b in ((lo, hi), (hi, lo))}
    e = {(a, b) for a, b in e if a != b}
    for _ in range(rounds):
        deg = Counter(a for a, _ in e)
        e = {(a, b) for a, b in e if deg[a] >= k and deg[b] >= k}
    return Counter(Counter(a for a, _ in e).items())


def _random_graph(seed: int, k: int) -> list:
    """Up to 60 nodes, dense enough that most k-cores are non-empty
    and some peel to nothing; self-loops and duplicates included."""
    rng = random.Random(seed)
    n = rng.randint(k + 1, 60)
    m = rng.randint(k * n // 2, (k + 1) * n)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


_KCORE_CASES = [
    *(
        (f"random{i}", _random_graph(i, k), k, rounds)
        for i, (k, rounds) in enumerate(
            (k, r) for k in (1, 2, 3, 4) for r in (0, 1, 2, 4, 6)
        )
    ),
    ("empty", [], 1, 2),
    ("one_edge", [(1, 2)], 1, 2),
    ("self_loops_only", [(1, 1), (2, 2), (3, 3)], 1, 2),
    ("both_directions_duplicated", [(1, 2), (2, 1), (1, 2), (2, 1)], 1, 4),
]


@pytest.mark.parametrize(
    "edges,k,rounds",
    [c[1:] for c in _KCORE_CASES],
    ids=[f"{c[0]}-k{c[2]}-r{c[3]}" for c in _KCORE_CASES],
)
def test_kcore_matches_reference_peel(spark, edges, k, rounds):
    df = spark.createDataFrame(edges, "lo long, hi long")
    got = kcore_peel(df, k=k, rounds=rounds).collect()
    assert Counter(tuple(r) for r in got) == _peel(edges, k, rounds)


def test_graph_kcore_is_one_lazy_plan(spark, sf_dir):
    """The builder submits no job (its rounds run at the action), the
    planted K4 is a LocalTableScan rather than a Python-fed RDD scan,
    and each peel round costs one exchange."""
    sc = spark.sparkContext
    group = "test_graph_kcore_is_one_lazy_plan"
    sc.setJobGroup(group, group)
    try:
        df = REGISTRY["graph_kcore"][0](spark, sf_dir)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()
    assert df.collect()
    text = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in text
    plan = text.split("== Initial Plan ==")[0]
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" in plan
    # a ReusedExchange line names the exchange it reuses: not counted
    exchanges = re.findall(
        r"^[\s:+*()\d-]*Exchange hashpartitioning", plan, re.M
    )
    assert 0 < len(exchanges) <= KCORE_ROUNDS + 4, plan
