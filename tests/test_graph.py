"""T29 host-graph PageRank: exactness vs a pure-Python twin, invariances.

The operator's claim is bit-exactness under ANY execution layout (integer
rank math, SURVEY §2.11 T29), so the tests are differential — a ~30-line
pure-Python implementation of the frozen update rule is the reference —
plus the layout perturbations that would expose float-style
nondeterminism if the claim were wrong.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from imposm2_spark.operators import graph

SCALE = 10**9
BASE = (SCALE * 3) // 20  # damping 17/20


def py_pagerank(edges, iterations, scale=SCALE, num=17, den=20):
    """Pure-Python twin of the frozen integer update rule."""
    e = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (scale * (den - num)) // den
    r = {n: scale for n in nodes}
    for _ in range(iterations):
        inflow = {n: 0 for n in nodes}
        for s, d in e:
            inflow[d] += (r[s] * num) // (den * outdeg[s])
        r = {n: base + inflow[n] for n in nodes}
    return r


def spark_pagerank(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = graph.pagerank(df, **kw)
    return {row["node"]: row["rank_n"] for row in out.collect()}


def test_two_node_cycle_symmetric(spark):
    got = spark_pagerank(spark, [(1, 2), (2, 1)], iterations=4)
    assert got[1] == got[2]
    # full mass circulates: each node keeps base + 85% of the other's rank
    assert got == py_pagerank([(1, 2), (2, 1)], 4)


def test_star_hub_dominates(spark):
    edges = [(i, 100) for i in range(1, 6)] + [(100, 1)]
    got = spark_pagerank(spark, edges, iterations=3)
    assert got == py_pagerank(edges, 3)
    assert got[100] > max(v for n, v in got.items() if n != 100)


def test_differential_vs_python_twin(spark):
    # deterministic pseudo-random graph: 211 nodes, LCG-ish edge synth with
    # dup edges, self-loops, and dangling nodes all present
    edges = []
    for i in range(600):
        s = (i * 7919 + 13) % 211
        d = (i * i * 31 + 5 * i) % 211
        edges.append((s, d))
    got = spark_pagerank(spark, edges, iterations=3)
    want = py_pagerank(edges, 3)
    assert got == want


def test_iterations_zero_is_uniform(spark):
    got = spark_pagerank(spark, [(1, 2), (2, 3)], iterations=0)
    assert got == {1: SCALE, 2: SCALE, 3: SCALE}


def test_dangling_and_isolated_behaviour(spark):
    # 3 -> nothing (dangling, appears only as dst): keeps receiving, never sends
    edges = [(1, 2), (2, 3)]
    got = spark_pagerank(spark, edges, iterations=1)
    want = py_pagerank(edges, 1)
    assert got == want
    # node 1 has no in-edges: exactly the base term after one round
    assert got[1] == BASE


def test_dup_edges_and_self_loops_dropped(spark):
    got = spark_pagerank(
        spark, [(1, 2), (1, 2), (1, 1), (2, 1)], iterations=2
    )
    want = py_pagerank([(1, 2), (2, 1)], 2)
    assert got == want


def test_partition_layout_invariance(spark):
    edges = [((i * 37) % 53, (i * 17 + 3) % 53) for i in range(300)]
    key = "spark.sql.shuffle.partitions"
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "32")
        a = spark_pagerank(spark, edges, iterations=3)
        spark.conf.set(key, "3")
        b = spark_pagerank(spark, edges, iterations=3)
    finally:
        spark.conf.set(key, orig)
    assert a == b == py_pagerank(edges, 3)


def test_string_node_ids_ride_through(spark):
    df = spark.createDataFrame(
        [("a.org", "b.org"), ("b.org", "a.org"), ("a.org", "c.org")],
        "src string, dst string",
    )
    out = {r["node"]: r["rank_n"] for r in graph.pagerank(df, iterations=2).collect()}
    twin = py_pagerank([(0, 1), (1, 0), (0, 2)], 2)
    assert out == {"a.org": twin[0], "b.org": twin[1], "c.org": twin[2]}


def test_bad_params_raise(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        graph.pagerank(df, iterations=-1)
