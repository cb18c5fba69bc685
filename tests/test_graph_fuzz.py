"""Differential fuzz for the iterative graph operators (operators/graph.py).

- connected_components vs a direct python union-find on random edge lists:
  the alternating large-star/small-star rounds must label every vertex with
  its component MINIMUM, exactly, on any topology hypothesis produces
  (chains, stars, cliques, isolated pairs — shapes the fixture can't cover).
- pagerank vs a numpy power iteration implementing the identical
  fixed-iteration recurrence (same damping, same dangling-mass-leak
  convention): agreement to 1e-9 — float sum order is the only divergence.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from big_data__instagram_analysis_spark.operators import graph
from big_data__instagram_analysis_spark.operators.graph import (
    connected_components,
    pagerank,
)

edge = st.tuples(
    st.integers(min_value=0, max_value=12),
    st.integers(min_value=0, max_value=12),
)


def _union_find_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for a, b in edges:
        if a != b:
            union(a, b)
    comp_min: dict[int, int] = {}
    roots = {x: find(x) for x in parent}
    for x, r in roots.items():
        comp_min[r] = min(comp_min.get(r, x), x)
    return {x: comp_min[r] for x, r in roots.items()}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=st.lists(edge, min_size=1, max_size=25))
def test_connected_components_vs_union_find(spark, edges):
    non_loop = [(a, b) for a, b in edges if a != b]
    if not non_loop:
        return
    df = spark.createDataFrame(non_loop, "src long, dst long")
    got = {
        r.node: r.component
        for r in connected_components(df).collect()
    }
    assert got == _union_find_components(non_loop)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=st.lists(edge, min_size=1, max_size=25))
def test_connected_components_distributed_path_vs_union_find(spark, edges):
    # A zero LOCAL_CC_MAX_EDGES forces the star-round path (the hybrid
    # finish would otherwise close every fuzz-sized graph driver-side), so
    # both paths stay pinned against the same python union-find oracle. The
    # patch lives inside the Hypothesis body: a function-scoped monkeypatch
    # fixture is not reset between examples.
    non_loop = [(a, b) for a, b in edges if a != b]
    if not non_loop:
        return
    df = spark.createDataFrame(non_loop, "src long, dst long")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph, "LOCAL_CC_MAX_EDGES", 0)
        got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == _union_find_components(non_loop)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=st.lists(edge, min_size=2, max_size=20))
def test_pagerank_vs_numpy_power_iteration(spark, edges):
    edges = sorted(set(edges))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, damping=0.85, iterations=5).collect()}

    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[idx[s]] += 1
    rank = np.full(n, 1.0 / n)
    teleport = 0.15 / n
    for _ in range(5):
        incoming = np.zeros(n)
        for s, d in edges:
            incoming[idx[d]] += rank[idx[s]] / out_deg[idx[s]]
        # Dangling mass leaks (textbook simple recurrence) — nodes with no
        # incoming contribution still get the teleport term.
        rank = teleport + 0.85 * incoming
    for node in nodes:
        assert got[node] == pytest.approx(rank[idx[node]], abs=1e-9), node


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=st.lists(edge, min_size=1, max_size=25))
def test_bfs_levels_vs_python_bfs(spark, edges):
    from collections import deque

    from big_data__instagram_analysis_spark.operators.graph import bfs_levels

    non_loop = sorted({(a, b) for a, b in edges if a != b})
    if not non_loop:
        return
    source = min(a for a, _ in non_loop)
    df = spark.createDataFrame(non_loop, "src long, dst long")
    got = {r.node: r.dist for r in bfs_levels(df, source, max_depth=15).collect()}

    adj: dict[int, list[int]] = {}
    for a, b in non_loop:
        adj.setdefault(a, []).append(b)
    ref = {source: 0}
    q = deque([source])
    while q:
        u = q.popleft()
        for v in adj.get(u, []):
            if v not in ref:
                ref[v] = ref[u] + 1
                q.append(v)
    assert got == ref
