"""Fixpoint loops halted by superstep Observations: no silent
truncation at ``max_iter``, and SCC / CC checked against plain-Python
Tarjan and union-find on small seeded digraphs."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from gsuites_gcp_graphdb_spark.graph.algorithms import (
    FixpointNotReached,
    connected_components,
    connected_components_star,
    reachable_from,
    strongly_connected_components,
)
from gsuites_gcp_graphdb_spark.graph.traversal import Graph


def _graph(spark, n, pairs) -> Graph:
    # checkpointed so that supersteps rescan JVM rows, not the Python
    # rows createDataFrame parallelizes
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(pairs, "src long, dst long").select(
        "src", "dst", F.lit("in").alias("label"), F.lit(1.0).alias("weight")
    )
    return Graph(v.localCheckpoint(), e.localCheckpoint())


def test_reachable_from_raises_at_max_iter(spark):
    """A 12-hop chain needs 12 non-empty supersteps plus the empty one:
    ``max_iter=10`` must raise rather than return 10 of 12 vertices."""
    g = _graph(spark, 13, [(i, i + 1) for i in range(12)])
    src = spark.createDataFrame([(0,)], "id long")
    with pytest.raises(FixpointNotReached):
        reachable_from(g, src, max_iter=10)
    got = {r.id for r in reachable_from(g, src).collect()}
    assert got == set(range(1, 13))


def _tarjan(n, pairs):
    adj = {i: [] for i in range(n)}
    for a, b in pairs:
        adj[a].append(b)
    index, low, stack, on, out = {}, {}, [], set(), []

    def visit(v):
        index[v] = low[v] = len(index)
        stack.append(v)
        on.add(v)
        for w in adj[v]:
            if w not in index:
                visit(w)
                low[v] = min(low[v], low[w])
            elif w in on:
                low[v] = min(low[v], index[w])
        if low[v] == index[v]:
            comp = set()
            while True:
                w = stack.pop()
                on.discard(w)
                comp.add(w)
                if w == v:
                    break
            out.append(comp)

    for v in range(n):
        if v not in index:
            visit(v)
    return sorted(tuple(sorted(c)) for c in out)


def _union_find(n, pairs):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return sorted((i, find(i)) for i in range(n))


def _digraphs(rng):
    """(n, pairs) per graph shape the fixpoint loops must handle."""
    n = 12
    dag = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(20)})
    cyc = [(i, (i + 1) % 5) for i in range(5)]  # 0..4 cycle
    cyc += [(5, 6), (6, 0), (3, 7), (7, 8)]  # pendant chains in and out
    two = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 6), (6, 4)]
    loops = [(rng.randrange(n), rng.randrange(n)) for _ in range(14)]
    loops += [(i, i) for i in rng.sample(range(n), 3)]
    isolated = [(0, 1), (1, 0), (2, 3)]  # 4..11 have no edge
    return {
        "dag": (n, dag),
        "cycle_pendants": (9, cyc),
        "two_cycles_connector": (7, two),
        "self_loops": (n, sorted(set(loops))),
        "isolated": (n, isolated),
    }


def _cases():
    """An empty edge set (every Observation reads an empty frame) and
    all shapes as one disjoint graph, so each algorithm runs twice,
    not once per shape."""
    n, pairs = 0, []
    for k, p in _digraphs(random.Random(20261017)).values():
        pairs += [(a + n, b + n) for a, b in p]
        n += k
    return [(4, []), (n, pairs)]


def _scc_of(g):
    groups = {}
    for r in strongly_connected_components(
        g.vertices.select("id"), g.edges.select("src", "dst")
    ).collect():
        groups.setdefault(r.scc, set()).add(r.id)
    assert all(min(c) == k for k, c in groups.items())
    return sorted(tuple(sorted(c)) for c in groups.values())


def test_scc_matches_tarjan(spark):
    # the DAG alone too: trim settles every vertex, coloring never runs
    dag = _digraphs(random.Random(20261017))["dag"]
    for n, pairs in [dag, *_cases()]:
        assert _scc_of(_graph(spark, n, pairs)) == _tarjan(n, pairs)


def test_cc_matches_union_find(spark):
    for n, pairs in _cases():
        g = _graph(spark, n, pairs)
        want = _union_find(n, pairs)
        assert sorted(map(tuple, connected_components(g).collect())) == want
        assert sorted(map(tuple, connected_components_star(g).collect())) == want
