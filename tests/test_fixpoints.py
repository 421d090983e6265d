"""Fixpoint loops halted by superstep Observations: no silent
truncation at ``max_iter``, and SCC / CC, the peels, DAG levels and
``repeat_out_until`` checked against plain-Python references on small
seeded digraphs."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from gsuites_gcp_graphdb_spark.graph.algorithms import (
    FixpointNotReached,
    connected_components,
    connected_components_contract,
    connected_components_star,
    coreness,
    dag_levels,
    k_core,
    k_truss,
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


def test_loops_raise_at_max_iter(spark):
    """The 12-hop chain needs 13 supersteps in ``dag_levels`` and the
    ``until=`` form of ``repeat_out_until``, and ``k_core(k=2)`` peels
    it from both ends for 6 rounds; each raises below that. On a
    directed cycle ``dag_levels`` never settles: any 3-vertex DAG
    settles within 3 supersteps, so a 3-cycle must raise there."""
    chain = _graph(spark, 13, [(i, i + 1) for i in range(12)])
    with pytest.raises(FixpointNotReached):
        dag_levels(chain, max_iter=4)
    with pytest.raises(FixpointNotReached):
        chain.V(0).repeat_out_until(until=F.col("id") == 12, max_iter=4)
    with pytest.raises(FixpointNotReached):
        k_core(chain, k=2, max_iter=3)
    with pytest.raises(FixpointNotReached):
        dag_levels(_graph(spark, 3, [(0, 1), (1, 2), (2, 0)]), max_iter=3)


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
        got = connected_components_contract(g).collect()
        assert sorted(map(tuple, got)) == want


def _neighbours(pairs):
    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    return adj


def _k_core(pairs, k):
    adj = _neighbours(pairs)
    alive = set(adj)
    while drop := {v for v in alive if len(adj[v] & alive) < k}:
        alive -= drop
    return sorted((v, len(adj[v] & alive)) for v in alive)


def _coreness(pairs):
    # Batagelj-Zaversnik: remove a least-degree vertex at a time
    adj = _neighbours(pairs)
    alive, core, k = set(adj), [], 0
    while alive:
        v = min(alive, key=lambda u: (len(adj[u] & alive), u))
        k = max(k, len(adj[v] & alive))
        core.append((v, k))
        alive.remove(v)
    return sorted(core)


def _k_truss(pairs, k):
    edges = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    while True:
        adj = _neighbours(edges)
        sup = {(a, b): len(adj[a] & adj[b]) for a, b in edges}
        kept = {e for e in edges if sup[e] >= k - 2}
        if kept == edges:
            return sorted((a, b, s) for (a, b), s in sup.items())
        edges = kept


def _dag_levels(n, pairs):
    level = [0] * n
    for _ in range(n):  # Bellman-Ford-max: n rounds settle any DAG
        for a, b in pairs:
            level[b] = max(level[b], level[a] + 1)
    return sorted(enumerate(level))


def test_peels_and_levels_match_python(spark):
    """k-core, coreness, k-truss and longest-path levels on the DAG
    and on an empty edge set."""
    dag = _digraphs(random.Random(20261017))["dag"]
    for n, pairs in [dag, (4, [])]:
        g = _graph(spark, n, pairs)
        assert sorted(map(tuple, k_core(g, k=2).collect())) == _k_core(pairs, 2)
        assert sorted(map(tuple, coreness(g).collect())) == _coreness(pairs)
        assert sorted(map(tuple, k_truss(g, k=3).collect())) == _k_truss(pairs, 3)
        assert sorted(map(tuple, dag_levels(g).collect())) == _dag_levels(n, pairs)


def _until(n, pairs, start, pred):
    """Do-while BFS: a traverser halts at the first vertex past the
    start where ``pred`` is True and expands otherwise (None counts as
    not True); an edge into a non-vertex dead-ends."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
    seen, frontier, halted = set(start), set(start), set()
    while frontier:
        nxt = {w for v in frontier for w in adj.get(v, ())} - seen
        seen |= nxt
        halted |= {w for w in nxt if w < n and pred(w) is True}
        frontier = {w for w in nxt if w < n and pred(w) is not True}
    return sorted(halted)


def test_repeat_out_until_matches_do_while_bfs(spark):
    """The cyclic shapes as one graph plus a dangling vertex (an edge
    into and one out of an id with no vertex row), 1-3 start vertices
    and three predicates, one of them NULL on odd ids."""
    rng = random.Random(20261017)
    shapes = _digraphs(rng)
    n, pairs = 0, []
    for name in ("cycle_pendants", "two_cycles_connector", "self_loops"):
        k, p = shapes[name]
        pairs += [(a + n, b + n) for a, b in p]
        n += k
    pairs += [(3, n), (n, 10)]
    g = _graph(spark, n, pairs)
    preds = [
        (F.col("id") % 3 == 0, lambda v: v % 3 == 0),
        (F.when(F.col("id") % 2 == 0, F.col("id") > 10),
         lambda v: v > 10 if v % 2 == 0 else None),
        (F.col("id") >= 12, lambda v: v >= 12),
    ]
    for size, (until, pred) in enumerate(preds, 1):
        start = rng.sample(range(n), size)
        got = g.V(*start).repeat_out_until(until=until).id_().collect()
        assert sorted(r.id for r in got) == _until(n, pairs, start, pred)
