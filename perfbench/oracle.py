"""Expected answers, computed outside the timed spans.

Graph answers come from DuckDB over the same parquet files the engine
reads: the IAM graph is derived there in SQL by natural key (label,
key), mirroring the package's fixture-to-graph mapping, and each
access query is answered by one SQL statement. The iterative
algorithms are answered in plain Python over the DuckDB edge list.
Corpus answers run the catalog's own oracle SQL. Every comparison
goes through :func:`table_hash`, which ignores row order.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict, deque

import duckdb

GRAPH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _cell(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v:.9g}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(_cell(x) for x in v) + "]"
    return "s:" + str(v)


def table_hash(rows) -> str:
    """Order-insensitive digest of a row collection."""
    digests = sorted(hashlib.md5(_cell(tuple(r)).encode()).hexdigest() for r in rows)
    return hashlib.md5("\n".join(digests).encode()).hexdigest()


def open_views(fixture_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    return con


_VERTICES_SQL = """
CREATE TABLE v AS
SELECT 'user' AS label, c_name AS key, c_name AS email, NULL AS name,
       NULL AS projectid, 'false' AS is_external FROM customer
UNION ALL SELECT 'group', n_name, n_name, NULL, NULL, 'false' FROM nation
UNION ALL SELECT 'group', r_name, r_name, NULL, NULL, 'false' FROM region
UNION ALL SELECT 'serviceAccount', s_name, s_name, NULL, NULL, 'false' FROM supplier
UNION ALL SELECT DISTINCT 'role', p_brand, NULL, p_brand, NULL, NULL FROM part
UNION ALL SELECT DISTINCT 'permission', p_type, NULL, p_type, NULL, NULL FROM part
UNION ALL SELECT DISTINCT 'project', p_name, NULL, NULL, p_name, NULL FROM part
UNION ALL SELECT DISTINCT 'bucket', 'bucket-' || p_size || '/' || p_name, NULL,
       'bucket-' || p_size, p_name, NULL FROM part
"""

_EDGES_SQL = """
CREATE TABLE e AS SELECT DISTINCT * FROM (
  SELECT 'user' AS sl, c_name AS sk, 'group' AS dl, n_name AS dk
    FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL SELECT 'group', n_name, 'group', r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
  UNION ALL SELECT 'serviceAccount', s_name, 'group', n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
  UNION ALL SELECT 'user', c_name, 'role', p_brand
    FROM customer JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey JOIN part ON l_partkey = p_partkey
  UNION ALL SELECT 'role', p_brand, 'project', p_name FROM part
  UNION ALL SELECT 'permission', p_type, 'role', p_brand FROM part
  UNION ALL SELECT 'bucket', 'bucket-' || p_size || '/' || p_name, 'project', p_name
    FROM part
  UNION ALL SELECT 'role', p_brand, 'bucket', 'bucket-' || p_size || '/' || p_name
    FROM part)
"""


class GraphOracle:
    """The derived IAM graph, held in DuckDB by natural key.

    A vertex reference is ``(label, key)``; ``key`` is the package's
    natural key (``name/projectid`` for buckets)."""

    def __init__(self, fixture_dir: str):
        self.con = open_views(fixture_dir, GRAPH_TABLES)
        self.con.execute(_VERTICES_SQL)
        self.con.execute(_EDGES_SQL)

    def rows(self, sql: str, *params) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(sql, list(params)).fetchall()]

    # ---- access queries ------------------------------------------------
    def degree_ranked(self, label: str, direction: str) -> list[str]:
        """Keys of ``label`` vertices by edge count, busiest first."""
        end, key = ("sl", "sk") if direction == "out" else ("dl", "dk")
        return [r[0] for r in self.rows(
            f"SELECT v.key FROM v LEFT JOIN e ON e.{end} = v.label AND e.{key} = v.key "
            "WHERE v.label = ? GROUP BY v.key ORDER BY count(e.sk) DESC, v.key", label)]

    def exists(self, label: str, key: str) -> list[tuple]:
        return self.rows("SELECT count(*) > 0 FROM v WHERE label = ? AND key = ?", label, key)

    def value_map(self, label: str, key: str) -> list[tuple]:
        return [_props(r) for r in self.rows(
            "SELECT label, email, name, projectid, is_external FROM v "
            "WHERE label = ? AND key = ?", label, key)]

    def neighbours(self, label: str, key: str, direction: str) -> list[tuple]:
        if direction == "out":
            join = "e.dl = v.label AND e.dk = v.key WHERE e.sl = ? AND e.sk = ?"
        else:
            join = "e.sl = v.label AND e.sk = v.key WHERE e.dl = ? AND e.dk = ?"
        return [_props(r) for r in self.rows(
            "SELECT DISTINCT v.label, v.email, v.name, v.projectid, v.is_external "
            f"FROM e JOIN v ON {join}", label, key)]

    def members_of_role(self, role: str) -> list[tuple]:
        return self.rows(
            "SELECT DISTINCT sk FROM e WHERE sl = 'user' AND dl = 'role' AND dk = ?", role)

    def who_can_access(self, label: str, key: str) -> list[tuple]:
        return self.rows(
            "SELECT DISTINCT u.sk FROM e r JOIN e u ON u.dl = 'role' AND u.dk = r.sk "
            "WHERE r.dl = ? AND r.dk = ? AND r.sl = 'role' AND u.sl = 'user'", label, key)

    def reachable(self, label: str, key: str) -> list[tuple]:
        return self.rows(
            "WITH RECURSIVE r(l, k) AS ("
            " SELECT dl, dk FROM e WHERE sl = ? AND sk = ?"
            " UNION SELECT e.dl, e.dk FROM e JOIN r ON e.sl = r.l AND e.sk = r.k)"
            " SELECT l, k FROM r WHERE NOT (l = ? AND k = ?)", label, key, label, key)

    # ---- whole-graph algorithms (plain Python) -------------------------
    def adjacency(self):
        verts = self.rows("SELECT label, key FROM v")
        edges = self.rows("SELECT sl, sk, dl, dk FROM e")
        return verts, [((a, b), (c, d)) for a, b, c, d in edges]


def _props(r) -> tuple:
    label, email, name, projectid, is_external = r
    m = {"email": email, "name": name, "projectid": projectid, "is_external": is_external}
    return (label, tuple(sorted((k, v) for k, v in m.items() if v is not None)))


def components(verts, edges) -> list[tuple]:
    """Undirected components as sorted member tuples."""
    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    groups = defaultdict(list)
    for v in verts:
        groups[find(v)].append(v)
    return [tuple(sorted(g)) for g in groups.values()]


def strong_components(verts, edges) -> list[tuple]:
    """Tarjan's algorithm, iterative; sorted member tuples."""
    out = defaultdict(list)
    for a, b in edges:
        out[a].append(b)
    index, low, on, stack, comps = {}, {}, set(), [], []
    counter = 0
    for root in verts:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, i = work.pop()
            if i == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on.add(v)
            nbrs = out[v]
            if i < len(nbrs):
                work.append((v, i + 1))
                w = nbrs[i]
                if w not in index:
                    work.append((w, 0))
                elif w in on:
                    low[v] = min(low[v], index[w])
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                comps.append(tuple(sorted(comp)))
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
    return comps


def bfs_distances(edges, sources) -> dict:
    out = defaultdict(list)
    for a, b in edges:
        out[a].append(b)
    dist = {s: 0.0 for s in sources}
    q = deque(sources)
    while q:
        v = q.popleft()
        for w in out[v]:
            if w not in dist:
                dist[w] = dist[v] + 1.0
                q.append(w)
    return dist


def personalized_pagerank(verts, edges, sources, iterations=5, damping=0.85) -> dict:
    """The package's PPR semantics: restart and dangling mass both
    return to the uniform source vector."""
    outd = defaultdict(int)
    for a, _ in edges:
        outd[a] += 1
    s = {v: 1.0 / len(sources) for v in sources}
    rank = dict(s)
    for _ in range(iterations):
        contrib = defaultdict(float)
        for a, b in edges:
            if a in rank:
                contrib[b] += rank[a] / outd[a]
        dangling = sum(r for v, r in rank.items() if outd[v] == 0)
        rank = {
            v: (1 - damping) * s.get(v, 0.0)
            + damping * (contrib.get(v, 0.0) + dangling * s.get(v, 0.0))
            for v in set(contrib) | set(s)
        }
    return {v: rank.get(v, 0.0) for v in verts}


def hits(verts, edges, iterations=5) -> dict:
    """(hub, auth) per vertex, L1-normalised each half-round."""
    hub = {v: 1.0 for v in verts}
    raw_a = {}
    for _ in range(iterations):
        raw_a = defaultdict(float)
        for a, b in edges:
            if a in hub:
                raw_a[b] += hub[a]
        ta = sum(raw_a.values())
        auth = {v: x / ta for v, x in raw_a.items()}
        raw_h = defaultdict(float)
        for a, b in edges:
            if b in auth:
                raw_h[a] += auth[b]
        th = sum(raw_h.values())
        hub = {v: x / th for v, x in raw_h.items()}
    ta = sum(raw_a.values())
    return {v: (hub.get(v, 0.0), raw_a.get(v, 0.0) / ta) for v in verts}


def label_propagation(verts, edges, rounds=3) -> dict:
    """Synchronous LPA: most frequent neighbour label, ties to the
    smallest label; labels start as the vertex itself."""
    und = defaultdict(list)
    for a, b in edges:
        und[a].append(b)
        und[b].append(a)
    lbl = {v: v for v in verts}
    for _ in range(rounds):
        new = {}
        for v in verts:
            if und[v]:
                cnt = defaultdict(int)
                for w in und[v]:
                    cnt[lbl[w]] += 1
                new[v] = min(cnt, key=lambda x: (-cnt[x], x))
            else:
                new[v] = lbl[v]
        lbl = new
    return lbl


def close(a: dict, b: dict, tol: float = 1e-9) -> bool:
    """Same keys, and float values within ``tol``."""
    if a.keys() != b.keys():
        return False
    for k, x in a.items():
        y = b[k]
        xs = x if isinstance(x, tuple) else (x,)
        ys = y if isinstance(y, tuple) else (y,)
        if any(abs(p - q) > tol for p, q in zip(xs, ys)):
            return False
    return True
