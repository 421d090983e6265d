"""Gremlin-flavoured traversal builder compiling to DataFrame plans.

The reference's whole query surface is Gremlin traversals (emitted at
main.go:205-211 etc., interactive examples README.md:331-349), e.g.::

    g.V().hasLabel('user').has('email','user1@x').out().valueMap()

This module provides the same fluent surface; each step appends stock
DataFrame operations (filter / join / select), so the "IR" is a
Catalyst logical plan and optimization (predicate pushdown, join
selection, AQE skew handling) is Catalyst's job — the Spark analog of
TinkerPop's strategy-rewrite phase (SURVEY.md §3 EP2). No step
executes anything; terminal calls (count/next/hasNext/toDF) do.

Semantics follow Gremlin bag semantics: ``out()`` yields one row per
traverser (duplicates preserved); ``dedup()`` collapses them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import EDGE_SCHEMA, VERTEX_SCHEMA, natural_key_col


class Traversal:
    """A lazy chain over a vertex- or edge-shaped DataFrame."""

    def __init__(
        self,
        graph: "Graph",
        df: DataFrame,
        kind: str,
        frontier_bytes: int | None = None,
    ):
        self._g = graph
        self._df = df
        self._kind = kind  # 'V' | 'E'
        # One-shot size hint for the NEXT expansion join (r8 VERDICT
        # item 6): consumed by outE/inE, never propagated — a hint
        # describes the frontier it was attached to, not its
        # descendants.
        self._frontier_bytes = frontier_bytes

    def hint_size(self, nbytes: int) -> "Traversal":
        """Attach a frontier size hint (bytes) for the next expansion
        step. With a hint, outE/inE route through
        operators.joins.skew_join_auto — the x64-validated regime
        rule: broadcast the frontier into the edge scan when it fits
        the threshold (the hub-skewed edge side then never shuffles,
        so a hot key like ``allUsers`` or ``roles/owner``,
        reference README.md:467-472, has no hot reducer to melt),
        salted SMJ when neither side broadcasts. Catalyst's own
        sizeInBytes estimate is unreliable for DERIVED frontiers
        (post-join/filter plans carry multiplied estimates), which is
        why the routing is hint-gated instead of always-on."""
        return Traversal(
            self._g, self._df, self._kind, frontier_bytes=int(nbytes)
        )

    # ---- filter steps -------------------------------------------------
    def hasLabel(self, *labels: str) -> "Traversal":
        """g.V().hasLabel('user') — label filter (main.go:206)."""
        return self._with(self._df.filter(F.col("label").isin(list(labels))))

    def has(self, key: str, value=None) -> "Traversal":
        """Property equality — has('email', v) (main.go:206); with one
        arg, property-existence — has('email')."""
        if value is None:
            return self._with(self._df.filter(F.col(key).isNotNull()))
        return self._with(self._df.filter(F.col(key) == F.lit(value)))

    def hasId(self, *ids: int) -> "Traversal":
        """Id equality filter (main.go:320)."""
        col = "id" if self._kind == "V" else "src"
        return self._with(self._df.filter(F.col(col).isin(list(ids))))

    def filter_(self, cond: Column) -> "Traversal":
        return self._with(self._df.filter(cond))

    def dedup(self) -> "Traversal":
        keys = (
            ["id"] if self._kind == "V" else ["src", "dst", "label"]
        )
        return self._with(self._df.dropDuplicates(keys))

    def limit(self, n: int) -> "Traversal":
        return self._with(self._df.limit(n))

    def order_by(self, *cols) -> "Traversal":
        return self._with(self._df.orderBy(*cols))

    def range_(self, start: int, end: int) -> "Traversal":
        """Gremlin `range(start, end)` paging — offset + limit. Pair
        with order_by for deterministic pages (Gremlin makes the same
        demand); Catalyst plans order+offset+limit as a bounded
        top-(end) selection, never a full materialized sort."""
        return self._with(self._df.offset(start).limit(end - start))

    # ---- expansion steps ----------------------------------------------
    def _edges(self, labels: Sequence[str]) -> DataFrame:
        e = self._g.edges
        if labels:
            e = e.filter(F.col("label").isin(list(labels)))
        return e

    # Opt-in runtime probe for UNHINTED derived frontiers (r9 VERDICT
    # item 6): a bounded limit(cap+1).count() decides broadcastability
    # without trusting Catalyst's selectivity-free sizeInBytes.
    AUTO_PROBE_CONF = "spark.graft.traversal.autoBroadcastProbe"
    _PROBE_BYTES_PER_ROW = 32  # conservative: one bigint id + row overhead

    def _probe_frontier_bytes(self) -> int | None:
        """Count the frontier UP TO the broadcast row cap (cap =
        threshold / 32B per id row): ``limit(cap+1).count()`` stops
        growing once the cap is crossed, so the probe's cost is
        bounded by the cap on the scan side — but it DOES execute the
        frontier subplan once more than the real join will (no reuse
        across jobs), which is why this is config-gated rather than
        default: for a cheap frontier (label filter on the store) the
        probe is ~a tenth of the join it saves; for an expensive
        derived frontier it pays the frontier twice. Returns an
        honest byte estimate when the frontier fits, None when it
        exceeds the cap (caller: plain join + AQE — NOT salt; the
        third-regime rule showed replicating a big frontier is the
        catastrophic branch)."""
        from ..operators.joins import parse_broadcast_threshold

        spark = self._df.sparkSession
        threshold = parse_broadcast_threshold(spark)
        if threshold <= 0:
            return None
        cap = max(threshold // self._PROBE_BYTES_PER_ROW, 1)
        n = self._df.select("id").limit(cap + 1).count()
        if n > cap:
            return None
        return n * self._PROBE_BYTES_PER_ROW

    def _expand(self, labels: Sequence[str], edge_key: str) -> DataFrame:
        """Frontier ⋈ edges on ``edge_key`` (src for outE, dst for
        inE). With a frontier size hint the join routes through
        skew_join_auto with the EDGE side as the (potentially
        hub-skewed) fact and the frontier as the dim — see
        hint_size(); otherwise the stock join, where Catalyst +
        AQE pick (and the bucketed store already co-locates the
        edge side). With ``spark.graft.traversal.autoBroadcastProbe``
        = true (r9 VERDICT item 6), an UNHINTED expansion first runs
        the bounded count probe: fits-the-threshold routes through
        skew_join_auto exactly as a hint would; exceeds-it falls
        through to the stock plain+AQE join (never salt — the
        third-regime rule)."""
        e = self._edges(labels)
        frontier_bytes = self._frontier_bytes
        if frontier_bytes is None:
            spark = self._df.sparkSession
            if (
                str(
                    spark.conf.get(self.AUTO_PROBE_CONF, "false")
                ).lower()
                == "true"
            ):
                frontier_bytes = self._probe_frontier_bytes()
        if frontier_bytes is not None:
            from ..operators.joins import skew_join_auto

            f = self._df.select(F.col("id").alias(edge_key))
            return skew_join_auto(
                e,
                f,
                edge_key,
                right_size_bytes=frontier_bytes,
            ).select(*e.columns)
        f = self._df.select("id").alias("f")
        ea = e.alias("e")
        return f.join(
            ea, F.col("f.id") == F.col(f"e.{edge_key}")
        ).select("e.*")

    def outE(self, *labels: str) -> "Traversal":
        """Vertex → out-edges (main.go:320; README.md:335-340)."""
        assert self._kind == "V"
        return Traversal(self._g, self._expand(labels, "src"), "E")

    def inE(self, *labels: str) -> "Traversal":
        assert self._kind == "V"
        return Traversal(self._g, self._expand(labels, "dst"), "E")

    def inV(self) -> "Traversal":
        """Edge → head vertex (main.go:320, 339, 426)."""
        assert self._kind == "E"
        e = self._df.alias("e")
        v = self._g.vertices.alias("v")
        out = e.join(v, F.col("e.dst") == F.col("v.id")).select("v.*")
        return Traversal(self._g, out, "V")

    def outV(self) -> "Traversal":
        assert self._kind == "E"
        e = self._df.alias("e")
        v = self._g.vertices.alias("v")
        out = e.join(v, F.col("e.src") == F.col("v.id")).select("v.*")
        return Traversal(self._g, out, "V")

    def out(self, *labels: str) -> "Traversal":
        """1-hop out-neighbour expansion (README.md:344-349)."""
        return self.outE(*labels).inV()

    def in_(self, *labels: str) -> "Traversal":
        return self.inE(*labels).outV()

    def both(self, *labels: str) -> "Traversal":
        o = self.out(*labels)
        i = self.in_(*labels)
        return self._with(o._df.unionByName(i._df))

    def repeat_out(self, times: int, *labels: str) -> "Traversal":
        """Bounded k-hop: out().out()... (README.md:15-32 flow)."""
        t = self
        for _ in range(times):
            t = t.out(*labels)
        return t

    def repeat_out_emit(self, times: int, *labels: str) -> "Traversal":
        """repeat(out()).emit().times(k): union of hops 1..k — 'every
        vertex within k steps', the bounded form of reachability."""
        t = self
        frames = []
        for _ in range(times):
            t = t.out(*labels)
            frames.append(t._df)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return self._with(out)

    def repeat_out_until(
        self,
        *labels: str,
        until: Column | None = None,
        max_iter: int = 50,
    ) -> "Traversal":
        """``repeat(out(labels)).until(...)`` — A17's UNBOUNDED form
        at the fluent surface (r9 VERDICT item 5: the reference's
        console ergonomics, README.md:331-349, without dropping into
        graph.algorithms by hand).

        ``until=None`` is ``until(out().count().is(0))`` — run to the
        empty-frontier fixpoint; the result is every vertex reachable
        in >= 1 step (Gremlin's emit-union minus the start set).

        ``until=<Column>`` is the predicate form: traversers HALT at
        the first vertex (depth >= 1, do-while like Gremlin's
        trailing until) where the predicate holds and stop expanding;
        the result is the halted set, bag-collapsed to distinct
        vertices. A NULL predicate value counts as not-matching
        (the traverser keeps going), Gremlin's filter semantics. A
        halted vertex stops expanding, so this is a BFS from the start
        set over the edges whose source is a start vertex or a vertex
        where the predicate does not hold; the halted set is the
        vertices it reaches at depth >= 1 where the predicate holds.

        Both forms compile to the frontier BFS behind
        algorithms.reachable_from (``_bfs``) — one checkpoint per
        round, the new frontier's row count the halting test — plus
        one left_semi to re-attach vertex properties. Like
        reachable_from, the loop raises ``FixpointNotReached`` when
        the frontier is still non-empty after ``max_iter`` rounds, and
        at most one edge label is supported per loop (the reference's
        traversals always repeat over the single 'in' membership
        label)."""
        if self._kind != "V":
            raise ValueError("repeat_out_until: needs a vertex traversal")
        if len(labels) > 1:
            raise ValueError("repeat_out_until: one edge label max")
        from .algorithms import _bfs, _edge_pairs

        verts = self._g.vertices
        start = self._df.select("id")
        edges = _edge_pairs(self._g, labels[0] if labels else None)
        if until is not None:
            halts = F.coalesce(until, F.lit(False))
            expands = start.unionByName(verts.filter(~halts).select("id"))
            edges = edges.join(
                expands.select(F.col("id").alias("src")), ["src"], "left_semi"
            )
        reached = _bfs(start, edges, max_iter, "repeat_out_until").filter(
            F.col("distance") > 0
        )
        out = verts.join(reached.select("id"), ["id"], "left_semi")
        if until is not None:
            out = out.filter(halts)
        return Traversal(self._g, out, "V")

    # ---- semi-join filters (the A14 pattern) ---------------------------
    def where_inV_hasId(self, ids) -> "Traversal":
        """``where(inV().hasId(x))`` — edge-existence semi-join
        (main.go:320, 339, 426...). ``ids`` is an int, a list, or a
        one-column DataFrame of ids (left_semi join — the batch form,
        SURVEY.md §2.3)."""
        assert self._kind == "E"
        if isinstance(ids, DataFrame):
            target = ids.toDF("id")
            out = self._df.join(
                target, self._df.dst == target.id, "left_semi"
            )
        else:
            idlist = ids if isinstance(ids, (list, tuple)) else [ids]
            out = self._df.filter(F.col("dst").isin(list(idlist)))
        return self._with(out)

    def where_out(self, labels, other: "Traversal") -> "Traversal":
        """Keep vertices having an out-edge whose head is in `other`
        — ``where(out('in').hasLabel(...)...)`` as a left_semi chain."""
        assert self._kind == "V"
        heads = other._df.select(F.col("id").alias("__tid"))
        e = self._edges(labels if isinstance(labels, (list, tuple)) else [labels])
        good_src = (
            e.join(heads, e.dst == F.col("__tid"), "left_semi")
            .select(F.col("src").alias("__sid"))
        )
        out = self._df.join(
            good_src, self._df.id == F.col("__sid"), "left_semi"
        )
        return self._with(out)

    # ---- projection steps ----------------------------------------------
    def group_count(self, key: str = "label") -> DataFrame:
        """groupCount().by(key) — traverser census per key value."""
        return self._df.groupBy(key).agg(
            F.count("*").cast("bigint").alias("count")
        )

    def id_(self) -> DataFrame:
        return self._df.select("id")

    def values(self, *keys: str) -> DataFrame:
        return self._df.select(*keys)

    def key(self) -> DataFrame:
        """Natural key of each matched vertex (email|name|projectid)."""
        assert self._kind == "V"
        return self._df.select(natural_key_col().alias("key"))

    def valueMap(self, with_ids: bool = False) -> DataFrame:
        """Project all properties as a map (README.md:344-349). Nulls
        (properties absent for the label) are omitted, matching
        Gremlin's sparse valueMap. ``with_ids=True`` is
        ``valueMap(true)``: the element id and label join the map under
        the reserved ``T.id``/``T.label`` keys (TinkerPop's tokens)."""
        assert self._kind == "V"
        pairs = []
        if with_ids:
            pairs.append(
                F.struct(
                    F.lit("T.id").alias("key"),
                    F.col("id").cast("string").alias("value"),
                )
            )
            pairs.append(
                F.struct(
                    F.lit("T.label").alias("key"),
                    F.col("label").cast("string").alias("value"),
                )
            )
        for c in ("email", "name", "projectid", "is_external"):
            pairs.append(
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(F.lit(c).alias("key"), F.col(c).cast("string").alias("value")),
                )
            )
        return self._df.select(
            F.col("id"),
            F.col("label"),
            F.map_from_entries(
                F.filter(F.array(*pairs), lambda x: x.isNotNull())
            ).alias("value_map"),
        )

    # ---- terminal steps --------------------------------------------------
    def toDF(self) -> DataFrame:
        return self._df

    def count(self) -> int:
        """Traverser count (README.md:372-381 verification counts)."""
        return self._df.count()

    def hasNext(self) -> bool:
        """Existence probe (main.go:206 etc.). Per-row form; batch
        existence should use the upsert kernel's anti-join instead."""
        return bool(self._df.limit(1).take(1))

    def next(self):
        """First element (main.go:304)."""
        rows = self._df.limit(1).take(1)
        if not rows:
            raise StopIteration("traversal is empty")
        return rows[0]

    # ---- plumbing ---------------------------------------------------------
    def _with(self, df: DataFrame) -> "Traversal":
        return Traversal(self._g, df, self._kind)


class Graph:
    """A property graph = vertices + edges DataFrames (SURVEY.md §1.4)."""

    def __init__(self, vertices: DataFrame, edges: DataFrame):
        self.vertices = vertices
        self.edges = edges

    def V(self, *ids: int) -> Traversal:
        df = self.vertices
        if ids:
            df = df.filter(F.col("id").isin(list(ids)))
        return Traversal(self, df, "V")

    def E(self) -> Traversal:
        return Traversal(self, self.edges, "E")

    def subgraph(self, edge_cond: Column) -> "Graph":
        """Edge-induced subgraph — ``subgraph('sg').cap('sg')``
        (README.md:372-381): filtered edges + their endpoint vertices
        (left_semi against the union of endpoints)."""
        e = self.edges.filter(edge_cond)
        endpoints = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .dropDuplicates()
        )
        v = self.vertices.join(endpoints, ["id"], "left_semi")
        return Graph(v, e)

    def counts(self) -> tuple[int, int]:
        """tinkergraph[vertices:N edges:M]-style check (README.md:372).

        The two counts are independent jobs, so they run CONCURRENTLY
        (guide §2.6 — overlap independent jobs): on a freshly cached
        graph this is the call that fills both caches, and the vertex
        fill otherwise idles the cluster while the (bigger) edge fill
        waits its turn. Results are unchanged — two scalar counts."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fv = pool.submit(self.vertices.count)
            fe = pool.submit(self.edges.count)
            return fv.result(), fe.result()

    def cache(self) -> "Graph":
        self.vertices = self.vertices.cache()
        self.edges = self.edges.cache()
        return self

    def create_views(
        self, vertices_name: str = "vertices", edges_name: str = "edges"
    ) -> "Graph":
        """Register the graph as temp views so the whole surface is
        also queryable via spark.sql (the §2C SQL front door — the
        reference's only query language is Gremlin; we expose both)."""
        self.vertices.createOrReplaceTempView(vertices_name)
        self.edges.createOrReplaceTempView(edges_name)
        return self
