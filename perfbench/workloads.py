"""The two workloads: seeded inputs, set-up, and one pass of ops.

``graph`` drives every graph layer: the built graph is cached, the
snapshot store is loaded with it, point queries run against the
cached graph while binding batches (fresh and replayed) are merged
into the snapshot store and read back, then the whole-graph
iterative algorithms run on the same cached graph. ``corpus`` drives
the LLM-data-pipeline operators over documents and embeddings and
touches no graph layer.

A workload object is built from ``(seed, scratch dir, tracer)``. It
writes its inputs and expected answers in ``prepare`` (untimed), builds
engine state in ``setup`` (timed, repeated), and yields :class:`Op`
items from ``pass_ops``. Every pass has the same mix of op kinds in
the same order; the seed picks the data and the parameters. Each op
calls into the package inside spans named after the module called.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import functions as F

from gsuites_gcp_graphdb_spark.graph import algorithms as alg
from gsuites_gcp_graphdb_spark.graph.build import build_graph
from gsuites_gcp_graphdb_spark.graph.schema import natural_key_col, vertex_id
from gsuites_gcp_graphdb_spark.graph.traversal import Graph
from gsuites_gcp_graphdb_spark.operators import dedup as dd
from gsuites_gcp_graphdb_spark.operators import similarity as sim
from gsuites_gcp_graphdb_spark.operators import text as tx
from gsuites_gcp_graphdb_spark.plans import pipeline_queries as pq
from gsuites_gcp_graphdb_spark.plans.catalog import CATALOG
from gsuites_gcp_graphdb_spark.sources.fixtures import load_table
from gsuites_gcp_graphdb_spark.streaming.ingest import (
    bindings_to_graph_parts,
    load_snapshot,
    merge_graph_into_store,
)

import fixtures
import oracle


@dataclass
class Op:
    """One closed-loop request. ``plan`` calls the package and returns
    what ``action`` materialises into plain Python rows; ``check``
    compares those rows with the expected answer (untimed)."""

    kind: str
    plan: Callable[[], Any]
    action: Callable[[Any], Any]
    check: Callable[[Any], bool]
    expansions: int = 0
    before: Callable[[], None] | None = None  # untimed, just before the op
    after: Callable[[], None] | None = None  # untimed, just after it


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _same(expected) -> Callable[[Any], bool]:
    want = oracle.table_hash(expected)
    return lambda got: oracle.table_hash(got) == want


def _props(rows) -> list[tuple]:
    """valueMap rows -> (label, sorted property items)."""
    return [(r[1], tuple(sorted(r[2].items()))) for r in rows]


def _partition(rows) -> list[tuple]:
    """(id, component) rows -> sorted member tuples."""
    groups: dict = {}
    for i, c in rows:
        groups.setdefault(c, []).append(i)
    return sorted(tuple(sorted(m)) for m in groups.values())


def _pick(rng: random.Random, ranked: list, hub: bool, share: float = 0.1):
    n = max(1, int(len(ranked) * share))
    return rng.choice(ranked[:n] if hub else ranked[-n:])


class Workload:
    name = ""

    def __init__(self, seed: int, scratch: str, tracer):
        self.seed = seed
        self.scratch = scratch
        self.tr = tracer
        self.fx = os.path.join(scratch, "fixtures")
        self.rng = random.Random(seed)
        self.load_calls = 0  # load_table calls made during set-up

    def prepare(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def pass_ops(self, n: int):
        raise NotImplementedError

    def finish(self) -> list[Op]:
        """Untimed end-of-run verification ops."""
        return []

    def report(self) -> dict:
        return {}

    def _load(self, spark, table: str):
        with self.tr.span("sources.fixtures"):
            df = load_table(spark, self.fx, table)
        self.load_calls += 1
        return df

    def _build(self, spark) -> Graph:
        """Fixture reads plus graph build, materialised and cached."""
        for t in oracle.GRAPH_TABLES:
            self._load(spark, t)
        with self.tr.span("graph.build"):
            v, e = build_graph(spark, self.fx)
            g = Graph(v, e).cache()
            g.counts()
        return g


def _interleave(major, minor, every: int):
    """Yield ``every`` ops of ``major``, then one of ``minor``, until
    both run out."""
    major, minor = iter(major), iter(minor)
    while True:
        batch = [op for _, op in zip(range(every), major)]
        yield from batch
        nxt = next(minor, None)
        if nxt is not None:
            yield nxt
        if not batch and nxt is None:
            return


# ---------------------------------------------------------------------------
class IamGraph(Workload):
    """Interactive reference queries on the cached graph, binding
    batches merged into the snapshot store, then the whole-graph
    iterative algorithms."""

    name = "graph"
    CUSTOMERS = 400
    ROUNDS = 3  # PPR and HITS supersteps
    BATCH = 120

    def prepare(self):
        fixtures.write_graph_tables(self.fx, self.seed, self.CUSTOMERS)
        self.o = o = oracle.GraphOracle(self.fx)
        self.users = o.degree_ranked("user", "out")
        self.roles = o.degree_ranked("role", "in")
        self.projects = o.degree_ranked("project", "in")
        self.buckets = o.degree_ranked("bucket", "in")
        self.groups = o.degree_ranked("group", "in")
        self.absent = f"nobody-{self.rng.randrange(10**9)}@example.com"
        self.base_v = {r[:2] for r in o.rows("SELECT label, key FROM v")}
        self.base_e = set(o.rows("SELECT sl, sk, dl, dk FROM e"))
        self.store = os.path.join(self.scratch, "snapshots")
        self.offered: list[tuple] = []
        self.batches = self.bytes_written = self.compactions = 0
        self.ppr_sources = [_pick(self.rng, self.users, True), _pick(self.rng, self.users, False)]
        self.wsp_source = _pick(self.rng, self.users, False)
        self.ref2id = None

    def setup(self, spark):
        self.spark = spark
        self.g = self._build(spark)

    def pass_ops(self, n):
        yield self._base_load()
        ingest = [self._fresh_merge(), self._replay_merge(), self._read()]
        yield from _interleave(self._queries(), ingest, every=3)
        yield from self._algorithms()

    def _base_load(self) -> Op:
        """The first commit: the whole crawled graph into an empty
        snapshot store."""
        shutil.rmtree(self.store, ignore_errors=True)
        self.live_v, self.live_e = set(self.base_v), set(self.base_e)

        def plan():
            with self.tr.span("streaming.ingest.merge"):
                merge_graph_into_store(self.spark, self.store,
                                       self.g.vertices, self.g.edges)

        def after():
            self.seq0 = self._manifest()["seq"]
            self.bytes_written += dir_bytes(self.store)

        return Op("base_load", plan, lambda _: None, lambda _: self.seq0 == 0, after=after)

    # ---- interactive queries -------------------------------------------
    def _queries(self):
        """Eight queries; kinds whose cost follows fan-out run on a busy
        (hub) or a quiet (leaf) vertex."""
        o, rng = self.o, self.rng
        user = _pick(rng, self.users, True)
        role, leaf_role = _pick(rng, self.roles, True), _pick(rng, self.roles, False)
        project = _pick(rng, self.projects, False)
        hub_target = ("project", _pick(rng, self.projects, True))
        leaf_target = ("bucket", _pick(rng, self.buckets, False))
        yield self._exists(self.absent, o.exists("user", self.absent))
        yield self._lookup("project", project, o.value_map("project", project))
        yield self._hop("out", "user", user, o.neighbours("user", user, "out"))
        yield self._hop("in", "role", role, o.neighbours("role", role, "in"))
        yield self._members(leaf_role, o.members_of_role(leaf_role))
        yield self._who(*hub_target, o.who_can_access(*hub_target))
        yield self._who(*leaf_target, o.who_can_access(*leaf_target))
        yield self._reach(user, o.reachable("user", user))

    def _v(self, label: str, key: str, g: Graph | None = None):
        t = (g or self.g).V().hasLabel(label)
        if label == "bucket":
            name, projectid = key.split("/", 1)
            return t.has("name", name).has("projectid", projectid)
        prop = {"role": "name", "permission": "name", "project": "projectid"}.get(label, "email")
        return t.has(prop, key)

    def _exists(self, email, expected):
        def plan():
            with self.tr.span("graph.traversal"):
                return self._v("user", email)
        return Op("exists", plan, lambda t: [(t.hasNext(),)], _same(expected))

    def _lookup(self, label, key, expected):
        def plan():
            with self.tr.span("graph.traversal"):
                return self._v(label, key).valueMap()
        return Op("lookup", plan, lambda df: _props(df.collect()), _same(expected))

    def _hop(self, direction, label, key, expected):
        def plan():
            with self.tr.span("graph.traversal"):
                t = self._v(label, key)
                t = t.out("in") if direction == "out" else t.in_("in")
                return t.dedup().valueMap()
        return Op(f"hop_{direction}", plan, lambda df: _props(df.collect()),
                  _same(expected), expansions=1)

    def _members(self, role, expected):
        def plan():
            with self.tr.span("graph.traversal"):
                ids = self._v("role", role).id_()
                return (self.g.E().where_inV_hasId(ids).outV().dedup()
                        .hasLabel("user").values("email"))
        return Op("members_of_role", plan, _rows, _same(expected), expansions=1)

    def _who(self, label, key, expected):
        def plan():
            with self.tr.span("graph.traversal"):
                return (self._v(label, key).in_("in").hasLabel("role").in_("in")
                        .hasLabel("user").dedup().values("email"))
        return Op(f"who_can_access_{label}", plan, _rows, _same(expected), expansions=2)

    def _reach(self, email, expected):
        def plan():
            with self.tr.span("graph.traversal"):
                src = self._v("user", email).id_()
            with self.tr.span("graph.algorithms"):
                reached = alg.reachable_from(self.g, src)
            return self.g.vertices.join(reached, ["id"], "left_semi").select(
                "label", natural_key_col())
        return Op("reach", plan, _rows, _same(expected))

    # ---- binding ingest ------------------------------------------------
    def _manifest(self) -> dict:
        with open(os.path.join(self.store, "_CURRENT"), encoding="utf-8") as f:
            return json.load(f)

    def _fresh_batch(self) -> tuple:
        """Principal -> role bindings (a third of them for principals
        not yet in the store) plus group -> group nestings."""
        rng, b = self.rng, len(self.offered)
        users = [k for lbl, k in sorted(self.base_v) if lbl == "user"]
        bindings = []
        for i in range(self.BATCH):
            kind = rng.choice(("user", "user", "serviceAccount", "group"))
            if kind == "user" and i % 3:
                who = rng.choice(users)
            else:
                who = f"{kind.lower()}-{self.seed}-{b}-{i}@example.com"
            bindings.append((f"{kind}:{who}", rng.choice(self.roles)))
        nest = [(f"team-{self.seed}-{b}-{i}@example.com", rng.choice(self.groups))
                for i in range(self.BATCH // 10)]
        batch = (tuple(bindings), tuple(nest))
        self.offered.append(batch)
        return batch

    def _parts(self, batch):
        bindings, nest = batch
        spark = self.spark
        bdf = spark.createDataFrame(list(bindings), "member string, dst_key string")
        with self.tr.span("streaming.ingest.parts"):
            v, e = bindings_to_graph_parts(bdf)
        ndf = spark.createDataFrame(list(nest), "src_key string, dst_key string")
        nv = ndf.select(
            vertex_id("group", F.col("src_key")).alias("id"), F.lit("group").alias("label"),
            F.col("src_key").alias("email"), F.lit(None).cast("string").alias("name"),
            F.lit(None).cast("string").alias("projectid"), F.lit(False).alias("is_external"))
        ne = ndf.select(
            vertex_id("group", F.col("src_key")).alias("src"),
            vertex_id("group", F.col("dst_key")).alias("dst"),
            F.lit("in").alias("label"), F.lit(1).cast("int").alias("weight"))
        return v.unionByName(nv), e.unionByName(ne)

    @staticmethod
    def _refs(batch):
        bindings, nest = batch
        vs, es = set(), set()
        for member, role in bindings:
            label, key = member.split(":", 1)
            vs |= {(label, key), ("role", role)}
            es.add((label, key, "role", role))
        for src, dst in nest:
            vs |= {("group", src), ("group", dst)}
            es.add(("group", src, "group", dst))
        return vs, es

    def _fresh_merge(self) -> Op:
        return self._merge(self._fresh_batch, replay=False)

    def _replay_merge(self) -> Op:
        return self._merge(lambda: self.rng.choice(self.offered), replay=True)

    def _merge(self, make_batch, replay: bool) -> Op:
        """A batch merge. The batch and the store state it is checked
        against are taken when the op is about to run (untimed)."""
        state = {}

        def plan():
            v, e = self._parts(state["batch"])
            with self.tr.span("streaming.ingest.merge"):
                merge_graph_into_store(self.spark, self.store, v, e)

        def before():
            state["batch"] = make_batch()
            state["seq"] = self._manifest()["seq"]
            state["bytes"] = dir_bytes(self.store)

        def after():
            m = self._manifest()
            self.batches += 1
            self.bytes_written += max(0, dir_bytes(self.store) - state["bytes"])
            if m["seq"] != state["seq"] and not m["deltas"]:
                self.compactions += 1
            vs, es = self._refs(state["batch"])
            self.live_v |= vs
            self.live_e |= es
            state["advanced"] = m["seq"] - state["seq"]

        def check(_):
            # a fresh batch commits exactly once; a replay commits nothing
            return state["advanced"] == (0 if replay else 1)

        return Op("replay" if replay else "merge", plan, lambda _: None, check,
                  before=before, after=after)

    def _read(self) -> Op:
        role = self.rng.choice(self.roles)

        def plan():
            with self.tr.span("streaming.ingest.load_snapshot"):
                g = load_snapshot(self.spark, self.store)
            with self.tr.span("graph.traversal"):
                members = self._v("role", role, g).in_("in").dedup()
            return g, members

        def action(p):
            g, members = p
            return g.counts(), members.count()

        def check(got):
            want = sum(1 for e in self.live_e if e[2:] == ("role", role))
            return got == ((len(self.live_v), len(self.live_e)), want)

        return Op("read", plan, action, check, expansions=1)

    # ---- graph algorithms ----------------------------------------------
    def _expected_ids(self):
        """The oracle graph in the engine's id space; the id of each
        (label, key) is read from the engine once, untimed."""
        if self.ref2id is None:
            rows = self.g.vertices.select("id", "label", natural_key_col()).collect()
            self.ref2id = {(r[1], r[2]): r[0] for r in rows}
            verts, edges = self.o.adjacency()
            self.verts = [self.ref2id[v] for v in verts]
            self.edges = [(self.ref2id[a], self.ref2id[b]) for a, b in edges]
        return self.verts, self.edges

    def _src(self, emails):
        return self.spark.createDataFrame(
            [(self.ref2id[("user", u)],) for u in emails], "id bigint")

    def _algo(self, kind, call, check) -> Op:
        def plan():
            with self.tr.span("graph.algorithms"):
                return call()
        return Op(kind, plan, _rows, check)

    def _algorithms(self):
        g = self.g
        V, E = self._expected_ids()
        comps = sorted(oracle.components(V, E))
        yield self._algo("connected_components", lambda: alg.connected_components(g),
                         lambda got: _partition(got) == comps)
        yield self._algo("connected_components_star", lambda: alg.connected_components_star(g),
                         lambda got: _partition(got) == comps)
        sccs = sorted(oracle.strong_components(V, E))
        yield self._algo("strongly_connected_components",
                         lambda: alg.strongly_connected_components(
                             g.vertices.select("id"), g.edges.select("src", "dst")),
                         lambda got: _partition(got) == sccs)
        lpa = oracle.label_propagation(V, E)
        yield self._algo("label_propagation",
                         lambda: alg.label_propagation(g.vertices.select("id"),
                                                       g.edges.select("src", "dst")),
                         lambda got: dict(got) == lpa)
        ppr = oracle.personalized_pagerank(
            V, E, [self.ref2id[("user", u)] for u in self.ppr_sources], self.ROUNDS)
        yield self._algo("personalized_pagerank",
                         lambda: alg.personalized_pagerank(
                             g, self._src(self.ppr_sources), iterations=self.ROUNDS),
                         lambda got: oracle.close(dict(got), ppr))
        hits = oracle.hits(V, E, self.ROUNDS)
        yield self._algo("hits", lambda: alg.hits(g, iterations=self.ROUNDS),
                         lambda got: oracle.close({i: (h, a) for i, h, a in got}, hits))
        dist = oracle.bfs_distances(E, [self.ref2id[("user", self.wsp_source)]])
        yield self._algo("weighted_shortest_paths",
                         lambda: alg.weighted_shortest_paths(g, self._src([self.wsp_source])),
                         lambda got: oracle.close(dict(got), dist))

    def finish(self):
        def plan():
            g = load_snapshot(self.spark, self.store)
            src = g.vertices.select(F.col("id").alias("src"), F.col("label").alias("sl"),
                                    natural_key_col().alias("sk"))
            dst = g.vertices.select(F.col("id").alias("dst"), F.col("label").alias("dl"),
                                    natural_key_col().alias("dk"))
            return g.edges.join(src, "src").join(dst, "dst").select("sl", "sk", "dl", "dk")

        def check(got):
            return len(got) == len(self.live_e) and set(got) == self.live_e

        return [Op("final_snapshot", plan, _rows, check)]

    def report(self):
        m = self._manifest()
        return {
            "store_bytes_per_edge": dir_bytes(self.store) / len(self.live_e),
            "ingest.bytes_written": self.bytes_written,
            "ingest.compactions": self.compactions,
            "ingest.useful_ratio": (m["seq"] - self.seq0) / max(1, self.batches),
        }


# ---------------------------------------------------------------------------
class Corpus(Workload):
    """The LLM-data-pipeline path over documents and embeddings; no
    graph layer."""

    name = "corpus"
    DOCS = 600

    def prepare(self):
        fixtures.write_corpus_tables(self.fx, self.seed, self.DOCS)
        con = oracle.open_views(self.fx, ("documents", "embeddings"))
        self.expected = {k: [tuple(r) for r in con.execute(CATALOG[k].sql).fetchall()] for k in (
            "ns_pipeline_e2e", "ns_dedup_minhash_lsh", "ns_dedup_minhash_verified",
            "ns_text_token_stats")}
        n_vec = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
        q = self.rng.sample(range(n_vec), 1)[0]
        self.query = con.execute(
            "SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) "
            f"FROM embeddings WHERE vec_id = {q}").fetchone()[0]
        sql = CATALOG["ns_topk_cosine"].sql.replace("(SELECT min(vec_id) FROM embeddings)", str(q))
        self.expected["topk"] = [tuple(r) for r in con.execute(sql).fetchall()]
        self.pairs = {}

    def setup(self, spark):
        self.spark = spark
        for t in ("documents", "embeddings"):
            self._load(spark, t).count()

    def _table(self, name: str):
        with self.tr.span("sources.fixtures"):
            return load_table(self.spark, self.fx, name)

    def _pairs(self, kind: str, expected):
        """Check that also records the pair count, for the LSH
        candidate precision."""
        same = _same(expected)

        def check(rows):
            self.pairs[kind] = len(rows)
            return same(rows)
        return check

    def pass_ops(self, n):
        exp = self.expected

        def pipeline():
            with self.tr.span("plans.pipeline_queries"):
                return pq.pipeline_e2e(self.spark, self.fx)
        yield Op("pipeline_e2e", pipeline, _rows, _same(exp["ns_pipeline_e2e"]))

        def minhash(verify: bool):
            dd.release_scratch()
            docs = self._table("documents")
            kw = dict(n=pq.SHINGLE_N, num_hashes=pq.MINHASH_K, bands=pq.LSH_BANDS, use_md5=True)
            with self.tr.span("operators.dedup"):
                if not verify:
                    return dd.minhash_lsh_candidates(docs, **kw).select(
                        F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"))
                return dd.minhash_dedup_pairs(docs, threshold=pq.JACCARD_TAU, **kw).select(
                    F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"), "jaccard")
        yield Op("minhash_lsh", lambda: minhash(False), _rows,
                 self._pairs("candidates", exp["ns_dedup_minhash_lsh"]))
        yield Op("minhash_verified", lambda: minhash(True), _rows,
                 self._pairs("verified", exp["ns_dedup_minhash_verified"]))

        def topk():
            emb = self._table("embeddings")
            with self.tr.span("operators.similarity"):
                return sim.topk_for_vector(emb, self.query, k=pq.TOPK)
        yield Op("topk_cosine", topk, _rows, _same(exp["topk"]))

        def tokens():
            docs = self._table("documents")
            with self.tr.span("operators.text"):
                return tx.token_stats(docs)
        yield Op("token_stats", tokens, _rows, _same(exp["ns_text_token_stats"]))

    def report(self):
        return {"dedup.candidate_precision": self.pairs.get("verified", 0)
                / max(1, self.pairs.get("candidates", 0))}



WORKLOADS = {w.name: w for w in (IamGraph, Corpus)}
