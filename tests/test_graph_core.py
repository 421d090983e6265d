"""Graph core: schema, deterministic ids, build, upsert idempotence,
golden mini-graph traversals (FIXTURES.md §3, SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gsuites_gcp_graphdb_spark.graph.build import build_graph
from gsuites_gcp_graphdb_spark.graph.literal import edges_of, vertices_of
from gsuites_gcp_graphdb_spark.graph.traversal import Graph, Traversal
from gsuites_gcp_graphdb_spark.graph.upsert import (
    assert_unique_keys,
    drop_all,
    graph_diff,
    upsert_edges,
    upsert_vertices,
)
from gsuites_gcp_graphdb_spark.graph.algorithms import (
    connected_components,
    degrees,
    k_hop,
    reachable_from,
    reaching_to,
)

# Golden mini-graph: the reference README's annotated flow
# (README.md:15-32): user1 -> subgroup1 -> group_of_groups1 -> role ->
# project.
GOLDEN_V = [
    ("user", "user1@domain.com"),
    ("group", "subgroup1@domain.com"),
    ("group", "group_of_groups1@domain.com"),
    ("role", "roles/appengine.codeViewer"),
    ("project", "gcp-project-200601"),
]
GOLDEN_E = [
    ("user", "user1@domain.com", "group", "subgroup1@domain.com"),
    ("group", "subgroup1@domain.com", "group", "group_of_groups1@domain.com"),
    ("group", "group_of_groups1@domain.com", "role", "roles/appengine.codeViewer"),
    ("role", "roles/appengine.codeViewer", "project", "gcp-project-200601"),
]


@pytest.fixture(scope="module")
def golden(spark):
    v = vertices_of(spark, GOLDEN_V).cache()
    e = edges_of(spark, GOLDEN_E).cache()
    return Graph(v, e)


def test_golden_counts(golden):
    # count-check style of README.md:372-375.
    assert golden.counts() == (5, 4)


def test_deterministic_ids(spark):
    v1 = vertices_of(spark, GOLDEN_V)
    v2 = vertices_of(spark, list(reversed(GOLDEN_V)))
    ids1 = {r.id for r in v1.collect()}
    ids2 = {r.id for r in v2.collect()}
    assert ids1 == ids2 and len(ids1) == 5


def test_traversal_steps(golden):
    g = golden
    # hasLabel + has point lookup (main.go:206 pattern)
    t = g.V().hasLabel("user").has("email", "user1@domain.com")
    assert t.hasNext()
    assert t.count() == 1
    # out() expansion (README.md:335-349)
    nbrs = g.V().has("email", "user1@domain.com").out("in").toDF().collect()
    assert [r.email for r in nbrs] == ["subgroup1@domain.com"]
    # bounded 4-hop reaches the project
    four = (
        g.V().has("email", "user1@domain.com").repeat_out(4, "in").toDF().collect()
    )
    assert [r.projectid for r in four] == ["gcp-project-200601"]
    # valueMap projects sparse properties
    vm = g.V().hasLabel("project").valueMap().collect()[0]
    assert vm.value_map == {"projectid": "gcp-project-200601"}
    # valueMap(true): id + label join the map under TinkerPop's tokens
    vmt = g.V().hasLabel("project").valueMap(with_ids=True).collect()[0]
    assert vmt.value_map["T.id"] == str(vmt.id)
    assert vmt.value_map["T.label"] == "project"
    assert vmt.value_map["projectid"] == "gcp-project-200601"
    # where_inV_hasId semi-join (A14)
    role_id = g.V().hasLabel("role").id_()
    members = g.E().where_inV_hasId(role_id).outV().toDF().collect()
    assert [r.email for r in members] == ["group_of_groups1@domain.com"]
    # in_() reverse expansion
    up = g.V().hasLabel("project").in_("in").toDF().collect()
    assert [r.name for r in up] == ["roles/appengine.codeViewer"]
    # order_by + range_ paging: deterministic middle page
    page = (
        g.V().hasLabel("group").order_by("email").range_(1, 2).toDF().collect()
    )
    assert [r.email for r in page] == ["subgroup1@domain.com"]


def test_repeat_emit_and_group_count(golden):
    g = golden
    # emit: union of hop-1..4 from user1 = all 4 downstream vertices
    within = (
        g.V().has("email", "user1@domain.com").repeat_out_emit(4, "in")
    )
    assert within.dedup().count() == 4
    gc = {r.label: r["count"] for r in within.dedup().group_count().collect()}
    assert gc == {"group": 2, "role": 1, "project": 1}


def test_repeat_out_until(golden):
    """repeat(out()).until(...) at the fluent surface (r10): the
    empty-frontier form equals reachable_from's visited set; the
    predicate form halts traversers at the FIRST matching vertex
    (do-while) and does not expand past it."""
    g = golden
    start = g.V().has("email", "user1@domain.com")
    # fixpoint form: everything downstream of user1
    fix = start.repeat_out_until("in")
    assert {
        r.key for r in fix.key().collect()
    } == {
        "subgroup1@domain.com",
        "group_of_groups1@domain.com",
        "roles/appengine.codeViewer",
        "gcp-project-200601",
    }
    # predicate form: halt at the first role — the project beyond it
    # is never visited, and intermediate groups don't emit
    halt = start.repeat_out_until("in", until=F.col("label") == "role")
    assert [r.key for r in halt.key().collect()] == [
        "roles/appengine.codeViewer"
    ]
    # predicate that never matches -> empty result, loop still
    # terminates at the frontier fixpoint
    none = start.repeat_out_until(
        "in", until=F.col("label") == "nonexistent"
    )
    assert none.count() == 0


def test_repeat_out_until_rejects_bad_input(golden):
    """Input checks raise ValueError, so they survive ``python -O``:
    the loop repeats over one edge label and starts from vertices."""
    with pytest.raises(ValueError, match="one edge label"):
        golden.V().repeat_out_until("in", "member")
    with pytest.raises(ValueError, match="vertex traversal"):
        golden.E().repeat_out_until("in")


def test_auto_broadcast_probe(golden, spark):
    """r10 hint-free routing: _probe_frontier_bytes returns an honest
    n*32 estimate when the frontier fits the broadcast row cap, None
    when it exceeds it (caller then takes the plain+AQE branch, never
    salt), and the config-gated probe changes plans only — results
    are identical with it on or off."""
    g = golden
    t = g.V().hasLabel("group")  # 2 vertices
    assert t._probe_frontier_bytes() == 2 * 32
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "32")
    try:
        # cap = 32B/32B = 1 row < 2 -> exceeds
        assert t._probe_frontier_bytes() is None
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def expand():
        return sorted(
            (r.src, r.dst)
            for r in g.V().hasLabel("user").outE("in").toDF().collect()
        )

    rows_off = expand()
    spark.conf.set(Traversal.AUTO_PROBE_CONF, "true")
    try:
        rows_on = expand()
    finally:
        spark.conf.set(Traversal.AUTO_PROBE_CONF, "false")
    assert rows_on == rows_off and len(rows_on) == 1


def test_reachability_golden(golden, spark):
    g = golden
    src = g.V().has("email", "user1@domain.com").id_()
    reached = reachable_from(g, src)
    keys = {
        r.key
        for r in g.vertices.join(reached, ["id"], "left_semi")
        .select(F.coalesce("email", "name", "projectid").alias("key"))
        .collect()
    }
    assert keys == {
        "subgroup1@domain.com",
        "group_of_groups1@domain.com",
        "roles/appengine.codeViewer",
        "gcp-project-200601",
    }
    # reverse: who can reach the project -> everyone else
    tgt = g.V().hasLabel("project").id_()
    who = reaching_to(g, tgt)
    assert who.count() == 4
    # k_hop exact frontier
    assert k_hop(g, src, 2).count() == 1


def test_all_paths_golden(golden, spark):
    """path(): full chains source -> target, diamond counted twice."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import all_paths

    g = golden
    src = g.V().has("email", "user1@domain.com").id_()
    tgt = g.V().hasLabel("project").id_()
    rows = all_paths(g, src, tgt).collect()
    assert len(rows) == 1
    assert rows[0].depth == 4
    assert rows[0].path == [
        "user1@domain.com",
        "subgroup1@domain.com",
        "group_of_groups1@domain.com",
        "roles/appengine.codeViewer",
        "gcp-project-200601",
    ]
    # diamond: a second parallel route doubles the path count
    extra = [
        ("user", "user1@domain.com", "group", "group_of_groups1@domain.com"),
    ]
    g2 = Graph(g.vertices, g.edges.unionByName(edges_of(spark, extra)))
    paths = {tuple(r.path) for r in all_paths(g2, src, tgt).collect()}
    assert len(paths) == 2
    # depth cap prunes the long route
    capped = all_paths(g2, src, tgt, max_depth=3).collect()
    assert len(capped) == 1 and capped[0].depth == 3


def test_upsert_idempotent(golden, spark):
    """THE invariant (SURVEY.md §2.3): load(load(G,X),X) == load(G,X)."""
    v, e = golden.vertices, golden.edges
    v1 = upsert_vertices(v, v)
    e1 = upsert_edges(e, e)
    assert v1.count() == 5 and e1.count() == 4
    v2 = upsert_vertices(v1, v)
    assert v2.count() == 5
    assert assert_unique_keys(v2) == 0
    d = graph_diff(v2, e1, v, e)
    assert all(df.count() == 0 for df in d.values())


def test_upsert_get_or_create(golden, spark):
    """First writer wins; new keys append (main.go:205-211 semantics)."""
    extra = vertices_of(
        spark, [("user", "user2@domain.com"), ("user", "user1@domain.com")]
    )
    merged = upsert_vertices(golden.vertices, extra)
    assert merged.count() == 6
    assert merged.filter(F.col("email") == "user1@domain.com").count() == 1


def test_remove_vertices_cascades(golden, spark):
    """Selective drop removes the vertex and BOTH edge directions."""
    from gsuites_gcp_graphdb_spark.graph.upsert import remove_vertices

    g = golden
    victim = g.V().hasLabel("group").has(
        "email", "group_of_groups1@domain.com"
    ).id_()
    v2, e2 = remove_vertices(g.vertices, g.edges, victim)
    assert v2.count() == 4
    # the middle group had 1 in-edge and 1 out-edge: both gone
    assert e2.count() == 2
    # idempotent: removing again is a no-op
    v3, e3 = remove_vertices(v2, e2, victim)
    assert v3.count() == 4 and e3.count() == 2


def test_drop_all(golden):
    v, e = drop_all(golden.vertices, golden.edges)
    assert v.count() == 0 and e.count() == 0


def test_subgraph(golden):
    sg = golden.subgraph(F.lit(True))
    assert sg.counts() == (5, 4)
    role_id = golden.V().hasLabel("role").next().id
    sg2 = golden.subgraph(F.col("dst") == role_id)
    assert sg2.counts() == (2, 1)


def test_connected_components_and_degrees(spark, golden):
    comp = connected_components(golden)
    assert comp.select("component").distinct().count() == 1
    two = Graph(
        vertices_of(spark, GOLDEN_V + [("user", "loner@x.com")]),
        golden.edges,
    )
    assert connected_components(two).select("component").distinct().count() == 2
    deg = degrees(golden)
    assert deg.agg(F.sum("out_degree")).collect()[0][0] == 4


def test_truncate_keeps_stats_bounded_across_rounds(spark):
    """Regression for the r12 scale fix: a loop whose round
    references the previous checkpoint TWICE squares the LogicalRDD
    size estimate each round (localCheckpoint derives it from the
    origin plan), so the estimate's digit count doubles per round —
    exponential BigInteger planning cost and, past ~2^31 bits,
    'BigInteger would overflow supported range'. _truncate must keep
    the estimate's magnitude BOUNDED across 30 self-join rounds (the
    unfixed digit count passes 10^9 by round ~24)."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import _truncate

    comp = _truncate(
        spark.range(100).select("id", F.col("id").alias("component"))
    )
    for _ in range(30):
        par = comp.select(
            F.col("id").alias("p"), F.col("component").alias("pc")
        )
        comp = _truncate(
            comp.join(par, comp.component == par.p).select(
                "id", F.col("pc").alias("component")
            )
        )
        digits = len(
            str(
                int(
                    comp._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            )
        )
        assert digits < 200, f"stats estimate escaped the bound: {digits}"
    assert comp.count() == 100


def test_connected_components_star_matches_hashmin(spark, golden):
    """The large-star/small-star variant is a second independent CC
    implementation; both must produce identical (id, component) maps
    — on the golden chain, with an isolated vertex, and on a random
    graph (seeded)."""
    import random

    from gsuites_gcp_graphdb_spark.graph.algorithms import (
        connected_components_star,
    )

    two = Graph(
        vertices_of(spark, GOLDEN_V + [("user", "loner@x.com")]),
        golden.edges,
    )
    for g in (golden, two):
        a = sorted(map(tuple, connected_components(g).collect()))
        b = sorted(map(tuple, connected_components_star(g).collect()))
        assert a == b

    rng = random.Random(13)
    n = 80
    pairs = {
        (rng.randrange(1, n + 1), rng.randrange(1, n + 1))
        for _ in range(90)
    }
    pairs = [(a, b) for a, b in pairs if a != b]
    v = spark.createDataFrame([(i,) for i in range(1, n + 1)], "id long")
    e = spark.createDataFrame(pairs, "src long, dst long").select(
        "src", "dst", F.lit("in").alias("label"), F.lit(1.0).alias("weight")
    )
    g = Graph(v, e)
    a = sorted(map(tuple, connected_components(g).collect()))
    b = sorted(map(tuple, connected_components_star(g).collect()))
    assert a == b


def test_connected_components_contract_matches_hashmin(spark):
    """The partition-local union-find contraction variant must agree
    with hash-min on its worst regime: DEEP CHAINS (the round-8
    semantic-dedup profile — diameter ~16 pair graphs), a chain whose
    min id sits at the far end, multiple components with isolated
    vertices, and a seeded random graph spread over many shuffle
    partitions so the union-find genuinely runs per-group."""
    import random

    from gsuites_gcp_graphdb_spark.graph.algorithms import (
        connected_components,
        connected_components_contract,
    )

    def check(n, pairs):
        v = spark.createDataFrame(
            [(i,) for i in range(1, n + 1)], "id long"
        )
        e = spark.createDataFrame(
            pairs, "src long, dst long"
        ).select(
            "src",
            "dst",
            F.lit("in").alias("label"),
            F.lit(1.0).alias("weight"),
        )
        g = Graph(v, e)
        a = sorted(map(tuple, connected_components(g).collect()))
        b = sorted(
            map(tuple, connected_components_contract(g).collect())
        )
        assert a == b, (a, b)

    # 40-deep chain, min id at the END (max label travel distance)
    check(40, [(i, i + 1) for i in range(1, 40)])
    # two chains + two isolated vertices (ids 41, 42)
    check(
        42,
        [(i, i + 1) for i in range(1, 20)]
        + [(i, i + 1) for i in range(21, 40)],
    )
    # seeded random graph
    rng = random.Random(8)
    pairs = {
        (rng.randrange(1, 81), rng.randrange(1, 81)) for _ in range(70)
    }
    check(80, [(a, b) for a, b in pairs if a != b])
    # self-loop only: vertex labels itself, loop ignored
    check(3, [(1, 1), (2, 3)])


def test_triangle_count(spark, golden):
    """Chain graph has no triangles; closing edges create exactly the
    expected count, direction-insensitively."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import triangle_count

    assert triangle_count(golden).collect()[0][0] == 0
    closing = [
        # closes user1 -> subgroup1 -> group_of_groups1
        ("group", "group_of_groups1@domain.com", "user", "user1@domain.com"),
    ]
    g2 = Graph(golden.vertices, edges_of(spark, GOLDEN_E + closing))
    assert triangle_count(g2).collect()[0][0] == 1


def test_aggregate_messages(golden, spark):
    """The Pregel primitive agrees with the specialized operators and
    supports triplet-level expressions (edge weight x dst label)."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import (
        aggregate_messages,
        triplets,
    )

    g = golden
    t = triplets(g)
    assert t.count() == 4
    # in-degree via messages == degrees()
    in_deg = {
        r.id: r.agg
        for r in aggregate_messages(
            g, F.sum, msg_to_dst=F.lit(1)
        ).collect()
    }
    deg = {r.id: r.in_degree for r in degrees(g).collect() if r.in_degree}
    assert in_deg == deg
    # triplet expression: sum of incident edge weights, both directions
    total_w = aggregate_messages(
        g,
        F.sum,
        msg_to_dst=F.col("edge.weight"),
        msg_to_src=F.col("edge.weight"),
    )
    assert {r.agg for r in total_w.collect()} == {1, 2}  # endpoints 1, middle 2
    with pytest.raises(ValueError):
        aggregate_messages(g, F.sum)


def test_build_fixture_graph(spark, sf_dir):
    v, e = build_graph(spark, sf_dir)
    assert assert_unique_keys(v) == 0
    by_label = {r.label: r.n for r in v.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert by_label["user"] == 150
    assert by_label["group"] == 30  # 25 nations + 5 regions
    assert by_label["serviceAccount"] == 10
    assert by_label["bucket"] > 0  # B10: bucket entity modeled
    assert len(by_label) == 7
    # idempotence on the real derived graph
    assert upsert_vertices(v, v).count() == v.count()
    assert upsert_edges(e, e).count() == e.count()


def test_bucket_entity(spark, sf_dir):
    """B10 (main.go:384-524): composite-keyed bucket vertices, bucket->
    project containment, role->bucket IAM; same bucket NAME appears in
    many projects but composite ids stay unique."""
    from gsuites_gcp_graphdb_spark.graph.schema import natural_key_col

    v, e = build_graph(spark, sf_dir)
    b = v.filter(F.col("label") == "bucket")
    n_buckets = b.count()
    # composite key: name alone is ambiguous, (name, projectid) unique
    assert b.select("name").distinct().count() < n_buckets
    assert b.select("name", "projectid").distinct().count() == n_buckets
    assert b.filter(F.col("name").isNull() | F.col("projectid").isNull()).count() == 0
    # natural key renders both halves
    key = b.select(natural_key_col().alias("k")).first().k
    assert "/" in key
    # every bucket is contained in exactly one project
    proj = v.filter(F.col("label") == "project").select(F.col("id").alias("pid"))
    cont = e.join(b.select(F.col("id").alias("bid")), e.src == F.col("bid"), "left_semi")
    assert cont.join(proj, cont.dst == proj.pid, "left_semi").count() == n_buckets
    # some role grants on buckets exist
    roles = v.filter(F.col("label") == "role").select(F.col("id").alias("rid"))
    rb = e.join(b.select(F.col("id").alias("bid")), e.dst == F.col("bid"), "left_semi")
    assert rb.join(roles, rb.src == roles.rid, "left_semi").count() > 0


def test_load_gcs_equivalence(spark, sf_dir):
    """load_gcs on an empty graph produces exactly the bucket slice of
    the bulk build (plus the role vertices it upserts)."""
    from gsuites_gcp_graphdb_spark.graph.build import (
        bucket_edges,
        bucket_vertices,
        empty_edges,
        empty_vertices,
    )
    from gsuites_gcp_graphdb_spark.graph.loaders import load_gcs
    from gsuites_gcp_graphdb_spark.graph.traversal import Graph
    from gsuites_gcp_graphdb_spark.sources.fixtures import load_table

    part = load_table(spark, sf_dir, "part")
    g = load_gcs(Graph(empty_vertices(spark), empty_edges(spark)), part)
    assert (
        g.vertices.filter(F.col("label") == "bucket").count()
        == bucket_vertices(part).count()
    )
    assert g.edges.count() == bucket_edges(part).count()


def test_multi_source_distances_matches_single_source(golden, spark):
    """Per-seed BFS must agree with shortest_paths run seed-by-seed:
    the chain golden graph gives user1 distances 1..4 and subgroup1
    distances 1..3, each under its own seed."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import (
        multi_source_distances,
        shortest_paths,
    )

    v = golden.vertices
    seeds = v.filter(
        F.col("email").isin("user1@domain.com", "subgroup1@domain.com")
    ).select(F.col("id").alias("seed"))
    multi = {
        (r.seed, r.id): r.distance
        for r in multi_source_distances(golden, seeds).collect()
    }
    for seed_row in seeds.collect():
        one = shortest_paths(
            golden, spark.createDataFrame([(seed_row.seed,)], "id long")
        )
        for r in one.collect():
            assert multi[(seed_row.seed, r.id)] == r.distance
    # each seed appears at distance 0 under its own key
    assert sorted(multi.values()).count(0) == 2


def test_hits_golden(golden):
    """HITS on the golden chain: L1 invariants (hub and auth each sum
    to 1), sinks have hub 0, sources have auth 0, and all mass stays
    on the chain."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import hits

    s = hits(golden, iterations=3)
    rows = {
        r.email or r.name or r.projectid: (r.hub, r.auth)
        for r in golden.vertices.join(s, ["id"]).collect()
    }
    hubs = sum(h for h, _ in rows.values())
    auths = sum(a for _, a in rows.values())
    assert abs(hubs - 1.0) < 1e-9 and abs(auths - 1.0) < 1e-9
    assert rows["gcp-project-200601"][0] == 0.0  # sink: no out-edges
    assert rows["user1@domain.com"][1] == 0.0    # source: no in-edges


def test_dag_levels(spark):
    """Longest-path layering: a diamond with a long arm assigns the
    sink the LONGEST path length, sources and isolated vertices 0."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import dag_levels

    v = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    # 1 -> 2 -> 3 -> 5 (long arm), 1 -> 4 -> 5 (short arm), 6 isolated
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 5), (1, 4), (4, 5)],
        "src long, dst long",
    ).select(
        "src", "dst", F.lit("in").alias("label"), F.lit(1.0).alias("weight")
    )
    out = {r.id: r.level for r in dag_levels(Graph(v, e)).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 1, 5: 3, 6: 0}


def test_dag_path_counts_multiplicity(spark):
    """Diamond DAG: s->a->t, s->b->t, plus a direct s->t edge = 3
    distinct paths (min_len 1, max_len 2); multiplicities sum through
    the collapsed O(|V|) frontier instead of enumerating rows."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import dag_path_counts
    from gsuites_gcp_graphdb_spark.graph.traversal import Graph

    v = spark.createDataFrame(
        [(1,), (2,), (3,), (9,)], "id long"
    )
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 9), (3, 9), (1, 9)],
        "src long, dst long",
    )
    g = Graph(v, e)
    src = spark.createDataFrame([(1,)], "id long")
    tgt = spark.createDataFrame([(9,)], "id long")
    rows = dag_path_counts(g, src, tgt).collect()
    assert [
        (r.target_id, int(r.n_paths), r.min_len, r.max_len) for r in rows
    ] == [(9, 3, 1, 2)]

    # A source sitting mid-path of another source: both inject
    # multiplicity 1 at round 0, so 1->2->9 and 2->9 are distinct
    # counted paths through the collapsed frontier.
    e2 = spark.createDataFrame([(1, 2), (2, 9)], "src long, dst long")
    src2 = spark.createDataFrame([(1,), (2,)], "id long")
    rows2 = dag_path_counts(Graph(v, e2), src2, tgt).collect()
    assert [
        (r.target_id, int(r.n_paths), r.min_len, r.max_len) for r in rows2
    ] == [(9, 2, 1, 2)]


def test_reach_cardinality_sketch_matches_direct(spark):
    """Merge correctness: the sketch a target accumulates through
    multi-hop propagation must equal the sketch computed directly
    from its exact reachable source set (max-merge is exact) —
    replayed here register-for-register with hashlib."""
    import hashlib

    from gsuites_gcp_graphdb_spark.graph.algorithms import (
        reach_cardinality_sketch,
    )
    from gsuites_gcp_graphdb_spark.graph.traversal import Graph

    # u1,u2 -> a -> t ; u3 -> t ; u4 -> b (never reaches t)
    v = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 99)], "id long"
    )
    e = spark.createDataFrame(
        [(1, 10), (2, 10), (10, 99), (3, 99), (4, 11)],
        "src long, dst long",
    )
    src = spark.createDataFrame(
        [(1, "u1"), (2, "u2"), (3, "u3"), (4, "u4")],
        "id long, skey string",
    )
    tgt = spark.createDataFrame([(99,)], "id long")
    rows = reach_cardinality_sketch(Graph(v, e), src, tgt).collect()
    assert len(rows) == 1 and rows[0].target_id == 99

    def h48(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    regs = {}
    for k in ("u1", "u2", "u3"):  # exact reachable set of 99
        reg = h48("anf|" + k) % 64
        h2 = h48("anfr|" + k)
        b = bin(h2)[2:]
        rho = min(len(b) - len(b.rstrip("0")) + 1, 48)
        regs[reg] = max(regs.get(reg, 0), rho)
    sum_scaled = sum(1 << (48 - r) for r in regs.values()) + (
        64 - len(regs)
    ) * (1 << 48)
    assert rows[0].regs_set == len(regs)
    assert rows[0].sum_scaled == sum_scaled
    assert rows[0].est_sources == round(
        8.174213467662545e17 / float(sum_scaled), 6
    )


def test_metapath_census_matches_enumeration(spark, tmp_path):
    """The degree-product factorization must equal brute-force 2-hop
    enumeration, including a hub mid vertex with multiple in- and
    out-labels."""
    import os

    from gsuites_gcp_graphdb_spark.plans.graph_queries import (
        metapath_census,
    )

    # Build a tiny fixture dir via the real loader path is heavy;
    # instead exercise the factorization directly on a literal graph
    # by monkey-grafting: reuse the internal computation through a
    # Graph-like shim.
    from gsuites_gcp_graphdb_spark.graph.traversal import Graph
    import gsuites_gcp_graphdb_spark.plans.graph_queries as gq

    v = spark.createDataFrame(
        [(1, "user"), (2, "user"), (3, "role"), (4, "project"),
         (5, "bucket"), (6, "group")],
        "id long, label string",
    )
    e = spark.createDataFrame(
        [(1, 3), (2, 3), (6, 3), (3, 4), (3, 5), (1, 6)],
        "src long, dst long",
    )
    g = Graph(v, e)
    orig = gq._graph
    gq._graph = lambda spark, sf_dir: g
    try:
        rows = {
            (r.src_label, r.mid_label, r.dst_label): r.n_paths
            for r in metapath_census(spark, "ignored").collect()
        }
    finally:
        gq._graph = orig
    # Brute force: paths a->m->b.
    ed = [(1, 3), (2, 3), (6, 3), (3, 4), (3, 5), (1, 6)]
    lab = {1: "user", 2: "user", 3: "role", 4: "project", 5: "bucket",
           6: "group"}
    expect = {}
    for a, m in ed:
        for m2, b in ed:
            if m == m2:
                k = (lab[a], lab[m], lab[b])
                expect[k] = expect.get(k, 0) + 1
    assert rows == expect


def test_bidirectional_distance_golden(golden, spark):
    """Golden chain distance is 4; a diamond shortcut drops it to 3
    (the sound-termination case: the first meeting is NOT minimal
    when a shorter route exists through the other frontier); an
    unreachable pair returns no rows."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import (
        bidirectional_distance,
    )

    g = golden
    src = g.V().has("email", "user1@domain.com").id_()
    tgt = g.V().hasLabel("project").id_()
    assert [r.dist for r in bidirectional_distance(g, src, tgt).collect()] == [4]

    extra = [
        ("user", "user1@domain.com", "group", "group_of_groups1@domain.com"),
    ]
    g2 = Graph(g.vertices, g.edges.unionByName(edges_of(spark, extra)))
    assert [
        r.dist for r in bidirectional_distance(g2, src, tgt).collect()
    ] == [3]

    # reverse direction: the project reaches nobody
    assert bidirectional_distance(g, tgt, src).count() == 0
