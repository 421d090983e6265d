"""Iterative graph analytics — Pregel-style DataFrame fixpoints.

PySpark exposes no GraphX binding, so GraphX semantics (message
passing to fixpoint) are reproduced as join-aggregate rounds over the
``edges`` DataFrame with lineage truncation per round
(``localCheckpoint``), which is also how GraphFrames implements them
(SURVEY.md §4.3, §7).

This covers the reference's unbounded-traversal capability: nested
group membership is expanded by recursive descent in the crawler
(``go getGroupMembers`` on member groups, main.go:328-348) and
queried as multi-hop ``out()`` chains (README.md:15-32) — here it is
breadth-first frontier expansion.

Scale notes (100 TB):
- every round is one shuffle (frontier ⨝ edges on src) + one distinct;
  the frontier is usually tiny vs. edges, so AQE plans it broadcast —
  effectively a map-side hash probe per round;
- ``localCheckpoint`` per round keeps the plan O(1) instead of O(2^k);
- rounds are bounded by graph diameter; group-nesting depth is small
  in practice (the reference's README flow is depth 4);
- high-degree hubs (allUsers-style vertices, SURVEY.md §4.4) inflate a
  round's output; the per-round distinct caps re-expansion.

Halting (:func:`_superstep`): fixpoint loops count a round's rows or
changed rows with an ``Observation`` on that round's own checkpoint,
not with a separate ``take(1)`` / ``count()`` probe job. Every loop
that runs to convergence raises :class:`FixpointNotReached` when
``max_iter`` supersteps pass without an empty or unchanged round,
instead of returning a partial answer. Only two kinds of loop keep a
cut-off: the fixed-round APIs (PageRank, LPA, PPR, HITS) and the
depth-bounded searches (``all_paths``, ``dag_path_counts``,
``bidirectional_distance``, ``reach_cardinality_sketch``,
``stress_centrality``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .traversal import Graph

DEFAULT_MAX_ITER = 50


class FixpointNotReached(RuntimeError):
    """A fixpoint loop ran ``max_iter`` supersteps without an empty or
    unchanged round; its state at that point is not the answer."""

    def __init__(self, name: str, max_iter: int):
        super().__init__(
            f"{name}: no fixpoint within max_iter={max_iter} supersteps"
        )


# Past any physically meaningful size (2^200 bytes), a plan's size
# estimate is pure artifact and only exists to poison downstream
# arithmetic — see _truncate.
_STATS_SANE = 1 << 200


def _truncate(df: DataFrame) -> DataFrame:
    """Cut lineage so iterative plans don't grow exponentially.

    localCheckpoint alone is NOT enough: the LogicalRDD it returns
    derives its size ESTIMATE from the origin plan, so a loop whose
    round references the previous checkpoint twice (pointer halving's
    comp[comp[v]] self-join, NN-Descent's neighbour-of-neighbour
    expansion) SQUARES the estimate every round. The estimate's
    bit-length then doubles per round: planning does arithmetic on
    million-digit BigIntegers (measured on a 403k-edge x64 graph:
    ~2.4x wall per round from round ~18, 472 s for a round whose
    fresh-session twin runs in 2.6 s) and at ~2^31 bits Spark throws
    'BigInteger would overflow supported range'. Driver-scale runs
    never see this only because they converge before the regime.

    Fix: when the checkpointed frame's estimate is past any physical
    meaning, rebuild it from the SAME checkpointed rows so the next
    round starts from clean default stats. No data moves — the RDD is
    already materialized — and the lost estimate costs nothing at
    execution time: AQE converts joins to broadcast from RUNTIME
    shuffle sizes, not from these logical guesses. Frames with sane
    estimates are returned unchanged so genuinely-small inputs keep
    planning broadcasts up front."""
    ck = df.localCheckpoint(eager=True)
    # The stats-reset path reaches through py4j internals
    # (internalCreateDataFrame / queryExecution().toRdd()) —
    # verified against Spark 4.1 classic mode; under Spark Connect
    # _jdf does not exist. Any failure falls back to the plain
    # checkpoint: correctness is unaffected, only deep-iteration
    # planning cost regresses (the pre-fix behavior).
    try:
        jdf = ck._jdf
        if (
            int(jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            <= _STATS_SANE
        ):
            return ck
        spark = df.sparkSession
        njdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(njdf, spark)
    except Exception:
        return ck


def _edge_pairs(g: Graph, edge_label: str | None) -> DataFrame:
    """(src, dst) of the edges labelled ``edge_label`` (all edges when
    it is None)."""
    e = g.edges
    if edge_label is not None:
        e = e.filter(F.col("label") == edge_label)
    return e.select("src", "dst")


def symmetric_edges(e: DataFrame) -> DataFrame:
    """The deduplicated (src, dst) pairs of ``e`` in both directions —
    the undirected view of a directed edge list."""
    return (
        e.select("src", "dst")
        .unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates()
    )


def _superstep(
    df: DataFrame, changed: Column | None = None
) -> tuple[DataFrame, int]:
    """Materialize one round of a fixpoint loop (:func:`_truncate`) and
    return it with its row count — or, given ``changed``, the count
    of rows where that flag holds. The count comes from an
    ``Observation`` filled while the checkpoint is computed (it reads
    0 on an empty frame), so the halting test adds no job."""
    obs = Observation()
    n = F.count(F.lit(1)) if changed is None else F.count_if(changed)
    ck = _truncate(df.observe(obs, n.alias("n")))
    return ck, obs.get["n"]


def _bfs(
    start: DataFrame,
    edges: DataFrame,
    max_iter: int,
    name: str,
    key: tuple[str, ...] = ("id",),
) -> DataFrame:
    """Frontier BFS from ``start`` along ``edges`` (src, dst) to the
    empty-frontier fixpoint. ``key`` is the row key of the state, its
    last column the vertex id (``("seed", "id")`` runs one BFS per
    seed). Returns (*key, distance) for every reached row, the start
    rows at distance 0 — first-seen depth is minimal in BFS.

    One checkpoint per superstep: the new frontier, deduped and
    anti-joined against the reached set; its row count is the halting
    test. The reached set is the union of the checkpointed frontiers
    and is never re-materialized."""
    *by, vid = key
    # distance is checkpointed data, not a literal the optimizer could
    # fold into the caller's expressions (1 / distance on a start-only
    # result would fail at planning time under ANSI)
    frontier = _truncate(
        start.select(*key).dropDuplicates().withColumn("distance", F.lit(0))
    )
    dist = frontier
    for depth in range(1, max_iter + 1):
        nxt, n = _superstep(
            frontier.join(edges, frontier[vid] == edges.src)
            .select(*by, F.col("dst").alias(vid))
            .dropDuplicates()
            .join(dist, list(key), "left_anti")
        )
        if n == 0:
            return dist
        dist = dist.unionByName(nxt.withColumn("distance", F.lit(depth)))
        frontier = nxt
    raise FixpointNotReached(name, max_iter)


def _peel(
    e: DataFrame,
    keep: Callable[[DataFrame], DataFrame],
    max_iter: int,
    name: str,
) -> tuple[DataFrame, int]:
    """Peel the rows of ``e`` to a fixpoint: each round replaces the
    state ``cur`` by ``keep(cur)``, the rows of ``cur`` that survive
    the round. Returns the checkpointed fixpoint and its row count.
    One checkpoint per round; the loop halts when a round keeps every
    row (its row count is unchanged) or nothing is left."""
    cur, n = _superstep(e)
    for _ in range(max_iter):
        if n == 0:
            return cur, 0
        nxt, m = _superstep(keep(cur))
        if m == n:
            return nxt, m
        cur, n = nxt, m
    raise FixpointNotReached(name, max_iter)


def _induced(e: DataFrame, ids: DataFrame) -> DataFrame:
    """The edges (src, dst) of ``e`` with both endpoints in ``ids``
    (one column ``src``)."""
    return e.join(ids, ["src"], "left_semi").join(
        ids.select(F.col("src").alias("dst")), ["dst"], "left_semi"
    )


def _trim_round(e: DataFrame) -> DataFrame:
    """One Kahn peel of the edge list ``e`` (src, dst): drop every edge
    with an endpoint that has no in-edge or no out-edge in ``e`` — the
    TRIM step of FW-BW-Trim (Hong et al., SC'13). Peeled to a fixpoint
    (:func:`_peel`), the survivors are the subgraph induced by the
    vertices that keep both an in- and an out-edge (a vertex in both
    sets stays in both as the set shrinks, so none of its edges is
    ever dropped); every peeled vertex is a singleton SCC."""
    both = e.select("src").dropDuplicates().join(
        e.select(F.col("dst").alias("src")), ["src"], "left_semi"
    )
    return _induced(e, both)


def reachable_from(
    g: Graph,
    source_ids: DataFrame,
    edge_label: str | None = "in",
    max_iter: int = DEFAULT_MAX_ITER,
    include_sources: bool = False,
) -> DataFrame:
    """All vertex ids reachable from ``source_ids`` (one column ``id``)
    following out-edges — BFS to fixpoint.

    The "does user U (transitively) have role R / project P" question
    (README.md:15-32) is `reachable_from(g, {U})`. Raises
    :class:`FixpointNotReached` when the frontier is still non-empty
    after ``max_iter`` supersteps.
    """
    dist = _bfs(
        source_ids.select("id"), _edge_pairs(g, edge_label), max_iter,
        "reachable_from",
    )
    if not include_sources:
        dist = dist.filter(F.col("distance") > 0)
    return dist.select("id")


def reaching_to(
    g: Graph,
    target_ids: DataFrame,
    edge_label: str | None = "in",
    max_iter: int = DEFAULT_MAX_ITER,
) -> DataFrame:
    """All vertex ids that can reach ``target_ids`` — the audit query
    "which principals can touch X" — reverse BFS (follow in-edges)."""
    rev = Graph(
        g.vertices,
        g.edges.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            "label",
            "weight",
        ),
    )
    return reachable_from(rev, target_ids, edge_label, max_iter)


def k_hop(
    g: Graph,
    source_ids: DataFrame,
    k: int,
    edge_label: str | None = "in",
) -> DataFrame:
    """Exactly-k-hop frontier (bag-collapsed): chained joins, no loop
    state — the SQL-expressible bounded form of A17 (SURVEY.md §2A)."""
    edges = _edge_pairs(g, edge_label)
    cur = source_ids.select("id").dropDuplicates()
    for _ in range(k):
        cur = (
            cur.join(edges, cur.id == edges.src)
            .select(F.col("dst").alias("id"))
            .dropDuplicates()
        )
    return cur


def shortest_paths(
    g: Graph,
    source_ids: DataFrame,
    edge_label: str | None = "in",
    max_iter: int = DEFAULT_MAX_ITER,
) -> DataFrame:
    """Unweighted shortest-path distances from the source set (all
    reference edges carry weight=1, so hop count IS the distance) —
    the GraphX ShortestPaths analog. Returns (id, distance) for every
    reachable vertex, sources at distance 0.

    Same frontier BFS as reachable_from (:func:`_bfs`) — first-seen
    depth is minimal in BFS."""
    return _bfs(
        source_ids.select("id"), _edge_pairs(g, edge_label), max_iter,
        "shortest_paths",
    )


def weighted_shortest_paths(
    g: Graph,
    source_ids: DataFrame,
    weight_col: str = "weight",
    max_iter: int = DEFAULT_MAX_ITER,
) -> DataFrame:
    """Single-source shortest paths with edge weights — Bellman-Ford
    relaxation rounds, each round one :func:`aggregate_messages` call
    (the GraphX SSSP example program, ported to the DataFrame Pregel
    surface). Returns (id, dist double) for every reachable vertex,
    sources at distance 0.

    The reference's edges all carry ``weight`` (main.go:305, fixed 1
    there); this generalizes hop-count BFS (:func:`shortest_paths`) to
    arbitrary non-negative weights — on unit weights the two agree
    (property-tested in tests/test_graph_algorithms.py).

    Scale notes (100 TB): each round is one edge-relation shuffle with
    a map-side-combinable ``min`` aggregate, then a small merge join
    against the reached set; lineage is truncated per round. Rounds
    are bounded by the longest shortest-path hop count (graph
    "weighted diameter"), small for the reference's 4-level membership
    DAG. Unreached vertices never enter the state — the reached set
    grows monotonically, so no INF-sentinel full-vertex table is
    materialized.
    """
    ids = g.vertices.select("id")
    edges = g.edges.select("src", "dst", F.col(weight_col).alias("__w"))
    # r14 (guide §2.3 — shuffle fewer bytes): DELTA relaxation. Under
    # monotone min-combining, a vertex whose dist did not improve last
    # round re-sends exactly the messages it already sent, and those
    # were already min-merged — so only the FRONTIER (last round's
    # improved set, flagged ``__chg``) needs to send. Both endpoint
    # semi-joins against the vertex relation preserve the original
    # triplet view's inner-join semantics for ids that are not graph
    # vertices. The state carries the flag, so each superstep is one
    # job: the full-outer merge of the candidates into the reached
    # set, whose flagged-row count is the halting test.
    dist = _truncate(
        source_ids.select("id")
        .dropDuplicates()
        .select("id", F.lit(0.0).alias("dist"), F.lit(True).alias("__chg"))
    )
    for _ in range(max_iter):
        cand = (
            dist.filter("__chg")
            .join(ids, ["id"], "left_semi")
            .join(edges, F.col("id") == edges.src)
            .select(
                F.col("dst").alias("id"),
                (F.col("dist") + F.col("__w")).cast("double").alias("__msg"),
            )
            .join(ids, ["id"], "left_semi")
            .groupBy("id")
            .agg(F.min("__msg").alias("cand"))
        )
        dist, n = _superstep(
            dist.join(cand, ["id"], "full_outer").select(
                "id",
                F.least("dist", "cand").alias("dist"),
                (
                    F.col("cand").isNotNull()
                    & (F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
                ).alias("__chg"),
            ),
            F.col("__chg"),
        )
        if n == 0:
            return dist.drop("__chg")
    raise FixpointNotReached("weighted_shortest_paths", max_iter)


def all_paths(
    g: Graph,
    source_ids: DataFrame,
    target_ids: DataFrame,
    edge_label: str | None = "in",
    max_depth: int = 8,
    key_col=None,
) -> DataFrame:
    """Every path from a source to a target vertex, as an array of
    natural keys — the Gremlin ``path()`` step (the 'via what path'
    half of the README.md:15-32 audit; Gremlin gives this for free on
    any traversal, so the engine must too).

    Returns (id, path array<string>, depth). Paths are enumerated by
    frontier expansion carrying the accumulated key array; the derived
    graph is a DAG so enumeration terminates, and ``max_depth`` caps
    the blowup on general graphs (path count is exponential in the
    worst case — the cap is the scale guard, and each round is still
    one shuffle).
    """
    from .schema import natural_key_col

    if key_col is None:
        key_col = natural_key_col()
    verts = g.vertices.select("id", key_col.alias("__k"))
    edges = _edge_pairs(g, edge_label)

    frontier = _truncate(
        source_ids.select("id")
        .dropDuplicates()
        .join(verts, ["id"])
        .select("id", F.array("__k").alias("path"))
    )
    vk = verts.select(F.col("id").alias("__vid"), "__k")
    tgt = target_ids.select("id").dropDuplicates()
    hits = None
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(edges, frontier.id == edges.src)
            .join(vk, F.col("dst") == F.col("__vid"))
            .select(
                F.col("dst").alias("id"),
                F.concat("path", F.array("__k")).alias("path"),
            )
        )
        nxt, n = _superstep(nxt)
        if n == 0:
            break
        reached = nxt.join(tgt, ["id"], "left_semi").withColumn(
            "depth", F.lit(depth).cast("int")
        )
        hits = reached if hits is None else hits.unionByName(reached)
        frontier = nxt
    if hits is None:
        return (
            frontier.limit(0)
            .withColumn("depth", F.lit(0).cast("int"))
        )
    return hits


def dag_path_counts(
    g: Graph,
    sources: DataFrame,
    targets: DataFrame,
    max_rounds: int = 32,
) -> DataFrame:
    """Count DISTINCT directed paths (length >= 1) from the source
    set to every reachable target vertex by dynamic programming over
    the DAG — the scalable twin of path enumeration (all_paths
    materializes one row per path; this sums MULTIPLICITIES through
    an O(|V|)-row frontier, so a hub role carrying 10k member paths
    costs one integer, not 10k rows). sources/targets: DataFrames
    with an ``id`` column. Returns (target_id, n_paths, min_len,
    max_len) — total path count plus the shortest/longest grant
    chain, which falls out of the round number for free.

    Design for scale: the frontier carries (vertex, count) with the
    SOURCE DIMENSION COLLAPSED — all sources inject multiplicity 1 at
    round 0 and round r holds, per vertex, the number of length-r
    paths from ANY source. A per-source frontier would be
    O(|S| x |V|) rows (measured: ~300M (user, project) pairs at
    sf0.1 — it OOMs exactly where it would die at 100 TB); collapsed
    it is O(|V|) per round, the same footprint as one PageRank
    round. Per-source DISTINCT reachability is a different audit
    served by who_can_reach_min_project / principals_with_access;
    approximate per-target distinct-source counts at scale belong to
    HLL sketch merging (ANF/HyperBall, Boldi & Vigna), not this DP.

    Rounds = DAG depth (frontier exhausts); ``max_rounds`` guards
    non-DAG input (the cycle audit, g_cycle_census, owns that
    invariant). Exact DECIMAL(38) counts — path counts multiply fast
    on dense DAGs."""
    e = g.edges.select("src", "dst").dropDuplicates()
    d38 = "decimal(38,0)"
    frontier = _truncate(
        sources.select(F.col("id").alias("v"))
        .dropDuplicates()
        .select("v", F.lit(1).cast(d38).alias("c"))
    )
    t_ids = targets.select(F.col("id").alias("__t")).dropDuplicates()
    arrivals: list[DataFrame] = []
    for r in range(1, max_rounds + 1):
        step = (
            frontier.join(e, frontier.v == e.src)
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum("c").alias("c"))
        )
        step, n = _superstep(step)
        if n == 0:
            break
        arrivals.append(
            step.join(t_ids, step.v == F.col("__t"), "left_semi")
            .withColumn("len", F.lit(r).cast("int"))
        )
        frontier = step
    spark = g.edges.sparkSession
    if not arrivals:
        return spark.createDataFrame(
            [], "target_id bigint, n_paths decimal(38,0),"
            " min_len int, max_len int"
        )
    allarr = arrivals[0]
    for a in arrivals[1:]:
        allarr = allarr.unionByName(a)
    return allarr.groupBy(F.col("v").alias("target_id")).agg(
        F.sum("c").alias("n_paths"),
        F.min("len").alias("min_len"),
        F.max("len").alias("max_len"),
    )


def bidirectional_distance(
    g: Graph,
    src: DataFrame,
    dst: DataFrame,
    max_depth: int = 32,
) -> DataFrame:
    """Shortest unweighted directed distance from the source set to
    the target set by BIDIRECTIONAL BFS — alternate expanding the
    SMALLER of the forward/backward frontiers until they meet. At
    branching factor b and distance d, one-directional BFS touches
    O(b^d) vertices; meeting in the middle touches O(b^(d/2)) from
    each side — the classic frontier-size engineering for point
    queries on big graphs (one-directional reachable_from stays the
    right tool for SET queries).

    Sound termination (the classic off-by-one trap): a first meeting
    at depths (df, db) does NOT prove minimality — the loop continues
    until best <= df + db + 1, at which point any undiscovered path
    would be longer than the best found. Per-round driver work is a
    1-row min (the bounded parameter-bind pattern); the frontier sizes
    that pick the side to expand come from each frontier's checkpoint
    (:func:`_superstep`). Returns 1 row (dist) or 0 rows if
    unreachable within max_depth."""
    e = g.edges.select("src", "dst").dropDuplicates()
    er = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    spark = g.edges.sparkSession

    vf, nf = _superstep(
        src.select(F.col("id").alias("v"))
        .dropDuplicates()
        .select("v", F.lit(0).alias("d"))
    )
    vb, nb = _superstep(
        dst.select(F.col("id").alias("v"))
        .dropDuplicates()
        .select("v", F.lit(0).alias("d"))
    )
    ff, fb = vf, vb
    df_depth = db_depth = 0
    best: int | None = None

    def _meet() -> int | None:
        m = (
            vf.join(vb.select(F.col("v"), F.col("d").alias("db")), ["v"])
            .agg(F.min(F.col("d") + F.col("db")).alias("m"))
            .first()
        )
        return None if m is None or m["m"] is None else int(m["m"])

    best = _meet()
    while df_depth + db_depth < max_depth:
        if best is not None and best <= df_depth + db_depth + 1:
            break
        if nf == 0 and nb == 0:
            break
        if nb == 0 or (nf != 0 and nf <= nb):
            step = (
                ff.join(e, ff.v == e.src)
                .select(F.col("dst").alias("v"))
                .dropDuplicates()
                .join(vf, ["v"], "left_anti")
            )
            df_depth += 1
            ff, nf = _superstep(step.select("v", F.lit(df_depth).alias("d")))
            vf = _truncate(vf.unionByName(ff))
        else:
            step = (
                fb.join(er, fb.v == er.src)
                .select(F.col("dst").alias("v"))
                .dropDuplicates()
                .join(vb, ["v"], "left_anti")
            )
            db_depth += 1
            fb, nb = _superstep(step.select("v", F.lit(db_depth).alias("d")))
            vb = _truncate(vb.unionByName(fb))
        m = _meet()
        if m is not None and (best is None or m < best):
            best = m
    if best is None:
        return spark.createDataFrame([], "dist bigint")
    return spark.createDataFrame([(best,)], "dist bigint")


def reach_cardinality_sketch(
    g: Graph,
    sources: DataFrame,
    targets: DataFrame,
    max_rounds: int = 32,
) -> DataFrame:
    """Approximate DISTINCT-source reachability per target — "how
    many distinct users can reach this project" — via ANF/HyperBall
    register-sketch propagation (Palmer/Gibbons/Faloutsos ANF, KDD
    2002; Boldi/Rosa/Vigna HyperBall). The exact answer needs the
    distinct (source, target) pair relation — O(|S| x |V|), the same
    blowup dag_path_counts documents — while the sketch carries at
    most 64 (register, rho) rows per vertex and max-merges along
    edges, so the frontier is O(64 x |V|) per round at ANY source
    count: this is THE scalable form of multi-source distinct
    reachability counting.

    Determinism for the cross-engine oracle: registers come from
    md5-derived integers (reg = h48('anf|'||key) % 64; rho = 1 +
    trailing zeros of h48('anfr|'||key), capped at 48), max-merge is
    order-free, and the HLL raw estimate keeps everything an exact
    BIGINT (sum of 2^(48-rho) per register, absent registers
    contributing 2^48) until ONE shared division by the precomputed
    double alpha_64 * 64^2 * 2^48 = 8.174213467662545e17 — DuckDB
    replays the identical arithmetic on the exact reachable-pair
    relation, so sketches match register-for-register. No
    small-range linear-counting correction: it needs ln(), which is
    libm-dependent cross-engine (raw estimate documented as such).

    sources: (id, skey) — skey the stable natural key string that
    both engines hash. targets: (id). Returns (target_id,
    est_sources DOUBLE round6, regs_set, sum_scaled) — the two
    integer columns pin the sketch exactly; est_sources is the
    alpha-scaled raw-HLL estimate. ``max_rounds`` guards non-DAG
    input (registers would circulate but stay max-bounded)."""
    m = 64
    e = g.edges.select("src", "dst").dropDuplicates()
    src = sources.select(
        F.col("id").alias("v"), F.col("skey").cast("string").alias("k")
    ).dropDuplicates(["v"])
    h1 = F.conv(
        F.substring(F.md5(F.concat(F.lit("anf|"), F.col("k"))), 1, 12),
        16,
        10,
    ).cast("bigint")
    h2 = F.conv(
        F.substring(F.md5(F.concat(F.lit("anfr|"), F.col("k"))), 1, 12),
        16,
        10,
    ).cast("bigint")
    b = F.bin(h2)
    tz = F.length(b) - F.length(F.regexp_replace(b, "0+$", ""))
    rho = F.least(tz + F.lit(1), F.lit(48)).cast("int")
    frontier = _truncate(
        src.select("v", (h1 % m).alias("reg"), rho.alias("rho"))
        .groupBy("v", "reg")
        .agg(F.max("rho").alias("rho"))
    )
    t_ids = targets.select(F.col("id").alias("__t")).dropDuplicates()
    arrivals: list[DataFrame] = []
    for _ in range(max_rounds):
        step = (
            frontier.join(e, frontier.v == e.src)
            .groupBy(F.col("dst").alias("v"), "reg")
            .agg(F.max("rho").alias("rho"))
        )
        step, n = _superstep(step)
        if n == 0:
            break
        arrivals.append(
            step.join(t_ids, step.v == F.col("__t"), "left_semi")
        )
        frontier = step
    spark = g.edges.sparkSession
    if not arrivals:
        return spark.createDataFrame(
            [], "target_id bigint, est_sources double,"
            " regs_set bigint, sum_scaled bigint"
        )
    allarr = arrivals[0]
    for a in arrivals[1:]:
        allarr = allarr.unionByName(a)
    merged = allarr.groupBy("v", "reg").agg(F.max("rho").alias("rho"))
    two48 = 1 << 48
    per_t = merged.groupBy(F.col("v").alias("target_id")).agg(
        (
            F.sum(F.expr("shiftleft(1L, CAST(48 - rho AS INT))"))
            + (F.lit(m) - F.count("*")) * F.lit(two48)
        ).alias("sum_scaled"),
        F.count("*").cast("bigint").alias("regs_set"),
    )
    return per_t.select(
        "target_id",
        F.round(
            F.lit(8.174213467662545e17) / F.col("sum_scaled").cast("double"),
            6,
        ).alias("est_sources"),
        "regs_set",
        "sum_scaled",
    )


def _min_label(
    comp: DataFrame,
    edges: DataFrame,
    shortcut: bool,
    max_iter: int,
    name: str,
) -> DataFrame:
    """Min-label propagation to fixpoint: every vertex of ``comp``
    (id, component) adopts the min component among itself and its
    in-neighbours along ``edges`` (src, dst) — with ``shortcut``, then
    jumps to its label's label (comp[v] <- comp[comp[v]]). At the
    fixpoint component(v) is the least initial label that reaches v:
    both steps keep component(v) an id that reaches v and never
    increase it. One superstep per round, halting on no ``__chg``
    row."""
    for _ in range(max_iter):
        neighbour_min = (
            comp.join(edges, comp.id == edges.src)
            .select(F.col("dst").alias("id"), "component")
            .groupBy("id")
            .agg(F.min("component").alias("n_component"))
        )
        new_comp = comp.join(neighbour_min, ["id"], "left_outer").select(
            "id",
            F.least(
                F.col("component"), F.coalesce("n_component", "component")
            ).alias("component"),
            (
                F.col("n_component").isNotNull()
                & (F.col("n_component") < F.col("component"))
            ).alias("__chg"),
        )
        if shortcut:
            par = new_comp.select(
                F.col("id").alias("__pid"),
                F.col("component").alias("__pcomp"),
            )
            new_comp = new_comp.join(
                par, new_comp.component == par.__pid
            ).select(
                "id",
                F.col("__pcomp").alias("component"),
                (
                    F.col("__chg") | (F.col("__pcomp") < F.col("component"))
                ).alias("__chg"),
            )
        new_comp, n = _superstep(new_comp, F.col("__chg"))
        comp = new_comp.drop("__chg")
        if n == 0:
            return comp
    raise FixpointNotReached(name, max_iter)


def connected_components(
    g: Graph, max_iter: int = DEFAULT_MAX_ITER
) -> DataFrame:
    """Undirected connected components via hash-min label propagation
    with POINTER HALVING: every vertex adopts the min component id
    among itself and its neighbours, then jumps to its label's label
    (comp[v] <- comp[comp[v]], the Shiloach-Vishkin shortcut). Returns
    (id, component) where component is the min vertex id of the
    component.

    Plain hash-min moves a label one hop per round — O(diameter)
    rounds, which the round-8 profile showed is the wrong regime for
    near-duplicate pair graphs (the sf0.1 semantic graph at tau=0.4
    has chain diameter ~16: 17 rounds, and every round is a full
    shuffle at 100 TB). The shortcut doubles a label's reach per
    round, so convergence is O(log diameter) for one extra O(n)
    equi-join per round — strictly fewer total shuffles whenever
    diameter > ~4. Correctness: comp[v] always names a vertex of v's
    own component and never increases (both steps preserve the
    invariant), and a no-change fixpoint of the combined operator is
    in particular a hash-min fixpoint, where symmetric edges force
    comp constant per component and anchored at the min id.

    The convergence flag is computed INSIDE the per-round frame and
    counted while it is checkpointed (:func:`_superstep`) rather than
    by re-joining new-vs-old labels or a probe job — one checkpoint
    per round."""
    both = _truncate(symmetric_edges(g.edges))
    comp = _truncate(g.vertices.select("id", F.col("id").alias("component")))
    return _min_label(comp, both, True, max_iter, "connected_components")


def connected_components_contract(
    g: Graph, max_iter: int = DEFAULT_MAX_ITER
) -> DataFrame:
    """Undirected connected components via PARTITION-LOCAL UNION-FIND
    contraction: each round shuffles the surviving edges into ~1M-edge
    groups, runs an in-memory union-find per group (one Arrow batch,
    path-compressed, min-id roots), merges the per-group roots with a
    global min-agg, then RELABELS the edge list by the new roots and
    drops self-loops. Round count is the CROSS-PARTITION diameter —
    how many times a component's pieces straddle group boundaries —
    not the graph diameter: when a round's surviving edges fit one
    group, the next round is the empty-edge exit. (Kiveris et al.
    describe local contraction as the practical accelerator on top of
    star rounds; this is that idea as the whole loop.)

    Motivation (round-8 profile): hash-min CC walks labels ONE hop per
    shuffle round, and the sf0.1 semantic near-dup pair graph at
    tau=0.4 has chain diameter ~16 — 17 full-shuffle rounds for an
    886-edge graph; pointer-halving only cut that to 11. Here the
    same graph contracts in ONE local pass. At 100 TB the group size
    bound keeps every union-find in executor memory (~1M edge rows
    per Arrow batch), and each round's shuffle volume SHRINKS with
    the surviving edge count instead of staying O(m).

    Returns (id, component), component = min vertex id of the
    component — identical to :func:`connected_components` (asserted
    by tests on deep-chain literal graphs). Isolated vertices label
    themselves. Each edge-list checkpoint counts its rows
    (:func:`_superstep`); that count sizes the group count and detects
    termination — the AQE-statistics pattern, not a driver-side
    compute loop. Raises :class:`FixpointNotReached` when edges still
    straddle groups after ``max_iter`` rounds."""
    import pandas as pd

    spark = g.vertices.sparkSession
    max_group = 1_000_000
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def _local_uf(pdf: "pd.DataFrame") -> "pd.DataFrame":
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for s, d in zip(pdf["src"].values, pdf["dst"].values):
            rs, rd = find(int(s)), find(int(d))
            if rs != rd:  # union by min id: smaller root wins
                if rs < rd:
                    parent[rd] = rs
                else:
                    parent[rs] = rd
        nodes = set(map(int, pdf["src"].values))
        nodes.update(map(int, pdf["dst"].values))
        out_id = list(nodes)
        out_root = [find(n) for n in out_id]
        return pd.DataFrame({"id": out_id, "root": out_root})

    e, n_edges = _superstep(
        g.edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    comp = _truncate(
        g.vertices.select("id", F.col("id").alias("component"))
    )
    for _ in range(max_iter):
        if n_edges == 0:
            return comp
        parts = max(1, min(target, -(-n_edges // max_group)))
        stars = (
            e.withColumn("__p", F.pmod(F.xxhash64("src"), F.lit(parts)))
            .groupBy("__p")
            .applyInPandas(
                lambda pdf: _local_uf(pdf), "id long, root long"
            )
        )
        m = _truncate(
            stars.groupBy("id").agg(F.min("root").alias("root"))
        )
        # fold this round's relabeling into the accumulated mapping
        comp = _truncate(
            comp.join(m, comp.component == m.id, "left_outer").select(
                comp.id.alias("id"),
                F.coalesce("root", "component").alias("component"),
            )
        )
        if parts == 1:
            # Single group: the union-find saw EVERY surviving edge,
            # so the merged roots are final and the relabeled edge
            # list is all self-loops — skip the two relabel joins and
            # the next round's empty count (r9: the terminal round
            # was ~1/3 of the closure's wall time on an 886-edge
            # sf0.1 pair graph).
            return comp
        ms = m.select(F.col("id").alias("src"), F.col("root").alias("__rs"))
        md = m.select(F.col("id").alias("dst"), F.col("root").alias("__rd"))
        e, n_edges = _superstep(
            e.join(ms, ["src"])
            .join(md, ["dst"])
            .select(F.col("__rs").alias("src"), F.col("__rd").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates()
        )
    if n_edges:
        raise FixpointNotReached("connected_components_contract", max_iter)
    return comp


def connected_components_star(
    g: Graph, max_iter: int = DEFAULT_MAX_ITER
) -> DataFrame:
    """Undirected connected components via alternating large-star /
    small-star rounds (Kiveris et al., "Connected Components in
    MapReduce and Beyond") — the deep-graph alternative to hash-min
    propagation: rounds are O(log^2 n) in the worst case instead of
    O(diameter), so giant-diameter 100 TB graphs (web chains, road
    networks) converge in tens of rounds, not thousands.

    Returns (id, component) with component = min vertex id, identical
    to :func:`connected_components` (asserted by test). Each round is
    two shuffles (the two groupBy-min passes); the edge list only
    shrinks toward the star forest, so later rounds are cheap.
    """
    # Symmetric neighbor list; self-loops dropped.
    e = (
        g.edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(
            g.edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
    )
    e = _truncate(e)

    def large_star(edges: DataFrame) -> DataFrame:
        # Undirected semantics: symmetrize, then for each u with
        # m = min(N(u) ∪ {u}) connect every strictly larger neighbor
        # to m.
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).dropDuplicates()
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("u", "__mn").alias("m"))
        )
        return (
            sym.join(mins, ["u"])
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates()
        )

    def small_star(edges: DataFrame) -> DataFrame:
        # Orient big→small, then for each u hang u and all its small
        # neighbors off the minimum.
        directed = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).dropDuplicates()
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        rehung = (
            directed.join(mins, ["u"])
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates()
        )
        return rehung

    for _ in range(max_iter):
        # One flagged full-outer join of the new edge list against the
        # old: rows missing on either side are the symmetric
        # difference, counted while the result is checkpointed.
        diff, n = _superstep(
            small_star(large_star(e))
            .withColumn("__new", F.lit(True))
            .join(e.withColumn("__old", F.lit(True)), ["u", "v"], "full_outer"),
            F.col("__new").isNull() | F.col("__old").isNull(),
        )
        e = diff.filter(F.col("__new")).select("u", "v")
        if n == 0:
            break
    else:
        raise FixpointNotReached("connected_components_star", max_iter)
    # Fixpoint: edges form a star forest (u -> component min). Roots
    # (and isolated vertices) map to themselves.
    parent = e.filter(F.col("v") < F.col("u")).select(
        F.col("u").alias("id"), F.col("v").alias("component")
    ).dropDuplicates()
    return (
        g.vertices.select("id")
        .join(parent, ["id"], "left_outer")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def clustering_coefficient(g: Graph) -> DataFrame:
    """Global clustering coefficient (transitivity): one row
    (n_triangles, n_wedges, transitivity) where transitivity =
    3 * triangles / wedges over the undirected simple graph — the
    standard "how often do two neighbours of a vertex also connect"
    audit scalar (IAM graphs sit near 0 except for the
    role->bucket->project containment triangles; drift upward means
    entity relations are densifying into cliques).

    Exact-integer discipline: wedges are computed as
    sum_v d_v*(d_v - 1) (an even integer, DECIMAL(38) — twice the
    wedge count, so transitivity = 6T / that, avoiding any /2
    before the ONE shared double division); triangle counting reuses
    :func:`triangle_count`'s degree-ordered orientation (the O(sqrt m)
    out-degree guard). nullif on wedge-free graphs."""
    # r14 (guide §2.4/§5): the deduped undirected edge set is needed
    # by BOTH the triangle count and the wedge scalar, and each lazy
    # reference re-ran the symmetrize+distinct exchange (the before
    # plan stitched 8 copies of the cached-graph scan,
    # plans/r14/g_clustering_coefficient_before.txt). Materialize it
    # once and share it with triangle_count.
    und = _truncate(_undirected_simple(g))
    tri = triangle_count(g, _und=und)
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    w2 = sym.groupBy("a").agg(F.count("*").alias("d")).agg(
        F.coalesce(
            F.sum(
                (F.col("d") * (F.col("d") - 1)).cast("decimal(38,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("__w2")
    )
    return tri.crossJoin(w2).select(
        F.col("n_triangles").cast("bigint").alias("n_triangles"),
        F.floor(F.col("__w2") / 2).cast("bigint").alias("n_wedges"),
        F.round(
            (F.col("n_triangles") * 6).cast("double")
            / F.nullif(F.col("__w2").cast("double"), F.lit(0.0)),
            6,
        ).alias("transitivity"),
    )


def _undirected_simple(g: Graph) -> DataFrame:
    """Deduped undirected simple edge set (a < b), lazily — the
    shared input of triangle_count / clustering_coefficient."""
    return (
        g.edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            g.edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates()
    )


def triangle_count(g: Graph, _und: DataFrame | None = None) -> DataFrame:
    """Global undirected triangle count — one row (n_triangles) — by
    DEGREE-ordered orientation (the compact-forward algorithm): every
    undirected edge points from its lower-(degree, id) endpoint to the
    higher one, each triangle becomes exactly one wedge at its
    lowest-ranked vertex plus one closing-edge probe.

    The ordering is the scale guard, not a nicety: under id-ordering a
    degree-d hub spawns Θ(d²) wedges (measured 80s at sf0.1 on the
    IAM graph's role hubs), while degree-ordering bounds out-degree by
    O(√m), making wedge volume O(m^1.5) worst-case and linear-ish on
    skewed graphs — the same join pipeline dropped to seconds.

    ``_und`` (r14): an already-materialized undirected simple edge
    set (from _undirected_simple) to share with a caller that needs
    it too (clustering_coefficient) — und feeds sym, deg, and the
    oriented join, and each lazy reference re-ran its
    symmetrize+distinct exchange.
    """
    und = _truncate(_undirected_simple(g)) if _und is None else _und
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("d"))
    # Attach endpoint degrees, orient low-(d, id) -> high-(d, id).
    da = deg.select(F.col("a"), F.col("d").alias("da"))
    db = deg.select(F.col("a").alias("b"), F.col("d").alias("db"))
    ranked = und.join(da, ["a"]).join(db, ["b"])
    fwd = ranked.select(
        F.when(
            F.struct("da", "a") < F.struct("db", "b"), F.struct("a", "da")
        )
        .otherwise(F.struct(F.col("b").alias("a"), F.col("db").alias("da")))
        .alias("lo"),
        F.when(
            F.struct("da", "a") < F.struct("db", "b"),
            F.struct(F.col("b").alias("a"), F.col("db").alias("da")),
        )
        .otherwise(F.struct("a", "da"))
        .alias("hi"),
    ).select(
        F.col("lo.a").alias("u"),
        F.col("hi.a").alias("v"),
        F.col("hi.da").alias("dv"),
    )
    fwd = _truncate(fwd)
    # Wedges at the lowest-ranked vertex: two out-neighbors v < w in
    # rank order; triangle iff the oriented closing edge (v, w) exists.
    e1 = fwd.select("u", "v", "dv")
    e2 = fwd.select(
        F.col("u"), F.col("v").alias("w"), F.col("dv").alias("dw")
    )
    wedges = e1.join(e2, ["u"]).filter(
        F.struct("dv", "v") < F.struct("dw", "w")
    )
    closing = fwd.select(F.col("u").alias("v"), F.col("v").alias("w"))
    closed = wedges.join(closing, ["v", "w"], "left_semi")
    return closed.agg(F.count("*").cast("bigint").alias("n_triangles"))


def pagerank(
    g: Graph,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank via join-aggregate rounds (GraphX-semantics over
    DataFrames). Returns (id, rank). Dangling mass is redistributed
    uniformly each round so ranks sum to |V|.

    Scale notes: each round = one shuffle (groupBy dst); the
    out-degree table is computed once and re-joined (broadcast when
    small); checkpoint per round truncates lineage. Hub skew (the
    allUsers-style vertex) lands in one reducer — AQE skew-split
    handles it; for extreme hubs pre-aggregate contributions per
    (dst, salt).
    """
    v = g.vertices.select("id")
    n = v.count()
    edges = g.edges.select("src", "dst")
    outd = edges.groupBy("src").agg(F.count("*").alias("out_degree"))
    edges_d = _truncate(
        edges.join(outd, ["src"]).select("src", "dst", "out_degree")
    )
    # Vertices with no out-edges (static): their rank mass is
    # redistributed uniformly each round.
    dangling_ids = _truncate(
        v.join(edges_d.select("src").dropDuplicates(),
               v.id == F.col("src"), "left_anti")
    )
    ranks = _truncate(v.select("id", F.lit(1.0).alias("rank")))
    for _ in range(iterations):
        contribs = (
            ranks.join(edges_d, ranks.id == edges_d.src)
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("out_degree")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("in_sum"))
        )
        # Dangling mass folds in as a one-row broadcast cross-join, so
        # the whole iteration is ONE job — no driver collect barrier.
        d_row = (
            ranks.join(dangling_ids, ["id"], "left_semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dangling"))
        )
        ranks = _truncate(
            v.join(contribs, ["id"], "left_outer")
            .crossJoin(F.broadcast(d_row))
            .select(
                "id",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (
                        F.coalesce("in_sum", F.lit(0.0))
                        + F.col("__dangling") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
        )
    return ranks


def triplets(g: Graph) -> DataFrame:
    """(src struct, edge struct, dst struct) — one row per edge with
    both endpoint vertex rows attached, the GraphX triplet view. Two
    broadcast-able joins; the edge relation never widens beyond the
    projected struct columns."""
    v_struct = F.struct(*[F.col(c) for c in g.vertices.columns])
    e_struct = F.struct(*[F.col(c) for c in g.edges.columns])
    e = g.edges.select(
        e_struct.alias("edge"), F.col("src").alias("__s"), F.col("dst").alias("__d")
    )
    sv = g.vertices.select(v_struct.alias("src"), F.col("id").alias("__sid"))
    dv = g.vertices.select(v_struct.alias("dst"), F.col("id").alias("__did"))
    return (
        e.join(sv, F.col("__s") == F.col("__sid"))
        .join(dv, F.col("__d") == F.col("__did"))
        .select("src", "edge", "dst")
    )


def aggregate_messages(
    g: Graph,
    agg,
    msg_to_dst=None,
    msg_to_src=None,
) -> DataFrame:
    """The Pregel/GraphX core primitive (aggregateMessages): evaluate
    message expressions over each edge triplet, send to the dst and/or
    src endpoint, and aggregate per receiving vertex. Returns
    (id, agg). Custom analytics that GraphX users write with this
    (weighted degrees, neighborhood stats, one BFS/PR step) port
    directly.

    ``msg_to_dst``/``msg_to_src`` are Columns over the triplet view
    (``src.*``, ``edge.*``, ``dst.*``); ``agg`` maps the message
    column to an aggregate (e.g. ``F.sum``). One shuffle (the groupBy
    on receiver id); messages are map-side combinable for algebraic
    aggregates."""
    if msg_to_dst is None and msg_to_src is None:
        raise ValueError("provide msg_to_dst and/or msg_to_src")
    t = triplets(g)
    parts = []
    if msg_to_dst is not None:
        parts.append(
            t.select(F.col("dst.id").alias("id"), msg_to_dst.alias("__msg"))
        )
    if msg_to_src is not None:
        parts.append(
            t.select(F.col("src.id").alias("id"), msg_to_src.alias("__msg"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("id").agg(agg(F.col("__msg")).alias("agg"))


def degrees(g: Graph) -> DataFrame:
    """(id, in_degree, out_degree) — hub detection for skew planning."""
    outd = g.edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_degree")
    )
    ind = g.edges.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        g.vertices.select("id")
        .join(outd, ["id"], "left_outer")
        .join(ind, ["id"], "left_outer")
        .fillna(0, ["in_degree", "out_degree"])
    )


def label_propagation(
    vertices: DataFrame,
    edges: DataFrame,
    rounds: int = 3,
    id_col: str = "id",
) -> DataFrame:
    """Synchronous label propagation (community detection — the
    GraphFrames/GraphX `labelPropagation` surface). Labels initialize
    to the vertex id; each round EVERY vertex simultaneously adopts
    the most frequent label among its undirected neighbors, ties
    broken toward the smallest label; isolated vertices keep theirs.

    Synchronous rounds + a total (count desc, label asc) tie order
    make the result a pure function of the graph — async LPA (and
    GraphX's hash-partition-order variant) is run-order dependent,
    which would be unverifiable cross-engine. The per-round plan is
    two map-side-combinable hash aggregates (neighbor-label counts,
    then struct-min argmax) — no sorts, no windows; labels can be any
    orderable type (longs here, natural-key strings in the catalog
    query so the oracle can mirror without xxhash64).

    Returns (v, lbl) — one row per vertex with its final community
    label. Fixed `rounds` (not convergence-probed): LPA is not
    guaranteed to converge (bipartite oscillation), so a bounded
    round count IS the standard semantics.
    """
    und = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("w")
    ).unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("w")))
    # r14 (guide §2.4/§5): und joins into EVERY round's neighbor scan
    # and itself references `edges` twice, so a lazy und re-executes
    # the caller's edge derivation 2x per round (6x at rounds=3 — the
    # g_community_quality edge subtree is a 2-join over the graph).
    # One truncation bounds it to a single execution.
    und = _truncate(und)
    lbl = vertices.select(
        F.col(id_col).alias("v"), F.col(id_col).alias("lbl")
    )
    for _ in range(rounds):
        nb = und.join(lbl, und.w == lbl.v).select(
            F.col("u").alias("nv"), "lbl"
        )
        best = (
            nb.groupBy("nv", "lbl")
            .agg(F.count("*").alias("__cnt"))
            .groupBy("nv")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__cnt")).alias("n"), F.col("lbl").alias("l")
                    )
                ).alias("__best")
            )
            .select(F.col("nv").alias("v"), F.col("__best.l").alias("__new"))
        )
        # _truncate, not bare localCheckpoint: each round references
        # `lbl` twice (neighbor counts + the left_outer merge), the
        # estimate-squaring shape the r12 x64 components probe
        # exposed. The r13 24-round x64 A/B: 47.1s bare → 40.0s with
        # the stats reset (identical labels) — mild at 24 rounds,
        # and deeper runs inherit the blowup guard.
        lbl = _truncate(
            lbl.join(best, ["v"], "left_outer").select(
                "v", F.coalesce("__new", "lbl").alias("lbl")
            )
        )
    return lbl


def personalized_pagerank(
    g: Graph,
    sources: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: the random walk restarts at the SOURCE
    set instead of everywhere — "how much of the graph does principal
    X influence, weighted by access-path multiplicity" rather than
    global centrality. Teleport vector s(v) = 1/|S| on sources, 0
    elsewhere; both the (1-d) restart and each round's dangling mass
    return to s, so total mass stays 1 and unreachable vertices stay
    at exactly 0 (GraphX personalized-variant semantics).

    Same per-round shape as pagerank: one shuffle (groupBy dst), the
    dangling total folded in as a one-row broadcast — no driver
    barrier inside the loop. |S| is the only driver-side count.
    Returns (id, rank).
    """
    v = g.vertices.select("id")
    s = sources.select("id").dropDuplicates()
    n_s = s.count()
    if n_s == 0:
        raise ValueError("personalized_pagerank needs >= 1 source")
    # r15 (guide §2.4, the hits sparse-loop idiom): the teleport
    # vector is nonzero ONLY on the sources, so rank is nonzero only
    # on the source's access cone — yet the old loop joined the full
    # O(V) vertex relation every round to carry exact-0.0 rows whose
    # every downstream use is a +0.0 no-op (contributions, dangling
    # sum). The loop now runs SPARSE (rank rows bounded by the
    # reached set) and densifies ONCE at the end: iterations O(V)
    # left-outer joins -> 1. Per-vertex arithmetic is unchanged (an
    # absent row densifies to exact 0.0 = what the dense loop
    # computed); the only residual difference is double-SUM reduction
    # order, absorbed by the 6-decimal rounding the public query
    # applies. Pinned by the g_ppr_access oracle and
    # test_r15_rewrites.test_ppr_sparse_loop_matches_dense_spelling.
    src_term = _truncate(s.select("id", F.lit(1.0 / n_s).alias("__ind")))
    edges = g.edges.select("src", "dst")
    outd = edges.groupBy("src").agg(F.count("*").alias("out_degree"))
    edges_d = _truncate(
        edges.join(outd, ["src"]).select("src", "dst", "out_degree")
    )
    dangling_ids = _truncate(
        v.join(
            edges_d.select("src").dropDuplicates(),
            v.id == F.col("src"),
            "left_anti",
        )
    )
    ranks = _truncate(src_term.select("id", F.col("__ind").alias("rank")))
    for _ in range(iterations):
        contribs = (
            ranks.join(edges_d, ranks.id == edges_d.src)
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("out_degree")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("in_sum"))
        )
        d_row = ranks.join(dangling_ids, ["id"], "left_semi").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dangling")
        )
        ranks = _truncate(
            src_term.join(contribs, ["id"], "full_outer")
            .crossJoin(F.broadcast(d_row))
            .select(
                "id",
                (
                    F.lit(1.0 - damping)
                    * F.coalesce("__ind", F.lit(0.0))
                    + F.lit(damping)
                    * (
                        F.coalesce("in_sum", F.lit(0.0))
                        + F.col("__dangling")
                        * F.coalesce("__ind", F.lit(0.0))
                    )
                ).alias("rank"),
            )
        )
    # densify once: unreachable vertices are exact 0.0, preserving the
    # function's dense (id, rank)-for-every-vertex contract
    return v.join(ranks, ["id"], "left_outer").select(
        "id", F.coalesce("rank", F.lit(0.0)).alias("rank")
    )


def k_core(
    g: Graph, k: int = 2, max_iter: int = DEFAULT_MAX_ITER
) -> DataFrame:
    """The k-core: the maximal induced subgraph in which every vertex
    has undirected degree >= k (Seidman 1983) — the standard
    "dense-enough to matter" screen for audit graphs: peeling leaf
    users/buckets away isolates the hub structure (shared roles,
    nested groups) that actually carries access risk.

    Iterative peeling (:func:`_peel`): drop all vertices with degree
    < k, restrict edges to survivors, repeat to fixpoint. Converges in
    at most O(peel-depth) rounds — each round is one hash-agg (degree)
    + two semi-joins (induced subgraph), checkpointed with its row
    count, the halting test: no driver-side data. At 100 TB
    the same plan holds: degrees are map-side-combinable counts and
    the semi-joins shuffle on vertex id, the partitioning every round
    reuses.

    Returns (id, core_deg) for k-core members, core_deg the vertex's
    degree WITHIN the core (>= k by construction). Raises
    :class:`FixpointNotReached` when ``max_iter`` rounds all peel.
    """

    def keep(und: DataFrame) -> DataFrame:
        deg = und.groupBy("src").agg(F.count("*").alias("__deg"))
        return _induced(und, deg.filter(F.col("__deg") >= k).select("src"))

    und, _ = _peel(symmetric_edges(g.edges), keep, max_iter, "k_core")
    return und.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("bigint").alias("core_deg")
    )


def coreness(g: Graph, max_iter: int = DEFAULT_MAX_ITER) -> DataFrame:
    """Full k-core decomposition — the peel depth of EVERY vertex,
    generalizing :func:`k_core`'s single-k membership — via iterated
    neighbourhood H-index (Lü/Chen/Ren/Zhou/Zhang/Stanley, Nature
    Comm. 2016, implemented from the theorem): h_0 = undirected
    degree, h_{t+1}(v) = H({h_t(u) : u ~ v}); the fixpoint is
    exactly the coreness. The sequence is monotone non-increasing,
    so convergence is guaranteed; each round is one shuffle join
    (attach neighbour values) + one window PARTITIONED by vertex +
    one join flagging the changed values, checkpointed with its
    flagged-row count (:func:`_superstep`) as the halting test — the
    same scale shape as the other fixpoint loops here, and far
    cheaper than |V| sequential Batagelj-Zaversnik peels, which
    don't distribute.

    H is evaluated with the sorted-desc identity
    H = max_r min(value_r, r) (one max(least(nh, rn)) per vertex);
    rank order among equal values doesn't change the result, so the
    window tie-break can stay engine-default. Returns
    (id, coreness) for vertices with >= 1 edge (isolated vertices
    have coreness 0 and are omitted). Raises
    :class:`FixpointNotReached` when ``max_iter`` rounds all change."""
    from pyspark.sql.window import Window

    und = _truncate(symmetric_edges(g.edges))
    h = (
        und.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("h"))
        .select(F.col("src").alias("id"), "h")
    )
    h = _truncate(h)
    for _ in range(max_iter):
        nbr = und.join(
            h.select(F.col("id").alias("dst"), F.col("h").alias("nh")),
            ["dst"],
        ).select(F.col("src").alias("id"), "nh")
        w = Window.partitionBy("id").orderBy(F.col("nh").desc())
        hnew = (
            nbr.withColumn("rn", F.row_number().over(w))
            .groupBy("id")
            .agg(
                F.max(F.least(F.col("nh"), F.col("rn")))
                .cast("bigint")
                .alias("h")
            )
        )
        hnew, n = _superstep(
            hnew.join(h.select("id", F.col("h").alias("__old")), ["id"])
            .select("id", "h", (F.col("h") != F.col("__old")).alias("__chg")),
            F.col("__chg"),
        )
        h = hnew.drop("__chg")
        if n == 0:
            return h.select("id", F.col("h").alias("coreness"))
    raise FixpointNotReached("coreness", max_iter)


def link_prediction(
    g: Graph,
    max_degree: int = 2000,
    min_common: int = 2,
    topk: int | None = 200,
    key_col=None,
) -> DataFrame:
    """Common-neighbor link prediction (Liben-Nowell & Kleinberg
    2003): score non-adjacent vertex pairs by shared neighbourhood —
    ``common`` (co-neighbor count) and ``jaccard``
    (|N(u)∩N(v)| / |N(u)∪N(v)|) — the 'these two principals probably
    belong in the same group/role' audit signal.

    Scale guard: all metrics are computed on the subgraph INDUCED ON
    VERTICES OF DEGREE <= max_degree. The wedge join that enumerates
    co-neighbor pairs is Θ(d²) per center, so one IAM role hub with
    10⁵ members would emit 10¹⁰ wedges; capping degree bounds wedge
    volume at max_degree² per center — and a hub-mediated common
    neighbor is weak evidence anyway (everyone shares it), the same
    argument as the dedup df-cut. The cap is mirrored in the oracle.

    Pairs are ordered u < v by natural key (label, key) — NOT by the
    engine's hash ids, which would assign u/v differently than any
    SQL twin. Returns (u_label, u_key, v_label, v_key, common,
    jaccard) for non-adjacent pairs with common >= min_common,
    top-``topk`` by (jaccard, common, keys) — the total tiebreak
    makes the cut deterministic; Catalyst plans it as
    TakeOrderedAndProject (per-partition heaps, no global sort).

    At THIS fixture's scale the role hubs fit under the cap, so the
    query is an exact anchor; at 100 TB the cap earns its keep (a
    10^5-member hub would emit 10^10 wedges) and recall on
    hub-mediated pairs moves to the MinHash path: a user's
    neighbor SET is a document, operators/dedup.minhash_lsh_candidates
    finds similar-neighborhood pairs sub-quadratically.
    """
    from .schema import natural_key_col

    if key_col is None:
        key_col = natural_key_col()
    keyed = g.vertices.select(
        "id", F.struct("label", key_col.alias("key")).alias("nk")
    )
    und = symmetric_edges(g.edges)
    deg = und.groupBy("src").agg(F.count("*").alias("__d"))
    e2 = _induced(und, deg.filter(F.col("__d") <= max_degree).select("src"))
    # keyed endpoints (c = wedge center)
    ek = (
        e2.join(keyed.select(F.col("id").alias("dst"), "nk"), ["dst"])
        .select(F.col("src").alias("c"), F.col("dst").alias("v_id"), "nk")
    )
    a = ek.select("c", F.col("v_id").alias("u_id"), F.col("nk").alias("u_nk"))
    b = ek.select("c", F.col("v_id").alias("v_id"), F.col("nk").alias("v_nk"))
    pairs = (
        a.join(b, ["c"])
        .filter(F.col("u_nk") < F.col("v_nk"))
        .groupBy("u_id", "v_id", "u_nk", "v_nk")
        .agg(F.count("*").cast("bigint").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    deg2 = e2.groupBy("src").agg(F.count("*").alias("__d2"))
    adj = e2.select(F.col("src").alias("u_id"), F.col("dst").alias("v_id"))
    out = (
        pairs.join(adj, ["u_id", "v_id"], "left_anti")
        .join(deg2.select(F.col("src").alias("u_id"),
                          F.col("__d2").alias("__du")), ["u_id"])
        .join(deg2.select(F.col("src").alias("v_id"),
                          F.col("__d2").alias("__dv")), ["v_id"])
        .select(
            F.col("u_nk.label").alias("u_label"),
            F.col("u_nk.key").alias("u_key"),
            F.col("v_nk.label").alias("v_label"),
            F.col("v_nk.key").alias("v_key"),
            "common",
            F.round(
                F.col("common")
                / (F.col("__du") + F.col("__dv") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    if topk is not None:
        out = out.orderBy(
            F.col("jaccard").desc(),
            F.col("common").desc(),
            "u_label",
            "u_key",
            "v_label",
            "v_key",
        ).limit(topk)
    return out


def multi_source_distances(
    g: Graph,
    seeds: DataFrame,
    edge_label: str | None = "in",
    max_iter: int = DEFAULT_MAX_ITER,
) -> DataFrame:
    """Per-seed BFS distances: like shortest_paths but each seed keeps
    its own distance field — the kernel for landmark/sampled
    centrality (closeness over k seeds, Eppstein–Wang-style
    estimation) where merging sources would destroy the per-source
    sums. ``seeds`` is a DataFrame with column ``seed`` holding vertex
    ids. Returns (seed, id, distance), seeds at distance 0.

    Scale shape: state and frontier are (seed, id) pairs — k seeds
    cost at most k× the single-source frontier, one shuffle per round,
    lineage checkpointed. For whole-graph closeness at 100 TB you
    sample k ~ O(log n / eps^2) landmark seeds, never all n: the
    frontier stays a k×-bounded fraction of the edge set while the
    estimate converges at the Hoeffding rate, which is why the
    sampled form IS the scale form.
    """
    return _bfs(
        seeds.select("seed", F.col("seed").alias("id")),
        _edge_pairs(g, edge_label), max_iter, "multi_source_distances",
        key=("seed", "id"),
    )


def hits(
    g: Graph,
    iterations: int = 5,
    edge_label: str | None = "in",
) -> DataFrame:
    """HITS hubs & authorities via join-aggregate rounds: on the IAM
    graph authorities are the heavily-granted containers (roles,
    projects) and hubs the principals whose grants concentrate on
    them — a different audit lens from PageRank's stationary mass.
    Returns (id, hub, auth), L1-normalized each half-round (hub sums
    and auth sums each total 1.0).

    Scale notes (same budget as pagerank): each half-round is one
    shuffle (groupBy dst then groupBy src); the normalizing total
    folds in as a one-row broadcast cross-join — no driver barrier;
    lineage checkpointed per round. The mutual recursion never
    materializes anything wider than (id, double).
    """
    v = g.vertices.select("id")
    edges = _truncate(_edge_pairs(g, edge_label))

    hub = _truncate(v.select("id", F.lit(1.0).alias("hub")))
    # r14 (guide §2.4/§5): each half-round's un-normalized scores
    # feed BOTH the normalizing total and the normalized frame; as a
    # lazy plan the O(E) message join+agg executed twice per
    # half-round (once under the broadcast scalar, once in the main
    # frame). Materializing raw_a/raw_h (bounded by |V| rows) bounds
    # the E-join to one execution; the total sums the identical term
    # multiset (the dropped left-outer zeros are exact +0.0 no-ops).
    #
    # r15 (guide §2.4): the loop runs SPARSE — a vertex absent from
    # raw_a/raw_h has score exactly 0.0, and a 0.0 score contributes
    # exactly +0.0 to every downstream sum (all terms non-negative,
    # so no -0.0 edge case), so the per-half-round O(V) left-outer
    # densify joins are pure no-ops for the recursion and run ONCE at
    # the end instead of once per half-round: 2 x iterations O(V)
    # joins -> 2 total. Per-vertex values: an absent row densifies to
    # coalesce(null,0)/tot = 0.0, exactly what the dense loop
    # computed, and the totals sum the same multiset minus exact
    # zeros (a +0.0 term is an IEEE no-op on non-negative sums). The
    # only residual difference is double-SUM reduction order (the
    # partition layout changed) — 1-ulp wiggle of the same class the
    # dense spelling already had across partitionings, absorbed by
    # the 6-decimal rounding the public query applies. Pinned by the
    # g_hits_top oracle (hash match at sf0.001/0.01/0.1) and
    # test_r15_rewrites.test_hits_sparse_loop_matches_dense_spelling.
    if iterations <= 0:
        return hub.join(v.select("id", F.lit(1.0).alias("auth")), ["id"])
    raw_a = None
    ta = None
    for _ in range(iterations):
        raw_a = _truncate(
            hub.join(edges, hub.id == edges.src)
            .groupBy("dst")
            .agg(F.sum("hub").alias("__raw"))
        )
        ta = raw_a.agg(
            F.coalesce(F.sum("__raw"), F.lit(0.0)).alias("__tot")
        )
        auth = raw_a.crossJoin(F.broadcast(ta)).select(
            F.col("dst").alias("id"),
            (F.col("__raw") / F.col("__tot")).alias("auth"),
        )
        raw_h = _truncate(
            auth.join(edges, auth.id == edges.dst)
            .groupBy("src")
            .agg(F.sum("auth").alias("__raw"))
        )
        th = raw_h.agg(
            F.coalesce(F.sum("__raw"), F.lit(0.0)).alias("__tot")
        )
        hub = raw_h.crossJoin(F.broadcast(th)).select(
            F.col("src").alias("id"),
            (F.col("__raw") / F.col("__tot")).alias("hub"),
        )
    # densify once: every vertex appears in the output, absent scores
    # are exact 0.0 (identical to the old per-round left-outer form)
    auth_d = (
        v.join(raw_a, v.id == F.col("dst"), "left_outer")
        .crossJoin(F.broadcast(ta))
        .select(
            "id",
            (
                F.coalesce("__raw", F.lit(0.0)) / F.col("__tot")
            ).alias("auth"),
        )
    )
    hub_d = (
        v.join(
            hub.select(F.col("id").alias("__hid"), "hub"),
            v.id == F.col("__hid"),
            "left_outer",
        )
        .select("id", F.coalesce("hub", F.lit(0.0)).alias("hub"))
    )
    return hub_d.join(auth_d, ["id"])


def random_walks(
    g: Graph,
    starts: DataFrame,
    length: int = 4,
    salt: str = "walk",
    edge_label: str | None = "in",
) -> DataFrame:
    """DETERMINISTIC random walks — the node2vec/DeepWalk corpus
    primitive (Grover & Leskovec 2016; Perozzi et al. 2014): from each
    start vertex, take `length` steps, at each step moving to a
    pseudo-uniformly chosen out-neighbour. Walks that reach a sink
    stop early. Returns (walk_key, step, label, key) — one row per
    visited vertex, step 0 = the start.

    "Random" is a reproducible hash, not an RNG: at step t the walk
    picks neighbour rank  md5_16(walk_key || ':' || salt || t) mod
    out_degree, where neighbours are ranked by their NATURAL key
    (label, key) — so the same graph yields the same corpus on every
    run, every partitioning, and every ENGINE (the DuckDB oracle
    replays the identical hash arithmetic; an RNG-driven walk could
    never be oracle-checked).

    Scale shape: the ranked-neighbour table is one window partitioned
    by src (per-vertex scope, no hot keys beyond real graph skew —
    salt the hubs if a vertex's adjacency exceeds a partition) and
    carries each DESTINATION's out-degree, so the walk frontier always
    knows deg(current) and computes its chosen rank BEFORE the step
    join. Each step is then ONE exact equi-join on (src, rank) with
    O(frontier) output — a hub visit matches exactly one row instead
    of exploding to its full adjacency and filtering (the
    join-then-filter shape this replaces made per-step cost
    sum-of-degrees, the superlinear term in the round-6 x4 probe).
    `length` joins total, frontier never wider than (walk_key, id,
    deg). No collect, no UDF, no lineage blowup (length is small and
    fixed)."""
    from .schema import natural_key_col

    e = _edge_pairs(g, edge_label)
    from pyspark.sql.window import Window

    vk = g.vertices.select(
        F.col("id").alias("__vid"),
        F.col("label").alias("__vl"),
        natural_key_col().alias("__vk"),
    )
    # Resolve dst against the vertex table FIRST, then derive both
    # out-degrees and neighbour ranks from the SAME resolved rows: a
    # deg computed on the raw edge list could exceed the max rank when
    # an edge dangles (dst not in vertices), making choice % deg pick
    # a rank with no match and silently killing the walk mid-step.
    resolved = (
        e.select(F.col("src").alias("__s"), F.col("dst").alias("__d"))
        .dropDuplicates()
        .join(vk, F.col("__d") == F.col("__vid"))
        .select("__s", "__d", "__vl", "__vk")
    )
    degs = resolved.groupBy(F.col("__s").alias("__dv")).agg(
        F.count("*").alias("__dd")
    )
    w = Window.partitionBy("__s").orderBy("__vl", "__vk")
    nbrs = (
        resolved
        .withColumn("__rank", F.row_number().over(w))
        # out-degree OF THE DESTINATION, so the next frontier row
        # arrives already knowing its own degree.
        .join(degs, F.col("__d") == F.col("__dv"), "left_outer")
        .select(
            "__s",
            "__d",
            "__vl",
            "__vk",
            "__rank",
            F.coalesce("__dd", F.lit(0)).alias("__ddeg"),
        )
        .localCheckpoint(eager=True)
    )
    # _truncate: the step-0 branch of the output union would otherwise
    # re-execute the whole vertex pipeline (graph-build union + its
    # exchanges) at final collection.
    state = _truncate(
        starts.join(vk, starts["id"] == vk["__vid"])
        .join(degs, F.col("__vid") == F.col("__dv"), "left_outer")
        .select(
            F.col("__vk").alias("walk_key"),
            F.col("__vid").alias("__cur"),
            F.col("__vl").alias("label"),
            F.col("__vk").alias("key"),
            F.coalesce("__dd", F.lit(0)).alias("__deg"),
        )
    )
    out = state.select(
        "walk_key", F.lit(0).cast("bigint").alias("step"), "label", "key"
    )
    frontier = state.select("walk_key", "__cur", "__deg")
    for t in range(1, length + 1):
        choice = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("walk_key"), F.lit(f":{salt}{t - 1}")
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("bigint")
            % F.col("__deg")
        )
        # _truncate: each step is materialized once and reused by BOTH
        # the output union and the next frontier — without it step t's
        # lineage re-executes steps 1..t-1 inside the union (O(L^2)
        # joins) and the plan snowballs.
        # The choice rank is an expression of FRONTIER columns only
        # (deg travels with the walk), so (__cur, choice+1) vs
        # (__s, __rank) is a two-key equi-join: exactly one match per
        # live walk, sinks (__deg == 0) stop before the join.
        live = frontier.filter(F.col("__deg") > 0).withColumn(
            "__pick", choice + 1
        )
        step = _truncate(
            live.join(
                nbrs,
                (live["__cur"] == nbrs["__s"])
                & (live["__pick"] == nbrs["__rank"]),
            )
            .select(
                "walk_key",
                F.col("__d").alias("__cur"),
                F.col("__vl").alias("label"),
                F.col("__vk").alias("key"),
                F.col("__ddeg").alias("__deg"),
            )
        )
        out = out.unionByName(
            step.select(
                "walk_key",
                F.lit(t).cast("bigint").alias("step"),
                "label",
                "key",
            )
        )
        frontier = step.select("walk_key", "__cur", "__deg")
    return out


def stress_centrality(
    g: Graph,
    seeds: DataFrame,
    max_depth: int = 4,
    edge_label: str | None = "in",
) -> DataFrame:
    """Sampled STRESS centrality (Shimbel 1953) — the all-integer
    sibling of Brandes betweenness: stress(v) = number of shortest
    seed→target paths passing THROUGH v (v an interior vertex),
    summed over the seed sample. Same two-phase structure as Brandes
    (forward path counting, backward dependency accumulation), but
    the backward recurrence R(v) = Σ_{w ∈ DAG-succ(v)} (R(w) + 1)
    stays in integers where betweenness's σ(v)/σ(w) ratios would sum
    doubles in nondeterministic fold order — integers make the
    operator EXACTLY oracle-checkable, the DESIGN.md #8 rule deciding
    which centrality variant to ship.

    Forward: level-synchronous BFS per seed, σ accumulated by one
    groupBy per level (first-visit level = shortest distance, so a
    vertex's σ is final the level it is reached). Backward: per-level
    join against the shortest-path DAG edges (level k → k+1 only).
    Depth is bounded by ``max_depth`` (exactly mirrored by the
    unrolled oracle); 2*max_depth+1 narrow shuffles total, frontier
    never wider than (seed, id, count). ``seeds`` has column ``seed``.
    Returns (id, stress) for interior vertices with stress > 0."""
    edges = _edge_pairs(g, edge_label).dropDuplicates()

    lv = [
        _truncate(
            seeds.select(
                "seed",
                F.col("seed").alias("id"),
                F.lit(1).cast("long").alias("sig"),
            ).dropDuplicates(["seed", "id"])
        )
    ]
    seen = lv[0].select("seed", "id")
    for _k in range(max_depth):
        nxt = (
            lv[-1]
            .join(edges, lv[-1].id == edges.src)
            .select("seed", F.col("dst").alias("id"), "sig")
            .join(seen, ["seed", "id"], "left_anti")
            .groupBy("seed", "id")
            .agg(F.sum("sig").alias("sig"))
        )
        nxt, n = _superstep(nxt)
        if n == 0:
            break
        lv.append(nxt)
        seen = _truncate(seen.unionByName(nxt.select("seed", "id")))

    # backward: R over the per-seed shortest-path DAG, deepest first
    r = lv[-1].select("seed", "id", F.lit(0).cast("long").alias("r"))
    stress = None
    for k in range(len(lv) - 2, -1, -1):
        de = (
            lv[k]
            .select("seed", F.col("id").alias("__src"))
            .join(edges, F.col("__src") == edges.src)
            .select("seed", "__src", F.col("dst").alias("__dst"))
            .join(
                r.select("seed", F.col("id").alias("__dst"), "r"),
                ["seed", "__dst"],
            )
        )
        rk = (
            lv[k]
            .join(
                de.groupBy("seed", F.col("__src").alias("id")).agg(
                    F.sum(F.col("r") + 1).alias("__sum")
                ),
                ["seed", "id"],
                "left",
            )
            .select(
                "seed",
                "id",
                "sig",
                F.coalesce("__sum", F.lit(0)).alias("r"),
            )
        )
        rk = _truncate(rk)
        if k >= 1:  # interior vertices only (v != seed)
            contrib = rk.select(
                "id", (F.col("sig") * F.col("r")).alias("__c")
            )
            stress = (
                contrib if stress is None else stress.unionByName(contrib)
            )
        r = rk.select("seed", "id", "r")
    if stress is None:
        return g.vertices.select(
            "id", F.lit(0).cast("bigint").alias("stress")
        ).limit(0)
    return (
        stress.groupBy("id")
        .agg(F.sum("__c").cast("bigint").alias("stress"))
        .filter(F.col("stress") > 0)
    )


def cycle_core(
    g: Graph,
    edge_label: str | None = "in",
    max_iter: int = DEFAULT_MAX_ITER,
) -> DataFrame:
    """The CYCLE CORE: vertices surviving iterated deletion of
    zero-in-degree / zero-out-degree vertices (Kahn peeling, the
    dataflow-friendly dual of toposort). Non-empty IFF the graph has
    a directed cycle, and contains EVERY vertex on a cycle — plus,
    by construction, vertices on cycle-to-cycle walks (a connector
    between two cycles keeps both degrees; EXACT cycle membership is
    :func:`strongly_connected_components` below — the core is the
    cheap sound over-approximation and the right audit unit anyway: a
    connector is implicated in the loop structure). The membership-
    loop audit this serves: a group transitively a member of itself
    breaks every reachability assumption the IAM model makes — the
    reference's recursive getGroupMembers crawl (main.go:257-303)
    would simply not terminate on one.

    The peel is :func:`_trim_round` run to a fixpoint, the trim step
    SCC runs first. Returns (id,); empty on a DAG (the built IAM graph
    is one — pinned by the catalog census; literal cyclic graphs are
    pinned by unit test)."""
    # Self-loops are KEPT: a group directly a member of itself is the
    # simplest membership loop the audit exists to catch (and hangs
    # the reference's recursive crawl exactly like a 2-cycle). A
    # self-loop vertex holds both degrees, so the peel retains it.
    core, _ = _peel(
        _edge_pairs(g, edge_label).dropDuplicates(), _trim_round, max_iter,
        "cycle_core",
    )
    # every core vertex keeps an out-edge, so the sources list them all
    return core.select(F.col("src").alias("id")).dropDuplicates()


def k_truss(
    g: Graph, k: int = 3, max_iter: int = DEFAULT_MAX_ITER
) -> DataFrame:
    """The k-truss (Cohen 2008): the maximal subgraph in which every
    EDGE participates in >= k-2 triangles — the edge-grade analog of
    the k-core and a stricter community screen (a k-core can be a
    star; a k-truss cannot). On the IAM graph the 3-truss isolates
    the role/bucket/project containment triangles — grant structure
    that is mutually reinforcing rather than merely dense.

    Iterative peeling: compute each edge's support (common-neighbour
    count) via the wedge join, drop edges with support < k-2, repeat
    to fixpoint. Each round's triangle enumeration is DEGREE-ORIENTED
    exactly like triangle_count's (the compact-forward guard at
    triangle_count above): every surviving undirected edge points
    from its lower-(degree, id) endpoint to the higher one, wedges
    are enumerated only at each triangle's lowest-ranked vertex, and
    the triangle is closed by one oriented-edge probe. Under
    id-orientation a degree-d hub spawns Θ(d²) wedge rows PER PEEL
    ROUND (the identical pipeline measured 80s at sf0.1 before
    triangle_count's fix); orientation bounds oriented out-degree by
    O(√m), so wedge volume is O(m^1.5) worst-case per round. Each
    found triangle then credits support to all three of its edges
    (one explode, support counts are orientation-invariant).
    Degrees — and with them the orientation — are recomputed from the
    surviving edge set each round; lineage truncated per round.
    Returns the surviving UNDIRECTED canonical edges (a, b) with
    their final support: the state carries each edge's support, and
    the round that drops no edge (:func:`_peel`) computed it on the
    final edge set. Raises :class:`FixpointNotReached` when
    ``max_iter`` rounds all drop edges."""
    e = g.edges.select("src", "dst").filter(
        F.col("src") != F.col("dst")
    )
    canon = e.select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
    ).dropDuplicates()

    def _support(c: DataFrame) -> DataFrame:
        sym = c.select("a", "b").unionByName(
            c.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        deg = sym.groupBy("a").agg(F.count("*").alias("d"))
        da = deg.select("a", F.col("d").alias("da"))
        db = deg.select(F.col("a").alias("b"), F.col("d").alias("db"))
        ranked = c.join(da, ["a"]).join(db, ["b"])
        fwd = _truncate(
            ranked.select(
                F.when(
                    F.struct("da", "a") < F.struct("db", "b"),
                    F.struct("a", "da"),
                )
                .otherwise(
                    F.struct(
                        F.col("b").alias("a"), F.col("db").alias("da")
                    )
                )
                .alias("lo"),
                F.when(
                    F.struct("da", "a") < F.struct("db", "b"),
                    F.struct(
                        F.col("b").alias("a"), F.col("db").alias("da")
                    ),
                )
                .otherwise(F.struct("a", "da"))
                .alias("hi"),
            ).select(
                F.col("lo.a").alias("u"),
                F.col("hi.a").alias("v"),
                F.col("hi.da").alias("dv"),
            )
        )
        # Wedge at the lowest-ranked vertex: out-neighbours v < w in
        # (degree, id) rank; triangle iff oriented edge (v, w) exists
        # (rank(v) < rank(w), so the closing edge can only point v→w).
        e1 = fwd.select("u", "v", "dv")
        e2 = fwd.select(
            F.col("u").alias("__u2"),
            F.col("v").alias("w"),
            F.col("dv").alias("dw"),
        )
        closing = fwd.select(
            F.col("u").alias("__cv"), F.col("v").alias("__cw")
        )
        tri = (
            e1.join(e2, (e1.u == e2.__u2))
            .filter(F.struct("dv", "v") < F.struct("dw", "w"))
            .join(
                closing,
                (F.col("v") == F.col("__cv"))
                & (F.col("w") == F.col("__cw")),
                "left_semi",
            )
        )
        # each triangle supports all three of its (canonical) edges
        return (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.least("u", "v").alias("a"),
                            F.greatest("u", "v").alias("b"),
                        ),
                        F.struct(
                            F.least("u", "w").alias("a"),
                            F.greatest("u", "w").alias("b"),
                        ),
                        F.struct(
                            F.least("v", "w").alias("a"),
                            F.greatest("v", "w").alias("b"),
                        ),
                    )
                ).alias("__e")
            )
            .groupBy(
                F.col("__e.a").alias("a"), F.col("__e.b").alias("b")
            )
            .agg(F.count("*").cast("bigint").alias("support"))
        )

    def keep(c: DataFrame) -> DataFrame:
        c = c.select("a", "b")
        # an edge in no triangle has no support row: support 0
        return (
            c.join(_support(c), ["a", "b"], "left")
            .select("a", "b", F.coalesce("support", F.lit(0)).alias("support"))
            .filter(F.col("support") >= k - 2)
        )

    # the initial support column only types the result of an edgeless graph
    truss, _ = _peel(
        canon.withColumn("support", F.lit(0).cast("bigint")), keep,
        max_iter, "k_truss",
    )
    return truss


def strongly_connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = DEFAULT_MAX_ITER,
) -> DataFrame:
    """EXACT strongly connected components via iterated forward
    coloring + backward confirmation (the Orzan coloring scheme, the
    dataflow member of the FW-BW family Fleischer et al. introduced)
    — the precise tool the Kahn-peel :func:`cycle_core` honestly
    over-approximates (connectors between cycles survive the peel;
    they do NOT share an SCC).

    ``vertices`` is one column ``id``; ``edges`` two columns
    ``src``/``dst`` of the same (orderable) type — ids may be strings
    or integers, the algorithm only compares and mins them. Returns
    (id, scc) where scc = the MIN id of the component (unique,
    deterministic, engine-reproducible).

    Per outer round: (0) TRIM (:func:`_trim_round`) — peel, to a
    fixpoint, every vertex with no in-edge or no out-edge in the
    remaining graph; each is a singleton SCC; (1) propagate min ids
    FORWARD over the trimmed core to fixpoint — color(v) = the least
    id that can reach v in the remaining graph; (2) every vertex whose
    color is itself is a ROOT, and for members of SCC(root), root is
    the component min (a smaller member would have recolored the
    root); (3) confirm
    backward within each color: BFS from the roots along REVERSED
    edges between equal-colored endpoints — confirmed vertices are
    exactly SCC(root); (4) delete them and repeat on the residue.
    Every round settles at least every current root's SCC, so the
    outer loop runs O(longest chain of nested colors) times. Trim
    first keeps that small on audit-style graphs: the built IAM graph
    is a DAG, which trim settles whole in the first round, where
    coloring alone took 4 outer rounds. Per-fixpoint rounds are
    bounded by the remaining graph's directed diameter. Vertices not
    confirmed into a larger SCC emit themselves — total output rows
    == input vertices."""
    name = "strongly_connected_components"
    verts = vertices.select("id").dropDuplicates()
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
        .join(verts.select(F.col("id").alias("src")), ["src"], "left_semi")
        .join(verts.select(F.col("id").alias("dst")), ["dst"], "left_semi")
    )
    settled = verts.select("id", F.col("id").alias("scc")).limit(0)
    for _ in range(max_iter):
        e, n = _peel(e, _trim_round, max_iter, name)
        if n == 0:
            return verts.join(settled, ["id"], "left_outer").select(
                "id", F.coalesce("scc", "id").alias("scc")
            )
        color = _min_label(
            _truncate(
                e.select(F.col("src").alias("id"))
                .dropDuplicates()
                .withColumn("component", F.col("id"))
            ),
            e, False, max_iter, name,
        )
        # step v <- w along an edge (v, w) with color(v) == color(w);
        # the BFS carries each root's id to the vertices it confirms
        csrc = color.select(F.col("id").alias("src"), F.col("component").alias("__cs"))
        cdst = color.select(F.col("id").alias("dst"), F.col("component").alias("__cd"))
        back = _truncate(
            e.join(csrc, ["src"])
            .join(cdst, ["dst"])
            .filter(F.col("__cs") == F.col("__cd"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        confirmed = _bfs(
            color.filter(F.col("id") == F.col("component")), back, max_iter,
            name, key=("component", "id"),
        ).select("id", F.col("component").alias("scc"))
        settled = settled.unionByName(confirmed)
        e = e.join(
            confirmed.select(F.col("id").alias("src")), ["src"], "left_anti"
        ).join(confirmed.select(F.col("id").alias("dst")), ["dst"], "left_anti")
    raise FixpointNotReached(name, max_iter)


def dag_levels(
    g: Graph,
    edge_label: str | None = None,
    max_iter: int = DEFAULT_MAX_ITER,
) -> DataFrame:
    """LONGEST-PATH layering of a DAG: level(v) = the longest directed
    path reaching v (sources and isolated vertices are level 0) — the
    dependency-depth audit for the IAM containment graph: how deeply
    nested can a grant chain get (the reference's recursive
    getGroupMembers crawl, main.go:257-303, does work proportional to
    exactly this depth), and the critical-path metric for any
    dependency DAG.

    Bellman-Ford-max relaxation: each round pushes level+1 along
    edges and max-merges (one shuffle per round, convergence flag
    computed in-frame and counted at the checkpoint, :func:`_superstep`)
    — rounds = DAG depth, which for audit graphs is single digits. On
    a CYCLIC graph longest path is ill-defined (NP-hard general;
    unbounded through a cycle): levels grow every round and the loop
    raises :class:`FixpointNotReached` at max_iter, so run cycle_core
    / strongly_connected_components first when acyclicity is not
    known. Returns (id, level)."""
    e = _truncate(
        _edge_pairs(g, edge_label)
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    lvl = _truncate(
        g.vertices.select(
            "id", F.lit(0).cast("bigint").alias("level")
        )
    )
    for _ in range(max_iter):
        upd = (
            lvl.join(e, lvl.id == e.src)
            .select(
                F.col("dst").alias("id"),
                (F.col("level") + 1).alias("cand"),
            )
            .groupBy("id")
            .agg(F.max("cand").alias("cand"))
        )
        new_lvl = lvl.join(upd, ["id"], "left_outer").select(
            "id",
            F.greatest(
                F.col("level"), F.coalesce("cand", "level")
            ).alias("level"),
            (
                F.col("cand").isNotNull()
                & (F.col("cand") > F.col("level"))
            ).alias("__chg"),
        )
        new_lvl, n = _superstep(new_lvl, F.col("__chg"))
        lvl = new_lvl.drop("__chg")
        if n == 0:
            return lvl
    raise FixpointNotReached("dag_levels", max_iter)
