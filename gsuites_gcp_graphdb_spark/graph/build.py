"""Fixture → property-graph derivation (FIXTURES.md §2).

Deterministic mapping from the TPC-H-ish fixture tables to the
reference-shaped IAM graph (SURVEY.md §1.1): customers are users,
nations/regions are (nested) groups, suppliers are serviceAccounts,
part brands are roles, part types are permissions, part names are
projects. All edges carry label ``in`` / weight 1, member → container,
mirroring the reference's single edge kind (main.go:305 et al.).

Scale notes (100 TB): every derivation prunes columns *before*
joining, aggregates the fact table down to its distinct key pairs
before touching dimensions, and leaves join-strategy choice to
AQE (dimension tables broadcast under the 64 MiB threshold; the
lineitem distinct is a map-side-combinable hash aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.fixtures import load_table
from .schema import EDGE_SCHEMA, VERTEX_SCHEMA, bucket_id, vertex_id


def empty_vertices(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], VERTEX_SCHEMA)


def empty_edges(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], EDGE_SCHEMA)


def _vertex_df(
    df: DataFrame, label: str, key_col: str, kind: str, unique: bool = False
) -> DataFrame:
    """Project a source table to vertex rows of one label.

    ``kind`` is which property column holds the natural key
    (email | name | projectid). ``unique=True`` skips the distinct
    shuffle when the source column is already a key (shuffle economy:
    every avoidable dropDuplicates is an exchange saved at scale).
    """
    key = F.col(key_col).cast("string")
    props = {
        "email": F.lit(None).cast("string"),
        "name": F.lit(None).cast("string"),
        "projectid": F.lit(None).cast("string"),
    }
    props[kind] = key
    is_external = (
        F.lit(False) if kind == "email" else F.lit(None).cast("boolean")
    )
    out = df.select(
        vertex_id(label, key).alias("id"),
        F.lit(label).alias("label"),
        props["email"].alias("email"),
        props["name"].alias("name"),
        props["projectid"].alias("projectid"),
        is_external.alias("is_external"),
    )
    return out if unique else out.dropDuplicates(["id"])


def _edge_df(
    pairs: DataFrame, src_label: str, dst_label: str, unique: bool = False
) -> DataFrame:
    """pairs(src_key, dst_key) -> edge rows (label 'in', weight 1).
    ``unique=True`` skips the distinct shuffle for pairs that are
    already unique (e.g. a key joined to its dimension)."""
    out = pairs.select(
        vertex_id(src_label, F.col("src_key")).alias("src"),
        vertex_id(dst_label, F.col("dst_key")).alias("dst"),
        F.lit("in").alias("label"),
        F.lit(1).cast("int").alias("weight"),
    )
    return out if unique else out.dropDuplicates(["src", "dst"])


def build_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")

    # customer/nation/region/supplier names are table keys — no
    # distinct needed; part brand/type/name repeat across parts.
    parts = [
        _vertex_df(customer.select("c_name"), "user", "c_name", "email", True),
        _vertex_df(nation.select("n_name"), "group", "n_name", "email", True),
        _vertex_df(region.select("r_name"), "group", "r_name", "email", True),
        _vertex_df(
            supplier.select("s_name"), "serviceAccount", "s_name", "email", True
        ),
        _vertex_df(part.select("p_brand"), "role", "p_brand", "name"),
        _vertex_df(part.select("p_type"), "permission", "p_type", "name"),
        _vertex_df(part.select("p_name"), "project", "p_name", "projectid"),
        bucket_vertices(part),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def bucket_vertices(part: DataFrame) -> DataFrame:
    """B10 bucket vertices — the one composite-key label: a bucket is
    (name, projectid), mirroring the reference's getGCS existence probe
    on both properties (main.go:415-418). Fixture mapping: size class
    within project (``bucket-<p_size>``), so the same bucket name
    repeats across projects and only the composite key disambiguates —
    exactly the property the reference's model has."""
    return (
        part.select(
            F.concat(F.lit("bucket-"), F.col("p_size")).alias("name"),
            F.col("p_name").cast("string").alias("projectid"),
        )
        .dropDuplicates()
        .select(
            bucket_id(F.col("name"), F.col("projectid")).alias("id"),
            F.lit("bucket").alias("label"),
            F.lit(None).cast("string").alias("email"),
            "name",
            "projectid",
            F.lit(None).cast("boolean").alias("is_external"),
        )
    )


def bucket_edges(part: DataFrame) -> DataFrame:
    """B10 bucket edges: bucket -in-> project containment
    (main.go:440-458) and role -in-> bucket IAM bindings
    (main.go:491-514), both member -> container like every other edge."""
    containment = (
        part.select(
            F.concat(F.lit("bucket-"), F.col("p_size")).alias("bname"),
            F.col("p_name").cast("string").alias("projectid"),
        )
        .dropDuplicates()
        .select(
            bucket_id(F.col("bname"), F.col("projectid")).alias("src"),
            vertex_id("project", F.col("projectid")).alias("dst"),
            F.lit("in").alias("label"),
            F.lit(1).cast("int").alias("weight"),
        )
    )
    iam = (
        part.select(
            F.col("p_brand").cast("string").alias("role"),
            F.concat(F.lit("bucket-"), F.col("p_size")).alias("bname"),
            F.col("p_name").cast("string").alias("projectid"),
        )
        .dropDuplicates()
        .select(
            vertex_id("role", F.col("role")).alias("src"),
            bucket_id(F.col("bname"), F.col("projectid")).alias("dst"),
            F.lit("in").alias("label"),
            F.lit(1).cast("int").alias("weight"),
        )
    )
    return containment.unionByName(iam)


def build_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_name", "s_nationkey"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )

    # user -in-> group: membership (main.go:311-327 analog).
    user_group = customer.join(
        nation, customer.c_nationkey == nation.n_nationkey
    ).select(F.col("c_name").alias("src_key"), F.col("n_name").alias("dst_key"))

    # group -in-> group: nesting (main.go:328-348 analog).
    group_group = nation.join(
        region, nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_name").alias("src_key"), F.col("r_name").alias("dst_key"))

    # serviceAccount -in-> group.
    sa_group = supplier.join(
        nation, supplier.s_nationkey == nation.n_nationkey
    ).select(F.col("s_name").alias("src_key"), F.col("n_name").alias("dst_key"))

    # user -in-> role: IAM binding (main.go:566-581 analog).
    # Scale path (guide §2.3, aggregate before you shuffle): resolve
    # partkey -> brand FIRST, because brand is the low-cardinality
    # attribute the edge actually keys on — the (orderkey, brand)
    # distinct collapses the fact table toward |orders| x |brands|
    # before anything else shuffles, and every later exchange carries
    # the narrow brand string instead of a partkey that is about to be
    # discarded. (The previous spelling deduped (l_orderkey,
    # l_partkey) — a near-unique pair in this fixture, so that full
    # shuffle removed almost nothing — and only collapsed to brand
    # level in the final edge distinct.) The final distinct (c_name,
    # p_brand) set is identical: dedup order does not change a
    # distinct projection.
    order_brand = (
        lineitem.join(
            part.select("p_partkey", "p_brand"),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .dropDuplicates()
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .select("o_custkey", "p_brand")
        .dropDuplicates()
    )
    user_role = order_brand.join(
        customer, order_brand.o_custkey == customer.c_custkey
    ).select(
        F.col("c_name").alias("src_key"), F.col("p_brand").alias("dst_key")
    )

    # role -in-> project: role bound on resource (main.go:539-560 analog).
    role_project = part.select(
        F.col("p_brand").alias("src_key"), F.col("p_name").alias("dst_key")
    )

    # permission -in-> role (main.go:657-688 analog).
    perm_role = part.select(
        F.col("p_type").alias("src_key"), F.col("p_brand").alias("dst_key")
    )

    # Shuffle economy: membership/nesting pairs join a key to its
    # dimension — already unique, no distinct. user_role (many-to-one
    # brand mapping) and the part-derived pairs genuinely repeat.
    # No final cross-piece distinct: endpoint labels differ per piece,
    # and the id hash is label-salted, so pieces are disjoint by
    # construction.
    pieces = [
        _edge_df(user_group, "user", "group", unique=True),
        _edge_df(group_group, "group", "group", unique=True),
        _edge_df(sa_group, "serviceAccount", "group", unique=True),
        _edge_df(user_role, "user", "role"),
        _edge_df(role_project, "role", "project"),
        _edge_df(perm_role, "permission", "role"),
        bucket_edges(part),
    ]
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def build_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(vertices, edges) derived from the fixture tables.

    Both frames end in AQE's ``rebalance`` hint. Each is a union of
    per-label / per-relation pieces of very different sizes; without
    the hint its partition count is the sum of the pieces' (20 vertex
    and 23 edge partitions for a 1k-vertex graph), skewed, and every
    scan of a cached copy pays per-task cost for the surplus. With it
    AQE sizes the partitions from the data (advisory partition size,
    the session's parallelism as the floor, skewed partitions split),
    so their count follows the graph's size."""
    return (
        build_vertices(spark, sf_dir).hint("rebalance"),
        build_edges(spark, sf_dir).hint("rebalance"),
    )

