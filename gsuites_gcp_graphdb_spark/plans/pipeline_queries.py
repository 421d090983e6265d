"""North-star pipeline queries (SURVEY.md §2C/§7.7): dedup, similarity
search, text analysis, multimodal stats, event windowing — each with a
DuckDB oracle twin generated from the SAME parameters, so the Spark
and SQL sides can't drift apart.

Cross-engine determinism rules used throughout:
- hashes are md5 (identical lowercase hex in both engines);
- float folds are sequential left-to-right with double operands;
- integer->double divisions use identical operands;
- rounding applied at the same points;
- timestamps compared in exact integer microseconds (unix_micros vs
  epoch_us), never float seconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import corpus as cp
from ..operators.layout import hilbert_ctes as _hilbert_ctes
from ..operators.layout import zvalue_sql as _zvalue_sql
from ..operators import dedup as dd
from ..operators import multimodal as mm
from ..operators import similarity as sim
from ..operators import text as tx
from ..operators import timeseries as tss
from ..sources.fixtures import load_table
from ..streaming import windows as win
from .base import QueryDef

# Shared parameters (Spark + SQL generated from these).
SHINGLE_N = 3
MINHASH_K = 12
LSH_BANDS = 6
# Jaccard threshold as an exact rational: BOTH engines filter on the
# integer inequality inter*den >= num*(union) (r8 advisory — rounded
# jaccard is display-only); the float form survives for downstream
# WHERE clauses, which are redundant once the exact filter ran.
JACCARD_NUM, JACCARD_DEN = 1, 2
JACCARD_TAU = JACCARD_NUM / JACCARD_DEN
MAX_DF = 5  # df-cut: shingles in more than MAX_DF docs are stop-shingles
FP_N = 5
TOPK = 10
SESSION_GAP_MIN = 30

# DuckDB fragment: distinct n-token shingles of `text`.
_SQL_SHINGLES = f"""list_distinct(list_transform(
      range(0, greatest(len(string_split(text,' '))-{SHINGLE_N},0)+1),
      i -> array_to_string(string_split(text,' ')[i+1:i+{SHINGLE_N}], ' ')))"""

_SQL_SHINGLES_FP = f"""list_distinct(list_transform(
      range(0, greatest(len(string_split(text,' '))-{FP_N},0)+1),
      i -> array_to_string(string_split(text,' ')[i+1:i+{FP_N}], ' ')))"""


# --------------------------------------------------------------------
# Dedup
# --------------------------------------------------------------------
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct(F.md5("text")).cast("bigint").alias("n_unique"),
    )
    groups = dd.exact_duplicates(docs).agg(
        F.count("*").cast("bigint").alias("n_dup_groups")
    )
    kept = dd.dedup_exact(docs).agg(
        F.count("*").cast("bigint").alias("n_after_dedup")
    )
    return stats.crossJoin(groups).crossJoin(kept)


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    dd.release_scratch()
    docs = load_table(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(
        docs, n=SHINGLE_N, threshold=JACCARD_TAU, max_df=MAX_DF
    ).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "jaccard",
    )


def ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllPairs/PPJoin prefix-filtered exact Jaccard (operators/
    dedup.ngram_jaccard_pairs_prefix): SAME pair set as
    ns_dedup_ngram_jaccard — the prefix cut is lossless — but the
    candidate self-join runs over rarest-first per-doc prefixes
    instead of full posting lists, the classic set-similarity-join
    optimization for web-scale corpora. Shares the baseline's oracle
    verbatim: identical output is the correctness claim."""
    dd.release_scratch()
    docs = load_table(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs_prefix(
        docs, n=SHINGLE_N, threshold_num=1, threshold_den=2,
        max_df=MAX_DF,
    ).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "jaccard",
    )


CONTAIN_TAU = 0.6


def ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (operators/dedup.
    ngram_containment_pairs): directed doc-inside-doc rows where
    >= 60% of one document's shingles appear in another — the
    subsumption signal symmetric Jaccard misses. Same df-cut posting
    join as ns_dedup_ngram_jaccard; both directions emitted from one
    intersection pass."""
    dd.release_scratch()
    docs = load_table(spark, sf_dir, "documents")
    return dd.ngram_containment_pairs(
        docs, n=SHINGLE_N, threshold=CONTAIN_TAU, max_df=MAX_DF
    ).select(
        F.col("id").cast("bigint").alias("id"),
        F.col("container_id").cast("bigint").alias("container_id"),
        "containment",
    )


def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    dd.release_scratch()
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_lsh_candidates(
        docs, n=SHINGLE_N, num_hashes=MINHASH_K, bands=LSH_BANDS, use_md5=True
    ).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
    )


def minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    dd.release_scratch()
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_dedup_pairs(
        docs,
        n=SHINGLE_N,
        num_hashes=MINHASH_K,
        bands=LSH_BANDS,
        threshold=JACCARD_TAU,
        use_md5=True,
    ).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "jaccard",
    )


def minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (operators/dedup.
    minhash_incremental_candidates): every 10th doc plays the incoming
    batch, the rest the already-indexed corpus; candidates are
    batch-vs-corpus and batch-vs-earlier-batch only — corpus x corpus
    is never recomputed."""
    dd.release_scratch()
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    return dd.minhash_incremental_candidates(
        corpus, batch, n=SHINGLE_N, num_hashes=MINHASH_K, bands=LSH_BANDS,
        use_md5=True,
    ).select(
        F.col("new_id").cast("bigint").alias("new_id"),
        F.col("match_id").cast("bigint").alias("match_id"),
    )


NEAR_DUP_TAU = 0.4  # embedding near-dup cosine threshold


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs — the all-pairs
    correctness anchor (oracle-checked); the sub-quadratic scale path
    is similarity.embedding_near_duplicates (LSH-bucketed, unit-tested
    to produce a subset of exactly these pairs)."""
    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            cosine_similarity(F.col("va"), F.col("vb")).alias("__cs"),
        )
        .filter(F.col("__cs") >= NEAR_DUP_TAU)
        .select("id_a", "id_b", F.round("__cs", 6).alias("cos_sim"))
    )


SEMDEDUP_PROBE_MAX = 200  # constant-size exactness probe window


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication over the embedding table
    (Abbas et al. 2023, arXiv 2303.09540), on the PRODUCTION
    sub-quadratic path: threshold-derived banded-LSH cosine near-dup
    candidates with a packed-bitwise Hamming-agreement verify
    (similarity.embedding_near_duplicates) → transitive-closure
    clusters → keep the min-id
    representative per cluster (operators/dedup.py
    semantic_dedup_members).

    The LSH hit set depends on the hash family, so (like
    ns_ivf_recall / ns_pq_recall) the catalog row is a bounds/
    exactness summary, every claim computed for real on the Spark
    side and pinned by the oracle:
      - n_probe_ids / probe_exact_pairs — hard numbers the oracle
        recomputes exactly (all-pairs confined to a CONSTANT-size id
        window, so the query stays sub-quadratic end to end);
      - pairs_sound — every emitted pair re-verified cos >= tau by an
        independent join back to the vectors (LSH can lose pairs,
        never invent them);
      - members_consistent — decision-table invariants: unique member
        ids, min-id rep (cluster_rep <= id), keep iff id ==
        cluster_rep, exactly one kept rep per cluster;
      - probe_recall_ge_050 — within the probe window the LSH pairs
        cover >= 50% of the exact pairs (measured 0.8-1.0 across
        fixtures; deterministic planes make this stable).
    The exact all-pairs member table remains the test anchor
    (test_semantic_dedup_members, test_semantic_dedup_lsh_vs_exact);
    ns_embedding_near_dup keeps the exact pair relation oracle-checked.
    """
    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = sim.embedding_near_duplicates(
        emb, threshold=NEAR_DUP_TAU
    ).localCheckpoint()
    members = dd.semantic_dedup_members(pairs)

    # Soundness: re-verify every pair against the raw vectors.
    va = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    vb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    sound = (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .agg(
            F.coalesce(
                F.min(
                    cosine_similarity(F.col("__va"), F.col("__vb"))
                    >= F.lit(NEAR_DUP_TAU)
                ),
                F.lit(True),
            ).alias("pairs_sound")
        )
    )

    cons = members.agg(
        F.coalesce(
            F.min(
                (F.col("cluster_rep") <= F.col("id"))
                & (F.col("keep") == (F.col("id") == F.col("cluster_rep")))
            ),
            F.lit(True),
        ).alias("__inv"),
        (F.count("*") == F.count_distinct(F.col("id"))).alias("__uniq"),
        (
            F.count_distinct(F.col("cluster_rep"))
            # coalesce: sum over an EMPTY members table is NULL, and
            # NULL == 0 would propagate NULL through the AND-chain
            # while the oracle hard-codes TRUE (same empty-input NULL
            # class audit_metrics fixed in round 6).
            == F.coalesce(
                F.sum(F.col("keep").cast("long")), F.lit(0)
            )
        ).alias("__one_rep"),
    ).select(
        (F.col("__inv") & F.col("__uniq") & F.col("__one_rep")).alias(
            "members_consistent"
        )
    )

    win = emb.filter(F.col("vec_id") < SEMDEDUP_PROBE_MAX)
    wa = win.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    wb = win.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    probe_exact = (
        wa.join(F.broadcast(wb), F.col("id_a") < F.col("id_b"))
        .filter(
            cosine_similarity(F.col("__va"), F.col("__vb"))
            >= F.lit(NEAR_DUP_TAU)
        )
        .agg(F.count("*").cast("bigint").alias("probe_exact_pairs"))
    )
    probe_lsh = pairs.filter(
        (F.col("id_a") < SEMDEDUP_PROBE_MAX)
        & (F.col("id_b") < SEMDEDUP_PROBE_MAX)
    ).agg(F.count("*").alias("__probe_lsh"))

    return (
        win.agg(F.count("*").cast("bigint").alias("n_probe_ids"))
        .crossJoin(F.broadcast(probe_exact))
        .crossJoin(F.broadcast(probe_lsh))
        .crossJoin(F.broadcast(sound))
        .crossJoin(F.broadcast(cons))
        .select(
            "n_probe_ids",
            "probe_exact_pairs",
            "pairs_sound",
            "members_consistent",
            (
                F.col("__probe_lsh")
                >= 0.5 * F.col("probe_exact_pairs")
            ).alias("probe_recall_ge_050"),
        )
    )


def ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: IVF (trained coarse quantizer) approximate k-NN for
    the deterministic query subset. The raw hit set depends on the
    trained quantizer (no portable SQL twin); correctness is carried
    by ns_ivf_recall (bounds oracle) and test_ivf_topk
    (nprobe==num_centroids equals brute force exactly)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = sim.ivf_topk(
        queries, emb, k=5, num_centroids=8, nprobe=2, iterations=2
    )
    return out.select(
        F.col("q_id").cast("bigint").alias("q_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "cos_sim",
        "rank",
    )


def ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounds-style oracle for the IVF path (the analog of
    rel_approx_distinct's): the IVF result set depends on the trained
    quantizer, so the cross-engine-checkable claims are (a) the query
    census, (b) every query finds ITSELF at rank 1 (its own cluster is
    by construction the closest centroid, hence always probed), and
    (c) mean recall@5 vs brute force clears a bound with margin
    (measured 0.56-0.60 at nprobe=2/8 across fixtures; bound 0.4).
    Both sides are deterministic, so a quantizer regression flips a
    boolean and fails the hash match."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    brute = sim.knn_join(queries, emb, k=5).select("q_id", "vec_id")
    approx = sim.ivf_topk(
        queries, emb, k=5, num_centroids=8, nprobe=2, iterations=2
    )
    self_hits = approx.filter(
        (F.col("rank") == 1) & (F.col("q_id") == F.col("vec_id"))
    ).select("q_id")
    hits = brute.join(approx.select("q_id", "vec_id"), ["q_id", "vec_id"])
    return (
        queries.select("q_id")
        .agg(F.count("*").cast("bigint").alias("n_queries"))
        .crossJoin(
            F.broadcast(
                self_hits.agg(F.count("*").alias("__n_self")).crossJoin(
                    hits.agg(F.count("*").alias("__n_hit")).crossJoin(
                        brute.agg(F.count("*").alias("__n_true"))
                    )
                )
            )
        )
        .select(
            "n_queries",
            (F.col("__n_self") == F.col("n_queries")).alias("all_self_rank1"),
            (F.col("__n_hit") >= 0.4 * F.col("__n_true")).alias(
                "mean_recall_ge_040"
            ),
        )
    )


def ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN tuning curve as a first-class query: recall@5 vs
    brute force at nprobe = 1, 2, 4, 8 over an 8-centroid IVF — the
    sweep an operator runs before picking a production nprobe.
    Engine-side k-means makes raw recalls non-replayable, so the
    oracle pins the STRUCTURAL invariants of the curve (bounds-style,
    like ns_ivf_recall): (a) every query still finds itself at rank
    1 at every nprobe; (b) hits are MONOTONE non-decreasing in
    nprobe — a true top-5 neighbor in the candidate set always makes
    the approx top-5 (anything closer is itself true top-5), and
    probing more cells only grows the candidate set; (c) nprobe =
    num_centroids probes everything, so recall is EXACTLY 1 there.
    Per-nprobe hit counts are bounded 1-row fetches (the
    parameter-bind pattern)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    n_queries = queries.count()
    if n_queries == 0:
        return spark.createDataFrame(
            [],
            "nprobe int, n_queries bigint, all_self_rank1 boolean,"
            " recall_monotone boolean, exhaustive_exact boolean",
        )
    brute = sim.knn_join(queries, emb, k=5).select("q_id", "vec_id")
    n_true = brute.count()
    rows = []
    prev_hits = -1
    for nprobe in (1, 2, 4, 8):
        approx = sim.ivf_topk(
            queries, emb, k=5, num_centroids=8, nprobe=nprobe,
            iterations=2,
        )
        n_self = approx.filter(
            (F.col("rank") == 1) & (F.col("q_id") == F.col("vec_id"))
        ).count()
        n_hit = brute.join(
            approx.select("q_id", "vec_id"), ["q_id", "vec_id"]
        ).count()
        rows.append(
            (
                nprobe,
                n_queries,
                n_self == n_queries,
                n_hit >= prev_hits,
                (n_hit == n_true) if nprobe == 8 else True,
            )
        )
        prev_hits = n_hit
    return spark.createDataFrame(
        rows,
        "nprobe int, n_queries bigint, all_self_rank1 boolean,"
        " recall_monotone boolean, exhaustive_exact boolean",
    )


def ivf_ann_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query census of the raw IVF ANN demo (r8 VERDICT item 8:
    the bench-only ns_ivf_ann, catalog-registered the nprobe-sweep
    way — pin the structural arithmetic of the result, not the
    quantizer-dependent neighbor set). One row per query with the
    invariants any correct IVF top-k must satisfy: the query's own
    cluster is by construction its closest centroid, hence always
    probed, so (a) every query RETURNS rows and finds ITSELF at rank
    1 (cos=1 beats everything; ties break on vec_id, and the query
    predicate picks distinct vectors); (b) ranks are contiguous
    1..n_hits with n_hits <= k; (c) scores are non-increasing in
    rank. The oracle replays the query census exactly (vec_id % 100
    = 0) with literal TRUEs — a quantizer or ranking regression
    flips a boolean or drops a row and fails the hash match.
    ns_ivf_recall / ns_ivf_nprobe_sweep pin the recall arithmetic;
    this row-per-query form pins the per-query result SHAPE."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = sim.ivf_topk(
        queries, emb, k=5, num_centroids=8, nprobe=2, iterations=2
    )
    w = Window.partitionBy("q_id").orderBy("rank")
    per = out.select(
        "q_id",
        "rank",
        "vec_id",
        "cos_sim",
        F.lag("cos_sim").over(w).alias("__prev"),
    ).groupBy("q_id").agg(
        F.count("*").alias("__n"),
        F.max("rank").alias("__maxr"),
        F.max(
            F.when(
                (F.col("rank") == 1) & (F.col("q_id") == F.col("vec_id")),
                1,
            ).otherwise(0)
        ).alias("__self1"),
        F.min(
            F.coalesce(F.col("cos_sim") <= F.col("__prev"), F.lit(True))
        ).alias("__desc"),
    )
    return per.select(
        F.col("q_id").cast("bigint").alias("q_id"),
        (F.col("__self1") == 1).alias("self_rank1"),
        (
            (F.col("__maxr") == F.col("__n")) & (F.col("__n") <= 5)
        ).alias("ranks_contiguous_le_k"),
        F.col("__desc").alias("scores_desc"),
    )


def ivf_refresh_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index REFRESH lifecycle census (r9 VERDICT item 4): train
    the coarse quantizer on a BASE 2/3 of the corpus (vec_id % 3 !=
    2), save the write-time layout (ivf_save), then ivf_refresh the
    remaining third as the incoming batch — frozen centroids, batch
    assigned via broadcast, appended into the cid partitions without
    touching existing list files. One row of earned invariants:

    - ``new_ids_once``: every batch id appears in the refreshed
      lists exactly once (count AND distinct-count equal n_new —
      an append that double-writes or drops a partition flips it);
    - ``lists_complete``: |refreshed lists| = n_base + n_new
      (nothing lost, nothing duplicated on the base side);
    - ``all_self_rank1``: probing the REFRESHED index with the
      frozen query set (vec_id % 100 = 0 — the % 3 split keeps
      ~a third of these IN the new batch, so refreshed entries are
      probed, not just stored) finds every query at rank 1: a new
      vector lands in exactly the list its own probe ranks first
      (same frozen-centroid argmax on both sides);
    - ``recall_ge_040``: recall@5 vs brute force over the full
      corpus clears 0.4 — measured 0.520 / 0.560 / 0.550 at
      sf0.001 / 0.01 / 0.1 (bounds-at-every-SF rule), in line with
      ns_ivf_recall's 0.56-0.60 for the fully-trained index;
    - ``within_margin_of_retrain``: refreshed-index hits are within
      0.15*n_true of a full RETRAIN on the grown corpus — measured
      gap +0.080 / +0.000 / +0.030 across the three fixtures, i.e.
      skipping the retrain costs at most ~2 of 25 true neighbors
      here, which is the trade the daily-refresh lifecycle buys.

    All counts are bounded 1-row fetches (the nprobe-sweep pattern);
    the temp index directory is removed after the counts complete,
    so the returned relation is a literal row, not a scan. The
    oracle replays the exact n_base/n_new census and pins the
    booleans as earned TRUEs."""
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    schema = (
        "n_base bigint, n_new bigint, new_ids_once boolean,"
        " lists_complete boolean, all_self_rank1 boolean,"
        " recall_ge_040 boolean, within_margin_of_retrain boolean"
    )
    is_new = F.col("vec_id") % 3 == 2
    base = emb.filter(~is_new)
    batch = emb.filter(is_new)
    n_base, n_new = base.count(), batch.count()
    if n_base == 0:
        return spark.createDataFrame([], schema)
    path = tempfile.mkdtemp(prefix="spark_graft_ivf_refresh_")
    try:
        sim.ivf_save(base, path, num_centroids=8, iterations=2)
        sim.ivf_refresh(spark, path, batch)
        lists = spark.read.parquet(f"{path}/lists")
        appended = lists.filter(F.col("vec_id") % 3 == 2)
        n_app = appended.count()
        n_app_distinct = appended.select("vec_id").distinct().count()
        n_lists = lists.count()
        queries = emb.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        n_q = queries.count()
        probe = sim.ivf_probe(spark, path, queries, k=5, nprobe=2)
        n_self = probe.filter(
            (F.col("rank") == 1) & (F.col("q_id") == F.col("vec_id"))
        ).count()
        brute = sim.knn_join(queries, emb, k=5).select("q_id", "vec_id")
        n_true = brute.count()
        n_hit = brute.join(
            probe.select("q_id", "vec_id"), ["q_id", "vec_id"]
        ).count()
        retrained = sim.ivf_topk(
            queries, emb, k=5, num_centroids=8, nprobe=2, iterations=2
        )
        n_hit_retrain = brute.join(
            retrained.select("q_id", "vec_id"), ["q_id", "vec_id"]
        ).count()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    row = (
        n_base,
        n_new,
        n_app == n_new and n_app_distinct == n_new,
        n_lists == n_base + n_new,
        n_self == n_q,
        n_hit >= 0.4 * n_true,
        n_hit >= n_hit_retrain - 0.15 * n_true,
    )
    return spark.createDataFrame([row], schema)


def ivf_rebalance_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF list MAINTENANCE lifecycle census (r10 VERDICT item 5):
    the index-health step between append-only refreshes and a full
    retrain. Scenario constructed for genuine drift — the fixture
    embeddings are near-uniform on the sphere (measured list skew
    only 1.07-1.25 under every natural split), so the incoming batch
    is transformed into a TIGHT NEW MODE the quantizer never saw:
    v' = anchor + 0.1*v with anchor = the smallest-id embedding
    (deterministic, fixture-derived). Every batch vector then lands
    in one list (~3.3x the post-refresh mean), which is exactly the
    drifted-corpus shape that motivates rebalancing. Steps: train+
    save on the 2/3 base (vec_id % 3 != 2), ivf_refresh the drifted
    batch TWICE (the retry exercises the r10 idempotency guard), then
    ivf_rebalance(max_skew=2.0).

    One row of earned invariants:

    - ``n_vectors`` + ``ids_hi``/``ids_lo``: the final lists hold
      exactly the fixture's vec_id set — two BIGINT words of a 48-bit
      md5 fingerprint sum (driver-safe dtype contract), EXACTLY
      replayed by the oracle from the embeddings table, so a dropped
      partition, a duplicated retry, or a rebalance that loses or
      forks a row flips a word;
    - ``retry_noop``: the second refresh of the same batch appended
      nothing (list count stays n_vectors);
    - ``split_occurred``: the centroid table grew — the 2x-mean hot
      list was detected and split (by construction ~3.3x, so a
      threshold or detection regression flips this at every SF);
    - ``skew_not_worse`` / ``hot_shrunk``: max list size did not grow
      / strictly fell (measured 210->186, 197->179, 827->723 at
      sf0.001/0.01/0.1);
    - ``recall_ge_050``: probe recall@5 (nprobe=2) vs brute force
      over the FINAL drifted corpus clears 0.5 — measured 0.600 /
      0.800 / 0.700 at the three fixtures (bounds-at-every-SF rule).

    All counts are bounded 1-row fetches; the temp index dir is
    removed before returning, so the result is a literal row."""
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    schema = (
        "n_vectors bigint, ids_hi bigint, ids_lo bigint,"
        " retry_noop boolean, split_occurred boolean,"
        " skew_not_worse boolean, hot_shrunk boolean,"
        " recall_ge_050 boolean"
    )
    n_emb = emb.count()
    if n_emb == 0:
        return spark.createDataFrame([], schema)
    anchor = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(F.col("embedding").alias("__anchor"))
    )
    is_new = F.col("vec_id") % 3 == 2
    base = emb.filter(~is_new)
    batch = (
        emb.filter(is_new)
        .crossJoin(F.broadcast(anchor))
        .select(
            "vec_id",
            F.zip_with(
                "__anchor",
                "embedding",
                lambda a, b: a.cast("double")
                + F.lit(0.1) * b.cast("double"),
            ).alias("embedding"),
        )
    )
    path = tempfile.mkdtemp(prefix="spark_graft_ivf_rebalance_")
    try:
        sim.ivf_save(base, path, num_centroids=8, iterations=2)
        sim.ivf_refresh(spark, path, batch)
        sim.ivf_refresh(spark, path, batch)  # retried batch: must no-op
        lists = spark.read.parquet(f"{path}/lists")
        n_after_retry = lists.count()
        sizes = [
            r["n"]
            for r in lists.groupBy("cid")
            .agg(F.count("*").alias("n"))
            .collect()
        ]
        n_lists_before = len(sizes)
        max_before = max(sizes)
        sim.ivf_rebalance(spark, path, max_skew=2.0, iterations=2)
        lists2 = spark.read.parquet(f"{path}/lists")
        sizes2 = [
            r["n"]
            for r in lists2.groupBy("cid")
            .agg(F.count("*").alias("n"))
            .collect()
        ]
        max_after = max(sizes2)
        fp = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("vec_id").cast("string"), F.lit(":ivfrb")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        sums = lists2.agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.sum(F.shiftright(fp, 24)).cast("bigint").alias("ids_hi"),
            F.sum(fp.bitwiseAND(F.lit(0xFFFFFF)))
            .cast("bigint")
            .alias("ids_lo"),
        ).collect()[0]
        final = base.select("vec_id", "embedding").unionByName(
            batch.select(
                "vec_id",
                F.col("embedding").cast("array<float>").alias("embedding"),
            )
        )
        queries = final.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        probe = sim.ivf_probe(spark, path, queries, k=5, nprobe=2)
        brute = sim.knn_join(queries, final, k=5).select("q_id", "vec_id")
        n_true = brute.count()
        n_hit = brute.join(
            probe.select("q_id", "vec_id"), ["q_id", "vec_id"]
        ).count()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    row = (
        sums["n_vectors"],
        sums["ids_hi"],
        sums["ids_lo"],
        n_after_retry == n_emb,
        len(sizes2) > n_lists_before,
        max_after <= max_before,
        max_after < max_before,
        n_hit >= 0.5 * n_true,
    )
    return spark.createDataFrame([row], schema)


def ivfpq_probe_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Saved IVF-PQ index lifecycle census (round-11, completing the
    ANN lifecycle symmetry: ivf_save/ivf_probe exist for the raw
    index, this is the compressed twin): ivfpq_save materializes the
    corpus as PQ codes partitioned by coarse cid — the 100 TB layout
    where the scan side is ~32x smaller than raw vectors AND a probe
    reads only nprobe/num_centroids of it — then ivfpq_probe answers
    the frozen query set from the files alone.

    One row of earned invariants:

    - ``n_queries``: exact query census (oracle replays);
    - ``probe_equals_inquery``: the saved-index probe returns
      EXACTLY ivf_pq_topk's result (both exceptAll directions empty
      at equal counts) — the durability theorem: writing the index
      out and reading it back changes nothing;
    - ``partition_pruned``: the executed codes scan carries a cid
      PartitionFilter (the I/O receipt, read from the plan);
    - ``codes_only``: the stored list relation has no raw vector
      column — (id, codes, cid) and nothing else, the compression
      point of the layout."""
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    schema = (
        "n_queries bigint, probe_equals_inquery boolean,"
        " partition_pruned boolean, codes_only boolean"
    )
    if emb.count() == 0:
        return spark.createDataFrame([], schema)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    n_q = queries.count()
    path = tempfile.mkdtemp(prefix="spark_graft_ivfpq_probe_")
    try:
        sim.ivfpq_save(
            emb, path, num_centroids=8, m=4, pq_centroids=16,
            iterations=2,
        )
        probed = sim.ivfpq_probe(spark, path, queries, k=5, nprobe=2)
        # plan receipt BEFORE checkpointing (a checkpointed df's
        # executed plan is just the checkpoint scan)
        plan = probed._jdf.queryExecution().executedPlan().toString()
        pruned = "PartitionFilters" in plan and "cid" in plan
        in_query = sim.ivf_pq_topk(
            queries, emb, k=5, num_centroids=8, nprobe=2, m=4,
            pq_centroids=16, iterations=2,
        )
        probed = probed.localCheckpoint(eager=True)
        n_probe = probed.count()
        n_inq = in_query.count()
        equal = (
            n_probe == n_inq
            and probed.exceptAll(in_query).count() == 0
        )
        stored_cols = set(
            spark.read.parquet(f"{path}/codes").columns
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    row = (
        n_q,
        bool(equal),
        bool(pruned),
        stored_cols == {"vec_id", "codes", "cid"},
    )
    return spark.createDataFrame([row], schema)


def pq_sampled_train_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled codebook training census (round-11): the 100 TB PQ
    training path. Lloyd over the full corpus is the one stage of a
    PQ build that does NOT have to touch everything (FAISS practice:
    train on a sample, encode everything), so pq_train(sample_mod=4)
    keeps the md5-hash16 == 0 (mod 4) quarter for training — the
    exact rows DuckDB replays — and the census pins what the 4x
    cheaper training costs in quality. One row of earned invariants:

    - ``n_vectors`` / ``n_train``: exact censuses (the oracle
      recomputes the hash16 sample membership bit-for-bit);
    - ``all_self_rank1``: every query's own vector still ranks 1 in
      its ADC top-k under the sample-trained book (100% at all
      three fixture SFs);
    - ``recall_ge_025``: recall@5 vs brute force clears 0.25 —
      measured 0.360/0.400/0.340 (vs 0.34-0.48 for the full-corpus
      book: sampling is nearly free here);
    - ``within_margin_of_full``: sampled-book hits are within
      0.15*n_true of the FULL-corpus book's hits on the same
      queries — measured delta 0.080/0.080/0.000."""
    emb = load_table(spark, sf_dir, "embeddings")
    schema = (
        "n_vectors bigint, n_train bigint, all_self_rank1 boolean,"
        " recall_ge_025 boolean, within_margin_of_full boolean"
    )
    n_emb = emb.count()
    if n_emb == 0:
        return spark.createDataFrame([], schema)
    from ..operators.corpus import hash16

    n_train = emb.filter(
        F.pmod(hash16(F.col("vec_id"), "pqtrain"), F.lit(4)) == 0
    ).count()
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    n_q = queries.count()
    brute = sim.knn_join(queries, emb, k=5).select("q_id", "vec_id")
    n_true = brute.count()
    hits = {}
    n_self = 0
    for tag, mod in (("full", None), ("samp", 4)):
        book = sim.pq_train(
            emb, m=8, num_centroids=16, iterations=2, sample_mod=mod
        )
        codes = sim.pq_encode_fast(emb, book, m=8)
        approx = sim.pq_adc_topk(queries, codes, book, k=5, m=8)
        hits[tag] = brute.join(
            approx.select("q_id", "vec_id"), ["q_id", "vec_id"]
        ).count()
        if tag == "samp":
            n_self = approx.filter(
                (F.col("rank") == 1) & (F.col("q_id") == F.col("vec_id"))
            ).count()
    row = (
        n_emb,
        n_train,
        n_self == n_q,
        hits["samp"] >= 0.25 * n_true,
        hits["samp"] >= hits["full"] - 0.15 * n_true,
    )
    return spark.createDataFrame([row], schema)


def ivfpq_refresh_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Saved IVF-PQ index REFRESH lifecycle census (round-11, the
    compressed twin of ns_ivf_refresh): train+save on the 2/3 base
    (vec_id % 3 != 2), ivfpq_refresh the remaining third TWICE (the
    retry exercises the idempotency guard over the codes-only
    relation), then probe the refreshed index. One row of earned
    invariants:

    - ``n_base``/``n_new``: exact census (oracle replays);
    - ``retry_noop``: the second refresh of the same batch appended
      nothing (codes count = n_base + n_new);
    - ``new_ids_once``: every batch id appears exactly once;
    - ``self_rank1_ge_090`` / ``self_topk_ge_099``: probing with the
      refreshed entries' raw vectors finds each at rank 1 / in the
      top-5 — NOT 100% by design (ADC scores code reconstructions
      against a base-trained frozen codebook, so a near neighbor's
      code can reconstruct closer than your own); measured rank-1
      fractions 0.964/0.952/0.943 and top-5 1.0/1.0/0.9985 at
      sf0.001/0.01/0.1 (bounds-at-every-SF rule);
    - ``recall_ge_015``: probe recall@5 vs brute force over the
      grown corpus clears 0.15 — measured 0.200/0.360/0.260, in line
      with ns_ivfpq_recall's 0.24-0.30 for the fully-trained index
      (compression trade, not a refresh regression)."""
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    schema = (
        "n_base bigint, n_new bigint, retry_noop boolean,"
        " new_ids_once boolean, self_rank1_ge_090 boolean,"
        " self_topk_ge_099 boolean, recall_ge_015 boolean"
    )
    is_new = F.col("vec_id") % 3 == 2
    base = emb.filter(~is_new)
    batch = emb.filter(is_new)
    n_base, n_new = base.count(), batch.count()
    if n_base == 0:
        return spark.createDataFrame([], schema)
    path = tempfile.mkdtemp(prefix="spark_graft_ivfpq_refresh_")
    try:
        sim.ivfpq_save(
            base, path, num_centroids=8, m=4, pq_centroids=16,
            iterations=2,
        )
        sim.ivfpq_refresh(spark, path, batch)
        sim.ivfpq_refresh(spark, path, batch)  # retry: must no-op
        codes = spark.read.parquet(f"{path}/codes")
        n_total = codes.count()
        appended = codes.filter(F.col("vec_id") % 3 == 2)
        n_app = appended.count()
        n_app_distinct = appended.select("vec_id").distinct().count()
        q_self = batch.select(F.col("vec_id").alias("q_id"), "embedding")
        pr_self = sim.ivfpq_probe(spark, path, q_self, k=5, nprobe=2)
        n_self1 = pr_self.filter(
            (F.col("rank") == 1) & (F.col("q_id") == F.col("vec_id"))
        ).count()
        n_selfk = pr_self.filter(
            F.col("q_id") == F.col("vec_id")
        ).count()
        queries = emb.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        pr = sim.ivfpq_probe(spark, path, queries, k=5, nprobe=2)
        brute = sim.knn_join(queries, emb, k=5).select("q_id", "vec_id")
        n_true = brute.count()
        n_hit = brute.join(
            pr.select("q_id", "vec_id"), ["q_id", "vec_id"]
        ).count()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    row = (
        n_base,
        n_new,
        n_total == n_base + n_new,
        n_app == n_new and n_app_distinct == n_new,
        n_self1 >= 0.90 * n_new,
        n_selfk >= 0.99 * n_new,
        n_hit >= 0.15 * n_true,
    )
    return spark.createDataFrame([row], schema)


def ivfpq_rebalance_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Saved IVF-PQ index REBALANCE lifecycle census (r13 VERDICT
    item 3, mirroring ns_ivf_rebalance for the compressed layout and
    closing the PQ lifecycle: save / probe / refresh / rebalance /
    delete). Same engineered drift as the raw census: train+save on
    the 2/3 base WITH the raw ``lists/`` co-store
    (``store_raw=True`` — residual codes can only be re-encoded from
    raw vectors), refresh the tight drifted mode v' = anchor + 0.1*v
    TWICE (retry exercises the idempotency guard over codes AND the
    co-store), then ivfpq_rebalance(max_skew=2.0).

    One row of earned invariants:

    The rebalance is a SCORE-PRESERVING REFINEMENT (see
    ivfpq_rebalance): the split refines only the probe quantizer;
    code arrays never change (rows MOVE between ``cid=`` partitions
    verbatim) and the ``ecent`` relation freezes each list's residual
    origin, so every (query, candidate) ADC score is bit-identical
    across the rebalance. (The first design re-encoded hot rows
    against the new sub-means and drift-cohort recall collapsed
    3/15 → 0/15 — post-drift residuals fall outside the frozen
    codebook's lattice; the census below would have caught it via
    ``recall_not_worse``.)

    One row of earned invariants:

    - ``n_vectors`` + ``ids_hi``/``ids_lo``: the final CODES relation
      holds exactly the fixture's vec_id set — two BIGINT words of a
      48-bit md5 fingerprint sum, EXACTLY replayed by the oracle from
      the embeddings table, so a lost/forked code row, a duplicated
      retry, or a partition dropped by the rewrite flips a word;
    - ``retry_noop``: the second refresh appended nothing to either
      relation (codes count == lists count == n fixture);
    - ``split_occurred``: the code-partition count grew — the
      ~3.3x-mean hot list was detected and split (by construction at
      every SF);
    - ``cold_untouched``: every ``cid=`` code partition OUTSIDE the
      touched set (split cids + their new sub-1 cids) kept its exact
      file list — same names, lengths, and modification times (Hadoop
      FS receipt): the bounded-I/O claim, earned not asserted;
    - ``codes_verbatim``: every id's code ARRAY is unchanged by the
      rebalance (xxhash64-of-codes multiset equality) — the
      score-preservation mechanism, checked at the data layer;
    - ``placement_consistent``: codes and raw lists agree row-for-row
      on (vec_id, cid) — the co-store tracks the codes through
      refresh AND rebalance, which is what makes the NEXT rebalance's
      split exact;
    - ``scores_preserved``: every (query, candidate) pair served by
      BOTH the pre- and post-rebalance probes carries the identical
      adc_score — score preservation checked at the query layer;
    - ``hot_shrunk``: max code-partition size strictly fell;
    - ``recall_not_worse`` / ``recall_ge_010``: probe recall@5
      (nprobe=2) vs brute force over the final drifted corpus did not
      drop vs the pre-rebalance probe and clears the ADC floor —
      measured pre→post 0.22→0.22 / 0.32→0.32 / 0.225→0.225 at
      sf0.001/0.01/0.1 (bounds-at-every-SF rule; with scores frozen,
      recall moves only through probe routing, and a drifted query's
      two probes cover exactly the old hot membership).

    All counts are bounded 1-row fetches; the temp index dir is
    removed before returning, so the result is a literal row."""
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    schema = (
        "n_vectors bigint, ids_hi bigint, ids_lo bigint,"
        " retry_noop boolean, split_occurred boolean,"
        " cold_untouched boolean, codes_verbatim boolean,"
        " placement_consistent boolean, scores_preserved boolean,"
        " hot_shrunk boolean, recall_not_worse boolean,"
        " recall_ge_010 boolean"
    )
    n_emb = emb.count()
    if n_emb == 0:
        return spark.createDataFrame([], schema)
    anchor = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(F.col("embedding").alias("__anchor"))
    )
    is_new = F.col("vec_id") % 3 == 2
    base = emb.filter(~is_new)
    batch = (
        emb.filter(is_new)
        .crossJoin(F.broadcast(anchor))
        .select(
            "vec_id",
            F.zip_with(
                "__anchor",
                "embedding",
                lambda a, b: a.cast("double")
                + F.lit(0.1) * b.cast("double"),
            ).alias("embedding"),
        )
    )

    def _codes_files(p):
        """{cid: sorted [(name, len, mtime)]} via the Hadoop FS — the
        byte-level receipt that cold partitions were not rewritten."""
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        root = jvm.org.apache.hadoop.fs.Path(f"{p}/codes")
        fs = root.getFileSystem(conf)
        out = {}
        for d in fs.listStatus(root):
            nm = d.getPath().getName()
            if not nm.startswith("cid="):
                continue
            cid = int(nm.split("=", 1)[1])
            out[cid] = sorted(
                (
                    f.getPath().getName(),
                    f.getLen(),
                    f.getModificationTime(),
                )
                for f in fs.listStatus(d.getPath())
                if not f.getPath().getName().startswith("_")
            )
        return out

    path = tempfile.mkdtemp(prefix="spark_graft_ivfpq_rebalance_")
    try:
        sim.ivfpq_save(
            base, path, num_centroids=8, m=4, pq_centroids=16,
            iterations=2, store_raw=True,
        )
        sim.ivfpq_refresh(spark, path, batch)
        sim.ivfpq_refresh(spark, path, batch)  # retried batch: no-op
        codes = spark.read.parquet(f"{path}/codes")
        n_codes_retry = codes.count()
        n_lists_retry = spark.read.parquet(f"{path}/lists").count()
        sizes = {
            r["cid"]: r["n"]
            for r in codes.groupBy("cid")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        files_before = _codes_files(path)
        codes_fp_before = codes.select(
            "vec_id", F.xxhash64("codes").alias("__cfp")
        ).localCheckpoint(eager=True)
        final = base.select("vec_id", "embedding").unionByName(
            batch.select(
                "vec_id",
                F.col("embedding").cast("array<float>").alias("embedding"),
            )
        )
        queries = final.filter(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        pre = sim.ivfpq_probe(
            spark, path, queries, k=5, nprobe=2
        ).localCheckpoint(eager=True)
        split = sim.ivfpq_rebalance(spark, path, max_skew=2.0, iterations=2)
        codes2 = spark.read.parquet(f"{path}/codes")
        sizes2 = {
            r["cid"]: r["n"]
            for r in codes2.groupBy("cid")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        files_after = _codes_files(path)
        touched = set(split) | (
            set(files_after) - set(files_before)
        )
        cold_ok = all(
            files_before[c] == files_after.get(c)
            for c in files_before
            if c not in touched
        )
        codes_mism = (
            codes_fp_before.exceptAll(
                codes2.select(
                    "vec_id", F.xxhash64("codes").alias("__cfp")
                )
            ).count()
        )
        mism = (
            spark.read.parquet(f"{path}/lists")
            .select("vec_id", "cid")
            .exceptAll(codes2.select("vec_id", "cid"))
            .count()
        )
        fp = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("vec_id").cast("string"), F.lit(":ivfpqrb")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        sums = codes2.agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.sum(F.shiftright(fp, 24)).cast("bigint").alias("ids_hi"),
            F.sum(fp.bitwiseAND(F.lit(0xFFFFFF)))
            .cast("bigint")
            .alias("ids_lo"),
        ).collect()[0]
        post = sim.ivfpq_probe(
            spark, path, queries, k=5, nprobe=2
        ).localCheckpoint(eager=True)
        n_score_mism = (
            pre.select("q_id", "vec_id", "adc_score")
            .join(
                post.select(
                    "q_id", "vec_id",
                    F.col("adc_score").alias("__post"),
                ),
                ["q_id", "vec_id"],
            )
            .filter(F.col("adc_score") != F.col("__post"))
            .count()
        )
        brute = sim.knn_join(queries, final, k=5).select("q_id", "vec_id")
        n_true = brute.count()
        pre_hit = brute.join(
            pre.select("q_id", "vec_id"), ["q_id", "vec_id"]
        ).count()
        post_hit = brute.join(
            post.select("q_id", "vec_id"), ["q_id", "vec_id"]
        ).count()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    row = (
        sums["n_vectors"],
        sums["ids_hi"],
        sums["ids_lo"],
        n_codes_retry == n_emb and n_lists_retry == n_emb,
        len(sizes2) > len(sizes),
        cold_ok,
        codes_mism == 0,
        mism == 0,
        n_score_mism == 0,
        max(sizes2.values()) < max(sizes.values()),
        post_hit >= pre_hit,
        post_hit >= 0.10 * n_true,
    )
    return spark.createDataFrame([row], schema)


def dedup_simhash_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row census of the xxhash64 SimHash near-dup path (r8
    VERDICT item 8: ns_dedup_simhash back in the catalog with a
    recall-style oracle). The candidate set depends on the hash
    family (xxhash64 has no DuckDB twin — the md5 variant
    ns_dedup_simhash_md5 pins the bit-level math cross-engine), so
    the portable claims are: (a) the doc census and the EXACT count
    of byte-identical duplicate pairs (both engines compute these
    exactly); (b) recall floor: identical text => identical tokens
    => identical 64-bit sketch => hamming 0, which shares every
    pigeonhole chunk — so every exact-dup pair MUST appear among the
    candidates (checked by an anti-join, earned not assumed); (c)
    every emitted pair is within the hamming budget and canonical
    (id_a < id_b, no repeats). A banding or packing regression
    breaks (b) or (c) and flips a boolean."""
    dd.release_scratch()
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.simhash_candidates(docs, max_hamming=3).localCheckpoint(
        eager=False
    )
    groups = dd.exact_duplicates(docs).select("doc_ids")
    dup_pairs = (
        groups.select(F.explode("doc_ids").alias("id_a"), "doc_ids")
        .select("id_a", F.explode("doc_ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    n_dup = dup_pairs.agg(
        F.count("*").cast("bigint").alias("n_exact_dup_pairs")
    )
    missed = dup_pairs.join(
        pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    ).agg(F.count("*").alias("__missed"))
    stats = pairs.agg(
        F.coalesce(F.min(F.col("hamming") <= 3), F.lit(True)).alias(
            "__within"
        ),
        F.coalesce(F.min(F.col("id_a") < F.col("id_b")), F.lit(True)).alias(
            "__canon"
        ),
        (
            F.count("*")
            == F.count_distinct(F.col("id_a"), F.col("id_b"))
        ).alias("__uniq"),
    )
    return (
        docs.agg(F.count("*").cast("bigint").alias("n_docs"))
        .crossJoin(F.broadcast(n_dup))
        .crossJoin(F.broadcast(missed))
        .crossJoin(F.broadcast(stats))
        .select(
            "n_docs",
            "n_exact_dup_pairs",
            (F.col("__missed") == 0).alias("exact_dups_covered"),
            F.col("__within").alias("all_within_hamming"),
            (F.col("__canon") & F.col("__uniq")).alias("pairs_canonical"),
        )
    )


def hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounds-style oracle for the binary-sketch rerank path
    (similarity.hamming_topk, the round-7 packed sign-sketch kernel):
    (a) the query census, (b) every query finds ITSELF somewhere in
    its top-k (its own sketch agrees on all m bits, so only an
    identical-sketch vector can outrank it — and then only k-1 of
    them would have to, impossible for k=5 at fixture densities),
    (c) mean recall@5 vs brute-force cosine clears a bound with
    margin (measured 0.45-0.60 across sf0.001-0.1: the fixture's
    brute-force top-5 sit in near-flat cosine bands that ANY sketch
    blurs — 1024 planes only reach 0.59 at sf0.1 — so the bound is
    0.35, >=1.28x under every measured SF; in the high-cosine rerank
    regime the operator exists for, agreement ordering is far
    sharper). All three computed for
    real on the Spark side; the hit set itself has no portable SQL
    twin (256 plane-dot folds would be a megabyte of oracle SQL —
    the 8-plane lsh_ann entry already pins the hyperplane math
    cross-engine)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    brute = sim.knn_join(queries, emb, k=5).select("q_id", "vec_id")
    approx = sim.hamming_topk(queries, emb, k=5)
    self_hits = approx.filter(
        F.col("q_id") == F.col("vec_id")
    ).select("q_id")
    hits = brute.join(approx.select("q_id", "vec_id"), ["q_id", "vec_id"])
    return (
        queries.select("q_id")
        .agg(F.count("*").cast("bigint").alias("n_queries"))
        .crossJoin(
            F.broadcast(
                self_hits.agg(F.count("*").alias("__n_self")).crossJoin(
                    hits.agg(F.count("*").alias("__n_hit")).crossJoin(
                        brute.agg(F.count("*").alias("__n_true"))
                    )
                )
            )
        )
        .select(
            "n_queries",
            (F.col("__n_self") == F.col("n_queries")).alias(
                "all_self_found"
            ),
            (F.col("__n_hit") >= 0.35 * F.col("__n_true")).alias(
                "mean_recall_ge_035"
            ),
        )
    )


def pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounds-style oracle for the product-quantization path
    (operators/similarity.pq_train/pq_encode/pq_adc_topk), the analog
    of ns_ivf_recall: the codebook is trained, so the cross-engine-
    checkable claims are (a) the query census, (b) every query's OWN
    vector ranks 1 in its ADC top-k (its code reconstructs closest to
    itself — measured 100% at every fixture SF), and (c) recall@5 vs
    brute force clears a bound with ~2x margin (measured 0.34-0.48
    across SFs at m=8, k*=16; bound 0.2). PQ compresses the 64-dim
    float vectors to 8 one-byte codes (~32x), which is why the codes
    table — the only thing ADC search touches — fits at corpus scales
    where raw vectors cannot."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    book = sim.pq_train(emb, m=8, num_centroids=16, iterations=2)
    codes = sim.pq_encode_fast(emb, book, m=8)
    approx = sim.pq_adc_topk(queries, codes, book, k=5, m=8)
    brute = sim.knn_join(queries, emb, k=5).select("q_id", "vec_id")
    self_hits = approx.filter(
        (F.col("rank") == 1) & (F.col("q_id") == F.col("vec_id"))
    ).select("q_id")
    hits = brute.join(approx.select("q_id", "vec_id"), ["q_id", "vec_id"])
    return (
        queries.select("q_id")
        .agg(F.count("*").cast("bigint").alias("n_queries"))
        .crossJoin(
            F.broadcast(
                self_hits.agg(F.count("*").alias("__n_self")).crossJoin(
                    hits.agg(F.count("*").alias("__n_hit")).crossJoin(
                        brute.agg(F.count("*").alias("__n_true"))
                    )
                )
            )
        )
        .select(
            "n_queries",
            (F.col("__n_self") == F.col("n_queries")).alias(
                "all_self_rank1"
            ),
            (F.col("__n_hit") >= 0.2 * F.col("__n_true")).alias(
                "recall_ge_020"
            ),
        )
    )


def ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounds-style oracle for the composed IVF-PQ index (r10,
    operators/similarity.ivf_pq_topk — residual-encoded inverted
    lists + probe-limited ADC, the IndexIVFPQ operating point). The
    trained parts make raw hits non-replayable, so the portable
    claims are the census pattern of ns_ivf_recall / ns_pq_recall:
    (a) the query census; (b) every query finds ITSELF at rank 1 —
    earned twice over: cosine probing always visits the query's own
    list (same ranking as the assignment), and the residual code of
    the query reconstructs closest to itself (measured 100% at every
    fixture SF); (c) recall@5 vs brute force clears 0.15 with
    ~1.6x margin — measured 0.280 / 0.240 / 0.300 at sf0.001 / 0.01
    / 0.1 (bounds-at-every-SF rule), against 0.56-0.60 for
    uncompressed IVF at the same probe budget: the gap IS the ~32x
    compression's price, the trade a 100 TB corpus takes to make the
    scan side codes-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    approx = sim.ivf_pq_topk(
        queries, emb, k=5, num_centroids=8, nprobe=2, m=8,
        pq_centroids=16,
    )
    brute = sim.knn_join(queries, emb, k=5).select("q_id", "vec_id")
    self_hits = approx.filter(
        (F.col("rank") == 1) & (F.col("q_id") == F.col("vec_id"))
    ).select("q_id")
    hits = brute.join(approx.select("q_id", "vec_id"), ["q_id", "vec_id"])
    return (
        queries.select("q_id")
        .agg(F.count("*").cast("bigint").alias("n_queries"))
        .crossJoin(
            F.broadcast(
                self_hits.agg(F.count("*").alias("__n_self")).crossJoin(
                    hits.agg(F.count("*").alias("__n_hit")).crossJoin(
                        brute.agg(F.count("*").alias("__n_true"))
                    )
                )
            )
        )
        .select(
            "n_queries",
            (F.col("__n_self") == F.col("n_queries")).alias(
                "all_self_rank1"
            ),
            (F.col("__n_hit") >= 0.15 * F.col("__n_true")).alias(
                "recall_ge_015"
            ),
        )
    )


def media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque media payloads — byte-range slicing
    with built-ins only (no Python in the loop); the oracle mirrors
    the same slices over the blob in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.documents_as_media(docs)
    return mm.frame_sample(media, stride=64, frame=16).select(
        F.col("media_id").cast("bigint").alias("media_id"),
        # hex rendering for cross-engine comparison (DuckDB cannot
        # slice BLOBs; slicing the hex equals hexing the slices).
        # Joined to a flat string: the driver canonicalizes results in
        # pandas, which can't sort/hash list cells.
        F.array_join(
            F.transform("frames", lambda b: F.hex(b)), ","
        ).alias("frames_hex"),
    )


def _sql_minhash_sig() -> str:
    mins = ",\n        ".join(
        f"""list_min(list_transform(sh, s -> md5(s || '|{j}'))) AS mh_{j}"""
        for j in range(MINHASH_K)
    )
    return f"""
      WITH shed AS (
        SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents
      ),
      sig AS (
        SELECT doc_id,
        {mins}
        FROM shed
      )"""


def _sql_bands() -> str:
    rows = MINHASH_K // LSH_BANDS
    selects = []
    for b in range(LSH_BANDS):
        cols = " || '|' || ".join(
            f"mh_{j}" for j in range(b * rows, (b + 1) * rows)
        )
        selects.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS h FROM sig"
        )
    return " UNION ALL ".join(selects)


_SQL_MINHASH_CAND = (
    _sql_minhash_sig()
    + f""",
      banded AS ({_sql_bands()}),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
      )"""
)

_SQL_JACCARD_PAIRS = f"""
      shed2 AS (
        SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents
      ),
      posts AS (
        SELECT doc_id, len(sh) AS set_size, unnest(sh) AS shingle FROM shed2
      ),
      jac AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(count(*) AS DOUBLE)
                 / CAST(a.set_size + b.set_size - count(*) AS DOUBLE),
                 6) AS jaccard
        FROM posts a
        JOIN posts b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.set_size, b.set_size
        HAVING count(*) * {JACCARD_DEN}
          >= {JACCARD_NUM} * (a.set_size + b.set_size - count(*))
      )"""

# df-cut variant (mirrors ngram_jaccard_pairs(max_df=MAX_DF)): drop
# shingles present in more than MAX_DF documents, recompute per-doc
# set sizes over the kept shingles, then the same posting-list join.
_SQL_JACCARD_PAIRS_CUT = f"""
      shed2 AS (
        SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents
      ),
      posts0 AS (
        SELECT doc_id, unnest(sh) AS shingle FROM shed2
      ),
      kept AS (
        SELECT doc_id, shingle,
               count(*) OVER (PARTITION BY doc_id) AS set_size
        FROM posts0
        WHERE shingle IN (
          SELECT shingle FROM posts0
          GROUP BY shingle HAVING count(*) <= {MAX_DF})
      ),
      jac AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(count(*) AS DOUBLE)
                 / CAST(a.set_size + b.set_size - count(*) AS DOUBLE),
                 6) AS jaccard
        FROM kept a
        JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.set_size, b.set_size
        HAVING count(*) * {JACCARD_DEN}
          >= {JACCARD_NUM} * (a.set_size + b.set_size - count(*))
      )"""


# --------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------
def topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k neighbours of the min-id embedding. Fully
    declarative: the query vector joins in as a broadcast single row;
    ranking is TakeOrderedAndProject on the exact score."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.agg(F.min("vec_id").alias("qid"))
    q = emb.join(qrow, emb.vec_id == qrow.qid, "left_semi").select(
        F.col("embedding").alias("qvec")
    )
    from ..functions.vectors import cosine_similarity

    scored = emb.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        cosine_similarity(F.col("embedding"), F.col("qvec")).alias("__exact"),
    )
    return (
        scored.orderBy(F.col("__exact").desc(), F.col("vec_id"))
        .limit(TOPK)
        .select("vec_id", F.round("__exact", 6).alias("cos_sim"))
    )


def filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search — the PRE-filter strategy: the
    label constraint restricts the corpus BEFORE any distance is
    computed (broadcast equality probe on the query's own label), so
    selectivity cuts scan+scoring cost proportionally. The
    alternative (post-filtering a top-k) under-fills k whenever the
    constraint is selective — the classic filtered-ANN pitfall this
    query's shape avoids. At index scale the same predicate prunes
    IVF partition files (the write-time layout ivf_save produces)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.agg(F.min("vec_id").alias("qid"))
    q = emb.join(qrow, emb.vec_id == qrow.qid, "left_semi").select(
        F.col("embedding").alias("qvec"), F.col("label").alias("qlabel")
    )
    from ..functions.vectors import cosine_similarity

    scored = (
        emb.join(F.broadcast(q), emb.label == F.col("qlabel"))
        .select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("label").cast("bigint").alias("label"),
            cosine_similarity(F.col("embedding"), F.col("qvec")).alias(
                "__exact"
            ),
        )
    )
    return (
        scored.orderBy(F.col("__exact").desc(), F.col("vec_id"))
        .limit(TOPK)
        .select("vec_id", "label", F.round("__exact", 6).alias("cos_sim"))
    )


def knn_join_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force k-NN join for a deterministic 5-query subset
    (vec_id % 100 == 0): broadcast queries x corpus, window top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return sim.knn_join(queries, emb, k=5).select(
        F.col("q_id").cast("bigint").alias("q_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "cos_sim",
        "rank",
    )


def lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate k-NN (scale path). Oracle-checked:
    the deterministic hyperplanes are embedded as literals in the
    DuckDB twin, so the exact bucketing — not just row shape — is
    verified cross-engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return sim.lsh_bucketed_topk(queries, emb, k=5)


def _sql_hyperplane_bucket(num_planes: int = 8, dim: int = 64) -> str:
    """DuckDB twin of similarity.hyperplane_sketch: bit i = 1 iff
    dot(embedding, plane_i) > 0, packed into an integer. The planes
    are the same xorshift64-derived literals the Spark side embeds
    (similarity._deterministic_planes), emitted via repr so both
    engines parse the identical double; the dot fold is the same
    left-to-right reduce as _SQL_COS_EXACT, so the sign — and hence
    the bucket — is bit-identical cross-engine."""
    planes = sim._deterministic_planes(num_planes, dim)
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        dotexpr = (
            "list_reduce(list_transform(range(1, len(embedding)+1), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({lit}::DOUBLE[])[i]), "
            "(x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {dotexpr} > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + "\n         + ".join(terms) + ")"


# Exact cosine fold — identical operand order to functions/vectors.py.
_SQL_COS_EXACT = """(
        list_reduce(list_transform(range(1, len(embedding)+1),
          i -> CAST(embedding[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)),
          (x, y) -> x + y)
        / (sqrt(list_reduce(list_transform(range(1, len(embedding)+1),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             (x, y) -> x + y))
         * sqrt(list_reduce(list_transform(range(1, len(qvec)+1),
             i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)),
             (x, y) -> x + y))))"""


def vec_class_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class separation report: per-label centroid
    (the per-dimension mean, one map-combinable posexplode groupBy —
    the ivf_train idiom) and the pairwise centroid cosine matrix —
    the diagnostics a pipeline runs to check whether labels are
    linearly separable / collapsing before training a probe.
    Cross-engine float discipline: centroid coordinates are rounded
    to 6 BEFORE the cosine (avg fold order differs between engines at
    ~1e-13; rounding first makes the cosine inputs bit-identical),
    and the cosine fold is the same left-to-right reduce as
    _SQL_COS_EXACT."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cvec")
        )
    )
    from ..functions.vectors import cosine_similarity

    a = cent.select(
        F.col("label").alias("label_a"), F.col("cvec").alias("__va")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("cvec").alias("__vb")
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            F.col("label_a").cast("bigint").alias("label_a"),
            F.col("label_b").cast("bigint").alias("label_b"),
            F.round(
                cosine_similarity(F.col("__va"), F.col("__vb")), 6
            ).alias("cos_sim"),
        )
    )


MRL_DIM = 16  # prefix dims for the matryoshka truncation probe


def vec_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension truncation probe (Kusupati et al.
    2022, arXiv 2205.13147): search with only the FIRST 16 of 64
    embedding dims (4x cheaper distance + 4x smaller index) and
    measure per-query recall@5 against full-dimension ground truth —
    the measurement a pipeline runs before committing to truncated
    vectors. Both searches are deterministic brute force (ties broken
    by id), so the oracle checks the exact per-query recall values,
    like ns_lsh_recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    truth = sim.knn_join(queries, emb, k=5).select("q_id", "vec_id")
    emb_t = emb.select(
        "vec_id", F.slice("embedding", 1, MRL_DIM).alias("embedding")
    )
    q_t = queries.select(
        "q_id", F.slice("embedding", 1, MRL_DIM).alias("embedding")
    )
    approx = sim.knn_join(q_t, emb_t, k=5).select("q_id", "vec_id")
    hits = (
        truth.join(approx, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    per_q = truth.groupBy("q_id").agg(
        F.count("*").cast("bigint").alias("n_true")
    )
    return per_q.join(hits, ["q_id"], "left").select(
        F.col("q_id").cast("bigint").alias("q_id"),
        "n_true",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        F.round(
            F.coalesce("n_hits", F.lit(0)) / F.col("n_true"), 4
        ).alias("recall"),
    )


# --------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tx.language_id(docs).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang_pred", "ratio"
    )


def vec_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding distribution drift between two cohorts — the ML-ops
    monitor that fires before a model silently degrades: split the
    store into reference/current by a deterministic md5 coin, then
    compare (a) the per-dimension mean vectors (L1 shift) and (b)
    the mean squared norms. All exact-integer (the linalg pattern,
    DESIGN.md #24): micro-unit quantization, DECIMAL(38) cohort
    sums, and the mean differences cleared of division by
    cross-multiplying — |S_ref·n_cur − S_cur·n_ref| is an exact
    integer; ONE shared division by n_ref·n_cur at the end, round6.
    On the fixture's hash split both shifts are near 0 (same
    distribution) — the value is the exact, engine-agreed zero
    point a real drift alarm thresholds against."""
    from ..operators.linalg import _xint

    emb = load_table(spark, sf_dir, "embeddings")
    coh = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("id").cast("string"), F.lit(":drift"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    ).alias("coh")
    x = _xint(emb, "vec_id", "embedding").select("id", "dim", "x", coh)
    d38 = "decimal(38,0)"
    n = (
        x.select("id", "coh")
        .dropDuplicates()
        .groupBy("coh")
        .agg(F.count("*").cast(d38).alias("n"))
    )
    n_ref = n.filter(F.col("coh") == 0).select(
        F.col("n").alias("n_ref")
    )
    n_cur = n.filter(F.col("coh") == 1).select(
        F.col("n").alias("n_cur")
    )
    # Cast BEFORE aggregating (r8 advisory): summing x / x*x in LONG
    # wraps silently at ~9e6 unit-ish vectors (x~1e6 micro, x^2~1e12,
    # int64 ceiling ~9.2e18) while the DuckDB oracle sums in HUGEINT.
    # DECIMAL(38) accumulation keeps both engines exact at any n the
    # 38-digit headroom covers (~1e26 vectors).
    sums = x.groupBy("dim", "coh").agg(
        F.sum(F.col("x").cast(d38)).alias("s"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("q"),
    )
    ref = sums.filter(F.col("coh") == 0).select(
        "dim", F.col("s").alias("s0"), F.col("q").alias("q0")
    )
    cur = sums.filter(F.col("coh") == 1).select(
        F.col("dim").alias("__d"),
        F.col("s").alias("s1"),
        F.col("q").alias("q1"),
    )
    per_dim = (
        ref.join(cur, ref.dim == F.col("__d"))
        .crossJoin(n_ref)
        .crossJoin(n_cur)
        .select(
            F.abs(
                F.col("s0") * F.col("n_cur") - F.col("s1") * F.col("n_ref")
            ).alias("mnum"),
            (
                F.col("q0") * F.col("n_cur") - F.col("q1") * F.col("n_ref")
            ).alias("qnum"),
            "n_ref",
            "n_cur",
        )
    )
    agg = per_dim.groupBy("n_ref", "n_cur").agg(
        F.sum("mnum").alias("msum"), F.sum("qnum").alias("qsum")
    )
    den = (F.col("n_ref") * F.col("n_cur")).cast("double") * F.lit(
        1_000_000.0
    )
    return agg.filter(
        (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    ).select(
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.round(F.col("msum").cast("double") / den, 6).alias(
            "l1_mean_shift"
        ),
        F.round(
            F.abs(F.col("qsum")).cast("double")
            / (
                (F.col("n_ref") * F.col("n_cur")).cast("double")
                * F.lit(1e12)
            ),
            6,
        ).alias("norm2_shift"),
    )


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the memorization-risk audit for
    training corpora: what fraction of each document's distinct
    8-gram shingles also appear in at least one OTHER document
    (shared mass ~1 means the doc is assembled from corpus
    boilerplate; the doc-level signal behind ExactSubstr-style
    dedup). One corpus-level shingle document-frequency hash-agg,
    joined back to the per-doc shingle relation — linear in shingle
    volume, no pair space anywhere. novelty = one shared division,
    round6. Returns the 20 LEAST novel docs (most boilerplate), id
    tiebreak."""
    from ..functions.textfns import shingles

    docs = load_table(spark, sf_dir, "documents")
    # posts feeds the per-doc census AND the df aggregate below —
    # deliberately left UNpersisted: an r14 _scratch_persist was
    # measured at sf0.1 and LOST (the persist serializes branches
    # Spark runs concurrently; same trade as minhash_calibration's
    # r9/r14 notes).
    posts = (
        docs.select(
            F.col("doc_id").alias("id"),
            F.explode(shingles(F.lower(F.col("text")), 8)).alias("sh"),
        ).dropDuplicates()
    )
    # n_shared = n_shingles - (shingles unique to the doc): a shingle
    # with document-frequency 1 names its sole owner, so the unique
    # counts come out of the SAME groupBy that computes the df census
    # and the former join-back of the full posting relation onto the
    # df table (a second posting-volume shuffle, r14 guide §2.4)
    # drops out. posts is distinct (id, sh), so max(id) is the sole
    # owner exactly when the count is 1.
    n_per_doc = posts.groupBy("id").agg(
        F.count("*").cast("bigint").alias("n_shingles")
    )
    uniq = (
        posts.groupBy("sh")
        .agg(F.count("*").alias("__df"), F.max("id").alias("id"))
        .filter(F.col("__df") == 1)
        .groupBy("id")
        .agg(F.count("*").alias("__n_uniq"))
    )
    per_doc = n_per_doc.join(uniq, ["id"], "left").select(
        "id",
        "n_shingles",
        (F.col("n_shingles") - F.coalesce(F.col("__n_uniq"), F.lit(0)))
        .cast("bigint")
        .alias("n_shared"),
    )
    scored = per_doc.select(
        F.col("id").cast("bigint").alias("doc_id"),
        "n_shingles",
        "n_shared",
        F.round(
            F.col("n_shared").cast("double")
            / F.col("n_shingles").cast("double"),
            6,
        ).alias("shared_ratio"),
    )
    from ..functions.ranking import ranked_limit

    return ranked_limit(
        scored,
        [F.col("shared_ratio").desc(), F.col("doc_id")],
        20,
    ).select("rank", "doc_id", "n_shingles", "n_shared", "shared_ratio")


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a first-class query: the confusion
    matrix of the stopword-ratio language ID against the corpus's
    ground-truth ``lang`` label — (lang_true, lang_pred, n,
    frac_of_true). The census every data-quality pipeline runs
    before trusting a heuristic gate: one join of the prediction
    relation to the label column, one hash-agg, one per-true-class
    window for the row-normalized fraction (classes ~3, never
    global). frac = one shared division, round6."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    pred = tx.language_id(docs).select("doc_id", "lang_pred")
    truth = docs.select("doc_id", F.col("lang").alias("lang_true"))
    cm = (
        truth.join(pred, ["doc_id"])
        .groupBy("lang_true", "lang_pred")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = F.sum("n").over(Window.partitionBy("lang_true"))
    return cm.select(
        "lang_true",
        "lang_pred",
        "n",
        F.round(F.col("n").cast("double") / tot.cast("double"), 6).alias(
            "frac_of_true"
        ),
    )


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tx.token_stats(docs)


def quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tx.quality_score(docs)


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tx.fingerprints(docs, n=FP_N)


def _sql_stop_ratio(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"""round(CAST(len(list_filter(string_split(lower(text), ' '),
      t -> t IN ({lst}))) AS DOUBLE)
      / CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 6)"""


# Shared quality-score CTE (the SQL twin of operators/text.quality_score)
# — used verbatim by ns_pipeline_e2e and ns_quality_calibration so the
# two oracles can never drift apart.
_SQL_QUALITY_Q_CTE = f"""q AS (
          SELECT doc_id, text, n_chars,
            round(0.4 * least(
                    CAST(len(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0)
                + 0.3 * (CASE WHEN round(
                    (CAST(length(text) AS DOUBLE)
                     - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1))
                    / CAST(len(string_split(text, ' ')) AS DOUBLE), 6)
                    BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END)
                + 0.3 * least(
                    {_sql_stop_ratio(tx.STOPWORDS["en"])} * 10.0, 1.0),
              6) AS quality
          FROM documents)"""


# --------------------------------------------------------------------
# Multimodal
# --------------------------------------------------------------------
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 bigrams (operators/text.top_ngrams): explode →
    count → TakeOrderedAndProject with a total tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.top_ngrams(docs, n=2, k=20)


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition filters (operators/
    text.repetition_stats): duplicate-token fraction + most-frequent-
    2-gram character coverage, the standard boilerplate screens a
    training pipeline runs before sampling."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.repetition_stats(docs)


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality scoring (operators/text.
    unigram_logprob): per-doc mean unigram log-likelihood under the
    corpus's own distribution — the LM-proxy filter, with the vocab
    as a broadcast dimension."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.unigram_logprob(docs)


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order LM-proxy scoring (operators/text.bigram_logprob):
    per-doc mean add-one-smoothed bigram log-likelihood under the
    corpus's own model — the sequence-aware step up from
    ns_text_unigram_logprob (shuffled/templated text separates from
    fluent text here, not there). Bigrams are built in-array
    (map-only), counts join by key, V and the unigram table
    broadcast; ln + round(6) float policy."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        tx.bigram_logprob(docs)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "n_bigrams",
            "mean_bigram_logprob",
        )
        .orderBy("doc_id")
    )


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of ln(frequency) on ln(rank) over
    the top-256 token types — the corpus-health diagnostic
    complementing ns_text_vocab_stats' hapax share (natural text
    slopes near -1; template-saturated corpora flatten, boilerplate
    steepens the head). The top set is a TakeOrdered (no global
    sort); the rank window runs over that BOUNDED 256-row relation
    only. ln + round(6) float policy; closed-form OLS, same
    spelling as the exact-integer trend operator but in doubles."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select(
            F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("__n"))
    )
    top = per.orderBy(F.col("__n").desc(), "w").limit(256)
    w = Window.orderBy(F.col("__n").desc(), "w")
    pts = top.withColumn("r", F.row_number().over(w)).select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("__n").cast("double")).alias("y"),
    )
    n = F.count(F.lit(1))
    agg = pts.agg(
        n.cast("bigint").alias("n_points"),
        F.round(
            (n * F.sum(F.col("x") * F.col("y"))
             - F.sum("x") * F.sum("y"))
            / (n * F.sum(F.col("x") * F.col("x"))
               - F.sum("x") * F.sum("x")),
            6,
        ).alias("zipf_slope"),
    )
    return agg.where(F.col("n_points") > 1)


def vec_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding mean/std (operators/similarity.
    dimension_stats): the normalization/whitening pass statistics and
    the dead-dimension audit, computed from exact micro-unit integer
    sums with one final double division per metric — engine-identical
    by construction."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.dimension_stats(emb)


def vector_scalar_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization of the embedding corpus
    (operators/similarity.scalar_quantize): 4x compression with
    per-vector dequant params, map-only, exact-integer error
    accounting."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.scalar_quantize(emb)


def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators/text.
    chunk_documents): 64-token windows, stride 48 — the
    context-window prep pass for training sequences and retrieval
    corpora, map-only until a consumer aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.chunk_documents(docs, chunk_tokens=64, stride=48)


def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic sampling without replacement
    (operators/corpus.weighted_sample): 50 docs drawn with inclusion
    probability proportional to n_chars — 'prefer long documents'
    made reproducible and shuffle-free."""
    docs = load_table(spark, sf_dir, "documents")
    return cp.weighted_sample(docs, k=50, weight_col="n_chars").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        "sample_key",
    )


def vec_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding store via exact-
    integer power iteration (operators/linalg.power_iteration_top):
    the spectral diagnostic for embedding collapse (one direction
    dominating = redundant representations). Every intermediate is an
    exact integer (micro-unit quantization, DECIMAL(38) Gram sums,
    infinity-norm normalization) with one correctly-rounded double
    division per coordinate per round, so the oracle — the SAME eight
    iterations unrolled as CTEs over HUGEINT — hash-matches exactly;
    no tolerance compare anywhere."""
    from ..operators import linalg as la

    emb = load_table(spark, sf_dir, "embeddings")
    return la.power_iteration_top(emb)


_GRAM_CTES = [
    """xint AS MATERIALIZED (
          SELECT vec_id AS id,
                 unnest(range(0, len(embedding))) AS dim,
                 unnest(list_transform(embedding,
                   e -> CAST(floor(CAST(e AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT))) AS x
          FROM embeddings)""",
    """s AS MATERIALIZED (
          SELECT a.dim AS i, b.dim AS j,
                 sum(CAST(a.x AS HUGEINT) * b.x) AS s
          FROM xint a JOIN xint b USING (id) GROUP BY 1, 2)""",
]


def _power_round_ctes(iterations: int, mat: str = "s") -> list[str]:
    """The shared quantize -> exact-HUGEINT Gram -> infinity-norm
    power rounds, unrolled (aggregation is not allowed in a recursive
    CTE term, so this mirrors _pagerank_sql's unrolled-iteration
    pattern in catalog.py). MATERIALIZED is load-bearing: DuckDB
    re-inlines multiply-referenced CTEs, which makes the round chain
    exponential without it. ``mat`` names the (i, j, s) matrix the
    rounds multiply by — the raw Gram ('s') or the centered scatter
    ('cm')."""
    ctes = [
        *_GRAM_CTES,
        """v0 AS MATERIALIZED (SELECT DISTINCT dim,
                         CAST(1000000 AS HUGEINT) AS v FROM xint)""",
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"""w{k} AS MATERIALIZED (
          SELECT {mat}.i AS dim, sum({mat}.s * v{k - 1}.v) AS w
          FROM {mat} JOIN v{k - 1} ON v{k - 1}.dim = {mat}.j GROUP BY 1)"""
        )
        ctes.append(f"m{k} AS MATERIALIZED (SELECT max(abs(w)) AS m FROM w{k})")
        ctes.append(
            f"""v{k} AS MATERIALIZED (
          SELECT dim, CAST(floor(CAST(w AS DOUBLE)
                           / (SELECT CAST(m AS DOUBLE) FROM m{k})
                           * 1000000 + 0.5) AS HUGEINT) AS v
          FROM w{k})"""
        )
    return ctes


_CENTER_CTES = [
    """t AS MATERIALIZED (
          SELECT dim, sum(CAST(x AS HUGEINT)) AS t
          FROM xint GROUP BY 1)""",
    """cnt AS MATERIALIZED (
          SELECT CAST(count(*) AS HUGEINT) AS n FROM embeddings)""",
    """cm AS MATERIALIZED (
          SELECT s.i, s.j,
                 s.s * (SELECT n FROM cnt) - ti.t * tj.t AS s
          FROM s JOIN t ti ON ti.dim = s.i
                 JOIN t tj ON tj.dim = s.j)""",
]


def _pca_sql(
    iterations: int = 8, top_dims: int = 8, centered: bool = False
) -> str:
    """vec_pca_power / vec_pca_centered oracle: the identical power
    rounds (over the raw Gram, or the exact-integer centered scatter
    n*S - t t^T), then the ranked top-|loading| projection + Rayleigh
    eigenvalue (centered: divided by n^2 — the variance along the
    direction)."""
    mat = "cm" if centered else "s"
    rounds = _power_round_ctes(iterations, mat)
    ng = len(_GRAM_CTES)
    ctes = (
        rounds[:ng] + _CENTER_CTES + rounds[ng:] if centered else rounds
    )
    last = f"v{iterations}"
    ev_scale = (
        "/ CAST((SELECT n * n FROM cnt) AS DOUBLE)" if centered else ""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
        num AS (
          SELECT sum({mat}.s * vi.v * vj.v) AS num
          FROM {mat} JOIN {last} vi ON vi.dim = {mat}.i
                 JOIN {last} vj ON vj.dim = {mat}.j),
        den AS (SELECT sum(v * v) AS den FROM {last}),
        ev AS (
          SELECT floor(CAST(num.num AS DOUBLE)
                       / CAST(den.den AS DOUBLE)
                       / 1e12 {ev_scale} * 1e6 + 0.5) / 1e6 AS eigval
          FROM num, den)
        SELECT CAST(row_number() OVER (ORDER BY abs(v) DESC, dim)
                    AS BIGINT) AS rank,
               CAST(dim AS BIGINT) AS dim,
               CAST(v AS BIGINT) AS loading_micro,
               ev.eigval AS eigval
        FROM {last}, ev
        ORDER BY abs(v) DESC, dim LIMIT {top_dims}"""
    )


def vec_pca_centered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True covariance top direction: power iteration on the CENTERED
    scatter M = n*S - t t^T (operators/linalg.centered_scatter) —
    when embeddings share a bias, the uncentered top direction
    (ns_vec_pca_power) is just that mean; this is the direction of
    maximal VARIANCE, with eigval the variance along it. Every M
    entry is still an exact integer (centering without a mean
    division), so the oracle hash-matches the unrolled rounds."""
    from ..operators import linalg as la

    emb = load_table(spark, sf_dir, "embeddings")
    return la.power_iteration_top(emb, centered=True)


def vec_principal_extremes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Outlier detection along the dominant principal direction
    (operators/linalg.principal_extremes): the 10 most extreme
    embeddings at each end of the corpus's top eigenvector — where a
    mislabeled batch, a drifted source, or collapsed boilerplate
    surfaces first. The projection sum_dim x_dim*v_dim is an exact
    integer (no division anywhere past the shared power rounds), so
    the oracle replays it bit-for-bit."""
    from ..operators import linalg as la

    emb = load_table(spark, sf_dir, "embeddings")
    return la.principal_extremes(emb)


def _principal_extremes_sql(iterations: int = 8, k: int = 10) -> str:
    ctes = _power_round_ctes(iterations)
    last = f"v{iterations}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
        proj AS MATERIALIZED (
          SELECT id, sum(CAST(x AS HUGEINT) * v) AS proj
          FROM xint JOIN {last} ON {last}.dim = xint.dim
          GROUP BY id),
        hi AS (
          SELECT 'high' AS side, CAST(id AS BIGINT) AS id,
                 CAST(proj AS BIGINT) AS proj_micro2
          FROM proj ORDER BY proj DESC, id LIMIT {k}),
        lo AS (
          SELECT 'low' AS side, CAST(id AS BIGINT) AS id,
                 CAST(proj AS BIGINT) AS proj_micro2
          FROM proj ORDER BY proj ASC, id LIMIT {k})
        SELECT * FROM hi UNION ALL SELECT * FROM lo"""
    )


def vec_spectral_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row spectral concentration report
    (operators/linalg.spectral_summary): exact-integer trace +
    squared Frobenius norm of the Gram matrix, participation-ratio
    effective rank (sum lambda)^2 / (sum lambda^2) — the
    embedding-collapse scalar that needs NO eigendecomposition — and
    the dominant diagonal direction. Complements ns_vec_pca_power
    (which direction) with how-concentrated."""
    from ..operators import linalg as la

    emb = load_table(spark, sf_dir, "embeddings")
    return la.spectral_summary(emb)


_SPECTRAL_SQL = (
    "WITH "
    + ",\n".join(_GRAM_CTES)
    + """,
    agg AS (
      SELECT sum(CASE WHEN i = j THEN s END) AS tr,
             sum(s * s) AS frob2
      FROM s),
    topd AS (
      SELECT i AS top_dim, s AS smax FROM s WHERE i = j
      ORDER BY s DESC, i LIMIT 1),
    cnt AS (
      SELECT count(*) AS n_vectors, max(len(embedding)) AS dim
      FROM embeddings)
    SELECT CAST(n_vectors AS BIGINT) AS n_vectors,
           CAST(dim AS BIGINT) AS dim,
           floor(CAST(tr AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6
             AS trace_value,
           floor(CAST(tr AS DOUBLE) * CAST(tr AS DOUBLE)
                 / nullif(CAST(frob2 AS DOUBLE), 0)
                 * 1e6 + 0.5) / 1e6 AS effective_rank,
           CAST(top_dim AS BIGINT) AS top_dim,
           floor(CAST(smax AS DOUBLE)
                 / nullif(CAST(tr AS DOUBLE), 0)
                 * 1e6 + 0.5) / 1e6 AS top_dim_share
    FROM agg, topd, cnt"""
)


def corpus_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source census of square-root temperature sampling
    (operators/corpus.temperature_sample, alpha=0.5): every source
    thinned with keep probability sqrt(n_min/n_source) — the
    mC4/mT5-style rebalancing curve between no-op (alpha=1) and the
    hard floor of class_balance (alpha=0). The threshold
    floor(65536*sqrt(n_min/n)) is derived with correctly-rounded IEEE
    ops only (sqrt, not pow — pow may differ across libm builds), so
    both engines make identical keep decisions. Output (source,
    n_docs, n_kept); the minority source keeps all rows."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        cp.temperature_sample(docs, class_col="source")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("keep").cast("long"))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


def events_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile estimation via an equi-width histogram
    sketch — the 100 TB alternative to engine-specific quantile
    sketches (Spark's QuantileSummaries and DuckDB's approx sketch
    cannot be cross-merged or cross-checked; integer bucket counts
    merge EXACTLY by addition on any engine). Pass 1 binds (lo, hi,
    n, exact p50/p90/p99) in one aggregate; pass 2 builds per-DAY
    128-bucket histograms (hash-agg, map-combinable) and merges them
    to the month by summing counts — the rollup no raw re-read ever
    touches; the quantile estimate reads the merged histogram's
    cumulative counts (a 128-row broadcast self-join, no global
    window). The within_bucket booleans are a DATA-DEPENDENT check,
    not a guarantee (r8 advisory): the estimate is the upper edge of
    the bucket holding the ceil(p*n)-th ORDER STATISTIC, while
    exact_pXX is the INTERPOLATED percentile at rank 1+(n-1)p — on
    sparse/clustered data those two ranks can straddle a wide value
    gap (e.g. even n, p50 interpolating between far-apart values),
    so a boolean can legitimately read false with both engines
    agreeing; vs the non-interpolated order statistic the estimate
    IS always within one bucket. Every number both engines emit
    derives from
    identical integer counts and correctly-rounded double arithmetic,
    so the comparison is an exact hash match, not a tolerance."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    nb = 128
    row = ev.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count("*").alias("n"),
        F.percentile(
            "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
        ).alias("ex"),
    ).first()
    lo, hi, n = row["lo"], row["hi"], row["n"]
    schema = (
        "n_events bigint, est_p50 double, est_p90 double,"
        " est_p99 double, exact_p50 double, exact_p90 double,"
        " exact_p99 double, p50_within_bucket boolean,"
        " p90_within_bucket boolean, p99_within_bucket boolean"
    )
    if not n:
        return spark.createDataFrame([], schema)
    w = (hi - lo) / nb
    bucket = (
        F.when(F.lit(w) == 0.0, F.lit(0))
        .otherwise(
            F.least(
                F.lit(nb - 1),
                F.floor((F.col("value") - F.lit(lo)) / F.lit(w)),
            )
        )
        .cast("long")
    )
    daily = (
        ev.select(
            F.date_trunc("day", F.col("ts")).alias("__day"),
            bucket.alias("__b"),
        )
        .groupBy("__day", "__b")
        .agg(F.count("*").alias("__c"))
    )
    hist = daily.groupBy("__b").agg(F.sum("__c").alias("__c"))
    h2 = hist.select(
        F.col("__b").alias("__b2"), F.col("__c").alias("__c2")
    )
    cum = (
        hist.join(F.broadcast(h2), F.col("__b2") <= F.col("__b"))
        .groupBy("__b")
        .agg(F.sum("__c2").alias("__cum"))
    )
    import math

    outs = []
    for p, ex in zip((0.5, 0.9, 0.99), row["ex"]):
        target = math.ceil(p * n)
        qb = cum.filter(F.col("__cum") >= F.lit(target)).agg(
            F.min("__b").alias("qb")
        )
        est = qb.select(
            (F.lit(lo) + (F.col("qb") + 1) * F.lit(w)).alias("est")
        )
        outs.append((est, float(ex)))
    e50, e90, e99 = (o[0] for o in outs)
    x50, x90, x99 = (o[1] for o in outs)
    tol = 1.000001 * w if w else 1e-9
    return (
        e50.select(F.col("est").alias("__e50"))
        .crossJoin(e90.select(F.col("est").alias("__e90")))
        .crossJoin(e99.select(F.col("est").alias("__e99")))
        .select(
            F.lit(n).cast("bigint").alias("n_events"),
            F.round("__e50", 6).alias("est_p50"),
            F.round("__e90", 6).alias("est_p90"),
            F.round("__e99", 6).alias("est_p99"),
            F.round(F.lit(x50), 6).alias("exact_p50"),
            F.round(F.lit(x90), 6).alias("exact_p90"),
            F.round(F.lit(x99), 6).alias("exact_p99"),
            (F.abs(F.col("__e50") - F.lit(x50)) <= F.lit(tol)).alias(
                "p50_within_bucket"
            ),
            (F.abs(F.col("__e90") - F.lit(x90)) <= F.lit(tol)).alias(
                "p90_within_bucket"
            ),
            (F.abs(F.col("__e99") - F.lit(x99)) <= F.lit(tol)).alias(
                "p99_within_bucket"
            ),
        )
    )


def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge-step statistics: the 20 most frequent adjacent
    CHARACTER pairs inside whitespace tokens (ties broken
    lexicographically) — the corpus census a byte-pair-encoding
    tokenizer trainer computes every merge round; its hot loop is
    exactly this hash-agg, so the scale shape (explode to pairs, one
    map-combinable count, TakeOrdered top-k, no window) is the one
    that matters at 100 TB. Pair extraction is a transform over
    sequence(1, len-1) — array HOFs are CodegenFallback, but the
    per-element work is a 2-char substring, far below the Arrow
    round-trip break-even measured for the vector kernels."""
    from ..functions.ranking import ranked_limit

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return ranked_limit(
        counts, [F.col("n").desc(), F.col("pair")], 20
    ).select("rank", "pair", "n")


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey-scoped conversion attribution — the marketing-
    analytics classic: every 'purchase' is attributed to the FIRST
    and LAST touch (view/click) in its journey, where a journey is
    everything since the user's previous purchase (count of prior
    purchases via a per-user cumulative window, the standard
    journey id). Touch extraction is first/last IGNORE NULLS over
    the (user, journey) window; purchases with no touches attribute
    to 'direct'. Census by (first_touch, last_touch) with conversion
    counts, touch volume, and revenue in order-free DECIMAL(18,2).
    All windows are user- or journey-partitioned (never global);
    ties break on event_id, which is unique, so both engines order
    identically."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    j = F.coalesce(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).over(wu.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    s = ev.withColumn("j", j)
    wj = (
        Window.partitionBy("user_id", "j")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    touch = F.when(
        F.col("event_type").isin("view", "click"), F.col("event_type")
    )
    marked = s.select(
        "event_type",
        "value",
        F.first(touch, ignorenulls=True).over(wj).alias("ft"),
        F.last(touch, ignorenulls=True).over(wj).alias("lt"),
        F.sum(touch.isNotNull().cast("long")).over(wj).alias("nt"),
    )
    conv = marked.filter(F.col("event_type") == "purchase")
    return conv.groupBy(
        F.coalesce("ft", F.lit("direct")).alias("first_touch"),
        F.coalesce("lt", F.lit("direct")).alias("last_touch"),
    ).agg(
        F.count("*").cast("bigint").alias("n_conversions"),
        F.sum("nt").cast("bigint").alias("n_touches"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge TRAINING (operators/text.bpe_train): 8 greedy merge
    rounds over the corpus word-frequency table — the tokenizer-
    trainer loop itself, where ns_text_bpe_pairs is only its
    round-1 census. Returns the learned merge table (merge_round,
    left_tok, right_tok, merged, pair_count) — the artifact a
    tokenizer ships. State is the distinct-word token table (cost
    O(vocab x word length) per round, corpus mass rides the integer
    freq weight); greedy left-to-right merging is closed-form window
    arithmetic (left != right pairs can never overlap; left = right
    runs merge at odd in-run ranks), so the DuckDB oracle replays
    all 8 rounds as unrolled MATERIALIZED CTEs and the merge tables
    hash-match."""
    from ..operators.text import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(docs, rounds=8)


def _bpe_round_ctes(rounds: int, final: str = "merges") -> str:
    """Unrolled-round CTE chain for the BPE oracles — same generator
    pattern as _power_round_ctes (every multiply-referenced CTE
    MATERIALIZED, or DuckDB re-inlines the whole chain per reference
    and goes exponential). ``final``: 'merges' selects the learned
    merge table; 'census' selects the top-20 applied-token census
    from the final state weighted by word frequency."""
    parts = [
        """
        w0 AS MATERIALIZED (
          SELECT w, CAST(count(*) AS BIGINT) AS freq
          FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                FROM documents)
          WHERE length(w) >= 1 GROUP BY 1),
        s0raw AS (
          SELECT w, freq,
                 CAST(unnest(range(1, length(w) + 1)) AS INT) AS i
          FROM w0),
        s0 AS MATERIALIZED (
          SELECT w, freq, i - 1 AS pos, substr(w, i, 1) AS tok
          FROM s0raw)
        """
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""
        p{r} AS MATERIALIZED (
          SELECT w, freq, pos, tok,
                 lead(tok) OVER (PARTITION BY w ORDER BY pos) AS nxt
          FROM s{r - 1}),
        b{r} AS MATERIALIZED (
          SELECT tok AS a, nxt AS b, CAST(sum(freq) AS BIGINT) AS n
          FROM p{r} WHERE nxt IS NOT NULL
          GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1),
        i{r} AS MATERIALIZED (
          SELECT p.*, b.a, b.b,
                 sum(CASE WHEN p.tok = b.a THEN 1 ELSE 0 END)
                   OVER (PARTITION BY p.w ORDER BY p.pos
                         ROWS UNBOUNDED PRECEDING) AS cum_a
          FROM p{r} p CROSS JOIN b{r} b),
        k{r} AS MATERIALIZED (
          SELECT *, row_number() OVER (
                   PARTITION BY w,
                     CASE WHEN tok = a THEN pos - cum_a
                          ELSE -pos - 1 END
                   ORDER BY pos) AS rk
          FROM i{r}),
        m{r} AS MATERIALIZED (
          SELECT *, (tok = a AND coalesce(nxt = b, FALSE)
                     AND (a <> b OR rk % 2 = 1)) AS start
          FROM k{r}),
        n{r} AS MATERIALIZED (
          SELECT *, coalesce(lag(start) OVER (
                   PARTITION BY w ORDER BY pos), FALSE) AS consumed
          FROM m{r}),
        s{r} AS MATERIALIZED (
          SELECT w, freq,
                 CAST(row_number() OVER (
                   PARTITION BY w ORDER BY pos) AS INT) - 1 AS pos,
                 CASE WHEN start THEN a || b ELSE tok END AS tok
          FROM n{r} WHERE NOT consumed)
        """
        )
    if final == "census":
        tail = f"""
        SELECT CAST(row_number() OVER (ORDER BY n DESC, tok)
                    AS BIGINT) AS rank, tok, n
        FROM (SELECT tok, CAST(sum(freq) AS BIGINT) AS n
              FROM s{rounds} GROUP BY 1)
        ORDER BY n DESC, tok LIMIT 20
        """.strip()
    else:
        unions = "\n          UNION ALL ".join(
            f"SELECT {r} AS merge_round, a AS left_tok, b AS right_tok,"
            f" a || b AS merged, n AS pair_count FROM b{r}"
            for r in range(1, rounds + 1)
        )
        tail = f"{unions}\n        ORDER BY merge_round"
    return (
        "WITH " + ",".join(p.strip() for p in parts)
        + f"\n        {tail}"
    )


def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-APPLY closure of the tokenizer loop
    (operators/text.bpe_token_census): after the 8 learned merges,
    the top-20 subword tokens by corpus-weighted count. Application
    costs nothing beyond training: tokenization is deterministic per
    distinct word, so the trainer's final vocab-keyed state IS the
    applied tokenization and corpus counts are per-word counts times
    the exact integer word frequency — never a second corpus pass.
    The oracle reuses the training CTE chain and reads the final
    state instead of the merge table."""
    from ..operators.text import bpe_token_census

    docs = load_table(spark, sf_dir, "documents")
    return bpe_token_census(docs, rounds=8, k=20)


def corpus_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language census of the data-driven rebalancing sampler
    (operators/corpus.class_balance): every language thinned toward
    the minority-language count by an exact-integer hash test
    (h16 * n_lang < n_min * 65536 — no float rates, so every keep/
    drop decision is engine-identical). Output (lang, n_docs,
    n_kept): n_kept ~= n_min per language, and the minority language
    keeps all rows exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        cp.class_balance(docs, class_col="lang")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("keep").cast("long"))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 bigrams by pointwise mutual
    information with a min-count floor (rare-pair PMI explodes, the
    classic correction). Three corpus-level hash-aggs (bigrams,
    unigrams, totals) with the unigram table broadcast into the
    scoring join; PMI = ln(P(ab)/(P(a)P(b))) from exact integer
    counts, rounded before the top-k cut with a bigram tiebreak."""
    from ..functions.textfns import shingles, tokens

    docs = load_table(spark, sf_dir, "documents")
    toks_long = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("w")
    )
    uni = toks_long.groupBy("w").agg(F.count("*").alias("n_w"))
    tot_u = uni.agg(F.sum("n_w").alias("t_u"))
    bg_long = docs.select(
        F.explode(
            shingles(F.lower(F.col("text")), 2, distinct=False)
        ).alias("bg")
    ).filter(F.size(F.split("bg", " ")) == 2)
    bg = bg_long.groupBy("bg").agg(F.count("*").alias("n_bg"))
    tot_b = bg.agg(F.sum("n_bg").alias("t_b"))
    scored = (
        bg.filter(F.col("n_bg") >= 5)
        .withColumn("w1", F.split("bg", " ").getItem(0))
        .withColumn("w2", F.split("bg", " ").getItem(1))
        .join(F.broadcast(uni.select(F.col("w").alias("w1"),
                                     F.col("n_w").alias("n_1"))), ["w1"])
        .join(F.broadcast(uni.select(F.col("w").alias("w2"),
                                     F.col("n_w").alias("n_2"))), ["w2"])
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_b))
        .select(
            "bg",
            F.col("n_bg").cast("bigint").alias("n_bg"),
            F.round(
                F.log(
                    (F.col("n_bg") / F.col("t_b"))
                    / ((F.col("n_1") / F.col("t_u"))
                       * (F.col("n_2") / F.col("t_u")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "bg").limit(20)


def events_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over per-user event-type sets:
    support, confidence and lift for every ordered type pair — the
    co-occurrence mining pass (A-priori's 2-itemset stage). The
    basket relation is the DISTINCT (user, type) projection; the pair
    space is a self-join on user_id bounded by the tiny type domain,
    and supports stay exact integers until the single final division
    (identical integer operands both engines, so the doubles match
    bit-for-bit before the shared round)."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").dropDuplicates()
    cnt = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_t")
    )
    tot = ut.agg(F.countDistinct("user_id").alias("n_users"))
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("lhs"),
            F.col("b.event_type").alias("rhs"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    return (
        pairs.join(
            F.broadcast(cnt.select(F.col("event_type").alias("lhs"),
                                   F.col("n_t").alias("n_a"))), ["lhs"]
        )
        .join(
            F.broadcast(cnt.select(F.col("event_type").alias("rhs"),
                                   F.col("n_t").alias("n_b"))), ["rhs"]
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "lhs",
            "rhs",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("confidence"),
            F.round(
                F.col("n_ab") * F.col("n_users") / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


def events_robust_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median/MAD z-scores
    (3 x 1.4826 x MAD fence) — the screen that survives the outliers
    it hunts, unlike mean/stddev. Three hash-agg passes (median, MAD,
    census), each map-side combinable with the tiny per-type stats
    broadcast back. Median and MAD are ROUNDED (6) before the fence
    comparison on BOTH engines, so the threshold is one shared double
    and boundary rows cannot flip on last-ulp interpolation
    differences (the rel_price_quantiles lesson applied to a
    decision boundary)."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    d = ev.join(F.broadcast(med), ["event_type"]).select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("__dev"),
    )
    m2 = d.groupBy("event_type", "med").agg(
        F.round(F.expr("percentile(__dev, 0.5)"), 6).alias("mad")
    )
    return (
        d.join(F.broadcast(m2), ["event_type", "med"])
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                (
                    F.col("__dev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad")
                ).cast("long")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention analysis: users grouped by first-seen week,
    counted distinct per week offset — the engagement matrix every
    event pipeline reports. Two hash-aggs (first-seen per user, then
    the cohort x offset census) with the per-user cohort table
    re-joined on user_id; at 100 TB the first agg is map-side
    combinable and the join shuffles on the same user_id key both
    sides, so AQE coalesces into one co-partitioned exchange."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("wk")
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        ev.join(first, ["user_id"])
        .select(
            "user_id",
            "cohort_week",
            F.floor(F.datediff("wk", "cohort_week") / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


def events_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU engagement + stickiness (DAU/MAU) per day —
    the product-analytics vital signs. Scale design: sliding-window
    DISTINCT counts don't map-side combine, so the corpus first
    collapses to the distinct (day, user) relation (the engagement
    atom — linear in activity, tiny vs raw events), and the trailing
    7/30-day rollups are CALENDAR-BOUNDED self-joins of day pairs
    (≤30 partner days per day) followed by countDistinct — never a
    window over raw events and never a per-user state scan.
    Stickiness is the single shared division, round6."""
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(
            (
                F.unix_timestamp(F.date_trunc("day", F.col("ts")))
                / F.lit(86400)
            )
            .cast("bigint")
            .alias("d"),
            "user_id",
        )
        .dropDuplicates()
    )
    days = du.select("d").dropDuplicates()
    dau = du.groupBy("d").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    # trailing windows: pair each day with partner activity days in
    # (d-6, d] / (d-29, d] — the join is bounded by the calendar.
    d2 = du.select(F.col("d").alias("ad"), "user_id")
    wau = (
        days.join(
            d2,
            (F.col("ad") <= F.col("d")) & (F.col("ad") > F.col("d") - 7),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )
    mau = (
        days.join(
            d2,
            (F.col("ad") <= F.col("d"))
            & (F.col("ad") > F.col("d") - 30),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("mau"))
    )
    return (
        dau.join(wau, ["d"])
        .join(mau, ["d"])
        .select(
            F.col("d").alias("day_num"),
            "dau",
            "wau",
            "mau",
            F.round(
                F.col("dau").cast("double") / F.col("mau").cast("double"),
                6,
            ).alias("stickiness"),
        )
    )


def events_seq_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining: the top-20 event-type TRIGRAMS
    across per-user ordered streams — the path-analysis census
    (what do users do in threes) complementing the first-order
    Markov matrix (ns_events_transitions) with second-order context.
    One user-partitioned window (two leads), one map-combinable
    hash-agg, TakeOrdered top-k with a lexicographic tiebreak — the
    same scale shape as the BPE pair census. Ties in ts break on the
    unique event_id, so both engines order streams identically."""
    from pyspark.sql.window import Window

    from ..functions.ranking import ranked_limit

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            "event_type",
            F.lead("event_type", 1).over(w).alias("t1"),
            F.lead("event_type", 2).over(w).alias("t2"),
        )
        .filter(F.col("t2").isNotNull())
        .select(
            F.concat_ws(
                ">", F.col("event_type"), F.col("t1"), F.col("t2")
            ).alias("trigram")
        )
    )
    counts = tri.groupBy("trigram").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return ranked_limit(
        counts, [F.col("n").desc(), F.col("trigram")], 20
    ).select("rank", "trigram", "n")


def events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type — the median of pairwise
    slopes (Theil 1950 / Sen 1968), the outlier-proof sibling of the
    OLS slope in ns_events_trend (one corrupted day moves OLS, but
    not the slope median). Scale shape: the pair space is over DAILY
    AGGREGATES per type (days², ~10³ pairs per type at any corpus
    size — the corpus collapses into the exact DECIMAL day sums
    first), so the self-join is bounded by the calendar, never the
    event count. Each slope is ONE double division of exact inputs
    (decimal value delta / integer day delta); the median
    interpolates identically in both engines ((a+b)/2 on even
    counts). Returns (event_type, n_days, ts_slope round6)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("d"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
        .withColumn(
            "dn", (F.unix_timestamp("d") / F.lit(86400)).cast("bigint")
        )
    )
    a = daily.select(
        "event_type",
        F.col("dn").alias("d1"),
        F.col("v").alias("v1"),
    )
    b = daily.select(
        F.col("event_type").alias("__et"),
        F.col("dn").alias("d2"),
        F.col("v").alias("v2"),
    )
    pairs = a.join(
        b,
        (a.event_type == F.col("__et")) & (F.col("d1") < F.col("d2")),
    ).select(
        "event_type",
        (
            (F.col("v2") - F.col("v1")).cast("double")
            / (F.col("d2") - F.col("d1")).cast("double")
        ).alias("slope"),
    )
    ndays = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days")
    )
    med = pairs.groupBy("event_type").agg(
        F.round(F.percentile("slope", F.lit(0.5)), 6).alias("ts_slope")
    )
    return ndays.join(med, ["event_type"], "left").select(
        "event_type", "n_days", "ts_slope"
    )


def events_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend slope of value over time — drift detection
    for event streams. The whole regression is ONE map-side-combinable
    hash-agg of four running sums; the closed-form slope
    (n*sxy - sx*sy)/(n*sxx - sx^2) is computed from EXACT integer
    sums (event time as whole SECONDS since the min timestamp, value
    in micro-units, sums in DECIMAL(38) / HUGEINT) so both engines
    divide the same two integers — the DESIGN.md #8 discipline
    applied to regression. Slope unit: micro-value per second.

    x is seconds, not microseconds, for decimal(38) headroom: with
    x ~ T (range seconds) the worst closed-form product is
    n*sxx ~ n^2 * T^2, which for microsecond x overflows 1e38 around
    n=3e5 events/type over a year (Spark non-ANSI then yields silent
    NULL slopes, DuckDB HUGEINT errors — divergent engines). Seconds
    keep n^2*T^2 < 1e38 up to ~1e10 events/type over a year; beyond
    that, center x per group before the sums.

    The denominator is 0 when a type has one event or all-identical
    timestamps (slope undefined); both engines make that case an
    EXPLICIT NULL via nullif(den, 0) rather than relying on
    division-by-zero behavior, which differs across engines."""
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.agg(F.min("ts").alias("__t0"))
    dec = "decimal(38,0)"
    b = ev.crossJoin(F.broadcast(t0)).select(
        "event_type",
        (F.unix_timestamp("ts") - F.unix_timestamp("__t0"))
        .cast(dec)
        .alias("x"),
        F.floor(F.col("value") * 1e6).cast(dec).alias("y"),
    )
    s = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.nullif(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        ),
        F.lit(0.0),
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(num / den, 6).alias("slope"),
    )


def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type CUSUM change-point detection over the event stream
    (operators/timeseries.cusum_change_points): where did each
    event_type's mean value most likely shift? The engine runs the
    distributed two-pass prefix scan (day-chunked windows + broadcast
    chunk offsets — no global sort); the oracle states the sequential
    definition as ONE DuckDB window, so a green row proves the
    chunked scan equals the textbook cumulative sum exactly
    (decimal/HUGEINT integers end to end, one final division)."""
    ev = load_table(spark, sf_dir, "events")
    return tss.cusum_change_points(ev)


def fuzzy_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution via blocked edit-distance join
    (operators/joins.edit_distance_join): customer and supplier
    numeric identities within one edit of each other, candidates
    blocked on the 7-digit prefix so the cross product never forms —
    the fuzzy-matching primitive for reconciling entity tables that
    disagree by typos."""
    from ..operators.joins import edit_distance_join

    # Key = the segment after the FIRST '#' (split_part semantics,
    # mirrored in the oracle), NOT substring_index(-1): scalebench's
    # replicated fixtures append '#k' to names, and taking the LAST
    # segment collapsed every replica into one 1-char key -> three
    # giant blocks -> quadratic blowup (measured 341x at a 4x step).
    # Blocking keys must come from the stable id segment.
    cust = load_table(spark, sf_dir, "customer").select(
        F.split("c_name", "#").getItem(1).alias("ckey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.split("s_name", "#").getItem(1).alias("skey")
    )
    return edit_distance_join(
        cust, supp, "ckey", "skey", max_dist=1, block_len=7
    ).select(
        F.col("left_key").alias("customer_sfx"),
        F.col("right_key").alias("supplier_sfx"),
        "edit_dist",
    )


def events_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/incremental): the
    per-(type, day) rollup is maintained as BASE partials (history
    before a cut 7 days after the first event) merged with a DELTA
    batch (everything after), never recomputed from scratch — and the
    merged state is asserted bit-identical to the full recompute by
    the oracle, which is the IVM correctness invariant. Splitting on
    a data-derived cut keeps the query scale-free."""
    from ..operators import incremental as inc

    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(
        (F.min("ts") + F.expr("INTERVAL 7 DAYS")).alias("__cut")
    )
    keyed = ev.crossJoin(F.broadcast(cut)).withColumn(
        "day", F.to_date("ts")
    )
    keys = ["event_type", "day"]
    base = inc.partial_value_aggs(keyed.filter(F.col("ts") < F.col("__cut")), keys)
    delta = inc.partial_value_aggs(keyed.filter(F.col("ts") >= F.col("__cut")), keys)
    return inc.merge_partials(base, delta, keys).select(
        "event_type",
        "day",
        F.col("n_events").cast("bigint").alias("n_events"),
        "sum_value_micro",
        "min_value_micro",
        "max_value_micro",
    )


def table_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality audit (operators/audit):
    completeness, uniqueness, row invariants, and referential
    integrity over the fixture warehouse, each table audited in one
    aggregation pass, FKs as broadcast anti-join counts. The gate a
    pipeline runs before trusting a new snapshot."""
    from ..operators import audit as au

    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    parts = [
        au.audit_metrics(
            docs,
            "documents",
            nulls=("text", "lang"),
            unique=("doc_id",),
            invariants=(
                ("n_chars_mismatch", F.col("n_chars") == F.length("text")),
            ),
        ),
        au.audit_metrics(
            events,
            "events",
            nulls=("ts",),
            unique=("event_id",),
            invariants=(("value_negative", F.col("value") >= 0),),
        ),
        au.fk_violations(
            orders, customer, "o_custkey", "c_custkey",
            "orders.o_custkey_orphans",
        ),
        au.fk_violations(
            lineitem, orders, "l_orderkey", "o_orderkey",
            "lineitem.l_orderkey_orphans",
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-window duplication profile (operators/dedup.
    substring_dup_stats): the ExactSubstr-style pass that MinHash
    whole-doc dedup can't replace — per-doc fraction of 8-token
    windows whose verbatim text occurs more than once in the corpus
    (cross-doc boilerplate and within-doc repetition both count)."""
    dd.release_scratch()
    docs = load_table(spark, sf_dir, "documents")
    return dd.substring_dup_stats(docs, k=8)


def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint census over the documents table
    (operators/text.winnow_fingerprints, k=5-token shingles, w=4
    windows): per doc, how many k-grams, how many winnowed
    fingerprints survive, and how many of those fingerprints occur in
    other documents — the MOSS-style partial-overlap signal at ~1/w
    the index cost of the full ExactSubstr window table."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.winnow_fingerprints(docs, k=5, w=4)


def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-by-source provenance audit
    (operators/text.source_overlap_matrix): which sources share
    winnowed fingerprints with which — cross-source boilerplate,
    mirrored scrapes, and wholesale copying show up as high
    containment-style overlap_coef (shared / smaller side's
    fingerprint count). Same winnowing guarantee as
    ns_text_winnowing; output is source-pair-bounded, never
    doc-pair-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.source_overlap_matrix(docs, k=5, w=4)


def text_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source chi-square keyness (operators/text.keyness): the
    top-5 terms most over-represented in each source vs the rest of
    the corpus — each source's domain signature, the curation-time
    drift alarm. Exact DECIMAL(38) contingency products, one shared
    division, round(6) before the per-source top-k."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.keyness(docs, min_count=5, topk=5)


def text_dsir_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scoring (operators/text.dsir_importance):
    per-doc mean log-ratio of unigram likelihood under the target
    slice (lang='en' — the fixture's in-domain stand-in) vs the raw
    corpus, add-one smoothed. The data-selection knob: resampling by
    exp(score) tilts a crawl toward the target domain."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.dsir_importance(docs, F.col("lang") == "en")


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (operators/text.pii_scrub) over a
    deterministically PII-laced derivation of the documents table.

    The fixture text is clean word-salad, so the query first embeds
    synthetic PII derived from doc_id — an email, a dotted-quad IP, a
    phone number, and (for every third doc) a second cc email — then
    counts and redacts. Both engines build the identical dirty string,
    so the oracle checks the full regex scan/replace chain, not a
    trivially-zero corpus. Map-only end to end: derivation, counting,
    redaction, and hashing all sit in one codegen stage."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact u"), did.cast("string"),
        F.lit("@ex"), (did % 7).cast("string"),
        F.lit(".com from 10."), (did % 200).cast("string"),
        F.lit(".0."), (did % 250).cast("string"),
        F.lit(" tel +15550"), (did % 100000 + 100000).cast("string"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" cc u"), did.cast("string"), F.lit("@alt.org")),
        ).otherwise(F.lit("")),
    )
    return tx.pii_scrub(docs.select("doc_id", dirty.alias("text")))


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalization census (operators/text.normalize_text)
    over a deterministically-dirtied derivation of documents: every
    third doc is left in its (already-normal) raw form, the rest get
    case-flipped and a punctuated trailer appended — so ``changed``
    splits the corpus and the lowercase/strip/collapse/trim chain is
    exercised on real work, not no-ops. Map-only, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    messy = F.when(did % 3 == 0, F.col("text")).otherwise(
        F.concat(
            F.when(did % 2 == 0, F.upper(F.col("text"))).otherwise(
                F.col("text")
            ),
            F.lit("  [EOF-"), did.cast("string"), F.lit("]!!"),
        )
    )
    return tx.normalize_text(docs.select("doc_id", messy.alias("text")))


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (operators/sketches): the
    bounded-memory frequency path for when the key space outgrows an
    exact hash-agg. Here the exact top-10 tokens anchor the oracle
    (deterministic cnt-then-token boundary) and the sketch estimate
    is checked against the CMS guarantees as cross-engine booleans:
    ``lower_ok`` (est >= exact — unconditional) and ``within_tol``
    (est <= exact + 2*(e/width)*N — the eps*N bound with 2x margin;
    deterministic for the fixed xxhash64 seeds, verified at every
    driver SF). The sketch build is one explode + one map-side-
    combinable hash-agg capped at depth*width counters; the probe
    broadcast-joins that counter table."""
    import math

    from ..operators import sketches as sk

    depth, width = 4, 1024
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    exact = toks.groupBy("token").agg(
        F.count("*").cast("bigint").alias("exact_cnt")
    )
    top = exact.orderBy(F.col("exact_cnt").desc(), "token").limit(10)
    sketch = sk.cms_build(toks, "token", depth=depth, width=width)
    est = sk.cms_estimate(
        sketch, top.select("token"), "token", depth=depth, width=width
    )
    tot = toks.agg(F.count("*").cast("double").alias("__n"))
    return (
        top.join(est, ["token"])
        .crossJoin(F.broadcast(tot))
        .select(
            "token",
            "exact_cnt",
            (F.col("cms_est") >= F.col("exact_cnt")).alias("lower_ok"),
            (
                F.col("cms_est")
                <= F.col("exact_cnt")
                + F.lit(2.0 * math.e / width) * F.col("__n")
            ).alias("within_tol"),
        )
    )


def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order keys for the events table (operators/layout.zvalue):
    interleave (user_id, floor(value)) bits into the Morton code that
    write_zordered clusters by — the multi-dimension data-skipping
    layout (min/max prunes on BOTH dims). Per-row so the oracle pins
    every interleave exactly; one codegen'd bit expression, zero
    shuffles. The write/prune round-trip itself is pinned by
    test_zorder_layout_prunes_partitions."""
    from ..operators.layout import zvalue

    ev = load_table(spark, sf_dir, "events")
    a = F.pmod(F.col("user_id").cast("long"), F.lit(65536))
    b = F.least(F.floor(F.col("value")).cast("long"), F.lit(65535))
    return ev.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        zvalue(a, b).alias("z"),
    )


def layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve keys for the events table (r10,
    operators/layout.with_hilbert_value) — the locality-superior
    sibling of ns_layout_zorder over the SAME (user_id,
    floor(value)) dimensions: consecutive Hilbert points are always
    Manhattan-distance 1 (z-order's worst quadrant-boundary jump is
    the full grid side — test_hilbert_adjacency_beats_zorder), so
    range-partitioning by h yields tighter per-file min/max boxes
    for the same file count. Per-row so the oracle replays all 16
    state-machine levels exactly (unrolled MATERIALIZED CTEs over
    the same literal tables); zero shuffles, no UDF — one staged
    projection per bit level. The write/prune round-trip is pinned
    by test_hilbert_layout_prunes_partitions."""
    from ..operators.layout import with_hilbert_value

    ev = load_table(spark, sf_dir, "events")
    staged = ev.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.pmod(F.col("user_id").cast("long"), F.lit(65536)).alias(
            "__a"
        ),
        F.least(
            F.floor(F.col("value")).cast("long"), F.lit(65535)
        ).alias("__b"),
    )
    return with_hilbert_value(staged, "__a", "__b", "h", bits=16).select(
        "event_id", "h"
    )


def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event exponentially-weighted moving average of the user's
    trailing event values (r10) — the smoothing primitive behind
    velocity/anomaly features, with the decay chosen for the
    CROSS-ENGINE CONTRACT: alpha = 1/2, truncated at 32 taps.
    Dyadic weights 2^(31-j) are exact integers, value folds in exact
    cents, so numerator and denominator are exact BIGINTs and the
    single division at the end is the only float op (DESIGN.md float
    policy — same reason temperature sampling pins alpha = 0.5).
    Truncation error vs the infinite EWMA is < 2^-32 of the value
    range — below the round(6) quantum for any real data.

    Spelled as 32 lag() terms over one (user, time)-ordered window —
    no self-join, no UDF; both engines fold the identical taps. Taps
    j >= the row's 0-based position contribute to NEITHER sum (the
    partial-window normalization every EWMA implementation needs —
    the rn > j guard), so early rows average only what exists.
    Per-user partitions, never a global window."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rn = F.row_number().over(w)
    staged = ev.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        cents.alias("__c"),
        rn.alias("__rn"),
        F.col("user_id"),
        F.col("ts"),
    )
    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for j in range(32):
        wgt = 1 << (31 - j)
        tap = F.lag("__c", j).over(w)
        have = F.col("__rn") > F.lit(j)
        num = num + F.when(
            have, F.coalesce(tap, F.lit(0)) * F.lit(wgt)
        ).otherwise(F.lit(0))
        den = den + F.when(have, F.lit(wgt)).otherwise(F.lit(0))
    return staged.select(
        "event_id",
        F.round(
            num.cast("double") / (den.cast("double") * F.lit(100.0)), 6
        ).alias("ewma"),
    )


def vec_dim_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension five-number summary of the embedding corpus
    (r10) — the statistics a robust scaler / outlier clip needs
    before normalization (min, quartiles, max per dim), and the
    per-dim twin of ns_embedding_norm_stats' per-vector view. Group
    count is bounded by d (64 here), so the exact percentile
    aggregate sorts ~n values per dim-group — fine at fixture scale
    and the oracle anchor; the 100 TB path swaps in
    approx_percentile over the identical plan (the
    rel_price_quantiles precedent) since exact per-group collection
    is the known cost of exact quantiles. percentile/quantile_cont
    use the same linear interpolation on identical doubles (the
    theil_sen float-parity precedent; re-checked at sf0.1), outputs
    rounded 6. NULL vectors drop in the explode on both engines;
    NULL elements are skipped by both aggregates."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        )
    )
    return (
        x.groupBy("dim")
        .agg(
            F.count("v").cast("bigint").alias("n"),
            F.round(F.min("v"), 6).alias("v_min"),
            F.round(F.percentile("v", F.lit(0.25)), 6).alias("q1"),
            F.round(F.percentile("v", F.lit(0.5)), 6).alias("med"),
            F.round(F.percentile("v", F.lit(0.75)), 6).alias("q3"),
            F.round(F.max("v"), 6).alias("v_max"),
        )
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            "n",
            "v_min",
            "q1",
            "med",
            "q3",
            "v_max",
        )
        .orderBy("dim")
    )


def quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability audit of the heuristic quality score (r10): is
    the score we GATE the corpus on predictive of the pathologies it
    is meant to proxy? Docs bin by fixed quality decile — map-side
    ``least(floor(q*10), 9)``, never a global ntile window — and
    each bin reports its EXACT byte-duplication rate (share of docs
    whose text has an md5-identical twin anywhere in the corpus) and
    mean length. A score that does not separate dup-heavy from clean
    bins is not earning its QUALITY_CUT. All integers until the two
    per-bin divisions (rate, mean), rounded 6; the dup flag rides
    the same md5-group semi-join as exact dedup."""
    docs = load_table(spark, sf_dir, "documents")
    q = tx.quality_score(docs)
    keys = docs.select("doc_id", F.md5("text").alias("__k"))
    dup_keys = (
        keys.groupBy("__k")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") > 1)
        .select("__k")
    )
    dup_ids = keys.join(dup_keys, ["__k"], "left_semi").select(
        "doc_id", F.lit(1).alias("__dup")
    )
    binned = (
        q.select(
            "doc_id",
            "n_chars",
            F.least(
                F.floor(F.col("quality") * 10).cast("bigint"), F.lit(9)
            ).alias("bin"),
        )
        .join(dup_ids, ["doc_id"], "left_outer")
        .select(
            "bin", "n_chars", F.coalesce("__dup", F.lit(0)).alias("__dup")
        )
    )
    agg = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("__dup").cast("bigint").alias("n_dups"),
        F.sum("n_chars").cast("bigint").alias("__chars"),
    )
    return agg.select(
        "bin",
        "n_docs",
        "n_dups",
        F.round(F.col("n_dups") / F.col("n_docs"), 6).alias("dup_rate"),
        F.round(F.col("__chars") / F.col("n_docs"), 6).alias(
            "mean_chars"
        ),
    ).orderBy("bin")


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top tf-idf term (operators/text.tfidf_top_term):
    the 'what is this doc about' signal for topic binning. Broadcast
    document-frequency join; struct-argmax, no windows."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.tfidf_top_term(docs)


def events_type_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioural-diversity score: Gini impurity of the
    event-type distribution, 1 - sum((c_i/n)^2) = (n^2 - sum c_i^2)
    / n^2 — the concentration/diversity audit entropy would give,
    WITHOUT log (libm-dependent, banned from hash-matched arithmetic
    — DESIGN.md float rules); 0 = every event one type, ->1 = spread
    across many. Two map-combinable hash-aggs, exact integers until
    the one shared division."""
    ev = load_table(spark, sf_dir, "events")
    d38 = "decimal(38,0)"
    per = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("__c")
    )
    agg = per.groupBy("user_id").agg(
        F.sum("__c").cast(d38).alias("__n"),
        F.sum((F.col("__c") * F.col("__c")).cast(d38)).alias("__ss"),
        F.count("*").cast("bigint").alias("n_types"),
    )
    n2 = F.col("__n") * F.col("__n")
    return agg.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("__n").cast("bigint").alias("n_events"),
        "n_types",
        F.round(
            (n2 - F.col("__ss")).cast("double") / n2.cast("double"), 6
        ).alias("gini"),
    )


def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream:
    for each user's time-ordered event sequence, count (event_type ->
    next event_type) pairs and the per-source transition probability
    — the sequence-modeling primitive behind session language models
    and next-action prediction.

    Plan shape: lead() over a window PARTITIONED BY user_id (per-user
    scope — never a global window; the repo's window discipline),
    ordered by (ts, event_id) so ties are deterministic cross-engine;
    then one map-combinable groupBy on the pair. Counts stay integer;
    the probability is the ONE shared division, rounded to 6 (the
    float policy in DESIGN.md #8)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = pairs.groupBy("src").agg(F.sum("n").alias("__t"))
    return pairs.join(F.broadcast(tot), ["src"]).select(
        "src",
        "dst",
        "n",
        F.round(F.col("n") / F.col("__t"), 6).alias("p"),
    )


def text_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary census: total tokens, vocabulary size
    (distinct types), hapax legomena (types occurring once — the
    Zipf-tail health signal: a scraped corpus whose hapax share
    collapses is template-saturated), and the type-token ratio (one
    shared rounded division). One explode + two map-combinable
    hash-aggs; the per-type count table never leaves the executors."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    )
    per = toks.groupBy("w").agg(F.count("*").alias("__n"))
    return per.agg(
        F.sum("__n").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab_size"),
        # count-the-matches, not sum-the-flags: SUM over zero rows is
        # NULL while the oracle's count FILTER is 0 — the empty-input
        # divergence class the --empty sweep exists to catch
        F.count(F.when(F.col("__n") == 1, 1))
        .cast("bigint")
        .alias("n_hapax"),
        F.round(F.count("*") / F.sum("__n"), 6).alias(
            "type_token_ratio"
        ),
    )


def events_type_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group EXACT interpolated quartiles (ordered-set aggregate):
    q1/median/q3 of value per event_type — Spark percentile() and
    DuckDB quantile_cont share the (n-1)*p linear-interpolation
    definition, so the values hash-match after round(6). One hash
    aggregate per group; the per-group sort percentile needs is
    bounded by group size (never a global sort)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("q1"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("median"),
        F.round(F.percentile("value", F.lit(0.75)), 6).alias("q3"),
    )


def events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global decile binning WITHOUT a global sort or global window
    (the NTILE anti-pattern at scale): pass 1 computes the 9 exact
    interpolated decile thresholds in ONE aggregate (Spark
    percentile() == DuckDB quantile_cont, same (n-1)*p linear
    interpolation), rounds them to 6 decimals, and binds them as
    literals (a 1-row first() parameter fetch — the AQE-statistics
    pattern); pass 2 is a map-only CASE-chain bin + hash-agg. Both
    engines bin against the IDENTICAL rounded boundary doubles, and
    the per-bin sum stays exact-integer (value folded to micros)
    per the DESIGN.md #8 float policy."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    qs = [i / 10.0 for i in range(1, 10)]
    row = ev.agg(
        F.percentile("value", F.array(*[F.lit(q) for q in qs])).alias(
            "__t"
        )
    ).first()
    # percentile over ZERO rows is NULL — no thresholds, no bins;
    # every (non-existent) row trivially lands in decile 1 and the
    # group-by below returns the same empty frame the oracle does
    ths = [round(t, 6) for t in (row[0] or [])]
    bin_col = sum(
        (F.col("value") >= F.lit(t)).cast("int") for t in ths
    ) + F.lit(1)
    return (
        ev.select(
            bin_col.cast("bigint").alias("decile"),
            F.round(F.col("value") * 1_000_000)
            .cast("long")
            .alias("__us"),
        )
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("__us").cast("bigint").alias("sum_micros"),
        )
    )


def events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) construction from the event
    stream — the warehouse-loading primitive: per user, collapse
    CONSECUTIVE same-type events into validity episodes
    [valid_from, valid_to) with the successor's start as the end
    (NULL = still open). The classic gaps-and-islands shape: island
    id = cumulative count of type-changes over a PER-USER window
    (ordered (ts, event_id) for cross-engine determinism — never a
    global window), one hash-agg per island, then lead() for the
    interval close."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    isl = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum(
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__island"),
    )
    ep = isl.groupBy("user_id", "__island", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    # __island tiebreak: two consecutive episodes of one user can
    # share valid_from (type change within a single ts tick), and
    # lead() over an ambiguous order is engine-dependent — the island
    # id is the deterministic episode sequence number.
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "__island")
    return ep.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
    )


def events_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (SCD2) dimension lookup — the warehouse staple
    events_scd2 exists to serve: build the user-state dimension from
    the NON-purchase event stream (gaps-and-islands episodes, same
    construction as ns_events_scd2), then join every purchase to the
    episode covering its timestamp (valid_from <= ts < valid_to,
    open episode = NULL valid_to) and census revenue by the state
    the user was in when they bought. Purchases before the user's
    first state event attribute to 'none'.

    Scale shape: the lookup is an equi-join on user_id with the
    interval containment as a post-join range condition — SMJ/BHJ on
    the key, never a BroadcastNestedLoop — and episodes tile each
    user's timeline disjointly, so the join multiplies nothing (the
    left join matches at most one episode per purchase). Revenue
    rides DECIMAL(18,2), cast to double at the end."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    state = ev.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    isl = state.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum(
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__island"),
    )
    ep = isl.groupBy("user_id", "__island", "event_type").agg(
        F.min("ts").alias("valid_from")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "__island")
    dim = ep.select(
        F.col("user_id").alias("d_uid"),
        F.col("event_type").alias("state_type"),
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    )
    fact = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    j = fact.join(
        dim,
        (fact.user_id == dim.d_uid)
        & (dim.valid_from <= fact.ts)
        & (dim.valid_to.isNull() | (fact.ts < dim.valid_to)),
        "left",
    )
    return j.groupBy(
        F.coalesce("state_type", F.lit("none")).alias("state_type")
    ).agg(
        F.count("*").cast("bigint").alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel analysis over the events stream: per user,
    first signup -> first click within 1 hour of it -> first purchase
    within 24 hours of that click; stage = how far the user got
    (1/2/3). The product-analytics query shape (ordered multi-step
    attribution) — pure min-aggregates over timestamp predicates, so
    every boundary is exact cross-engine.

    Plan: three (user) hash-aggs chained by joins on user_id — the
    same shuffle key each stage, so Catalyst reuses the partitioning;
    each stage's input is already the previous stage's (small)
    survivor set."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, ["user_id"])
        .filter(
            (F.col("ts") >= F.col("s_ts"))
            & (F.col("ts") < F.col("s_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, ["user_id"])
        .filter(
            (F.col("ts") >= F.col("c_ts"))
            & (
                F.col("ts")
                < F.col("c_ts") + F.expr("INTERVAL 24 HOURS")
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        s.join(c, ["user_id"], "left_outer")
        .join(p, ["user_id"], "left_outer")
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.when(F.col("p_ts").isNotNull(), F.lit(3))
            .when(F.col("c_ts").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
            .cast("bigint")
            .alias("stage"),
        )
    )


def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: per-event-type
    continuous aggregates at 1-hour and 1-day granularity in one
    result (level column), with the DAY level computed FROM THE HOUR
    LEVEL's partial aggregates — sum of sums, sum of counts — never
    from raw events. That re-aggregation property is the whole point
    of a rollup hierarchy at scale: the day pass touches 24x fewer
    rows than the raw table, and the same cascade extends to
    month/year without ever re-reading raw data. min/max/sum/count
    all cascade exactly; values go through the catalog's proven
    DECIMAL(18,2) cast (the tumbling-window pattern) into integer
    cents so the hour->day re-sum is associativity-proof cross-engine.

    Returns (level, event_type, bucket, n_events, sum_value_cents,
    min_value_cents, max_value_cents)."""
    ev = load_table(spark, sf_dir, "events")
    cents = (
        F.col("value").cast("decimal(18,2)") * 100
    ).cast("bigint")
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            cents.alias("__c"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("__c").cast("bigint").alias("sum_value_cents"),
            F.min("__c").cast("bigint").alias("min_value_cents"),
            F.max("__c").cast("bigint").alias("max_value_cents"),
        )
    )
    daily = (
        hourly.groupBy(
            "event_type", F.date_trunc("day", F.col("bucket")).alias("bucket")
        )
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sum_value_cents").cast("bigint").alias(
                "sum_value_cents"
            ),
            F.min("min_value_cents").cast("bigint").alias(
                "min_value_cents"
            ),
            F.max("max_value_cents").cast("bigint").alias(
                "max_value_cents"
            ),
        )
    )
    return hourly.withColumn("level", F.lit("hour")).unionByName(
        daily.withColumn("level", F.lit("day"))
    ).select(
        "level",
        "event_type",
        "bucket",
        "n_events",
        "sum_value_cents",
        "min_value_cents",
        "max_value_cents",
    )


def events_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1-hour activity per event: a RANGE-interval window
    frame (value-based, not row-count-based — the frame every event
    shares with others in its trailing hour, however many rows that
    is). Complements the ROWS frames elsewhere in the catalog: RANGE
    frames are the time-series shape (rolling rate limits, trailing
    velocity features for fraud/abuse scoring).

    Frame bounds are computed on integer epoch-seconds on both
    engines (Spark unix_timestamp floors; DuckDB epoch cast to BIGINT
    truncates — equal for post-epoch data), and sums fold in DECIMAL
    cents, so frames and values are both exact. Partition key is
    user_id — per-user event streams; a pathologically hot user would
    call for the same salting treatment as the skew-join pair."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    sec = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.count("*").over(w).cast("bigint").alias("n_1h"),
        F.sum(cents).over(w).cast("bigint").alias("sum_1h_cents"),
    )


def events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: distinct users per day via HLL
    SKETCHES (hll_sketch_agg, Apache DataSketches), then the MONTH
    total by UNIONING the daily sketches (hll_union_agg) — the
    companion to ns_events_multires_rollup for the one aggregate that
    does NOT naively cascade: day-level distinct counts cannot be
    summed, but their sketches can be merged, which is how a 100 TB
    hypertable serves "uniques this month" without re-reading raw
    events. Sketch estimates are engine-specific, so the oracle is
    bounds-style (rel_approx_distinct's pattern): exact counts + the
    claims that every daily estimate and the merged-month estimate
    land within 10%, and that the merged-month estimate lands within
    5% of the one-pass estimate. (NOT exact equality: DataSketches
    HLL promotes sparse -> dense at a cardinality threshold, and a
    union of sparse daily sketches can promote differently than one
    directly-built sketch — measured 1488 vs 1499 on 1500 exact at
    sf0.1, both well inside the lgk=12 ~1.6% rse; the round-7 sf0.1
    selfcheck sweep caught the old == claim flipping there.)

    Returns one row: (n_days, exact_month_users, all_days_within_10pct,
    month_within_10pct, merge_within_5pct_of_direct)."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    )
    daily = keyed.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").cast("bigint").alias("exact"),
    )
    daily_ok = daily.select(
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact"))
            <= 0.1 * F.col("exact")
        ).alias("ok")
    ).agg(F.min("ok").alias("all_days_within_10pct"))
    month = daily.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__merged"),
    )
    direct = keyed.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "__direct"
        ),
        F.count_distinct("user_id").cast("bigint").alias(
            "exact_month_users"
        ),
    )
    return (
        month.crossJoin(F.broadcast(direct))
        .crossJoin(F.broadcast(daily_ok))
        .select(
            "n_days",
            "exact_month_users",
            # vacuous truth over zero days — min() over no rows is
            # NULL on Spark while the oracle pins TRUE (the recurring
            # NULL-on-empty-aggregate class; --empty sweep gate)
            F.coalesce("all_days_within_10pct", F.lit(True)).alias(
                "all_days_within_10pct"
            ),
            F.coalesce(
                F.abs(F.col("__merged") - F.col("exact_month_users"))
                <= 0.1 * F.col("exact_month_users"),
                F.lit(True),
            ).alias("month_within_10pct"),
            F.coalesce(
                F.abs(F.col("__merged") - F.col("__direct"))
                <= 0.05 * F.greatest(F.col("__direct"), F.lit(1.0)),
                F.lit(True),
            ).alias("merge_within_5pct_of_direct"),
        )
    )


def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: docs bucketed by whitespace-token count
    (bucket = floor(n/10)*10) — the histogram a pipeline consults to
    set truncation/packing lengths. Pure integer arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    return (
        docs.select(
            (F.floor(n_tok / 10) * 10).cast("bigint").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


# --------------------------------------------------------------------
# Corpus management (operators/corpus.py): split / mixture / decontam /
# packing. All integer arithmetic — exact cross-engine.
# --------------------------------------------------------------------
SPLIT_FRACTIONS = {"train": 0.9, "val": 0.05, "test": 0.05}
MIX_WEIGHTS = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}
MIX_DEFAULT = 0.1
BENCH_MOD = 50  # every 50th doc plays the held-out benchmark set
DECON_MIN_OVERLAP = 2
PACK_CAPACITY = 256
PACK_GROUPS = 8


def _sql_hex16(expr: str) -> str:
    """DuckDB twin of corpus.hash16: first 4 hex chars of md5(expr) as
    an integer in [0, 65536) via positional strpos arithmetic (DuckDB
    has no hex->int conv; same expansion as the simhash oracle)."""
    m = f"md5({expr})"
    return (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr({m},{i + 1},1))-1)"
            f"*{16 ** (3 - i)}"
            for i in range(4)
        )
        + ")"
    )


def _sql_hex60(expr: str) -> str:
    """DuckDB twin of corpus.hash_order: first 15 hex chars of
    md5(expr) as an integer in [0, 2^60) via the same positional
    strpos expansion as _sql_hex16 (largest term 15 * 16^14 ~ 1.1e18,
    sum < 16^15 — exact in BIGINT)."""
    m = f"md5({expr})"
    return (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr({m},{i + 1},1))-1)"
            f"*{16 ** (14 - i)}"
            for i in range(15)
        )
        + ")"
    )


def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split census: content-hash
    bucketing (corpus.hash_split), then per-split doc and char counts.
    Map-only assignment — no shuffle until the 3-row census agg."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        cp.hash_split(docs, SPLIT_FRACTIONS)
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars_sum"),
        )
    )


def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate CLUSTERS are
    the assignment unit, not documents — hash-splitting doc ids puts
    near-identical texts on both sides of the train/val fence, and
    the eval set silently becomes training data (the memorization
    leak decontamination alone can't catch, because the dup is inside
    the corpus). Verified n-gram Jaccard pairs (the same
    ns_dedup_clusters pair relation) -> union-find closure -> every
    doc keyed by its cluster representative (singletons by their own
    id) -> content-hash split on the REPRESENTATIVE. The
    n_leaked_pairs column is EARNED, not assumed: the pair relation
    is re-joined against the final assignment and cross-split pairs
    counted (0 by construction; any other value is a bug this query
    would surface).

    Plan shape: the closure is partition-local union-find
    contraction; assignment is a map-only hash; the audit is two
    broadcast-able equi-joins into one-row aggregates crossJoined
    onto the 3-row census."""
    dd.release_scratch()
    docs = load_table(spark, sf_dir, "documents")
    # r14 (guide §5): pairs feeds BOTH the closure (which materializes
    # its own copy inside semantic_dedup_members) and the leakage
    # audit join below — as a lazy plan the whole shingle/self-join
    # Jaccard pipeline executed twice per run. One eager
    # localCheckpoint here is read by both consumers.
    pairs = dd.ngram_jaccard_pairs(
        docs, n=SHINGLE_N, threshold=JACCARD_TAU, max_df=MAX_DF
    ).select("id_a", "id_b").localCheckpoint()
    members = dd.semantic_dedup_members(pairs).select(
        "id", "cluster_rep"
    )
    keyed = docs.join(
        members, docs.doc_id == members.id, "left"
    ).select(
        docs.doc_id,
        docs.n_chars,
        F.coalesce(members.cluster_rep, docs.doc_id).alias("rep"),
    )
    assigned = cp.hash_split(
        keyed, SPLIT_FRACTIONS, key_col="rep", salt="split"
    )
    asg = assigned.select(F.col("doc_id"), F.col("split"))
    leaks = (
        pairs.join(
            asg.select(
                F.col("doc_id").alias("id_a"),
                F.col("split").alias("sa"),
            ),
            "id_a",
        )
        .join(
            asg.select(
                F.col("doc_id").alias("id_b"),
                F.col("split").alias("sb"),
            ),
            "id_b",
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("sa") != F.col("sb"), 1).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_leaked_pairs")
        )
    )
    census = assigned.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("rep").cast("bigint").alias("n_clusters"),
        F.sum("n_chars").cast("bigint").alias("n_chars_sum"),
    )
    return census.crossJoin(leaks)


BUDGET_CHARS = 100_000


def dedup_minhash_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash estimator calibration (operators/dedup.
    minhash_calibration): per LSH-candidate pair, the k=12 signature
    agreement estimate vs the exact posting-list Jaccard and the
    absolute calibration error — the pre-flight a pipeline runs
    before trusting signature-only dedup at a given k. Both engines
    compute the SAME md5 signature family, so est_matches is exact
    cross-engine arithmetic, not a tolerance."""
    dd.release_scratch()
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_calibration(
        docs, n=SHINGLE_N, num_hashes=MINHASH_K, bands=LSH_BANDS,
        use_md5=True,
    ).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "est_matches",
        "est_jaccard",
        "jaccard",
        "cal_err",
    )


def vec_pair_cos_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine histogram over a deterministic stride sample —
    the embedding-collapse audit: if the bulk of sampled pair
    cosines piles up near 1, the embedding space has collapsed
    (SemDeDup's failure precondition); a healthy space concentrates
    near 0 with thin tails. Pairs are (id, id+7) — a fixed-stride
    systematic sample, n pairs total, no RNG, no quadratic blowup.
    Exact-integer micro dot products and squared norms (DECIMAL(38)
    sums — the linalg pattern), then cos = dot/(sqrt(na)*sqrt(nb))
    in correctly-rounded double ops both engines replay bit-for-bit
    (sqrt and / are exact-rounded; no pow/exp/log), bucketed to 16
    equal cosine bins on [-1, 1]."""
    from ..operators.linalg import _xint

    emb = load_table(spark, sf_dir, "embeddings")
    x = _xint(emb, "vec_id", "embedding")
    a = x.select("id", "dim", F.col("x").alias("xa"))
    b = x.select(
        (F.col("id") - 7).alias("id"), "dim", F.col("x").alias("xb")
    )
    d38 = "decimal(38,0)"
    dots = (
        a.join(b, ["id", "dim"])
        .groupBy("id")
        .agg(F.sum(F.col("xa").cast(d38) * F.col("xb")).alias("__dot"))
    )
    norms = x.groupBy("id").agg(
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("__n2")
    )
    nb = norms.select(
        (F.col("id") - 7).alias("id"), F.col("__n2").alias("__nb")
    )
    cos = (
        dots.join(norms, ["id"])
        .join(nb, ["id"])
        .filter((F.col("__n2") > 0) & (F.col("__nb") > 0))
        .select(
            (
                F.col("__dot").cast("double")
                / (
                    F.sqrt(F.col("__n2").cast("double"))
                    * F.sqrt(F.col("__nb").cast("double"))
                )
            ).alias("__cos")
        )
    )
    bucket = F.least(
        F.lit(15),
        F.greatest(
            F.lit(0),
            F.floor((F.col("__cos") + F.lit(1.0)) * F.lit(8.0)).cast(
                "int"
            ),
        ),
    )
    return (
        cos.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .select(
            "bucket",
            F.round(F.col("bucket") / 8.0 - 1.0, 6).alias("cos_lo"),
            "n_pairs",
        )
        .orderBy("bucket")
    )


def corpus_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sample of the corpus, 20 draws weighted by
    document byte length (operators/corpus.pps_systematic_sample —
    Madow 1949): the deterministic epoch-weighting primitive of a
    training-mixture builder (heavy documents can earn MULTIPLE
    copies; total emitted copies is exactly k, no RNG to replay).
    Exact DECIMAL(38) gridpoint arithmetic on both engines; the
    cumulative-weight line is the banded two-pass scan (band by
    id div 65536 + broadcast triangular offsets — no global window).
    Oracle: DuckDB replays the identical integer gridpoint formula
    over a window cumsum (single-node, where a global window is
    fine)."""
    docs = load_table(spark, sf_dir, "documents")
    return cp.pps_systematic_sample(
        docs, k=20, weight_col=F.octet_length(F.col("text")),
        id_col="doc_id",
    ).orderBy("id")


def events_retention_triangle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly retention TRIANGLE with rates and drop-off — extends
    the ns_events_retention census (which this deliberately does NOT
    shadow) with the columns an analyst actually reads: cohort size,
    retention rate, and the offset-over-offset drop-off (rate at
    k-1 minus rate at k, NULL when the prior offset has no row).
    Plan shape: two map-combinable hash-aggs (per-user first week;
    distinct user-weeks), one broadcast cohort-size join, and one
    broadcast-size self-join on (cohort, offset-1) for the delta —
    no window, no sessionization state; at 100 TB the distinct
    (user, week) relation is the only big shuffle and it is
    key-partitioned. date_trunc('week') is Monday-anchored on both
    engines; offsets are exact integer day-diff div 7; divisions
    happen once each, rounded to 6, and the drop-off is differenced
    from the ROUNDED rates so both engines agree bit-for-bit."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    act = ev.dropDuplicates(["user_id", "wk"])
    ret = (
        act.join(first, ["user_id"])
        .groupBy(
            "cohort_week",
            F.expr("datediff(wk, cohort_week) div 7").cast("int").alias(
                "week_offset"
            ),
        )
        .agg(F.count("*").cast("bigint").alias("n_active"))
    )
    size = first.groupBy("cohort_week").agg(
        F.count("*").cast("bigint").alias("n_cohort")
    )
    rates = ret.join(F.broadcast(size), ["cohort_week"]).select(
        "cohort_week",
        "week_offset",
        "n_active",
        "n_cohort",
        F.round(
            F.col("n_active").cast("double") / F.col("n_cohort"), 6
        ).alias("retention"),
    )
    prev = rates.select(
        "cohort_week",
        (F.col("week_offset") + F.lit(1)).alias("week_offset"),
        F.col("retention").alias("__prev"),
    )
    return (
        rates.join(F.broadcast(prev), ["cohort_week", "week_offset"], "left")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "n_cohort",
            "retention",
            F.round(F.col("__prev") - F.col("retention"), 6).alias(
                "drop_off"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


def corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget subset selection census
    (operators/corpus.greedy_budget_select): fill a fixed character
    budget with the highest-quality documents first (quality-micro
    DESC, doc_id tiebreak — an exact greedy prefix, computed banded,
    never a global window), then report per source how much survived
    — the "best N tokens" step of assembling a pretraining mix.
    Costs are exact integers; the budget boundary is a deterministic
    integer compare on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    q = tx.quality_score(docs).select(
        "doc_id",
        F.round(F.col("quality") * 1_000_000)
        .cast("bigint")
        .alias("__qm"),
    )
    d = docs.select("doc_id", "source", "n_chars").join(q, "doc_id")
    sel = cp.greedy_budget_select(
        d, BUDGET_CHARS, cost_col="n_chars", order_col="__qm"
    )
    return sel.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col("selected").cast("int"))
        .cast("bigint")
        .alias("n_selected"),
        F.coalesce(
            F.sum(F.when(F.col("selected"), F.col("n_chars"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("chars_selected"),
    )


QUALITY_CUT = 0.7


def pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline, end to end in ONE plan:
    quality screen (>= QUALITY_CUT on the rounded composite score) ->
    exact dedup (min-id representative per identical text) ->
    deterministic content-hash split -> per-split census. This is the
    shape a real corpus-prep job runs; each stage is the already-
    oracle-checked operator, and composing them catches interface
    drift (column loss, filter/dedup ordering) that per-operator
    checks can't see. Quality sums travel as integer micro-units so
    the census is exact across engines (no float-sum ordering drift).
    """
    docs = load_table(spark, sf_dir, "documents")
    q = tx.quality_score(docs).select("doc_id", "quality")
    kept = docs.join(
        q.filter(F.col("quality") >= QUALITY_CUT), "doc_id"
    )
    deduped = dd.dedup_exact(kept)
    split = cp.hash_split(deduped, SPLIT_FRACTIONS)
    return split.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars_sum"),
        F.sum(F.round(F.col("quality") * 1_000_000).cast("bigint")).alias(
            "sum_quality_micro"
        ),
    )


def _sql_split_case(hv: str) -> str:
    whens = " ".join(
        f"WHEN {hv} < {ub} THEN '{name}'"
        for name, ub in cp.split_bounds(SPLIT_FRACTIONS)[:-1]
    )
    last = cp.split_bounds(SPLIT_FRACTIONS)[-1][0]
    return f"CASE {whens} ELSE '{last}' END"


def mixture_sample_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain mixture reweighting census: how many docs each
    source keeps under the configured sampling weights
    (corpus.mixture_sample). Row-local integer thresholds."""
    docs = load_table(spark, sf_dir, "documents")
    mixed = cp.mixture_sample(docs, MIX_WEIGHTS, MIX_DEFAULT)
    return mixed.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
    )


def _sql_mix_threshold() -> str:
    whens = " ".join(
        f"WHEN '{dom}' THEN {int(w * cp.HASH_SPACE)}"
        for dom, w in sorted(MIX_WEIGHTS.items())
    )
    return f"CASE source {whens} ELSE {int(MIX_DEFAULT * cp.HASH_SPACE)} END"


def decontaminate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs where doc_id % BENCH_MOD == 0
    play the eval suite; every other doc sharing >= DECON_MIN_OVERLAP
    distinct 3-gram shingles with it is flagged (corpus.decontaminate:
    broadcast the small benchmark shingle set, never shuffle the
    corpus side)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    return cp.decontaminate(
        corpus, bench, n=SHINGLE_N, min_overlap=DECON_MIN_OVERLAP
    )


STRAT_N = 20


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count balanced subsample: STRAT_N docs per language in
    deterministic hash order (corpus.stratified_sample) — the
    balanced-eval-set construction fraction-based sampleBy can't
    guarantee. Output size is SF-independent (n_langs x STRAT_N)."""
    docs = load_table(spark, sf_dir, "documents")
    return cp.stratified_sample(docs, STRAT_N, "lang").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    )


def lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement: per-query recall of the LSH-bucketed
    top-k against brute-force ground truth — 'measure, don't guess'
    for the approximate path, runnable as a pipeline health check.
    Both sides and the intersection are fully deterministic, so the
    oracle checks the exact recall values."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    brute = sim.knn_join(queries, emb, k=5).select("q_id", "vec_id")
    approx = sim.lsh_bucketed_topk(queries, emb, k=5).select(
        "q_id", "vec_id"
    )
    hits = brute.join(approx, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count("*").cast("bigint").alias("n_hits")
    )
    per_q = brute.groupBy("q_id").agg(
        F.count("*").cast("bigint").alias("n_true")
    )
    return per_q.join(hits, "q_id", "left").select(
        F.col("q_id").cast("bigint").alias("q_id"),
        "n_true",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        F.round(
            F.coalesce("n_hits", F.lit(0)) / F.col("n_true"), 4
        ).alias("recall"),
    )


def pack_sequences_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing assignment: every doc -> (pack_group, bin)
    under fill-and-spill packing with PACK_GROUPS-way hash parallelism
    (corpus.pack_sequences). Per-doc output so the oracle checks the
    exact assignment, not just bin counts."""
    docs = load_table(spark, sf_dir, "documents")
    return cp.pack_sequences(
        docs, capacity=PACK_CAPACITY, n_groups=PACK_GROUPS
    )


def media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash media dedup summary
    (operators/multimodal.perceptual_hashes): aHash every decoded
    PPM payload (Arrow-batched mapInPandas, no shuffle), group by
    the 16-hex digest — the way image dedup works at 100 TB (hash
    once, never pairwise pixel comparison). The hash itself is not
    SQL-expressible, so the oracle is BOUNDS-STYLE (the
    ns_hamming_recall pattern): the engine asserts two structural
    invariants that hold by construction at ANY scale — identical
    text encodes to identical payload hence identical pHash
    (sound = count distinct text == count distinct (text, phash)),
    and pHash groups can only MERGE exact groups, never split them
    (n_phash_groups <= n_text_distinct) — and DuckDB independently
    computes the exact columns (n_media, n_text_distinct) and
    expects TRUE for both booleans."""
    from ..operators.multimodal import (
        documents_as_ppm_media,
        perceptual_hashes,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_ppm_media(docs)
    ph = perceptual_hashes(media)
    j = docs.select(
        F.col("doc_id").alias("media_id"), "text"
    ).join(ph, ["media_id"])
    agg = j.agg(
        F.count("*").cast("bigint").alias("n_media"),
        F.countDistinct("text").cast("bigint").alias("n_text_distinct"),
        F.countDistinct("text", "phash").alias("__td"),
        F.countDistinct("phash").alias("__pd"),
    )
    return agg.select(
        "n_media",
        "n_text_distinct",
        (F.col("__td") == F.col("n_text_distinct")).alias("sound"),
        (F.col("__pd") <= F.col("n_text_distinct")).alias(
            "groups_bounded"
        ),
    )


def media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata stats over the opaque binary column — the
    filter/prune path that must never read blob bytes (here it reads
    octet_length only)."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.documents_as_media(docs)
    return media.groupBy("media_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.max("n_bytes").cast("bigint").alias("max_bytes"),
    )


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL decode path (round-4 verdict item 5): documents are
    toy-PPM (P6) ENCODED into binary image payloads, then
    extract_decoded_features parses each header and computes the
    byte%8 histogram over the DECODED pixels (doc bytes + zero padding
    to whole 16-pixel rows). The oracle reproduces width (constant),
    height (ceil(len/48)), and the pixel histogram (char counts + the
    pad-zeros landing in bucket 0) from the raw text — valid because
    the fixture corpus is pure ASCII (byte == char). A wrong header
    parse, wrong pad math, or wrong pixel slice all hash-mismatch."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.documents_as_ppm_media(docs, width=16)
    feats = mm.extract_decoded_features(media)
    return feats.select(
        "media_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        *[
            F.element_at(F.col("features"), k + 1)
            .cast("double")
            .alias(f"f{k}")
            for k in range(8)
        ],
    )


# --------------------------------------------------------------------
# Event windows
# --------------------------------------------------------------------
def media_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal pipeline composed end-to-end — opaque
    binary media -> mapInPandas feature extraction (stubbed decoder)
    -> LSH-bucketed ANN over the extracted vectors. Proves the media
    plumbing feeds the similarity operators unchanged. Oracle-checked:
    the fake decoder's byte histogram AND the hyperplane bucketing are
    both mirrored exactly in the DuckDB twin (ASCII fixture)."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.documents_as_media(docs)
    feats = mm.extract_features(media, dim=8).select(
        F.col("media_id").alias("vec_id"),
        F.col("features").alias("embedding"),
    )
    queries = feats.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return sim.lsh_bucketed_topk(
        queries, feats, k=3, num_planes=6, dim=8
    )


def simhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable SimHash: a 16-bit sketch whose bits derive
    from md5(token) hex (identical in DuckDB), votes summed per bit,
    near-dup pairs = hamming(simhash) <= 2. Spark generates candidates
    by pigeonhole chunk join (no false negatives), the oracle by
    all-pairs — same final pair set."""
    dd.release_scratch()
    docs = load_table(spark, sf_dir, "documents")
    votes_expr = """
      aggregate(
        split(text, ' '),
        array_repeat(0L, 16),
        (acc, t) -> zip_with(
          acc,
          transform(sequence(0, 15),
            i -> CASE WHEN ((CAST(conv(substr(md5(t), 1, 4), 16, 10)
                             AS BIGINT) >> i) & 1) = 1
                 THEN 1L ELSE -1L END),
          (a, b) -> a + b))"""
    pack_expr = """
      aggregate(transform(sequence(0, 15),
          i -> CASE WHEN votes[i] > 0 THEN shiftleft(1L, i) ELSE 0L END),
        0L, (a, b) -> a + b)"""
    sh = dd._scratch_persist(
        docs.select(
            F.col("doc_id").alias("id"), F.expr(votes_expr).alias("votes")
        ).select("id", F.expr(pack_expr).alias("sh16"))
    )
    # pigeonhole: hamming<=2 => one of 3 chunks (6/5/5 bits) matches
    chunk_defs = [(0, 6), (6, 5), (11, 5)]
    chunks = sh.select(
        "id",
        "sh16",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("c"),
                        F.expr(
                            f"(sh16 >> {off}) & {(1 << width) - 1}"
                        ).alias("v"),
                    )
                    for ci, (off, width) in enumerate(chunk_defs)
                ]
            )
        ).alias("ch"),
    ).select("id", "sh16", "ch.c", "ch.v")
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh16").alias("sa"),
            F.col("b.sh16").alias("sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(sa ^ sb)").cast("bigint"))
        .filter(F.col("hamming") <= 2)
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            "hamming",
        )
    )


def dedup_clusters_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final stage: verified near-dup pairs →
    transitive closure → cluster census (operators/dedup.dedup_clusters).
    Near-dup is not transitive, so pair-local dropping is wrong; the
    component is the removal unit. Oracle: recursive-CTE closure over
    the identical thresholded pair set."""
    dd.release_scratch()
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(
        docs, n=SHINGLE_N, threshold=JACCARD_TAU, max_df=MAX_DF
    )
    return dd.dedup_clusters(pairs)


def dedup_quality_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup resolution: the same verified n-gram
    Jaccard clusters as ns_dedup_clusters, but the kept representative
    is the HIGHEST-QUALITY member (argmax on the micro-integer
    composite score, doc_id tiebreak) instead of the min id — what a
    production corpus pipeline actually ships (when near-dups differ
    by boilerplate or truncation, min-id keeps an arbitrary one; the
    quality argmax keeps the best). Composition of two already-
    oracle-checked operators; the argmax is one max_by over a struct
    (hash-agg, no window over the data).

    Returns per multi-member cluster: (cluster_rep, n_members,
    best_doc_id, best_q_micro)."""
    dd.release_scratch()
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(
        docs, n=SHINGLE_N, threshold=JACCARD_TAU, max_df=MAX_DF
    ).select("id_a", "id_b")
    members = dd.semantic_dedup_members(pairs)
    q = tx.quality_score(docs).select(
        F.col("doc_id").alias("id"),
        F.round(F.col("quality") * 1_000_000)
        .cast("bigint")
        .alias("__qm"),
    )
    return (
        members.join(q, "id")
        .groupBy("cluster_rep")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.max_by(
                "id", F.struct(F.col("__qm"), (-F.col("id")).alias("__t"))
            )
            .cast("bigint")
            .alias("best_doc_id"),
            F.max("__qm").cast("bigint").alias("best_q_micro"),
        )
        .select(
            F.col("cluster_rep").cast("bigint").alias("cluster_rep"),
            "n_members",
            "best_doc_id",
            "best_q_micro",
        )
    )


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding census: count + mean L2 norm. The per-row
    norm is a fixed-order JVM fold (bit-identical across engines);
    cross-row aggregation goes through exact integer micro-units
    (floor(norm*1e6) → BIGINT sum) because a double sum would be
    partition-order dependent and could never hash-match."""
    from ..functions.vectors import l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    mu = F.floor(l2_norm(F.col("embedding")) * 1e6).cast("bigint")
    return (
        emb.select("label", mu.alias("__mu"))
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.round(
                (F.sum("__mu") / F.lit(1e6)).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_norm"),
        )
    )


def events_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming — applyInPandasWithState (the
    Structured Streaming analog of a custom Pregel/Flink operator):
    per-user running (n_events, n_clicks, max_value) state updated per
    micro-batch, drained with AvailableNow. Update-mode emits one row
    per user per batch; the final value per user is the max (counters
    are monotone), making the result batch-deterministic. Only integer
    counts and a max cross batches — no float accumulation."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming.run import read_events_stream, run_to_memory

    stream = read_events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        n, clicks, mx = state.get if state.exists else (0, 0, None)
        for pdf in pdfs:
            n += len(pdf)
            clicks += int((pdf["event_type"] == "click").sum())
            if len(pdf):
                m = float(pdf["value"].max())
                mx = m if mx is None else max(mx, m)
        state.update((n, clicks, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_clicks": [clicks],
                "max_value": [mx],
            }
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, n_events long, n_clicks long, max_value double",
        "n long, c long, m double",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    tbl = run_to_memory(out, "stateful_counts", "update")
    return tbl.groupBy(F.col("user_id").cast("bigint").alias("user_id")).agg(
        F.max("n_events").cast("bigint").alias("n_events"),
        F.max("n_clicks").cast("bigint").alias("n_clicks"),
        F.max("max_value").alias("max_value"),
    )


def events_funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog surface (2-arg contract) — see _events_funnel_stream."""
    return _events_funnel_stream(spark, sf_dir)


def _events_funnel_stream(
    spark: SparkSession, sf_dir: str, _mfpt: int = 2
) -> DataFrame:
    """CEP-style streaming pattern detection — the Structured
    Streaming twin of ns_events_funnel: a stateful operator
    (applyInPandasWithState) watches each user's ordered event stream
    for first-signup -> first-click-within-1h -> first-purchase-
    within-24h and EMITS one completion row per user the moment the
    pattern closes (FlinkCEP's bread and butter, here as custom
    state). Arrival is event-time-ordered (the sorted quartile
    staging), and the state carries the current tie group's click/
    purchase minima so a (ts-equal) tie group straddling a
    micro-batch boundary cannot drop a boundary match — emission is
    exactly the batch funnel's stage-3 set, which is the oracle.
    All state arithmetic is integer microseconds."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming.run import (
        read_staged_stream,
        run_to_memory,
        stage_events_sorted_split,
    )

    HOUR = 3_600_000_000
    DAY = 24 * HOUR
    staged = stage_events_sorted_split(spark, sf_dir, n_files=4)
    # ordered quartiles: batch k+1's min ts >= batch k's max, so even
    # a tight watermark drops nothing — it exists to bound state.
    # `_mfpt` (r15, VERDICT r14 item 4): the batch-boundary knob. The
    # state machine is batching-INVARIANT by design (the tie-group
    # carry makes a boundary straddle safe, and the min/max state
    # folds are associative), so the trigger is a pure throughput
    # knob, not a semantic one — measured equal output at 1/2/4 files
    # per trigger at sf0.01 AND sf0.1, pinned by
    # test_funnel_stream_trigger_invariant. Default 2: still a real
    # multi-batch stream (cross-batch state + the tie-group boundary
    # exercise at the q2/q3 seam) at half the fixed micro-batch cost
    # (measured 7.0s -> 3.9s at sf0.1) — the canonical streaming
    # throughput trade of sizing the trigger to amortize per-batch
    # fixed cost.
    stream = read_staged_stream(spark, staged, "1 minute", _mfpt)

    def update(key, pdfs, state: GroupState):
        # (s_us, c_us, last_us, tie_click, tie_purch, done)
        s, c, last, tc, tp, done = (
            state.get if state.exists else (None, None, None, None, None, False)
        )
        for pdf in pdfs:
            if done or not len(pdf):
                continue
            us = pdf["ts"].astype("datetime64[us]").astype("int64")
            et = pdf["event_type"]
            batch_last = int(us.max())
            if s is None:
                sig = us[et == "signup"]
                if len(sig):
                    s = int(sig.min())
            if s is not None and c is None:
                cand = us[(et == "click") & (us >= s) & (us < s + HOUR)]
                c_batch = int(cand.min()) if len(cand) else None
                # boundary tie: a click at ts == s seen in an earlier
                # batch of the same tie group
                c_tie = tc if (tc is not None and tc == s) else None
                cands = [x for x in (c_batch, c_tie) if x is not None]
                if cands:
                    c = min(cands)
            p = None
            if c is not None:
                cand = us[
                    (et == "purchase") & (us >= c) & (us < c + DAY)
                ]
                p_batch = int(cand.min()) if len(cand) else None
                p_tie = tp if (tp is not None and tp == c) else None
                cands = [x for x in (p_batch, p_tie) if x is not None]
                if cands:
                    p = min(cands)
            # retain the trailing tie group's click/purchase minima
            tie_c = us[(et == "click") & (us == batch_last)]
            tie_p = us[(et == "purchase") & (us == batch_last)]
            new_tc = int(tie_c.min()) if len(tie_c) else None
            new_tp = int(tie_p.min()) if len(tie_p) else None
            if last is not None and last == batch_last:
                if tc is not None and (new_tc is None or tc < new_tc):
                    new_tc = tc
                if tp is not None and (new_tp is None or tp < new_tp):
                    new_tp = tp
            tc, tp, last = new_tc, new_tp, batch_last
            if p is not None:
                done = True
                state.update((s, c, last, tc, tp, True))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "s_us": [s],
                        "c_us": [c],
                        "p_us": [p],
                    }
                )
                return
        state.update((s, c, last, tc, tp, done))
        return
        yield  # make this a generator even on the no-emit path

    out = stream.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, s_us long, c_us long, p_us long",
        "s long, c long, last long, tc long, tp long, done boolean",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    tbl = run_to_memory(out, "funnel_stream", "update")
    return tbl.dropDuplicates(["user_id"]).select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.timestamp_micros("s_us").alias("s_ts"),
        F.timestamp_micros("c_us").alias("c_ts"),
        F.timestamp_micros("p_us").alias("p_ts"),
    )


def events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY.md §2C range/as-of row): every 'error' event
    enriched with the most recent at-or-before 'signup' of the same
    user. Oracle: DuckDB's native ASOF LEFT JOIN."""
    from ..operators.joins import as_of_join

    events = load_table(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id"
    )
    out = as_of_join(
        errors, signups, key="user_id", right_cols=["event_id"]
    )
    return out.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("event_id_asof").cast("bigint").alias("signup_event_id"),
    )


def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join: clicks landing in the hour after each
    signup, counted per signup. Oracle: plain range-predicate join."""
    from ..operators.joins import range_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts"
    )
    intervals = events.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_event_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    joined = range_join(
        clicks, intervals, key="user_id", left_ts="ts",
        right_start="start_ts", right_end="end_ts",
    )
    return joined.groupBy(
        F.col("signup_event_id").cast("bigint").alias("signup_event_id")
    ).agg(F.count("*").cast("bigint").alias("n_clicks"))


def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return win.tumbling_counts(load_table(spark, sf_dir, "events"))


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return win.sliding_counts(load_table(spark, sf_dir, "events"))


def events_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval UNION / coverage — the classic sweep-line problem SQL
    engines are bad at by default: per user, the total wall-clock
    actually covered by their (overlapping) activity spans and how
    many merged islands the spans collapse into. Same span
    derivation as ns_events_span_overlap ([first, last + 1 min) per
    event type). The sweep is windows-per-user over a handful of
    spans: a span starts a new island iff its start exceeds the
    running max end of all earlier spans (half-open: touching spans
    merge); covered time = per-island (max end − min start) summed —
    exact integer microseconds end to end, one shared division
    nowhere. At 100 TB this is the gaps-and-islands shape: state per
    user is one running max, never a pairwise interval join."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id", "event_type").agg(
        F.unix_micros(F.min("ts").cast("timestamp")).alias("s_us"),
        (
            F.unix_micros(F.max("ts").cast("timestamp"))
            + F.lit(60_000_000)
        ).alias("e_us"),
    )
    w = Window.partitionBy("user_id").orderBy(
        "s_us", "e_us", "event_type"
    )
    prev_max = F.max("e_us").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = spans.withColumn(
        "new_isl",
        F.when(
            prev_max.isNull() | (F.col("s_us") > prev_max), 1
        ).otherwise(0),
    ).withColumn(
        "isl",
        F.sum("new_isl").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_isl = marked.groupBy("user_id", "isl").agg(
        (F.max("e_us") - F.min("s_us")).alias("cov")
    )
    return per_isl.groupBy(
        F.col("user_id").cast("bigint").alias("user_id")
    ).agg(
        F.sum("cov").cast("bigint").alias("covered_us"),
        F.count("*").cast("bigint").alias("n_islands"),
    )


def events_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-interval overlap join (operators/joins.
    interval_overlap_join — the third classic temporal join after
    as-of and range): per user, which event-type activity spans
    [first event, last event + 1 min) overlap, and by how much
    (exact microseconds). The engine runs the bucketized equi-join
    (never a BroadcastNestedLoop theta join); the oracle states the
    overlap theta join directly."""
    from ..operators.joins import interval_overlap_join

    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("s"),
        (F.max("ts") + F.expr("INTERVAL 1 MINUTE")).alias("e"),
    )
    a = spans.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
    )
    b = spans.select(
        "user_id",
        F.col("event_type").alias("type_b"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
    )
    # Bucket width auto-derived from the median span length (these
    # activity spans run weeks-to-months; r6 measured 6x between hour
    # and week buckets — the auto-sizing in interval_overlap_join now
    # lands at the interval scale without caller discipline).
    j = interval_overlap_join(
        a, b, "user_id", "a_s", "a_e", "b_s", "b_e"
    ).filter(F.col("type_a") < F.col("type_b"))
    return j.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "type_a",
        "type_b",
        (
            F.unix_micros(F.least("a_e", "b_e"))
            - F.unix_micros(F.greatest("a_s", "b_s"))
        )
        .cast("bigint")
        .alias("overlap_us"),
    )


def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return win.session_counts_batch(
        load_table(spark, sf_dir, "events"), gap_minutes=SESSION_GAP_MIN
    )


def events_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming sessionization: session_window over a
    file-source stream, state-store backed, drained with AvailableNow
    into a memory sink (streaming/run.py). Complete output mode emits
    every session, so the final table equals the batch answer.

    Oracle nuance vs ns_events_sessions: session_window's windows are
    half-open [ts, last_ts + gap), so a gap of EXACTLY 30 minutes
    starts a new session (`>=` in the oracle, where the lag-based
    batch query breaks strictly `>`)."""
    from ..streaming.run import read_events_stream, run_to_memory

    s = read_events_stream(spark, sf_dir)
    agg = win.session_window_streaming_agg(
        s, gap=f"{SESSION_GAP_MIN} minutes"
    )
    tbl = run_to_memory(agg, "sessions_stream", "complete")
    return tbl.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "session_start",
        F.col("n_events").cast("bigint").alias("n_events"),
    )


def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming deduplication: the events stream unioned with a
    second read of itself (every event arrives exactly twice, possibly
    in different micro-batches) -> stateful dropDuplicates on event_id
    -> append-mode drain. The sink holds one copy per event iff the
    dedup state caught every duplicate, so the per-type census equals
    the plain batch census. Unbounded-key state is deliberate here:
    the WITHIN-WATERMARK variant can re-emit a duplicate that lands in
    a later micro-batch after state eviction, which would make the
    result depend on file->batch assignment; exact dedup keeps the
    query deterministic and oracle-checkable. At true scale you bound
    state with dropDuplicatesWithinWatermark and accept
    at-least-once-per-window semantics."""
    from ..streaming.run import read_events_stream, run_to_memory

    s1 = read_events_stream(spark, sf_dir)
    s2 = read_events_stream(spark, sf_dir)
    deduped = s1.unionByName(s2).dropDuplicates(["event_id"])
    tbl = run_to_memory(deduped, "events_dedup_stream", "append")
    return tbl.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events")
    )


def events_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregation of ns_events_tumbling executed
    as a REAL streaming query (state store, complete mode, AvailableNow
    drain) — one oracle pinning the batch and streaming window math to
    each other."""
    from ..streaming.run import read_events_stream, run_to_memory

    s = read_events_stream(spark, sf_dir)
    return run_to_memory(
        win.tumbling_counts(s), "tumbling_stream", "complete"
    )


def events_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range bounds: the
    clicks stream joined to the signup-interval stream (both
    watermarked, so join state is GC-able on a real cluster), drained
    with AvailableNow. Inner-join matches emit as soon as both sides
    arrive — no watermark holdback — so the appended result equals the
    batch range join and shares ns_events_range_join's oracle."""
    from ..streaming.run import read_events_stream, run_to_memory

    clicks = (
        read_events_stream(spark, sf_dir, watermark="2 hours")
        .filter(F.col("event_type") == "click")
        .select("user_id", "ts")
    )
    signups = (
        read_events_stream(spark, sf_dir, watermark="2 hours")
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_event_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
        )
    )
    j = clicks.join(
        signups,
        (F.col("user_id") == F.col("s_user"))
        & (F.col("ts") >= F.col("start_ts"))
        & (F.col("ts") < F.col("end_ts")),
    )
    tbl = run_to_memory(j, "stream_join", "append")
    return tbl.groupBy(
        F.col("signup_event_id").cast("bigint").alias("signup_event_id")
    ).agg(F.count("*").cast("bigint").alias("n_clicks"))


def events_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events STREAM joined to a
    static dimension (per-user market segment derived from customer)
    with the static side BROADCAST — the standard streaming-ETL
    pattern (enrich each event with reference data as it arrives; no
    state store, no watermark, because the static side is complete by
    definition). Inner stream-static joins emit deterministically
    under AvailableNow, so the drained census shares a plain batch
    oracle. Returns (segment, n_events, n_users)."""
    from ..streaming.run import read_events_stream, run_to_memory

    customer = load_table(spark, sf_dir, "customer")
    dim = (
        customer.select(
            (F.col("c_custkey") % 150).alias("user_id"), "c_mktsegment"
        )
        .groupBy("user_id")
        .agg(F.min("c_mktsegment").alias("segment"))
    )
    s = read_events_stream(spark, sf_dir)
    j = s.join(F.broadcast(dim), ["user_id"]).select(
        "event_id", "user_id", "segment"
    )
    drained = run_to_memory(j, "stream_enrich", "append")
    return drained.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )


def events_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermark-driven null
    emission — the join shape the inner variant can't show: signups
    with ZERO clicks in their hour window must still appear, and in a
    real stream those null rows only materialize when the watermark
    proves no match can still arrive and the signup's state is
    evicted.

    Determinism engineering: outer-null emission needs the watermark
    to ADVANCE ACROSS BATCHES (a single unordered batch jumps it to
    max-ts and stops, stranding every unmatched row in state), so the
    fixture is staged as 4 ts-ordered quartile files drained
    one-per-trigger (streaming/run.stage_events_sorted_split). After
    batch 2 the watermark is wm2 = q2max - delay; batches 3 and 4
    then evict-and-emit every signup whose window closed before wm2.
    Signups NEWER than that are in the batch-boundary twilight where
    emission depends on eviction timing, so BOTH engine and oracle
    restrict to start_ts < q2max - delay - window — the guaranteed
    region. The oracle reproduces q2max with the same ANSI ntile.

    Returns (signup_event_id, n_clicks) INCLUDING n_clicks = 0 rows.
    """
    import os as _os

    from ..streaming.run import (
        read_staged_stream,
        run_to_memory,
        stage_events_sorted_split,
    )

    staged = stage_events_sorted_split(spark, sf_dir, n_files=4)
    signups = (
        read_staged_stream(spark, staged, watermark="2 hours")
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_event_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
        )
    )
    clicks = (
        read_staged_stream(spark, staged, watermark="2 hours")
        .filter(F.col("event_type") == "click")
        .select("user_id", "ts")
    )
    j = signups.join(
        clicks,
        (F.col("s_user") == F.col("user_id"))
        & (F.col("ts") >= F.col("start_ts"))
        & (F.col("ts") < F.col("end_ts")),
        "left_outer",
    )
    drained = run_to_memory(j, "stream_left_join", "append")
    q2max = spark.read.parquet(
        _os.path.join(staged, "w1.parquet"),
        _os.path.join(staged, "w2.parquet"),
    ).agg(F.max("ts").alias("__q2max"))
    return (
        drained.crossJoin(F.broadcast(q2max))
        .filter(
            F.col("start_ts")
            < F.col("__q2max") - F.expr("INTERVAL 3 HOURS")
        )
        .groupBy(
            F.col("signup_event_id").cast("bigint").alias(
                "signup_event_id"
            )
        )
        .agg(F.count(F.col("ts")).cast("bigint").alias("n_clicks"))
    )


# Shared by the batch operator and its streaming twin — one oracle
# pinning both execution paths.
_RANGE_JOIN_SQL = """
        WITH s AS (
          SELECT user_id, event_id AS signup_event_id, ts AS start_ts,
                 ts + INTERVAL 1 HOUR AS end_ts
          FROM events WHERE event_type = 'signup'
        ),
        c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        SELECT CAST(signup_event_id AS BIGINT) AS signup_event_id,
               CAST(count(*) AS BIGINT) AS n_clicks
        FROM c JOIN s ON c.user_id = s.user_id
          AND c.ts >= s.start_ts AND c.ts < s.end_ts
        GROUP BY 1
        """

def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-grid gap fill with LOCF: 15-minute buckets of event
    value per event_type, regularized onto each type's full
    [first, last] bucket grid with missing buckets carried forward —
    `time_bucket_gapfill + locf` parity (the hypertable primitive a
    dashboard needs before it can chart an irregular series). Gap
    rows keep n_events = 0 and observed = false; locf_sum_cents
    repeats the last observed bucket's sum.

    Exactness: buckets are integer slots (unix_micros div 900e6 —
    integer division on both engines, no double rounding near bucket
    boundaries) and values fold as integer cents, so the carried
    value is bit-identical cross-engine; no timestamp is emitted, so
    no timezone/format hazard. A type's min slot is observed by
    construction, so no leading NULL exists and locf_sum_cents is
    total. Scale: grid generation and carry-forward are
    :func:`operators.timeseries.gapfill_locf` — bounded two-level
    explode, banded two-pass scan, no per-series global window."""
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    obs = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 900000000").alias("slot"),
            cents.alias("__c"),
        )
        .groupBy("event_type", "slot")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("__c").cast("bigint").alias("locf_sum_cents"),
        )
    )
    filled = tss.gapfill_locf(
        obs, "event_type", "slot", ["n_events", "locf_sum_cents"]
    )
    return filled.select(
        "event_type",
        F.col("slot").cast("bigint").alias("slot"),
        F.when(F.col("observed"), F.col("n_events"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_events"),
        F.col("locf_sum_cents").cast("bigint").alias("locf_sum_cents"),
        "observed",
    )


def nn_descent_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph construction census (operators/knngraph.nn_descent,
    NN-Descent per Dong et al. WWW'11): permutation-successor init,
    three neighbour-of-neighbour refinement rounds, recall@10
    against brute-force truth on the 1-in-20 query sample at every
    stage. The oracle REPLAYS the whole algorithm in SQL (init
    permutations, all rounds, truth) — exact value match, not a
    bounds check; cross-engine bit-parity comes from the shared md5
    keys (corpus.hash16 / _sql_hex16) and the left-fold dot/norm.

    Measured on this fixture (sf0.01): recall climbs 0.008 → 0.56 →
    0.81 → 0.88 over the ladder — the self-improving property the
    paper proves, on embeddings with only weak metric structure.
    Monotone recall is a theorem for this cut rule (see module
    docstring) and is asserted identically on both engines. Scale:
    every stage is candidate-bounded (O(N·(2k)²) pairs), windows are
    partitioned by node, the corpus is never broadcast; the only
    O(|q|·N) scan is the truth measuring stick on the sampled 5%."""
    from ..operators import knngraph as kg

    emb = load_table(spark, sf_dir, "embeddings")
    k = 10
    ladder = kg.nn_descent(emb, k=k, rounds=3, arrow=False)
    q = emb.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").cast("bigint").alias("a")
    )
    truth = kg.brute_force_topk(emb, q, k=k).select("a", "b")

    def _m(g: DataFrame, name: str) -> DataFrame:
        return (
            g.select("a", "b")
            .join(truth, ["a", "b"], "left_semi")
            .agg(F.count(F.lit(1)).cast("bigint").alias(name))
        )

    row = (
        emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .crossJoin(
            truth.agg(
                F.countDistinct("a").cast("bigint").alias("n_queries"),
                F.count(F.lit(1)).cast("bigint").alias("n_truth"),
            )
        )
        .crossJoin(_m(ladder[0], "m0"))
        .crossJoin(_m(ladder[1], "m1"))
        .crossJoin(_m(ladder[2], "m2"))
        .crossJoin(_m(ladder[3], "m3"))
    )

    def _rec(m: str):
        return F.when(
            F.col("n_truth") > 0,
            F.round(F.col(m) / F.col("n_truth").cast("double"), 6),
        )

    return row.where(F.col("n_nodes") > 0).select(
        "n_nodes",
        "n_queries",
        _rec("m0").alias("recall_init"),
        _rec("m1").alias("recall_r1"),
        _rec("m2").alias("recall_r2"),
        _rec("m3").alias("recall_r3"),
        (
            (F.col("m0") <= F.col("m1"))
            & (F.col("m1") <= F.col("m2"))
            & (F.col("m2") <= F.col("m3"))
        ).alias("monotone"),
    )


def graph_ann_search_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Serving-side graph ANN census (operators/knngraph.beam_search
    over the nn_descent graph — the search half of the
    build/search lifecycle, mirroring IVF train/probe): 1-in-20
    self-queries, 4 md5-chosen entry points, beam 16, 6 hops,
    recall@10 vs brute-force truth. The search graph is the kNN
    edges UNION the permutation-init edges as long-range links (the
    NSW navigability trick: pure kNN graphs disconnect into islands
    on well-separated data — measured on planted clusters, recall
    0.39 without the long links vs ~1.0 with; random out-links into
    the query's cluster score high and instantly recapture the
    beam). The oracle replays the ENTIRE pipeline — build ladder,
    entry pick, every hop, truth — so the recall value is
    exact-matched cross-engine, not a bound.

    Scale: per hop candidates are |q|·beam·(k+1) — independent of
    corpus size; the brute-force stage exists only as the census
    measuring stick on the 5% sample."""
    from ..operators import knngraph as kg

    emb = load_table(spark, sf_dir, "embeddings")
    ladder = kg.nn_descent(emb, k=10, rounds=3, arrow=False)
    e = kg._normalize(emb, "vec_id", "embedding")
    search_graph = (
        ladder[-1].select("a", "b").union(kg.permutation_init(e, 10))
    )
    q = emb.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").cast("bigint").alias("a")
    )
    res = kg._topk(
        kg.beam_search(
            search_graph, emb, q, beam=16, hops=6, n_entries=4,
            arrow=False,
        ).select("a", "b", "s"),
        10,
    )
    truth = kg.brute_force_topk(emb, q, k=10).select("a", "b")
    matched = (
        res.select("a", "b")
        .join(truth, ["a", "b"], "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("mt"))
    )
    row = (
        emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .crossJoin(
            truth.agg(
                F.countDistinct("a").cast("bigint").alias("n_queries"),
                F.count(F.lit(1)).cast("bigint").alias("n_truth"),
            )
        )
        .crossJoin(matched)
    )
    return row.where(F.col("n_nodes") > 0).select(
        "n_nodes",
        "n_queries",
        F.when(
            F.col("n_truth") > 0,
            F.round(F.col("mt") / F.col("n_truth").cast("double"), 6),
        ).alias("recall"),
    )


def _sql_graph_ann_search(
    k: int = 10, beam: int = 16, hops: int = 6, n_entries: int = 4
) -> str:
    """Full SQL replay of graph_ann_search_census: the shared
    NN-Descent prefix, md5 entry pick, `hops` unrolled beam
    expansions (each stage MATERIALIZED — the beam feeds the next
    hop twice), brute-force truth, exact recall."""
    ent_h = _sql_hex16("CAST(id AS VARCHAR) || ':entry'")
    steps = [
        f"""
        f0 AS (
          SELECT q.a, e.b FROM qt q, ent e WHERE e.b <> q.a),
        {_sql_nnd_stage("f0", "h0", beam, materialized=True)}"""
    ]
    for h in range(hops):
        steps.append(
            f"""
        c{h + 1}p AS (
          SELECT a, b FROM (
            SELECT a, b FROM gh{h}
            UNION
            SELECT g.a, e.b FROM gh{h} g JOIN gm e ON e.a = g.b)
          WHERE a <> b),
        {_sql_nnd_stage(f"c{h + 1}p", f"h{h + 1}", beam,
                        materialized=True)}"""
        )
    hop_sql = "".join(steps)
    return f"""
        {_sql_nnd_prefix(k)}
        gm AS MATERIALIZED (
          SELECT a, b FROM g3 UNION SELECT a, b FROM init),
        ent AS MATERIALIZED (
          SELECT id AS b FROM (
            SELECT id, ({ent_h}) AS h FROM emb
            ORDER BY h, id LIMIT {n_entries})),
        qt AS MATERIALIZED (
          SELECT id AS a FROM emb WHERE id % 20 = 0),
        {hop_sql}
        res AS (
          SELECT a, b FROM (
            SELECT a, b, row_number() OVER (
              PARTITION BY a ORDER BY s DESC, b) AS r2
            FROM gh{hops}) WHERE r2 <= {k}),
        tp AS (
          SELECT q.a, e.id AS b FROM qt q JOIN emb e ON e.id <> q.a),
        {_sql_nnd_stage("tp", "t", k)}
        m AS (
          SELECT
            (SELECT count(*) FROM emb) AS n_nodes,
            (SELECT count(DISTINCT a) FROM gt) AS n_queries,
            (SELECT count(*) FROM gt) AS n_truth,
            (SELECT count(*) FROM res JOIN gt USING (a, b)) AS mt)
        SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
               CAST(n_queries AS BIGINT) AS n_queries,
               CASE WHEN n_truth > 0
                 THEN round(mt / CAST(n_truth AS DOUBLE), 6) END
                 AS recall
        FROM m WHERE n_nodes > 0
        """


def knn_insert_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental kNN-graph insertion census
    (operators/knngraph.insert_batch — search-based insertion, the
    HNSW insert primitive; the graph-ANN analogue of ns_ivf_refresh,
    same base/batch split convention vec_id % 3): build on the base
    2/3, insert the held-out 1/3 by beam-searching the existing
    graph (+ long links), link each new node to its top-10, offer
    back-links to touched base lists (re-cut to top-10). Outputs:
    exact recall of the new nodes' edges vs brute-force truth among
    the base, the exact count of base lists that actually changed
    (bounded by |batch|·k BY CONSTRUCTION — every other list is
    byte-identical, never re-scored), and a full-degree flag. The
    oracle replays the whole pipeline. Cost is O(|batch|) like
    ivf_refresh — index-size-independent. Measured at sf0.01:
    recall_new 0.9536 (insertion via search finds essentially the
    true neighbourhoods), 325 of 334 base lists touched at this
    batch/base ratio (1:2 — a daily-refresh ratio would touch
    proportionally fewer)."""
    from ..operators import knngraph as kg

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 3 != 2)
    batch = emb.where(F.col("vec_id") % 3 == 2)
    ladder = kg.nn_descent(base, k=10, rounds=3, arrow=False)
    e_base = kg._normalize(base, "vec_id", "embedding")
    sg = ladder[-1].select("a", "b").union(
        kg.permutation_init(e_base, 10)
    )
    out = kg.insert_batch(
        ladder[-1],
        base,
        batch,
        k=10,
        beam=16,
        hops=6,
        n_entries=4,
        search_graph=sg,
        arrow=False,
    )
    q = batch.select(F.col("vec_id").cast("bigint").alias("a"))
    truth = kg.brute_force_topk(
        base, q, k=10, query_emb=batch
    ).select("a", "b")
    row = (
        base.agg(F.count(F.lit(1)).cast("bigint").alias("n_base"))
        .crossJoin(
            batch.agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
        )
        .crossJoin(
            truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
        )
        .crossJoin(
            out["new_edges"]
            .select("a", "b")
            .join(truth, ["a", "b"], "left_semi")
            .agg(F.count(F.lit(1)).cast("bigint").alias("mt"))
        )
        .crossJoin(
            out["new_edges"].agg(
                F.count(F.lit(1)).cast("bigint").alias("ne_rows")
            )
        )
        .crossJoin(
            out["touched"].agg(
                F.count(F.lit(1)).cast("bigint").alias("n_touched")
            )
        )
    )
    return row.where(F.col("n_base") > 0).select(
        "n_base",
        "n_new",
        F.when(
            F.col("n_truth") > 0,
            F.round(F.col("mt") / F.col("n_truth").cast("double"), 6),
        ).alias("recall_new"),
        "n_touched",
        (F.col("ne_rows") == F.col("n_new") * F.lit(10)).alias(
            "new_deg_full"
        ),
    )


def _sql_knn_insert(
    k: int = 10, beam: int = 16, hops: int = 6, n_entries: int = 4
) -> str:
    """Full SQL replay of knn_insert_census: base-only NN-Descent
    prefix, batch vector CTE, beam hops with the batch as the left
    vector source, top-k linking, back-link re-cut of touched base
    lists, brute-force truth, exact recall + touched count."""
    ent_h = _sql_hex16("CAST(id AS VARCHAR) || ':entry'")
    steps = [
        f"""
        f0 AS (
          SELECT q.a, e.b FROM qt q, ent e WHERE e.b <> q.a),
        {_sql_nnd_stage("f0", "h0", beam, materialized=True,
                        left_emb="bemb")}"""
    ]
    for h in range(hops):
        steps.append(
            f"""
        c{h + 1}p AS (
          SELECT a, b FROM (
            SELECT a, b FROM gh{h}
            UNION
            SELECT g.a, e.b FROM gh{h} g JOIN gm e ON e.a = g.b)
          WHERE a <> b),
        {_sql_nnd_stage(f"c{h + 1}p", f"h{h + 1}", beam,
                        materialized=True, left_emb="bemb")}"""
        )
    hop_sql = "".join(steps)
    return f"""
        {_sql_nnd_prefix(k, where="vec_id % 3 <> 2")}
        bemb AS (
          SELECT CAST(vec_id AS BIGINT) AS id, embedding,
                 sqrt({_sql_dot_pair("embedding", "embedding")}) AS nrm
          FROM embeddings WHERE vec_id % 3 = 2),
        gm AS MATERIALIZED (
          SELECT a, b FROM g3 UNION SELECT a, b FROM init),
        ent AS MATERIALIZED (
          SELECT id AS b FROM (
            SELECT id, ({ent_h}) AS h FROM emb
            ORDER BY h, id LIMIT {n_entries})),
        qt AS MATERIALIZED (SELECT id AS a FROM bemb),
        {hop_sql}
        ne AS MATERIALIZED (
          SELECT a, b, s FROM (
            SELECT a, b, s, row_number() OVER (
              PARTITION BY a ORDER BY s DESC, b) AS r2
            FROM gh{hops}) WHERE r2 <= {k}),
        rv AS MATERIALIZED (
          SELECT b AS a, a AS b, s FROM ne),
        oldt AS (
          SELECT g.a, g.b, g.s FROM g3 g
          WHERE g.a IN (SELECT a FROM rv)),
        rc AS MATERIALIZED (
          SELECT a, b FROM (
            SELECT a, b, row_number() OVER (
              PARTITION BY a ORDER BY s DESC, b) AS rr
            FROM (SELECT * FROM oldt
                  UNION ALL SELECT * FROM rv))
          WHERE rr <= {k}),
        tp AS (SELECT q.a, e.id AS b FROM qt q, emb e),
        {_sql_nnd_stage("tp", "t", k, left_emb="bemb")}
        m AS (
          SELECT
            (SELECT count(*) FROM emb) AS n_base,
            (SELECT count(*) FROM bemb) AS n_new,
            (SELECT count(*) FROM gt) AS n_truth,
            (SELECT count(*) FROM ne JOIN gt USING (a, b)) AS mt,
            (SELECT count(*) FROM ne) AS ne_rows,
            (SELECT count(DISTINCT rc.a) FROM rc
              JOIN rv ON rc.a = rv.a AND rc.b = rv.b) AS n_touched)
        SELECT CAST(n_base AS BIGINT) AS n_base,
               CAST(n_new AS BIGINT) AS n_new,
               CASE WHEN n_truth > 0
                 THEN round(mt / CAST(n_truth AS DOUBLE), 6) END
                 AS recall_new,
               CAST(n_touched AS BIGINT) AS n_touched,
               (ne_rows = n_new * {k}) AS new_deg_full
        FROM m WHERE n_base > 0
        """


def knn_delete_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph tombstone deletion census
    (operators/knngraph.delete_batch — DiskANN-style consolidation,
    the delete leg of the graph-ANN lifecycle; deletion convention
    vec_id % 5 = 1, ~20% of the corpus): build on the full corpus,
    tombstone the deleted fifth, re-knit exactly the survivors that
    pointed at a dead node from (kept neighbours) ∪ (the dead
    neighbour's own out-neighbours). Outputs: exact corpus/deleted/
    affected counts (affected ≤ |D|·k BY CONSTRUCTION — every other
    list is byte-identical, never re-scored), exact recall of the
    re-knit lists vs brute-force truth among SURVIVORS, and a
    `clean` flag proving no edge in the compacted graph touches a
    tombstoned id. The oracle replays the whole pipeline (NND
    prefix, tombstone split, bridge, re-score, survivor truth).
    Cost is O(|D|·k²) like insert_batch — index-size-independent."""
    from ..operators import knngraph as kg

    emb = load_table(spark, sf_dir, "embeddings")
    ladder = kg.nn_descent(emb, k=10, rounds=3, arrow=False)
    tomb = emb.where(F.col("vec_id") % 5 == 1).select(
        F.col("vec_id").cast("bigint").alias("id")
    )
    out = kg.delete_batch(ladder[-1], emb, tomb, k=10, arrow=False)
    surv = emb.join(
        tomb.select(F.col("id").alias("vec_id")), ["vec_id"], "left_anti"
    )
    q = out["affected"]
    truth = kg.brute_force_topk(surv, q, k=10).select("a", "b")
    upd = out["updated"]
    re_lists = upd.join(q, ["a"], "left_semi").select("a", "b")
    row = (
        emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .crossJoin(
            tomb.agg(F.count(F.lit(1)).cast("bigint").alias("n_deleted"))
        )
        .crossJoin(
            q.agg(F.count(F.lit(1)).cast("bigint").alias("n_affected"))
        )
        .crossJoin(
            truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
        )
        .crossJoin(
            re_lists.join(truth, ["a", "b"], "left_semi").agg(
                F.count(F.lit(1)).cast("bigint").alias("mt")
            )
        )
        .crossJoin(
            upd.join(
                tomb.select(F.col("id").alias("a")), ["a"], "left_semi"
            )
            .select("a", "b")
            .union(
                upd.join(
                    tomb.select(F.col("id").alias("b")),
                    ["b"],
                    "left_semi",
                ).select("a", "b")
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("dirty"))
        )
    )
    return row.where(F.col("n_nodes") > 0).select(
        "n_nodes",
        "n_deleted",
        "n_affected",
        F.when(
            F.col("n_truth") > 0,
            F.round(F.col("mt") / F.col("n_truth").cast("double"), 6),
        ).alias("recall_affected"),
        (F.col("dirty") == 0).alias("clean"),
    )


def _sql_knn_delete(k: int = 10) -> str:
    """Full SQL replay of knn_delete_census: full-corpus NN-Descent
    prefix, tombstone split (% 5 = 1), the DiskANN bridge
    (in-neighbour of dead → dead's out-neighbours), re-score + re-cut
    of affected lists, survivor-only brute-force truth, exact recall
    and the no-tombstone-endpoint flag."""
    return f"""
        {_sql_nnd_prefix(k)}
        del AS MATERIALIZED (
          SELECT CAST(vec_id AS BIGINT) AS id FROM embeddings
          WHERE vec_id % 5 = 1),
        alive AS MATERIALIZED (
          SELECT a, b, s FROM g3
          WHERE a NOT IN (SELECT id FROM del)),
        lost AS MATERIALIZED (
          SELECT a, b FROM alive WHERE b IN (SELECT id FROM del)),
        aff AS MATERIALIZED (SELECT DISTINCT a FROM lost),
        kept AS MATERIALIZED (
          SELECT a, b, s FROM alive
          WHERE b NOT IN (SELECT id FROM del)),
        bridge AS (
          SELECT l.a AS a, g.b AS b FROM lost l JOIN g3 g ON g.a = l.b
          WHERE g.b NOT IN (SELECT id FROM del) AND g.b <> l.a),
        cand AS (
          SELECT a, b FROM bridge
          UNION
          SELECT k2.a, k2.b FROM kept k2
          WHERE k2.a IN (SELECT a FROM aff)),
        {_sql_nnd_stage("cand", "rknit", k, materialized=True)}
        upd AS MATERIALIZED (
          SELECT a, b FROM kept WHERE a NOT IN (SELECT a FROM aff)
          UNION ALL
          SELECT a, b FROM grknit),
        tp AS (
          SELECT f.a, e.id AS b FROM aff f JOIN emb e ON e.id <> f.a
          WHERE e.id NOT IN (SELECT id FROM del)),
        {_sql_nnd_stage("tp", "t", k)}
        m AS (
          SELECT
            (SELECT count(*) FROM emb) AS n_nodes,
            (SELECT count(*) FROM del) AS n_deleted,
            (SELECT count(*) FROM aff) AS n_affected,
            (SELECT count(*) FROM gt) AS n_truth,
            (SELECT count(*) FROM grknit JOIN gt USING (a, b)) AS mt,
            (SELECT count(*) FROM upd
              WHERE a IN (SELECT id FROM del)
                 OR b IN (SELECT id FROM del)) AS dirty)
        SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
               CAST(n_deleted AS BIGINT) AS n_deleted,
               CAST(n_affected AS BIGINT) AS n_affected,
               CASE WHEN n_truth > 0
                 THEN round(mt / CAST(n_truth AS DOUBLE), 6) END
                 AS recall_affected,
               (dirty = 0) AS clean
        FROM m WHERE n_nodes > 0
        """


def knn_probe_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Saved kNN-graph index lifecycle census (r12 VERDICT item 2:
    knngraph.knn_save / knn_probe — the graph-ANN twin of the IVF
    family's save/probe symmetry, similarity.ivf_save/ivf_probe):
    build the navigable graph (NN-Descent + permutation-init long
    links, the ns_graph_ann_search recipe), PERSIST it as the
    partitioned layout (adjacency by pmod(xxhash64(a)), vectors by
    pmod(xxhash64(id)), the top-16 md5-ordered entry ids), then
    serve the same query set from DISK with partition-pruned reads
    and compare against the in-query beam_search row for row.

    One row of earned invariants:

    - ``probe_rows``: the probe's result count (replayed exactly by
      the oracle's beam pipeline — the layout changes I/O, never
      semantics);
    - ``probe_matches_beam``: the probe result set equals the
      in-query beam_search result set EXACTLY on (a, b, rk) —
      computed on the Spark side from both actual result sets
      (symmetric exceptAll), pinned by the oracle as an earned TRUE;
      any entry-pick, hop-expansion, or pruning divergence flips it;
    - ``recall``: the probe's recall@10 vs brute-force truth —
      value-matched cross-engine against the oracle's replay;
    - ``ext_rows`` / ``ext_matches_beam`` / ``ext_recall`` (r14,
      VERDICT item 1): the EXTERNAL-query serving leg — queries
      whose ids are NOT corpus members and whose vectors arrive via
      ``query_emb`` (the real ANN-serving shape; every prior receipt
      probed only corpus members). External id = 1000000 + member
      id (vec_id % 37 sample), vector = that member's vector under
      the fresh id, so the oracle replays it exactly and the donor
      member itself is a legal result (no a != b self-exclusion
      binds across distinct ids). Same probe==beam exceptAll pin and
      brute-force recall as the member leg.

    Scale: per hop the probe reads ONLY the adjacency partitions the
    beam's nodes hash into and the vector partitions of the
    candidate ids (PartitionFilters receipts in PLANS.md); the
    per-hop collects fetch distinct partition VALUES, bounded by
    n_parts, never corpus rows. The temp index is removed after the
    counts; the returned relation is a literal row."""
    import shutil
    import tempfile

    from ..operators import knngraph as kg

    emb = load_table(spark, sf_dir, "embeddings")
    schema = (
        "n_nodes bigint, n_queries bigint, probe_rows bigint,"
        " probe_matches_beam boolean, recall double,"
        " ext_rows bigint, ext_matches_beam boolean, ext_recall double"
    )
    n_nodes = emb.count()
    if n_nodes == 0:
        return spark.createDataFrame([], schema)
    ladder = kg.nn_descent(emb, k=10, rounds=3, arrow=False)
    e = kg._normalize(emb, "vec_id", "embedding")
    search_graph = (
        ladder[-1].select("a", "b").union(kg.permutation_init(e, 10))
    )
    q = emb.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").cast("bigint").alias("a")
    )
    qx = emb.where(F.col("vec_id") % 37 == 0).select(
        (F.col("vec_id").cast("bigint") + F.lit(1000000)).alias(
            "vec_id"
        ),
        "embedding",
    )
    qx_ids = qx.select(F.col("vec_id").alias("a"))
    beam = kg._topk(
        kg.beam_search(
            search_graph, emb, q, beam=16, hops=6, n_entries=4,
            arrow=False,
        ).select("a", "b", "s"),
        10,
    )
    ext_beam = kg._topk(
        kg.beam_search(
            search_graph, emb, qx_ids, beam=16, hops=6, n_entries=4,
            query_emb=qx, arrow=False,
        ).select("a", "b", "s"),
        10,
    )
    path = tempfile.mkdtemp(prefix="spark_graft_knn_probe_")
    try:
        kg.knn_save(
            ladder[-1], emb, path, n_parts=8, max_entries=16,
            long_links=kg.permutation_init(e, 10),
        )
        probe = kg._topk(
            kg.knn_probe(
                spark, path, q, beam=16, hops=6, n_entries=4,
                arrow=False,
            ).select("a", "b", "s"),
            10,
        )
        p = probe.select("a", "b", "rk")
        bm = beam.select("a", "b", "rk")
        n_probe = p.count()
        n_beam = bm.count()
        n_diff = p.exceptAll(bm).count() + bm.exceptAll(p).count()
        truth = kg.brute_force_topk(emb, q, k=10).select("a", "b")
        n_truth = truth.count()
        mt = (
            p.select("a", "b")
            .join(truth, ["a", "b"], "left_semi")
            .count()
        )
        n_queries = truth.select("a").distinct().count()
        xp = kg._topk(
            kg.knn_probe(
                spark, path, qx_ids, beam=16, hops=6, n_entries=4,
                query_emb=qx, arrow=False,
            ).select("a", "b", "s"),
            10,
        ).select("a", "b", "rk")
        xb = ext_beam.select("a", "b", "rk")
        n_xp = xp.count()
        n_xb = xb.count()
        n_xdiff = xp.exceptAll(xb).count() + xb.exceptAll(xp).count()
        xtruth = kg.brute_force_topk(
            emb, qx_ids, k=10, query_emb=qx
        ).select("a", "b")
        n_xtruth = xtruth.count()
        xmt = (
            xp.select("a", "b")
            .join(xtruth, ["a", "b"], "left_semi")
            .count()
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    row = (
        n_nodes,
        n_queries,
        n_probe,
        n_diff == 0 and n_probe == n_beam,
        round(mt / float(n_truth), 6) if n_truth else None,
        n_xp,
        n_xdiff == 0 and n_xp == n_xb,
        round(xmt / float(n_xtruth), 6) if n_xtruth else None,
    )
    return spark.createDataFrame([row], schema)


def _sql_knn_probe(
    k: int = 10,
    beam: int = 16,
    hops: int = 6,
    n_entries: int = 4,
    ext: bool = True,
) -> str:
    """SQL replay of knn_probe_census: the saved-index probe is
    result-identical to in-query beam_search BY CONSTRUCTION (the
    partitioned layout changes which files a hop READS, never which
    rows it produces), so the oracle replays the beam pipeline once
    — the _sql_graph_ann_search skeleton — and pins
    probe_matches_beam as an earned TRUE; the Spark side computes
    that boolean from the two actual result sets, so any divergence
    flips it (or the counts/recall) and fails the hash. The r14
    external-query leg replays the same beam pipeline with side a's
    vectors resolved against the external query table (left_emb —
    external id = 1000000 + member id, vector = the donor member's,
    the exact frame the Spark side passes as query_emb).
    ``ext=False`` omits the external leg and its columns — the
    repartition oracle wraps this query and only consumes the
    member-leg columns, so it should not pay for the ext replay."""
    ent_h = _sql_hex16("CAST(id AS VARCHAR) || ':entry'")
    steps = [
        f"""
        f0 AS (
          SELECT q.a, e.b FROM qt q, ent e WHERE e.b <> q.a),
        {_sql_nnd_stage("f0", "h0", beam, materialized=True)}"""
    ]
    for h in range(hops):
        steps.append(
            f"""
        c{h + 1}p AS (
          SELECT a, b FROM (
            SELECT a, b FROM gh{h}
            UNION
            SELECT g.a, e.b FROM gh{h} g JOIN gm e ON e.a = g.b)
          WHERE a <> b),
        {_sql_nnd_stage(f"c{h + 1}p", f"h{h + 1}", beam,
                        materialized=True)}"""
        )
    hop_sql = "".join(steps)
    if ext:
        xsteps = [
            f"""
        xf0 AS (
          SELECT q.a, e.b FROM qx q, ent e WHERE e.b <> q.a),
        {_sql_nnd_stage("xf0", "x0", beam, materialized=True,
                        left_emb="qxe")}"""
        ]
        for h in range(hops):
            xsteps.append(
                f"""
        xc{h + 1}p AS (
          SELECT a, b FROM (
            SELECT a, b FROM gx{h}
            UNION
            SELECT g.a, e.b FROM gx{h} g JOIN gm e ON e.a = g.b)
          WHERE a <> b),
        {_sql_nnd_stage(f"xc{h + 1}p", f"x{h + 1}", beam,
                        materialized=True, left_emb="qxe")}"""
            )
        qx_cte = """
        qxe AS MATERIALIZED (
          SELECT 1000000 + id AS id, embedding, nrm
          FROM emb WHERE id % 37 = 0),
        qx AS (SELECT id AS a FROM qxe),"""
        xres_sql = f"""
        {"".join(xsteps)}
        xres AS (
          SELECT a, b FROM (
            SELECT a, b, row_number() OVER (
              PARTITION BY a ORDER BY s DESC, b) AS r2
            FROM gx{hops}) WHERE r2 <= {k}),
        xtp AS (
          SELECT q.a, e.id AS b FROM qx q JOIN emb e ON e.id <> q.a),
        {_sql_nnd_stage("xtp", "xt", k, left_emb="qxe")}"""
        m_ext = """,
            (SELECT count(*) FROM xres) AS ext_rows,
            (SELECT count(*) FROM gxt) AS xn_truth,
            (SELECT count(*) FROM xres JOIN gxt USING (a, b)) AS xmt"""
        sel_ext = """,
               CAST(ext_rows AS BIGINT) AS ext_rows,
               TRUE AS ext_matches_beam,
               CASE WHEN xn_truth > 0
                 THEN round(xmt / CAST(xn_truth AS DOUBLE), 6) END
                 AS ext_recall"""
    else:
        qx_cte = xres_sql = m_ext = sel_ext = ""
    return f"""
        {_sql_nnd_prefix(k)}
        gm AS MATERIALIZED (
          SELECT a, b FROM g3 UNION SELECT a, b FROM init),
        ent AS MATERIALIZED (
          SELECT id AS b FROM (
            SELECT id, ({ent_h}) AS h FROM emb
            ORDER BY h, id LIMIT {n_entries})),
        qt AS MATERIALIZED (
          SELECT id AS a FROM emb WHERE id % 20 = 0),{qx_cte}
        {hop_sql}
        res AS (
          SELECT a, b FROM (
            SELECT a, b, row_number() OVER (
              PARTITION BY a ORDER BY s DESC, b) AS r2
            FROM gh{hops}) WHERE r2 <= {k}),
        tp AS (
          SELECT q.a, e.id AS b FROM qt q JOIN emb e ON e.id <> q.a),
        {_sql_nnd_stage("tp", "t", k)}
        {xres_sql}
        m AS (
          SELECT
            (SELECT count(*) FROM emb) AS n_nodes,
            (SELECT count(DISTINCT a) FROM gt) AS n_queries,
            (SELECT count(*) FROM res) AS probe_rows,
            (SELECT count(*) FROM gt) AS n_truth,
            (SELECT count(*) FROM res JOIN gt USING (a, b)) AS mt{m_ext})
        SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
               CAST(n_queries AS BIGINT) AS n_queries,
               CAST(probe_rows AS BIGINT) AS probe_rows,
               TRUE AS probe_matches_beam,
               CASE WHEN n_truth > 0
                 THEN round(mt / CAST(n_truth AS DOUBLE), 6) END
                 AS recall{sel_ext}
        FROM m WHERE n_nodes > 0
        """


def knn_refresh_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Saved kNN-graph index REFRESH census (r13 — the last leg of
    the disk lifecycle: knngraph.knn_refresh, the disk-resident twin
    of insert_batch and the graph-ANN analogue of ns_ivf_refresh,
    same vec_id % 3 base/batch split): build + save on the base 2/3
    (scored adjacency, long links, entry table), then refresh the
    held-out 1/3 — each new vector beam-searches the SAVED index
    with partition-pruned reads, links to its top-10, back-links
    re-cut only the touched base lists via dynamic partition
    overwrite of exactly the touched/new `pa` partitions.

    One row of earned invariants:

    - ``recall_new`` / ``n_touched`` / ``new_deg_full``: computed
      from the SAVED post-refresh adjacency (not the in-memory
      result) and exact-matched by the oracle's insert replay — the
      disk round-trip changes nothing;
    - ``adj_matches_insert``: the refreshed saved adjacency equals
      insert_batch's "updated" edge set EXACTLY on (a, b, rk)
      (symmetric exceptAll on the Spark side; oracle pins the
      earned TRUE) — the disk/in-query twin contract;
    - ``retry_noop``: re-refreshing the SAME batch inserts nothing
      and touches nothing (the partition-pruned anti-join guard, the
      ivf_refresh idempotency discipline).

    Scale: refresh cost is O(|batch|·beam·k·hops) scoring +
    rewrite of |touched ∪ new| partitions — index-size-independent;
    nothing scans the corpus. Temp index removed after the counts."""
    import shutil
    import tempfile

    from ..operators import knngraph as kg

    emb = load_table(spark, sf_dir, "embeddings")
    schema = (
        "n_base bigint, n_new bigint, recall_new double,"
        " n_touched bigint, new_deg_full boolean,"
        " adj_matches_insert boolean, retry_noop boolean"
    )
    base = emb.where(F.col("vec_id") % 3 != 2)
    batch = emb.where(F.col("vec_id") % 3 == 2)
    n_base = base.count()
    if n_base == 0:
        return spark.createDataFrame([], schema)
    ladder = kg.nn_descent(base, k=10, rounds=3, arrow=False)
    e_base = kg._normalize(base, "vec_id", "embedding")
    links = kg.permutation_init(e_base, 10)
    path = tempfile.mkdtemp(prefix="spark_graft_knn_refresh_")
    try:
        kg.knn_save(
            ladder[-1], base, path, n_parts=8, max_entries=16,
            long_links=links,
        )
        kg.knn_refresh(
            spark, path, batch, k=10, beam=16, hops=6, n_entries=4,
            arrow=False,
        )
        retry = kg.knn_refresh(
            spark, path, batch, k=10, beam=16, hops=6, n_entries=4,
            arrow=False,
        )
        adj = spark.read.parquet(f"{path}/adjacency").select(
            "a", "b", "rk"
        )
        n_new = batch.count()
        q = batch.select(F.col("vec_id").cast("bigint").alias("a"))
        truth = kg.brute_force_topk(
            base, q, k=10, query_emb=batch
        ).select("a", "b")
        n_truth = truth.count()
        new_lists = adj.join(q, ["a"], "left_semi")
        mt = (
            new_lists.select("a", "b")
            .join(truth, ["a", "b"], "left_semi")
            .count()
        )
        ne_rows = new_lists.count()
        n_touched = (
            adj.join(q.select(F.col("a").alias("b")), ["b"], "left_semi")
            .join(q, ["a"], "left_anti")
            .select("a")
            .distinct()
            .count()
        )
        sg = ladder[-1].select("a", "b").union(links.select("a", "b"))
        ins = kg.insert_batch(
            ladder[-1], base, batch, k=10, beam=16, hops=6,
            n_entries=4, search_graph=sg, arrow=False,
        )["updated"].select("a", "b", "rk")
        n_diff = (
            adj.exceptAll(ins).count() + ins.exceptAll(adj).count()
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    row = (
        n_base,
        n_new,
        round(mt / float(n_truth), 6) if n_truth else None,
        n_touched,
        ne_rows == n_new * 10,
        n_diff == 0,
        retry == {"inserted": 0, "touched": 0},
    )
    return spark.createDataFrame([row], schema)


def knn_repartition_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Saved kNN-graph index LAYOUT-RESIZE census (r13 —
    knngraph.knn_repartition, the maintenance step a grown index
    needs; the graph family's analogue of ns_ivf_rebalance's
    health check): build + save at n_parts=4, probe, rehash the
    whole layout to n_parts=8, probe again with the same query set.

    Output mirrors ns_knn_probe (n_nodes / n_queries / probe_rows /
    recall, oracle = the beam replay — the resize changes which
    FILES hold a row, never which rows exist) plus one earned
    boolean the oracle pins TRUE:

    - ``same_after_resize``: the post-resize probe result set
      equals the pre-resize set EXACTLY on (a, b, rk) — a lost
      partition, a mis-hashed row, or a stale meta modulus flips
      it."""
    import shutil
    import tempfile

    from ..operators import knngraph as kg

    emb = load_table(spark, sf_dir, "embeddings")
    schema = (
        "n_nodes bigint, n_queries bigint, probe_rows bigint,"
        " same_after_resize boolean, recall double"
    )
    n_nodes = emb.count()
    if n_nodes == 0:
        return spark.createDataFrame([], schema)
    ladder = kg.nn_descent(emb, k=10, rounds=3, arrow=False)
    e = kg._normalize(emb, "vec_id", "embedding")
    q = emb.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").cast("bigint").alias("a")
    )
    path = tempfile.mkdtemp(prefix="spark_graft_knn_resize_")
    try:
        kg.knn_save(
            ladder[-1], emb, path, n_parts=4, max_entries=16,
            long_links=kg.permutation_init(e, 10),
        )
        p1 = kg._topk(
            kg.knn_probe(
                spark, path, q, beam=16, hops=6, n_entries=4,
                arrow=False,
            ).select("a", "b", "s"),
            10,
        ).select("a", "b", "rk").localCheckpoint()
        kg.knn_repartition(spark, path, 8)
        p2 = kg._topk(
            kg.knn_probe(
                spark, path, q, beam=16, hops=6, n_entries=4,
                arrow=False,
            ).select("a", "b", "s"),
            10,
        ).select("a", "b", "rk")
        n1 = p1.count()
        n2 = p2.count()
        n_diff = p1.exceptAll(p2).count() + p2.exceptAll(p1).count()
        truth = kg.brute_force_topk(emb, q, k=10).select("a", "b")
        n_truth = truth.count()
        mt = (
            p2.select("a", "b")
            .join(truth, ["a", "b"], "left_semi")
            .count()
        )
        n_queries = truth.select("a").distinct().count()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    row = (
        n_nodes,
        n_queries,
        n2,
        n_diff == 0 and n1 == n2,
        round(mt / float(n_truth), 6) if n_truth else None,
    )
    return spark.createDataFrame([row], schema)


def _sql_knn_repartition(
    k: int = 10, beam: int = 16, hops: int = 6, n_entries: int = 4
) -> str:
    """SQL replay of knn_repartition_census: both probes replay the
    same beam pipeline (the resize is pure layout), so the oracle
    runs _sql_knn_probe's skeleton once and pins same_after_resize
    as an earned TRUE."""
    return f"""
        SELECT n_nodes, n_queries, probe_rows,
               TRUE AS same_after_resize, recall
        FROM ({_sql_knn_probe(k, beam, hops, n_entries, ext=False)})
        """


def ivf_delete_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF saved-index DELETE census (r13 — the delete leg
    completing the IVF disk lifecycle save/probe/refresh/rebalance/
    delete, the list-layout twin of ns_knn_compact; deletion
    convention vec_id % 5 = 1): train+save on the full corpus
    (8 centroids), ivf_delete the fifth — located by ONE
    column-pruned scan of the lists' (id, cid) columns (robust to
    any rebalance history), removed by dynamic partition overwrite
    of only the hit cid partitions — then delete the SAME batch
    again (the retry leg).

    One row of earned invariants (the ns_ivf_refresh discipline —
    bounded 1-row fetches, temp index removed after the counts):

    - ``lists_complete``: surviving list rows == n_vectors -
      n_deleted, each id exactly once;
    - ``no_dead_ids``: no deleted id remains in any list;
    - ``retry_noop``: the second delete of the same batch removed
      nothing and touched nothing;
    - ``all_self_rank1``: probing the compacted index with
      surviving %100 queries finds every query at rank 1 (the
      quantizer is untouched, so survivor placement is identical);
    - ``recall_ge_040``: probe recall@5 (nprobe=2) vs brute force
      over the SURVIVORS clears 0.4 — measured 0.640 / 0.560 /
      0.570 at sf0.001 / 0.01 / 0.1 (bounds-at-every-SF rule), in
      line with ns_ivf_refresh's 0.52-0.56 band."""
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    schema = (
        "n_vectors bigint, n_deleted bigint, lists_complete boolean,"
        " no_dead_ids boolean, retry_noop boolean,"
        " all_self_rank1 boolean, recall_ge_040 boolean"
    )
    n_vec = emb.count()
    if n_vec == 0:
        return spark.createDataFrame([], schema)
    dele = emb.where(F.col("vec_id") % 5 == 1).select(
        F.col("vec_id").alias("id")
    )
    n_del = dele.count()
    path = tempfile.mkdtemp(prefix="spark_graft_ivf_delete_")
    try:
        sim.ivf_save(emb, path, num_centroids=8, iterations=2)
        out1 = sim.ivf_delete(spark, path, dele)
        out2 = sim.ivf_delete(spark, path, dele)
        lists = spark.read.parquet(f"{path}/lists")
        n_rows = lists.count()
        n_ids = lists.select("vec_id").distinct().count()
        n_dead = lists.join(
            dele.select(F.col("id").alias("vec_id")), ["vec_id"],
            "left_semi",
        ).count()
        surv = emb.join(
            dele.select(F.col("id").alias("vec_id")), ["vec_id"],
            "left_anti",
        )
        q = surv.where(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        n_q = q.count()
        probe = sim.ivf_probe(spark, path, q, k=5, nprobe=2)
        n_self = probe.filter(
            (F.col("rank") == 1) & (F.col("q_id") == F.col("vec_id"))
        ).count()
        brute = sim.knn_join(q, surv, k=5).select("q_id", "vec_id")
        n_true = brute.count()
        n_hit = brute.join(
            probe.select("q_id", "vec_id"), ["q_id", "vec_id"]
        ).count()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    row = (
        n_vec,
        n_del,
        out1["deleted"] == n_del
        and n_rows == n_vec - n_del
        and n_ids == n_rows,
        n_dead == 0,
        out2 == {"deleted": 0, "lists_touched": 0},
        n_self == n_q,
        n_hit >= 0.4 * n_true,
    )
    return spark.createDataFrame([row], schema)


def knn_compact_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Saved kNN-graph index COMPACTION census (r13 — the delete leg
    of the disk lifecycle: knngraph.knn_compact, the disk-resident
    twin of delete_batch; deletion convention vec_id % 5 = 1 like
    ns_knn_delete): build + save the full-corpus graph (scored
    adjacency + long links + entries), tombstone the fifth, compact
    in place — dead lists and vectors dropped, surviving
    in-neighbours re-knit through the DiskANN bridge, only the
    touched/dead `pa` partitions rewritten.

    One row: the ns_knn_delete invariants computed from the SAVED
    post-compact state (n_nodes / n_deleted / n_affected, exact
    recall of the re-knit lists vs survivor truth, the
    no-dead-endpoint `clean` flag), plus two earned disk-contract
    booleans the oracle pins TRUE:

    - ``adj_matches_delete``: compacted saved adjacency ==
      delete_batch's "updated" edge set EXACTLY on (a, b, rk);
    - ``store_clean``: vectors dropped exactly the dead rows, links
      carry no dead endpoint, and the entry table was re-derived to
      its full max_entries from survivors."""
    import shutil
    import tempfile

    from ..operators import knngraph as kg

    emb = load_table(spark, sf_dir, "embeddings")
    schema = (
        "n_nodes bigint, n_deleted bigint, n_affected bigint,"
        " recall_affected double, clean boolean,"
        " adj_matches_delete boolean, store_clean boolean"
    )
    n_nodes = emb.count()
    if n_nodes == 0:
        return spark.createDataFrame([], schema)
    ladder = kg.nn_descent(emb, k=10, rounds=3, arrow=False)
    e = kg._normalize(emb, "vec_id", "embedding")
    links = kg.permutation_init(e, 10)
    tomb = emb.where(F.col("vec_id") % 5 == 1).select(
        F.col("vec_id").cast("bigint").alias("id")
    )
    n_deleted = tomb.count()
    path = tempfile.mkdtemp(prefix="spark_graft_knn_compact_")
    try:
        kg.knn_save(
            ladder[-1], emb, path, n_parts=8, max_entries=16,
            long_links=links,
        )
        # affected ids from the saved pre-compact adjacency (the
        # oracle's aff): survivors whose list pointed at a dead id
        pre = spark.read.parquet(f"{path}/adjacency")
        aff = (
            pre.join(tomb.select(F.col("id").alias("b")), ["b"],
                     "left_semi")
            .join(tomb.select(F.col("id").alias("a")), ["a"],
                  "left_anti")
            .select("a")
            .distinct()
            .localCheckpoint()
        )
        n_affected = aff.count()
        kg.knn_compact(spark, path, tomb, k=10, arrow=False)
        adj = spark.read.parquet(f"{path}/adjacency").select(
            "a", "b", "rk"
        )
        surv = emb.join(
            tomb.select(F.col("id").alias("vec_id")), ["vec_id"],
            "left_anti",
        )
        truth = kg.brute_force_topk(surv, aff, k=10).select("a", "b")
        n_truth = truth.count()
        re_lists = adj.join(aff, ["a"], "left_semi").select("a", "b")
        mt = re_lists.join(truth, ["a", "b"], "left_semi").count()
        dirty = (
            adj.join(tomb.select(F.col("id").alias("a")), ["a"],
                     "left_semi").count()
            + adj.join(tomb.select(F.col("id").alias("b")), ["b"],
                       "left_semi").count()
        )
        ref = kg.delete_batch(
            ladder[-1], emb, tomb, k=10, arrow=False
        )["updated"].select("a", "b", "rk")
        n_diff = adj.exceptAll(ref).count() + ref.exceptAll(adj).count()
        v = spark.read.parquet(f"{path}/vectors")
        lk = spark.read.parquet(f"{path}/links")
        ents = spark.read.parquet(f"{path}/entries")
        store_clean = (
            v.count() == n_nodes - n_deleted
            and v.join(tomb, ["id"], "left_semi").count() == 0
            and lk.join(
                tomb.select(F.col("id").alias("a")), ["a"], "left_semi"
            ).count()
            == 0
            and lk.join(
                tomb.select(F.col("id").alias("b")), ["b"], "left_semi"
            ).count()
            == 0
            and ents.count() == min(16, n_nodes - n_deleted)
            and ents.join(tomb, ["id"], "left_semi").count() == 0
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    row = (
        n_nodes,
        n_deleted,
        n_affected,
        round(mt / float(n_truth), 6) if n_truth else None,
        dirty == 0,
        n_diff == 0,
        store_clean,
    )
    return spark.createDataFrame([row], schema)


def _sql_knn_compact(k: int = 10) -> str:
    """SQL replay of knn_compact_census: the compacted SAVED
    adjacency equals delete_batch's updated set BY CONSTRUCTION, so
    the oracle replays the delete pipeline (_sql_knn_delete) and
    pins the two disk-contract booleans as earned TRUEs; the Spark
    side computes both from the actual saved state."""
    return f"""
        SELECT n_nodes, n_deleted, n_affected, recall_affected,
               clean, TRUE AS adj_matches_delete,
               TRUE AS store_clean
        FROM ({_sql_knn_delete(k)})
        """


def _sql_knn_refresh(
    k: int = 10, beam: int = 16, hops: int = 6, n_entries: int = 4
) -> str:
    """SQL replay of knn_refresh_census: the refreshed SAVED
    adjacency equals insert_batch's updated edge set BY CONSTRUCTION
    (the partitioned layout changes which files are rewritten, never
    which rows result), so the oracle replays the insert pipeline
    (_sql_knn_insert) and pins the two disk-contract booleans as
    earned TRUEs — the Spark side computes both from the actual
    saved state, so any divergence (a lost partition, a double
    insert on retry, an entry-order drift) flips a column and fails
    the hash."""
    return f"""
        SELECT n_base, n_new, recall_new, n_touched, new_deg_full,
               TRUE AS adj_matches_insert, TRUE AS retry_noop
        FROM ({_sql_knn_insert(k, beam, hops, n_entries)})
        """


def events_watermark_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark sizing census (operators/timeseries.
    out_of_order_lateness): per event_type, how out-of-order the
    stream actually is — event count, late-event count, max and
    total lateness vs the per-user running event-time max in arrival
    (event_id) order. A watermark of W drops exactly the events
    whose lateness exceeds W, so this table IS the drop-rate curve
    the streaming queries' withWatermark settings should be derived
    from. All-integer microseconds; one user-partitioned window +
    one group-by — no floats, no global scan."""
    from ..operators.timeseries import out_of_order_lateness

    ev = load_table(spark, sf_dir, "events")
    lat = out_of_order_lateness(ev)
    return (
        lat.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(
                F.when(F.col("lateness_us") > 0, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_late"),
            F.max("lateness_us").cast("bigint").alias("max_late_us"),
            F.sum("lateness_us").cast("bigint").alias("sum_late_us"),
        )
        .orderBy("event_type")
    )


def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle into 8 training shards
    (operators/corpus.shuffle_shards): per-shard doc counts, id
    range, and an ORDER-SENSITIVE fingerprint — sum of
    ((position % p) * (sort_key % p)) % p with p = 1000003 — so the
    oracle pins the exact within-shard permutation, not just
    membership (the driver's value hash is order-insensitive; the
    fingerprint restores order sensitivity). Both factors are
    reduced mod p BEFORE multiplying because sort_key is a 60-bit
    draw (corpus.hash_order): the product of two residues is < 1e12
    and every term < 1e6, so the sum stays exact in BIGINT past
    1e12 rows."""
    from ..operators.corpus import shuffle_shards

    docs = load_table(spark, sf_dir, "documents")
    sh = shuffle_shards(docs, n_shards=8)
    p = F.lit(1000003)
    return (
        sh.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                ((F.col("position") % p) * (F.col("sort_key") % p)) % p
            )
            .cast("bigint")
            .alias("order_fp"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
        )
        .select(
            F.col("shard").cast("bigint").alias("shard"),
            "n_docs",
            "order_fp",
            "min_doc",
            "max_doc",
        )
        .orderBy("shard")
    )


def knn_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering over the NN-Descent kNN graph
    (operators/knngraph): mutual-kNN edges at tau=0.4, then
    distributed connected components (hash-min with pointer halving,
    graph/algorithms.connected_components) — the SemDeDup-style
    corpus clustering pass: clusters are same-topic/near-duplicate
    pockets, output one row per cluster (rep = min vec_id, size).

    Measured on the fixtures: 44 clusters (max 6) at sf0.001, 39
    (max 8) at sf0.01, 253 (max 16) at sf0.1 — tau=0.4 keeps
    components tiny, so the oracle's unrolled hash-min is bounded
    while the engine's CC is the O(log d)-round label propagation
    that survives 100 TB. Scale: mutual check is a self semi-join on
    the candidate-bounded kNN edge set; no stage exceeds O(N·k)."""
    from ..graph.algorithms import connected_components
    from ..graph.traversal import Graph as _G
    from ..operators import knngraph as kg

    emb = load_table(spark, sf_dir, "embeddings")
    ladder = kg.nn_descent(emb, k=10, rounds=3, arrow=False)
    mut = kg.mutual_edges(ladder[-1], tau=0.4)
    nodes = (
        mut.select(F.col("a").alias("id"))
        .union(mut.select(F.col("b").alias("id")))
        .distinct()
    )
    edges = mut.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    comp = connected_components(_G(nodes, edges))
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .select(
            F.col("component").cast("bigint").alias("cluster_rep"),
            "n_members",
        )
        .orderBy("cluster_rep")
    )


def _sql_dot_pair(u: str, v: str) -> str:
    """Left-fold dot for two named array expressions — identical
    operand order to functions/vectors.dot."""
    return (
        f"list_reduce(list_transform(range(1, len({u})+1), "
        f"i -> CAST({u}[i] AS DOUBLE) * CAST({v}[i] AS DOUBLE)), "
        "(x, y) -> x + y)"
    )


def _sql_nnd_stage(
    src: str,
    out: str,
    k: int,
    materialized: bool = False,
    left_emb: str = "emb",
) -> str:
    """One NN-Descent scoring stage as SQL CTEs: score the pair set
    `src` (norms precomputed in emb — same doubles as folding
    inline, identical operand order), cut to top-k per node with
    (score DESC, neighbour id ASC) ties. g{out} keeps s so the
    mutual-kNN consumer can threshold it. `materialized` pins the
    result when a consumer references g{out} more than once per
    level (DuckDB inlines plain CTEs — see _sql_knn_components).
    `left_emb` resolves side a's vector+norm against a different
    CTE (the insert census scores batch vectors vs the base)."""
    cos = (
        f"({_sql_dot_pair('ea.embedding', 'eb.embedding')}"
        " / (ea.nrm * eb.nrm))"
    )
    mat = "MATERIALIZED " if materialized else ""
    return f"""
        s{out} AS (
          SELECT p.a, p.b, {cos} AS s
          FROM {src} p JOIN {left_emb} ea ON ea.id = p.a
               JOIN emb eb ON eb.id = p.b),
        g{out} AS {mat}(
          SELECT a, b, s FROM (
            SELECT a, b, s, row_number() OVER (
              PARTITION BY a ORDER BY s DESC, b) AS rnk
            FROM s{out}) WHERE rnk <= {k}),"""


def _sql_nnd_expand(g: str, out: str) -> str:
    return f"""
        u{g} AS (
          SELECT a, b FROM g{g} UNION SELECT b AS a, a AS b FROM g{g}),
        c{out} AS (
          SELECT x.a AS a, y.b AS b
          FROM u{g} x JOIN u{g} y ON x.b = y.a WHERE x.a <> y.b
          UNION SELECT a, b FROM g{g}),"""


def _sql_nnd_prefix(k: int = 10, where: str = "") -> str:
    """Shared SQL replay of operators/knngraph.nn_descent
    (permutation-successor init, three refinement rounds): the WITH
    chain through the final graph g3, reused by ns_nn_descent and
    ns_knn_components. MUST stay plain WITH — under WITH RECURSIVE
    DuckDB treats the whole mutually-referencing CTE chain as a
    recursive group and iterates it to fixpoint (measured: recall
    silently becomes 1.0), so consumers needing iteration use
    bounded unrolled rounds instead of a recursive CTE."""
    key = "CAST(a.id AS VARCHAR) || '_' || CAST(t.o AS VARCHAR)"
    hb = _sql_hex16(f"{key} || ':nndb'")
    ho = _sql_hex60(f"{key} || ':nndo'")
    w = f" WHERE {where}" if where else ""
    return f"""
        WITH emb AS (
          SELECT CAST(vec_id AS BIGINT) AS id, embedding,
                 sqrt({_sql_dot_pair("embedding", "embedding")}) AS nrm
          FROM embeddings{w}),
        sel AS (
          SELECT a.id, t.o,
                 ({hb}) % 32 AS bkt,
                 ({ho}) AS hk
          FROM emb a, range(1, {k + 1}) t(o)),
        init AS (
          SELECT DISTINCT a, b FROM (
            SELECT id AS a,
                   coalesce(
                     lead(id) OVER (
                       PARTITION BY o, bkt ORDER BY hk, id),
                     first_value(id) OVER (
                       PARTITION BY o, bkt ORDER BY hk, id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING)) AS b
            FROM sel) WHERE a <> b),
        {_sql_nnd_stage("init", "0", k)}
        {_sql_nnd_expand("0", "1")}
        {_sql_nnd_stage("c1", "1", k)}
        {_sql_nnd_expand("1", "2")}
        {_sql_nnd_stage("c2", "2", k)}
        {_sql_nnd_expand("2", "3")}
        {_sql_nnd_stage("c3", "3", k)}"""


def _sql_nn_descent(k: int = 10) -> str:
    """Full SQL replay of nn_descent_census: the shared prefix plus
    brute-force truth and exact recall per stage."""
    return f"""
        {_sql_nnd_prefix(k)}
        qt AS (SELECT id AS a FROM emb WHERE id % 20 = 0),
        tp AS (
          SELECT q.a, e.id AS b FROM qt q JOIN emb e ON e.id <> q.a),
        {_sql_nnd_stage("tp", "t", k)}
        m AS (
          SELECT
            (SELECT count(*) FROM emb) AS n_nodes,
            (SELECT count(DISTINCT a) FROM gt) AS n_queries,
            (SELECT count(*) FROM gt) AS n_truth,
            (SELECT count(*) FROM g0 JOIN gt USING (a, b)) AS m0,
            (SELECT count(*) FROM g1 JOIN gt USING (a, b)) AS m1,
            (SELECT count(*) FROM g2 JOIN gt USING (a, b)) AS m2,
            (SELECT count(*) FROM g3 JOIN gt USING (a, b)) AS m3)
        SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
               CAST(n_queries AS BIGINT) AS n_queries,
               CASE WHEN n_truth > 0
                 THEN round(m0 / CAST(n_truth AS DOUBLE), 6) END
                 AS recall_init,
               CASE WHEN n_truth > 0
                 THEN round(m1 / CAST(n_truth AS DOUBLE), 6) END
                 AS recall_r1,
               CASE WHEN n_truth > 0
                 THEN round(m2 / CAST(n_truth AS DOUBLE), 6) END
                 AS recall_r2,
               CASE WHEN n_truth > 0
                 THEN round(m3 / CAST(n_truth AS DOUBLE), 6) END
                 AS recall_r3,
               (m0 <= m1 AND m1 <= m2 AND m2 <= m3) AS monotone
        FROM m WHERE n_nodes > 0
        """


def _sql_knn_components(
    k: int = 10, tau: float = 0.4, rounds: int = 20
) -> str:
    """Full SQL replay of knn_components: the shared NN-Descent
    prefix, mutual-kNN thresholding, then components as BOUNDED
    unrolled hash-min rounds (the _kcore_sql idiom — a recursive CTE
    is off the table because the prefix must stay plain WITH, see
    _sql_nnd_prefix). 20 rounds is a fixpoint whenever every
    component's min-id eccentricity is <= 20; tau=0.4 keeps
    components tiny (max size 16 at sf0.1), and
    test_knn_components_oracle_rounds_converged pins the bound."""
    mins = "\n        ".join(
        f"""l{r + 1} AS MATERIALIZED (
          SELECT e.a AS v, min(least(la.m, lb.m)) AS m
          FROM eu e JOIN l{r} la ON la.v = e.a
               JOIN l{r} lb ON lb.v = e.b
          GROUP BY e.a),"""
        for r in range(rounds)
    )
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    # each round references the previous one twice -> a 2^rounds plan
    # blowup without it (measured: "Too many open files" at 20).
    return f"""
        {_sql_nnd_prefix(k)}
        mut AS MATERIALIZED (
          SELECT g.a, g.b FROM g3 g JOIN g3 r
            ON r.a = g.b AND r.b = g.a
          WHERE g.s >= {tau} AND g.a < g.b),
        eu AS MATERIALIZED (
          SELECT a, b FROM mut UNION SELECT b AS a, a AS b FROM mut),
        l0 AS MATERIALIZED (SELECT DISTINCT a AS v, a AS m FROM eu),
        {mins}
        comp AS (SELECT v, m FROM l{rounds})
        SELECT CAST(m AS BIGINT) AS cluster_rep,
               CAST(count(*) AS BIGINT) AS n_members
        FROM comp GROUP BY m
        ORDER BY cluster_rep
        """


_TUMBLING_SQL = """
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS bucket,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        FROM events GROUP BY 1, 2
        """

ENTRIES: dict[str, QueryDef] = {
    "ns_vec_class_centroids": QueryDef(
        vec_class_centroids,
        """
        WITH cent AS (
          SELECT label, i,
                 round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
          FROM embeddings, range(1, 65) t(i)
          GROUP BY label, i
        ),
        cv AS (
          SELECT label, list(m ORDER BY i) AS v FROM cent GROUP BY label
        )
        SELECT CAST(a.label AS BIGINT) AS label_a,
               CAST(b.label AS BIGINT) AS label_b,
               round((
                 list_reduce(list_transform(range(1, 65),
                   i -> (a.v)[i] * (b.v)[i]), (x, y) -> x + y)
                 / (sqrt(list_reduce(list_transform(range(1, 65),
                      i -> (a.v)[i] * (a.v)[i]), (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(range(1, 65),
                      i -> (b.v)[i] * (b.v)[i]), (x, y) -> x + y)))
               ), 6) AS cos_sim
        FROM cv a JOIN cv b ON a.label < b.label
        """,
    ),
    "ns_text_vocab_stats": QueryDef(
        text_vocab_stats,
        """
        WITH toks AS (
          SELECT unnest(string_split(lower(text), ' ')) AS w
          FROM documents),
        per AS (SELECT w, count(*) AS n FROM toks GROUP BY 1)
        SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS vocab_size,
               CAST(count(*) FILTER (WHERE n = 1) AS BIGINT) AS n_hapax,
               round(CAST(count(*) AS DOUBLE) / sum(n), 6)
                 AS type_token_ratio
        FROM per
        """,
    ),
    "ns_events_type_quartiles": QueryDef(
        events_type_quartiles,
        """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(quantile_cont(value, 0.25), 6) AS q1,
               round(quantile_cont(value, 0.5), 6) AS median,
               round(quantile_cont(value, 0.75), 6) AS q3
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type
        """,
    ),
    "ns_events_value_deciles": QueryDef(
        events_value_deciles,
        """
        WITH t AS (
          SELECT """
        + ",\n                 ".join(
            f"round(quantile_cont(value, {i/10.0}), 6) AS t{i}"
            for i in range(1, 10)
        )
        + """
          FROM events WHERE value IS NOT NULL
        )
        SELECT CAST(1 """
        + " ".join(
            f"+ CAST(value >= t{i} AS INT)" for i in range(1, 10)
        )
        + """ AS BIGINT) AS decile,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                    AS BIGINT) AS sum_micros
        FROM events, t WHERE value IS NOT NULL
        GROUP BY 1
        """,
    ),
    "ns_events_scd2": QueryDef(
        events_scd2,
        """
        WITH marked AS (
          SELECT user_id, event_type, ts, event_id,
                 CASE WHEN lag(event_type) OVER w IS NULL
                        OR lag(event_type) OVER w <> event_type
                      THEN 1 ELSE 0 END AS chg
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        islands AS (
          SELECT user_id, event_type, ts,
                 sum(chg) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM marked
        ),
        ep AS (
          SELECT user_id, island, event_type,
                 min(ts) AS valid_from,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM islands GROUP BY user_id, island, event_type
        )
        SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
               valid_from,
               lead(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from, island
                                     ) AS valid_to,
               n_events
        FROM ep
        """,
    ),
    "ns_events_type_gini": QueryDef(
        events_type_gini,
        """
        WITH per AS (
          SELECT user_id, event_type, count(*) AS c
          FROM events GROUP BY 1, 2),
        agg AS (
          SELECT user_id,
                 sum(CAST(c AS HUGEINT)) AS n,
                 sum(CAST(c AS HUGEINT) * c) AS ss,
                 CAST(count(*) AS BIGINT) AS n_types
          FROM per GROUP BY 1)
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(n AS BIGINT) AS n_events,
               n_types,
               round(CAST(n * n - ss AS DOUBLE)
                     / CAST(n * n AS DOUBLE), 6) AS gini
        FROM agg
        """,
    ),
    "ns_events_transitions": QueryDef(
        events_transitions,
        """
        WITH seq AS (
          SELECT event_type AS src,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS dst
          FROM events
        ),
        pairs AS (
          SELECT src, dst, CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
        )
        SELECT src, dst, n,
               round(n / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE),
                     6) AS p
        FROM pairs
        """,
    ),
    "ns_dedup_exact": QueryDef(
        dedup_exact_stats,
        """
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
          (SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) FROM documents)
            AS n_unique,
          (SELECT CAST(count(*) AS BIGINT) FROM (
             SELECT md5(text) FROM documents GROUP BY 1 HAVING count(*) > 1))
            AS n_dup_groups,
          (SELECT CAST(count(*) AS BIGINT) FROM (
             SELECT min(doc_id) FROM documents GROUP BY md5(text)))
            AS n_after_dedup
        """,
    ),
    "ns_dedup_ngram_prefix": QueryDef(
        ngram_jaccard_prefix,
        f"""
        WITH {_SQL_JACCARD_PAIRS_CUT.lstrip()}
        SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
               jaccard
        FROM jac WHERE jaccard >= {JACCARD_TAU}
        """,
    ),
    "ns_dedup_ngram_jaccard": QueryDef(
        ngram_jaccard,
        f"""
        WITH {_SQL_JACCARD_PAIRS_CUT.lstrip()}
        SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
               jaccard
        FROM jac WHERE jaccard >= {JACCARD_TAU}
        """,
    ),
    "ns_dedup_containment": QueryDef(
        ngram_containment,
        f"""
        WITH {_SQL_JACCARD_PAIRS_CUT.lstrip()},
        ix AS (
          SELECT a.doc_id AS ia, b.doc_id AS ib,
                 a.set_size AS sa, b.set_size AS sb,
                 count(*) AS c
          FROM kept a
          JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4),
        both_dirs AS (
          SELECT ia AS id, ib AS container_id,
                 round(c / CAST(sa AS DOUBLE), 6) AS containment
          FROM ix
          UNION ALL
          SELECT ib, ia, round(c / CAST(sb AS DOUBLE), 6) FROM ix)
        SELECT CAST(id AS BIGINT) AS id,
               CAST(container_id AS BIGINT) AS container_id,
               containment
        FROM both_dirs WHERE containment >= {CONTAIN_TAU}
        """,
    ),
    "ns_dedup_minhash_lsh": QueryDef(
        minhash_lsh,
        f"""
        {_SQL_MINHASH_CAND}
        SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b
        FROM cand
        """,
    ),
    "ns_dedup_incremental": QueryDef(
        minhash_incremental,
        _sql_minhash_sig()
        + f""",
        banded AS ({_sql_bands()})
        SELECT DISTINCT CAST(b.doc_id AS BIGINT) AS new_id,
               CAST(a.doc_id AS BIGINT) AS match_id
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.h = b.h
        WHERE b.doc_id % 10 = 0
          AND (a.doc_id % 10 != 0 OR a.doc_id < b.doc_id)
        """,
    ),
    "ns_dedup_minhash_verified": QueryDef(
        minhash_verified,
        f"""
        {_SQL_MINHASH_CAND},
        {_SQL_JACCARD_PAIRS.lstrip().lstrip()}
        SELECT CAST(c.id_a AS BIGINT) AS id_a, CAST(c.id_b AS BIGINT) AS id_b,
               j.jaccard
        FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
        WHERE j.jaccard >= {JACCARD_TAU}
        """,
    ),
    "ns_dedup_quality_rep": QueryDef(
        dedup_quality_rep,
        f"""
        WITH RECURSIVE {_SQL_JACCARD_PAIRS_CUT.lstrip()},
        p AS (
          SELECT id_a, id_b FROM jac WHERE jaccard >= {JACCARD_TAU}
        ),
        e AS (
          SELECT id_a AS a, id_b AS b FROM p
          UNION
          SELECT id_b, id_a FROM p
        ),
        nodes AS (SELECT id_a AS v FROM p UNION SELECT id_b FROM p),
        reach(v, m) AS (
          SELECT v, v FROM nodes
          UNION
          SELECT e.b, r.m FROM reach r JOIN e ON e.a = r.v
        ),
        comp AS (SELECT v, min(m) AS m FROM reach GROUP BY v),
        q AS (
          SELECT doc_id,
            round(0.4 * least(
                    CAST(len(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0)
                + 0.3 * (CASE WHEN round(
                    (CAST(length(text) AS DOUBLE)
                     - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1))
                    / CAST(len(string_split(text, ' ')) AS DOUBLE), 6)
                    BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END)
                + 0.3 * least(
                    {_sql_stop_ratio(tx.STOPWORDS["en"])} * 10.0, 1.0),
              6) AS quality
          FROM documents),
        qq AS (
          SELECT doc_id,
                 CAST(round(quality * 1000000) AS BIGINT) AS qm
          FROM q),
        ranked AS (
          SELECT c.m, c.v, qq.qm,
                 row_number() OVER (PARTITION BY c.m
                                    ORDER BY qq.qm DESC, c.v ASC) AS rn
          FROM comp c JOIN qq ON qq.doc_id = c.v
        )
        SELECT CAST(m AS BIGINT) AS cluster_rep,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(max(CASE WHEN rn = 1 THEN v END) AS BIGINT)
                 AS best_doc_id,
               CAST(max(qm) AS BIGINT) AS best_q_micro
        FROM ranked GROUP BY m
        """,
    ),
    "ns_dedup_clusters": QueryDef(
        dedup_clusters_summary,
        f"""
        WITH RECURSIVE {_SQL_JACCARD_PAIRS_CUT.lstrip()},
        p AS (
          SELECT id_a, id_b FROM jac WHERE jaccard >= {JACCARD_TAU}
        ),
        e AS (
          SELECT id_a AS a, id_b AS b FROM p
          UNION
          SELECT id_b, id_a FROM p
        ),
        nodes AS (SELECT id_a AS v FROM p UNION SELECT id_b FROM p),
        reach(v, m) AS (
          SELECT v, v FROM nodes
          UNION
          SELECT e.b, r.m FROM reach r JOIN e ON e.a = r.v
        ),
        comp AS (SELECT v, min(m) AS m FROM reach GROUP BY v)
        SELECT CAST(m AS BIGINT) AS cluster_rep,
               CAST(count(*) AS BIGINT) AS n_members
        FROM comp GROUP BY m
        """,
    ),
    "ns_embedding_norm_stats": QueryDef(
        embedding_norm_stats,
        """
        WITH mu AS (
          SELECT label,
                 CAST(floor(sqrt(list_reduce(
                   list_transform(range(1, len(embedding) + 1),
                     i -> CAST(embedding[i] AS DOUBLE)
                          * CAST(embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)) * 1000000.0) AS BIGINT) AS m
          FROM embeddings
        )
        SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
               round(CAST(sum(m) / 1000000.0 AS DOUBLE) / count(*), 6)
                 AS avg_norm
        FROM mu GROUP BY label
        """,
    ),
    "ns_events_stateful_counts": QueryDef(
        events_stateful_counts,
        """
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
                    AS BIGINT) AS n_clicks,
               max(value) AS max_value
        FROM events GROUP BY user_id
        """,
    ),
    "ns_dedup_simhash_md5": QueryDef(
        simhash_md5_pairs,
        """
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        ),
        hv AS (
          SELECT doc_id,
            (strpos('0123456789abcdef', substr(md5(t),1,1))-1)*4096
          + (strpos('0123456789abcdef', substr(md5(t),2,1))-1)*256
          + (strpos('0123456789abcdef', substr(md5(t),3,1))-1)*16
          + (strpos('0123456789abcdef', substr(md5(t),4,1))-1) AS h
          FROM tok
        ),
        votes AS (
          SELECT doc_id,
        """
        + ",\n        ".join(
            f"sum(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS v_{i}"
            for i in range(16)
        )
        + """
          FROM hv GROUP BY doc_id
        ),
        sh AS (
          SELECT doc_id,
        """
        + " + ".join(
            f"(CASE WHEN v_{i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(16)
        )
        + """ AS sh16
          FROM votes
        )
        SELECT CAST(a.doc_id AS BIGINT) AS id_a,
               CAST(b.doc_id AS BIGINT) AS id_b,
               CAST(bit_count(xor(a.sh16, b.sh16)) AS BIGINT) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh16, b.sh16)) <= 2
        """,
    ),
    "ns_media_embedding_ann": QueryDef(
        media_embedding_ann,
        f"""
        WITH feats AS (
          SELECT CAST(doc_id AS BIGINT) AS vec_id,
                 [{", ".join(
                     f"CAST(len(list_filter(string_split(substr(text, 1, 256),"
                     f" ''), c -> ascii(c) % 8 = {k})) AS DOUBLE)"
                     for k in range(8)
                 )}] AS embedding
          FROM documents),
        emb AS (
          SELECT vec_id, embedding,
                 {_sql_hyperplane_bucket(num_planes=6, dim=8)} AS bucket
          FROM feats),
        q AS (
          SELECT vec_id AS q_id, embedding AS qvec, bucket
          FROM emb WHERE vec_id % 100 = 0),
        scored AS (
          SELECT q.q_id, e.vec_id, {_SQL_COS_EXACT} AS ex
          FROM emb e JOIN q USING (bucket)
        )
        SELECT CAST(q_id AS BIGINT) AS q_id, vec_id,
               round(ex, 6) AS cos_sim, CAST(rnk AS BIGINT) AS rank
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY ex DESC, vec_id) AS rnk
          FROM scored
        ) WHERE rnk <= 3
        """,
    ),
    "ns_topk_cosine": QueryDef(
        topk_cosine,
        f"""
        WITH q AS (
          SELECT embedding AS qvec FROM embeddings
          WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
        ),
        scored AS (
          SELECT CAST(vec_id AS BIGINT) AS vec_id,
                 {_SQL_COS_EXACT} AS ex
          FROM embeddings, q
        )
        SELECT vec_id, round(ex, 6) AS cos_sim FROM scored
        ORDER BY ex DESC, vec_id LIMIT {TOPK}
        """,
    ),
    "ns_filtered_ann": QueryDef(
        filtered_ann,
        f"""
        WITH q AS (
          SELECT embedding AS qvec, label AS qlabel FROM embeddings
          WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
        ),
        scored AS (
          SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
                 CAST(e.label AS BIGINT) AS label,
                 {_SQL_COS_EXACT} AS ex
          FROM embeddings e JOIN q ON e.label = q.qlabel
        )
        SELECT vec_id, label, round(ex, 6) AS cos_sim FROM scored
        ORDER BY ex DESC, vec_id LIMIT {TOPK}
        """,
    ),
    "ns_vec_matryoshka": QueryDef(
        vec_matryoshka_recall,
        f"""
        WITH q AS (
          SELECT vec_id AS q_id, embedding AS qvec FROM embeddings
          WHERE vec_id % 100 = 0),
        scored AS (
          SELECT q.q_id, e.vec_id, {_SQL_COS_EXACT} AS ex
          FROM embeddings e, q),
        truth AS (
          SELECT q_id, vec_id FROM (
            SELECT *, row_number() OVER (
              PARTITION BY q_id ORDER BY ex DESC, vec_id) AS rnk
            FROM scored) WHERE rnk <= 5),
        et AS (
          SELECT vec_id, embedding[1:{MRL_DIM}] AS embedding
          FROM embeddings),
        qt AS (
          SELECT vec_id AS q_id, embedding[1:{MRL_DIM}] AS qvec
          FROM embeddings WHERE vec_id % 100 = 0),
        scoredt AS (
          SELECT qt.q_id, e.vec_id, {_SQL_COS_EXACT} AS ex
          FROM et e, qt),
        approx AS (
          SELECT q_id, vec_id FROM (
            SELECT *, row_number() OVER (
              PARTITION BY q_id ORDER BY ex DESC, vec_id) AS rnk
            FROM scoredt) WHERE rnk <= 5),
        hits AS (
          SELECT t.q_id, count(*) AS n_hits
          FROM truth t JOIN approx a
            ON a.q_id = t.q_id AND a.vec_id = t.vec_id
          GROUP BY 1)
        SELECT CAST(t.q_id AS BIGINT) AS q_id,
               CAST(count(*) AS BIGINT) AS n_true,
               CAST(coalesce(any_value(h.n_hits), 0) AS BIGINT)
                 AS n_hits,
               round(coalesce(any_value(h.n_hits), 0)
                     / CAST(count(*) AS DOUBLE), 4) AS recall
        FROM truth t LEFT JOIN hits h ON h.q_id = t.q_id
        GROUP BY t.q_id
        """,
    ),
    "ns_nn_descent": QueryDef(
        nn_descent_census,
        _sql_nn_descent(),
    ),
    "ns_knn_components": QueryDef(
        knn_components,
        _sql_knn_components(),
    ),
    "ns_graph_ann_search": QueryDef(
        graph_ann_search_census,
        _sql_graph_ann_search(),
    ),
    "ns_knn_insert": QueryDef(
        knn_insert_census,
        _sql_knn_insert(),
    ),
    "ns_knn_delete": QueryDef(
        knn_delete_census,
        _sql_knn_delete(),
    ),
    "ns_knn_probe": QueryDef(
        knn_probe_census,
        _sql_knn_probe(),
    ),
    "ns_knn_refresh": QueryDef(
        knn_refresh_census,
        _sql_knn_refresh(),
    ),
    "ns_knn_compact": QueryDef(
        knn_compact_census,
        _sql_knn_compact(),
    ),
    "ns_knn_repartition": QueryDef(
        knn_repartition_census,
        _sql_knn_repartition(),
    ),
    "ns_ivf_delete": QueryDef(
        ivf_delete_census,
        """
        SELECT CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(CASE WHEN vec_id % 5 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_deleted,
               TRUE AS lists_complete,
               TRUE AS no_dead_ids,
               TRUE AS retry_noop,
               TRUE AS all_self_rank1,
               TRUE AS recall_ge_040
        FROM embeddings
        HAVING count(*) > 0
        """,
    ),
    "ns_events_watermark_census": QueryDef(
        events_watermark_census,
        """
        WITH x AS (
          SELECT event_type,
                 greatest(0, coalesce(max(epoch_us(ts)) OVER (
                     PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), epoch_us(ts))
                   - epoch_us(ts)) AS late_us
          FROM events)
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_late,
               CAST(max(late_us) AS BIGINT) AS max_late_us,
               CAST(sum(late_us) AS BIGINT) AS sum_late_us
        FROM x GROUP BY event_type ORDER BY event_type
        """,
    ),
    "ns_corpus_shuffle_shards": QueryDef(
        corpus_shuffle_shards,
        f"""
        WITH sh AS (
          SELECT doc_id,
                 ({_sql_hex16("CAST(doc_id AS VARCHAR) || ':shard'")})
                   % 8 AS shard,
                 ({_sql_hex60(
                     "CAST(doc_id AS VARCHAR) || ':shard:ord'"
                 )}) AS sort_key
          FROM documents),
        pos AS (
          SELECT doc_id, shard, sort_key,
                 CAST(row_number() OVER (
                   PARTITION BY shard ORDER BY sort_key, doc_id)
                   AS BIGINT) AS position
          FROM sh)
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(((position % 1000003) * (sort_key % 1000003))
                        % 1000003) AS BIGINT)
                 AS order_fp,
               CAST(min(doc_id) AS BIGINT) AS min_doc,
               CAST(max(doc_id) AS BIGINT) AS max_doc
        FROM pos GROUP BY shard ORDER BY shard
        """,
    ),
    "ns_knn_join": QueryDef(
        knn_join_sample,
        f"""
        WITH q AS (
          SELECT vec_id AS q_id, embedding AS qvec FROM embeddings
          WHERE vec_id % 100 = 0
        ),
        scored AS (
          SELECT q.q_id, CAST(e.vec_id AS BIGINT) AS vec_id,
                 {_SQL_COS_EXACT} AS ex
          FROM embeddings e, q
        )
        SELECT CAST(q_id AS BIGINT) AS q_id, vec_id,
               round(ex, 6) AS cos_sim, CAST(rnk AS BIGINT) AS rank
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY ex DESC, vec_id) AS rnk
          FROM scored
        ) WHERE rnk <= 5
        """,
    ),
    "ns_lsh_ann": QueryDef(
        lsh_ann,
        f"""
        WITH emb AS (
          SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
                 {_sql_hyperplane_bucket()} AS bucket
          FROM embeddings),
        q AS (
          SELECT vec_id AS q_id, embedding AS qvec, bucket
          FROM emb WHERE vec_id % 100 = 0),
        scored AS (
          SELECT q.q_id, e.vec_id, {_SQL_COS_EXACT} AS ex
          FROM emb e JOIN q USING (bucket)
        )
        SELECT CAST(q_id AS BIGINT) AS q_id, vec_id,
               round(ex, 6) AS cos_sim, CAST(rnk AS BIGINT) AS rank
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY ex DESC, vec_id) AS rnk
          FROM scored
        ) WHERE rnk <= 5
        """,
    ),
    "ns_pq_recall": QueryDef(
        pq_recall,
        """
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               TRUE AS all_self_rank1,
               TRUE AS recall_ge_020
        FROM embeddings WHERE vec_id % 100 = 0
        """,
    ),
    "ns_ivfpq_recall": QueryDef(
        ivfpq_recall,
        """
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               TRUE AS all_self_rank1,
               TRUE AS recall_ge_015
        FROM embeddings WHERE vec_id % 100 = 0
        """,
    ),
    "ns_hamming_recall": QueryDef(
        hamming_recall,
        """
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               TRUE AS all_self_found,
               TRUE AS mean_recall_ge_035
        FROM embeddings WHERE vec_id % 100 = 0
        """,
    ),
    "ns_ivf_recall": QueryDef(
        ivf_recall,
        """
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               TRUE AS all_self_rank1,
               TRUE AS mean_recall_ge_040
        FROM embeddings WHERE vec_id % 100 = 0
        """,
    ),
    "ns_ivf_ann": QueryDef(
        ivf_ann_census,
        """
        SELECT CAST(vec_id AS BIGINT) AS q_id,
               TRUE AS self_rank1,
               TRUE AS ranks_contiguous_le_k,
               TRUE AS scores_desc
        FROM embeddings WHERE vec_id % 100 = 0
        ORDER BY q_id
        """,
    ),
    "ns_ivf_refresh": QueryDef(
        ivf_refresh_census,
        """
        SELECT CAST(sum(CASE WHEN vec_id % 3 <> 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_base,
               CAST(sum(CASE WHEN vec_id % 3 = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               TRUE AS new_ids_once,
               TRUE AS lists_complete,
               TRUE AS all_self_rank1,
               TRUE AS recall_ge_040,
               TRUE AS within_margin_of_retrain
        FROM embeddings
        HAVING coalesce(sum(CASE WHEN vec_id % 3 <> 2 THEN 1 ELSE 0
                            END), 0) > 0
        """,
    ),
    "ns_pq_sampled_train": QueryDef(
        pq_sampled_train_census,
        """
        SELECT CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(CASE WHEN
                 ('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                   || ':pqtrain'), 1, 4))::BIGINT % 4 = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
               TRUE AS all_self_rank1,
               TRUE AS recall_ge_025,
               TRUE AS within_margin_of_full
        FROM embeddings
        HAVING count(*) > 0
        """,
    ),
    "ns_ivfpq_refresh": QueryDef(
        ivfpq_refresh_census,
        """
        SELECT CAST(sum(CASE WHEN vec_id % 3 <> 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_base,
               CAST(sum(CASE WHEN vec_id % 3 = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               TRUE AS retry_noop,
               TRUE AS new_ids_once,
               TRUE AS self_rank1_ge_090,
               TRUE AS self_topk_ge_099,
               TRUE AS recall_ge_015
        FROM embeddings
        HAVING coalesce(sum(CASE WHEN vec_id % 3 <> 2 THEN 1 ELSE 0
                            END), 0) > 0
        """,
    ),
    "ns_ivfpq_probe": QueryDef(
        ivfpq_probe_census,
        """
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               TRUE AS probe_equals_inquery,
               TRUE AS partition_pruned,
               TRUE AS codes_only
        FROM embeddings
        WHERE vec_id % 100 = 0
        HAVING (SELECT count(*) FROM embeddings) > 0
        """,
    ),
    "ns_ivf_rebalance": QueryDef(
        ivf_rebalance_census,
        """
        WITH fp_rows AS (
          SELECT ('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                    || ':ivfrb'), 1, 12))::BIGINT AS fp
          FROM embeddings
        )
        SELECT CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(fp >> 24) AS BIGINT) AS ids_hi,
               CAST(sum(fp & 16777215) AS BIGINT) AS ids_lo,
               TRUE AS retry_noop,
               TRUE AS split_occurred,
               TRUE AS skew_not_worse,
               TRUE AS hot_shrunk,
               TRUE AS recall_ge_050
        FROM fp_rows
        HAVING count(*) > 0
        """,
    ),
    "ns_ivfpq_rebalance": QueryDef(
        ivfpq_rebalance_census,
        """
        WITH fp_rows AS (
          SELECT ('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                    || ':ivfpqrb'), 1, 12))::BIGINT AS fp
          FROM embeddings
        )
        SELECT CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(fp >> 24) AS BIGINT) AS ids_hi,
               CAST(sum(fp & 16777215) AS BIGINT) AS ids_lo,
               TRUE AS retry_noop,
               TRUE AS split_occurred,
               TRUE AS cold_untouched,
               TRUE AS codes_verbatim,
               TRUE AS placement_consistent,
               TRUE AS scores_preserved,
               TRUE AS hot_shrunk,
               TRUE AS recall_not_worse,
               TRUE AS recall_ge_010
        FROM fp_rows
        HAVING count(*) > 0
        """,
    ),
    "ns_dedup_simhash": QueryDef(
        dedup_simhash_census,
        """
        WITH dup AS (
          SELECT count(*) AS c FROM documents
          GROUP BY md5(text) HAVING count(*) > 1
        )
        SELECT CAST((SELECT count(*) FROM documents) AS BIGINT)
                 AS n_docs,
               CAST(coalesce((SELECT sum(c * (c - 1) / 2) FROM dup), 0)
                    AS BIGINT) AS n_exact_dup_pairs,
               TRUE AS exact_dups_covered,
               TRUE AS all_within_hamming,
               TRUE AS pairs_canonical
        """,
    ),
    "ns_embedding_near_dup": QueryDef(
        embedding_near_dup,
        f"""
        SELECT CAST(a.vec_id AS BIGINT) AS id_a,
               CAST(b.vec_id AS BIGINT) AS id_b,
               round(
                 list_reduce(list_transform(range(1, len(a.embedding)+1),
                   i -> CAST(a.embedding[i] AS DOUBLE)
                        * CAST(b.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)
                 / (sqrt(list_reduce(list_transform(
                      range(1, len(a.embedding)+1),
                      i -> CAST(a.embedding[i] AS DOUBLE)
                           * CAST(a.embedding[i] AS DOUBLE)),
                      (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(
                      range(1, len(b.embedding)+1),
                      i -> CAST(b.embedding[i] AS DOUBLE)
                           * CAST(b.embedding[i] AS DOUBLE)),
                      (x, y) -> x + y))), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_reduce(list_transform(range(1, len(a.embedding)+1),
                i -> CAST(a.embedding[i] AS DOUBLE)
                     * CAST(b.embedding[i] AS DOUBLE)),
                (x, y) -> x + y)
              / (sqrt(list_reduce(list_transform(
                   range(1, len(a.embedding)+1),
                   i -> CAST(a.embedding[i] AS DOUBLE)
                        * CAST(a.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y))
               * sqrt(list_reduce(list_transform(
                   range(1, len(b.embedding)+1),
                   i -> CAST(b.embedding[i] AS DOUBLE)
                        * CAST(b.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)))
              >= {NEAR_DUP_TAU}
        """,
    ),
    "ns_semantic_dedup": QueryDef(
        semantic_dedup,
        f"""
        WITH nv AS (
          SELECT vec_id, embedding,
                 sqrt(list_reduce(list_transform(
                   range(1, len(embedding) + 1),
                   i -> CAST(embedding[i] AS DOUBLE)
                        * CAST(embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)) AS nrm
          FROM embeddings WHERE vec_id < {SEMDEDUP_PROBE_MAX}),
        p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM nv a JOIN nv b ON a.vec_id < b.vec_id
          WHERE list_reduce(list_transform(
                  range(1, len(a.embedding) + 1),
                  i -> CAST(a.embedding[i] AS DOUBLE)
                       * CAST(b.embedding[i] AS DOUBLE)),
                  (x, y) -> x + y) / (a.nrm * b.nrm)
                >= {NEAR_DUP_TAU})
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM nv) AS n_probe_ids,
               CAST(count(*) AS BIGINT) AS probe_exact_pairs,
               TRUE AS pairs_sound,
               TRUE AS members_consistent,
               TRUE AS probe_recall_ge_050
        FROM p
        """,
    ),
    "ns_text_langid": QueryDef(
        lang_id,
        f"""
        WITH r AS (
          SELECT doc_id,
                 {_sql_stop_ratio(tx.STOPWORDS["de"])} AS r_de,
                 {_sql_stop_ratio(tx.STOPWORDS["en"])} AS r_en,
                 {_sql_stop_ratio(tx.STOPWORDS["es"])} AS r_es
          FROM documents
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
          CASE WHEN greatest(r_de, r_en, r_es) < 0.02 THEN 'und'
               WHEN r_es = greatest(r_de, r_en, r_es) THEN 'es'
               WHEN r_en = greatest(r_de, r_en, r_es) THEN 'en'
               ELSE 'de' END AS lang_pred,
          greatest(r_de, r_en, r_es) AS ratio
        FROM r
        """,
    ),
    "ns_ivf_nprobe_sweep": QueryDef(
        ivf_nprobe_sweep,
        """
        WITH q AS (
          SELECT CAST(count(*) AS BIGINT) AS n_queries
          FROM embeddings WHERE vec_id % 100 = 0
        )
        SELECT s.nprobe, q.n_queries,
               TRUE AS all_self_rank1,
               TRUE AS recall_monotone,
               TRUE AS exhaustive_exact
        FROM q, (VALUES (1), (2), (4), (8)) s(nprobe)
        WHERE q.n_queries > 0
        """,
    ),
    "ns_vec_drift": QueryDef(
        vec_drift,
        """
        WITH xint AS MATERIALIZED (
          SELECT vec_id AS id,
                 unnest(range(0, len(embedding))) AS dim,
                 unnest(list_transform(embedding,
                   e -> CAST(floor(CAST(e AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT))) AS x,
                 (('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                    || ':drift'), 1, 4))::BIGINT % 2) AS coh
          FROM embeddings),
        n AS (SELECT coh, CAST(count(DISTINCT id) AS HUGEINT) AS n
              FROM xint GROUP BY 1),
        sums AS (
          SELECT dim, coh, sum(CAST(x AS HUGEINT)) AS s,
                 sum(CAST(x AS HUGEINT) * x) AS q
          FROM xint GROUP BY 1, 2),
        pd AS (
          SELECT abs(r.s * nc.n - c.s * nr.n) AS mnum,
                 (r.q * nc.n - c.q * nr.n) AS qnum,
                 nr.n AS n_ref, nc.n AS n_cur
          FROM sums r
          JOIN sums c ON c.dim = r.dim AND r.coh = 0 AND c.coh = 1
          CROSS JOIN (SELECT n FROM n WHERE coh = 0) nr(n)
          CROSS JOIN (SELECT n FROM n WHERE coh = 1) nc(n)
        ),
        agg AS (SELECT n_ref, n_cur, sum(mnum) AS msum,
                       sum(qnum) AS qsum
                FROM pd GROUP BY 1, 2)
        SELECT CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_cur AS BIGINT) AS n_cur,
               round(CAST(msum AS DOUBLE)
                     / (CAST(n_ref * n_cur AS DOUBLE) * 1000000.0),
                     6) AS l1_mean_shift,
               round(CAST(abs(qsum) AS DOUBLE)
                     / (CAST(n_ref * n_cur AS DOUBLE) * 1e12),
                     6) AS norm2_shift
        FROM agg WHERE n_ref > 0 AND n_cur > 0
        """,
    ),
    "ns_text_ngram_novelty": QueryDef(
        text_ngram_novelty,
        """
        WITH posts AS (
          SELECT DISTINCT doc_id AS id,
                 unnest(list_distinct(list_transform(
                   range(0, greatest(
                     len(string_split(lower(text), ' ')) - 8, 0) + 1),
                   i -> array_to_string(
                     string_split(lower(text), ' ')[i+1:i+8], ' '))))
                   AS sh
          FROM documents
        ),
        dfq AS (SELECT sh, count(*) AS df FROM posts GROUP BY 1),
        pd AS (
          SELECT id, CAST(count(*) AS BIGINT) AS n_shingles,
                 CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_shared
          FROM posts JOIN dfq USING (sh) GROUP BY 1
        ),
        sc AS (
          SELECT CAST(id AS BIGINT) AS doc_id, n_shingles, n_shared,
                 round(CAST(n_shared AS DOUBLE)
                       / CAST(n_shingles AS DOUBLE), 6) AS shared_ratio
          FROM pd
        )
        SELECT CAST(row_number() OVER (
                 ORDER BY shared_ratio DESC, doc_id) AS BIGINT) AS rank,
               doc_id, n_shingles, n_shared, shared_ratio
        FROM sc ORDER BY shared_ratio DESC, doc_id LIMIT 20
        """,
    ),
    "ns_text_langid_confusion": QueryDef(
        lang_id_confusion,
        f"""
        WITH r AS (
          SELECT doc_id, lang AS lang_true,
                 {_sql_stop_ratio(tx.STOPWORDS["de"])} AS r_de,
                 {_sql_stop_ratio(tx.STOPWORDS["en"])} AS r_en,
                 {_sql_stop_ratio(tx.STOPWORDS["es"])} AS r_es
          FROM documents
        ),
        p AS (
          SELECT lang_true,
            CASE WHEN greatest(r_de, r_en, r_es) < 0.02 THEN 'und'
                 WHEN r_es = greatest(r_de, r_en, r_es) THEN 'es'
                 WHEN r_en = greatest(r_de, r_en, r_es) THEN 'en'
                 ELSE 'de' END AS lang_pred
          FROM r
        ),
        cm AS (
          SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
          FROM p GROUP BY 1, 2
        )
        SELECT lang_true, lang_pred, n,
               round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (
                 PARTITION BY lang_true) AS DOUBLE), 6) AS frac_of_true
        FROM cm
        """,
    ),
    "ns_text_token_stats": QueryDef(
        token_stats,
        f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
          CAST(len(regexp_extract_all(text, '{tx.BPE_ISH_PATTERN}'))
               AS BIGINT) AS n_bpe_tokens,
          round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS uniq_ratio
        FROM documents
        """,
    ),
    "ns_text_quality": QueryDef(
        quality,
        f"""
        WITH t AS (
          SELECT doc_id, n_chars,
            CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
            CAST(length(text) AS DOUBLE) AS len_chars,
            {_sql_stop_ratio(tx.STOPWORDS["en"])} AS stop
          FROM documents
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
          CAST(n_chars AS BIGINT) AS n_chars,
          CAST(n_tok AS BIGINT) AS n_tokens,
          round((len_chars - (n_tok - 1)) / n_tok, 6) AS mean_word_len,
          stop AS stopword_ratio,
          round(0.4 * least(n_tok / 64.0, 1.0)
              + 0.3 * (CASE WHEN round((len_chars - (n_tok - 1)) / n_tok, 6)
                         BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END)
              + 0.3 * least(stop * 10.0, 1.0), 6) AS quality
        FROM t
        """,
    ),
    "ns_text_fingerprints": QueryDef(
        fingerprints,
        f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               md5(text) AS fp_md5,
               list_min(list_transform({_SQL_SHINGLES_FP}, s -> md5(s)))
                 AS fp_min_shingle
        FROM documents
        """,
    ),
    "ns_text_repetition": QueryDef(
        text_repetition,
        """
        WITH toks AS (
          SELECT doc_id, length(text) AS n_chars,
                 string_split(text, ' ') AS t
          FROM documents),
        stats AS (
          SELECT doc_id, n_chars,
                 CAST(len(t) AS BIGINT) AS n_tokens,
                 round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE)
                           / nullif(CAST(len(t) AS DOUBLE), 0)
                       , 6) AS dup_tok_frac
          FROM toks),
        grams AS (
          SELECT doc_id, unnest(list_transform(
                   range(0, greatest(len(t) - 2, 0) + 1),
                   i -> array_to_string(t[i+1:i+2], ' '))) AS gram
          FROM toks),
        counted AS (
          SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt
          FROM grams GROUP BY 1, 2),
        top AS (
          SELECT doc_id, gram AS top2_gram, cnt AS top2_count FROM (
            SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
            FROM counted) WHERE rn = 1)
        SELECT CAST(s.doc_id AS BIGINT) AS doc_id, s.n_tokens,
               s.dup_tok_frac, t.top2_gram, t.top2_count,
               round(t.top2_count * CAST(length(t.top2_gram) AS DOUBLE)
                     / nullif(CAST(s.n_chars AS DOUBLE), 0)
                     , 6) AS top2_char_frac
        FROM stats s JOIN top t USING (doc_id)
        """,
    ),
    "ns_text_pii": QueryDef(
        text_pii_scrub,
        r"""
        WITH dirty AS (
          SELECT doc_id,
            text || ' contact u' || doc_id || '@ex' || (doc_id % 7)
              || '.com from 10.' || (doc_id % 200) || '.0.'
              || (doc_id % 250) || ' tel +15550'
              || (doc_id % 100000 + 100000)
              || CASE WHEN doc_id % 3 = 0
                   THEN ' cc u' || doc_id || '@alt.org' ELSE '' END AS t
          FROM documents),
        red AS (
          SELECT doc_id, t,
            regexp_replace(regexp_replace(regexp_replace(t,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
              '<EMAIL>', 'g'),
              '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
              '<IPV4>', 'g'),
              '\+[0-9]{7,15}', '<PHONE>', 'g') AS clean
          FROM dirty)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
          CAST(len(regexp_extract_all(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            AS BIGINT) AS n_email,
          CAST(len(regexp_extract_all(t,
            '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
            AS BIGINT) AS n_ipv4,
          CAST(len(regexp_extract_all(t, '\+[0-9]{7,15}'))
            AS BIGINT) AS n_phone,
          md5(clean) AS clean_hash,
          CAST(length(clean) AS BIGINT) AS n_chars_clean
        FROM red
        """,
    ),
    "ns_text_normalize": QueryDef(
        text_normalize,
        """
        WITH messy AS (
          SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN text
              ELSE (CASE WHEN doc_id % 2 = 0 THEN upper(text)
                         ELSE text END)
                   || '  [EOF-' || doc_id || ']!!' END AS t
          FROM documents),
        norm AS (
          SELECT doc_id, t,
            trim(regexp_replace(regexp_replace(lower(t),
              '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS n
          FROM messy)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
          md5(n) AS norm_hash,
          CAST(CASE WHEN n = '' THEN 0
               ELSE len(string_split(n, ' ')) END AS BIGINT)
            AS n_tokens_norm,
          (n <> t) AS changed
        FROM norm
        """,
    ),
    "ns_layout_zorder": QueryDef(
        layout_zorder,
        f"""
        SELECT CAST(event_id AS BIGINT) AS event_id,
               {_zvalue_sql('user_id % 65536',
                   'least(CAST(floor(value) AS BIGINT), 65535)')} AS z
        FROM events
        """,
    ),
    "ns_vec_dim_quartiles": QueryDef(
        vec_dim_quartiles,
        """
        WITH x AS (
          SELECT unnest(range(0, len(embedding))) AS dim,
                 unnest(list_transform(embedding,
                        e -> CAST(e AS DOUBLE))) AS v
          FROM embeddings)
        SELECT CAST(dim AS BIGINT) AS dim,
               CAST(count(v) AS BIGINT) AS n,
               round(min(v), 6) AS v_min,
               round(quantile_cont(v, 0.25), 6) AS q1,
               round(quantile_cont(v, 0.5), 6) AS med,
               round(quantile_cont(v, 0.75), 6) AS q3,
               round(max(v), 6) AS v_max
        FROM x GROUP BY dim ORDER BY dim
        """,
    ),
    "ns_quality_calibration": QueryDef(
        quality_calibration,
        f"""
        WITH {_SQL_QUALITY_Q_CTE},
        dupk AS (
          SELECT md5(text) AS k FROM documents
          GROUP BY md5(text) HAVING count(*) > 1),
        b AS (
          SELECT least(CAST(floor(q.quality * 10) AS BIGINT), 9)
                   AS bin,
                 q.n_chars,
                 CASE WHEN md5(q.text) IN (SELECT k FROM dupk)
                      THEN 1 ELSE 0 END AS is_dup
          FROM q)
        SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(is_dup) AS BIGINT) AS n_dups,
               round(CAST(sum(is_dup) AS DOUBLE) / count(*), 6)
                 AS dup_rate,
               round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6)
                 AS mean_chars
        FROM b GROUP BY bin ORDER BY bin
        """,
    ),
    "ns_layout_hilbert": QueryDef(
        layout_hilbert,
        f"""
        WITH ev0 AS (
          SELECT event_id, user_id % 65536 AS ha0,
                 least(CAST(floor(value) AS BIGINT), 65535) AS hb0
          FROM events),
        {_hilbert_ctes('ha0', 'hb0', 16, 'ev0')}
        SELECT CAST(event_id AS BIGINT) AS event_id, h
        FROM h_final
        """,
    ),
    "ns_events_ewma": QueryDef(
        events_ewma,
        """
        WITH staged AS (
          SELECT event_id, user_id, ts,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS c,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events)
        SELECT CAST(event_id AS BIGINT) AS event_id,
               round(CAST("""
        + " + ".join(
            f"(CASE WHEN rn > {j} THEN"
            f" coalesce(lag(c, {j}) OVER w, 0) * {1 << (31 - j)}"
            f" ELSE 0 END)"
            for j in range(32)
        )
        + """ AS DOUBLE) / (CAST("""
        + " + ".join(
            f"(CASE WHEN rn > {j} THEN {1 << (31 - j)} ELSE 0 END)"
            for j in range(32)
        )
        + """ AS DOUBLE) * 100.0), 6) AS ewma
        FROM staged
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
    ),
    "ns_events_rolling_1h": QueryDef(
        events_rolling_window,
        """
        SELECT CAST(event_id AS BIGINT) AS event_id,
               CAST(count(*) OVER w AS BIGINT) AS n_1h,
               CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                 AS BIGINT)) OVER w AS BIGINT) AS sum_1h_cents
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(epoch(ts) AS BIGINT)
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        """,
    ),
    "ns_events_hll_rollup": QueryDef(
        events_hll_rollup,
        """
        WITH d AS (
          SELECT date_trunc('day', ts) AS day FROM events GROUP BY 1)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_days,
               CAST(count(DISTINCT user_id) AS BIGINT)
                 AS exact_month_users,
               TRUE AS all_days_within_10pct,
               TRUE AS month_within_10pct,
               TRUE AS merge_within_5pct_of_direct
        FROM events
        """,
    ),
    "ns_events_multires_rollup": QueryDef(
        events_multires_rollup,
        """
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS sum_value_cents,
                 CAST(min(CAST(CAST(value AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS min_value_cents,
                 CAST(max(CAST(CAST(value AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS max_value_cents
          FROM events GROUP BY 1, 2),
        daily AS (
          SELECT event_type, date_trunc('day', bucket) AS bucket,
                 CAST(sum(n_events) AS BIGINT) AS n_events,
                 CAST(sum(sum_value_cents) AS BIGINT) AS sum_value_cents,
                 CAST(min(min_value_cents) AS BIGINT) AS min_value_cents,
                 CAST(max(max_value_cents) AS BIGINT) AS max_value_cents
          FROM hourly GROUP BY 1, 2)
        SELECT 'hour' AS level, * FROM hourly
        UNION ALL
        SELECT 'day' AS level, * FROM daily
        """,
    ),
    "ns_events_gapfill": QueryDef(
        events_gapfill,
        """
        WITH obs AS (
          SELECT event_type,
                 CAST(epoch_us(ts) // 900000000 AS BIGINT) AS slot,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS sum_cents
          FROM events GROUP BY 1, 2),
        bounds AS (
          SELECT event_type, min(slot) AS s0, max(slot) AS s1
          FROM obs GROUP BY 1),
        grid AS (
          SELECT event_type, unnest(generate_series(s0, s1)) AS slot
          FROM bounds),
        j AS (
          SELECT g.event_type, g.slot, o.n_events, o.sum_cents
          FROM grid g LEFT JOIN obs o USING (event_type, slot))
        SELECT event_type, CAST(slot AS BIGINT) AS slot,
               CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
               CAST(last_value(sum_cents IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY slot
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS locf_sum_cents,
               n_events IS NOT NULL AS observed
        FROM j
        """,
    ),
    "ns_text_tfidf": QueryDef(
        text_tfidf,
        """
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
        tf AS (
          SELECT doc_id, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
        dl AS (
          SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
        dfq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY 1),
        nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term,
                 round((tf.cnt / CAST(dl.len AS DOUBLE))
                       * ln(nd.n / dfq.df), 6) AS s
          FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term), nd),
        best AS (
          SELECT doc_id, term AS top_term, s AS top_tfidf,
                 row_number() OVER (
                   PARTITION BY doc_id ORDER BY s DESC, term) AS rn
          FROM scored)
        SELECT CAST(doc_id AS BIGINT) AS doc_id, top_term, top_tfidf
        FROM best WHERE rn = 1
        """,
    ),
    "ns_events_funnel": QueryDef(
        events_funnel,
        """
        WITH s AS (
          SELECT user_id, min(ts) AS s_ts FROM events
          WHERE event_type = 'signup' GROUP BY 1),
        c AS (
          SELECT e.user_id, min(e.ts) AS c_ts
          FROM events e JOIN s USING (user_id)
          WHERE e.event_type = 'click'
            AND e.ts >= s.s_ts AND e.ts < s.s_ts + INTERVAL 1 HOUR
          GROUP BY 1),
        p AS (
          SELECT e.user_id, min(e.ts) AS p_ts
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase'
            AND e.ts >= c.c_ts AND e.ts < c.c_ts + INTERVAL 24 HOUR
          GROUP BY 1)
        SELECT CAST(s.user_id AS BIGINT) AS user_id,
               CAST(CASE WHEN p.p_ts IS NOT NULL THEN 3
                         WHEN c.c_ts IS NOT NULL THEN 2
                         ELSE 1 END AS BIGINT) AS stage
        FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        """,
    ),
    "ns_cms_heavy_hitters": QueryDef(
        cms_heavy_hitters,
        """
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        c AS (
          SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt
          FROM toks GROUP BY 1)
        SELECT token, exact_cnt,
               TRUE AS lower_ok, TRUE AS within_tol
        FROM c ORDER BY exact_cnt DESC, token LIMIT 10
        """,
    ),
    "ns_text_bigram_logprob": QueryDef(
        text_bigram_logprob,
        """
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t
          FROM documents),
        bi AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(t)),
                        i -> t[i] || ' ' || t[i+1])) AS bg,
                 unnest(list_transform(range(1, len(t)),
                        i -> t[i])) AS w1
          FROM toks),
        uni AS (
          SELECT tok, count(*) AS c1 FROM (
            SELECT unnest(string_split(text, ' ')) AS tok
            FROM documents) GROUP BY 1),
        vs AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
        c2 AS (SELECT bg, count(*) AS c2 FROM bi GROUP BY 1)
        SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(ln((c2.c2 + 1) / (u.c1 + vs.v))), 6)
                 AS mean_bigram_logprob
        FROM bi b JOIN c2 USING (bg)
        JOIN uni u ON u.tok = b.w1, vs
        GROUP BY b.doc_id
        ORDER BY doc_id
        """,
    ),
    "ns_text_zipf_fit": QueryDef(
        text_zipf_fit,
        """
        WITH per AS (
          SELECT tok, count(*) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS tok
            FROM documents) GROUP BY 1),
        top AS (
          SELECT tok, c FROM per ORDER BY c DESC, tok LIMIT 256),
        pts AS (
          SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, tok)
                     AS DOUBLE)) AS x,
                 ln(CAST(c AS DOUBLE)) AS y
          FROM top)
        SELECT CAST(count(*) AS BIGINT) AS n_points,
               round((count(*) * sum(x * y) - sum(x) * sum(y))
                     / (count(*) * sum(x * x) - sum(x) * sum(x)), 6)
                 AS zipf_slope
        FROM pts HAVING count(*) > 1
        """,
    ),
    "ns_text_unigram_logprob": QueryDef(
        text_unigram_logprob,
        """
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        vocab AS (
          SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
        tot AS (
          SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM vocab)
        SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(ln(v.cnt / tot.t)), 6) AS mean_logprob
        FROM toks t JOIN vocab v USING (tok), tot
        GROUP BY t.doc_id
        """,
    ),
    "ns_vec_dim_stats": QueryDef(
        vec_dim_stats,
        """
        WITH g AS (
          SELECT unnest(range(1, len(embedding) + 1)) AS dim,
                 unnest(list_transform(embedding,
                   e -> CAST(floor(CAST(e AS DOUBLE) * 1000000)
                             AS HUGEINT))) AS y
          FROM embeddings),
        s AS (
          SELECT dim, CAST(count(*) AS HUGEINT) AS n,
                 sum(y) AS sy, sum(y * y) AS sq
          FROM g GROUP BY 1)
        SELECT CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
               round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000000,
                     6) AS mean,
               round(sqrt(CAST(n * sq - sy * sy AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                     / 1000000, 6) AS std
        FROM s
        """,
    ),
    "ns_vec_scalar_quant": QueryDef(
        vector_scalar_quant,
        """
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
        p AS (
          SELECT vec_id, e, list_min(e) AS vmin,
                 greatest((list_max(e) - list_min(e)) / 255.0, 1e-12)
                   AS scale
          FROM v)
        SELECT CAST(vec_id AS BIGINT) AS vec_id,
               CAST(len(e) AS BIGINT) AS n_dims,
               md5(array_to_string(list_transform(e, x ->
                 CAST(least(255.0, floor((x - vmin) / scale)) AS INT)), ','))
                 AS code_hash,
               CAST(list_sum(list_transform(e, x ->
                 CAST(floor(abs(x - (vmin
                   + CAST(CAST(least(255.0, floor((x - vmin) / scale))
                          AS INT) AS DOUBLE) * scale)) * 1e9)
                      AS BIGINT))) AS BIGINT) AS sum_abs_err_nano
        FROM p
        """,
    ),
    "ns_text_chunks": QueryDef(
        text_chunking,
        """
        WITH docs AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        st AS (
          SELECT doc_id, toks,
                 unnest(range(0, greatest(CAST(
                   ceil((len(toks) - 64) / 48.0) AS INT), 0) + 1)) AS i
          FROM docs)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(i AS BIGINT) AS chunk_idx,
               CAST(len(toks[i*48 + 1 : i*48 + 64]) AS BIGINT) AS n_tokens,
               md5(array_to_string(toks[i*48 + 1 : i*48 + 64], ' '))
                 AS chunk_hash
        FROM st
        """,
    ),
    "ns_events_trend": QueryDef(
        events_trend_slope,
        """
        WITH m AS (SELECT min(ts) AS t0 FROM events),
        b AS (
          SELECT event_type,
                 CAST(epoch_us(ts) // 1000000
                      - epoch_us(t0) // 1000000 AS HUGEINT) AS x,
                 CAST(floor(value * 1000000) AS HUGEINT) AS y
          FROM events, m),
        s AS (
          SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
                 sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx
          FROM b GROUP BY 1)
        SELECT event_type, CAST(n AS BIGINT) AS n_events,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0),
                     6) AS slope
        FROM s
        """,
    ),
    "ns_events_cusum": QueryDef(
        events_cusum,
        """
        WITH m AS (
          SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
                 sum(CAST(floor(value * 1000000) AS HUGEINT)) AS sy
          FROM events GROUP BY 1),
        d AS (
          SELECT e.event_type, e.ts, e.event_id, m.n,
                 m.n * CAST(floor(e.value * 1000000) AS HUGEINT) - m.sy
                   AS dev
          FROM events e JOIN m USING (event_type)),
        s AS (
          SELECT event_type, ts, event_id, n,
                 sum(dev) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cs
          FROM d),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY abs(cs) DESC,
                                                ts, event_id) AS rk
          FROM s)
        SELECT event_type, CAST(n AS BIGINT) AS n_events,
               ts AS change_ts,
               round(CAST(abs(cs) AS DOUBLE)
                     / (CAST(n AS DOUBLE) * 1000000), 6) AS peak_dev
        FROM r WHERE rk = 1
        """,
    ),
    "ns_weighted_sample": QueryDef(
        corpus_weighted_sample,
        """
        WITH keyed AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(n_chars AS BIGINT) AS n_chars,
                 round(pow(
                   (('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                        || ':wsample'), 1, 4))::BIGINT
                    + 1) / 65536.0,
                   1.0 / CAST(n_chars AS DOUBLE)), 9) AS sample_key
          FROM documents)
        SELECT doc_id, n_chars, sample_key FROM keyed
        ORDER BY sample_key DESC, doc_id LIMIT 50
        """,
    ),
    "ns_vec_pca_power": QueryDef(vec_pca_power, _pca_sql()),
    "ns_vec_pca_centered": QueryDef(
        vec_pca_centered, _pca_sql(centered=True)
    ),
    "ns_vec_spectral_summary": QueryDef(
        vec_spectral_summary, _SPECTRAL_SQL
    ),
    "ns_vec_principal_extremes": QueryDef(
        vec_principal_extremes, _principal_extremes_sql()
    ),
    "ns_mixture_temperature": QueryDef(
        corpus_temperature_sample,
        """
        WITH cnt AS (
          SELECT source, count(*) AS n FROM documents GROUP BY 1),
        mn AS (SELECT min(n) AS nmin FROM cnt),
        keyed AS (
          SELECT d.source,
                 (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                      || ':temperature'), 1, 4))::BIGINT
                  < floor(65536.0 * sqrt(CAST(mn.nmin AS DOUBLE)
                                         / cnt.n))) AS keep
          FROM documents d JOIN cnt USING (source), mn)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept
        FROM keyed GROUP BY source
        """,
    ),
    "ns_events_quantile_hist": QueryDef(
        events_quantile_hist,
        """
        WITH ev AS (
          SELECT value FROM events WHERE value IS NOT NULL),
        b AS (
          SELECT min(value) AS lo, max(value) AS hi, count(*) AS n,
                 quantile_cont(value, 0.5) AS x50,
                 quantile_cont(value, 0.9) AS x90,
                 quantile_cont(value, 0.99) AS x99
          FROM ev),
        w AS (SELECT (hi - lo) / 128 AS w FROM b),
        hist AS (
          SELECT CASE WHEN w.w = 0 THEN 0
                      ELSE least(127, CAST(floor((value - b.lo) / w.w)
                                           AS BIGINT)) END AS bk,
                 count(*) AS c
          FROM ev, b, w GROUP BY 1),
        cum AS (
          SELECT h1.bk, sum(h2.c) AS cum
          FROM hist h1 JOIN hist h2 ON h2.bk <= h1.bk GROUP BY 1),
        q AS (
          SELECT
            (SELECT min(bk) FROM cum, b
              WHERE cum >= ceil(0.5 * b.n)) AS q50,
            (SELECT min(bk) FROM cum, b
              WHERE cum >= ceil(0.9 * b.n)) AS q90,
            (SELECT min(bk) FROM cum, b
              WHERE cum >= ceil(0.99 * b.n)) AS q99),
        tol AS (
          SELECT CASE WHEN w.w = 0 THEN 1e-9
                      ELSE 1.000001 * w.w END AS t FROM w)
        SELECT CAST(b.n AS BIGINT) AS n_events,
               round(b.lo + (q.q50 + 1) * w.w, 6) AS est_p50,
               round(b.lo + (q.q90 + 1) * w.w, 6) AS est_p90,
               round(b.lo + (q.q99 + 1) * w.w, 6) AS est_p99,
               round(b.x50, 6) AS exact_p50,
               round(b.x90, 6) AS exact_p90,
               round(b.x99, 6) AS exact_p99,
               (abs(b.lo + (q.q50 + 1) * w.w - b.x50) <= tol.t)
                 AS p50_within_bucket,
               (abs(b.lo + (q.q90 + 1) * w.w - b.x90) <= tol.t)
                 AS p90_within_bucket,
               (abs(b.lo + (q.q99 + 1) * w.w - b.x99) <= tol.t)
                 AS p99_within_bucket
        FROM b, w, q, tol WHERE b.n > 0
        """,
    ),
    "ns_events_span_coverage": QueryDef(
        events_span_coverage,
        """
        WITH spans AS (
          SELECT user_id, event_type,
                 epoch_us(min(ts)) AS s_us,
                 epoch_us(max(ts)) + 60000000 AS e_us
          FROM events GROUP BY 1, 2
        ),
        marked AS (
          SELECT *,
                 CASE WHEN max(e_us) OVER (
                        PARTITION BY user_id
                        ORDER BY s_us, e_us, event_type
                        ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) IS NULL
                      OR s_us > max(e_us) OVER (
                        PARTITION BY user_id
                        ORDER BY s_us, e_us, event_type
                        ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING)
                      THEN 1 ELSE 0 END AS new_isl
          FROM spans
        ),
        isl AS (
          SELECT *, sum(new_isl) OVER (
                   PARTITION BY user_id
                   ORDER BY s_us, e_us, event_type
                   ROWS UNBOUNDED PRECEDING) AS isl
          FROM marked
        ),
        per_isl AS (
          SELECT user_id, isl, max(e_us) - min(s_us) AS cov
          FROM isl GROUP BY 1, 2
        )
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(sum(cov) AS BIGINT) AS covered_us,
               CAST(count(*) AS BIGINT) AS n_islands
        FROM per_isl GROUP BY 1
        """,
    ),
    "ns_events_funnel_stream": QueryDef(
        events_funnel_stream,
        """
        WITH s AS (
          SELECT user_id, min(ts) AS s_ts FROM events
          WHERE event_type = 'signup' GROUP BY 1),
        c AS (
          SELECT e.user_id, min(e.ts) AS c_ts
          FROM events e JOIN s ON s.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ts >= s.s_ts
            AND e.ts < s.s_ts + INTERVAL 1 HOUR
          GROUP BY 1),
        p AS (
          SELECT e.user_id, min(e.ts) AS p_ts
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
            AND e.ts < c.c_ts + INTERVAL 24 HOURS
          GROUP BY 1)
        SELECT CAST(s.user_id AS BIGINT) AS user_id,
               s.s_ts, c.c_ts, p.p_ts
        FROM s JOIN c USING (user_id) JOIN p USING (user_id)
        """,
    ),
    "ns_events_engagement": QueryDef(
        events_engagement,
        """
        WITH du AS (
          SELECT DISTINCT
                 CAST(epoch(date_trunc('day', ts)) // 86400 AS BIGINT)
                   AS d,
                 user_id
          FROM events
        ),
        days AS (SELECT DISTINCT d FROM du),
        dau AS (SELECT d, CAST(count(DISTINCT user_id) AS BIGINT)
                       AS dau FROM du GROUP BY 1),
        wau AS (
          SELECT days.d, CAST(count(DISTINCT du.user_id) AS BIGINT)
                   AS wau
          FROM days JOIN du
            ON du.d <= days.d AND du.d > days.d - 7
          GROUP BY 1),
        mau AS (
          SELECT days.d, CAST(count(DISTINCT du.user_id) AS BIGINT)
                   AS mau
          FROM days JOIN du
            ON du.d <= days.d AND du.d > days.d - 30
          GROUP BY 1)
        SELECT dau.d AS day_num, dau.dau, wau.wau, mau.mau,
               round(CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE),
                     6) AS stickiness
        FROM dau JOIN wau ON wau.d = dau.d JOIN mau ON mau.d = dau.d
        """,
    ),
    "ns_media_phash_dedup": QueryDef(
        media_phash_dedup,
        """
        SELECT CAST(count(*) AS BIGINT) AS n_media,
               CAST(count(DISTINCT text) AS BIGINT) AS n_text_distinct,
               TRUE AS sound,
               TRUE AS groups_bounded
        FROM documents
        """,
    ),
    "ns_events_seq_ngrams": QueryDef(
        events_seq_ngrams,
        """
        WITH tri AS (
          SELECT event_type || '>' || t1 || '>' || t2 AS trigram
          FROM (
            SELECT event_type,
                   lead(event_type, 1) OVER w AS t1,
                   lead(event_type, 2) OVER w AS t2
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          ) WHERE t2 IS NOT NULL
        ),
        c AS (SELECT trigram, CAST(count(*) AS BIGINT) AS n
              FROM tri GROUP BY 1)
        SELECT CAST(row_number() OVER (ORDER BY n DESC, trigram)
                    AS BIGINT) AS rank,
               trigram, n
        FROM c ORDER BY n DESC, trigram LIMIT 20
        """,
    ),
    "ns_events_theil_sen": QueryDef(
        events_theil_sen,
        """
        WITH daily AS (
          SELECT event_type, date_trunc('day', ts) AS d,
                 sum(CAST(value AS DECIMAL(18,2))) AS v,
                 CAST(epoch(date_trunc('day', ts)) // 86400 AS BIGINT)
                   AS dn
          FROM events GROUP BY 1, 2
        ),
        pairs AS (
          SELECT a.event_type,
                 CAST(b.v - a.v AS DOUBLE)
                   / CAST(b.dn - a.dn AS DOUBLE) AS slope
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.dn < b.dn
        ),
        nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
               FROM daily GROUP BY 1),
        med AS (SELECT event_type,
                       round(quantile_cont(slope, 0.5), 6) AS ts_slope
                FROM pairs GROUP BY 1)
        SELECT nd.event_type, nd.n_days, med.ts_slope
        FROM nd LEFT JOIN med ON med.event_type = nd.event_type
        """,
    ),
    "ns_events_pit_lookup": QueryDef(
        events_pit_lookup,
        """
        WITH marked AS (
          SELECT user_id, event_type, ts, event_id,
                 CASE WHEN lag(event_type) OVER w IS NULL
                        OR lag(event_type) OVER w <> event_type
                      THEN 1 ELSE 0 END AS chg
          FROM events WHERE event_type <> 'purchase'
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        islands AS (
          SELECT user_id, event_type, ts,
                 sum(chg) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM marked
        ),
        ep AS (
          SELECT user_id, island, event_type,
                 min(ts) AS valid_from
          FROM islands GROUP BY user_id, island, event_type
        ),
        dim AS (
          SELECT user_id AS d_uid, event_type AS state_type,
                 valid_from,
                 lead(valid_from) OVER (PARTITION BY user_id
                                        ORDER BY valid_from, island
                                       ) AS valid_to
          FROM ep
        ),
        fact AS (
          SELECT user_id, ts, value FROM events
          WHERE event_type = 'purchase'
        )
        SELECT coalesce(d.state_type, 'none') AS state_type,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(sum(CAST(f.value AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM fact f LEFT JOIN dim d
          ON f.user_id = d.d_uid
         AND d.valid_from <= f.ts
         AND (d.valid_to IS NULL OR f.ts < d.valid_to)
        GROUP BY 1
        """,
    ),
    "ns_events_attribution": QueryDef(
        events_attribution,
        """
        WITH ev AS (
          SELECT * FROM events
          WHERE event_type IN ('view', 'click', 'purchase')),
        s AS (
          SELECT *, coalesce(sum(CASE WHEN event_type = 'purchase'
                       THEN 1 ELSE 0 END) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS j
          FROM ev),
        m AS (
          SELECT event_type, value,
                 first_value(CASE WHEN event_type IN ('view', 'click')
                     THEN event_type END IGNORE NULLS) OVER (
                   PARTITION BY user_id, j ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING) AS ft,
                 last_value(CASE WHEN event_type IN ('view', 'click')
                     THEN event_type END IGNORE NULLS) OVER (
                   PARTITION BY user_id, j ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING) AS lt,
                 sum(CASE WHEN event_type IN ('view', 'click')
                     THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id, j) AS nt
          FROM s)
        SELECT coalesce(ft, 'direct') AS first_touch,
               coalesce(lt, 'direct') AS last_touch,
               CAST(count(*) AS BIGINT) AS n_conversions,
               CAST(sum(nt) AS BIGINT) AS n_touches,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM m WHERE event_type = 'purchase'
        GROUP BY 1, 2
        """,
    ),
    "ns_text_bpe_train": QueryDef(text_bpe_train, _bpe_round_ctes(8)),
    "ns_text_bpe_apply": QueryDef(
        text_bpe_apply, _bpe_round_ctes(8, final="census")
    ),
    "ns_text_bpe_pairs": QueryDef(
        text_bpe_pairs,
        """
        WITH toks AS (
          SELECT unnest(string_split(lower(text), ' ')) AS w
          FROM documents),
        p AS (
          SELECT unnest(list_transform(
                   range(1, length(w)),
                   i -> substr(w, CAST(i AS INT), 2))) AS pair
          FROM toks WHERE length(w) >= 2),
        c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n
              FROM p GROUP BY 1)
        SELECT CAST(row_number() OVER (ORDER BY n DESC, pair)
                    AS BIGINT) AS rank,
               pair, n
        FROM c ORDER BY n DESC, pair LIMIT 20
        """,
    ),
    "ns_class_balance": QueryDef(
        corpus_class_balance,
        """
        WITH cnt AS (
          SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        mn AS (SELECT min(n) AS nmin FROM cnt),
        keyed AS (
          SELECT d.lang,
                 (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                      || ':balance'), 1, 4))::BIGINT
                  * cnt.n < mn.nmin * 65536) AS keep
          FROM documents d JOIN cnt USING (lang), mn)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept
        FROM keyed GROUP BY lang
        """,
    ),
    "ns_text_collocations": QueryDef(
        text_collocations,
        """
        WITH toks AS (
          SELECT unnest(string_split(lower(text), ' ')) AS w
          FROM documents),
        uni AS (SELECT w, count(*) AS n_w FROM toks GROUP BY 1),
        tu AS (SELECT sum(n_w) AS t_u FROM uni),
        bgl AS (
          SELECT unnest(list_transform(
            range(0, greatest(len(string_split(lower(text), ' ')) - 2, 0)
                     + 1),
            i -> array_to_string(
                   string_split(lower(text), ' ')[i+1:i+2], ' '))) AS bg
          FROM documents),
        bgf AS (
          SELECT bg FROM bgl WHERE len(string_split(bg, ' ')) = 2),
        bgc AS (SELECT bg, count(*) AS n_bg FROM bgf GROUP BY 1),
        tb AS (SELECT sum(n_bg) AS t_b FROM bgc)
        SELECT bg, CAST(n_bg AS BIGINT) AS n_bg,
               round(ln((n_bg / tb.t_b)
                     / ((u1.n_w / tu.t_u) * (u2.n_w / tu.t_u))), 6) AS pmi
        FROM bgc
        CROSS JOIN tu CROSS JOIN tb
        JOIN uni u1 ON u1.w = string_split(bg, ' ')[1]
        JOIN uni u2 ON u2.w = string_split(bg, ' ')[2]
        WHERE n_bg >= 5
        ORDER BY pmi DESC, bg LIMIT 20
        """,
    ),
    "ns_events_assoc": QueryDef(
        events_association_rules,
        """
        WITH ut AS (
          SELECT DISTINCT user_id, event_type FROM events),
        cnt AS (
          SELECT event_type, count(*) AS n_t FROM ut GROUP BY 1),
        tot AS (
          SELECT count(DISTINCT user_id) AS n_users FROM ut),
        pairs AS (
          SELECT a.event_type AS lhs, b.event_type AS rhs,
                 count(*) AS n_ab
          FROM ut a JOIN ut b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2)
        SELECT lhs, rhs, CAST(n_ab AS BIGINT) AS n_ab,
               round(n_ab / ca.n_t, 6) AS confidence,
               round(n_ab * tot.n_users / (ca.n_t * cb.n_t), 6) AS lift
        FROM pairs
        JOIN cnt ca ON ca.event_type = lhs
        JOIN cnt cb ON cb.event_type = rhs, tot
        """,
    ),
    "ns_events_anomaly": QueryDef(
        events_robust_anomalies,
        """
        WITH med AS (
          SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
          FROM events GROUP BY 1),
        d AS (
          SELECT e.event_type, med, abs(value - med) AS dev
          FROM events e JOIN med USING (event_type)),
        m2 AS (
          SELECT event_type, med, round(quantile_cont(dev, 0.5), 6) AS mad
          FROM d GROUP BY 1, 2)
        SELECT d.event_type, d.med, m2.mad,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE dev > 3.0 * 1.4826 * mad)
                    AS BIGINT) AS n_outliers
        FROM d JOIN m2 USING (event_type, med)
        GROUP BY 1, 2, 3
        """,
    ),
    "ns_events_retention": QueryDef(
        events_retention_cohorts,
        """
        WITH ev AS (
          SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
          FROM events),
        f AS (
          SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY 1)
        SELECT f.cohort_week,
               CAST(floor((ev.wk - f.cohort_week) / 7) AS BIGINT)
                 AS week_offset,
               CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
        FROM ev JOIN f USING (user_id)
        GROUP BY 1, 2
        """,
    ),
    "ns_fuzzy_match": QueryDef(
        fuzzy_entity_match,
        """
        SELECT c.k AS customer_sfx, s.k AS supplier_sfx,
               CAST(levenshtein(c.k, s.k) AS BIGINT) AS edit_dist
        FROM (SELECT split_part(c_name, '#', 2) AS k FROM customer) c
        JOIN (SELECT split_part(s_name, '#', 2) AS k FROM supplier) s
          ON substr(c.k, 1, 7) = substr(s.k, 1, 7)
        WHERE levenshtein(c.k, s.k) <= 1
        """,
    ),
    "ns_incremental_agg": QueryDef(
        events_incremental_agg,
        """
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_value_micro,
               CAST(min(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS min_value_micro,
               CAST(max(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS max_value_micro
        FROM events GROUP BY 1, 2
        """,
    ),
    "ns_table_audit": QueryDef(
        table_audit,
        """
        SELECT 'documents.rows' AS "check",
               CAST(count(*) AS BIGINT) AS value FROM documents
        UNION ALL SELECT 'documents.text_nulls',
          count(*) FILTER (WHERE text IS NULL) FROM documents
        UNION ALL SELECT 'documents.lang_nulls',
          count(*) FILTER (WHERE lang IS NULL) FROM documents
        UNION ALL SELECT 'documents.doc_id_dups',
          count(doc_id) - count(DISTINCT doc_id) FROM documents
        UNION ALL SELECT 'documents.n_chars_mismatch',
          count(*) - count(*) FILTER (WHERE n_chars = len(text))
          FROM documents
        UNION ALL SELECT 'events.rows', count(*) FROM events
        UNION ALL SELECT 'events.ts_nulls',
          count(*) FILTER (WHERE ts IS NULL) FROM events
        UNION ALL SELECT 'events.event_id_dups',
          count(event_id) - count(DISTINCT event_id) FROM events
        UNION ALL SELECT 'events.value_negative',
          count(*) - count(*) FILTER (WHERE value >= 0) FROM events
        UNION ALL SELECT 'orders.o_custkey_orphans',
          (SELECT count(*) FROM orders o WHERE NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        UNION ALL SELECT 'lineitem.l_orderkey_orphans',
          (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        """,
    ),
    "ns_dedup_substring": QueryDef(
        dedup_substring,
        """
        WITH wins0 AS (
          SELECT doc_id, unnest(list_transform(
            range(0, greatest(len(string_split(text, ' ')) - 8, 0) + 1),
            i -> array_to_string(string_split(text, ' ')[i+1:i+8], ' ')))
            AS w
          FROM documents),
        wins AS (SELECT doc_id, md5(w) AS h FROM wins0),
        cnt AS (SELECT h, count(*) AS c FROM wins GROUP BY 1)
        SELECT CAST(w.doc_id AS BIGINT) AS doc_id,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_windows,
               round(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END)
                     / greatest(count(*), 1), 6) AS dup_frac
        FROM wins w JOIN cnt c USING (h)
        GROUP BY w.doc_id
        """,
    ),
    "ns_text_winnowing": QueryDef(
        text_winnowing,
        """
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        g AS (
          SELECT doc_id,
                 unnest(range(0, greatest(len(toks) - 5, 0) + 1)) AS pos,
                 unnest(list_transform(
                   range(0, greatest(len(toks) - 5, 0) + 1),
                   i -> md5(array_to_string(toks[i+1:i+5], ' ')))) AS h
          FROM t),
        w1 AS (
          SELECT doc_id, pos, h,
                 min(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                   AS fp,
                 count(*) OVER (PARTITION BY doc_id) AS n
          FROM g),
        fps AS (SELECT DISTINCT doc_id, fp FROM w1 WHERE pos <= n - 4),
        share AS (
          SELECT fp, count(DISTINCT doc_id) AS nd FROM fps GROUP BY 1),
        kg AS (SELECT doc_id, count(*) AS n_kgrams FROM g GROUP BY 1),
        pd AS (
          SELECT doc_id, count(*) AS n_fp,
                 sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_shared
          FROM fps JOIN share USING (fp) GROUP BY 1)
        SELECT CAST(kg.doc_id AS BIGINT) AS doc_id,
               CAST(n_kgrams AS BIGINT) AS n_kgrams,
               CAST(coalesce(n_fp, 0) AS BIGINT) AS n_fingerprints,
               CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared_fp
        FROM kg LEFT JOIN pd USING (doc_id)
        """,
    ),
    "ns_text_source_overlap": QueryDef(
        text_source_overlap,
        """
        WITH t AS (
          SELECT doc_id, source, string_split(text, ' ') AS toks
          FROM documents),
        g AS (
          SELECT doc_id,
                 unnest(range(0, greatest(len(toks) - 5, 0) + 1)) AS pos,
                 unnest(list_transform(
                   range(0, greatest(len(toks) - 5, 0) + 1),
                   i -> md5(array_to_string(toks[i+1:i+5], ' ')))) AS h
          FROM t),
        w1 AS (
          SELECT doc_id, pos, h,
                 min(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                   AS fp,
                 count(*) OVER (PARTITION BY doc_id) AS n
          FROM g),
        fps AS (SELECT DISTINCT doc_id, fp FROM w1 WHERE pos <= n - 4),
        sf AS (
          SELECT DISTINCT t.source, f.fp
          FROM fps f JOIN t ON t.doc_id = f.doc_id),
        per AS (SELECT source, count(*) AS n FROM sf GROUP BY 1),
        pr AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 count(*) AS n_shared
          FROM sf a JOIN sf b
            ON a.fp = b.fp AND a.source < b.source
          GROUP BY 1, 2)
        SELECT source_a, source_b,
               CAST(n_shared AS BIGINT) AS n_shared_fp,
               round(CAST(n_shared AS DOUBLE)
                     / least(pa.n, pb.n), 6) AS overlap_coef
        FROM pr
        JOIN per pa ON pa.source = pr.source_a
        JOIN per pb ON pb.source = pr.source_b
        """,
    ),
    "ns_text_keyness": QueryDef(
        text_keyness,
        """
        WITH t AS (
          SELECT source, unnest(string_split(text, ' ')) AS term
          FROM documents),
        st AS (
          SELECT source, term, count(*) AS a FROM t GROUP BY 1, 2),
        ns AS (SELECT source, count(*) AS n_s FROM t GROUP BY 1),
        kt AS (SELECT term, count(*) AS k_t FROM t GROUP BY 1),
        nn AS (SELECT count(*) AS n FROM t),
        sc AS (
          SELECT st.source, st.term, st.a, ns.n_s, kt.k_t, nn.n,
                 CAST(st.a AS HUGEINT) * nn.n
                   - CAST(ns.n_s AS HUGEINT) * kt.k_t AS delta
          FROM st
          JOIN ns USING (source)
          JOIN kt USING (term), nn),
        x AS (
          SELECT source, term, a, k_t,
                 round(CAST(CAST(n AS HUGEINT) * delta * delta
                            AS DOUBLE)
                       / nullif(CAST(CAST(n_s AS HUGEINT) * (n - n_s)
                                     * k_t * (n - k_t) AS DOUBLE),
                                0.0), 6) AS chi2
          FROM sc WHERE delta > 0 AND k_t >= 5),
        r AS (
          SELECT *, row_number() OVER (
            PARTITION BY source ORDER BY chi2 DESC, term) AS rn
          FROM x)
        SELECT source, term, CAST(a AS BIGINT) AS term_count,
               CAST(k_t AS BIGINT) AS corpus_count, chi2
        FROM r WHERE rn <= 5
        """,
    ),
    "ns_text_dsir": QueryDef(
        text_dsir_score,
        """
        WITH toks AS (
          SELECT doc_id, (lang = 'en') AS is_t,
                 unnest(string_split(text, ' ')) AS tok
          FROM documents),
        vocab AS (
          SELECT tok, count(*) AS cr,
                 sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
          FROM toks GROUP BY 1),
        tot AS (
          SELECT sum(cr) AS tr, sum(ct) AS tt, count(*) AS v FROM vocab)
        SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(ln(((v.ct + 1) / (tot.tt + tot.v))
                         / ((v.cr + 1) / (tot.tr + tot.v)))), 6)
                 AS dsir_logratio
        FROM toks t JOIN vocab v USING (tok), tot
        GROUP BY t.doc_id
        """,
    ),
    "ns_text_top_ngrams": QueryDef(
        text_top_ngrams,
        """
        WITH sh AS (
          SELECT unnest(list_transform(
            range(0, greatest(len(string_split(lower(text), ' ')) - 2, 0)
                     + 1),
            i -> array_to_string(
                   string_split(lower(text), ' ')[i+1:i+2], ' ')))
            AS ngram
          FROM documents
        ),
        c AS (
          SELECT ngram, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1
        )
        SELECT CAST(row_number() OVER (ORDER BY n DESC, ngram) AS BIGINT)
                 AS rank,
               ngram, n
        FROM c ORDER BY n DESC, ngram LIMIT 20
        """,
    ),
    "ns_text_length_histogram": QueryDef(
        text_length_histogram,
        """
        SELECT CAST(floor(len(string_split(text, ' ')) / 10) * 10
                    AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
        """,
    ),
    "ns_pipeline_e2e": QueryDef(
        pipeline_e2e,
        f"""
        WITH {_SQL_QUALITY_Q_CTE},
        kept AS (SELECT * FROM q WHERE quality >= {QUALITY_CUT}),
        rep AS (
          SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
        ded AS (SELECT k.* FROM kept k SEMI JOIN rep USING (doc_id)),
        sp AS (
          SELECT {_sql_split_case(
              _sql_hex16("CAST(doc_id AS VARCHAR) || ':split'"))} AS split,
                 n_chars, quality
          FROM ded)
        SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars_sum,
               CAST(sum(CAST(round(quality * 1000000) AS BIGINT))
                    AS BIGINT) AS sum_quality_micro
        FROM sp GROUP BY 1
        """,
    ),
    "ns_dedup_minhash_calibration": QueryDef(
        dedup_minhash_calibration,
        _SQL_MINHASH_CAND
        + f""",
        shed2 AS (
          SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents
        ),
        posts AS (
          SELECT doc_id, len(sh) AS set_size, unnest(sh) AS shingle
          FROM shed2
        ),
        est AS (
          SELECT c.id_a, c.id_b,
                 ((CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END)
             + (CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END)
             + (CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END)
             + (CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END)
             + (CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END)
             + (CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END)
             + (CASE WHEN sa.mh_6 = sb.mh_6 THEN 1 ELSE 0 END)
             + (CASE WHEN sa.mh_7 = sb.mh_7 THEN 1 ELSE 0 END)
             + (CASE WHEN sa.mh_8 = sb.mh_8 THEN 1 ELSE 0 END)
             + (CASE WHEN sa.mh_9 = sb.mh_9 THEN 1 ELSE 0 END)
             + (CASE WHEN sa.mh_10 = sb.mh_10 THEN 1 ELSE 0 END)
             + (CASE WHEN sa.mh_11 = sb.mh_11 THEN 1 ELSE 0 END)) AS est_matches
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.id_a
          JOIN sig sb ON sb.doc_id = c.id_b
        ),
        iv AS (
          SELECT c.id_a, c.id_b,
                 a.set_size AS sza, b.set_size AS szb,
                 count(*) AS inter
          FROM cand c
          JOIN posts a ON a.doc_id = c.id_a
          JOIN posts b ON b.doc_id = c.id_b AND b.shingle = a.shingle
          GROUP BY 1, 2, 3, 4
        )
        SELECT CAST(e.id_a AS BIGINT) AS id_a,
               CAST(e.id_b AS BIGINT) AS id_b,
               CAST(e.est_matches AS BIGINT) AS est_matches,
               round(e.est_matches / 12.0, 6) AS est_jaccard,
               round(CAST(iv.inter AS DOUBLE)
                     / (iv.sza + iv.szb - iv.inter), 6) AS jaccard,
               round(abs(round(e.est_matches / 12.0, 6)
                 - round(CAST(iv.inter AS DOUBLE)
                         / (iv.sza + iv.szb - iv.inter), 6)), 6)
                 AS cal_err
        FROM est e
        JOIN iv ON iv.id_a = e.id_a AND iv.id_b = e.id_b
        ORDER BY id_a, id_b
        """,
    ),
    "ns_vec_pair_cos_hist": QueryDef(
        vec_pair_cos_hist,
        f"""
        WITH {_GRAM_CTES[0]},
        dots AS (
          SELECT a.id, sum(CAST(a.x AS HUGEINT) * b.x) AS dot
          FROM xint a
          JOIN xint b ON b.id = a.id + 7 AND b.dim = a.dim
          GROUP BY 1
        ),
        norms AS (
          SELECT id, sum(CAST(x AS HUGEINT) * x) AS n2
          FROM xint GROUP BY 1
        ),
        cosv AS (
          SELECT CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE))
                    * sqrt(CAST(nb.n2 AS DOUBLE))) AS c
          FROM dots d
          JOIN norms na ON na.id = d.id
          JOIN norms nb ON nb.id = d.id + 7
          WHERE na.n2 > 0 AND nb.n2 > 0
        ),
        bk AS (
          SELECT CAST(least(15, greatest(0,
                   CAST(floor((c + 1.0) * 8.0) AS INT))) AS INT)
                 AS bucket
          FROM cosv
        )
        SELECT bucket,
               round(bucket / 8.0 - 1.0, 6) AS cos_lo,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM bk GROUP BY 1 ORDER BY bucket
        """,
    ),
    "ns_corpus_pps_sample": QueryDef(
        corpus_pps_sample,
        """
        WITH w AS (
          SELECT doc_id AS id,
                 CAST(strlen(text) AS HUGEINT) AS wt
          FROM documents WHERE strlen(text) > 0
        ),
        c AS (
          SELECT id, wt,
                 sum(wt) OVER (ORDER BY id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
          FROM w
        ),
        t AS (SELECT sum(wt) AS W FROM w),
        g AS (
          SELECT id, wt,
            greatest(0, least(20,
              (40 * cum + 39 * W) // (2 * W) - 19)) AS cle,
            greatest(0, least(20,
              (40 * (cum - wt) + 39 * W) // (2 * W) - 19)) AS ple
          FROM c, t WHERE W > 0
        )
        SELECT CAST(id AS BIGINT) AS id,
               CAST(wt AS BIGINT) AS weight,
               CAST(cle - ple AS BIGINT) AS n_copies
        FROM g WHERE cle - ple > 0
        ORDER BY id
        """,
    ),
    "ns_events_retention_cohorts": QueryDef(
        events_retention_triangle,
        """
        WITH ev AS (
          SELECT user_id,
                 CAST(date_trunc('week', ts) AS DATE) AS wk
          FROM events
        ),
        f AS (
          SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY 1
        ),
        a AS (SELECT DISTINCT user_id, wk FROM ev),
        r AS (
          SELECT f.cohort_week,
                 CAST((a.wk - f.cohort_week) // 7 AS INT)
                   AS week_offset,
                 CAST(count(*) AS BIGINT) AS n_active
          FROM a JOIN f USING (user_id) GROUP BY 1, 2
        ),
        s AS (
          SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
          FROM f GROUP BY 1
        ),
        rates AS (
          SELECT r.cohort_week, r.week_offset, r.n_active, s.n_cohort,
                 round(CAST(r.n_active AS DOUBLE) / s.n_cohort, 6)
                   AS retention
          FROM r JOIN s USING (cohort_week)
        )
        SELECT c.cohort_week, c.week_offset, c.n_active, c.n_cohort,
               c.retention,
               round(p.retention - c.retention, 6) AS drop_off
        FROM rates c
        LEFT JOIN rates p
          ON p.cohort_week = c.cohort_week
         AND p.week_offset = c.week_offset - 1
        ORDER BY c.cohort_week, c.week_offset
        """,
    ),
    "ns_corpus_budget_select": QueryDef(
        corpus_budget_select,
        f"""
        WITH q AS (
          SELECT doc_id, source, n_chars,
            CAST(round(round(0.4 * least(
                    CAST(len(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0)
                + 0.3 * (CASE WHEN round(
                    (CAST(length(text) AS DOUBLE)
                     - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1))
                    / CAST(len(string_split(text, ' ')) AS DOUBLE), 6)
                    BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END)
                + 0.3 * least(
                    {_sql_stop_ratio(tx.STOPWORDS["en"])} * 10.0, 1.0),
              6) * 1000000) AS BIGINT) AS qm
          FROM documents),
        c AS (
          SELECT source, n_chars,
                 sum(CAST(n_chars AS HUGEINT))
                   OVER (ORDER BY qm DESC, doc_id) AS cum
          FROM q)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(coalesce(sum(CASE WHEN cum <= {BUDGET_CHARS}
                                      THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_selected,
               CAST(coalesce(sum(CASE WHEN cum <= {BUDGET_CHARS}
                                      THEN n_chars END), 0)
                    AS BIGINT) AS chars_selected
        FROM c GROUP BY source
        """,
    ),
    "ns_split_leakage_safe": QueryDef(
        split_leakage_safe,
        f"""
        WITH RECURSIVE {_SQL_JACCARD_PAIRS_CUT.lstrip()},
        p AS (
          SELECT id_a, id_b FROM jac WHERE jaccard >= {JACCARD_TAU}
        ),
        e AS (
          SELECT id_a AS a, id_b AS b FROM p
          UNION
          SELECT id_b, id_a FROM p
        ),
        nodes AS (SELECT id_a AS v FROM p UNION SELECT id_b FROM p),
        reach(v, m) AS (
          SELECT v, v FROM nodes
          UNION
          SELECT e.b, r.m FROM reach r JOIN e ON e.a = r.v
        ),
        comp AS (SELECT v, min(m) AS m FROM reach GROUP BY v),
        keyed AS (
          SELECT d.doc_id, d.n_chars,
                 coalesce(c.m, d.doc_id) AS rep
          FROM documents d LEFT JOIN comp c ON c.v = d.doc_id
        ),
        sp AS (
          SELECT doc_id, n_chars, rep,
                 {_sql_split_case(_sql_hex16(
                     "CAST(rep AS VARCHAR) || ':split'"))} AS split
          FROM keyed
        ),
        leaks AS (
          SELECT CAST(coalesce(sum(CASE WHEN sa.split <> sb.split
                                        THEN 1 ELSE 0 END), 0)
                      AS BIGINT) AS n_leaked_pairs
          FROM p
          JOIN sp sa ON sa.doc_id = p.id_a
          JOIN sp sb ON sb.doc_id = p.id_b
        )
        SELECT split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
               CAST(sum(n_chars) AS BIGINT) AS n_chars_sum,
               n_leaked_pairs
        FROM sp, leaks
        GROUP BY split, n_leaked_pairs
        """,
    ),
    "ns_split_assign": QueryDef(
        split_assign,
        f"""
        WITH h AS (
          SELECT {_sql_hex16("CAST(doc_id AS VARCHAR) || ':split'")} AS hv,
                 n_chars
          FROM documents)
        SELECT {_sql_split_case("hv")} AS split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
        FROM h GROUP BY 1
        """,
    ),
    "ns_mixture_sample": QueryDef(
        mixture_sample_census,
        f"""
        WITH h AS (
          SELECT source,
                 {_sql_hex16("CAST(doc_id AS VARCHAR) || ':mix'")} AS hv
          FROM documents)
        SELECT source, CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN hv < {_sql_mix_threshold()}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM h GROUP BY source
        """,
    ),
    "ns_decontaminate": QueryDef(
        decontaminate_flags,
        f"""
        WITH bench AS (
          SELECT DISTINCT shingle FROM (
            SELECT unnest({_SQL_SHINGLES}) AS shingle
            FROM documents WHERE doc_id % {BENCH_MOD} = 0)),
        corp AS (
          SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle
          FROM documents WHERE doc_id % {BENCH_MOD} <> 0)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_shingles
        FROM corp JOIN bench USING (shingle)
        GROUP BY doc_id HAVING count(*) >= {DECON_MIN_OVERLAP}
        """,
    ),
    "ns_stratified_sample": QueryDef(
        stratified_sample_docs,
        f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
        FROM (
          SELECT doc_id, lang, row_number() OVER (
            PARTITION BY lang
            ORDER BY {_sql_hex16("CAST(doc_id AS VARCHAR) || ':strat'")},
                     doc_id) AS rk
          FROM documents)
        WHERE rk <= {STRAT_N}
        """,
    ),
    "ns_lsh_recall": QueryDef(
        lsh_recall,
        f"""
        WITH emb AS (
          SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
                 {_sql_hyperplane_bucket()} AS bucket
          FROM embeddings),
        q AS (
          SELECT vec_id AS q_id, embedding AS qvec, bucket
          FROM emb WHERE vec_id % 100 = 0),
        brute AS (
          SELECT q_id, vec_id FROM (
            SELECT q.q_id, e.vec_id, row_number() OVER (
              PARTITION BY q.q_id
              ORDER BY {_SQL_COS_EXACT} DESC, e.vec_id) AS rnk
            FROM emb e, q
          ) WHERE rnk <= 5),
        approx AS (
          SELECT q_id, vec_id FROM (
            SELECT q.q_id, e.vec_id, row_number() OVER (
              PARTITION BY q.q_id
              ORDER BY {_SQL_COS_EXACT} DESC, e.vec_id) AS rnk
            FROM emb e JOIN q USING (bucket)
          ) WHERE rnk <= 5),
        hits AS (
          SELECT q_id, CAST(count(*) AS BIGINT) AS n_hits
          FROM brute JOIN approx USING (q_id, vec_id) GROUP BY q_id),
        per_q AS (
          SELECT q_id, CAST(count(*) AS BIGINT) AS n_true
          FROM brute GROUP BY q_id)
        SELECT CAST(p.q_id AS BIGINT) AS q_id, p.n_true,
               CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               round(COALESCE(h.n_hits, 0) / p.n_true, 4) AS recall
        FROM per_q p LEFT JOIN hits h USING (q_id)
        """,
    ),
    "ns_pack_sequences": QueryDef(
        pack_sequences_assign,
        f"""
        WITH g AS (
          SELECT doc_id,
                 CAST({_sql_hex16("CAST(doc_id AS VARCHAR) || ':pack'")}
                      % {PACK_GROUPS} AS BIGINT) AS pack_group,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents)
        SELECT doc_id, pack_group,
               CAST(floor(COALESCE(sum(n_tokens) OVER (
                      PARTITION BY pack_group ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) / {PACK_CAPACITY}) AS BIGINT) AS bin,
               n_tokens
        FROM g
        """,
    ),
    "ns_media_stats": QueryDef(
        media_stats,
        """
        SELECT CASE CAST(doc_id % 3 AS INT)
                 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
               END AS media_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
        FROM documents GROUP BY 1
        """,
    ),
    "ns_media_features": QueryDef(
        media_features,
        # decoded-pixel twin: pixels = text bytes zero-padded to
        # h*48 (h = ceil(len/48), 16 px/row * 3 B/px); the pad zeros
        # are real pixels and land in histogram bucket 0
        """
        WITH m AS (
          SELECT doc_id, text,
                 octet_length(encode(text)) AS n,
                 (octet_length(encode(text)) + 47) // 48 AS h
          FROM documents)
        SELECT CAST(doc_id AS BIGINT) AS media_id,
               CAST(16 AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(len(list_filter(string_split(text, ''),
                      c -> c <> '' AND ascii(c) % 8 = 0))
                    + (h * 48 - n) AS DOUBLE) AS f0,
               """
        + ",\n               ".join(
            f"CAST(len(list_filter(string_split(text, ''),"
            f" c -> ascii(c) % 8 = {k})) AS DOUBLE) AS f{k}"
            for k in range(1, 8)
        )
        + """
        FROM m
        """,
    ),
    "ns_media_frames": QueryDef(
        media_frames,
        """
        SELECT CAST(doc_id AS BIGINT) AS media_id,
          array_to_string(list_transform(
            range(0, greatest(octet_length(encode(text)) // 64 - 1, 0) + 1),
            i -> substring(hex(encode(text)), i * 128 + 1, 32)), ',') AS frames_hex
        FROM documents
        """,
    ),
    "ns_events_span_overlap": QueryDef(
        events_span_overlap,
        """
        WITH sp AS (
          SELECT user_id, event_type, min(ts) AS s,
                 max(ts) + INTERVAL 1 MINUTE AS e
          FROM events GROUP BY 1, 2)
        SELECT CAST(a.user_id AS BIGINT) AS user_id,
               a.event_type AS type_a, b.event_type AS type_b,
               CAST(epoch_us(least(a.e, b.e))
                    - epoch_us(greatest(a.s, b.s)) AS BIGINT)
                 AS overlap_us
        FROM sp a JOIN sp b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        WHERE a.s < b.e AND b.s < a.e
        """,
    ),
    "ns_events_asof_join": QueryDef(
        events_asof,
        """
        SELECT CAST(l.event_id AS BIGINT) AS event_id,
               CAST(l.user_id AS BIGINT) AS user_id,
               CAST(r.event_id AS BIGINT) AS signup_event_id
        FROM (SELECT * FROM events WHERE event_type = 'error') l
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
          ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
    ),
    "ns_events_range_join": QueryDef(events_range_join, _RANGE_JOIN_SQL),
    "ns_events_tumbling": QueryDef(events_tumbling, _TUMBLING_SQL),
    "ns_events_sliding": QueryDef(
        events_sliding,
        """
        WITH b AS (
          SELECT unnest([
            time_bucket(INTERVAL '5 minutes', ts),
            time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
          ]) AS bucket
          FROM events
        )
        SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1
        """,
    ),
    "ns_events_sessions": QueryDef(
        events_sessions,
        f"""
        WITH g AS (
          SELECT user_id, ts, event_id,
            CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      > {SESSION_GAP_MIN} * 60 * 1000000
                 THEN 1 ELSE 0 END AS is_break
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
          SELECT user_id,
                 sum(is_break) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS session_id
          FROM g
        ),
        per_session AS (
          SELECT user_id, session_id, count(*) AS n_events
          FROM s GROUP BY 1, 2
        )
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(max(n_events) AS BIGINT) AS max_session_events
        FROM per_session GROUP BY user_id
        """,
    ),
    "ns_events_sessions_stream": QueryDef(
        events_sessions_stream,
        f"""
        WITH g AS (
          SELECT user_id, ts, event_id,
            CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      >= {SESSION_GAP_MIN} * 60 * 1000000
                 THEN 1 ELSE 0 END AS is_break
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
          SELECT user_id, ts,
                 sum(is_break) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS session_id
          FROM g
        )
        SELECT CAST(user_id AS BIGINT) AS user_id,
               min(ts) AS session_start,
               CAST(count(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, session_id
        """,
    ),
    "ns_events_tumbling_stream": QueryDef(
        events_tumbling_stream, _TUMBLING_SQL
    ),
    "ns_events_stream_join": QueryDef(events_stream_join, _RANGE_JOIN_SQL),
    "ns_events_stream_enrich": QueryDef(
        events_stream_enrich,
        """
        WITH dim AS (
          SELECT c_custkey % 150 AS user_id,
                 min(c_mktsegment) AS segment
          FROM customer GROUP BY 1)
        SELECT segment,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events JOIN dim USING (user_id)
        GROUP BY 1
        """,
    ),
    "ns_events_stream_left_join": QueryDef(
        events_stream_left_join,
        """
        WITH q AS (
          SELECT ts, ntile(4) OVER (ORDER BY ts, event_id) AS qt
          FROM events),
        cut AS (
          SELECT max(ts) - INTERVAL 3 HOUR AS cutoff
          FROM q WHERE qt <= 2),
        s AS (
          SELECT user_id, event_id AS signup_event_id, ts AS start_ts,
                 ts + INTERVAL 1 HOUR AS end_ts
          FROM events WHERE event_type = 'signup'),
        c AS (
          SELECT user_id, ts FROM events WHERE event_type = 'click')
        SELECT CAST(s.signup_event_id AS BIGINT) AS signup_event_id,
               CAST(count(c.ts) AS BIGINT) AS n_clicks
        FROM s CROSS JOIN cut
        LEFT JOIN c ON s.user_id = c.user_id
                   AND c.ts >= s.start_ts AND c.ts < s.end_ts
        WHERE s.start_ts < cut.cutoff
        GROUP BY 1
        """,
    ),
    "ns_events_stream_dedup": QueryDef(
        events_stream_dedup,
        """
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
        """,
    ),
}
