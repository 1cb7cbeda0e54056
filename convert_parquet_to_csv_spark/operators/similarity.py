"""Similarity search over embedding columns (``array<float>``).

Three strategies, increasing scale-fitness:

- **brute force**: broadcast the (small) query set, cross-join against
  the vector table, cosine per pair, per-query top-k window. Exact;
  cost O(|vectors|·|queries|) — the correctness baseline and fine
  whenever queries are few.
- **random-hyperplane LSH**: sign-signature bucketing; candidates are
  bucket collisions, scored exactly. Sub-linear probe cost; recall
  traded via signature width / probe count.
- **IVF (inverted file)**: coarse-quantize vectors to the nearest of C
  deterministic centroids (one broadcast join), probe the nprobe
  nearest lists per query. The classic billion-scale layout: each
  query touches |vectors|·nprobe/C instead of |vectors|.

All pure DataFrame expressions (functions/vectors.py dot products are
``aggregate``/``zip_with`` folds); no UDFs, no collect of vector
data — only centroid sets (≤ a few thousand rows) are broadcast.
"""

from __future__ import annotations

try:  # baked into the target environment; guarded per SURVEY §8 policy
    import numpy as np
    import pandas as pd
except ImportError:  # pragma: no cover
    np = pd = None  # type: ignore[assignment]

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from convert_parquet_to_csv_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    dot_product_fixed,
)


def topk_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, similarity).

    ``queries`` must be broadcast-small (it is hint-broadcast); the
    big side streams — no shuffle of the vector table, one window per
    query partition for the top-k. The cosine is the
    ``zip_with``/``aggregate`` form of
    :func:`~convert_parquet_to_csv_spark.functions.vectors.cosine_similarity`.
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qv")
    )
    scored = (
        vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v"))
        .crossJoin(F.broadcast(q))
        .withColumn("similarity", cosine_similarity("_qv", "_v"))
    )
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("similarity"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(query_id_col, "neighbor_id", "similarity")
    )


# --------------------------------------------------------------------------
# random-hyperplane LSH
# --------------------------------------------------------------------------

def _hyperplane(dim: int, bit: int) -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane (splitmix64-style
    integer mix of (bit, i) — reproducible everywhere, no RNG state)."""
    comps = []
    for i in range(dim):
        x = (bit * 0x9E3779B97F4A7C15 + i * 0xBF58476D1CE4E5B9 + 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        x = (x * 0xD6E8FEB86659FD93) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 27
        comps.append(1.0 if x & 1 else -1.0)
    return comps


def _sig_from_planes(vec_col, planes) -> "F.Column":
    """LONG signature from an ``array<array<double>>`` planes column:
    bit b = sign of ⟨vec, planes[b]⟩, packed by a left fold
    (acc·2 + bit — signatures only ever compare for equality, so the
    packing order just has to be consistent). One compact higher-order
    expression regardless of nbits."""
    return F.aggregate(
        F.transform(
            planes,
            lambda p: F.when(
                dot_product(vec_col, p) >= 0, F.lit(1).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc * F.lit(2).cast("long") + x,
    )


def lsh_signature(vec_col, dim: int, nbits: int = 16, table: int = 0):
    """Pack nbits sign-of-projection bits into one LONG column.

    ``table`` offsets the hyperplane seed so each LSH table draws
    independent planes. The planes ship as ONE nested array literal —
    with per-bit literal arrays the AST grows to nbits×dim nodes and
    Catalyst analysis time dominates small queries (measured 14 s for
    32×5 planes at sf0.01; ~1 s with the nested literal)."""
    planes = F.lit(
        [_hyperplane(dim, table * nbits + b + 1) for b in range(nbits)]
    )
    return _sig_from_planes(vec_col, planes)


def lsh_table_signatures_arrow(dim: int, nbits: int, n_tables: int):
    """Vectorized signature engine: a pandas UDF computing ALL table
    signatures per batch as ONE numpy matmul (N×dim @ dim×(T·B)) —
    the Arrow-batched escape hatch for exactly the workload
    whole-stage codegen handles worst (dense per-row linear algebra
    through interpreted HOF lambdas; measured ~50× faster at sf0.1).

    Same hyperplanes and bit-packing as :func:`lsh_signature` (first
    plane = most significant bit). Returns a UDF: ``udf(vec_col) →
    array<long>`` of length ``n_tables``; ``posexplode`` it to the
    (table, sig) bucket layout. Sign-at-zero could differ from the
    sequential fold in the last ulp of a projection, which moves a
    vector to a neighboring bucket — bucketing is probabilistic
    already, so recall gates are unaffected; both sides of a join use
    this UDF, so candidates stay consistent.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    if pd is None:
        raise ImportError(
            "pandas/numpy unavailable — LSH table signatures need them"
        )

    planes = np.array(
        [
            _hyperplane(dim, t * nbits + b + 1)
            for t in range(n_tables)
            for b in range(nbits)
        ],
        dtype=np.float64,
    ).T  # dim × (T·B)
    weights = (1 << np.arange(nbits - 1, -1, -1)).astype(np.int64)

    @pandas_udf(ArrayType(LongType()))
    def _sigs(v: pd.Series) -> pd.Series:
        x = np.vstack(v.to_numpy()).astype(np.float64)  # N × dim
        proj = x @ planes  # N × T·B
        bits = (proj >= 0).astype(np.int64).reshape(
            -1, n_tables, nbits
        )
        sigs = (bits * weights).sum(axis=2)  # N × T
        return pd.Series([row.tolist() for row in sigs])

    return _sigs


def topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    nbits: int = 12,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: exact scoring restricted to LSH candidates.

    Multi-table (OR-amplified) hyperplane LSH: ``n_tables`` independent
    ``nbits``-bit signatures; a pair is a candidate if it collides in
    ANY table. One table alone has collision probability
    (1 - θ/π)^nbits — negligible for the moderate-similarity neighbors
    that dominate real top-k — so recall comes from the union across
    tables: 1-(1-p)^L. Tuning: nbits controls per-table bucket size
    (probe cost), n_tables buys recall linearly in index size. The
    explode is n_tables× on (id, bucket) keys only; vectors themselves
    are not replicated through the shuffle (joined back by id), and
    candidate pairs are deduped before exact scoring. Signatures come
    from :func:`lsh_table_signatures_arrow`, one batched matmul per
    Arrow batch."""
    sig_udf = lsh_table_signatures_arrow(dim, nbits, n_tables)

    def _buckets(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.posexplode(sig_udf(F.col(vec_col))).alias("_table", "_sig"),
        )

    v_buckets = _buckets(vectors, "neighbor_id")
    q_buckets = _buckets(queries, query_id_col)
    candidates = (
        v_buckets.join(F.broadcast(q_buckets), ["_table", "_sig"])
        .select(query_id_col, "neighbor_id")
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qv")
    )
    scored = (
        candidates.join(v, "neighbor_id")
        .join(F.broadcast(q), query_id_col)
        .withColumn("similarity", cosine_similarity("_qv", "_v"))
    )
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("similarity"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(query_id_col, "neighbor_id", "similarity")
    )


# --------------------------------------------------------------------------
# IVF
# --------------------------------------------------------------------------

def _assign_to_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """Top-``n_probe``-cosine centroid assignment (broadcast,
    deterministic).

    THE assignment rule shared by index build, k-means training, and
    post-training reassignment — one definition so the
    determinism-critical tie-break (cosine desc, then ``_list_id``)
    can never drift between them. Adds ``_list_id`` to ``vectors``.
    ``n_probe=1`` (every existing caller) is plain argmax; ``n_probe
    >= 2`` emits one row per (vector, nearest-i-th centroid) — the
    multi-probe flavor semdedup uses so cluster-BOUNDARY near-dup
    pairs co-bucket in at least one list. Membership at n_probe=p is
    by construction a SUPERSET of membership at p-1 (same ranking,
    longer prefix), which makes multi-probe recall monotone — pinned
    by tests/test_similarity.py::test_semdedup_multiprobe.
    """
    scored = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "_csim", cosine_similarity(vec_col, "_cv")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_csim"), F.asc("_list_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_probe)
        .drop("_rn", "_csim", "_cv")
    )


def ivf_index(
    vectors: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assigned): deterministic coarse quantizer.

    Centroids = the n lowest-md5(id) vectors (a seeded uniform sample,
    same trick as the hash sampler — deterministic, no k-means
    iterations; IVF recall cares about *coverage*, not optimality).
    Assignment = one broadcast cross-join argmin. ``assigned`` carries
    ``_list_id`` — at scale you'd write it partitioned by list.
    """
    centroids = (
        vectors.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("_list_id"), F.col(vec_col).alias("_cv")
        )
    )
    assigned = _assign_to_centroids(vectors, centroids, id_col, vec_col)
    return centroids, assigned


def topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
    kmeans_iters: int = 0,
) -> DataFrame:
    """Approximate top-k probing the nprobe nearest inverted lists.

    ``kmeans_iters > 0`` refines the sampled centroids with that many
    deterministic spherical-Lloyd rounds before assignment — tighter
    lists, better recall-per-probe at the cost of the training scans.
    Centroid assignment, query-probe ranking and candidate scoring all
    use the same ``zip_with``/``aggregate`` cosine.
    """
    centroids, assigned = ivf_index(vectors, n_centroids, id_col, vec_col)
    if kmeans_iters > 0:
        centroids = kmeans_refine_centroids(
            vectors, centroids, kmeans_iters, id_col, vec_col
        )
        assigned = _assign_to_centroids(vectors, centroids, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qv")
    )
    qc = q.crossJoin(F.broadcast(centroids)).withColumn(
        "_csim", cosine_similarity("_qv", "_cv")
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.desc("_csim"), F.asc("_list_id")
    )
    probes = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select(query_id_col, "_qv", "_list_id")
    )
    scored = (
        assigned.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_v"),
            "_list_id",
        )
        .join(F.broadcast(probes), "_list_id")
        .withColumn("similarity", cosine_similarity("_qv", "_v"))
    )
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("similarity"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(query_id_col, "neighbor_id", "similarity")
    )


def embedding_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate vector pairs: cosine ≥ threshold.

    LSH-bucketed self-join (near-identical vectors collide with high
    probability at small nbits), scored exactly. For modest tables
    pass ``dim=None`` to skip bucketing (exact all-pairs)."""
    v = vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if dim is not None:
        v = v.withColumn("_bucket", lsh_signature(F.col("_v"), dim, nbits))
        join_keys = ["_bucket"]
    else:
        v = v.withColumn("_bucket", F.lit(0))
        join_keys = ["_bucket"]
    a = v.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"), "_bucket")
    b = v.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), "_bucket")
    return (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("similarity", cosine_similarity("_va", "_vb"))
        .filter(F.col("similarity") >= threshold)
        .select("id_a", "id_b", "similarity")
    )


# --------------------------------------------------------------------------
# k-means centroid refinement (spherical Lloyd iterations)
# --------------------------------------------------------------------------

def kmeans_refine_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Refine IVF centroids with deterministic spherical k-means.

    Each Lloyd round: assign every vector to its max-cosine centroid
    (broadcast argmin — the vector table never shuffles on vectors),
    recompute each centroid as the L2-normalized elementwise mean of
    its members, keep the old centroid for empty lists. A fixed
    iteration count, cosine tie-break on ``_list_id``, and fixed-point
    long accumulation (floor(x·1e9): exact, order-independent) make
    the result a pure function of the inputs — double sums would vary
    with task scheduling and wobble the recall gates.

    Scale shape per round: one broadcast join + argmin window over the
    vectors, then a (list, dim-position) partial aggregation whose
    output is k·dim rows. Centroids are localCheckpoint'ed per round
    to keep the iterative plan flat.
    """
    from convert_parquet_to_csv_spark.functions.vectors import l2_normalize

    for _ in range(n_iters):
        assigned = _assign_to_centroids(
            vectors, centroids, id_col, vec_col
        ).select("_list_id", vec_col)
        flat = assigned.select(
            "_list_id", F.posexplode(vec_col).alias("_pos", "_val")
        ).select(
            "_list_id",
            "_pos",
            F.floor(F.col("_val").cast("double") * F.lit(1_000_000_000))
            .cast("long")
            .alias("_fx"),
        )
        means = flat.groupBy("_list_id", "_pos").agg(
            (
                F.sum("_fx").cast("double")
                / F.count("*")
                / F.lit(1_000_000_000)
            ).alias("_m")
        )
        new_cv = means.groupBy("_list_id").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_pos"), F.col("_m")))
                ),
                lambda s: s["_m"],
            ).alias("_cv_new")
        )
        centroids = (
            centroids.join(new_cv, "_list_id", "left")
            .select(
                "_list_id",
                F.coalesce(
                    l2_normalize("_cv_new"), F.col("_cv")
                ).alias("_cv"),
            )
            .localCheckpoint()
        )
    return centroids


def sparse_cosine_topk_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_df: int = 2,
    max_df_denom: int = 10,
) -> DataFrame:
    """Sparse tf-idf cosine top-k similar pairs via an inverted-index
    self-join — the SPARSE-vector twin of the dense embedding paths
    above (same query surface, no embedding model needed).

    Exactness design (registry determinism rules): weights are
    INTEGERS ``tf * (N div df)`` — the repo's ln-free idf convention
    — so dot products and norms² are exact BIGINT sums; cosine is
    one shared double expression ``dot / sqrt(n2a * n2b)`` at the
    very end, bit-identical cross-engine.

    Scale shape: candidate pairs come only from shared terms, and two
    pruning rules bound the posting lists the self-join explodes —
    ``df >= min_df`` (df=1 terms can't create pairs) and
    ``df * max_df_denom <= N`` (stop-term guard: no posting list
    longer than N/denom, so the join is Σ df² over kept terms, never
    docs²). Same role as the LSH ``max_bucket`` hot-bucket drop.
    Shuffles: tf (doc,term), df (term), postings self-join (term),
    pair agg (d1,d2), one d1 window — all key-partitioned, no
    broadcast of anything data-proportional.
    """
    from convert_parquet_to_csv_spark.functions.text import tokens

    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_corpus"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    keep = (
        dfreq.crossJoin(F.broadcast(n))
        .filter(
            (F.col("df") >= min_df)
            & (F.col("df") * max_df_denom <= F.col("n_corpus"))
        )
        .select("term", "df", "n_corpus")
    )
    # Persist the weighted postings: they feed THREE consumers (both
    # sides of the self-join and the norms) and Spark re-executes the
    # whole tokenize→tf→df lineage per consumer otherwise (audited:
    # 22 exchanges in the pre-persist executed plan; cached, the
    # lineage runs once — same pattern as the shared shingle profiles
    # in operators/dedup.py).
    w = (
        tf.join(keep, "term")
        .select(
            "doc_id",
            "term",
            (
                F.col("tf") * F.expr("n_corpus div df")
            ).cast("bigint").alias("w"),
        )
        .persist()
    )
    norm2 = w.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("n2")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(
            F.sum(F.col("a.w") * F.col("b.w")).cast("bigint").alias("dot")
        )
    )
    x, y = norm2.alias("x"), norm2.alias("y")
    cos = (
        dots.join(x, F.col("d1") == F.col("x.doc_id"))
        .join(y, F.col("d2") == F.col("y.doc_id"))
        .select(
            "d1",
            "d2",
            "dot",
            (
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("x.n2").cast("double")
                    * F.col("y.n2").cast("double")
                )
            ).alias("cosine"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("d1").orderBy(F.desc("cosine"), F.asc("d2"))
    )
    return (
        cos.withColumn("rk", rk.cast("int"))
        .filter(F.col("rk") <= k)
        .select("d1", "d2", "dot", "cosine", "rk")
    )


# --------------------------------------------------------------------------
# SemDeDup: cluster-then-prune semantic dedup (Abbas et al. 2023,
# arXiv:2303.09540)
# --------------------------------------------------------------------------

def semdedup(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """Survivors of SemDeDup semantic deduplication: k-means-cluster
    the embeddings, compare pairs ONLY within a cluster, drop the
    greater id of every within-cluster pair with cosine ≥ threshold
    (min-id survivor — the same keep policy as dedup.drop_near_duplicates).

    This is the SCALE PATH for embedding near-dup that
    :func:`embedding_dup_pairs`'s exact all-pairs flavor is not: the
    self-join is bucketed by ``_list_id`` (cluster sizes ~N/k; the
    paper sizes k so clusters stay comparison-bounded), so candidate
    volume is Σ|cluster|² rather than N². Clustering is the
    deterministic pipeline shared with IVF — seeded md5 sample →
    fixed-iteration spherical Lloyd with fixed-point accumulation —
    so the survivor set is a pure function of the inputs.

    Approximation contract: every within-cluster pair is a true
    cosine pair, so the drop set is a SUBSET of the exact all-pairs
    drop set (soundness — gated in plans/similarity_queries.py);
    pairs straddling a cluster boundary are missed (the paper's
    accepted recall trade).

    ``n_probe >= 2`` is the standard boundary mitigation (VERDICT r6
    item 7): each vector joins its ``n_probe`` nearest clusters, so a
    boundary pair co-buckets whenever EITHER side's probe list
    reaches the other's cluster. Monotone by construction —
    membership at n_probe=p is a superset of p-1, so the drop set
    (and recall vs exact) can only grow, while soundness is untouched
    (pairs are still true cosine pairs). Cost: candidate volume
    scales ~n_probe² in the worst case (each side duplicated
    n_probe×); the paper-shaped sweet spot is n_probe=2. Measured at
    the gated-query settings (threshold 0.35, 16 clusters, 2 Lloyd
    iters) for n_probe 1 → 2: recall vs the exact all-pairs drop set
    0.374 → 0.679 on the sf0.001 embeddings and 0.338 → 0.701 on
    sf0.01, drop sets remaining exact-subsets (sound) and the
    n_probe=2 drop set a superset of n_probe=1's in both runs.

    ``assigned`` is persisted (both self-join sides reference it);
    the caller releases it via clearCache().
    """
    sample, _ = ivf_index(vectors, n_clusters, id_col, vec_col)
    centroids = kmeans_refine_centroids(
        vectors, sample, n_iters=n_iters, id_col=id_col, vec_col=vec_col
    )
    assigned = _assign_to_centroids(
        vectors, centroids, id_col, vec_col, n_probe=n_probe
    ).select(id_col, vec_col, "_list_id").persist()
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        "_list_id",
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        "_list_id",
    )
    losers = (
        a.join(b, "_list_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_similarity("_va", "_vb") >= threshold)
        .select(F.col("id_b").alias(id_col))
        # multi-probe emits the same pair once per shared cluster;
        # distinct() already collapses that (it exists for the
        # n_probe=1 case too — a loser can lose to many winners)
        .distinct()
    )
    return vectors.join(losers, id_col, "left_anti")


# --------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid 2011 — "Product
# Quantization for Nearest Neighbor Search", IEEE TPAMI)
# --------------------------------------------------------------------------

def _pq_dsub(dim: int, m: int) -> int:
    """Subspace width, validated: a dim not divisible by m would
    SILENTLY drop the trailing dimensions from codebooks, codes, and
    query LUTs (wrong answers, not an error) — refuse instead."""
    if m < 1 or dim % m != 0 or dim // m == 0:
        raise ValueError(
            f"PQ requires dim divisible by m with dim/m >= 1; "
            f"got dim={dim}, m={m}"
        )
    return dim // m


def _subspaces(
    df: DataFrame, vec_col: str, m: int, dsub: int, out_col: str
) -> DataFrame:
    """Explode a vector column into its m subvector slices — the one
    definition of the 1-based slice arithmetic every PQ consumer
    (training, encoding, query LUTs, centroid cross terms) shares."""
    return df.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("_m"),
    ).select(
        *[c for c in df.columns if c != vec_col],
        "_m",
        F.expr(f"slice({vec_col}, _m * {dsub} + 1, {dsub})").alias(
            out_col
        ),
    )


def pq_train(
    vectors: DataFrame,
    dim: int,
    m: int = 8,
    codes: int = 16,
    kmeans_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace PQ codebooks: ``(_m, _code, _cv, _cn2)``.

    The D-dim space splits into ``m`` subspaces of D/m dims; each gets
    a ``codes``-entry codebook. Init is the md5-min deterministic
    sample (the ivf_index device): the ``codes`` lowest-hash vectors
    seed ALL subspace codebooks at once (their subvector slices), so
    no per-subspace sampling pass and no data-scale window exists.
    ``kmeans_iters`` Lloyd rounds per subspace follow — assignment is
    a broadcast argmin per (vector, subspace); means accumulate in
    fixed-point longs (floor(x·1e9): exact, order-independent — the
    kmeans_refine_centroids convention), empty codes keep their old
    centroid. ``_cn2`` is the centroid's squared norm — the piece ADC
    needs to reconstruct cosine denominators without touching vectors.

    Scale shape: codebooks are m·codes rows (KBs — always broadcast);
    each Lloyd round is one broadcast join + argmin + one
    (m, code, pos) partial aggregation. The training scan is the only
    corpus-scale work and it never shuffles vectors."""
    dsub = _pq_dsub(dim, m)
    seed = (
        vectors.orderBy(
            F.md5(F.col(id_col).cast("string")), F.col(id_col)
        )
        .limit(codes)
        .select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("_sv"))
        # codes-row table: the global rank window below is bounded by
        # `codes` (dimension-scale), never by the corpus
        .withColumn(
            "_code",
            F.row_number().over(
                Window.orderBy(
                    F.md5(F.col("_sid").cast("string")), F.col("_sid")
                )
            )
            - 1,
        )
    )
    books = _subspaces(
        seed.select("_code", "_sv"), "_sv", m, dsub, "_cv"
    ).localCheckpoint()

    sub = _subspaces(
        vectors.select(id_col, vec_col), vec_col, m, dsub, "_sub"
    )
    for _ in range(kmeans_iters):
        assigned = _pq_assign(sub, books, id_col, keep_sub=True, dsub=dsub)
        flat = (
            assigned.select(
                "_m",
                "_code",
                F.posexplode("_sub").alias("_pos", "_val"),
            )
            .groupBy("_m", "_code", "_pos")
            .agg(
                F.sum(
                    F.floor(
                        F.col("_val").cast("double")
                        * F.lit(1_000_000_000)
                    ).cast("long")
                ).alias("_fx"),
                F.count(F.lit(1)).alias("_n"),
            )
        )
        new = flat.groupBy("_m", "_code").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "_pos",
                            (
                                (
                                    F.col("_fx").cast("double")
                                    / F.lit(1_000_000_000.0)
                                )
                                / F.col("_n").cast("double")
                            ).alias("_v"),
                        )
                    )
                ),
                lambda s: s["_v"].cast("float"),
            ).alias("_ncv")
        )
        books = (
            books.join(new, ["_m", "_code"], "left")
            .select(
                "_m",
                "_code",
                F.coalesce("_ncv", "_cv").alias("_cv"),
            )
            .localCheckpoint()
        )
    return books.withColumn(
        "_cn2",
        F.aggregate(
            "_cv",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        ),
    )


def _pq_assign(
    sub: DataFrame,
    books: DataFrame,
    id_col: str,
    keep_sub: bool = False,
    dsub: int | None = None,
) -> DataFrame:
    """Argmin-L2 code per (vector, subspace): one broadcast join on
    ``_m`` (codes-way fan-out, map-side), squared distance via
    zip_with/aggregate (codegen'd), min(struct(dist, code)) — an
    order-independent argmin with code-asc tie-break, map-side
    combinable, no window.

    Measured design note (50k×64-dim, m=32, codes=64, interleaved
    min-of-3, identical output verified): grouping on (id, _m) with
    the subvector carried as an agg VALUE only when the caller needs
    it (``keep_sub``, the training path) beats grouping on
    (id, _m, _sub) — which hashed an array key per candidate row and
    shipped it through the shuffle — **0.74 s vs 2.18 s** for the
    encode shape. min(_sub) is deterministic: every row in a group
    carries the identical subvector."""
    # r12 optimization round: when the caller knows the subspace
    # width, the squared distance unrolls to codegen'd F.get
    # arithmetic (functions/vectors.sq_l2_fixed) instead of the
    # interpreted zip_with/aggregate lambda — bit-identical fold,
    # measured 3.56 -> 1.47 s (2.4x) for the assign stage at sf0.1
    # (2000 vecs, m=32, codes=64; argmin codes verified identical).
    if dsub is not None:
        from convert_parquet_to_csv_spark.functions.vectors import (
            sq_l2_fixed,
        )

        d2 = sq_l2_fixed("_sub", "_cv", dsub)
    else:
        d2 = F.aggregate(
            F.zip_with(
                "_sub",
                "_cv",
                lambda a, b: (a.cast("double") - b.cast("double"))
                * (a.cast("double") - b.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    scored = sub.join(F.broadcast(books), "_m").withColumn("_d2", d2)
    aggs = [F.min(F.struct(F.col("_d2"), F.col("_code"))).alias("_b")]
    cols = [id_col, "_m", F.col("_b._code").alias("_code")]
    if keep_sub:
        aggs.append(F.min("_sub").alias("_sub"))
        cols.insert(2, F.col("_sub"))
    return (
        scored.groupBy(id_col, "_m").agg(*aggs).select(*cols)
    )


def pq_encode(
    vectors: DataFrame,
    books: DataFrame,
    dim: int,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ codes, exploded layout ``(id, _m, _code)`` — m small ints
    per vector instead of D floats (the 32×-compression memory story
    at 100 TB). Kept exploded: ADC consumes (id, _m, _code) directly,
    so packing into an array here would just be unpacked again."""
    dsub = _pq_dsub(dim, m)
    sub = _subspaces(
        vectors.select(id_col, vec_col), vec_col, m, dsub, "_sub"
    )
    return _pq_assign(sub, books, id_col, dsub=dsub).select(
        id_col, "_m", "_code"
    )


def topk_pq_adc(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 8,
    codes: int = 16,
    kmeans_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation over PQ
    codes (Jégou et al. 2011 §IV): queries stay full-precision, the
    corpus is m-byte codes, and similarity is the EXACT cosine
    between the query and each vector's codebook reconstruction —
    numerator Σ_m ⟨q_sub, c_{m,code}⟩ and denominator √Σ_m ‖c‖²
    both assemble from per-(query, subspace, code) lookup-table
    pieces, so the vector table is never read at query time.

    Scale shape: the LUT is |queries|·m·codes rows (broadcast); the
    probe is one broadcast join against the code table + one
    (query, vector) partial aggregation — the classic PQ trade:
    scan cost proportional to CODES not floats, recall traded via
    m/codes. At billion scale you'd front this with the IVF coarse
    quantizer (IVFADC); both pieces exist here and compose.

    Queries are L2-normalized inside (fixture vectors are unit-norm;
    the reconstruction is not, hence the ‖recon‖ denominator)."""
    books = pq_train(
        vectors,
        dim,
        m=m,
        codes=codes,
        kmeans_iters=kmeans_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    enc = pq_encode(
        vectors, books, dim, m=m, id_col=id_col, vec_col=vec_col
    )
    return pq_probe(
        enc,
        books,
        queries,
        dim,
        k=k,
        m=m,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        exclude_self=exclude_self,
    )


def pq_probe(
    enc: DataFrame,
    books: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Query-time half of :func:`topk_pq_adc`, split out so the two
    costs can be measured apart (VERDICT r7 item 4: the combined
    bench key conflated fixture-constant codebook TRAINING with the
    ADC probe, and only the probe is the scale story — probe cost is
    proportional to CODE rows, |corpus|·m, never floats). ``enc`` is
    a (id, _m, _code) code table from :func:`pq_encode`; ``books``
    the (_m, _code, _cv, _cn2) codebook from :func:`pq_train` —
    both index-BUILD artifacts a deployment materializes once and
    probes many times."""
    from convert_parquet_to_csv_spark.functions.vectors import (
        l2_normalize,
    )

    dsub = _pq_dsub(dim, m)
    qsub = _subspaces(
        queries.select(
            F.col(id_col).alias(query_id_col),
            l2_normalize(vec_col).alias("_qn"),
        ),
        "_qn",
        m,
        dsub,
        "_qsub",
    )
    lut = qsub.join(F.broadcast(books), "_m").select(
        query_id_col,
        "_m",
        "_code",
        # static-width unroll (r12): |queries|·m·codes rows, so the
        # win is small, but the LUT shares the assign stage's
        # bit-identical-fold argument and keeps the PQ family on one
        # dot-product form.
        dot_product_fixed("_qsub", "_cv", dsub).alias("_part"),
        "_cn2",
    )
    scored = (
        enc.join(F.broadcast(lut), ["_m", "_code"])
        .groupBy(query_id_col, id_col)
        .agg(
            F.sum("_part").alias("_num"),
            F.sum("_cn2").alias("_den2"),
        )
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            # all-zero reconstruction (degenerate codebook) → defined
            # 0.0, not a NULL that would still occupy a top-k slot
            # and break the unit-range gate — the topk_ivfadc guard
            F.when(
                F.col("_den2") > 0, F.col("_num") / F.sqrt("_den2")
            )
            .otherwise(F.lit(0.0))
            .alias("similarity"),
        )
    )
    if exclude_self:
        scored = scored.filter(
            F.col("neighbor_id") != F.col(query_id_col)
        )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("similarity"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(query_id_col, "neighbor_id", "similarity")
    )


def topk_ivfadc(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    codes: int = 16,
    kmeans_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §V): the IVF coarse quantizer prunes
    the probe set AND the PQ codebooks encode RESIDUALS v − c(v) —
    residuals concentrate near zero, so the same code budget spends
    on much finer structure than raw-vector PQ. Similarity is the
    exact cosine between the query and each vector's two-level
    reconstruction c(v) + pq(v − c(v)), assembled WITHOUT touching
    vectors at query time:

        num  = ⟨q, c⟩ + Σₘ ⟨q_sub, r_{m,code}⟩
        ‖v̂‖² = ‖c‖² + 2 Σₘ ⟨c_sub, r_{m,code}⟩ + Σₘ ‖r_{m,code}‖²

    — the ⟨q,·⟩ pieces come from a per-query broadcast LUT, and the
    query-independent ⟨c_sub, r⟩ cross term precomputes into a
    (list, m, code) broadcast table at index-build time (the trick
    that makes residual ADC as cheap as plain ADC).

    Scale shape: probe selection and both lookup tables are broadcast
    (lists·m·codes rows); the only corpus-scale work is the code
    table of the PROBED lists joining those broadcasts — scan cost
    |corpus|·nprobe/n_centroids rows of m codes, the billion-scale
    ANN layout. Index build = ivf_index + pq_train on residuals."""
    from convert_parquet_to_csv_spark.functions.vectors import (
        l2_normalize,
    )

    centroids, assigned = ivf_index(vectors, n_centroids, id_col, vec_col)
    resid = assigned.join(F.broadcast(centroids), "_list_id").select(
        id_col,
        "_list_id",
        F.zip_with(
            vec_col,
            "_cv",
            lambda a, b: (a.cast("double") - b.cast("double")).cast(
                "float"
            ),
        ).alias("_res"),
    )
    # residual PQ: train + encode on the residual column. persist —
    # resid feeds training (kmeans_iters scans) and encoding.
    resid = resid.persist()
    books = pq_train(
        resid,
        dim,
        m=m,
        codes=codes,
        kmeans_iters=kmeans_iters,
        id_col=id_col,
        vec_col="_res",
    )
    enc = (
        pq_encode(
            resid, books, dim, m=m, id_col=id_col, vec_col="_res"
        )
        .join(resid.select(id_col, "_list_id"), id_col)
        # eager: the returned plan reads enc (which references resid
        # TWICE) lazily — materializing here lets the resid cache be
        # released below while the encoding work still runs once
        .localCheckpoint()
    )
    dsub = _pq_dsub(dim, m)
    # query-independent cross term ⟨c_sub, r_{m,code}⟩ and the list
    # norms — both broadcast-scale, built once per index
    csub = _subspaces(
        centroids.select("_list_id", "_cv"), "_cv", m, dsub, "_csub"
    )
    cross = csub.join(F.broadcast(books), "_m").select(
        "_list_id",
        "_m",
        "_code",
        dot_product("_csub", "_cv").alias("_cxr"),
        "_cn2",
    )
    cnorm = centroids.select(
        "_list_id", dot_product("_cv", "_cv").alias("_cl2")
    )
    # probe the nprobe nearest lists per (unit-normalized) query
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        l2_normalize(vec_col).alias("_qn"),
    )
    qc = q.crossJoin(F.broadcast(centroids)).withColumn(
        "_csim", cosine_similarity("_qn", "_cv")
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.desc("_csim"), F.asc("_list_id")
    )
    probes = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select(
            query_id_col,
            "_list_id",
            "_qn",
            dot_product("_qn", "_cv").alias("_qc"),
        )
        .join(F.broadcast(cnorm), "_list_id")
    )
    # per-(query, m, code) LUT: ⟨q_sub, r⟩ — independent of the list
    lut = (
        _subspaces(q, "_qn", m, dsub, "_qsub")
        .join(F.broadcast(books), "_m")
        .select(
            query_id_col,
            "_m",
            "_code",
            dot_product("_qsub", "_cv").alias("_qdot"),
        )
    )
    scored = (
        enc.join(
            F.broadcast(probes.select(query_id_col, "_list_id", "_qc", "_cl2")),
            "_list_id",
        )
        .join(F.broadcast(lut), [query_id_col, "_m", "_code"])
        .join(F.broadcast(cross), ["_list_id", "_m", "_code"])
        .groupBy(query_id_col, id_col)
        .agg(
            (F.first("_qc") + F.sum("_qdot")).alias("_num"),
            (
                F.first("_cl2")
                + F.lit(2.0) * F.sum("_cxr")
                + F.sum("_cn2")
            ).alias("_den2"),
        )
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            F.when(
                F.col("_den2") > 0,
                F.col("_num") / F.sqrt("_den2"),
            )
            .otherwise(F.lit(0.0))
            .alias("similarity"),
        )
    )
    if exclude_self:
        scored = scored.filter(
            F.col("neighbor_id") != F.col(query_id_col)
        )
    # safe: enc was localCheckpoint'ed above, so the returned plan no
    # longer references resid (training already ran eagerly too)
    resid.unpersist()
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("similarity"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(query_id_col, "neighbor_id", "similarity")
    )


def jl_project(
    vectors: DataFrame,
    dim: int,
    out_dims: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1_000_000,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with a DETERMINISTIC
    ±1 sign matrix (Achlioptas 2003: Rademacher entries preserve
    pairwise distances within (1±ε) at d' = O(log n / ε²), no
    Gaussian needed) — the standard dimensionality-reduction front
    for brute-force/ANN similarity when 64 floats per doc is still
    too wide at 100 TB. Output: one row per vector with ``out_dims``
    BIGINT columns ``c0..c{d'-1}``, where
    ``c_i = Σ_j sign(i, j) · floor(v_j · quant)``.

    Cross-engine exactness: components are EXACT INTEGERS — each
    float32 coordinate converts exactly to double, one
    correctly-rounded multiply by ``quant``, floor pins it to
    BIGINT, and the signed sum is order-free integer arithmetic
    (md5(i_j) bit = the sign, the repo's cross-engine RNG). No
    float sum anywhere, so the oracle matches bit-for-bit and the
    projection is reproducible across engines/runs by construction
    — an audit property real Gaussian projections cannot offer.

    Plan shape: the sign matrix is a ``dim``-row broadcast (built
    from a range, never collected); one posexplode + broadcast join
    + per-id groupBy with map-side partial aggregation — a single
    narrow shuffle keyed by vector id, and nothing else. Output is
    GROUP BY semantics: one row per DISTINCT id (ids are expected
    unique; NULL ids form one group, duplicate ids pool — exactly
    like the oracle), and degenerate (NULL/empty) embeddings emit
    their row with NULL components via a phantom NULL element
    rather than vanishing from the posexplode (r8 review; see the
    inline comment). Scale: rows shuffled = |corpus|·dim, each
    8 bytes + out_dims partials; at a 64→8 reduction the downstream
    similarity scan reads 8 ints instead of 64 floats."""
    if out_dims < 1 or dim < 1:
        raise ValueError("dim and out_dims must be >= 1")
    spark = vectors.sparkSession
    signs = spark.range(1, dim + 1).select(
        F.col("id").cast("int").alias("_j"),
        *[
            (
                F.lit(1)
                - F.lit(2)
                * (
                    F.ascii(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.lit(f"{i}_"),
                                    F.col("id").cast("string"),
                                )
                            ),
                            1,
                            1,
                        )
                    )
                    % 2
                )
            ).cast("bigint").alias(f"_s{i}")
            for i in range(out_dims)
        ],
    )
    # Degenerate (NULL/empty) vectors explode to a single PHANTOM
    # NULL element instead of zero rows (r8 review, 2nd pass): this
    # keeps them inside the one aggregate — sum over NULL
    # contributions is NULL, so they emit a row with NULL components
    # — and makes the output EXACTLY the oracle's GROUP BY: one row
    # per distinct id, NULL ids one group, duplicate-id pooling
    # identical in both engines. No spine join at all (the first
    # spine-join fix fanned a pooled aggregate back onto each input
    # row, cross-contaminating multi-NULL-id inputs).
    vec = F.col(vec_col)
    safe = F.when(
        vec.isNull() | (F.size(vec) == 0),
        F.array(F.lit(None).cast("float")),
    ).otherwise(vec)
    exploded = vectors.select(
        F.col(id_col),
        F.posexplode(safe).alias("_p", "_v"),
    ).select(
        F.col(id_col),
        (F.col("_p") + 1).cast("int").alias("_j"),
        F.floor(
            F.col("_v").cast("double") * F.lit(quant).cast("double")
        ).cast("bigint").alias("_vi"),
    )
    joined = exploded.join(F.broadcast(signs), "_j")
    return joined.groupBy(id_col).agg(
        *[
            F.sum(F.col(f"_s{i}") * F.col("_vi"))
            .cast("bigint")
            .alias(f"c{i}")
            for i in range(out_dims)
        ]
    )


def bitext_margin_pairs(
    x_vectors: DataFrame,
    y_vectors: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix parallel-corpus miner): score every candidate
    (x, y) pair by its RATIO MARGIN — cosine normalized by the mean
    of both sides' k-NN cosines —

        margin(x, y) = cos(x, y) / ((Σ_kNN(x) + Σ_kNN(y)) / 2k)

    — then keep MUTUAL best matches above ``threshold``. The margin
    is the load-bearing part: raw cosine is miscalibrated around hub
    vectors (a hub scores high against everything, flooding the
    pair list); dividing by the neighborhood mean cancels the hub's
    inflated baseline. Mutual-best (x picks y AND y picks x) is the
    standard "intersection" retrieval direction. A NEW family beside
    ``cross_modal_consistency`` (one-directional raw-cosine top-k
    filter): margin normalization + bidirectional agreement is what
    makes mined bitext usable — reference has no vector surface at
    all (BASELINE.json north-star).

    Cross-engine determinism: cosines are the house bitwise-exact
    accumulation (functions/vectors.py); each side's k-NN SUM is a
    conditional-max pivot over the rank window — k explicit
    ``max(case rank=r)`` terms added LEFT-ASSOCIATIVELY, never a
    float SUM aggregate, so the addition order (and hence the bits)
    matches the oracle's identically-shaped expression; the margin
    is one division of identically-parenthesized operands. Window
    ties break on the partner id. The neighborhood mean divides by
    the ACTUAL number of contributing ranks per side (ADVICE r11:
    dividing by a fixed 2k deflates the denominator for sides with
    fewer than k candidates, biasing sparse-coverage vectors toward
    passing) — in this full-cross-product kernel every side has ≥ k
    candidates whenever the opposite side does, so the counts sum to
    2k and the division is bit-identical to the fixed-2k form; the
    distinction matters on the candidate-table path below.

    Scale shape: this exact kernel broadcasts the smaller language
    side (the correctness baseline, same contract as
    ``topk_bruteforce``); at corpus scale the candidate set comes
    from IVF/LSH (similarity_topk_ivf's layout) and the SAME margin
    arithmetic runs over candidates only — k-NN sums then use
    candidate top-k, which is exactly what FAISS-based CCMatrix
    ships. Per-side sums are map-side-combinable aggregates keyed by
    id; no vector-keyed shuffle anywhere.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    x = x_vectors.select(
        F.col(id_col).alias("src_id"), F.col(vec_col).alias("_xv")
    )
    y = y_vectors.select(
        F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("_yv")
    )
    scored = x.crossJoin(F.broadcast(y)).select(
        "src_id",
        "tgt_id",
        cosine_similarity("_xv", "_yv").alias("cos_sim"),
    )
    return bitext_margin_from_candidates(scored, k=k, threshold=threshold)


def bitext_margin_from_candidates(
    scored: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
) -> DataFrame:
    """The margin + mutual-best stage of :func:`bitext_margin_pairs`,
    decoupled from candidate generation: ``scored`` is ANY
    (src_id, tgt_id, cos_sim) candidate table. The exact kernel
    feeds it the full cross product; the 100 TB path feeds IVF/LSH
    candidates (similarity_topk_ivf's layout — each side probes the
    other's nearest lists), in which case the k-NN sums become
    candidate-top-k sums — exactly FAISS-based CCMatrix's shipped
    approximation.

    Sparse-coverage semantics (ADVICE r11 fix): the neighborhood
    mean is ``(Σ_top(x) + Σ_top(y)) / (n_x + n_y)`` with ``n_side =
    min(k, candidates on that side)`` — the ACTUAL contributing-rank
    counts, not a fixed ``2k``. Under a sparse candidate generator a
    side with fewer than k candidates previously got a deflated
    denominator (zero-padded sum over 2k), inflating its margins
    toward the threshold; with true counts the mean is unbiased.
    When every pair has full top-k coverage on both sides the counts
    sum to exactly ``2k`` and the division is BIT-identical to the
    old form (integer-exact denominator cast the same way, same
    parenthesization — the full-coverage replay tests pin this).
    Pairs whose two sums are BOTH exactly zero (an all-zero-cosine
    neighborhood — only degenerate zero vectors produce it) have no
    defined margin and are dropped by an explicit predicate rather
    than the old division's silent NULL-comparison drop.

    Shuffle shape: two rank windows + two
    map-side-combinable id-keyed aggregates + two id-keyed joins,
    all on (id, id, double) rows — vectors never enter this stage.
    Measured (local[32], min-of-2, synthetic candidates): 2M
    candidate rows → 2.13 s, 10M → 3.06 s (5× rows, 1.4× time —
    scheduling overhead amortizing, no superlinearity). A top-20
    candidate table reproduces the exact kernel's pair set
    bit-identically at the gate SF (test-pinned): candidate top-k
    sums equal true k-NN sums whenever candidates cover the top-k.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    wx = Window.partitionBy("src_id").orderBy(
        F.desc("cos_sim"), F.asc("tgt_id")
    )
    wy = Window.partitionBy("tgt_id").orderBy(
        F.desc("cos_sim"), F.asc("src_id")
    )
    ranked = scored.withColumn(
        "_rx", F.row_number().over(wx)
    ).withColumn("_ry", F.row_number().over(wy))

    def _ksum(rank_col: str) -> F.Column:
        # k explicit conditional-max terms, folded left-to-right —
        # deterministic addition order in BOTH engines (a float SUM
        # aggregate would be order-nondeterministic under shuffle).
        terms = [
            F.coalesce(
                F.max(
                    F.when(F.col(rank_col) == r, F.col("cos_sim"))
                ),
                F.lit(0.0),
            )
            for r in range(1, k + 1)
        ]
        s = terms[0]
        for t in terms[1:]:
            s = s + t
        return s

    def _kcount(rank_col: str) -> F.Column:
        # actual contributing ranks = min(k, candidates) — exact
        # integer count, so the denominator carries no float noise
        return F.count(F.when(F.col(rank_col) <= k, F.lit(1)))

    sx = ranked.groupBy("src_id").agg(
        _ksum("_rx").alias("_sx"), _kcount("_rx").alias("_nx")
    )
    sy = ranked.groupBy("tgt_id").agg(
        _ksum("_ry").alias("_sy"), _kcount("_ry").alias("_ny")
    )
    m = (
        ranked.join(sx, "src_id")
        .join(sy, "tgt_id")
        # zero-denominator guard (ADVICE r11): both sums exactly 0.0
        # means no scorable neighborhood — drop explicitly instead
        # of riding a NULL margin through the windows
        .filter((F.col("_sx") + F.col("_sy")) != 0.0)
        .withColumn(
            "margin",
            F.col("cos_sim")
            / (
                (F.col("_sx") + F.col("_sy"))
                / (F.col("_nx") + F.col("_ny")).cast("double")
            ),
        )
    )
    wfx = Window.partitionBy("src_id").orderBy(
        F.desc("margin"), F.asc("tgt_id")
    )
    wfy = Window.partitionBy("tgt_id").orderBy(
        F.desc("margin"), F.asc("src_id")
    )
    return (
        m.withColumn("_bf", F.row_number().over(wfx))
        .withColumn("_bb", F.row_number().over(wfy))
        .filter(
            (F.col("_bf") == 1)
            & (F.col("_bb") == 1)
            & (F.col("margin") >= threshold)
        )
        .select("src_id", "tgt_id", "cos_sim", "margin")
    )
