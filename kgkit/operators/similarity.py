"""Similarity search over embedding columns (training-data pipeline).

Two tiers, as a 100-TB corpus demands:

  * brute-force cosine top-k — the exact baseline (kgkit.queries
    ann_topk): queries × corpus with a rank window.  Correct at any
    recall target, O(|Q|·|C|) — only viable when one side is small or
    as the in-bucket scorer below.
  * sign-LSH bucketed top-k — random-hyperplane LSH: each vector's
    bucket is the sign pattern of its dot products with ``planes``
    deterministic integer hyperplanes.  Queries only score against
    corpus vectors in the SAME bucket, so the join is keyed by bucket
    (an equi-join Catalyst shuffles on the bucket hash) and total work
    drops by ~2^planes.  Recall is tunable via planes / multi-probe;
    buckets are balanced for near-isotropic embeddings, and a skewed
    bucket (mass-duplicate embeddings) degrades to the brute-force cost
    of that bucket only.

Hyperplanes are small integers generated by fixed arithmetic — the
DuckDB oracle evaluates the identical literals, which keeps the
whole approximate pipeline value-checkable.
"""

from __future__ import annotations

from typing import List

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kgkit.operators.linking import cosine


def hyperplanes(planes: int, dim: int) -> List[List[int]]:
    """Deterministic integer hyperplanes: h[i][d] = ((i*37 + d*17) % 11) - 5.
    Materialized only where a literal table is genuinely wanted (the
    DuckDB oracle, tests); the Spark path evaluates the same closed
    form per component index instead — see ``_dot_plane``."""
    return [[((i * 37 + d * 17) % 11) - 5 for d in range(dim)] for i in range(planes)]


def _dot_plane(vec: Column, i: int, dim: int) -> Column:
    """dot(vec, h_i) with the plane generated by EXPRESSION over the
    component index (sequence + transform), not per-component literals:
    plan size is O(planes), independent of dim.  Round 2 inlined
    planes*dim F.lit values, which is fine at dim 64 but becomes a
    multi-megabyte plan at dim 4096; the closed form keeps the operator
    a zero-shuffle projection at any dim (a broadcast-joined plane
    table would flatten the plan too, but costs an aggregate-back
    shuffle per vector — strictly worse).  Same values, same
    left-to-right accumulation, so the literal-based DuckDB oracle is
    unchanged."""
    pv = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: ((F.lit(i * 37) + d * 17) % 11 - 5).cast("double"),
    )
    return F.aggregate(
        F.zip_with(vec, pv, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def lsh_bucket(vec: Column, planes: int, dim: int) -> Column:
    """Sign-pattern bucket id: bit i set iff dot(vec, h_i) > 0."""
    acc = F.lit(0)
    for i in range(planes):
        acc = acc + F.when(_dot_plane(vec, i, dim) > 0, F.lit(2 ** i)).otherwise(F.lit(0))
    return acc


def bucketed(embeddings: DataFrame, planes: int = 4, dim: int = 64) -> DataFrame:
    return embeddings.withColumn(
        "bucket", lsh_bucket(F.col("embedding"), planes, dim)
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """(query_id, neighbor_id, rank): top-k by cosine within the query's
    LSH bucket.  queries/corpus: (…_id, embedding)."""
    q = bucketed(queries.select("query_id", "embedding"), planes, dim).select(
        "query_id", F.col("embedding").alias("qe"), "bucket"
    )
    c = bucketed(corpus.select("neighbor_id", "embedding"), planes, dim).select(
        "neighbor_id", F.col("embedding").alias("ce"), "bucket"
    )
    scored = q.join(c, "bucket").select(
        "query_id", "neighbor_id",
        F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.999,
    planes: int = 8,
    dim: int = 64,
    max_bucket: int = 1000,
    observation=None,
) -> DataFrame:
    """(vec_a, vec_b, cos) pairs above threshold, candidate-generated by
    sign-LSH buckets (identical vectors always share a bucket, so
    exact duplicates have recall 1.0).

    Scale guards (same treatment as the MinHash band join in
    kgkit.operators.dedup, which this reuses):

      * ``max_bucket`` drops buckets with more members than the cap —
        an embedding-degenerate corpus (mass-duplicated boilerplate
        vectors, or a zero-vector default) otherwise makes the
        within-bucket self-join quadratic in the bucket size.  Pass a
        ``pyspark.sql.Observation`` to read (buckets_dropped,
        band_rows_dropped) off the first action, so truncation is
        never silent.
      * 8 planes = 256 buckets by default (round 3 shipped 4/16: at
        n vectors the expected in-bucket pair count is ~n^2/2^planes
        per unit of collision probability — more planes is the banding
        lever for sign-LSH, traded against recall for *near* (not
        exact) duplicates).
      * the bucketed frame is cached before the self-join: the
        hyperplane HOF lambdas do not canonicalize into a
        ReusedExchange, so without it both join sides recompute every
        dot product.  The pairs come back as an eager localCheckpoint
        and the cache is released."""
    from kgkit.operators.dedup import _cap_buckets

    # cache the bucketed table key-partitioned BEFORE capping: the cap
    # scans it twice (sizes + probe) and the hyperplane HOFs must not
    # recompute; the cached partitioning serves the sizes aggregate and
    # both self-join sides with no further exchange
    b = (
        bucketed(embeddings.select("vec_id", "embedding"), planes, dim)
        .repartition("bucket")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        b.count()
        capped = _cap_buckets(
            b, max_bucket, observation, keys=("bucket",), id_col="vec_id"
        )
        a = capped.select(
            F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
            "bucket",
        )
        c = capped.select(
            F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
            "bucket",
        )
        return (
            a.join(c, "bucket")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select(
                "vec_a", "vec_b",
                F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("cos"),
            )
            .filter(F.col("cos") >= threshold)
            .localCheckpoint()
        )
    finally:
        b.unpersist()


# ---------------------------------------------------------------------------
# IVF with a real (spherical k-means) coarse quantizer
# ---------------------------------------------------------------------------


def quantize_vec(col: Column, scale: int = 1_000_000) -> Column:
    """array<float> -> array<bigint> on a fixed 1e-6 grid.  Quantizing
    BEFORE the k-means sums makes every centroid an exact integer sum —
    commutative, so the result is independent of partition / merge
    order (a float sum is not), and bit-identical between Spark and the
    DuckDB oracle."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * scale, 0).cast("bigint")
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    id_col: str = "neighbor_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(cell, cv array<bigint>) — spherical k-means coarse quantizer.

    Lloyd iterations with a FIXED iteration count (static plan, so the
    DuckDB oracle mirrors it CTE-for-CTE).  Cosine assignment is
    scale-invariant, so the centroid update is the bare component-wise
    SUM of member vectors — no mean, no division, exact in int64
    (overflow headroom: |q| <= ~1e6 per component x 1e12 members < 2^63).

    Scale shape per iteration: one broadcast of the (n_cells x dim) tiny
    centroid table + one shuffle keyed (cell, pos) with map-side partial
    sums; nothing is collected to the driver.  Empty cells drop out
    (standard Lloyd degeneracy) — deterministic on both engines.  The
    loop runs at the session's shuffle width (AQE coalesces the tiny
    partial-sum stages); the quantized corpus is cached for the loop
    and released before the eagerly checkpointed centroids return."""
    qc = corpus.select(
        F.col(id_col).alias("_id"), quantize_vec(F.col(emb_col)).alias("qv")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        qc.count()  # eager populate (the fan-out discipline: the
        # Lloyd loop consumes qc once per iteration)
        cents = qc.orderBy("_id").limit(n_cells).select(
            F.col("_id").alias("cell"), F.col("qv").alias("cv")
        )
        for _ in range(iters):
            scored = qc.crossJoin(F.broadcast(cents)).select(
                "_id", "qv", "cell",
                cosine(F.col("qv"), F.col("cv")).alias("ccos"),
            )
            w = Window.partitionBy("_id").orderBy(F.desc("ccos"), F.asc("cell"))
            assigned = (
                scored.withColumn("crnk", F.row_number().over(w))
                .filter(F.col("crnk") == 1)
                .select("qv", "cell")
            )
            comp = assigned.select("cell", F.posexplode("qv").alias("pos", "val"))
            sums = comp.groupBy("cell", "pos").agg(F.sum("val").alias("s"))
            cents = sums.groupBy("cell").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s"))),
                    lambda x: x["s"],
                ).alias("cv")
            )
        # centroids are n_cells tiny rows: materialize them eagerly so
        # the returned frame neither reads the released cache nor
        # re-runs the Lloyd lineage on every downstream action
        return cents.localCheckpoint()
    finally:
        qc.unpersist()


def ivf_kmeans_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_cells: int = 8,
    n_probe: int = 2,
    iters: int = 2,
) -> DataFrame:
    """IVF ANN with Lloyd-refined centroids (``kmeans_centroids``):
    corpus assigned to its best cell, queries probe
    ``n_probe`` cells, exact cosine on the ORIGINAL float vectors inside
    the probed cells only."""
    cents = kmeans_centroids(corpus, n_cells, iters)

    def assign(df: DataFrame, id_col: str, emb_col: str, probes: int) -> DataFrame:
        scored = df.withColumn("_q", quantize_vec(F.col(emb_col))).crossJoin(
            F.broadcast(cents)
        ).select(
            id_col, emb_col, "cell",
            cosine(F.col("_q"), F.col("cv")).alias("ccos"),
        )
        w = Window.partitionBy(id_col).orderBy(F.desc("ccos"), F.asc("cell"))
        return (
            scored.withColumn("crnk", F.row_number().over(w))
            .filter(F.col("crnk") <= probes)
            .select(id_col, emb_col, "cell")
        )

    q = assign(queries.select("query_id", F.col("embedding").alias("qe")),
               "query_id", "qe", n_probe)
    c = assign(corpus.select("neighbor_id", F.col("embedding").alias("ce")),
               "neighbor_id", "ce", 1)
    scored = q.join(c, "cell").select(
        "query_id", "neighbor_id",
        F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("cos"),
    ).groupBy("query_id", "neighbor_id").agg(F.max("cos").alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
