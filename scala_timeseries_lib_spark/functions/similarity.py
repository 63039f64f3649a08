"""Similarity search over the embeddings table (vec_id, embedding float[],
label).

- ``knn_bruteforce``: exact cosine top-k for a set of query vectors.
  The query side is tiny and broadcast; the candidate scan is one pass with
  a fixed-order fold for the dot product (bit-reproducible in DuckDB).
  At 100 TB this is the per-query-batch baseline: broadcast Q, scan N.
- ``lsh_buckets`` / ``ann_lsh_topk``: random-hyperplane LSH. Plane weights
  are a deterministic integer LCG over (plane, dim), so Spark and SQL build
  identical planes without shipping data. The ANN path only scores
  candidates in the query's bucket: the scan becomes a bucket-equi-join
  (shuffle on the bucket int) instead of a full cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounding import eps_floor

__all__ = ["cosine_sim", "knn_bruteforce", "lsh_bucket_expr", "lsh_buckets", "ann_lsh_topk",
           "ivf_train_kmeans", "ann_ivf_topk", "embedding_neardup_pairs",
           "N_PLANES", "IVF_Q", "plane_weight_expr"]

N_PLANES = 4

# k-means quantization grid: embeddings are fixed-pointed to 1/IVF_Q before
# training so every Lloyd update is EXACT int64 arithmetic — associative, so
# distributed aggregation order cannot perturb a centroid and the DuckDB
# oracle reproduces training bit-for-bit. 2^14 keeps the worst-case dot
# (|x|<=1, 64 dims, ~1e6 vectors summed) far inside int64.
IVF_Q = 1 << 14

# Lloyd rounds of the coarse quantizer that ann_ivf_topk trains inline
IVF_TRAIN_ITERS = 3


def _to_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def cosine_sim(a, b):
    """Cosine similarity of two array<double> columns with strict
    left-to-right folds (reproducible across engines)."""
    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def knn_bruteforce(
    df: DataFrame, query_ids: list[int], k: int = 5, round_to: int = 4
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (excluding itself).
    Ranking is by (rounded similarity DESC, cand_id ASC) so ties are
    deterministic and engine-independent."""
    from pyspark.sql import Window

    base = df.select("vec_id", _to_double(F.col("embedding")).alias("emb"))
    queries = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    scored = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            eps_floor(cosine_sim(F.col("q_emb"), F.col("emb")), round_to).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", "rank")
    )


def plane_weight_expr(plane: int, dim_col):
    """Deterministic pseudo-random hyperplane weight in [-1, 1):
    LCG over the flattened (plane, dim) index, identical in SQL."""
    idx = (F.lit(plane * 64) + dim_col).cast("long")
    return ((idx * 1103515245 + 12345) % 2001 - 1000) / 1000.0


def lsh_bucket_expr(emb, n_planes: int = N_PLANES):
    """Random-hyperplane LSH bucket as a column expression over an
    array<double> embedding: bit j = sign(dot(e, plane_j))."""
    def _weighted(j):
        return lambda x, i: x * plane_weight_expr(j, i)

    bits = []
    for j in range(n_planes):
        proj = F.aggregate(
            F.zip_with(emb, F.sequence(F.lit(0), F.size(emb) - 1), _weighted(j)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket.cast("long")


def lsh_buckets(df: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """Random-hyperplane LSH bucket per vector: bit j = sign(dot(e, plane_j))."""
    return df.select(
        "vec_id",
        lsh_bucket_expr(_to_double(F.col("embedding")), n_planes).alias("bucket"),
    )


def _quantized(col):
    """array<float> -> array<long> on the 1/IVF_Q fixed-point grid
    (floor(x*Q + 0.5): round-half-up, identical in DuckDB)."""
    return F.transform(
        _to_double(col), lambda x: F.floor(x * IVF_Q + 0.5).cast("long")
    )


def _dot_int(x, y):
    """Exact int64 dot product of two array<long> columns."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _cos_int(a, b):
    """Cosine over quantized vectors: exact integer dots, one deterministic
    per-row double division at the end."""
    return _dot_int(a, b).cast("double") / (
        F.sqrt(_dot_int(a, a).cast("double"))
        * F.sqrt(_dot_int(b, b).cast("double"))
    )


def ivf_train_kmeans(
    df: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Distributed spherical k-means for the IVF coarse quantizer (Lloyd
    iterations as DataFrame ops — the public algorithm).

    Deterministic by construction, no seed needed:

    - init: centroid c = (quantized) embedding of ``vec_id = c``;
    - assign: broadcast-centroid argmax of the QUANTIZED cosine
      (``eps_floor`` at ``round_to``, ties to the lower centroid id);
    - update: centroid := elementwise SUM of its members' quantized vectors.
      Cosine is scale-invariant, so the un-normalized integer sum IS the
      spherical-k-means mean direction — and int64 addition is associative,
      so the distributed aggregation order cannot change a single bit.
      Fixed ``n_iters`` (no convergence test) keeps the trace replayable.

    The DuckDB oracle unrolls the same iterations and matches exactly.
    Returns (centroid, c_emb array<long>); empty clusters drop out (both
    engines agree). One broadcast join + one explode-aggregate per round;
    round cost is one corpus pass — at 100 TB train on a sample, the
    assignment math does not change. Each round's centroids are collected
    and rebuilt as a driver-side local relation, so the plan stays one
    round deep and the result depends on no executor-local block."""
    spark = df.sparkSession
    base = df.select("vec_id", _quantized(F.col("embedding")).alias("q"))
    cents = base.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid"), F.col("q").alias("c_emb")
    )
    for _ in range(n_iters):
        # argmax via max_by aggregation, not a row_number window: the
        # aggregate gets map-side partial aggregation, so the per-round
        # shuffle moves ~N best-so-far rows instead of N x K scored rows
        # (guide §2.3). Tie-break identical to the former window's
        # (desc csim, asc centroid): maximize (csim, -centroid); rows tied
        # on both carry the same (centroid, q), so the pick is total.
        assigned = (
            base.crossJoin(F.broadcast(cents))
            .select(
                "vec_id", "q", "centroid",
                eps_floor(
                    _cos_int(F.col("q"), F.col("c_emb")), round_to
                ).alias("csim"),
            )
            .groupBy("vec_id")
            .agg(
                F.max_by(
                    F.struct("centroid", "q"),
                    F.struct(F.col("csim"), (-F.col("centroid")).alias("nc")),
                ).alias("_best")
            )
            .select(
                F.col("_best.centroid").alias("centroid"),
                F.col("_best.q").alias("q"),
            )
        )
        sums = (
            assigned.select("centroid", F.posexplode("q").alias("dim", "v"))
            .groupBy("centroid", "dim")
            .agg(F.sum("v").alias("s"))
        )
        cents = spark.createDataFrame(
            sums.groupBy("centroid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "s"))),
                    lambda x: x["s"],
                ).alias("c_emb")
            )
            .toArrow()
        )
    return cents


def ann_ivf_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """IVF approximate top-k: score only candidates whose centroid is among
    the query's ``n_probe`` closest centroids. The candidate join is an
    equi-join on the centroid id (inverted lists), so the scan cost drops
    by ~n_centroids/n_probe versus brute force -- the standard IVF trade.

    The coarse quantizer is trained inline by ``IVF_TRAIN_ITERS`` rounds of
    the exact-integer spherical k-means (:func:`ivf_train_kmeans`);
    assignment and probe selection use the quantized cosine against the
    trained centroids (recall vs brute force measured in
    BENCH/ann_recall_r5.json)."""
    from pyspark.sql import Window

    base = df.select(
        "vec_id",
        _to_double(F.col("embedding")).alias("emb"),
        _quantized(F.col("embedding")).alias("q"),
    )
    cents = F.broadcast(ivf_train_kmeans(df, n_centroids, IVF_TRAIN_ITERS))
    csim_base = eps_floor(_cos_int(F.col("q"), F.col("c_emb")), 6)
    # assign each vector to its max-cosine centroid, ties to the lower id;
    # the embedding is carried THROUGH the argmax window instead of being
    # joined back on vec_id afterwards -- one shuffle (the window), not two
    wa = Window.partitionBy("vec_id").orderBy(
        F.desc("csim"), F.asc("centroid")
    )
    assigned = (
        base.crossJoin(cents)
        .select("vec_id", "emb", "q", "centroid", csim_base.alias("csim"))
        .withColumn("rnk", F.row_number().over(wa))
        .filter(F.col("rnk") == 1)
        .select("vec_id", "emb", "centroid")
    )

    queries = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("q").alias("q_q"),
    )
    q_csim = eps_floor(_cos_int(F.col("q_q"), F.col("c_emb")), 6)
    q_cent = queries.crossJoin(cents).select(
        "query_id", "q_emb", "centroid", q_csim.alias("csim")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("centroid"))
    probes = (
        q_cent.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= n_probe)
        .select("query_id", "q_emb", "centroid")
    )
    scored = (
        assigned.join(F.broadcast(probes), "centroid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            eps_floor(cosine_sim(F.col("q_emb"), F.col("emb")), round_to).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", "rank")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    n_planes: int = N_PLANES,
    round_to: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (vec_a, vec_b, sim) with
    ``sim >= threshold`` and ``vec_a < vec_b``.

    Candidates must share a random-hyperplane LSH bucket, turning the
    O(n^2) cross product into a bucket-equi self-join (shuffle on an int
    key; bucket sizes ~ n/2^planes, so pair work drops by ~2^planes at a
    known recall cost -- the standard SimHash/LSH dedup blocking trade).

    **Sizing rule for n_planes**: expected pair work is
    ~ n^2 / 2^n_planes, so pick ``n_planes ~ 2*log2(n) - log2(P)`` where P
    is the pair budget (e.g. n=10^9 docs, P=10^12 comparisons ->
    n_planes ~ 20). Recall at cosine s falls as (1 - acos(s)/pi)^n_planes;
    recover it by OR-ing over b independent plane sets (run with b seeds and
    union the pairs), trading b x work for 1-(1-r)^b recall -- the
    rotate-band trick for hyperplane LSH. The default n_planes=4 is sized
    for the sf0.01/0.1 test corpus, not for production n.
    """
    # bucket is a column EXPRESSION over the same row (no join back to a
    # separate buckets frame), and one repartition on the self-join key
    # lets ReuseExchange compute scan+projections once for both sides
    base = df.select(
        "vec_id", _to_double(F.col("embedding")).alias("emb")
    ).withColumn(
        "bucket", lsh_bucket_expr(F.col("emb"), n_planes)
    ).repartition("bucket")
    a = base.select(
        F.col("vec_id").alias("vec_a"), F.col("emb").alias("emb_a"), "bucket"
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"), F.col("emb").alias("emb_b"), "bucket"
    )
    pairs = a.join(b, "bucket").filter(F.col("vec_a") < F.col("vec_b"))
    scored = pairs.select(
        "vec_a",
        "vec_b",
        eps_floor(cosine_sim(F.col("emb_a"), F.col("emb_b")), round_to).alias("sim"),
    )
    return scored.filter(F.col("sim") >= threshold)


def ann_lsh_topk(
    df: DataFrame, query_ids: list[int], k: int = 3, n_planes: int = N_PLANES,
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing the query's LSH
    bucket. The candidate join is bucket-equi (shuffle on an int), not a
    cross product -- the scale path for ANN."""
    from pyspark.sql import Window

    base = df.select(
        "vec_id",
        _to_double(F.col("embedding")).alias("emb"),
        lsh_bucket_expr(_to_double(F.col("embedding")), n_planes).alias("bucket"),
    )
    queries = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    scored = (
        base.join(F.broadcast(queries), F.col("bucket") == F.col("q_bucket"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            eps_floor(cosine_sim(F.col("q_emb"), F.col("emb")), round_to).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", "rank")
    )
