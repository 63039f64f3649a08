"""Deduplication over the documents table: exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Scale design:
- exact dedup is one hash-aggregate on md5(text) -- the cheapest possible
  full-corpus pass; at 100 TB it's a single shuffle on a 16-byte key.
- n-gram Jaccard materializes the (doc, shingle) posting list and self-joins
  on shingle. The join key is the shingle hash (32-bit), so the shuffle
  carries ints, not strings; hot shingles are the skew risk -> AQE skew-join
  is on, and `max_shingle_freq` drops ubiquitous shingles (standard posting-
  list pruning) before the join.
- MinHash/LSH replaces the quadratic verify set with banded signatures:
  signatures are per-doc arrays computed in one codegen pass (no shuffle),
  band buckets shuffle only (band, bucket-hash) ints.
- SimHash gives a 32-bit per-doc sketch in one pass.

All shingle/word hashing uses the portable 32-bit md5 prefix (see package
docstring) so DuckDB oracles reproduce results bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounding import eps_floor

from .text import hash32

__all__ = [
    "exact_dedup",
    "shingles",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "neardup_clusters",
    "simhash",
    "MINHASH_A",
    "MINHASH_B",
    "MINHASH_P",
]

# k=8 universal-hash parameters (a*x+b) mod p over the 32-bit word hash;
# a < 2^30 keeps a*x within int64.
MINHASH_A = [536870909, 433494437, 268435399, 134217689,
             67108859, 33554393, 16777213, 999999937]
MINHASH_B = [7, 11, 13, 17, 19, 23, 29, 31]
MINHASH_P = 2_147_483_647  # 2^31 - 1


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the canonical
    (minimum) doc_id and the duplicate count."""
    return (
        df.select("doc_id", F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle string).
    Docs with fewer than n tokens produce no shingles."""
    toks = F.split(F.col(text_col), " ")
    sh = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
    )
    return (
        df.filter(F.size(toks) >= n)
        .select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    max_shingle_freq: int | None = 10_000,
) -> DataFrame:
    """Candidate near-dup pairs by exact n-gram Jaccard >= threshold.

    Posting-list pruning: shingles appearing in more than ``max_shingle_freq``
    docs are removed from the shingle universe before the self-join -- both
    the pair intersections AND the per-doc sizes use the pruned universe, so
    ``jaccard`` stays a true Jaccard over informative shingles. Without the
    cap a single ubiquitous shingle (boilerplate) emits |posting|^2 pairs;
    with it, pair work is bounded by sum(min(freq, cap)^2) per shingle.

    Shuffles: one on the shingle hash for the frequency count, reused by the
    anti-join and the self-join (same key); one on (doc_a, doc_b) for the
    pair aggregation; the size lookups are plain equi-joins on doc_id (AQE
    picks the strategy -- sizes has one row per doc, unbounded at corpus
    scale, so it is never force-broadcast).
    """
    sh = shingles(df, text_col, n).select(
        "doc_id", hash32(F.col("shingle")).alias("h")
    )
    # one exchange boundary on the join key: the posting list is consumed
    # ~5x downstream (frequency count, anti-join input, both self-join
    # sides, per-doc sizes); without a shuffle boundary each consumer
    # re-scans + re-tokenizes the corpus, with it Spark's ReuseExchange
    # materializes the scan+shingle work ONCE and every consumer reads the
    # shuffle output. It is also exactly the partitioning the self-join
    # wants, so the join adds no further exchange.
    sh = sh.repartition("h")
    if max_shingle_freq is not None:
        hot = (
            sh.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_shingle_freq)
            .select("h")
        )
        sh = sh.join(hot, "h", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.h") == F.col("b.h"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            eps_floor(F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 5),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "shared", "jaccard")
    )


def minhash_signatures(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Per-doc MinHash signature: for each of the k hash functions, the
    minimum of (a*h(shingle)+b) mod p over the doc's shingle set. Output is
    long form (doc_id, hash_idx, minhash) for SQL parity."""
    sh = shingles(df, text_col, n).select("doc_id", hash32(F.col("shingle")).alias("h"))
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"m{j}")
        for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    wide = sh.groupBy("doc_id").agg(*aggs)
    stack = ", ".join(f"{j}, m{j}" for j in range(len(MINHASH_A)))
    return wide.select(
        "doc_id",
        F.expr(f"stack({len(MINHASH_A)}, {stack}) AS (hash_idx, minhash)"),
    ).select("doc_id", "hash_idx", "minhash")


def minhash_lsh_pairs(
    df: DataFrame,
    bands: int = 4,
    text_col: str = "text",
    n: int = 3,
    max_bucket_size: int | None = 10_000,
    return_stats: bool = False,
):
    """LSH banding: k/bands rows per band; docs sharing a full band bucket
    become candidate pairs (deduplicated). With k=8, bands=4 (r=2) the
    collision probability at jaccard s is 1-(1-s^2)^4: ~0.99 at s=0.8.

    ``max_bucket_size`` caps degenerate hot buckets: a bucket holding m docs
    emits m^2/2 pairs, so one boilerplate-dominated signature (empty docs,
    templated pages) can turn the bucket join quadratic. Buckets above the
    cap skip the self-join and instead emit STAR pairs -- every member
    paired with the bucket's minimum doc id, O(m) pairs -- so their members
    still land in one connected component downstream (dropping the bucket
    outright would silently exempt near-exact templated pages from dedup;
    byte-identical docs are the only ones exact_dedup already catches).

    ``return_stats=True`` additionally returns the (tiny) hot-bucket frame
    ``(band, bucket, m, _hub)`` so callers (jobs/corpus_dedup_job.py) can
    emit boilerplate-degeneracy lineage (n_hot_buckets, star-pair volume)
    without re-deriving the signature pipeline; returns ``(pairs, hot)``."""
    rows_per_band = len(MINHASH_A) // bands
    sig = minhash_signatures(df, text_col, n)
    banded = sig.withColumn("band", (F.col("hash_idx") / rows_per_band).cast("int"))
    buckets = banded.groupBy("doc_id", "band").agg(
        F.md5(F.concat_ws(",", F.sort_array(F.collect_list(
            F.concat_ws(":", "hash_idx", "minhash"))))).alias("bucket")
    )
    # materialization boundary on the self-join key: the banded buckets are
    # consumed three times (hot-bucket count + both join sides); one
    # repartition exchange on (band, bucket) lets ReuseExchange run the
    # signature pipeline once and feeds the join pre-partitioned
    buckets = buckets.repartition("band", "bucket")
    star = None
    hot = (
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("m"), F.min("doc_id").alias("_hub"))
        .filter(
            F.col("m") > max_bucket_size if max_bucket_size is not None
            else F.lit(False)
        )
    )
    if max_bucket_size is not None:
        # hot is tiny (a handful of degenerate signatures): broadcast both
        # the anti-join that removes hot buckets from the quadratic path and
        # the equi-join that emits their linear star pairs
        star = (
            buckets.join(F.broadcast(hot), ["band", "bucket"])
            .filter(F.col("doc_id") != F.col("_hub"))
            .select(
                F.col("_hub").alias("doc_a"), F.col("doc_id").alias("doc_b")
            )
        )
        buckets = buckets.join(
            F.broadcast(hot.select("band", "bucket")), ["band", "bucket"], "left_anti"
        )
    pairs = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    pairs = pairs.distinct()
    if return_stats:
        return pairs, hot
    return pairs


def neardup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over near-dup candidate pairs: every doc gets
    ``canonical_id`` = the minimum doc id reachable through the pair graph
    (its own id when unpaired). This is the keep-one-per-cluster step a
    dedup pipeline runs after LSH/Jaccard candidate generation.

    Two-phase large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014): alternating
    rounds rewire every node's strictly-larger (large-star) /
    smaller-or-equal (small-star) neighbors to its neighborhood minimum,
    converging in O(log n) rounds regardless of component DIAMETER.
    Measured against min-label propagation (BENCH/*shootout_r4.json): a
    100k-doc chain converges in 39.5 s where label propagation
    extrapolates to ~10^5 rounds / ~23 h; a 256-chain runs 13x faster; on
    the flat sf0.01 LSH graph it concedes fixed round overhead (1.45 s vs
    0.88 s). At web scale candidate graphs can be adversarially chainy
    (pairwise near-dup chains from sliding shingle windows), so the
    diameter-independent algorithm is the only one kept.

    Invariant per round: the edge set stays within one connected component
    and always contains, for every non-minimal node, a path to its
    component minimum; at the fixed point the edges form stars centered on
    component minima. Each half-round is one groupBy(min) + join + distinct
    over |E| int pairs, lineage-truncated (localCheckpoint).
    """
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).filter(F.col("u") != F.col("v"))
    edges = edges.localCheckpoint(eager=True)

    def _sym(e):
        return e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def _neigh_min(e):
        # m(u) = min over Gamma(u) and u itself
        return _sym(e).groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    def _large_star(e):
        # for v in Gamma(u) with v > u: edge (v, m(u))
        m = _neigh_min(e)
        return (
            _sym(e)
            .join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e):
        # for v in Gamma(u) with v <= u, plus u itself: edge (v, m(u))
        m = _neigh_min(e)
        halves = _sym(e).filter(F.col("v") <= F.col("u"))
        rewired = halves.join(m, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_edges = m.select(F.col("u"), F.col("m").alias("v"))
        return (
            rewired.unionByName(self_edges)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _fingerprint(e):
        # bit_xor: order-independent and overflow-free (ANSI mode forbids
        # a plain SUM of 64-bit hashes)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    fp = _fingerprint(edges)
    for _ in range(max_iterations):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        nfp = _fingerprint(edges)
        if nfp == fp:
            break
        fp = nfp
    else:
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iterations} rounds"
        )
    # fixed point: star edges (node -> component minimum)
    stars = _sym(edges).groupBy("u").agg(F.min("v").alias("m")).filter(
        F.col("m") < F.col("u")
    )
    return (
        docs.select(F.col(id_col))
        .join(stars.select(F.col("u").alias(id_col), "m"), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("m"), F.col(id_col)).alias("canonical_id"),
        )
    )


def simhash(df: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """32-bit SimHash over word hashes: bit b of the sketch is the majority
    vote of bit b across the doc's word hashes (ties -> 0)."""
    toks = F.split(F.col(text_col), " ")
    hashes = F.transform(toks, lambda w: hash32(w))
    # one fold per bit (shift counts must be literals); 32 folds stay in a
    # single codegen stage
    def _bit_fold(b):
        mask = 1 << b
        return lambda acc, h: acc + (
            F.when(h.bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1)
        )

    sketch = None
    for b in range(bits):
        s = F.aggregate(hashes, F.lit(0).cast("long"), _bit_fold(b))
        term = F.when(s > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sketch = term if sketch is None else sketch + term
    return df.select("doc_id", sketch.alias("simhash"))
