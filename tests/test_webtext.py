"""Web-text dedup scale-safety tests.

Pins the posting-list pruning contract of ``ngram_jaccard_pairs``: a
ubiquitous ("hot") shingle must not blow the self-join up to |posting|^2
pairs, and the pruned-universe Jaccard must match a brute-force Python
computation of the same semantics.
"""

import itertools

from pyspark.sql import functions as F

import pytest

N_DOCS = 40


def _mk_docs(spark):
    """N_DOCS docs that all share one hot 3-gram; only docs 0 and 1 are
    near-duplicates of each other once the hot shingle is pruned."""
    hot = "the quick fox"
    rows = []
    for i in range(N_DOCS):
        if i in (0, 1):
            # near-dups: long shared tail, tiny difference
            tail = " ".join(f"tok{j}" for j in range(30))
            diff = "" if i == 0 else " extra"
            rows.append((i, f"{hot} {tail}{diff}"))
        else:
            # unique content per doc plus the hot shingle
            body = " ".join(f"u{i}w{j}" for j in range(10))
            rows.append((i, f"{hot} {body}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _brute_jaccard(texts, n=3, cap=None, threshold=0.0):
    """Reference semantics: prune shingles with doc-freq > cap from the
    universe, then exact Jaccard over the pruned sets."""
    sets = {}
    for doc_id, text in texts:
        w = text.split(" ")
        sets[doc_id] = {
            " ".join(w[i : i + n]) for i in range(len(w) - n + 1)
        } if len(w) >= n else set()
    if cap is not None:
        freq = {}
        for s in sets.values():
            for sh in s:
                freq[sh] = freq.get(sh, 0) + 1
        sets = {d: {sh for sh in s if freq[sh] <= cap} for d, s in sets.items()}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and inter / union >= threshold and inter > 0:
            out[(a, b)] = (inter, inter / union)
    return out


def test_hot_shingle_cap_bounds_pairs(spark):
    from scala_timeseries_lib_spark.functions.dedup import ngram_jaccard_pairs

    docs = _mk_docs(spark)

    # uncapped: the hot shingle alone links every doc to every other doc ->
    # the candidate-pair stage (threshold=0) is quadratic in N_DOCS
    uncapped = ngram_jaccard_pairs(
        docs, threshold=0.0, max_shingle_freq=None
    ).count()
    assert uncapped == N_DOCS * (N_DOCS - 1) // 2

    # capped: the hot shingle is pruned; only genuinely-overlapping docs pair
    capped = ngram_jaccard_pairs(docs, threshold=0.0, max_shingle_freq=5)
    rows = {(r.doc_a, r.doc_b): (r.shared, r.jaccard) for r in capped.collect()}
    assert set(rows) == {(0, 1)}
    assert uncapped > 100 * len(rows)


def test_capped_jaccard_matches_bruteforce(spark):
    from scala_timeseries_lib_spark.functions.dedup import ngram_jaccard_pairs

    docs = _mk_docs(spark)
    got = {
        (r.doc_a, r.doc_b): (r.shared, round(r.jaccard, 5))
        for r in ngram_jaccard_pairs(
            docs, threshold=0.5, max_shingle_freq=5
        ).collect()
    }
    want = {
        k: (inter, round(round(j * 10**5 + 1e-9) / 10**5, 5))
        for k, (inter, j) in _brute_jaccard(
            [(i, t) for i, t in ((r.doc_id, r.text) for r in docs.collect())],
            cap=5,
            threshold=0.5,
        ).items()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k][0] == want[k][0], k


def test_threshold_filter_applies_to_pruned_sizes(spark):
    """Sizes must be computed over the pruned universe: with the hot
    shingle pruned, docs 0/1 have 30 vs 31 shingles and share 30 ->
    jaccard = 30/31 ~ 0.9677 = shared/(shared+1)."""
    from scala_timeseries_lib_spark.functions.dedup import ngram_jaccard_pairs

    docs = _mk_docs(spark)
    out = ngram_jaccard_pairs(docs, threshold=0.8, max_shingle_freq=5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (0, 1)
    assert r.jaccard == pytest.approx(r.shared / (r.shared + 1), abs=1e-4)


def test_minhash_bucket_cap_bounds_pairs(spark):
    """A degenerate LSH bucket (many identical docs -> identical band
    signatures) must not explode the bucket self-join: above the cap it
    emits LINEAR star pairs (member vs bucket minimum), so its members
    still form one connected component while genuine near-dup pairs
    survive untouched."""
    from scala_timeseries_lib_spark.functions.dedup import (
        minhash_lsh_pairs,
        neardup_clusters,
    )

    tail = " ".join(f"tok{j}" for j in range(40))
    rows = [(i, "identical boilerplate page " + "x " * 20) for i in range(30)]
    rows += [(100, f"real document {tail}"), (101, f"real document {tail} end")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = minhash_lsh_pairs(docs, max_bucket_size=None).count()
    assert uncapped >= 30 * 29 // 2  # the hot bucket alone is quadratic

    capped = {(r.doc_a, r.doc_b)
              for r in minhash_lsh_pairs(docs, max_bucket_size=5).collect()}
    assert (100, 101) in capped
    # hot bucket: exactly the 29 star pairs (hub = min doc id 0), not m^2/2
    boiler = {(a, b) for a, b in capped if a < 100}
    assert boiler == {(0, i) for i in range(1, 30)}

    # and the star pairs keep the hot bucket one deduplicable component
    cl = neardup_clusters(
        docs, minhash_lsh_pairs(docs, max_bucket_size=5)
    ).collect()
    canon = {r["doc_id"]: r["canonical_id"] for r in cl}
    assert all(canon[i] == 0 for i in range(30))
    assert canon[100] == canon[101] == 100


def test_neardup_clusters_connected_components(spark):
    """Chain graphs need several contraction rounds: a 4-hop chain, a
    separate pair, and singletons must each resolve to the component
    minimum."""
    from scala_timeseries_lib_spark.functions.dedup import neardup_clusters

    docs = spark.createDataFrame(
        [(i,) for i in range(10)], "doc_id long"
    ).withColumn("text", (F.col("doc_id") * 0).cast("string"))
    # chain 9-7-5-3-1 (descending links force rewiring) + pair (2, 8)
    pairs = spark.createDataFrame(
        [(7, 9), (5, 7), (3, 5), (1, 3), (2, 8)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.canonical_id
           for r in neardup_clusters(docs, pairs).collect()}
    want = {0: 0, 1: 1, 3: 1, 5: 1, 7: 1, 9: 1, 2: 2, 8: 2, 4: 4, 6: 6}
    assert got == want


def test_multimodal_frame_sample_and_features(spark):
    """Multi-frame fan-out: a 1100-byte payload at frame=256/stride=2 has
    frames 0..4, sampled {0, 2, 4}; the last frame is partial."""
    import hashlib

    from scala_timeseries_lib_spark.functions.multimodal import (
        extract_features,
        frame_sample,
    )

    payload = bytes(range(256)) * 4 + b"x" * 76  # 1100 bytes
    docs = spark.createDataFrame(
        [(1, payload), (2, b"tiny")], "doc_id long, payload binary"
    )
    rows = frame_sample(docs, frame_bytes=256, stride=2).collect()
    got = {(r.doc_id, r.frame_idx): bytes(r.frame) for r in rows}
    assert set(got) == {(1, 0), (1, 2), (1, 4), (2, 0)}
    assert got[(1, 0)] == payload[:256]
    assert got[(1, 2)] == payload[512:768]
    assert got[(1, 4)] == payload[1024:]  # partial tail, 76 bytes
    assert got[(2, 0)] == b"tiny"

    feats = {r.doc_id: r.features for r in extract_features(docs).collect()}
    h = hashlib.md5(payload).hexdigest()
    assert feats[1] == [int(h[8 * i:8 * i + 8], 16) % 100_000 / 100_000.0
                        for i in range(4)]


def test_deterministic_sample_nests_and_shards_are_stable(spark):
    from scala_timeseries_lib_spark.functions.shard import (
        assign_shards,
        deterministic_sample,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(2000)], "doc_id long, text string"
    )
    s5 = {r.doc_id for r in deterministic_sample(docs, 500).collect()}
    s10 = {r.doc_id for r in deterministic_sample(docs, 1000).collect()}
    assert s5 <= s10                       # samples nest
    assert 0.03 < len(s10) / 2000 < 0.17   # ~10%
    # shard assignment is a pure function of the id: growing the corpus
    # never moves existing rows
    small = {r.doc_id: r.shard
             for r in assign_shards(docs.limit(500), 16).collect()}
    full = {r.doc_id: r.shard for r in assign_shards(docs, 16).collect()}
    assert all(full[k] == v for k, v in small.items())
    with pytest.raises(ValueError):
        deterministic_sample(docs, 20_000)


def test_star_cc_matches_union_find_and_converges_logarithmically(spark):
    """large-star/small-star must produce the same components as a
    sequential union-find over the same pairs, and converge on a 200-node
    CHAIN within ~log2(n) rounds (min-label propagation would need
    diameter-many rounds there)."""
    from scala_timeseries_lib_spark.functions.dedup import neardup_clusters

    n = 200
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    docs = docs.withColumn("text", (F.col("doc_id") * 0).cast("string"))
    # one long chain 0-1-2-...-149, a pair, singletons
    edges = [(i, i + 1) for i in range(149)] + [(160, 170)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")

    # star converges in O(log n) rounds: 12 rounds is ample for n=200,
    # while a diameter-bound algorithm would need ~149
    star = neardup_clusters(docs, pairs, max_iterations=12)
    got = {r["doc_id"]: r["canonical_id"] for r in star.collect()}

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        parent[max(ru, rv)] = min(ru, rv)
    assert got == {i: find(i) for i in range(n)}
    assert got[149] == 0 and got[170] == 160 and got[199] == 199


def test_minhash_hot_bucket_oracle_parity(spark):
    """ADVICE r3 (medium): the oracle SQL must mirror the hot-bucket STAR
    fallback, not drop hot buckets. 60 identical docs exceed the
    registry's MINHASH_MAX_BUCKET=50 cap, so query and oracle only agree
    if both emit the same O(m) star pairs (hub = bucket min doc id)."""
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    import __spark_entry__ as entry_mod
    from scala_timeseries_lib_spark.functions.dedup import minhash_lsh_pairs

    tail = " ".join(f"tok{j}" for j in range(40))
    rows = [(i, "identical boilerplate page " + "x " * 20) for i in range(60)]
    rows += [(100, f"real document {tail}"), (101, f"real document {tail} end")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = sorted(
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            docs, max_bucket_size=entry_mod.MINHASH_MAX_BUCKET
        ).collect()
    )
    assert (0, 1) in got and (0, 59) in got  # star pairs present

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sql = entry_mod.oracle_sql()["dedup_minhash_pairs"]
    want = sorted(map(tuple, con.execute(sql).fetchall()))
    assert got == want

    # and the recursive-CTE cluster oracle over the same mpairs agrees with
    # the engine's connected components
    from scala_timeseries_lib_spark.functions.dedup import neardup_clusters

    cl = neardup_clusters(
        docs,
        minhash_lsh_pairs(docs, max_bucket_size=entry_mod.MINHASH_MAX_BUCKET),
    )
    got_cl = sorted((r.doc_id, r.canonical_id) for r in cl.collect())
    want_cl = sorted(
        map(tuple, con.execute(
            entry_mod.oracle_sql()["dedup_clusters_star"]
        ).fetchall())
    )
    assert got_cl == want_cl


def test_corpus_dedup_job_lineage_hot_buckets(spark, tmp_path):
    """End-to-end job run (VERDICT r3 #7): the lineage JSON must carry the
    boilerplate-degeneracy fields n_hot_buckets / n_star_pairs, non-zero
    when a bucket blows the cap, zero on a clean corpus."""
    import numpy as np
    import pandas as pd

    from jobs.corpus_dedup_job import run

    rng = np.random.default_rng(3)
    rows = []
    # 20 boilerplate near-clones: different BYTES (they survive the exact
    # dedup inside quality_filter), quality-gate-passing prose, and the
    # same distinct-shingle SET (a sentence repeated k>=3 times has a fixed
    # circular 3-gram set) -> identical MinHash signatures -> one bucket,
    # hot under cap=5
    tmpl = ("the quick brown fox jumps over the lazy dog while many other "
            "animals watch quietly from the green forest edge. ")
    for i in range(20):
        rows.append((i, (tmpl * (3 + i)).strip(), "en"))
    for i in range(20, 60):
        body = " ".join(
            f"w{rng.integers(0, 5000)}" for _ in range(60)
        )
        rows.append((i, f"document {i} {body}", "en"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    pdf["n_chars"] = pdf["text"].str.len()
    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(pdf).write.parquet(str(src / "documents.parquet"))

    lineage = run(
        spark, str(src), str(tmp_path / "out"),
        min_quality=0.0, min_tokens=1, max_bucket_size=5,
    )
    assert lineage["n_hot_buckets"] > 0
    assert lineage["n_star_pairs"] > 0
    # the boilerplate clones dedup to one survivor through the star pairs
    assert lineage["docs_out"] <= lineage["after_quality_and_exact_dedup"] - 19
    for k in ("docs_in", "neardup_candidate_pairs", "docs_out", "wall_sec"):
        assert k in lineage

    lineage_clean = run(
        spark, str(src), str(tmp_path / "out2"),
        min_quality=0.0, min_tokens=1, max_bucket_size=10_000,
    )
    assert lineage_clean["n_hot_buckets"] == 0
    assert lineage_clean["n_star_pairs"] == 0


def test_ivf_train_kmeans_plan_holds_no_executor_blocks(spark):
    """The trained centroids are a driver-side local relation, not a
    localCheckpoint: no LogicalRDD node (whose blocks live on executors)
    is left in the returned plan."""
    from scala_timeseries_lib_spark.functions.similarity import ivf_train_kmeans

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_train_kmeans(embs, n_centroids=8, n_iters=3)

    def classes(node):
        yield node.getClass().getSimpleName()
        it = node.children().iterator()
        while it.hasNext():
            yield from classes(it.next())

    nodes = list(classes(cents._jdf.queryExecution().analyzed()))
    assert "LogicalRDD" not in nodes, nodes
    assert "LocalRelation" in nodes, nodes
    assert 0 < cents.count() <= 8
