"""Real BPE: the fixture merge table's trainer + exact greedy encode.

Semantics: the public byte-pair-encoding algorithm (Sennrich et al. 2016) —
train = iterate (count adjacent symbol pairs weighted by word frequency,
merge the most frequent pair everywhere), encode = replay the merge table in
training order, one greedy left-to-right pass per rule. Replay-in-order is
exactly priority-based BPE encoding because a pair's two symbols always
predate the pair's own rank (a later rule can never enable an earlier one);
test_replay_equals_priority_encode pins that argument empirically.
"""

import hashlib
import random
import re

from scala_timeseries_lib_spark.functions.text import (
    BPE_FIXTURE_MERGES,
    BPE_ISH_PATTERN,
    FP_MOD,
    _encode_word,
    bpe_encode_stats,
)

# ---------------------------------------------------------------------------
# Sequential reference implementations (the oracle for the Spark code)
# ---------------------------------------------------------------------------


def greedy_pass(syms, p, q):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == p and syms[i + 1] == q:
            out.append(p + q)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_ref(word_freq, n_merges, min_count=2):
    seqs = {w: list(w) for w in word_freq}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, f in word_freq.items():
            s = seqs[w]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        m = max(counts.values())
        if m < min_count:
            break
        best = sorted(k for k, v in counts.items() if v == m)[0]
        merges.append(best)
        for w in seqs:
            seqs[w] = greedy_pass(seqs[w], *best)
    return merges


def encode_priority(word, merges):
    """Classic priority-based BPE encode: repeatedly merge the present pair
    with the LOWEST training rank until none applies."""
    rank = {m: i for i, m in enumerate(merges)}
    syms = list(word)
    while True:
        best = None
        for pr in zip(syms, syms[1:]):
            r = rank.get(pr)
            if r is not None and (best is None or r < best):
                best = r
        if best is None:
            break
        syms = greedy_pass(syms, *merges[best])
    return syms


def h32(tok):
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % FP_MOD


# ---------------------------------------------------------------------------


def test_replay_equals_priority_encode():
    rng = random.Random(42)
    words = [
        "".join(rng.choice("abcd") for _ in range(rng.randint(1, 14)))
        for _ in range(300)
    ]
    freq = {}
    for w in words:
        freq[w] = freq.get(w, 0) + rng.randint(1, 4)
    merges = train_ref(freq, 40)
    assert len(merges) > 10
    for w in list(freq) + ["dcba", "aaaaaaa", "x", ""]:
        assert _encode_word(w, merges) == encode_priority(w, merges), w


def test_bpe_train_reproduces_fixture():
    """BPE_FIXTURE_MERGES is the sequential trainer's output on the sf0.001
    documents (n_merges=48, min_count=2)."""
    import pyarrow.parquet as pq

    texts = pq.read_table(
        "/root/testdata/sf0.001/documents.parquet", columns=["text"]
    ).column("text").to_pylist()
    pat = re.compile(BPE_ISH_PATTERN)
    freq = {}
    for t in texts:
        for w in pat.findall(t):
            freq[w] = freq.get(w, 0) + 1
    assert train_ref(freq, 48, min_count=2) == BPE_FIXTURE_MERGES


def test_bpe_encode_stats_matches_sequential(spark):
    rng = random.Random(29)
    vocab = ["merge", "sorted", "column", "value42", "a+b", "query", "window"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = BPE_FIXTURE_MERGES

    pat = re.compile(BPE_ISH_PATTERN)
    expected = {}
    for i, t in docs:
        toks = []
        for w in pat.findall(t):
            toks.extend(_encode_word(w, merges))
        if not toks:
            continue  # no pretokens -> no row (inner-join semantics)
        fp = sum(h32(tok) * (g + 1) for g, tok in enumerate(toks)) % FP_MOD
        expected[i] = (len(toks), fp)

    got = {
        r["doc_id"]: (r["n_bpe_tokens"], r["bpe_fingerprint"])
        for r in bpe_encode_stats(df, merges).collect()
    }
    assert got == expected
    assert len(got) > 30


def test_encode_plan_shape(spark):
    """Corpus-sized stages stay JVM-side: the only Python stage is the
    vocabulary-sized mapInPandas, and the vocab join broadcasts."""
    df = spark.createDataFrame(
        [(1, "merge sort merge"), (2, "query window")],
        "doc_id long, text string",
    )
    plan = (
        bpe_encode_stats(df, BPE_FIXTURE_MERGES)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in plan
