"""Text analysis over the documents table: token stats, quality scoring,
n-gram language ID, document fingerprinting.

All pure Spark column expressions (codegen-friendly); each has an exact
DuckDB-SQL twin in __spark_entry__.oracle_sql. Tokenization is
whitespace-split, matching the synthetic corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounding import eps_floor

__all__ = [
    "hash32",
    "token_stats",
    "bpe_token_count",
    "bpe_encode_stats",
    "quality_score",
    "lang_id",
    "fingerprint",
    "top_tokens",
    "quality_filter",
    "STOPWORDS",
    "LANG_STOPWORDS",
    "FP_MOD",
    "BPE_ISH_PATTERN",
    "BPE_FIXTURE_MERGES",
]

# GPT-2-pretokenizer shape (letter runs | digit runs | punctuation runs)
# restricted to ASCII classes so the Java (Spark) and RE2 (DuckDB) regex
# dialects agree byte-for-byte
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"

STOPWORDS = ["the", "of", "and", "to", "a", "in", "is", "it", "that", "for"]

LANG_STOPWORDS = {
    "en": ["the", "and", "is", "to", "of"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
}

FP_MOD = 1_000_000_007

# Closed-form fixture merge table: the sequential reference BPE trainer
# (tests/test_bpe.py ``train_ref``) run on the sf0.001 documents corpus with
# n_merges=48, min_count=2 (all 48 merges reach the count);
# tests/test_bpe.py reruns it and pins this list. The DuckDB oracle for
# text_bpe_encode replays the same table.
BPE_FIXTURE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
    ("l", "u"), ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"),
    ("a", "n"), ("c", "an"), ("s", "can"), ("c", "o"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("d", "er"), ("or", "der"), ("or", "t"), ("s", "ort"),
    ("par", "t"), ("u", "p"), ("a", "g"), ("ag", "g"), ("a", "lu"),
    ("alu", "e"), ("v", "alue"), ("in", "e"), ("l", "ine"), ("e", "y"),
    ("k", "ey"), ("j", "o"), ("jo", "in"), ("g", "e"), ("mer", "ge"),
    ("er", "y"), ("g", "r"), ("gr", "o"), ("gro", "up"), ("q", "u"),
    ("qu", "ery"), ("c", "t"), ("ct", "or"), ("e", "ctor"),
]


def hash32(col):
    """Portable 32-bit word hash: first 8 hex chars of md5 as unsigned int."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _tokens(text_col: str = "text"):
    return F.split(F.col(text_col), " ")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc token counting: n_tokens, n_chars, avg token length,
    stopword ratio."""
    toks = _tokens(text_col)
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return df.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.length(text_col).cast("long").alias("n_chars"),
        eps_floor(
            (F.length(text_col) - n + 1) / n.cast("double"), 5
        ).alias("avg_token_len"),
        eps_floor(n_stop / n.cast("double"), 5).alias("stopword_ratio"),
    )


def bpe_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish pretokenizer
    regex (the shape BPE vocabularies are trained over). Pure JVM
    ``regexp_extract_all`` -- no Python in the scan."""
    toks = F.regexp_extract_all(
        F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0)
    )
    return df.select(
        "doc_id",
        F.size(_tokens(text_col)).alias("n_ws_tokens"),
        F.size(toks).alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# Real BPE: exact greedy encode of a corpus-trained merge table
# ---------------------------------------------------------------------------

def _pretokens(text_col: str = "text"):
    return F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0))


def _encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Sequential greedy encode: replay merges in training order, one
    left-to-right pass each (exact BPE — a later rule can never enable an
    earlier one, because a pair's symbols always predate the pair's rank)."""
    syms = list(word)
    for p, q in merges:
        # cheap reject: delimiter-exact substring probe (symbols never
        # contain spaces — the pretokenizer classes exclude \s)
        if f" {p} {q} " not in " " + " ".join(syms) + " ":
            continue
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == p and syms[i + 1] == q:
                out.append(p + q)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode_stats(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Real BPE encode over the corpus: per-doc encoded token count plus an
    order-sensitive fingerprint of the full token SEQUENCE.

    Scale shape: the Python encoder runs once per DISTINCT pretoken (an
    Arrow ``mapInPandas`` over the deduplicated vocabulary — cost is
    vocabulary-sized, not corpus-sized); the corpus-sized work is pure
    Catalyst: pretokenize (JVM regex), equi-join each (doc, word-position)
    row to its word's encoded stats (the encoded vocabulary is broadcast),
    and one per-doc window cumsum for sequence offsets.

    The fingerprint is position-exact over the flattened token stream:
    ``sum_g hash32(tok_g) * (g+1) mod FP_MOD``, decomposed per word as
    ``wfp + offset * s_hash`` so no per-doc token list is ever materialized.
    Output: doc_id, n_bpe_tokens, bpe_fingerprint (docs with no pretokens
    emit nothing, matching the SQL oracle's inner join)."""
    import hashlib

    import pandas as pd

    from pyspark.sql import Window

    merges_local = list(merges)

    def _encode_batches(batches):
        for pdf in batches:
            rows = []
            for word in pdf["word"]:
                toks = _encode_word(word, merges_local)
                hs = [
                    int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16)
                    % FP_MOD
                    for t in toks
                ]
                s = sum(hs) % FP_MOD
                wfp = sum(h * (j + 1) for j, h in enumerate(hs)) % FP_MOD
                rows.append((word, len(toks), s, wfp))
            yield pd.DataFrame(
                rows, columns=["word", "n_toks", "s_hash", "wfp"]
            )

    pre = df.select(
        "doc_id",
        F.posexplode(_pretokens(text_col)).alias("wpos", "word"),
    )
    vocab = pre.select("word").distinct()
    enc = F.broadcast(vocab.mapInPandas(
        _encode_batches,
        schema="word string, n_toks long, s_hash long, wfp long",
    ))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("wpos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    joined = pre.join(enc, "word").withColumn(
        "off", F.coalesce(F.sum("n_toks").over(w), F.lit(0))
    )
    contrib = (F.col("wfp") + F.col("off") * F.col("s_hash")) % FP_MOD
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("n_toks").alias("n_bpe_tokens"),
            (F.sum(contrib) % FP_MOD).alias("bpe_fingerprint"),
        )
    )


def _quality_expr(text_col: str = "text"):
    """Heuristic document quality in [0,1] as a column expression."""
    toks = _tokens(text_col)
    n = F.size(toks).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))) / n
    avg_len = (F.length(text_col) - n + 1) / n
    return (
        F.least(n / 100.0, F.lit(1.0)) * 0.5
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
        + F.least(avg_len / 8.0, F.lit(1.0)) * 0.2
    )


def _lang_pred_expr(text_col: str = "text"):
    """Stopword-hit language ID as a column expression: argmax hit count
    with deterministic lexicographic tie-break; 'und' when no hits."""
    toks = _tokens(text_col)

    def _contains(arr):
        # NB: closure factory, not a default arg -- PySpark turns every
        # lambda parameter into a lambda variable
        return lambda t: F.array_contains(arr, t)

    hits = {}
    for lang, words in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        hits[lang] = F.size(F.filter(toks, _contains(arr)))
    langs = sorted(hits)
    best = F.greatest(
        *[
            F.struct(
                hits[lg].alias("c"),
                F.lit(len(langs) - i).alias("p"),
                F.lit(lg).alias("lang"),
            )
            for i, lg in enumerate(langs)
        ]
    )
    return F.when(best["c"] == 0, F.lit("und")).otherwise(best["lang"])


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality in [0,1]: length saturation + stopword
    plausibility + token-length plausibility. Deterministic linear blend."""
    return df.select("doc_id", eps_floor(_quality_expr(text_col), 5).alias("quality"))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language ID: count hits per language lexicon, argmax with
    deterministic lexicographic tie-break; 'und' (undetermined) when no hits."""
    return df.select("doc_id", _lang_pred_expr(text_col).alias("pred_lang"))


def top_tokens(df: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Corpus heavy-hitters: global token frequency top-k.

    Explode -> two-stage hash aggregate (map-side partial count, one shuffle
    on the token) -> TakeOrdered top-k (no full sort shuffle; each partition
    keeps k rows, the driver merges). Ties break deterministically
    (count DESC, token ASC) so the result SET is stable."""
    return (
        df.select(F.explode(_tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(k)
    )


def quality_filter(
    df: DataFrame,
    min_quality: float = 0.5,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    text_col: str = "text",
) -> DataFrame:
    """The composed training-data gate: exact-dedup to canonical docs, then
    language-determined + quality + token-count filters.

    One scan computes every gate column (quality, language, token count are
    pure Catalyst expressions -- no joins between per-doc feature frames);
    the canonical-doc set is one md5 hash-aggregate, applied as a semi join
    on doc_id (broadcastable under AQE when the survivor set is small).
    Output: doc_id, pred_lang, n_tokens, quality for the surviving docs."""
    gated = df.select(
        "doc_id",
        _lang_pred_expr(text_col).alias("pred_lang"),
        F.size(_tokens(text_col)).cast("long").alias("n_tokens"),
        eps_floor(_quality_expr(text_col), 5).alias("quality"),
    ).filter(
        (F.col("quality") >= min_quality)
        & F.col("n_tokens").between(min_tokens, max_tokens)
        & (F.col("pred_lang") != "und")
    )
    canonical = (
        df.groupBy(F.md5(F.col(text_col)).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return gated.join(canonical, "doc_id", "semi")


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Positional additive fingerprint: sum_i (hash32(w_i) % M) * (i+1) mod M.

    Order-sensitive (unlike a bag-of-words hash) and exactly reproducible in
    SQL via an indexed transform + sum.
    """
    toks = _tokens(text_col)
    terms = F.transform(toks, lambda w, i: (hash32(w) % FP_MOD) * (i + 1))
    fp = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: (acc + x) % FP_MOD)
    return df.select("doc_id", fp.alias("fingerprint"))
