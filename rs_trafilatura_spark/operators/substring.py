"""Exact substring dedup (Lee et al. 2022, "Deduplicating Training Data
Makes Language Models Better" — the ExactSubstr variant): remove every
word span of length >= n that occurs more than once ANYWHERE in the
corpus (including twice in the same document).  This is the dedup tier
between page-level exact dedup and paragraph dedup: it kills long
quoted/syndicated passages embedded in otherwise-unique pages.

Word-level formulation (the paper cuts BPE-token streams; words are the
tokenizer-independent equivalent): a position i of a document is
*covered* when some duplicated n-gram occurrence [j, j+n) contains i.
Covered words are removed; ``clean_text`` is the surviving word stream
joined by single spaces (whitespace-normalized — span cutting cannot
preserve the original inter-word bytes of removed regions anyway).

Spark shape (suffix arrays don't distribute; positional n-gram hashing
does):
1. positional gram hashes (doc_id, i, h) — h is 48 bits of md5, a pure
   Catalyst expression identical in DuckDB (engine-exact oracle); only
   (id, int, long) rows ever shuffle, never gram strings,
2. duplicated hashes = groupBy h HAVING count >= 2 — map-side partial
   count, output O(duplicated grams),
3. equi-join positions against duplicated hashes -> covered starts,
4. per-doc span cut: starts collected per doc (O(dup starts), usually
   tiny), words filtered by an index-lambda exists() — O(words x
   dup-starts) worst case, which a boilerplate-heavy page bounds at
   O(words x words/n); the documented heavy-corpus fallback is the same
   cut in one numpy pass inside mapInPandas.

At the paper's n=50 the gram stream is ~1 row per word: hashing costs
O(words x n) JVM-side string work (same family as the n=13 decontam
explode, ~4x more); the shuffles carry fixed-width rows only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .lm import _tokens

DEFAULT_MIN_SPAN_WORDS = 50


def _gram_hash(gram_col):
    """48-bit md5 prefix as a BIGINT — identical in Spark and DuckDB
    (xxhash64 is the faster drop-in when oracle parity isn't needed)."""
    return F.conv(F.substring(F.md5(gram_col), 1, 12), 16, 10).cast("long")


def positional_gram_hashes(documents: DataFrame,
                           n: int = DEFAULT_MIN_SPAN_WORDS) -> DataFrame:
    """(doc_id, i, h): hash of words[i .. i+n-1] (0-based start) for
    every position.  Docs shorter than n words emit no rows."""
    words = _tokens(F.col("text"))

    def per_words(w):
        return F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: _gram_hash(F.array_join(F.slice(w, i, n), " ")),
        )

    grams = F.when(
        F.size(words) >= n,
        F.element_at(F.transform(F.array(words), per_words), 1),
    ).otherwise(F.array().cast("array<bigint>"))
    return documents.select(
        "doc_id", F.posexplode(grams.alias("_")).alias("i", "h")
    )


def exact_substring_dedup(documents: DataFrame,
                          n: int = DEFAULT_MIN_SPAN_WORDS) -> DataFrame:
    """(doc_id, n_words, n_removed, clean_text): every word covered by a
    corpus-duplicated n-gram occurrence removed.

    The hash pass is a PREFILTER only: hash-dup candidate positions are
    re-verified on the gram STRINGS (a groupBy over just the candidate
    slice), so a 48-bit collision can never delete legitimate text — at
    10^12 positions the expected collision pairs (~10^9) would otherwise
    be bulk false deletions.  The verify shuffle carries only candidate
    grams: true duplicates + the vanishing collision sliver."""
    pos = positional_gram_hashes(documents, n)
    dup = pos.groupBy("h").agg(F.count("*").alias("c")) \
        .filter(F.col("c") >= 2).select("h")
    cand = pos.join(dup, "h").select("doc_id", "i")
    words_col = _tokens(F.col("text"))
    cand_grams = cand.join(
        documents.select("doc_id", words_col.alias("_w")), "doc_id"
    ).select(
        "doc_id", "i",
        F.array_join(F.slice("_w", F.col("i") + 1, n), " ").alias("_g"),
    )
    verified_grams = cand_grams.groupBy("_g") \
        .agg(F.count("*").alias("c")).filter(F.col("c") >= 2).select("_g")
    starts = cand_grams.join(verified_grams, "_g") \
        .groupBy("doc_id").agg(
            F.array_sort(F.collect_list("i")).alias("starts")
        )
    words = _tokens(F.col("text"))
    joined = documents.join(starts, "doc_id", "left").select(
        "doc_id",
        words.alias("_w"),
        F.coalesce("starts", F.array().cast("array<int>")).alias("_s"),
    )
    kept = F.filter(
        F.col("_w"),
        lambda w, i: ~F.exists(
            F.col("_s"), lambda s: (i >= s) & (i < s + n)
        ),
    )
    return joined.select(
        "doc_id",
        F.size("_w").cast("long").alias("n_words"),
        (F.size("_w") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )
