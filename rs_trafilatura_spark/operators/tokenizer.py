"""Tokenizer-training corpus statistics: distributed BPE primitives.

The expensive, corpus-sized parts of training a byte-pair-encoding
vocabulary (Sennrich et al. 2016, arXiv:1508.07909; the GPT-2 tokenizer
recipe) are (a) the word-frequency table and (b) the per-round adjacent
symbol-pair counts.  Both are plain shuffles here; the per-round merge
CHOICE is a single argmax row to the driver, and merge APPLICATION runs
over the (unique-words) vocabulary table, not the corpus.

Spark-first shapes:
- ``word_vocab``: split/explode + groupBy(word) — map-side combined, the
  only pass that touches corpus text.  At 100 TB this is the standard
  word-count shuffle (fixed-width (word, count) rows).
- ``char_pair_counts``: pure Catalyst — posexplode over character
  positions, no UDF; this is BPE round 1 exactly, and the SQL-mirrorable
  primitive the driver oracle pins.
- ``bpe_train``: k rounds of count-pairs -> argmax -> apply-merge, all
  pure Catalyst: the symbol table is a space-double-delimited string
  (' a  b  c '), pair counting splits it (|V| rows, corpus-independent)
  and application is a literal whole-symbol replace — no UDF anywhere in
  the loop.  One O(1) argmax row reaches the driver per round — the
  driver never sees the vocabulary itself.  (Production tokenizers train
  on a corpus sample; the point here is that nothing in the loop scales
  with corpus size once the vocab table exists.)
- ``bpe_train_local``: same merges, deployment execution split — one
  word-count shuffle, then the merge loop runs driver-side over the
  collected vocab.

Determinism: ties in pair counts break on the pair's string form
(count DESC, left ASC, right ASC) — fixed across engines and runs.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F

# mirrors word_vocab's ascii_only slice: filter on the RAW token, lower after
_ASCII_WORD_RE = re.compile(r"^[A-Za-z]+\Z")


def word_vocab(docs: DataFrame, ascii_only: bool = False) -> DataFrame:
    """(word, n) frequency table over the whitespace-split, lowercased
    words of ``text``.
    ``ascii_only`` keeps ^[A-Za-z]+$ words — filtered on the RAW token
    and lowered only afterwards, so lower() never sees one-to-many
    Unicode case mappings and both engines produce identical words (the
    same order-of-operations rule canonical_fingerprint uses).  This is
    the engine-exact slice the driver oracle pins; general Unicode word
    forms stay available to the trainer but are not oracle-pinned."""
    if ascii_only:
        words = (
            docs.select(
                F.explode(F.split(F.col("text"), " ")).alias("w")
            )
            # \z, not $: Java's $ matches before a trailing \n (so a
            # "word\n" token right before a "\n " sequence would slip
            # through) while RE2's $ is absolute end-of-text — \z makes
            # the Spark side agree with the DuckDB oracle and the Python
            # encoder's \Z on exactly such tokens
            .filter(F.col("w").rlike("^[A-Za-z]+\\z"))
            .select(F.lower(F.col("w")).alias("word"))
        )
    else:
        words = (
            docs.select(
                F.explode(
                    F.split(F.lower(F.col("text")), " ")
                ).alias("word")
            )
            .filter(F.col("word") != "")
        )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))


def char_pair_counts(vocab: DataFrame) -> DataFrame:
    """BPE round-1 pair statistics: adjacent CHARACTER pairs inside each
    word, weighted by word count.  Pure Catalyst (posexplode over
    substring positions) — no UDF, and exactly mirrorable in SQL."""
    return (
        vocab.filter(F.length("word") >= 2)
        .select(
            "n",
            F.explode(
                F.sequence(F.lit(1), F.length("word") - 1)
            ).alias("i"),
            F.col("word"),
        )
        .select(
            F.substring(F.col("word"), F.col("i"), 1).alias("left"),
            F.col("word").substr(F.col("i") + 1, F.lit(1)).alias("right"),
            "n",
        )
        .groupBy("left", "right")
        .agg(F.sum("n").alias("pair_n"))
    )


def _sym_pair_counts(symtab: DataFrame) -> DataFrame:
    """Adjacent SYMBOL pairs over (s: space-double-delimited symbol
    string ' a  b  c ', n) rows — the round >= 2 generalization of
    char_pair_counts (symbols may be multi-character after merges)."""
    syms = F.split(
        F.substring(F.col("s"), 2, F.length("s") - 2), "  "
    )
    return (
        symtab.select(syms.alias("syms"), "n")
        .filter(F.size("syms") >= 2)
        .select(
            "n",
            F.explode(
                F.arrays_zip(
                    F.slice("syms", 1, F.size("syms") - 1),
                    F.slice("syms", 2, F.size("syms") - 1),
                )
            ).alias("p"),
        )
        .select(F.col("p.0").alias("left"), F.col("p.1").alias("right"), "n")
        .groupBy("left", "right")
        .agg(F.sum("n").alias("pair_n"))
    )


def _apply_merge(symtab: DataFrame, left: str, right: str) -> DataFrame:
    """Replace every non-overlapping left-to-right (left, right) adjacency
    with the merged symbol — pure Catalyst: on the double-delimited form,
    literal replace(' l  r ', ' lr ') can only match whole adjacent
    symbols (both ends delimiter-anchored; the SQL oracle twin uses the
    identical trick with '|'), and str-replace IS non-overlapping
    left-to-right.  No UDF, no Arrow round-trip in the merge loop."""
    return symtab.withColumn(
        "s",
        F.replace(
            F.col("s"),
            F.lit(f" {left}  {right} "),
            F.lit(f" {left}{right} "),
        ),
    )


def bpe_train(docs: DataFrame, n_merges: int) -> list[tuple[str, str, int]]:
    """Train ``n_merges`` BPE merges over all words of ``text``; returns
    [(left, right, pair_n)] in merge order.  Tie-break: pair_n DESC, left
    ASC, right ASC."""
    vocab = word_vocab(docs)
    # double-delimited symbol string: each char wrapped in the delimiter,
    # 'abc' -> ' a  b  c '.  The delimiter is a SPACE, which provably
    # cannot occur inside any word in either mode (words come from
    # split(text, ' ')), so replace(' l  r ', ' lr ') can only ever match
    # whole adjacent symbols.
    symtab = vocab.select(
        F.regexp_replace(F.col("word"), "(.)", r" $1 ").alias("s"), "n"
    )
    # the vocab table is reused every round: materialize it once
    symtab = symtab.localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            _sym_pair_counts(symtab)
            .orderBy(F.desc("pair_n"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, pair_n = top[0]["left"], top[0]["right"], top[0]["pair_n"]
        merges.append((left, right, int(pair_n)))
        symtab = _apply_merge(symtab, left, right).localCheckpoint(eager=True)
    return merges


def bpe_train_local(docs: DataFrame, n_merges: int,
                    ascii_only: bool = False,
                    min_count: int = 0) -> list[tuple[str, str, int]]:
    """Same merges as ``bpe_train``, different execution split: ONE
    distributed word-count shuffle (the only corpus-sized pass), then the
    k-round merge loop runs driver-side over the collected |V|-row vocab.

    This is the shape a 100 TB deployment actually wants: the corpus pass
    is the standard word-count shuffle, while the merge loop touches only
    the vocabulary — |V| grows ~O(corpus^0.5) (Heaps' law) and a
    ``min_count`` floor bounds it hard, so collecting it is a bounded
    O(|V|) driver transfer, not a corpus collect.  ``bpe_train`` (2 Spark
    jobs per round) exists for vocabularies too large to collect;
    equality of the two is pinned by pytest.

    ``min_count`` drops words rarer than the floor BEFORE training
    (standard practice; hapaxes are mostly typos/noise and dominate |V|).
    """
    vocab = word_vocab(docs, ascii_only=ascii_only)
    if min_count > 1:
        vocab = vocab.filter(F.col("n") >= min_count)
    symfreq = [(tuple(r["word"]), r["n"]) for r in vocab.collect()]

    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict = {}
        for syms, n in symfreq:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        (left, right), pair_n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((left, right, pair_n))
        merged = left + right
        nxt = []
        for syms, n in symfreq:
            if left in syms:
                res, i, ln = [], 0, len(syms)
                while i < ln:
                    if (i + 1 < ln and syms[i] == left
                            and syms[i + 1] == right):
                        res.append(merged)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                nxt.append((tuple(res), n))
            else:
                nxt.append((syms, n))
        symfreq = nxt
    return merges


def _encode_word(word: str, merge_seq: list[tuple[str, str]],
                 cache: dict) -> list[str]:
    """Encode one word by applying the trained merges IN TRAINING ORDER,
    each as a non-overlapping left-to-right pass — byte-for-byte the same
    semantics as ``_apply_merge``, so encode(corpus) and the trainer's
    final symbol table always agree.  (GPT-2-style min-rank-first
    encoders can diverge when a later merge creates a new adjacency of an
    earlier pair; training-order application cannot, because training
    itself never revisits a finished merge.)"""
    hit = cache.get(word)
    if hit is not None:
        return hit
    syms = list(word)
    for left, right in merge_seq:
        if len(syms) < 2:
            break
        if left not in syms:
            continue
        merged = left + right
        res = []
        i = 0
        n = len(syms)
        while i < n:
            if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                res.append(merged)
                i += 2
            else:
                res.append(syms[i])
                i += 1
        syms = res
    cache[word] = syms
    return syms


def bpe_encode(docs: DataFrame, merges: list[tuple],
               ascii_only: bool = False, with_tokens: bool = False,
               count_col: str = "bpe_n_tokens") -> DataFrame:
    """Encode the ``text`` of every document under a trained merge list;
    adds an exact token count (and, with ``with_tokens``, the token
    sequence as ``bpe_tokens``) per document.

    100 TB shape: the merge list is O(vocab) and ships inside the UDF
    closure (broadcast-sized by construction); encoding is ONE map-only
    Arrow pass over the corpus — no shuffle, no join, and a per-batch
    unique-word cache means each distinct word is encoded once per batch
    (web text repeats words heavily, so the cache hit rate is the Zipf
    mass).  Word segmentation matches ``word_vocab`` exactly (whitespace
    split; ``ascii_only`` filters ^[A-Za-z]+$ on the raw token before
    lowering), so counts are consistent with what the vocab was trained
    on.  Token COUNTS feed pack_sequences/mixture math; sequences are
    only materialized when ``with_tokens`` (the shard writer's input)."""
    from pyspark.sql import types as T

    merge_seq = [(left, right) for left, right, *_ in merges]
    ascii_re = _ASCII_WORD_RE if ascii_only else None

    fields = list(docs.schema.fields) + [
        T.StructField(count_col, T.LongType()),
    ]
    if with_tokens:
        fields.append(T.StructField("bpe_tokens",
                                    T.ArrayType(T.StringType())))
    out_schema = T.StructType(fields)

    def encode_batches(it):
        # the cache lives for the whole task (all Arrow batches); a task
        # covers ~100s of MB of text at deployment split sizes, so cap it
        # — Zipf means the hot head does the work and a reset is cheap
        cache: dict = {}
        for pdf in it:
            if len(cache) > 2_000_000:
                cache.clear()
            counts = []
            seqs = [] if with_tokens else None
            for text in pdf["text"]:
                if text is None:
                    counts.append(0)
                    if with_tokens:
                        seqs.append([])
                    continue
                toks: list = []
                for w in text.split(" "):
                    if not w:
                        continue
                    if ascii_re is not None and not ascii_re.match(w):
                        continue
                    toks.extend(_encode_word(w.lower(), merge_seq, cache))
                counts.append(len(toks))
                if with_tokens:
                    seqs.append(toks)
            res = pdf.copy()
            res[count_col] = pd.array(counts, dtype="int64")
            if with_tokens:
                res["bpe_tokens"] = seqs
            yield res

    return docs.mapInPandas(encode_batches, schema=out_schema)
