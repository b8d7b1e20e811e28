"""Text-analysis operators over a documents table — language-ID, quality
scoring, token counting, fingerprinting.  All Spark-native (JVM-side,
whole-stage codegen); no Python in the hot path.  Integer-scaled ratios
(floor(x*1000)) keep results bit-comparable against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# tiny deterministic stoplists for the n-gram/stopword language heuristic.
# LANG_PRIORITY fixes the argmax tie-break order; adding a language means
# appending here — operator and oracle both generate from these tables.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr": ("le", "la", "les", "et", "une", "est", "que", "pour", "dans", "vous"),
    "es": ("el", "los", "las", "y", "una", "es", "por", "como", "para", "del"),
    "it": ("il", "di", "che", "per", "con", "del", "sono", "non", "della", "gli"),
    "pt": ("não", "uma", "com", "por", "os", "mais", "como", "mas", "foi", "são"),
    "nl": ("het", "een", "van", "dat", "niet", "met", "voor", "zijn", "ook", "maar"),
    "pl": ("nie", "się", "jest", "na", "do", "jak", "ale", "czy", "tak", "przez"),
    "sv": ("och", "att", "det", "som", "på", "är", "av", "för", "inte", "har"),
    "tr": ("bir", "ve", "bu", "için", "ile", "olarak", "çok", "daha", "gibi", "ama"),
}

LANG_PRIORITY = ("en", "de", "fr", "es", "it", "pt", "nl", "pl", "sv", "tr")


def _hits(lang: str):
    stops = STOPWORDS[lang]
    return F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x.isin(*stops))
    )


def token_stats(documents: DataFrame) -> DataFrame:
    """Whitespace token count + char count + distinct-token ratio."""
    words = F.split(F.col("text"), " ")
    return documents.select(
        F.col("doc_id"),
        F.size(words).alias("token_cnt"),
        F.length("text").alias("char_cnt"),
        F.size(F.array_distinct(words)).alias("distinct_cnt"),
        F.floor(
            F.lit(1000) * F.size(F.array_distinct(words)) / F.size(words)
        ).cast("long").alias("uniq_ratio_x1000"),
    )


def language_guess_col():
    """The lang-guess as a single Column over hit counts recomputed
    inline (priority-ordered argmax, same tables as ``language_id``) —
    lets a pipeline tag languages with a map-only ``withColumn`` instead
    of a join against the ``language_id`` frame."""
    hits = {lang: _hits(lang) for lang in LANG_PRIORITY}
    guess = None
    for i, lang in enumerate(LANG_PRIORITY[:-1]):
        cond = None
        for other in LANG_PRIORITY[i + 1:]:
            c = hits[lang] >= hits[other]
            cond = c if cond is None else (cond & c)
        branch = (guess.when if guess is not None else F.when)
        guess = branch(cond, F.lit(lang))
    return guess.otherwise(F.lit(LANG_PRIORITY[-1]))


def language_id(documents: DataFrame) -> DataFrame:
    """Stopword-hit language guess over LANG_PRIORITY (deterministic
    argmax; ties break in priority order).  Generated from the tables so
    the operator and the DuckDB oracle can't drift."""
    df = documents.select(
        "doc_id",
        *[_hits(lang).alias(f"{lang}_hits") for lang in LANG_PRIORITY],
    )
    guess = None
    for i, lang in enumerate(LANG_PRIORITY[:-1]):
        cond = None
        for other in LANG_PRIORITY[i + 1:]:
            c = F.col(f"{lang}_hits") >= F.col(f"{other}_hits")
            cond = c if cond is None else (cond & c)
        branch = (guess.when if guess is not None else F.when)
        guess = branch(cond, F.lit(lang))
    guess = guess.otherwise(F.lit(LANG_PRIORITY[-1]))
    return df.withColumn("lang_guess", guess)


def quality_score(documents: DataFrame) -> DataFrame:
    """Length / stopword-ratio / uniqueness quality signals, integer-scaled."""
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    return documents.select(
        "doc_id",
        n.alias("token_cnt"),
        F.floor(F.lit(1000) * _hits("en") / n).cast("long").alias("stop_ratio_x1000"),
        F.floor(F.lit(1000) * F.size(F.array_distinct(words)) / n)
        .cast("long")
        .alias("uniq_ratio_x1000"),
        F.floor(F.length("text") / n).cast("long").alias("avg_token_len_x1"),
        (
            (n >= 20).cast("int")
            + (F.size(F.array_distinct(words)) * 1000 / n >= 300).cast("int")
        ).alias("quality_flags"),
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Deterministic document fingerprint (md5 hex of the text)."""
    return documents.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fingerprint")
    )


# GPT-2-ish pre-tokenizer approximation: contraction suffixes, letter runs,
# digit runs, punctuation runs.  Kept to constructs whose semantics agree
# between Java regex (Spark codegen) and RE2 (DuckDB) so the oracle is
# engine-independent.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s']+"


def bpe_token_stats(documents: DataFrame) -> DataFrame:
    """BPE-ish token counts alongside whitespace tokens: the LLM-pipeline
    sizing stat (whitespace undercounts punctuation-heavy text; real BPE
    needs the model's merges table — this regex is the standard
    pre-tokenizer approximation and stays whole-stage-codegen JVM-side)."""
    words = F.split(F.col("text"), " ")
    # F.regexp_count, not F.expr: SQL string literals eat the \s escape
    bpe = F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
    return documents.select(
        F.col("doc_id"),
        F.size(words).alias("ws_token_cnt"),
        bpe.cast("long").alias("bpe_ish_cnt"),
        F.floor(F.lit(1000) * bpe / F.size(words)).cast("long")
        .alias("bpe_per_ws_x1000"),
    )


def chunk_documents(documents: DataFrame, chunk_tokens: int = 200,
                    overlap_tokens: int = 20) -> DataFrame:
    """Token-bounded overlapping chunks — the training-data windowing op
    (one row per chunk).  Pure Catalyst one-to-many: split -> sequence of
    chunk starts -> explode -> slice -> join; no UDF, whole-stage codegen,
    and the explosion factor is ~n_tokens/stride so output size tracks
    input tokens, not rows.  Chunk i covers whitespace tokens
    [i*stride, i*stride + chunk_tokens) with stride =
    chunk_tokens - overlap_tokens; the last chunk may be short; documents
    shorter than one chunk yield exactly one chunk."""
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    starts = F.sequence(
        F.lit(0), F.floor((n - 1) / F.lit(stride)).cast("int")
    )
    chunked = documents.select(
        "doc_id", words.alias("_w"), n.alias("_n"),
        F.explode(starts).alias("chunk_idx"),
    ).filter(F.col("chunk_idx") * stride < F.col("_n"))
    piece = F.slice(
        F.col("_w"), F.col("chunk_idx") * stride + 1, chunk_tokens
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


# PII patterns constrained to constructs with identical semantics in Java
# regex (Spark codegen) and RE2 (DuckDB), so oracles are engine-independent
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"


def redact_pii(documents: DataFrame) -> DataFrame:
    """Email/phone redaction — the standard pretraining-corpus scrub.
    Pure Catalyst (regexp_replace / regexp_count), whole-stage codegen;
    at 100 TB this is a map-only pass fused into whatever scan feeds it."""
    text = F.col("text")
    emails = F.regexp_count(text, F.lit(EMAIL_PATTERN))
    phones = F.regexp_count(text, F.lit(PHONE_PATTERN))
    redacted = F.regexp_replace(
        F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>"),
        PHONE_PATTERN, "<PHONE>",
    )
    return documents.select(
        "doc_id",
        emails.cast("long").alias("n_emails"),
        phones.cast("long").alias("n_phones"),
        redacted.alias("redacted_text"),
    )


# --- published corpus-quality rule sets --------------------------------------------

# Gopher rules (Rae et al. 2021, "Scaling Language Models: ...Gopher",
# App. A1.1): word-count bounds, mean-word-length bounds, symbol-to-word
# ratio, bullet/ellipsis line ratios, alphabetic-word ratio, stopword
# presence.  Thresholds are the paper's.  All integer-scaled (x1000) and
# constrained to regex constructs with identical Java/RE2 semantics so the
# DuckDB oracle is engine-independent.
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(documents: DataFrame) -> DataFrame:
    """Per-document Gopher quality signals + the composite pass flag.
    Pure Catalyst: one map-only projection, whole-stage codegen."""
    text = F.col("text")
    words = F.split(text, " ")
    n = F.size(words)
    word_len_sum = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    mean_word_len_x1000 = F.floor(F.lit(1000) * word_len_sum / n).cast("long")
    symbols = F.regexp_count(text, F.lit(r"[#]|\.\.\."))
    symbol_ratio_x1000 = F.floor(F.lit(1000) * symbols / n).cast("long")
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(F.filter(lines, lambda l: l.startswith("- ")
                                   | l.startswith("* ") | l.startswith("• ")))
    bullet_ratio_x1000 = F.floor(F.lit(1000) * bullet_lines / n_lines).cast("long")
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.endswith("...")
                                     | l.endswith("…")))
    ellipsis_ratio_x1000 = (
        F.floor(F.lit(1000) * ellipsis_lines / n_lines).cast("long")
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio_x1000 = F.floor(F.lit(1000) * alpha_words / n).cast("long")
    stop_hits = F.size(F.filter(words, lambda w: w.isin(*GOPHER_STOPS)))
    gopher_pass = (
        (n >= 50) & (n <= 100_000)
        & (mean_word_len_x1000 >= 3000) & (mean_word_len_x1000 <= 10_000)
        & (symbol_ratio_x1000 < 100)
        & (bullet_ratio_x1000 <= 900)
        & (ellipsis_ratio_x1000 <= 300)
        & (alpha_ratio_x1000 >= 800)
        & (stop_hits >= 2)
    )
    return documents.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        mean_word_len_x1000.alias("mean_word_len_x1000"),
        symbol_ratio_x1000.alias("symbol_ratio_x1000"),
        bullet_ratio_x1000.alias("bullet_ratio_x1000"),
        ellipsis_ratio_x1000.alias("ellipsis_ratio_x1000"),
        alpha_ratio_x1000.alias("alpha_ratio_x1000"),
        stop_hits.cast("long").alias("stop_hits"),
        gopher_pass.alias("gopher_pass"),
    )


# C4 rules (Raffel et al. 2020, §2.2): keep lines ending in terminal
# punctuation with >= 3 words; drop pages containing code/boilerplate
# markers or too few surviving lines.
C4_PAGE_BLOCKLIST = ("lorem ipsum", "{", "javascript")
C4_MIN_KEPT_LINES = 3


def c4_line_filter(documents: DataFrame,
                   min_kept_lines: int = C4_MIN_KEPT_LINES) -> DataFrame:
    """C4-style line-level cleaning: one map-only pass producing the
    cleaned text plus audit counts.  Line keep rule = ends in . ! ? or "
    AND has >= 3 whitespace words; page keep rule = >= 
    min_kept_lines surviving lines and no blocklist marker anywhere."""
    lines = F.split(F.col("text"), "\n")
    kept = F.filter(
        lines,
        # \z, not $: Java's $ would also match before a trailing \r on
        # lines split out of CRLF text (Java treats \r as a terminator),
        # where the RE2 oracle's $ is absolute end-of-text — \z keeps the
        # two engines byte-agreed on CRLF corpora
        lambda l: l.rlike('[.!?"]\\z')
        & (F.size(F.split(l, " ")) >= 3),
    )
    lower = F.lower(F.col("text"))
    blocked = None
    for marker in C4_PAGE_BLOCKLIST:
        cond = lower.contains(marker)
        blocked = cond if blocked is None else (blocked | cond)
    return documents.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        F.array_join(kept, "\n").alias("clean_text"),
        ((F.size(kept) >= min_kept_lines) & ~blocked).alias("page_kept"),
    )


# ---------------------------------------------------------------------------
# Gopher repetition filters (Rae et al. 2021, App. A1.2): duplicate
# line/paragraph fractions, top n-gram character fraction (n=2..4) and
# duplicated n-gram character fraction (n=5..10).  These need a group-by
# WITHIN each document (count equal lines/grams per doc), which Catalyst
# higher-order functions can only express as an O(items^2) exists() scan —
# so this one operator is an Arrow-batched pandas pass: map-only, zero
# shuffles, O(words) per document, batch-bounded memory.  At 100 TB it is
# the same plan shape as the extraction kernel itself (one narrow
# mapInPandas stage; partition sizing via maxPartitionBytes applies).
#
# Deterministic, engine-exact definitions (mirrored by the DuckDB oracle):
#   words       = text split on [ \t\n\r]+ (ASCII whitespace only — Python
#                 re and RE2 agree on an explicit class; bare \s does not),
#                 empty tokens dropped
#   lines       = text split on \n, empty lines dropped
#   paragraphs  = text split on \n\n (non-overlapping left-to-right),
#                 empties dropped
#   dup_line_frac       = occurrences of any line appearing >= 2x / n_lines
#   dup_line_char_frac  = chars of those occurrences / chars of all lines
#   (paragraph twins identical)
#   top{n}_char_frac    = max over n-grams of count * len(gram) /
#                         len(' '.join(words)); gram = words joined by ' '
#                         (tie-robust: the max is over the products, not
#                         argmax-then-product)
#   dup{n}_char_frac    = chars of words covered by >= 1 occurrence of any
#                         n-gram appearing >= 2x / chars of all words
#                         (overlap counted once, per the paper)
# All fractions ship as floor(1000*x) BIGINTs for bit-exact comparison.
# Thresholds are the paper's Table A1 values; repetition_pass is the AND.

REPETITION_THRESHOLDS_X1000 = {
    "dup_line_frac_x1000": 300,
    "dup_para_frac_x1000": 300,
    "dup_line_char_x1000": 200,
    "dup_para_char_x1000": 200,
    "top2_char_x1000": 200,
    "top3_char_x1000": 180,
    "top4_char_x1000": 160,
    "dup5_char_x1000": 150,
    "dup6_char_x1000": 140,
    "dup7_char_x1000": 130,
    "dup8_char_x1000": 120,
    "dup9_char_x1000": 110,
    "dup10_char_x1000": 100,
}

_REP_COLS = list(REPETITION_THRESHOLDS_X1000)

# Semantic note (deviation from Gopher Table A1): top{n}_char counts the
# characters of OVERLAPPING occurrences of the most-frequent n-gram
# multiply (max over grams of count * len(gram) / join_len), so on
# degenerate runs like "a a a a" it can exceed 1000; the paper's
# statistic is a character fraction bounded by 1.  Both the Spark side
# and the DuckDB oracle compute the SAME statistic, and it is strictly
# >= the paper's (each covered position counted at least once), so the
# filter is slightly stricter than Gopher's — never more permissive.
# The dup{n}_char metrics already count each character position once.

REPETITION_SCHEMA = (
    ", ".join(f"{c} bigint" for c in _REP_COLS)
    + ", repetition_pass boolean"
)


def _dup_fracs(items):
    """(dup_count_frac_x1000, dup_char_frac_x1000) for a list of strings:
    occurrences of values appearing >= 2 times."""
    from collections import Counter

    if not items:
        return 0, 0
    counts = Counter(items)
    total_chars = sum(len(s) for s in items)
    dup_n = sum(c for c in counts.values() if c >= 2)
    dup_chars = sum(len(s) * c for s, c in counts.items() if c >= 2)
    frac = (1000 * dup_n) // len(items)
    cfrac = (1000 * dup_chars) // total_chars if total_chars else 0
    return frac, cfrac


def _repetition_row(text):
    import re
    from collections import Counter

    lines = [l for l in text.split("\n") if l]
    paras = [p for p in text.split("\n\n") if p]
    words = [w for w in re.split(r"[ \t\n\r]+", text) if w]
    out = {}
    out["dup_line_frac_x1000"], out["dup_line_char_x1000"] = _dup_fracs(lines)
    out["dup_para_frac_x1000"], out["dup_para_char_x1000"] = _dup_fracs(paras)
    word_lens = [len(w) for w in words]
    word_chars = sum(word_lens)
    join_len = word_chars + max(len(words) - 1, 0)
    for n in (2, 3, 4):
        key = f"top{n}_char_x1000"
        if len(words) < n or join_len == 0:
            out[key] = 0
            continue
        grams = Counter(
            " ".join(words[i:i + n]) for i in range(len(words) - n + 1)
        )
        top = max(cnt * len(g) for g, cnt in grams.items())
        out[key] = (1000 * top) // join_len
    for n in (5, 6, 7, 8, 9, 10):
        key = f"dup{n}_char_x1000"
        if len(words) < n or word_chars == 0:
            out[key] = 0
            continue
        grams = Counter(
            tuple(words[i:i + n]) for i in range(len(words) - n + 1)
        )
        covered = bytearray(len(words))
        for i in range(len(words) - n + 1):
            if grams[tuple(words[i:i + n])] >= 2:
                for j in range(i, i + n):
                    covered[j] = 1
        cov_chars = sum(l for l, c in zip(word_lens, covered) if c)
        out[key] = (1000 * cov_chars) // word_chars
    out["repetition_pass"] = all(
        out[c] <= t for c, t in REPETITION_THRESHOLDS_X1000.items()
    )
    return out


def gopher_repetition(documents: DataFrame,
                      carry: tuple[str, ...] = ()) -> DataFrame:
    """Per-document Gopher repetition signals + composite pass flag.
    One Arrow-batched mapInPandas stage over (doc_id, text) — no shuffle;
    the narrow projection is pushed to the scan.  ``carry`` threads extra
    input columns through the pass so a downstream filter needs no join
    (the composed pipeline uses this to stay shuffle-free)."""
    import pandas as pd

    carry = tuple(c for c in carry if c != "doc_id")
    # doc_id's type is derived from the input schema like the carry
    # columns (a corpus with string doc_ids must not fail in the Arrow
    # conversion just because the pipeline's ids happen to be xxhash64)
    id_type = documents.schema["doc_id"].dataType.simpleString()
    schema = f"doc_id {id_type}, " + REPETITION_SCHEMA + "".join(
        f", {c} {documents.schema[c].dataType.simpleString()}"
        for c in carry
    )

    def batches(it):
        for pdf in it:
            rows = [_repetition_row(t) for t in pdf["text"]]
            res = pd.DataFrame(rows)
            res.insert(0, "doc_id", pdf["doc_id"].values)
            for c in carry:
                res[c] = pdf[c].values
            yield res

    cols = ["doc_id", "text"] + [c for c in carry if c != "text"]
    return documents.select(*cols).mapInPandas(batches, schema)


# ---------------------------------------------------------------------------
# Mojibake repair (ftfy's core case, table-driven): UTF-8 bytes that were
# decoded as cp1252/latin-1 somewhere upstream ("Ã©" for "é", "â€™" for
# "’").  The fix is a chained literal replace over the ~30 sequences that
# cover the overwhelming majority of real-web mojibake — pure codegen,
# engine-exact (same replace() semantics in DuckDB), no UDF.  Longer
# sequences are ordered first so 3-byte fixes never get clipped by a
# 2-byte prefix fix.

def _mojibake_table() -> list[tuple[str, str]]:
    # PER-BYTE windows-1252 with latin-1 fallthrough for the five bytes
    # cp1252 leaves undefined (0x81 8D 8F 90 9D) — the WHATWG decoder
    # browsers actually use.  A whole-string cp1252 decode would RAISE on
    # those bytes and fall back to latin-1 for the entire sequence,
    # silently producing the wrong (never-seen-in-the-wild) mojibake for
    # '”', '—', '…' etc.
    def per_byte(raw: bytes) -> str:
        out = []
        for b in raw:
            bb = bytes([b])
            try:
                out.append(bb.decode("cp1252"))
            except UnicodeDecodeError:
                out.append(bb.decode("latin-1"))
        return "".join(out)

    chars = "éèêëàáâçüöäñßíóúîôûìòù€’‘“”–—…"
    pairs = [(per_byte(ch.encode("utf-8")), ch) for ch in chars]
    pairs.sort(key=lambda p: -len(p[0]))
    return pairs


MOJIBAKE_PAIRS = _mojibake_table()


def fix_mojibake(documents: DataFrame) -> DataFrame:
    """Append ``fixed_text`` (``text`` with mojibake repaired) and
    ``moji_changed``."""
    fixed = F.col("text")
    for moji, ch in MOJIBAKE_PAIRS:
        fixed = F.replace(fixed, F.lit(moji), F.lit(ch))
    return documents.withColumn("fixed_text", fixed).withColumn(
        "moji_changed", F.col("fixed_text") != F.col("text")
    )


def canonical_fingerprint(documents: DataFrame) -> DataFrame:
    """Dolma/C4-style canonicalized dedup key: lowercase, every run of
    non-[a-z0-9] characters collapsed to one space, trimmed, md5 —
    catches trivially-varied duplicates (case, punctuation, whitespace,
    smart quotes) that the byte-exact fingerprint misses.  Pure codegen.
    The collapse runs on the RAW text and lower() only ever sees the
    ASCII-only survivor: lowering first would let one-to-many case
    mappings (U+0130 'İ' -> 'i'+U+0307 on the JVM, a single codepoint in
    RE2-based engines) shift the run boundaries of the collapse and
    desync the hash between engines."""
    canon = F.lower(F.trim(
        F.regexp_replace(F.col("text"), "[^a-zA-Z0-9]+", " ")
    ))
    return documents.select(
        "doc_id", F.md5(canon.cast("binary")).alias("canon_fingerprint")
    )
