"""Deduplication operators for a 100 TB training-data pipeline.

- exact dedup: hash-groupBy (one shuffle on the text hash, map-side partial)
- n-gram Jaccard pairs: bounded self-join within a grouping key
- MinHash + LSH: shingle -> minhash signature (vectorized numpy pandas UDF)
  -> band buckets -> bucket equi-join -> verified Jaccard.  The LSH join is
  the scale path: candidates are generated by an equi-join on (band, bucket)
  — never an all-pairs product.
- SimHash: 64-bit near-dup fingerprint with Hamming-ball grouping.

All hashing is constant-salted and process-independent (blake2b word ids,
splitmix64 slot mixes, md5 fingerprints), so results are deterministic
across executors — a requirement the reference's in-process LRU never had
to meet (SURVEY.md §2.12).
"""

from __future__ import annotations

import hashlib
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

# --- exact dedup -----------------------------------------------------------------


def dedup_exact(documents: DataFrame) -> DataFrame:
    """One row per distinct text: smallest doc_id kept + copy count.
    Shuffle key is xxhash64(text) — fixed-width, not the full text."""
    return (
        documents.groupBy(F.xxhash64("text").alias("_h"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


# --- n-gram Jaccard pairs ----------------------------------------------------------


def jaccard_on_pairs(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact word-set Jaccard for an explicit candidate pair list — the
    scale-safe contract: cost is O(|pairs|), independent of any group-key
    skew.  ``pairs`` carries (a_id, b_id) (e.g. from
    ``_lsh_banded_candidates`` / ``lsh_near_dup_pairs``); it is broadcast
    onto the corpus so document text never shuffles."""
    words = F.array_distinct(F.split(F.col("text"), " "))
    w = documents.select(F.col("doc_id"), words.alias("w"))
    # no broadcast hint: AQE broadcasts the pair list while it's small and
    # falls back to a shuffle join when a near-dup-heavy corpus makes it
    # big — a forced hint would OOM the driver in exactly that case
    joined = (
        w.join(pairs.select("a_id", "b_id"), w["doc_id"] == F.col("a_id"))
        .select("a_id", "b_id", F.col("w").alias("a_words"))
        .join(w.select(F.col("doc_id").alias("b_id"),
                       F.col("w").alias("b_words")), "b_id")
    )
    inter = F.size(F.array_intersect("a_words", "b_words"))
    union = F.size("a_words") + F.size("b_words") - inter
    return (
        joined.select(
            "a_id", "b_id",
            F.floor(F.lit(1000) * inter / union).cast("long")
            .alias("jac_x1000"),
        )
        # drops the pairs a null text gives a null score
        .filter(F.col("jac_x1000") >= 0)
    )


def ngram_jaccard_pairs(documents: DataFrame,
                        threshold_x1000: int = 100) -> DataFrame:
    """Exact word-set Jaccard, all pairs within one ``source``.

    QUADRATIC in the largest group: use only where group sizes are bounded
    (the oracle-comparison path).  On zipfian keys (hosts!) one giant group
    makes a straggler — at corpus scale generate candidates with MinHash-LSH
    and verify them with ``jaccard_on_pairs``, whose cost is O(|pairs|)
    regardless of skew."""
    words = F.array_distinct(F.split(F.col("text"), " "))
    a = documents.select(
        F.col("doc_id").alias("a_id"), F.col("source").alias("g"),
        words.alias("a_words"),
    )
    b = documents.select(
        F.col("doc_id").alias("b_id"), F.col("source").alias("g"),
        words.alias("b_words"),
    )
    inter = F.size(F.array_intersect("a_words", "b_words"))
    union = F.size("a_words") + F.size("b_words") - inter
    return (
        a.join(b, "g")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id", "b_id",
            F.floor(F.lit(1000) * inter / union).cast("long").alias("jac_x1000"),
        )
        .filter(F.col("jac_x1000") >= threshold_x1000)
    )


# --- MinHash + LSH -------------------------------------------------------------------

N_HASHES = 64
N_BANDS = 16  # 4 rows per band

# per-slot 64-bit salts + splitmix64 finalizer constants (public-domain
# values, Steele/Lea/Flood splitmix64)
_SLOT_SALT = np.array(
    [int.from_bytes(
        hashlib.blake2b(f"minhash-slot-{i}".encode(), digest_size=8).digest(),
        "big",
    ) for i in range(N_HASHES)],
    dtype=np.uint64,
)
_SM1 = np.uint64(0xBF58476D1CE4E5B9)
_SM2 = np.uint64(0x94D049BB133111EB)


def _sig_from_hashes(sh_signed: list[int]) -> list[int]:
    """64-slot MinHash signature from a document's 64-bit shingle hashes
    (the _shingle_hashes64 output): slot i applies the bijection
    splitmix64(shingle + salt_i) and takes the min.  Shared by
    _minhash_signature (signature only) and _sig_and_shingles (the
    one-pass path that also keeps the shingle set)."""
    h = np.asarray(sh_signed, dtype=np.int64).astype(np.uint64)
    v = h[None, :] + _SLOT_SALT[:, None]  # wrapping add, shape (64, n)
    v ^= v >> np.uint64(30)
    v *= _SM1
    v ^= v >> np.uint64(27)
    v *= _SM2
    v ^= v >> np.uint64(31)
    return [int(x) for x in v.min(axis=1).astype(np.int64)]


def _minhash_signature(text: str) -> list[int]:
    """64-slot MinHash over the SAME 64-bit shingle universe the exact
    verify uses (_shingle_hashes64): slot i applies the bijection
    splitmix64(shingle + salt_i) and takes the min.  A bijective
    avalanche per slot behaves as a random permutation of the shingle
    universe, so E[slot agreement] = Jaccard — the property every
    downstream consumer (banding recall, the tier-1 estimate prefilter,
    lsh_candidate_pairs' estimate mode) assumes.

    The previous family ((a*h + b) mod 2^61-1 over 32-bit crc32 shingle
    hashes, with a ~ 2^33 so a*h silently wrapped uint64) was NOT
    min-wise independent: over the 32-bit input range each "permutation"
    decomposed into ~a*2^32/2^61 ≈ 16 monotone segments, and the min of
    a piecewise-monotone map correlates with the raw shingle minimum.
    Measured effect at sf0.1: containment-style near-dup pairs at true
    J≈0.80 showed 37-38/64 agreeing slots (expected 51, -4σ), pushing
    TRUE pairs below the tier-1 estimate floor (593/578 < 600) — two
    planted near-duplicates escaped `mark_near_duplicates` while the
    exact oracle flagged them.  The splitmix64 family restores unbiased
    agreement, and sharing _shingle_hashes64 removes the separate crc32
    shingle universe (one fewer hash pass, word ids memoized)."""
    return _sig_from_hashes(_shingle_hashes64(text))


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_udf(texts: pd.Series) -> pd.Series:
    return texts.map(_minhash_signature)


def _shingle_strings(text: str) -> list[str]:
    """The 3-word shingles of ``text`` (the whole text if shorter)."""
    words = text.split()
    if len(words) < 3:
        return [" ".join(words)] if words else [""]
    return [" ".join(words[i:i + 3]) for i in range(len(words) - 2)]


# splitmix64/xxhash-style 64-bit mixing constants (public-domain values)
_MP1 = np.uint64(0x9E3779B185EBCA87)
_MP2 = np.uint64(0xC2B2AE3D27D4EB4F)
_MP3 = np.uint64(0x165667B19E3779F9)
_MP4 = np.uint64(0xFF51AFD7ED558CCD)


# word -> 64-bit blake2b id, memoized per worker process.  Web text is
# Zipfian, so the hit rate is high and the amortized per-word cost is one
# dict lookup (measured FASTER than two zlib.crc32 calls per word on a
# 44k-word doc: ~6 ms warm vs ~11 ms).  The cap bounds worker memory; a
# clear() only costs re-hashing, never correctness.
_WID_CACHE: dict[bytes, int] = {}
_WID_CACHE_MAX = 1 << 20


def _word_ids64(enc: list[bytes]) -> np.ndarray:
    cache = _WID_CACHE
    if len(cache) > _WID_CACHE_MAX:
        cache.clear()
    out = np.empty(len(enc), dtype=np.uint64)
    blake2b = hashlib.blake2b
    for i, b in enumerate(enc):
        v = cache.get(b)
        if v is None:
            v = int.from_bytes(blake2b(b, digest_size=8).digest(), "big")
            cache[b] = v
        out[i] = v
    return out


def _shingle_hashes64(text: str) -> list[int]:
    """Distinct 64-bit shingle hashes — a collision-safe stand-in for the
    shingle STRING set: Jaccard over these equals Jaccard over the strings
    up to a ~2^-64 per-pair collision probability.  Hashing in the UDF
    keeps the exact-verify join on fixed-width longs instead of an
    interpreted higher-order string expression (the Catalyst
    transform/element_at version measured ~6 ms/doc: HOFs don't codegen).

    Each WORD gets a full 64-bit blake2b digest (memoized per worker —
    see _word_ids64; an earlier two-crc32-streams variant was DROPPED
    because crc32(b, seed) == crc32(b) XOR f(seed, len(b)) makes the two
    32-bit halves affinely dependent per length class, capping word-id
    entropy at 32 bits), then every 3-word shingle hash is a numpy
    position-dependent multiply-xor mix with a splitmix64-style finalizer.
    Distinct word triples collide only via a 64-bit word-id collision or
    the mixed-output birthday bound, both ~2^-64-scale per pair.  Output
    is sorted-unique (the contract jaccard_x1000_udf's assume_unique
    relies on)."""
    words = text.split()
    if len(words) < 3:
        s = " ".join(words)
        h = int.from_bytes(
            hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "big"
        )
        return [h - (1 << 63)]  # signed for Spark LongType
    enc = [w.encode("utf-8") for w in words]
    wid = _word_ids64(enc)
    a, b, c = wid[:-2], wid[1:-1], wid[2:]
    bm = b * _MP2
    h = (a * _MP1) ^ (bm >> np.uint64(31)) ^ (bm << np.uint64(33)) ^ (c * _MP3)
    h ^= h >> np.uint64(33)
    h *= _MP4
    h ^= h >> np.uint64(29)
    return np.unique(h.astype(np.int64)).tolist()


_SIG_SHINGLE_SCHEMA = T.StructType([
    T.StructField("sig", T.ArrayType(T.LongType())),
    T.StructField("sh", T.ArrayType(T.LongType())),
])


@F.pandas_udf(_SIG_SHINGLE_SCHEMA)
def sig_shingle_udf(texts: pd.Series) -> pd.DataFrame:
    """MinHash signature AND shingle-hash set in ONE pass over the text.

    lsh_near_dup_pairs needs both, and the signature is derived from the
    shingle hashes anyway — running a signature UDF and a shingle-hash UDF
    as separate expressions tokenizes and hashes every document twice (and,
    fed into a self-join, up to four times across plan branches).  One
    struct-returning UDF halves the Python-side work before any caching
    even starts."""
    shs = [_shingle_hashes64(t) for t in texts]
    return pd.DataFrame(
        {"sig": [_sig_from_hashes(sh) for sh in shs], "sh": shs}
    )


# Last materialized LSH feature frame (one generation, drained on the
# next lsh_features call): the persist turns the 4-5 plan branches that
# read signatures/shingles into ONE text pass + narrow cached reads.
# Releasing the previous generation here (instead of relying on GC)
# bounds executor storage to one corpus' features.
_LSH_FEATURE_CACHE: list[DataFrame] = []


def lsh_features(documents: DataFrame,
                 include_shingles: bool = True) -> DataFrame:
    """(doc_id, sig[, sh, n_sh]) — the narrow per-document dedup features
    the LSH tiers consume, persisted (MEMORY_AND_DISK) and populated
    before it is returned: the band join, the estimate prefilter and the
    exact verify are separate plan branches, and without a persist each
    branch re-runs the tokenize+hash UDF over the corpus.  The previous
    call's frame is unpersisted first, so one generation is cached.

    ``include_shingles=False`` (the estimate path) persists ONLY the
    64-slot signature (~0.5 KB/doc): the shingle arrays are an order of
    magnitude bigger (~5 KB/doc of 64-bit hashes), and serializing them
    into the cache measured as a net LOSS for a consumer that never reads
    them.  At warehouse scale this frame is the signature staging TABLE a
    dedup job writes once per crawl; the persist is the single-job
    stand-in."""
    from pyspark import StorageLevel

    # The input often arrives in hundreds of small partitions (scan
    # splits / cache partitions); every pandas-UDF task pays a fixed
    # JVM<->Python boundary setup (~0.15 CPU-s measured), so coalesce —
    # no shuffle — to ~2 waves per core before the one UDF pass.
    spark = documents.sparkSession
    target = 2 * spark.sparkContext.defaultParallelism
    if documents.rdd.getNumPartitions() > target:
        documents = documents.coalesce(target)
    if include_shingles:
        feats = documents.select(
            "doc_id", sig_shingle_udf("text").alias("_f")
        ).select(
            "doc_id",
            F.col("_f.sig").alias("sig"),
            F.col("_f.sh").alias("sh"),
            F.size("_f.sh").alias("n_sh"),
        )
    else:
        feats = documents.select("doc_id", minhash_udf("text").alias("sig"))
    while _LSH_FEATURE_CACHE:
        _LSH_FEATURE_CACHE.pop().unpersist()
    feats = feats.persist(StorageLevel.MEMORY_AND_DISK)
    _LSH_FEATURE_CACHE.append(feats)
    # Populate EAGERLY: the band join's two sides are independent
    # subtrees of one query and Spark schedules their map stages
    # concurrently — with a lazily-persisted frame both sides find
    # the cache unpopulated and BOTH run the tokenize+hash UDF over
    # the corpus (measured as two near-identical ~75 CPU-s stages).
    # One cheap count() materializes the cache before any consumer
    # plan is even built.
    feats.count()
    return feats


@F.pandas_udf(T.LongType())
def jaccard_x1000_udf(a_sh: pd.Series, b_sh: pd.Series) -> pd.Series:
    """floor(1000 * |A∩B| / |A∪B|) over pre-hashed shingle sets
    (vectorized numpy intersection; inputs are the unique sorted arrays
    _shingle_hashes64 returns).  Exists because Catalyst's array_intersect
    measured ~4.5 ms per pair on ~600-element long arrays (interpreted,
    per-row hash set) — 134k verify pairs turned into a 600 CPU-second
    stage; numpy does the same intersection in ~30 µs."""
    out = np.empty(len(a_sh), dtype=np.int64)
    for i, (x, y) in enumerate(zip(a_sh, b_sh)):
        xa = np.asarray(x, dtype=np.int64)
        ya = np.asarray(y, dtype=np.int64)
        inter = np.intersect1d(xa, ya, assume_unique=True).size
        union = xa.size + ya.size - inter
        out[i] = (1000 * inter) // union if union else 0
    return pd.Series(out)


# Bump whenever the signature family changes (hash function, salts,
# N_HASHES): signatures are only comparable within one version, so a
# deployment persisting signature tables across crawls must key them by
# this and re-sign (or run a one-off transition dedup) on a bump.
# v2 = splitmix64 over 64-bit blake2b shingle hashes (r6);
# v1 = (a*h+b) mod 2^61-1 over crc32 shingles (r2-r5, biased — see
# _minhash_signature).
SIGNATURE_VERSION = 2


def minhash_signatures(documents: DataFrame) -> DataFrame:
    return documents.select("doc_id", minhash_udf("text").alias("sig"))


def _band_exprs():
    rows_per_band = N_HASHES // N_BANDS
    return [
        F.xxhash64(*[F.col("sig")[i] for i in
                     range(b * rows_per_band, (b + 1) * rows_per_band)])
        for b in range(N_BANDS)
    ]


def _lsh_banded_candidates(sigs: DataFrame,
                           carry_sigs: bool = True) -> DataFrame:
    """(a_id, b_id[, a_sig, b_sig]) candidates from the band-bucket
    equi-join: band bucket = hash of 4 consecutive signature slots; docs
    sharing any (band, bucket) are candidates — never an all-pairs product.
    ``carry_sigs=False`` keeps the join rows to 3 fixed-width columns (the
    shape to use when a later stage re-verifies against the corpus anyway —
    the shuffle then never carries the 64-slot arrays)."""
    carry = ["sig"] if carry_sigs else []
    bands = sigs.select(
        "doc_id", *carry,
        F.posexplode(F.array(*_band_exprs())).alias("band", "bucket"),
    )
    left = bands.select(
        F.col("doc_id").alias("a_id"),
        *[F.col("sig").alias("a_sig")] if carry_sigs else [],
        "band", "bucket",
    )
    right = bands.select(
        F.col("doc_id").alias("b_id"),
        *[F.col("sig").alias("b_sig")] if carry_sigs else [],
        "band", "bucket",
    )
    keep = ["a_id", "b_id"] + (["a_sig", "b_sig"] if carry_sigs else [])
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(*keep)
        .dropDuplicates(["a_id", "b_id"])
    )


def _est_jaccard_x1000(a_sig, b_sig):
    """MinHash Jaccard estimate x1000 of two signature columns:
    floor(1000 * agreeing slots / N_HASHES)."""
    agree = F.size(
        F.filter(
            F.zip_with(a_sig, b_sig, lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return F.floor(F.lit(1000) * agree / F.lit(N_HASHES))


def lsh_candidate_pairs(documents: DataFrame,
                        jaccard_threshold_x1000: int = 500) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified by signature agreement
    (cheap estimate; see ``lsh_near_dup_pairs`` for the exact-verify shape).

    Shape (r7): the signature table is computed once and persisted
    (lsh_features; the sh column prunes away under the columnar cache),
    candidates come from the sig-free band join (3 fixed-width columns
    through the pair shuffle instead of two 64-slot arrays), and the
    signatures join back onto the deduplicated pair list — the band join
    and dropDuplicates never carry the arrays."""
    feats = lsh_features(documents, include_shingles=False)
    cands = _lsh_banded_candidates(feats.select("doc_id", "sig"),
                                   carry_sigs=False)
    a_sig = feats.select(F.col("doc_id").alias("a_id"),
                         F.col("sig").alias("a_sig"))
    b_sig = feats.select(F.col("doc_id").alias("b_id"),
                         F.col("sig").alias("b_sig"))
    return (
        cands.join(a_sig, "a_id").join(b_sig, "b_id")
        .select(
            "a_id", "b_id",
            _est_jaccard_x1000("a_sig", "b_sig")
            .cast("long")
            .alias("est_jaccard_x1000"),
        )
        .filter(F.col("est_jaccard_x1000") >= jaccard_threshold_x1000)
    )


def shingle_set_expr(text_col, k: int = 3):
    """Distinct k-word shingles of a text column as a pure Catalyst
    expression (the same shingle universe the minhash UDF hashes, so
    exact shingle Jaccard is the ground truth LSH estimates).

    The words array is BOUND as a lambda variable (transform over a
    1-element array) so split() evaluates once per row: referencing the
    split expression inside the window lambda instead re-evaluates the
    full O(words) split per element access — measured as a hang
    (minutes) on 800-word texts at k=13, where the inline version costs
    O(words^2 * k) splits per row.  Each window is one slice+join."""
    words = F.split(text_col, " ")

    def per_words(w):
        n = F.size(w)
        window = F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(w, i, k), " "),
        )
        return F.when(n < k, F.array(F.array_join(w, " "))).otherwise(
            F.array_distinct(window)
        )

    return F.element_at(F.transform(F.array(words), per_words), 1)


def lsh_near_dup_pairs(documents: DataFrame,
                       threshold_x1000: int = 800) -> DataFrame:
    """Near-dup pairs with EXACT shingle-set Jaccard, LSH-prefiltered.

    The production dedup shape at 100 TB: candidates come from the MinHash
    band equi-join (cost tracks bucket collisions, not corpus^2), then each
    candidate pair is verified with exact 3-word-shingle Jaccard over
    64-bit shingle hashes (see _shingle_hashes64 for the collision
    argument).  The pair list joins back onto the corpus, so document text
    never shuffles; AQE broadcasts it while it's small and degrades to a
    shuffle join when a near-dup-heavy corpus makes it big (a forced
    broadcast hint would OOM the driver in exactly that case).  The
    tokenize+hash UDF runs ONE map-side corpus pass (sig_shingle_udf via
    lsh_features), persisted as the narrow (doc_id, sig, sh, n_sh) frame
    every tier joins against — the in-session stand-in for the signature
    staging table a warehouse-scale dedup job writes once per crawl.

    RECALL CONTRACT: the verify value is exact, but recall is bounded by
    two probabilistic stages.  (1) Banding: at Jaccard s the candidate
    miss probability is (1-s^4)^16 (~2e-4 at s=0.8, ~4e-8 at s=0.9);
    identical texts have identical signatures and are never missed.
    (2) The tier-1 signature-agreement cut at threshold-200 drops a TRUE
    pair sitting at the exact threshold with probability
    ~P(Binomial(64,s)/64 < s-0.2) ~ 2e-5 at s=0.8 — exact duplicates
    (est=1000) are never cut.  The remaining tiers (size-ratio necessary
    condition + exact verify) can never drop a pair that survived it.
    """
    # ONE tokenize+hash pass over the corpus (sig_shingle_udf), persisted
    # narrow: before r7 the signature and shingle UDFs were separate
    # expressions feeding 4-5 plan branches (band join sides, estimate
    # prefilter sides, verify sides), so every document was tokenized and
    # hashed up to four times.  All tiers below are joins against this one
    # cached (doc_id, sig, sh, n_sh) frame.
    feats = lsh_features(documents)
    sigs = feats.select("doc_id", "sig")
    cands = _lsh_banded_candidates(sigs, carry_sigs=False)

    # tier-1 verify: signature-agreement estimate over the candidate list.
    # On boilerplate-heavy corpora (real web pages sharing templates) the
    # band join emits MANY moderate-similarity false candidates — measured
    # 181k candidates for ~0 true pairs on a 100k-page extracted corpus,
    # and exact shingle verify at ~7 ms/pair turned that into a 1,200
    # CPU-second stage.  Miss probability for a TRUE pair at the exact
    # threshold s is P(Binomial(64, s)/64 < s - margin) ~ 2e-5 at s=0.8,
    # margin=0.2 (z = -4.1); exact duplicates have est = 1000 and are
    # never lost.  This stage (alone) makes recall < banding recall — see
    # the RECALL CONTRACT in the docstring.
    #
    # tier-1.5 (same join): size-ratio necessary condition.  J(A,B) >= t
    # forces min(|A|,|B|)/max(|A|,|B|) >= t (|A∩B| <= min, |A∪B| >= max).
    # Exact: can never drop a true pair.  Both tiers read the SAME two
    # feature joins (sig + n_sh are fixed-width columns of the cached
    # frame), so folding them into one join halves the prefilter joins.
    a_f = feats.select(F.col("doc_id").alias("a_id"),
                       F.col("sig").alias("a_sig"),
                       F.col("n_sh").alias("_na"))
    b_f = feats.select(F.col("doc_id").alias("b_id"),
                       F.col("sig").alias("b_sig"),
                       F.col("n_sh").alias("_nb"))
    est_floor = max(0, threshold_x1000 - 200)
    prefiltered = (
        cands.join(a_f, "a_id").join(b_f, "b_id")
        .filter(_est_jaccard_x1000("a_sig", "b_sig") >= est_floor)
        .filter(F.least("_na", "_nb") * 1000
                >= F.greatest("_na", "_nb") * threshold_x1000)
        .select("a_id", "b_id")
    )

    # tier-2: exact shingle verify on the survivors only; AQE broadcasts
    # the (now small) pair list so the shingle table never shuffles.
    # This stage's cost is Σ(|A|+|B|) over surviving pairs — on corpora
    # where huge template-sharing documents dominate the candidate list
    # even the filtered volume is GBs; for those, the documented scale
    # path is the signature-estimate pairs (lsh_candidate_pairs /
    # mark_near_duplicates(method="estimate"), the industry-standard
    # MinHashLSH semantics with ±0.05-sd estimates from 64 hashes).
    sh = feats.select("doc_id", "sh")
    joined = (
        sh.join(prefiltered, sh["doc_id"] == prefiltered["a_id"])
        .select("a_id", "b_id", F.col("sh").alias("a_sh"))
        .join(sh.select(F.col("doc_id").alias("b_id"),
                        F.col("sh").alias("b_sh")), "b_id")
    )
    return (
        joined.select(
            "a_id", "b_id",
            jaccard_x1000_udf("a_sh", "b_sh").alias("jac_x1000"),
        )
        .filter(F.col("jac_x1000") >= threshold_x1000)
    )


# --- SimHash -------------------------------------------------------------------------------


# word -> ±1 bit-vector for simhash, memoized per worker (same Zipfian
# argument as _WID_CACHE); the md5 and unpackbits run once per DISTINCT
# word per process instead of once per token
_SH_CACHE: dict[str, np.ndarray] = {}
_SH_CACHE_MAX = 1 << 18


def _simhash64(text: str) -> int:
    cache = _SH_CACHE
    if len(cache) > _SH_CACHE_MAX:
        cache.clear()
    counts = Counter(text.split())
    acc = np.zeros(64, dtype=np.int64)
    for w, c in counts.items():
        v = cache.get(w)
        if v is None:
            h = int.from_bytes(hashlib.md5(w.encode("utf-8")).digest()[:8],
                               "big")
            v = np.unpackbits(
                np.frombuffer(h.to_bytes(8, "big"), dtype=np.uint8)
            ).astype(np.int64) * 2 - 1
            cache[w] = v
        acc += v * c if c > 1 else v
    out = 0
    for i, v in enumerate(acc):
        if v > 0:
            out |= 1 << (63 - i)
    return out - (1 << 63)  # signed 64-bit for Spark LongType


@F.pandas_udf(T.LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    return texts.map(_simhash64)


def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    return documents.select("doc_id", simhash_udf("text").alias("simhash"))


def simhash_near_dups(documents: DataFrame, hamming_threshold: int = 3,
                      n_bands: int = 4) -> DataFrame:
    """Multi-band SimHash near-dups with GUARANTEED recall.

    The 64-bit fingerprint splits into ``n_bands`` equal bands; a pair
    within Hamming distance <= n_bands-1 must agree exactly on at least one
    band (pigeonhole), so the union of the band equi-joins misses nothing at
    the threshold — no all-pairs product, no probabilistic recall.  Exact
    bit_count(xor) then filters band collisions.  For Hamming <= k at scale
    run k+1 bands (Manku et al., WWW'07 block-permuted simhash).
    """
    if hamming_threshold > n_bands - 1:
        raise ValueError(
            f"hamming_threshold={hamming_threshold} needs at least "
            f"{hamming_threshold + 1} bands for guaranteed recall"
        )
    band_width = 64 // n_bands
    mask = (1 << band_width) - 1
    fp = simhash_fingerprints(documents)
    banded = fp.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned("simhash", b * band_width)
            .bitwiseAND(F.lit(mask))
            for b in range(n_bands)
        ])).alias("band", "key"),
    )
    a = banded.select(F.col("doc_id").alias("a_id"),
                      F.col("simhash").alias("a_fp"), "band", "key")
    b = banded.select(F.col("doc_id").alias("b_id"),
                      F.col("simhash").alias("b_fp"), "band", "key")
    hamming = F.bit_count(F.expr("a_fp ^ b_fp"))
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", hamming.cast("long").alias("hamming"))
        .dropDuplicates(["a_id", "b_id"])
        .filter(F.col("hamming") <= hamming_threshold)
    )


# --- connected components (near-dup cluster resolution) ----------------------------


def connected_components(pairs: DataFrame,
                         max_rounds: int = 50) -> DataFrame:
    """Resolve an undirected pair list (a_id, b_id) into connected
    components: one row per node, labeled with the smallest node id in its
    component.

    LSH/SimHash emit PAIRS; corpus dedup needs transitive CLUSTERS (a~b,
    b~c => keep one of {a,b,c}).  This is the alternating large-star /
    small-star algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): O(log^2 n) rounds worst case, 2 on
    star-like near-dup graphs.  Every round is two groupBy+join passes over
    fixed-width (long, long) edges — no adjacency lists are ever
    materialized (a `collect_list` of neighbors would recreate the skew
    problem for viral near-dup clusters), no driver-side graph.  Each round
    ends in localCheckpoint to sever the iterative lineage (without it the
    plan doubles every round and the 10th round recompiles a 2^10-node
    DAG).  Convergence is detected from an O(1) (count, xor-of-hashes)
    aggregate.

    Returns (node, component) for every node that appears in ``pairs``;
    singleton documents never enter the pair list and are their own
    implicit component.
    """
    edges = (
        pairs.select(F.col("a_id").cast("long").alias("u"),
                     F.col("b_id").cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _signature(e: DataFrame):
        row = e.agg(
            F.count("*").alias("n"),
            # xor-fold is order-insensitive and cannot overflow: a true
            # set signature with map-side partial aggregation
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).first()
        return (row["n"], row["h"])

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        out = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v"))
        )
        return out.select(F.least("u", "v").alias("u"),
                          F.greatest("u", "v").alias("v")).distinct()

    def _small_star(e: DataFrame) -> DataFrame:
        # canonical edges already have u < v: group by the LARGER endpoint
        d = e.select(F.col("v").alias("h"), F.col("u").alias("s"))
        m = d.groupBy("h").agg(F.min("s").alias("m"))
        link_small = (
            d.join(m, "h")
            .filter(F.col("s") != F.col("m"))
            .select(F.col("m").alias("u"), F.col("s").alias("v"))
        )
        link_center = m.select(F.col("m").alias("u"), F.col("h").alias("v"))
        out = link_small.union(link_center)
        return out.select(F.least("u", "v").alias("u"),
                          F.greatest("u", "v").alias("v")).distinct()

    sig = _signature(edges)
    converged = False
    for _ in range(max_rounds):
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        nsig = _signature(nxt)
        edges, prev_sig, sig = nxt, sig, nsig
        if nsig == prev_sig:
            converged = True
            break
    if not converged:
        # a non-star edge set read as (component, member) pairs would be
        # SILENTLY WRONG labels — refuse instead.  Paths contract ~2x per
        # round, so 50 rounds cover chains past 2^50 nodes; hitting this
        # means an adversarial graph shape, not a tuning problem.
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} "
            "rounds; raise max_rounds"
        )

    # converged: edges are depth-1 stars (component_min, member)
    members = edges.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return members.union(roots).distinct()


def near_dup_clusters(documents: DataFrame,
                      threshold_x1000: int = 800) -> DataFrame:
    """End-to-end near-dup cluster resolution: LSH-verified pairs ->
    connected components -> canonical survivor (smallest doc_id per
    cluster).  One row per document that belongs to a multi-member
    near-dup cluster: (doc_id, cluster_id, keep).  A curation pipeline
    drops the rows with keep = false; documents outside any cluster never
    appear (they are trivially kept).  Edge recall inherits
    lsh_near_dup_pairs' RECALL CONTRACT (banding ~(1-s^4)^16 + tier-1
    estimate ~2e-5 per-pair misses near the threshold); a missed edge can
    split a cluster only if it was that cluster's lone bridge."""
    pairs = lsh_near_dup_pairs(documents, threshold_x1000=threshold_x1000)
    cc = connected_components(pairs)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("keep"),
    )


# --- corpus-wide paragraph dedup (Dolma / RefinedWeb style) ------------------------


def paragraph_dedup(documents: DataFrame) -> DataFrame:
    """Remove duplicate paragraphs across the whole corpus, keeping only
    the canonical first occurrence (smallest (doc_id, position)) of each
    distinct paragraph — the Dolma/RefinedWeb recipe for boilerplate
    that survives page-level dedup (nav blurbs, footers, disclaimers
    repeated across a site).

    Paragraphs = ``split(text, '\\n\\n')``.  Empty paragraphs (after
    strip) are never deduped: they are structural (separators) and would
    otherwise form a giant skew key.

    Returns (doc_id, n_paras, n_kept, clean_text) with paragraphs
    re-joined by '\\n\\n' in original order.

    Scale shape: canonical selection is a groupBy on md5(paragraph) with
    a map-side-combined min(struct) — only (hash, doc_id, idx) ever
    shuffles there, and the hot key (a paragraph repeated 10^9 times)
    collapses per-task before the exchange, which is why this is NOT a
    row_number window over the hash (a window would send every instance
    of the hot key to one task).  The join back is a fixed-width
    equi-join on the hash; paragraph text crosses exactly two exchanges
    (join + per-doc reassembly)."""
    paras = documents.select(
        "doc_id",
        F.posexplode(F.split("text", "\n\n")).alias("idx", "para"),
    ).withColumn("_triv", F.length(F.trim("para")) == 0) \
     .withColumn("_h", F.md5("para"))
    canon = (
        paras.filter(~F.col("_triv"))
        .groupBy("_h")
        .agg(F.min(F.struct("doc_id", "idx")).alias("first"))
    )
    # trivial rows stay OUT of the _h join entirely: they all share
    # md5('')-ish hot hashes, and routing them through the equi-join
    # would reintroduce exactly the one-task straggler the canonical
    # groupBy was shaped to avoid — union them back afterwards instead
    kept_nontriv = paras.filter(~F.col("_triv")).join(canon, "_h").filter(
        (F.col("first.doc_id") == F.col("doc_id"))
        & (F.col("first.idx") == F.col("idx"))
    ).select("doc_id", "idx", "para")
    kept = kept_nontriv.unionByName(
        paras.filter(F.col("_triv")).select("doc_id", "idx", "para")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "para"))),
                lambda s: s.para,
            ),
            "\n\n",
        ).alias("clean_text"),
    )
    totals = documents.select(
        "doc_id", F.size(F.split("text", "\n\n")).cast("long")
        .alias("n_paras"),
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id", "n_paras",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )
