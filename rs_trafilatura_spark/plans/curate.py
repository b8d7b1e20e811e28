"""End-to-end training-data curation: the composition a 100 TB pretraining
pipeline actually runs over crawled pages.

    pages -> extraction kernel -> quality gate -> language gate ->
    exact dedup (fingerprint) -> near-dup marking (MinHash-LSH) -> corpus

Each stage is a narrow DataFrame transform; the only shuffles are the two
dedup aggregations, both on fixed-width keys (md5 fingerprint / LSH
buckets), never on document text.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..options import DEFAULT_OPTIONS, Options
from .job import run_extraction


def curate_pages(
    spark: SparkSession,
    pages: DataFrame,
    options: Options = DEFAULT_OPTIONS,
    min_quality: float = 0.5,
    min_chars: int = 200,
    languages: Optional[tuple[str, ...]] = None,
) -> DataFrame:
    """Return the curated corpus with a `drop_reason` column (null = kept);
    keeping rejects with reasons makes the pipeline auditable — at scale you
    write both partitions and diff counts per reason.

    Caching contract: the exact-dedup join-back reads the extracted frame
    twice, so this function persists it (pending-generation cache).  The
    cache is adopted — and later released — by the next
    ``mark_near_duplicates`` call, or freed via ``release_cache()``.  A
    SECOND ``curate_pages`` call releases the previous pending cache, so
    materialize (or finish with) one call's result before starting the
    next; an unmaterialized earlier result stays correct but recomputes
    the extraction kernel twice."""
    # empty languages tuple means "no language filter", same as None —
    # otherwise () would match nothing and drop every row
    languages = languages or None
    extracted = run_extraction(spark, pages, options)

    with_reason = extracted.withColumn(
        "drop_reason",
        F.when(F.col("stage") == "empty", F.lit("empty"))
        .when(F.length("content_text") < min_chars, F.lit("too_short"))
        .when(F.col("extraction_quality") < min_quality, F.lit("low_quality"))
        .when(
            F.lit(languages is not None)
            & ~F.coalesce(F.col("language"), F.lit("")).isin(
                *(languages or ("",))
            ),
            F.lit("language"),
        )
        .otherwise(F.lit(None).cast("string")),
    )

    # exact dedup: first KEPT url (min by sort) per fingerprint survives.
    # Rows already gated out sort last (gated flag leads the struct) so a
    # too_short/low_quality copy can never shadow the surviving good copy.
    #
    # Deliberately NOT a row_number window on fingerprint: a window sends
    # every copy of a hot fingerprint (a parked-domain page duplicated
    # 10^8 times at 100 TB) to ONE task with no partial aggregation and
    # no AQE remedy.  The groupBy-min(struct) collapses the hot key
    # map-side to one row per task before the shuffle, and the join-back
    # is an equi-join AQE's skew-join splitting can handle — the same
    # pattern operators/dedup.py uses for corpus-wide paragraph dedup.
    #
    # The join-back reads with_reason twice (winners aggregate + probe),
    # and with_reason is the full extraction output — so it is persisted
    # here and handed to the pipeline's cache generations below; without
    # it the kernel would run twice per materialization.
    #
    # url is the crawl identity and assumed unique per input row; two
    # rows with the SAME url and fingerprint both survive (upstream
    # revision dedup owns that case).
    while _PENDING_CACHE:
        _PENDING_CACHE.pop().unpersist()
    from pyspark import StorageLevel

    with_reason = with_reason.persist(StorageLevel.MEMORY_AND_DISK)
    _PENDING_CACHE.append(with_reason)
    # Narrow gate cache + EAGER population.  Two reasons, both measured
    # on the 100k corpus:
    #   1. A lazily-persisted frame does not protect against the gate's
    #      two branches racing: Spark schedules independent map stages
    #      concurrently, both find the cache unpopulated, and the kernel
    #      runs TWICE (~300 CPU-s each).  One count() populates the
    #      cache before any consumer plan executes.
    #   2. Projecting 3 gate columns out of the WIDE cache costs ~70
    #      CPU-s per pass (nested/text columns make the columnar decode
    #      expensive); the winners aggregate and the loser probe both
    #      need it, so they read this tiny dedicated cache instead.
    # The count() reads through the wide cache, so one job populates
    # BOTH caches with a single kernel run.
    #
    # The narrow frame is hash-REPARTITIONED by fingerprint before the
    # persist (one ~8 MB exchange at populate time): without it the
    # cache inherits the kernel's several-hundred scan-split partitions,
    # and every downstream consumer (winners aggregate map side, losers
    # probe side, plus their re-execution when the composed plan
    # materializes) pays a full-width task wave PLUS its own fingerprint
    # exchange — measured as three ~431-task stages shuffling the same
    # 8 MB.  Cached data keeps its partitioning, so the winners groupBy
    # and the narrow⋈winners join are exchange-free co-partitioned
    # reads — but only while the planner's required distribution for
    # them is satisfied by HashPartitioning(fingerprint,
    # defaultParallelism*2); a spark.sql.shuffle.partitions that the
    # planner enforces instead (or a join AQE does not plan) silently
    # brings the fingerprint exchange back: slower, same result.  The
    # explicit partition count is cluster-derived and AQE
    # does not coalesce user-specified repartitions; fingerprint skew is
    # capped map-side by the groupBy's partial aggregation, and the
    # probe side's hot-key risk is the same one the old fingerprint
    # exchange had.
    narrow = (
        with_reason.select("url", "fingerprint", "drop_reason")
        .repartition(spark.sparkContext.defaultParallelism * 2,
                     F.col("fingerprint"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _PENDING_CACHE.append(narrow)
    narrow.count()

    # r7 shape: decide losers on a NARROW projection, re-attach the small
    # loser set to the wide frame (guide §8: every shuffle but the last
    # moves a lightweight proxy).  The previous join-back joined winners
    # onto the FULL wide frame by fingerprint — a sort-merge join that
    # sorted every 10 KB row (content_html/markdown/spans) by hash, with
    # min(struct(...)) additionally forcing a SortAggregate (struct
    # aggregates cannot hash-agg); measured 815 CPU-s of the 100k-page
    # curation run.  Equivalences:
    #   - min(struct(gated, url)) == min(concat(gated ? '1' : '0', url))
    #     because the prefix char dominates the binary string order
    #     exactly like the struct's leading bool field, and the winner
    #     url is the suffix — and min(string) hash-aggregates with
    #     map-side partials.
    #   - a row is an exact_duplicate iff it is ungated, carries a
    #     non-null fingerprint, and its url differs from its group's
    #     winner url — the same row set the old _w.url != url predicate
    #     marked (left-join nulls compared to false there).
    # The loser set is duplicate pages only; AQE broadcasts it while it
    # is small and degrades to a url-keyed shuffle join otherwise — the
    # wide frame then shuffles ONCE by url, never sorted, which is also
    # the 100 TB shape (the old plan shuffled AND sorted it by
    # fingerprint unconditionally).
    winners = (
        narrow
        .filter(F.col("fingerprint").isNotNull())
        .groupBy("fingerprint")
        .agg(F.min(F.concat(
            F.when(F.col("drop_reason").isNotNull(), F.lit("1"))
            .otherwise(F.lit("0")),
            F.col("url"),
        )).alias("_wk"))
        .select("fingerprint", F.expr("substring(_wk, 2)").alias("_wurl"))
    )
    losers = (
        narrow.join(winners, "fingerprint")
        .filter(F.col("drop_reason").isNull()
                & (F.col("_wurl") != F.col("url")))
        .select("url")
        # url is the crawl identity and assumed unique, but the old
        # fingerprint join could never fan out a wide row even when that
        # assumption broke — keep that property: one loser row per url
        .distinct()
        .withColumn("_exact_dup", F.lit(True))
    )
    deduped = (
        with_reason.join(losers, "url", "left")
        .withColumn(
            "drop_reason",
            F.when(
                F.col("drop_reason").isNull() & F.col("_exact_dup"),
                F.lit("exact_duplicate"),
            ).otherwise(F.col("drop_reason")),
        )
        .select(*with_reason.columns)
    )

    return deduped


# Cache generations.  _PENDING_CACHE holds the with_reason frame the
# LAST curate_pages call persisted (its deduped output is usually not
# materialized yet); mark_near_duplicates ADOPTS it into _OWNED_CACHE at
# entry — releasing it there would force the kernel to run twice when
# the curated frame finally materializes.  _OWNED_CACHE holds the frames
# backing the last fully-composed pipeline: released on the next
# mark_near_duplicates call or explicitly via release_cache().
_PENDING_CACHE: list[DataFrame] = []
_OWNED_CACHE: list[DataFrame] = []


def release_cache() -> None:
    """Unpersist every frame the last curate_pages/mark_near_duplicates
    calls cached (no-op if the caller persisted its own input, or
    nothing is cached), plus the dedup tier's LSH feature cache.

    BLOCKING on purpose: this is the between-pipelines release, and the
    default async unpersist lets the next pipeline's kernel stage run
    while hundreds of MB of old cache blocks are still draining — the
    previous run's heap state then lands on the next run's first stages
    (the documented single-shot variance of back-to-back curation
    benches).  The mid-pipeline generation swaps stay async; only this
    explicit boundary waits."""
    from ..operators.dedup import _LSH_FEATURE_CACHE

    while _OWNED_CACHE:
        _OWNED_CACHE.pop().unpersist(blocking=True)
    while _PENDING_CACHE:
        _PENDING_CACHE.pop().unpersist(blocking=True)
    while _LSH_FEATURE_CACHE:
        _LSH_FEATURE_CACHE.pop().unpersist(blocking=True)


def mark_near_duplicates(curated: DataFrame,
                         jaccard_threshold_x1000: int = 800,
                         id_col=None,
                         method: str = "exact") -> DataFrame:
    """LSH near-dup pass over the KEPT rows: lower-id loser in each
    detected pair gets drop_reason=near_duplicate.  Candidates come
    from the band-bucket equi-join and are verified with EXACT shingle
    Jaccard (operators/dedup.py::lsh_near_dup_pairs), so cost scales with
    bucket collisions, not corpus^2, and the threshold is a real Jaccard
    bound, not a signature estimate.

    ``id_col``: optional Column mapping url -> 64-bit doc id (default
    xxhash64(url)).  Any deterministic injective-in-practice mapping
    works; an md5-prefix id makes the survivor choice reproducible in
    engines without xxhash64.

    ``method``: "exact" (default) verifies every candidate with exact
    shingle-set Jaccard — the correctness bar, but its cost is
    Σ|shingles| over surviving candidate pairs, which boilerplate-heavy
    corpora can inflate far beyond corpus size (PLANS.md §4f).
    "estimate" is the web-scale configuration: MinHashLSH semantics,
    thresholding the 64-hash signature estimate (sd ≈ 0.05), nothing
    heavier than signatures ever shuffles.  "clusters" resolves the
    exact-verified pair graph into connected components first and keeps
    exactly ONE document per component (the smallest id): on transitive
    chains/stars the pairwise loser rule and the cluster rule disagree —
    e.g. the star (1~3, 2~3) drops only 3 pairwise but 2 AND 3 by
    cluster — and cluster-survivor semantics is what published pipelines
    (Gopher, RefinedWeb) apply.

    Caching contract: the input feeds four plan branches, so it must be
    materialized or the extraction kernel runs 4-5x (observed; PLANS.md
    §4d).  If the caller already persisted (or checkpointed/wrote) the
    frame, it is used as-is and the caller keeps ownership.  Otherwise
    this function persists it and owns that cache; a second NARROW
    (doc_id, text) cache is always owned so the LSH passes stop
    re-decoding the wide frame.  All owned caches from the previous call
    are released at entry, and ``release_cache()`` frees the current
    ones — a long-lived session never accumulates caches.  At warehouse
    scale the same role is played by writing the extraction output table
    (and a narrow dedup staging table) before the dedup pass."""
    from ..operators.dedup import (
        lsh_candidate_pairs, lsh_near_dup_pairs, near_dup_clusters,
    )

    def _id(url_col):
        return (F.xxhash64(url_col) if id_col is None
                else id_col(url_col))

    from pyspark import StorageLevel

    # release the previous call's owned caches up front (covers the
    # caller-persisted-input branch too, where the wide frame is never
    # persisted here but the narrow docs cache below still is), then
    # ADOPT the with_reason cache the producing curate_pages call left
    # pending — it backs both sides of the exact-dedup join inside
    # `curated` and must outlive this pipeline's materialization
    while _OWNED_CACHE:
        _OWNED_CACHE.pop().unpersist()
    adopted = False
    while _PENDING_CACHE:
        _OWNED_CACHE.append(_PENDING_CACHE.pop())
        adopted = True
    # Persist the input ONLY when its lineage is not already backed by
    # the producing curate_pages' with_reason cache: `curated` is that
    # cache plus a cheap broadcast-join attach of the loser set, and
    # persisting it too re-serializes the full wide frame into a SECOND
    # columnar cache — measured ~350 CPU-s on the 100k corpus, more than
    # every consumer's re-derivation combined (the LSH pass projects two
    # columns; the final output join reads the wide rows once either
    # way).
    if not adopted and curated.storageLevel == StorageLevel.NONE:
        curated = curated.persist(StorageLevel.MEMORY_AND_DISK)
        _OWNED_CACHE.append(curated)

    kept = curated.filter(F.col("drop_reason").isNull())
    # No narrow (doc_id, text) cache anymore: since r7 the LSH operators
    # read their input text exactly ONCE (sig_shingle_udf/minhash via
    # lsh_features, which persists the narrow per-doc feature frame
    # itself), so a text cache here would add a full write+read of the
    # corpus text for a single consumer.  The one remaining text pass
    # projects (doc_id, text) straight out of the persisted wide frame.
    docs = kept.select(
        _id(F.col("url")).alias("doc_id"), F.col("content_text").alias("text")
    )
    if method == "exact":
        pairs = lsh_near_dup_pairs(docs, jaccard_threshold_x1000)
        losers = pairs.select(F.col("b_id").alias("_loser")).distinct()
    elif method == "estimate":
        # MinHashLSH semantics (the industry default at web scale):
        # threshold on the 64-hash signature estimate, never shipping
        # shingle sets — use when huge template-sharing documents make
        # the exact verify's Σ|shingles| volume the bottleneck
        pairs = lsh_candidate_pairs(docs, jaccard_threshold_x1000)
        losers = pairs.select(F.col("b_id").alias("_loser")).distinct()
    elif method == "clusters":
        # cluster-survivor semantics: every non-minimal member of a
        # connected component of the exact-verified pairs is a loser.
        # Same O(pairs) verify cost as "exact" plus the CC iterations
        # over the (tiny) edge list.
        losers = (
            near_dup_clusters(docs, jaccard_threshold_x1000)
            .filter(~F.col("keep"))
            .select(F.col("doc_id").alias("_loser"))
            .distinct()
        )
    else:
        raise ValueError(f"unknown method: {method!r}")
    return curated.join(
        losers,
        _id(curated["url"]) == losers["_loser"],
        "left",
    ).withColumn(
        "drop_reason",
        F.when(
            F.col("drop_reason").isNull() & F.col("_loser").isNotNull(),
            F.lit("near_duplicate"),
        ).otherwise(F.col("drop_reason")),
    ).drop("_loser")


def curation_report(curated: DataFrame) -> DataFrame:
    return (
        curated.groupBy(F.coalesce("drop_reason", F.lit("KEPT")).alias("outcome"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"))
    )
