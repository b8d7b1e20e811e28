"""The full pretraining-data pipeline as ONE composed plan:

    crawled pages
      -> URL rules (optional: blocklist/keywords/extensions, pre-parse)
      -> extraction kernel + quality/language gates + exact dedup
      -> near-dup resolution (pairs / clusters / estimate)
      -> Gopher repetition gate (optional, carry-through — joinless)
      -> corpus-wide paragraph dedup / exact substring dedup (optional)
      -> benchmark decontamination
      -> CCNet perplexity buckets / DSIR target selection (optional)
      -> per-host quota cap
      -> deterministic mixture downsampling
      -> fixed-length sequence assignment OR token-budget shards on disk

Every stage is an operator this repo already driver-oracles or
plan-gates individually; this module is the composition a user actually
schedules, with an auditable per-stage report (kept/dropped counts by
reason) instead of silent filtering.

Scale shape: stages communicate through narrow (id, text, host, source)
projections; the only shuffles are the ones each operator already owns
(LSH band join, CC rounds, quota salt-rank, prefix-sum bucket cumsum,
shard clustering) — composing them adds none.
"""

from __future__ import annotations

import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..options import DEFAULT_OPTIONS, Options
from .curate import curate_pages, mark_near_duplicates, release_cache


def pretraining_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    options: Options = DEFAULT_OPTIONS,
    *,
    benchmark: Optional[DataFrame] = None,
    decontam_n: int = 13,
    near_dup_method: str = "clusters",
    repetition_filter: bool = False,
    url_rules: bool = False,
    dedup_paragraphs: bool = False,
    dedup_substrings: bool = False,
    embeddings: Optional[DataFrame] = None,
    semdedup_threshold_x1000: int = 950,
    semdedup_cells: int = 16,
    ccnet_keep: Optional[tuple[str, ...]] = None,
    quality_model=None,
    quality_pareto_alpha: int = 9,
    dsir_target: Optional[DataFrame] = None,
    dsir_top_frac_x100: int = 50,
    min_quality: float = 0.5,
    min_chars: int = 200,
    languages: Optional[tuple[str, ...]] = None,
    max_pages_per_host: Optional[int] = None,
    mixture_alpha_x100: Optional[int] = None,
    seq_len: Optional[int] = None,
    shuffle_seed: Optional[int] = None,
    tokenizer_merges: Optional[list] = None,
    shard_budget_tokens: Optional[int] = None,
    shard_out_dir: Optional[str] = None,
    shard_format: str = "tsv",
    datasheet: bool = False,
    guess_language: bool = False,
    split_weights_x100: Optional[tuple] = None,
    on_stage=None,
) -> dict:
    """Run the composed pipeline; returns a dict with:

    - ``corpus``: the final (doc_id, url, host, text, n_tokens) frame
      (+ ``lang_guess`` when ``guess_language``, + ``split`` when
      ``split_weights_x100``),
    - ``report``: [(stage, n_rows)] audit counts, in order,
    - ``stage_seconds``: {stage: wall seconds} — each report count is a
      forced materialization, so the gap between counts IS that stage's
      cost (the first entry also carries Spark/session warmup),
    - ``quality_model`` (a fitted pipeline from
      ``operators.quality_classifier.train_quality_classifier``) enables
      the GPT-3 App. A classifier gate: score + deterministic Pareto
      keep rule (``quality_pareto_alpha``), audited like every stage,
    - ``n_tokens`` is a whitespace word count by default; pass
      ``tokenizer_merges`` (a trained BPE merge list from
      ``operators.tokenizer.bpe_train``) to bill documents in exact
      trained-tokenizer tokens instead — packing, shard budgets and the
      datasheet then all use real training tokens,
    - ``sequences``: pack_sequences assignment (when ``seq_len``; with
      ``split_weights_x100`` set, packed per split and carrying a
      ``split`` column — (split, seq_id) is then the key; with
      ``shuffle_seed`` set, sequences and shards pack in seeded-hash
      training order (operators.packing.shuffle_corpus) instead of
      doc-id order — reproducible order randomization per epoch seed),
    - ``shard_manifest``: written-shard manifest rows (when
      ``shard_out_dir``; requires ``shard_budget_tokens``; with splits,
      one sub-directory per split and a ``split`` field per row;
      ``shard_format`` picks the file framing — "tsv" or "jsonl"),
    - ``datasheet``: the release summary sheet (when ``datasheet=True``;
      includes a docs_per_split section when splits are assigned),
    - ``release``: zero-arg callable freeing every cache this run owns
      (the gate caches below + the curation cache) — call it when done
      with ``corpus``/``sequences``.

    Stages gated by None-able parameters are skipped entirely (no plan
    nodes added).  Each gate's narrow (doc_id, url, host, text) output is
    materialized through ``localCheckpoint(eager=True)`` before its audit
    count.  The checkpoint does two jobs at once: (a) downstream gates
    read materialized rows instead of recomputing gates 1..k-1 (which
    would include re-running the iterative CC rounds — an n-gate run
    would cost O(n^2) gate executions), and (b) it TRUNCATES the logical
    plan.  (b) is not optional: every gate self-joins the corpus against
    a frame derived from the corpus, so without truncation the logical
    plan doubles per gate and Catalyst analysis time goes exponential —
    measured on a fully-gated 2000-page run as 13 s -> 73 s -> 174 s of
    pure driver-side planning for three successive gates, with
    ``persist()`` alone (which caches data but keeps the logical plan)
    unable to stop it.  At warehouse scale the same slot is where each
    stage's output would be written to a table (same materialize +
    truncate effect, plus fault tolerance that localCheckpoint trades
    away)."""
    report: list[tuple[str, int]] = []
    stage_seconds: dict[str, float] = {}
    _t_last = time.time()

    def _gate(df: DataFrame) -> DataFrame:
        # eager: the checkpoint job runs here, so the stage's wall time
        # lands in its own _record window; storage is MEMORY_AND_DISK
        # and freed by the ContextCleaner once the frame is unreachable
        return df.localCheckpoint(eager=True)

    def _record(stage: str, n_rows: int) -> None:
        nonlocal _t_last
        report.append((stage, n_rows))
        now = time.time()
        stage_seconds[stage] = round(now - _t_last, 3)
        _t_last = now
        if on_stage is not None:
            on_stage(stage, n_rows, stage_seconds[stage])

    if url_rules:
        from ..operators.urlfilter import url_filter

        # cheapest gate in the pipeline: drop blocked urls BEFORE any
        # HTML byte is parsed (pure codegen map pass)
        audited = url_filter(pages)
        pages = audited.filter(F.col("url_ok")).select(*pages.columns)
        _record("after_url_rules", pages.count())

    curated = curate_pages(
        spark, pages, options,
        min_quality=min_quality, min_chars=min_chars, languages=languages,
    )
    marked = mark_near_duplicates(curated, method=near_dup_method)
    kept = marked.filter(F.col("drop_reason").isNull())
    # row-preserving narrowing of `kept`, so its count IS kept's count;
    # persisting the narrow frame (not `kept`) keeps the wide
    # content_html/markdown columns out of the gate caches
    corpus = _gate(kept.select(
        F.xxhash64("url").alias("doc_id"),
        "url",
        F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1).alias("host"),
        F.col("content_text").alias("text"),
    ))
    _record("after_curation_and_near_dup", corpus.count())

    if repetition_filter:
        from ..operators.textstats import gopher_repetition

        # carry= threads url/host/text through the Arrow pass so the
        # gate filters in place — no join, no shuffle added
        corpus = _gate(gopher_repetition(
            corpus, carry=("url", "host", "text")
        ).filter(F.col("repetition_pass")).select(
            "doc_id", "url", "host", "text"
        ))
        _record("after_repetition_filter", corpus.count())

    if dedup_paragraphs:
        from ..operators.dedup import paragraph_dedup

        pd_audit = paragraph_dedup(corpus).select("doc_id", "clean_text")
        corpus = _gate(
            corpus.join(pd_audit, "doc_id")
            .withColumn("text", F.col("clean_text"))
            .drop("clean_text")
            .filter(F.length("text") > 0)
        )
        _record("after_paragraph_dedup", corpus.count())

    if dedup_substrings:
        from ..operators.substring import exact_substring_dedup

        ss = exact_substring_dedup(corpus).select("doc_id", "clean_text")
        corpus = _gate(
            corpus.join(ss, "doc_id")
            .withColumn("text", F.col("clean_text"))
            .drop("clean_text")
            .filter(F.length("text") > 0)
        )
        _record("after_substring_dedup", corpus.count())

    if embeddings is not None:
        from ..operators.similarity import semdedup

        # SemDeDup semantic tier (Abbas et al. 2023): embeddings is
        # (doc_id, embedding) keyed by the pipeline's xxhash64(url)
        # doc_id.  Docs WITHOUT an embedding row cannot be judged and are
        # kept (anti-join against the dropped set, not a semi-join
        # against the kept set).
        dropped = semdedup(
            embeddings.select(F.col("doc_id").alias("vec_id"), "embedding"),
            n_cells=semdedup_cells,
            cos_threshold_x1000=semdedup_threshold_x1000,
        ).filter(~F.col("kept")).select(F.col("vec_id").alias("doc_id"))
        corpus = _gate(corpus.join(dropped, "doc_id", "left_anti"))
        _record("after_semantic_dedup", corpus.count())

    if benchmark is not None:
        from ..operators.decontaminate import mark_contaminated

        corpus = _gate(mark_contaminated(corpus, benchmark, n=decontam_n)
                       .filter(~F.col("contaminated")).drop("contaminated"))
        _record("after_decontamination", corpus.count())

    if ccnet_keep is not None:
        from ..operators.lm import ccnet_pipeline

        # exact-thirds configuration; at web scale fit the cutoffs on a
        # sample and use bucket_by_thresholds instead (operators/lm.py)
        buckets = ccnet_pipeline(corpus).select("doc_id", "bucket")
        corpus = _gate(corpus.join(
            buckets.filter(F.col("bucket").isin(*ccnet_keep))
            .select("doc_id"),
            "doc_id",
        ))
        _record("after_ccnet_buckets", corpus.count())

    if quality_model is not None:
        # GPT-3 App. A classifier gate: score (one map pass, model rides
        # the plan) then the deterministic Pareto keep rule — map-only,
        # no shuffle; gated like every stage so downstream gates read
        # materialized rows instead of re-running the transform
        from ..operators.quality_classifier import (
            pareto_quality_filter, score_quality,
        )

        corpus = _gate(pareto_quality_filter(
            score_quality(corpus, quality_model),
            key_col="url", alpha=quality_pareto_alpha,
        ).drop("quality_score"))
        _record("after_quality_classifier", corpus.count())

    if dsir_target is not None:
        from ..operators.dsir import (
            dsir_scores, hashed_bucket_counts, select_top_frac,
        )

        t_counts = hashed_bucket_counts(dsir_target)
        r_counts = hashed_bucket_counts(corpus)
        total = corpus.count()
        picked = select_top_frac(
            dsir_scores(corpus, t_counts, r_counts),
            frac_x100=dsir_top_frac_x100, total=total,
        ).filter(F.col("selected")).select("doc_id")
        corpus = _gate(corpus.join(picked, "doc_id"))
        _record("after_dsir_selection", corpus.count())

    if max_pages_per_host is not None:
        from ..operators.windows import capped_per_key

        capped = capped_per_key(corpus.select("doc_id", "host"),
                                "host", n=max_pages_per_host,
                                order_cols=("doc_id",))
        corpus = _gate(corpus.join(capped.select("doc_id"), "doc_id"))
        _record("after_host_quota", corpus.count())

    if mixture_alpha_x100 is not None:
        from ..operators.packing import downsample_to_mixture

        corpus = _gate(downsample_to_mixture(
            corpus.withColumn("source", F.col("host")),
            key="source", alpha_x100=mixture_alpha_x100,
        ).drop("source"))
        _record("after_mixture_downsample", corpus.count())

    if tokenizer_merges is not None:
        # exact token counts under a trained BPE merge list (one map-only
        # Arrow pass, operators/tokenizer.py) — packing/mixture math then
        # bills documents in real training tokens, not whitespace words
        from ..operators.tokenizer import bpe_encode

        corpus = bpe_encode(corpus, tokenizer_merges, count_col="n_tokens")
    else:
        corpus = corpus.withColumn(
            "n_tokens", F.size(F.split("text", " ")).cast("long")
        )

    if split_weights_x100 is not None:
        from ..operators.packing import split_corpus

        # leakage-safe train/val/test column, keyed on url so re-crawled
        # pages never migrate between splits across corpus versions
        corpus = split_corpus(corpus, weights_x100=split_weights_x100,
                              key_col="url")

    if guess_language:
        from ..operators.textstats import language_guess_col

        # map-only language tag (stopword argmax over the 10-language
        # table) — a Column expression, NOT a join against language_id's
        # frame, so the datasheet's by-language section costs no shuffle
        corpus = corpus.withColumn("lang_guess", language_guess_col())

    def _release() -> None:
        # gate checkpoints free themselves via the ContextCleaner when
        # unreferenced; the curation cache is the one explicit handle
        release_cache()

    out: dict = {"corpus": corpus, "report": report,
                 "stage_seconds": stage_seconds, "release": _release}

    if datasheet:
        from ..operators.datasheet import corpus_datasheet

        # the release summary a corpus version ships with (diffable
        # between runs); host stands in for source; language comes from
        # the guess_language pass when enabled, else records 'und'
        out["datasheet"] = corpus_datasheet(
            corpus, source_col="host",
            lang_col="lang_guess" if guess_language else None)
        if split_weights_x100 is not None:
            out["datasheet"] = out["datasheet"].unionByName(
                corpus.groupBy("split").agg(
                    F.count(F.lit(1)).cast("long").alias("value")
                ).select(F.lit("docs_per_split").alias("section"),
                         F.col("split").alias("key"), "value"))

    # With splits assigned, packing is PER SPLIT: a training sequence or
    # shard file must never contain eval text — mixing them would leak
    # the eval split into training batches, defeating the split.
    split_names = ([name for name, _ in split_weights_x100]
                   if split_weights_x100 is not None else None)

    # ``shuffle_seed`` randomizes training order before packing (dedup
    # leaves related documents adjacent in id order); the seeded hash
    # order is reproducible across runs and cluster sizes.  Applied to a
    # packing-local frame so out["corpus"]'s column contract is unchanged.
    pack_corpus = corpus
    pack_kw: dict = {}
    if shuffle_seed is not None:
        from ..operators.packing import (
            HASH_ORDER_BUCKET_WIDTH, shuffle_corpus,
        )

        pack_corpus = shuffle_corpus(corpus, seed=shuffle_seed)
        pack_kw = {"order_col": "shuffle_order",
                   "bucket_width": HASH_ORDER_BUCKET_WIDTH}

    if seq_len is not None:
        from ..operators.packing import pack_sequences

        if split_names is not None:
            parts = [
                pack_sequences(pack_corpus.filter(F.col("split") == s),
                               seq_len=seq_len, **pack_kw)
                .withColumn("split", F.lit(s))
                for s in split_names
            ]
            seqs = parts[0]
            for p in parts[1:]:
                seqs = seqs.unionByName(p)
            out["sequences"] = seqs  # (split, seq_id) is the key
        else:
            out["sequences"] = pack_sequences(pack_corpus, seq_len=seq_len,
                                              **pack_kw)

    if shard_out_dir is not None:
        if shard_budget_tokens is None:
            raise ValueError("shard_out_dir requires shard_budget_tokens")
        import os

        from ..operators.packing import pack_shards, write_shards

        if split_names is not None:
            # the splits are independent pack->write job chains: run them
            # from a small thread pool so one split's straggling write
            # tasks back-fill with the next split's pack stages (guide
            # §2.6).  pool.map preserves split order and collect()
            # preserves partition order, so the manifest list is
            # element-for-element identical to the old serial loop.
            from concurrent.futures import ThreadPoolExecutor

            def _write_split(s):
                packed = pack_shards(
                    pack_corpus.filter(F.col("split") == s),
                    budget_tokens=shard_budget_tokens, carry=("text",),
                    **pack_kw)
                return write_shards(
                    packed, os.path.join(shard_out_dir, f"split={s}"),
                    file_format=shard_format,
                ).withColumn("split", F.lit(s)).collect()

            manifest = []
            with ThreadPoolExecutor(max_workers=3) as pool:
                for rows in pool.map(_write_split, split_names):
                    manifest.extend(rows)
            out["shard_manifest"] = manifest
        else:
            packed = pack_shards(pack_corpus,
                                 budget_tokens=shard_budget_tokens,
                                 carry=("text",), **pack_kw)
            out["shard_manifest"] = write_shards(
                packed, shard_out_dir, file_format=shard_format).collect()
        _record("shards_written", len(out["shard_manifest"]))

    return out
