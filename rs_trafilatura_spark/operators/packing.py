"""Training-shard packing: assign documents to fixed-token-budget output
shards in a deterministic global order.

The training-data endgame of the pipeline (SURVEY.md §2 "LLM-data
operators"): after curation, documents are written out as shards of
~budget tokens each so downstream tokenization/packing jobs read
uniformly-sized inputs.  Shard assignment needs a GLOBAL running token
total — the textbook scale trap, because a single `Window.orderBy(...)`
with no partition key collapses the whole corpus onto one task.

This implementation is a distributed prefix sum instead:

1. bucket documents by range of the order key (`floor(order / width)`),
2. aggregate per-bucket token totals — one map-side-combined shuffle of
   (bucket, sum) pairs,
3. collect ONLY the bucket totals to the driver (O(n / width) rows — with
   width 2^20 a 10^12-document corpus collects ~10^6 longs), compute the
   exclusive running offsets, broadcast them back,
4. a within-bucket window cumsum (partitioned — parallel) plus the
   broadcast offset gives the exact global running total.

shard_id = floor((global_cum - n_tokens) / budget): a document belongs to
the shard where its first token lands; shard boundaries may straddle a
document, which matches greedy concat-and-chunk training pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.window import Window

SHARD_MANIFEST_SCHEMA = T.StructType([
    T.StructField("shard_id", T.LongType()),
    T.StructField("file", T.StringType()),
    T.StructField("n_docs", T.LongType()),
    T.StructField("shard_tokens", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("content_md5", T.StringType()),
])


def _global_token_start(documents: DataFrame, order_col: str,
                        bucket_width: int, carry: tuple = ()) -> DataFrame:
    """(doc_id, n_tokens, _start[, *carry]): each doc's exclusive global
    running-token offset in ``order_col`` order, via the distributed
    prefix sum (bucketed cumsum + O(n/width) driver offsets broadcast
    back — never a global single-task window).  Shared engine of
    pack_shards / pack_sequences.

    Token currency: an existing ``n_tokens`` column is honored (e.g. the
    pipeline's exact trained-BPE counts); otherwise whitespace word
    counts are derived from ``text``."""
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    spark = documents.sparkSession
    n_tok = (F.col("n_tokens").cast("long")
             if "n_tokens" in documents.columns
             else F.size(F.split(F.col("text"), " ")).cast("long"))
    toks = documents.select(
        F.col(order_col).alias("_ord"),
        F.col("doc_id"),
        n_tok.alias("n_tokens"),
        F.floor(F.col(order_col) / bucket_width).alias("_bucket"),
        *[F.col(c) for c in carry],
    )
    totals = sorted(
        toks.groupBy("_bucket").agg(F.sum("n_tokens").alias("_t")).collect()
    )
    offsets, running = [], 0
    for row in totals:
        offsets.append((row["_bucket"], running))
        running += row["_t"]
    off_df = spark.createDataFrame(offsets, ["_bucket", "_offset"])
    w = (
        Window.partitionBy("_bucket")
        .orderBy("_ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.col("_offset") + F.sum("n_tokens").over(w)
             - F.col("n_tokens"))
    return (
        toks.join(F.broadcast(off_df), "_bucket")
        .select("doc_id", "n_tokens", start.alias("_start"), *carry)
    )


def pack_shards(documents: DataFrame, budget_tokens: int = 2000,
                order_col: str = "doc_id",
                bucket_width: int = 1 << 20,
                carry: tuple = ()) -> DataFrame:
    """(doc_id, n_tokens, shard_id[, *carry]) for every document;
    deterministic in ``order_col``.  Token count = whitespace tokens
    (swap in ``bpe_token_stats``'s regex for BPE-ish budgets).

    ``carry``: extra columns to thread through the assignment (e.g.
    ``("text",)`` for a downstream ``write_shards``).  Carrying rides
    the ONE within-bucket window shuffle; re-joining the payload onto
    the assignment afterwards would instead be a big-big join (two more
    wide shuffles) at corpus scale."""
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    starts = _global_token_start(documents, order_col, bucket_width, carry)
    return starts.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("_start") / budget_tokens).cast("long")
        .alias("shard_id"),
        *carry,
    )


def pack_sequences(documents: DataFrame, seq_len: int = 2048,
                   order_col: str = "doc_id",
                   bucket_width: int = 1 << 20) -> DataFrame:
    """Greedy concat-and-chunk into FIXED-LENGTH training sequences: all
    documents are conceptually concatenated in ``order_col`` order and
    cut every ``seq_len`` tokens (the packing most LM training stacks
    apply after curation; sequence boundaries may split a document).

    Returns one row per (document, sequence) overlap — the assignment
    metadata a tokenizer job needs to materialize the windows:
      (seq_id, doc_id, doc_off, seq_off, n_tokens)
    where the doc's tokens [doc_off, doc_off+n_tokens) land at
    [seq_off, seq_off+n_tokens) inside sequence ``seq_id``.  Summing
    n_tokens per seq_id gives exactly seq_len for every full sequence.

    Same distributed prefix sum as ``pack_shards``; the per-doc explode
    is ceil(n_tokens/seq_len)+1 rows, map-only."""
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    with_start = _global_token_start(
        documents, order_col, bucket_width
    ).filter(F.col("n_tokens") > 0)
    first_seq = F.floor(F.col("_start") / seq_len)
    last_seq = F.floor((F.col("_start") + F.col("n_tokens") - 1) / seq_len)
    seq = F.explode(F.sequence(first_seq, last_seq)).alias("seq_id")
    out = with_start.select("doc_id", "n_tokens", "_start", seq)
    piece_start = F.greatest(F.col("_start"), F.col("seq_id") * seq_len)
    piece_end = F.least(F.col("_start") + F.col("n_tokens"),
                        (F.col("seq_id") + 1) * seq_len)
    return out.select(
        F.col("seq_id").cast("long"),
        "doc_id",
        (piece_start - F.col("_start")).cast("long").alias("doc_off"),
        (piece_start - F.col("seq_id") * seq_len).cast("long")
        .alias("seq_off"),
        (piece_end - piece_start).cast("long").alias("n_tokens"),
    )


def shard_manifest(assignments: DataFrame) -> DataFrame:
    """Aggregate a pack_shards result into a per-shard manifest —
    the writer's work list: (shard_id, n_docs, n_tokens)."""
    return assignments.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
    )


def write_shards(packed: DataFrame, out_dir: str,
                 n_tasks: int = 64,
                 file_format: str = "tsv") -> DataFrame:
    """Materialize a ``pack_shards`` result as one gzipped file per shard
    under ``out_dir``; returns the manifest DataFrame
    (shard_id, file, n_docs, shard_tokens, n_bytes, content_md5) — the
    caller triggers the write with an action on it.

    Input needs (doc_id, n_tokens, shard_id, text).  Each file holds the
    shard's documents one per line, sorted by doc_id, gzipped with
    mtime=0 — so a re-run over the same table produces byte-identical
    archives, and ``content_md5`` (md5 of the uncompressed payload) is
    reproducible by any engine from the table alone.  ``file_format``:
    "tsv" (default) writes ``doc_id<TAB>n_tokens<TAB>escaped-text`` lines
    as ``shard-NNNNNNN.txt.gz``; "jsonl" writes one
    ``{"id": …, "n_tokens": …, "text": …}`` object per line as
    ``shard-NNNNNNN.jsonl.gz`` — the framing most LM training loaders
    ingest directly (sorted keys, compact separators, ensure_ascii=False:
    a fully canonical, reproducible encoding).  Shards are hash-distributed over ``n_tasks`` write tasks and a
    task buffers ONE shard at a time (rows arrive shard-clustered after
    the repartition+sort), so task memory is bounded by the token budget,
    not the corpus.  Files are written to a task-attempt temp name and
    atomically renamed on close, so speculative/retried attempts never
    interleave bytes in a visible file."""
    import hashlib
    import os

    if file_format not in ("tsv", "jsonl"):
        raise ValueError(f"unknown file_format: {file_format!r}")
    os.makedirs(out_dir, exist_ok=True)

    def write_task(batches):
        import gzip

        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        def flush(shard_id, rows, out):
            rows.sort(key=lambda r: r["doc_id"])
            if file_format == "jsonl":
                import json

                payload = "".join(
                    json.dumps({"id": r["doc_id"],
                                "n_tokens": r["n_tokens"],
                                "text": r["text"]},
                               sort_keys=True, ensure_ascii=False,
                               separators=(",", ":")) + "\n"
                    for r in rows
                ).encode("utf-8")
                dest = os.path.join(out_dir,
                                    f"shard-{shard_id:07d}.jsonl.gz")
            else:
                # one LINE per doc, unconditionally: extracted text contains
                # real newlines (and may contain tabs), so the field text is
                # escaped \ -> \\, newline -> \n, tab -> \t — an unambiguous,
                # reversible framing a line-oriented consumer can parse
                payload = "".join(
                    "{}\t{}\t{}\n".format(
                        r["doc_id"], r["n_tokens"],
                        r["text"].replace("\\", "\\\\")
                                 .replace("\n", "\\n").replace("\t", "\\t"),
                    )
                    for r in rows
                ).encode("utf-8")
                dest = os.path.join(out_dir, f"shard-{shard_id:07d}.txt.gz")
            tmp = f"{dest}.inprogress-{os.getpid()}"
            with open(tmp, "wb") as sink:
                sink.write(gzip.compress(payload, mtime=0))
            os.replace(tmp, dest)
            out.append({
                "shard_id": shard_id,
                "file": dest,
                "n_docs": len(rows),
                "shard_tokens": sum(r["n_tokens"] for r in rows),
                "n_bytes": os.path.getsize(dest),
                "content_md5": hashlib.md5(payload).hexdigest(),
            })

        out: list[dict] = []
        cur_id, cur_rows = None, []
        for batch in batches:
            for row in batch.to_pylist():
                if row["shard_id"] != cur_id:
                    if cur_rows:
                        flush(cur_id, cur_rows, out)
                    cur_id, cur_rows = row["shard_id"], []
                cur_rows.append(row)
        if cur_rows:
            flush(cur_id, cur_rows, out)
        if out:
            yield pa.RecordBatch.from_pylist(
                out, schema=to_arrow_schema(SHARD_MANIFEST_SCHEMA)
            )

    clustered = (
        packed.select("doc_id", "n_tokens", "shard_id", "text")
        .repartition(n_tasks, "shard_id")
        .sortWithinPartitions("shard_id", "doc_id")
    )
    return clustered.mapInArrow(write_task, schema=SHARD_MANIFEST_SCHEMA)


def mixture_weights(documents: DataFrame, key: str = "source",
                    alpha_x100: int = 50) -> DataFrame:
    """Temperature-scaled corpus mixing weights per key (domain/source):
    weight ∝ count^(alpha) with alpha = alpha_x100/100 — the standard
    multi-domain rebalancing (alpha=1 proportional, alpha=0 uniform,
    0<alpha<1 flattens head domains exactly like multilingual/multi-corpus
    sampling temperature).

    One groupBy(key) — map-side combined counts, O(domains) result.  To
    stay engine-exact the irrational count^alpha values are discretized
    BEFORE normalization: num = floor(1000 * count^alpha) per key, weight
    = floor(1e6 * num / sum(nums)).  Both engines then divide identical
    integers, so the oracle comparison is bit-exact (summing raw doubles
    would be addition-order-dependent across partitions)."""
    if not 0 <= alpha_x100 <= 100:
        raise ValueError("alpha_x100 must be in [0, 100]")
    counts = documents.groupBy(key).agg(F.count("*").alias("n_docs"))
    num = F.floor(F.lit(1000) * F.pow("n_docs", alpha_x100 / 100.0))
    with_num = counts.withColumn("_num", num)
    denom = with_num.agg(F.sum("_num")).collect()[0][0]
    return with_num.select(
        key,
        F.col("n_docs").cast("long").alias("n_docs"),
        F.floor(F.lit(1_000_000) * F.col("_num") / F.lit(denom))
        .cast("long")
        .alias("weight_x1e6"),
    )


def downsample_to_mixture(documents: DataFrame,
                          weights: DataFrame | None = None,
                          key: str = "source",
                          alpha_x100: int = 50,
                          gate_col=None) -> DataFrame:
    """Deterministically downsample the corpus so per-``key`` proportions
    match the target mixture — the CONSUMPTION side of
    :func:`mixture_weights`.

    Given target shares w_k and available counts n_k, the largest total
    T every domain can supply is T = min_k(n_k / w_k); each domain keeps
    ~T*w_k docs via a deterministic Bernoulli gate
    ``pmod(xxhash64(doc_id, 42), 1e6) < rate_x1e6[k]`` — no shuffle,
    no RNG state: the same doc survives on every run and on every
    engine, and the O(domains) rate table broadcasts.

    ``weights``: a (key, weight_x1e6) frame (defaults to
    ``mixture_weights(documents, key, alpha_x100)``).  The head domain
    (argmin n_k/w_k) keeps ~100% of its docs; everything else thins.

    ``gate_col``: optional Column in [0, 1e6) replacing the default
    xxhash64 gate — e.g. an md5-prefix gate when the survivor set must
    be reproducible by engines without xxhash64."""
    if weights is None:
        weights = mixture_weights(documents, key=key, alpha_x100=alpha_x100)
    counts = {r[key]: r["n_docs"] for r in
              documents.groupBy(key).agg(
                  F.count("*").alias("n_docs")).collect()}
    targets = {r[key]: r["weight_x1e6"] for r in
               weights.select(key, "weight_x1e6").collect()}
    # largest achievable total: every domain must be able to supply its share
    total = min(
        counts[k] * 1_000_000 // w for k, w in targets.items()
        if w > 0 and k in counts
    )
    # rate_x1e6 = 1e6 * (T * share_k) / n_k = T * w_k / n_k  (<= 1e6 by
    # construction of T)
    rates = [(k, min(1_000_000, (total * w) // max(counts[k], 1)))
             for k, w in targets.items() if k in counts]
    spark = documents.sparkSession
    rate_df = spark.createDataFrame(rates, [key, "_rate_x1e6"])
    gate = (gate_col if gate_col is not None
            else F.pmod(F.xxhash64("doc_id", F.lit(42)), F.lit(1_000_000)))
    return (
        documents.join(F.broadcast(rate_df), key)
        .filter(gate < F.col("_rate_x1e6"))
        .drop("_rate_x1e6")
    )


def split_corpus(documents: DataFrame,
                 weights_x100: tuple = (("train", 98), ("val", 1),
                                        ("test", 1)),
                 key_col: str = "url",
                 gate_col=None) -> DataFrame:
    """Leakage-safe deterministic train/val/test assignment: adds a
    ``split`` column chosen by ``pmod(xxhash64(key_col, 7), 100)``.

    Keying on the URL (not the row) is the leakage property: the same
    url lands in the same split on every run AND every corpus version,
    so a page that is re-crawled, re-extracted, or survives different
    gate configurations can never migrate from train into an eval
    split.  Map-only (no shuffle, no RNG state); at warehouse scale the
    column is computed inline at write time and used as the output
    partition key.

    ``weights_x100``: ordered (name, percent) pairs summing to 100 —
    ordered so the cumulative bucket boundaries are deterministic.
    ``gate_col``: optional Column in [0, 100) replacing the default
    xxhash64 gate (e.g. an md5-prefix gate when the assignment must be
    reproducible by engines without xxhash64)."""
    total = sum(w for _, w in weights_x100)
    if total != 100:
        raise ValueError(f"weights_x100 must sum to 100, got {total}")
    if len(weights_x100) == 1:
        # degenerate single-split config: everything lands in it
        return documents.withColumn("split", F.lit(weights_x100[0][0]))
    gate = (gate_col if gate_col is not None
            else F.pmod(F.xxhash64(key_col, F.lit(7)), F.lit(100)))
    expr = None
    cum = 0
    for name, w in weights_x100[:-1]:
        cum += w
        branch = (expr.when if expr is not None else F.when)
        expr = branch(gate < cum, F.lit(name))
    expr = expr.otherwise(F.lit(weights_x100[-1][0]))
    return documents.withColumn("split", expr)


# floor(xxhash64 / 2^44) yields ~2^20 uniformly-filled buckets over the
# signed 64-bit hash range — the pack_* driver collect stays O(2^20)
# longs no matter the corpus size.  The DEFAULT pack_* bucket_width
# (1 << 20) assumes a DENSE order key (doc ids); feeding it a raw hash
# would make every document its own bucket and the offsets collect O(n).
HASH_ORDER_BUCKET_WIDTH = 1 << 44


def shuffle_corpus(documents: DataFrame, seed: int = 0,
                   materialize: bool = False) -> DataFrame:
    """Deterministic global training-order shuffle: adds a total-order
    column ``shuffle_order = xxhash64(url, seed)``.  Published LM pipelines randomize
    example order between curation and packing (dedup sorts related
    documents together; training on that order skews early batches) —
    a keyed hash gives a pseudo-random permutation that is REPRODUCIBLE
    across runs, cluster sizes, and partitioning changes, the property
    RNG-per-partition shuffles lose, and re-seeding permutes afresh for
    a new epoch/experiment.

    Map-only by default: packing (``pack_shards`` / ``pack_sequences``)
    consumes the ORDER COLUMN, not physical row order — pass
    ``order_col="shuffle_order", bucket_width=HASH_ORDER_BUCKET_WIDTH``
    so the distributed prefix sum buckets the full signed-64-bit hash
    range instead of treating it as dense doc ids.  With
    ``materialize=True`` the frame is additionally
    repartitionByRange + sortWithinPartitions on the order column (ONE
    range shuffle, no single-task global sort; xxhash64 is uniform so
    range partitions are balanced) — the shape for writers that emit
    physical row order directly."""
    out = documents.withColumn(
        "shuffle_order", F.xxhash64(F.col("url"), F.lit(seed)))
    if materialize:
        out = (out.repartitionByRange(F.col("shuffle_order"))
                  .sortWithinPartitions("shuffle_order"))
    return out
