"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

DSIR scores every raw document by how much its hashed-n-gram feature
distribution looks like a small target corpus (e.g. Wikipedia, or the
benchmark mix you want to up-weight), then keeps a sample weighted by
that importance.  The pieces here:

1. hashed n-gram features: unigrams + bigrams hashed into ``BUCKETS``
   slots.  The bucket hash is the first 8 hex chars of md5 — md5 is the
   one hash Spark, DuckDB, and Python all expose identically, which
   keeps the oracle engine-exact; swap ``xxhash64(gram) % BUCKETS`` in
   at deploy time for speed (same plan shape, no other change).
2. per-bucket log-likelihood ratio, integer-exact: with the same
   floor-log2 surprisal proxy as operators/lm.py (``bitlen = length of
   the binary string``, identical in both engines),

       llr(b) = [bitlen(cnt_target(b)+1) - bitlen(N_target)]
              - [bitlen(cnt_raw(b)+1)    - bitlen(N_raw)]

   (+1 = add-one smoothing so unseen buckets stay finite).
3. per-document importance score = sum of llr over the document's gram
   stream, x1000-floored mean so long documents don't dominate.
4. selection: exact top-fraction via a global rank (oracle
   configuration) or ``select_by_threshold`` — the map-only variant for
   web scale, with the cutoff fit on a sample exactly as the paper
   fits its importance distribution.

Scale shape: gram explosion never shuffles raw text — the only wide
objects are the two O(BUCKETS) count tables, both broadcast; the
per-doc aggregation combines map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .lm import _tokens

BUCKETS = 10_000


def _gram_stream(documents: DataFrame) -> DataFrame:
    """(doc_id, gram): unigrams + space-joined bigrams."""
    words = _tokens(F.col("text"))
    bigrams = F.zip_with(
        words,
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    grams = F.concat(
        words,
        F.when(F.size(words) >= 2,
               F.slice(bigrams, 1, F.size(words) - 1))
        .otherwise(F.array()),
    )
    return documents.select(
        "doc_id", F.explode(grams).alias("gram")
    )


def _bucket(gram_col):
    """Engine-exact bucket id: int(md5(gram)[:8], 16) % BUCKETS."""
    return (
        F.conv(F.substring(F.md5(gram_col), 1, 8), 16, 10)
        .cast("long") % BUCKETS
    )


def hashed_bucket_counts(corpus: DataFrame) -> DataFrame:
    """Corpus-level hashed-feature counts: (bucket, cnt).  O(BUCKETS)
    output — broadcastable regardless of corpus size."""
    return (
        _gram_stream(corpus)
        .select(_bucket(F.col("gram")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


def _bitlen(col):
    return F.length(F.bin(col))


def dsir_scores(documents: DataFrame, target_counts: DataFrame,
                raw_counts: DataFrame) -> DataFrame:
    """Mean integer log-likelihood-ratio per document: (doc_id,
    n_grams, dsir_score_x1000).  Higher = more target-like.

    The count tables are O(BUCKETS) rows, so they are collected ONCE to
    the driver here: the grand totals are summed locally and the
    broadcast sides rebuilt from the collected rows.  Summing and
    broadcasting the incoming DataFrames directly would execute each
    count plan twice — for ``raw_counts`` that is two full gram passes
    over the raw corpus, the dominant cost of the whole operator."""
    spark = documents.sparkSession
    t_rows = [(r["bucket"], r["cnt"]) for r in target_counts.collect()]
    r_rows = [(r["bucket"], r["cnt"]) for r in raw_counts.collect()]
    n_t = int(sum(c for _, c in t_rows)) or 1
    n_r = int(sum(c for _, c in r_rows)) or 1
    bits_nt = len(bin(n_t)) - 2
    bits_nr = len(bin(n_r)) - 2
    t_local = spark.createDataFrame(t_rows, "bucket long, t_cnt long")
    r_local = spark.createDataFrame(r_rows, "bucket long, r_cnt long")
    grams = _gram_stream(documents).select(
        "doc_id", _bucket(F.col("gram")).alias("bucket")
    )
    joined = (
        grams
        .join(F.broadcast(t_local), "bucket", "left")
        .join(F.broadcast(r_local), "bucket", "left")
        .select(
            "doc_id",
            (
                (_bitlen(F.coalesce(F.col("t_cnt"), F.lit(0)) + 1)
                 - F.lit(bits_nt))
                - (_bitlen(F.coalesce(F.col("r_cnt"), F.lit(0)) + 1)
                   - F.lit(bits_nr))
            ).alias("llr"),
        )
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.floor(F.lit(1000) * F.sum("llr") / F.count("*"))
        .cast("long")
        .alias("dsir_score_x1000"),
    )


def select_top_frac(scored: DataFrame, frac_x100: int,
                    total: int) -> DataFrame:
    """Exact deterministic selection: keep the ``frac_x100``% most
    target-like docs (rank by score desc, doc_id asc — both engines
    order identically).  ``total`` is the corpus row count (the caller
    usually knows it from a prior stage report; an extra count() job
    here would be wasted).  Global window — oracle configuration."""
    k = (total * frac_x100) // 100
    w = Window.orderBy(F.col("dsir_score_x1000").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .withColumn("selected", F.col("rnk") <= k)
        .drop("rnk")
    )


def select_by_threshold(scored: DataFrame, min_score_x1000: int) -> DataFrame:
    """Map-only selection with a precomputed score cutoff — the 100 TB
    path (fit the cutoff on a sample of scores)."""
    return scored.withColumn(
        "selected", F.col("dsir_score_x1000") >= min_score_x1000
    )
