"""Benchmark decontamination: flag training documents that overlap an
evaluation set by shared word n-grams (the GPT-3 App. C / PaLM / Llama
recipe: a doc is contaminated when it shares at least one n-gram — the
published choices are 8-13 words — with any benchmark example).

Spark shape, built for the 100 TB side being the CORPUS and the small
side being the BENCHMARK (eval sets are thousands of examples, i.e. MBs):

1. benchmark -> distinct hashed n-grams (tiny; broadcast),
2. corpus -> exploded hashed n-grams (map-only, xxhash64 JVM-side —
   a long per gram, never gram STRINGS, so the explode ships 8 bytes/gram),
3. broadcast semi-join, groupBy doc.

The n-gram universe is the same word-window family as the dedup
shingles (``shingle_set_expr`` generalized to any n), hashed with
xxhash64 — collisions only cause a ~2^-64-scale chance of a FALSE flag
per (doc-gram, bench-gram) pair, never a missed contamination.
At larger benchmark sizes swap the broadcast for a bloom filter built
with ``F.expr("bloom_filter_agg(...)")`` or a shuffle join — the plan
below stays correct either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import shingle_set_expr


def _gram_hashes(text_col, n: int):
    """Distinct xxhash64'd n-word-gram longs for a text column."""
    return F.transform(
        shingle_set_expr(text_col, k=n), lambda s: F.xxhash64(s)
    )


def contamination_hits(documents: DataFrame, benchmark: DataFrame,
                       n: int = 13) -> DataFrame:
    """(doc_id, n_hits, n_grams) for every CONTAMINATED document — one
    row per doc that shares >= 1 n-gram with any benchmark example.
    ``n_hits`` counts the doc's distinct overlapping grams; clean docs
    do not appear (anti-join them from the corpus to get the keep set,
    or use :func:`mark_contaminated` for the flag column)."""
    # materialize the gram ARRAY in its own projection before exploding:
    # inlining the window expression as a sibling of explode makes
    # Catalyst re-evaluate the full O(words x n) gram computation once
    # PER EXPLODED ROW (measured: a 120-doc corpus of ~800-word texts
    # never finished; with the named column it is instant)
    bench_grams = (
        benchmark
        .select(_gram_hashes(F.col("text"), n).alias("_gs"))
        .select(F.explode("_gs").alias("_g"))
        .distinct()
    )
    doc_grams = (
        documents
        .select("doc_id", _gram_hashes(F.col("text"), n).alias("_gs"))
        .select("doc_id", F.size("_gs").alias("n_grams"),
                F.explode("_gs").alias("_g"))
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "_g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_hits"),
            F.first("n_grams").cast("long").alias("n_grams"),
        )
    )


def mark_contaminated(documents: DataFrame, benchmark: DataFrame,
                      n: int = 13) -> DataFrame:
    """The corpus with a ``contaminated`` flag column — the decontam
    filter a pretraining pipeline applies before packing."""
    hits = contamination_hits(documents, benchmark, n)
    return documents.join(
        hits.select("doc_id", F.lit(True).alias("contaminated")),
        "doc_id", "left",
    ).withColumn("contaminated", F.coalesce("contaminated", F.lit(False)))
