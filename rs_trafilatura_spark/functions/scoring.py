"""Word-set F-score (reference scoring.rs:43-109): case-insensitive
whitespace tokens; precision/recall/F1 from set intersections.  Used by the
evaluation job to compare extracted vs expected text at corpus scale."""

from __future__ import annotations


def fscore(extracted: str, expected: str) -> tuple[float, float, float]:
    """(precision, recall, f1) over lowercase whitespace-token sets."""
    got = set(extracted.lower().split())
    want = set(expected.lower().split())
    if not got and not want:
        return 1.0, 1.0, 1.0
    if not got or not want:
        return 0.0, 0.0, 0.0
    tp = len(got & want)
    precision = tp / len(got)
    recall = tp / len(want)
    if precision + recall == 0:
        return 0.0, 0.0, 0.0
    f1 = 2 * precision * recall / (precision + recall)
    return precision, recall, f1


def fscore_df(extracted_df, expected_df):
    """Spark-native corpus F-score of ``extracted_df.content_text`` against
    ``expected_df.text``: join on ``url``, token sets via
    split/array_distinct/array_intersect — no UDF."""
    from pyspark.sql import functions as F

    got = F.array_distinct(F.split(F.lower(F.col("content_text")), r"\s+"))
    want = F.array_distinct(F.split(F.lower(F.col("text")), r"\s+"))
    joined = extracted_df.select("url", "content_text").join(
        expected_df.select("url", "text"), "url"
    )
    scored = joined.select(
        "url",
        F.size(F.array_intersect(got, want)).alias("tp"),
        F.size(got).alias("n_got"),
        F.size(want).alias("n_want"),
    ).select(
        "url",
        (F.col("tp") / F.greatest(F.col("n_got"), F.lit(1))).alias("precision"),
        (F.col("tp") / F.greatest(F.col("n_want"), F.lit(1))).alias("recall"),
    ).select(
        "url", "precision", "recall",
        F.when(
            (F.col("precision") + F.col("recall")) > 0,
            2 * F.col("precision") * F.col("recall")
            / (F.col("precision") + F.col("recall")),
        ).otherwise(F.lit(0.0)).alias("f1"),
    )
    return scored
