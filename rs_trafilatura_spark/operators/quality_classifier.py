"""WebText-style document quality classifier (Brown et al. 2020, GPT-3
paper, Appendix A; the same recipe LLaMA's CCNet stage cites).

The GPT-3 data pipeline trained a logistic-regression quality classifier
"using Spark's standard Tokenizer and HashingTF" — this module IS that
recipe on pyspark.ml, plus the paper's Pareto re-sampling keep rule
``np.random.pareto(alpha) > 1 - score`` re-expressed deterministically
(hash-derived uniform -> inverse-CDF Pareto), so a re-run keeps exactly
the same documents.

100 TB shapes:
- training runs on a SAMPLE (positives = curated reference corpus,
  negatives = raw crawl sample) — bounded, never corpus-sized;
- scoring is one map pass: Tokenizer/HashingTF/LR ``transform`` are
  JVM-side, the model broadcasts with the closure, no shuffle;
- the keep gate is a pure Column expression (xxhash64 -> uniform ->
  ``(1-u)^(-1/alpha) - 1``), map-only and deterministic per key, so the
  filter composes with write-time partitioning and is reproducible
  across corpus versions.

No SQL oracle: classifier training is not SQL-expressible (HashingTF's
murmur3 feature hashing has no DuckDB twin) — correctness is pinned by
pytest on planted separable corpora plus an exact Python replay of the
Pareto gate arithmetic, the same honest treatment as ``build_bloom``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_NUM_FEATURES = 1 << 18
# 2^53: the largest power of two whose reciprocal steps are exact in
# float64 — pmod(xxhash64, 2^53) / 2^53 is an unbiased uniform on [0, 1)
_U_BUCKETS = 1 << 53


def train_quality_classifier(positives: DataFrame, negatives: DataFrame,
                             num_features: int = DEFAULT_NUM_FEATURES,
                             max_iter: int = 50):
    """Fit the GPT-3-style quality classifier on the ``text`` column;
    returns a fitted ``pyspark.ml.PipelineModel`` (Tokenizer -> HashingTF
    -> LR with regParam 0.01).

    ``positives`` = high-quality reference docs, ``negatives`` = raw
    crawl docs; both are samples, so ``fit`` never sees corpus-scale
    data.  The LR objective is convex — the fit is deterministic for a
    fixed input (no seed-sensitive initialization)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, Tokenizer

    train = (
        positives.select("text", F.lit(1.0).alias("label"))
        .unionByName(negatives.select("text", F.lit(0.0).alias("label")))
    )
    pipe = Pipeline(stages=[
        Tokenizer(inputCol="text", outputCol="_qc_words"),
        HashingTF(inputCol="_qc_words", outputCol="_qc_features",
                  numFeatures=num_features),
        LogisticRegression(featuresCol="_qc_features", labelCol="label",
                           maxIter=max_iter, regParam=0.01),
    ])
    return pipe.fit(train)


def score_quality(docs: DataFrame, model,
                  text_col: str = "text") -> DataFrame:
    """Attach P(high-quality) per document as ``quality_score`` — one map
    pass, no shuffle; the model rides the plan (JVM transform),
    intermediate feature columns are dropped."""
    from pyspark.ml.functions import vector_to_array

    tmp = text_col != "text"
    inp = docs.withColumn("text", F.col(text_col)) if tmp else docs
    scored = model.transform(inp)
    out = scored.withColumn(
        "quality_score",
        vector_to_array(F.col(model.stages[-1].getProbabilityCol()))
        .getItem(1),
    ).drop("_qc_words", "_qc_features",
           model.stages[-1].getRawPredictionCol(),
           model.stages[-1].getProbabilityCol(),
           model.stages[-1].getPredictionCol())
    return out.drop("text") if tmp else out


def save_quality_classifier(model, path: str) -> None:
    """Persist the fitted pipeline (train once, score every corpus
    version — the deployment split)."""
    model.write().overwrite().save(path)


def load_quality_classifier(path: str):
    from pyspark.ml import PipelineModel

    return PipelineModel.load(path)


def pareto_keep_col(key_col: str = "doc_id", alpha: int = 9):
    """GPT-3 Appendix A keep rule as a deterministic Column over
    ``quality_score``:
    ``pareto_sample > 1 - score`` with the Pareto draw derived from the
    key hash (u = pmod(xxhash64(key), 2^53)/2^53; x = (1-u)^(-1/a) - 1)
    — re-running the pipeline keeps the identical document set, unlike
    the paper's np.random draw."""
    u = F.pmod(F.xxhash64(F.col(key_col)), F.lit(_U_BUCKETS)) / F.lit(
        float(_U_BUCKETS))
    x = F.pow(F.lit(1.0) - u, F.lit(-1.0 / alpha)) - F.lit(1.0)
    return x > (F.lit(1.0) - F.col("quality_score"))


def pareto_quality_filter(scored: DataFrame, key_col: str = "doc_id",
                          alpha: int = 9) -> DataFrame:
    """Filter to the Pareto-kept set (map-only; high-score docs almost
    always survive, low-score docs survive with Pareto-tail probability,
    which keeps some distributional diversity vs a hard threshold)."""
    return scored.filter(pareto_keep_col(key_col, alpha))
