"""Resumable, lineage-carrying extraction runs (north rule: "resumable from
checkpoint with per-partition lineage + metrics").

Work is split into deterministic chunks by ``pmod(xxhash64(url), n_chunks)``.
Each chunk is written to ``<output>/chunk=<k>/`` and, on success, a manifest
line (chunk id, input fingerprint, row count, per-stage counters, wall time)
is appended atomically to ``_manifest/chunk-<k>.json``.  On restart the
driver lists completed chunk ids and anti-joins them away — equivalently a
left anti-join against the done set (SURVEY.md §2.3) — so only unfinished
chunks re-run.  At cluster scale chunks map to Iceberg partition writes; on
parquet the mechanism is identical.

One Spark job per chunk: the manifest's numbers are computed inside the
write job by ``DataFrame.observe`` on the extracted frame — no re-read of
the written files and no second scan of the input.  The observed
aggregates run in the write's result stage, so each task's rows count
once even when a task is retried.  The kernel closure copies each input
url into its single output row, so the xor of the output urls' hashes and
the output row count equal the input fingerprint and input row count.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql import types as T

from ..options import DEFAULT_OPTIONS, Options
from ..plans.job import run_extraction
from ..plans.schema import OUTPUT_SCHEMA, STAGES

# manifest stage key for a stage value outside STAGES, so that the stage
# counters always sum to the row count
OTHER_STAGE = "other"
# what read_output returns: the output columns plus the chunk= partition
READ_SCHEMA = T.StructType(
    OUTPUT_SCHEMA.fields + [T.StructField("chunk", T.IntegerType(), True)]
)


def _manifest_dir(output_path: str) -> str:
    return os.path.join(output_path, "_manifest")


def completed_chunks(output_path: str) -> dict[int, dict]:
    mdir = _manifest_dir(output_path)
    done: dict[int, dict] = {}
    if not os.path.isdir(mdir):
        return done
    for name in os.listdir(mdir):
        if name.startswith("chunk-") and name.endswith(".json"):
            try:
                with open(os.path.join(mdir, name)) as f:
                    entry = json.load(f)
                done[int(entry["chunk_id"])] = entry
            except (ValueError, KeyError, json.JSONDecodeError):
                continue
    return done


def _write_manifest_entry(output_path: str, entry: dict) -> None:
    mdir = _manifest_dir(output_path)
    os.makedirs(mdir, exist_ok=True)
    final = os.path.join(mdir, f"chunk-{entry['chunk_id']}.json")
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(entry, f)
    os.replace(tmp, final)  # atomic on POSIX


def _manifest_metrics() -> list:
    """Aggregates observed on the extracted frame: row count, url
    fingerprint and one counter per stage (see the module docstring)."""
    stage = F.col("stage")
    return [
        F.count(F.lit(1)).alias("rows"),
        F.expr("bit_xor(xxhash64(url))").alias("fingerprint"),
        *(F.count_if(stage == s).alias(s) for s in STAGES),
        F.count_if(~stage.isin(*STAGES)).alias(OTHER_STAGE),
    ]


def run_extraction_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    options: Options = DEFAULT_OPTIONS,
    n_chunks: int = 8,
    verify_input_fingerprint: bool = False,
    chunk_col=None,
) -> dict:
    """Run extraction chunk-by-chunk with resume. Returns a run summary.

    The chunk column is a pure function of url, so a restarted run assigns
    identical chunks — provided n_chunks is unchanged, which is enforced
    against the manifest. ``verify_input_fingerprint=True`` additionally
    recomputes each skipped chunk's url-fingerprint and refuses to skip a
    chunk whose input changed (costs one extra scan of the skipped rows;
    off by default since at scale resume exists to avoid rescans).
    """
    # ``chunk_col``: optional callable url-Column -> chunk Column (any
    # deterministic pure function of url); default xxhash64-mod
    chunk_expr = (
        F.pmod(F.xxhash64(F.col("url")), F.lit(n_chunks)).cast("int")
        if chunk_col is None else chunk_col(F.col("url")).cast("int")
    )
    chunked = pages.withColumn("_chunk", chunk_expr)
    done = completed_chunks(output_path)
    # Chunk ids are only meaningful for the n_chunks they were computed
    # with: resuming a k=8 run with k=16 would silently skip half of every
    # old chunk and re-extract the rest. Refuse instead of corrupting.
    for k, entry in done.items():
        prev = entry.get("n_chunks")
        if prev is not None and prev != n_chunks:
            raise ValueError(
                f"manifest chunk {k} was written with n_chunks={prev}, "
                f"refusing to resume with n_chunks={n_chunks}; "
                "delete the manifest (full restart) or rerun with the "
                "original chunk count"
            )
    summary = {"chunks_total": n_chunks, "chunks_skipped": len(done),
               "chunks_run": 0, "rows_written": 0}

    for k in range(n_chunks):
        if k in done:
            if verify_input_fingerprint and "input_fingerprint" in done[k]:
                # xor-of-hashes alone is blind to even-multiplicity changes
                # (url added twice xors to zero), so cross-check the row
                # count too.  Manifests carry ``input_rows``; older ones
                # only the output-row sum, accepted as a fallback for
                # resume of pre-upgrade runs.
                row = (
                    chunked.filter(F.col("_chunk") == k)
                    .select(F.xxhash64(F.col("url")).alias("h"))
                    .agg(F.expr("bit_xor(h)").alias("f"),
                         F.count("*").alias("n")).collect()[0]
                )
                expected_rows = done[k].get("input_rows", done[k].get("rows"))
                if (str(row["f"]) != done[k]["input_fingerprint"]
                        or (expected_rows is not None
                            and row["n"] != expected_rows)):
                    raise ValueError(
                        f"chunk {k} input changed since the manifest was "
                        f"written (fingerprint {row['f']}/rows {row['n']} vs "
                        f"{done[k]['input_fingerprint']}/"
                        f"{expected_rows}); refusing to skip"
                    )
            continue
        t0 = time.time()
        chunk_df = chunked.filter(F.col("_chunk") == k).drop("_chunk")
        observed = Observation()
        extracted = run_extraction(spark, chunk_df, options).observe(
            observed, *_manifest_metrics())
        extracted.write.mode("overwrite").parquet(
            os.path.join(output_path, f"chunk={k}")
        )
        metrics = observed.get
        n_rows = metrics["rows"]
        stage_counts = {
            s: metrics[s] for s in (*STAGES, OTHER_STAGE) if metrics[s]
        }
        _write_manifest_entry(output_path, {
            "chunk_id": k,
            "n_chunks": n_chunks,
            "rows": n_rows,
            "input_rows": n_rows,
            "input_fingerprint": str(metrics["fingerprint"]),
            "stages": stage_counts,
            "wall_time_sec": round(time.time() - t0, 3),
            "options_dedup": options.deduplicate,
        })
        summary["chunks_run"] += 1
        summary["rows_written"] += n_rows

    return summary


def read_output(spark: SparkSession, output_path: str) -> DataFrame:
    """The completed chunks of a checkpointed run, with their ``chunk``
    partition column.  Only the ``chunk=<k>`` directories the manifest
    lists are read, so a chunk whose write never finished is left out; no
    completed chunk gives an empty frame of the same columns."""
    done = sorted(completed_chunks(output_path))
    if not done:
        return spark.createDataFrame([], READ_SCHEMA)
    return spark.read.option("basePath", output_path).parquet(
        *(os.path.join(output_path, f"chunk={k}") for k in done)
    )
