"""Spark job assembly: scan -> size-aware repartition -> Arrow-batched
kernel -> output (SURVEY.md §2.11, §4.2).

The kernel is ONE iterator-of-batches function over Arrow record batches
(``mapInArrow``): Arrow transport, compiled regexes amortized per worker
process, zero per-row Python dispatch at the Spark level.  Output batches
are built DIRECTLY as ``pyarrow`` arrays — measured ~2x cheaper than
routing each batch through a pandas DataFrame (object-dtype string columns
pay an extra python-object pass on the worker before Arrow encoding).

Per-task boundary cost: before every Python task a reused worker runs
PySpark's ``setup_spark_files``, which ends in
``importlib.invalidate_caches()``.  On CPython 3.11 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its whole
archive.  There is one importer per imported package directory, 22-23 in
all over ``pyspark.zip``, the shipped package zip, py4j and the
spark-core jar, and together they cost 0.18-0.27 CPU-s per task (4-CPU
x86 VM) — about half of the workers' CPU on small-page jobs.  The kernel
closure therefore starts with ``pin_zip_importers()``: on a worker it
swaps those importers for a subclass whose ``invalidate_caches()`` keeps
the directory it already read (the archives never change while a worker
lives), which cuts that step to ~0.1 ms.

Distribution concerns are explicit and DataFrame-native:

- **size-aware repartitioning**: extraction cost scales with page size
  (reference README.md:258-260); hash-even repartitioning leaves heavy-tail
  pages stragglling a partition of small ones, so rows above a size
  threshold are split out and spread round-robin before the kernel runs.
- **host salting** is applied to any keyed operation on `host` via
  ``salted_host`` (zipfian host skew); the map-only kernel itself needs no
  key, so no shuffle-by-host ever happens on the hot path.
"""

from __future__ import annotations

import sys
import zipimport
from dataclasses import replace
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..options import DEFAULT_OPTIONS, Options
from .schema import OUTPUT_COLUMNS, OUTPUT_SCHEMA, PAGE_COLUMNS

# pages larger than this go to the dedicated large-row partition set
LARGE_HTML_BYTES = 1_000_000
SALT_BUCKETS = 16


# kernel result key -> output column: each column the kernel fills keeps
# its name, except that the kernel's `url` fills canonical_url; the input's
# url and warc_ts, the language fallback and the spans are assembled in
# _result_arrays
_RESULT_KEYS = [
    ("url" if col == "canonical_url" else col, col) for col in OUTPUT_COLUMNS
    if col not in ("url", "warc_ts", "language", "spans")
]


class _PinnedZipImporter(zipimport.zipimporter):
    """A zip importer that keeps the archive directory it has read:
    ``invalidate_caches()`` does nothing.  Later imports from the archive
    still resolve through that directory."""

    def invalidate_caches(self):
        pass


def pin_zip_importers() -> None:
    """On a Python worker, stop ``importlib.invalidate_caches()`` from
    re-reading every zip archive on the path before each task (see the
    module docstring).  Outside a worker it changes nothing.  Importers
    created later (a new path entry) stay plain until the next call."""
    from pyspark.core.files import SparkFiles

    if not SparkFiles._is_running_on_worker:
        return
    for importer in sys.path_importer_cache.values():
        if type(importer) is zipimport.zipimporter:
            importer.__class__ = _PinnedZipImporter


def _result_arrays(urls: list, ts, langs: list, results: list[dict],
                   schema) -> list:
    """Columnar assembly of kernel results as pyarrow arrays in
    OUTPUT_SCHEMA order.  ``ts`` may be a pyarrow array (zero-copy
    pass-through from the input batch) or a python list."""
    import pyarrow as pa

    by_name = {f.name: f.type for f in schema}
    cols: dict = {"url": pa.array(urls, pa.string())}
    if isinstance(ts, (pa.Array, pa.ChunkedArray)):
        # zero-copy pass-through; cast only when the source file stored a
        # different timestamp resolution/zone than Spark's session type
        cols["warc_ts"] = (
            ts if ts.type == by_name["warc_ts"] else ts.cast(by_name["warc_ts"])
        )
    else:
        cols["warc_ts"] = pa.array(ts, by_name["warc_ts"])
    for rkey, col in _RESULT_KEYS:
        typ = by_name[col]
        cols[col] = pa.array([r[rkey] for r in results], typ)
    cols["language"] = pa.array(
        [r["language"] or lang for r, lang in zip(results, langs)],
        pa.string(),
    )
    cols["spans"] = pa.array(
        [
            [{"start": s, "end": e, "kind": k} for s, e, k in r["spans"]]
            for r in results
        ],
        by_name["spans"],
    )
    return [cols[name] for name in OUTPUT_COLUMNS]


def make_extract_arrow_batches(opts: Options):
    """The one kernel closure, for ``mapInArrow`` in the batch, fastscan,
    WARC and streaming paths: consumes batches of the page columns
    (PAGE_COLUMNS; warc_ts and lang may be absent), emits OUTPUT_SCHEMA
    batches.  ``opts`` rides in the closure, which Spark ships once per
    stage: no broadcast."""

    def extract_arrow_batches(batches):
        pin_zip_importers()
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from ..kernel.extract import _empty_result, extract_bytes

        out_schema = to_arrow_schema(OUTPUT_SCHEMA)

        def safe_extract(url: str, html) -> dict:
            # a single pathological page must never fail the task: at
            # 10^12 documents *something* will hit an unforeseen code path;
            # degrade to an empty row carrying the error as lineage.  A
            # null html is an empty page (reference extract.rs:161-169)
            try:
                return extract_bytes(bytes(html or b""), replace(opts, url=url))
            except ImportError:
                # missing shipped module = broken deployment, not a bad
                # page: degrading 10^12 rows to 'error' would be far worse
                # than failing the task
                raise
            except Exception as exc:  # noqa: BLE001 - deliberate broad guard
                res = _empty_result(
                    [f"kernel error: {type(exc).__name__}: {exc}"[:500]]
                )
                res["stage"] = "error"
                return res

        for batch in batches:
            names = batch.schema.names
            urls = batch.column(names.index("url")).to_pylist()
            htmls = batch.column(names.index("html")).to_pylist()
            n = batch.num_rows
            ts = (
                batch.column(names.index("warc_ts"))
                if "warc_ts" in names else [None] * n
            )
            langs = (
                batch.column(names.index("lang")).to_pylist()
                if "lang" in names else [None] * n
            )
            results = [safe_extract(u, h) for u, h in zip(urls, htmls)]
            yield pa.RecordBatch.from_arrays(
                _result_arrays(urls, ts, langs, results, out_schema),
                schema=out_schema,
            )

    return extract_arrow_batches


def salted_host(host_col, salt_col, buckets: int = SALT_BUCKETS):
    """Salted key for any host-keyed aggregation/join at corpus scale:
    concat(host, '#', pmod(hash(salt), N)) (SURVEY.md §4.2)."""
    return F.concat_ws("#", host_col, F.pmod(F.xxhash64(salt_col), F.lit(buckets)))


def size_aware_repartition(df: DataFrame, target_partitions: int,
                           large_threshold: int = LARGE_HTML_BYTES) -> DataFrame:
    """Split heavy-tail pages from the bulk so one 10 MB page doesn't
    straggle a partition of 100 KB pages, then round-robin each side.

    The split is one narrow projection (length() is codegen'd); both sides
    repartition round-robin — no key, no skew.
    """
    sized = df.withColumn("_html_size", F.length(F.col("html")))
    small = sized.filter(F.col("_html_size") <= large_threshold)
    large = sized.filter(F.col("_html_size") > large_threshold)
    n_large = max(2, target_partitions // 4)
    out = small.repartition(target_partitions).unionByName(
        large.repartition(n_large)
    )
    return out.drop("_html_size")


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    options: Options = DEFAULT_OPTIONS,
    target_partitions: Optional[int] = None,
) -> DataFrame:
    """The extraction pipeline: select only needed columns (column pruning
    reaches the scan), then the Arrow-batched kernel.

    The kernel maps DIRECTLY on the scan's partitions: parquet splits are
    byte-bounded (spark.sql.files.maxPartitionBytes), so task cost is
    already balanced by input bytes — which is what extraction cost tracks
    (reference README.md:258-260) — and a full shuffle of page HTML at
    100 TB is exactly the bottleneck to avoid.  For pathologically
    partitioned inputs (e.g. the output of a join or a few huge
    row-groups) pass ``size_aware_repartition(pages, n)``: it already has
    at least n/2 partitions, so no second spread runs here.
    """
    if target_partitions is None:
        target_partitions = spark.sparkContext.defaultParallelism
    df = pages.select(*(c for c in PAGE_COLUMNS if c in pages.columns))
    if df.rdd.getNumPartitions() < max(2, target_partitions // 2):
        # too few input splits to use the cluster: one-time spread
        df = df.repartition(target_partitions)
    return df.mapInArrow(make_extract_arrow_batches(options),
                         schema=OUTPUT_SCHEMA)


def stage_metrics(extracted: DataFrame) -> DataFrame:
    """Corpus-level stage metrics (SURVEY.md §4.3): rows + mean quality per
    extraction stage. Plain hash aggregation, partial+final by Catalyst."""
    return (
        extracted.groupBy("stage")
        .agg(
            F.count("*").alias("n_pages"),
            F.avg("extraction_quality").alias("avg_quality"),
            F.expr("percentile_approx(extraction_quality, 0.5)").alias("p50_quality"),
        )
        .orderBy(F.desc("n_pages"))
    )
