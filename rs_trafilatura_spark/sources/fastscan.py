"""Python-side parquet scan for the extraction hot path.

The default pipeline (``plans.run_extraction``) scans parquet in the JVM
and ships every page's HTML to the Python workers over the local Arrow
socket.  For an extraction job that is pure waste: the JVM never looks at
the bytes, yet the scan + JVM->Python transfer costs as much wall time as
the extraction itself (measured on the 600 MB large-page bench: ~10 s
pass-through floor vs ~5 s of kernel work at 32 cores).

``extract_from_parquet`` removes the double hop: the DRIVER lists the
parquet files (O(files) metadata only), packs them into size-balanced
bins, and a single ``mapInArrow`` stage both READS its files with
``pyarrow.parquet`` and runs the kernel — HTML bytes move exactly once,
from disk into the worker that parses them.  It reads the page columns
of the one pages contract (plans/schema.py ``PAGE_COLUMNS`` /
``PAGES_SCHEMA``), the same columns ``run_extraction`` selects.  Output is a normal DataFrame
with OUTPUT_SCHEMA; everything downstream (stage metrics, curation,
checkpointing) composes unchanged.

The file-bin scan is shared with the WARC source (sources/warc.py):
``scan_bins`` is the one bin plan (list files -> ``pack_bins`` -> one
``paths`` row per bin, one bin per partition -> a per-task scan over the
bin's files), and ``extract_scanned`` runs the kernel closure on a scan's
output.  ``extract_from_parquet``, ``read_warc`` and ``extract_from_warc``
are each one ``scan_bins`` call.

Scale notes (100 TB):
- Tasks are file-granular, bin-packed by file size on the driver —
  production extraction corpora have uniform ~1 GB files, so bins are
  byte-balanced the same way byte-bounded JVM splits would be.  Row-group
  granularity could be added with ``ParquetFile.metadata`` if single files
  ever dominate a bin.
- Predicate pushdown is irrelevant on this path (extraction reads every
  page); column pruning is explicit via ``columns=[...]``.
- Object-store URIs (s3://...) resolve through ``pyarrow.fs`` — the same
  FileSystem machinery Arrow-native engines use; local file:// URIs from
  ``DataFrame.inputFiles()`` are handled directly.
- The kernel closure is the SAME Arrow-batched function the DataFrame
  path uses (plans/job.py), so results are bit-identical regardless of
  which source fed them (pinned by tests/test_fastscan.py).
"""

from __future__ import annotations

import os
from typing import Optional
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, types as T

from ..options import DEFAULT_OPTIONS, Options
from ..plans.job import make_extract_arrow_batches
from ..plans.schema import OUTPUT_SCHEMA, PAGE_COLUMNS

# rows per kernel batch: large pages (~300 KB) => ~80 MB of HTML per batch
ROWS_PER_BATCH = 256


def _local_path(uri: str) -> Optional[str]:
    """file:// URI or bare path -> filesystem path; None for remote URIs."""
    parsed = urlparse(uri)
    if parsed.scheme in ("", "file"):
        return parsed.path or uri
    return None


def list_parquet_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """[(uri, bytes)] for every data file under ``path``.  Listing goes
    through Spark's own datasource resolution (``inputFiles``), so any
    filesystem Spark can read works; sizes come from the local stat when
    the URI is local, else 0 (round-robin packing fallback)."""
    files = spark.read.parquet(path).inputFiles()
    out = []
    for uri in files:
        local = _local_path(uri)
        size = os.path.getsize(local) if local and os.path.exists(local) else 0
        out.append((uri, size))
    return out


def pack_bins(files: list[tuple[str, int]], n_bins: int) -> list[list[str]]:
    """Greedy LPT bin-packing: largest file -> currently lightest bin.
    With unknown sizes (all 0) this degrades to round-robin."""
    n_bins = max(1, min(n_bins, len(files)))
    bins: list[list[str]] = [[] for _ in range(n_bins)]
    loads = [0] * n_bins
    counts = [0] * n_bins
    for uri, size in sorted(files, key=lambda fs: -fs[1]):
        # lightest by bytes, tie-broken by file count (the all-zero case)
        i = min(range(n_bins), key=lambda j: (loads[j], counts[j]))
        bins[i].append(uri)
        loads[i] += size
        counts[i] += 1
    return bins


def scan_bins(spark: SparkSession, files: list[tuple[str, int]], scan,
              schema: T.StructType,
              target_partitions: Optional[int] = None) -> DataFrame:
    """The file-bin scan plan shared by the parquet and WARC sources:
    ``files`` ([(uri, bytes)]) are LPT-packed by ``pack_bins`` into at
    most ``target_partitions`` bins (default: the default parallelism),
    one ``paths`` row per bin and one bin per partition; each task calls
    ``scan`` on an iterator over its bin's files and yields its Arrow
    batches of ``schema``."""
    if target_partitions is None:
        target_partitions = spark.sparkContext.defaultParallelism
    bins = pack_bins(files, target_partitions)
    # numSlices == len(bins): parallelize slices evenly, giving each task
    # exactly its planned byte load with no shuffle
    rdd = spark.sparkContext.parallelize([(b,) for b in bins], len(bins))
    plan = spark.createDataFrame(rdd, T.StructType(
        [T.StructField("paths", T.ArrayType(T.StringType()), False)]))

    def run_scan(batches):
        yield from scan(uri for batch in batches
                        for row in batch.column(0).to_pylist() for uri in row)

    return plan.mapInArrow(run_scan, schema=schema)


def extract_scanned(scan, options: Options):
    """``scan`` (file uris -> page batches) followed by the one kernel
    closure (plans/job.py): a ``scan_bins`` scan that emits OUTPUT_SCHEMA
    rows."""
    kernel = make_extract_arrow_batches(options)
    return lambda uris: kernel(scan(uris))


def _scan_parquet(uris):
    """Page batches (the PAGE_COLUMNS present) of the parquet files
    ``uris``, read with pyarrow."""
    import pyarrow.parquet as pq

    for uri in uris:
        local = _local_path(uri)
        if local is not None:
            pf = pq.ParquetFile(local)
        else:  # object store: resolve via pyarrow.fs
            from pyarrow import fs as pafs

            filesystem, fspath = pafs.FileSystem.from_uri(uri)
            pf = pq.ParquetFile(filesystem.open_input_file(fspath))
        names = [c for c in PAGE_COLUMNS if c in pf.schema_arrow.names]
        yield from pf.iter_batches(batch_size=ROWS_PER_BATCH, columns=names)


def extract_from_parquet(
    spark: SparkSession,
    path: str,
    options: Options = DEFAULT_OPTIONS,
    target_partitions: Optional[int] = None,
) -> DataFrame:
    """Extraction pipeline over a parquet table, scanning IN the Python
    workers (see module docstring).  Drop-in alternative to
    ``run_extraction(spark, spark.read.parquet(path), ...)`` with
    identical output rows."""
    return scan_bins(spark, list_parquet_files(spark, path),
                     extract_scanned(_scan_parquet, options), OUTPUT_SCHEMA,
                     target_partitions)
