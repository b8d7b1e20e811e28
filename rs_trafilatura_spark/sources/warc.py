"""WARC source + sink: ingest Common-Crawl-style crawl archives directly.

The engine's canonical input is the Iceberg/parquet pages table
(url, warc_ts, html, lang — SURVEY.md §1), but at web scale that table is
itself MADE from WARC files: Common Crawl publishes ~100 TB/crawl as
``*.warc.gz`` — concatenated per-record gzip members, each member one
WARC/1.0 record.  This module closes that gap so a user can point the
pipeline at a crawl directly:

- ``read_warc``            WARC files -> DataFrame(url, warc_ts, html, lang)
- ``extract_from_warc``    single-hop: parse WARC AND run the extraction
                           kernel inside one mapInArrow stage (the
                           fastscan pattern — bytes move disk -> worker
                           exactly once, never through the JVM)
- ``write_warc``           pages DataFrame -> spec-conformant .warc.gz
                           files, one file per ``file_idx``, written from
                           the executors (each task owns its files — the
                           standard distributed-sink contract; ``path``
                           must be a shared filesystem on a real cluster)

Scale notes (100 TB):
- File-granular tasks, LPT-packed by compressed size on the driver
  (O(files) metadata), exactly like sources/fastscan.py.  CC WARC files
  are a uniform ~1 GB, so bins are byte-balanced.
- Records stream through a bounded parser: one record's bytes in memory
  at a time, batches emitted every ``rows_per_batch`` records — a task
  never holds a whole 1 GB archive decompressed.
- Per-record gzip members mean the stream is decodable as ONE gzip
  stream of concatenated members (zlib handles member boundaries), so no
  index file is required for sequential ingest.
- Malformed records are skipped, counted per task, and never raise: one
  truncated record must not kill a 1000-executor ingest (same contract
  as the kernel's safe_extract).

Format per WARC/1.0 (ISO 28500); the ``WARC-Identified-Content-Language``
header is Common Crawl's real-world language annotation and round-trips
the table's ``lang`` column.
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import io
import os
from datetime import datetime, timezone
from typing import Iterable, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..options import DEFAULT_OPTIONS, Options
from ..plans.schema import OUTPUT_SCHEMA
from .fastscan import ROWS_PER_BATCH, pack_bins

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("lang", T.StringType(), True),
])

WRITE_RESULT_SCHEMA = T.StructType([
    T.StructField("file", T.StringType(), False),
    T.StructField("n_records", T.LongType(), False),
    T.StructField("bytes", T.LongType(), False),
])

CDX_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("file", T.StringType(), False),
    T.StructField("offset", T.LongType(), False),
    T.StructField("length", T.LongType(), False),
])

_CRLF = b"\r\n"
_WARC_DATE = "%Y-%m-%dT%H:%M:%SZ"


# --- record serialization ----------------------------------------------------------


def build_warc_record(url: str, ts: Optional[datetime], html: bytes,
                      lang: Optional[str] = None) -> bytes:
    """One WARC/1.0 response record (uncompressed).  Deterministic:
    WARC-Record-ID is derived from (url, ts) — no uuid4/now() so
    re-writes of the same table are byte-identical (the resumability
    story needs deterministic sinks)."""
    ts = ts or datetime(1970, 1, 1, tzinfo=timezone.utc)
    date = ts.strftime(_WARC_DATE)
    rid = hashlib.md5(f"{url}\x00{date}".encode()).hexdigest()
    http = (
        b"HTTP/1.1 200 OK" + _CRLF
        + b"Content-Type: text/html; charset=UTF-8" + _CRLF
        + b"Content-Length: " + str(len(html)).encode() + _CRLF
        + _CRLF + html
    )
    headers = [
        b"WARC/1.0",
        b"WARC-Type: response",
        b"WARC-Record-ID: <urn:md5:" + rid.encode() + b">",
        b"WARC-Date: " + date.encode(),
        b"WARC-Target-URI: " + url.encode(),
        b"Content-Type: application/http; msgtype=response",
        b"Content-Length: " + str(len(http)).encode(),
    ]
    if lang:
        headers.append(b"WARC-Identified-Content-Language: " + lang.encode())
    return _CRLF.join(headers) + _CRLF + _CRLF + http + _CRLF + _CRLF


# --- stream parsing ----------------------------------------------------------------


def _read_headers(stream) -> Optional[dict]:
    """Read one header block (version line + headers) up to the blank
    line; None at EOF.  Tolerates leading record-separator blank lines."""
    version = None
    while True:
        line = stream.readline()
        if not line:
            return None
        if line.strip():
            version = line.strip()
            break
    if not version.startswith(b"WARC/"):
        # desync: skip until the next record marker or EOF
        while True:
            line = stream.readline()
            if not line:
                return None
            if line.startswith(b"WARC/"):
                break
    headers: dict = {}
    while True:
        line = stream.readline()
        if not line or not line.strip():
            return headers
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower().decode("ascii", "replace")] = (
                v.strip().decode("utf-8", "replace")
            )


def parse_warc_stream(stream) -> Iterator[dict]:
    """Yield {"url", "warc_ts", "html", "lang"} for every response record
    in an (uncompressed) WARC byte stream.  Bounded memory: one record's
    payload at a time.  Malformed records are skipped, never raised."""
    while True:
        headers = _read_headers(stream)
        if headers is None:
            return
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            length = 0
        payload = stream.read(length) if length > 0 else b""
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        ts = None
        raw_date = headers.get("warc-date", "")
        try:
            ts = datetime.strptime(raw_date, _WARC_DATE).replace(
                tzinfo=timezone.utc
            )
        except ValueError:
            pass
        # response payload = HTTP headers + body; body starts after the
        # first blank line (raw payload fallback for header-less content)
        sep = payload.find(_CRLF + _CRLF)
        html = payload[sep + 4:] if sep >= 0 else payload
        yield {
            "url": url,
            "warc_ts": ts,
            "html": html,
            "lang": headers.get("warc-identified-content-language"),
        }


def _open_warc(src):
    """Open plain or gzip WARC by magic bytes (concatenated gzip members
    decode as one stream).  ``src`` is a path or an already-buffered
    binary file object (one with ``peek``).  BufferedReader so readline()
    is C-speed."""
    raw = open(src, "rb") if isinstance(src, str) else src
    if raw.peek(2)[:2] == b"\x1f\x8b":
        return io.BufferedReader(gzip.GzipFile(fileobj=raw))  # type: ignore[arg-type]
    return raw


def list_warc_files(path: str) -> list[tuple[str, int]]:
    """[(path, bytes)] for every .warc / .warc.gz under ``path`` (a dir,
    a glob, or a single file).  Driver-side, O(files) metadata."""
    if os.path.isdir(path):
        names = sorted(
            glob.glob(os.path.join(path, "**", "*.warc*"), recursive=True)
        )
    else:
        names = sorted(glob.glob(path)) or ([path] if os.path.exists(path) else [])
    return [(n, os.path.getsize(n)) for n in names if os.path.isfile(n)]


# --- Spark source ------------------------------------------------------------------


def _archive_records(sources: Iterable) -> Iterator[dict]:
    """Every record of the WARC ``sources`` (paths or buffered binary file
    objects, see ``_open_warc``); a path that cannot be opened is skipped."""
    for src in sources:
        try:
            stream = _open_warc(src)
        except OSError:
            continue
        with stream:
            yield from parse_warc_stream(stream)


def _records_to_batches(records: Iterable[dict], arrow_schema,
                        rows_per_batch: int):
    """Group record dicts into Arrow batches of ``rows_per_batch``."""
    import pyarrow as pa

    buf: list[dict] = []
    for rec in records:
        buf.append(rec)
        if len(buf) >= rows_per_batch:
            yield pa.RecordBatch.from_pylist(buf, schema=arrow_schema)
            buf = []
    if buf:
        yield pa.RecordBatch.from_pylist(buf, schema=arrow_schema)


def _make_warc_scan(rows_per_batch: int):
    def scan(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(PAGES_SCHEMA)
        for batch in batches:
            paths = [p for row in batch.column(0).to_pylist() for p in row]
            yield from _records_to_batches(
                _archive_records(paths), arrow_schema, rows_per_batch)

    return scan


def _bin_plan(spark: SparkSession, path: str, target_partitions: Optional[int]):
    if target_partitions is None:
        target_partitions = spark.sparkContext.defaultParallelism
    files = list_warc_files(path)
    if not files:
        return None
    bins = pack_bins(files, target_partitions)
    schema = T.StructType(
        [T.StructField("paths", T.ArrayType(T.StringType()), False)]
    )
    rdd = spark.sparkContext.parallelize([(b,) for b in bins], len(bins))
    return spark.createDataFrame(rdd, schema)


def read_warc(spark: SparkSession, path: str,
              target_partitions: Optional[int] = None,
              rows_per_batch: int = ROWS_PER_BATCH) -> DataFrame:
    """WARC files -> pages DataFrame (url, warc_ts, html, lang): the
    crawl-archive twin of ``spark.read.parquet(pages_table)``.  Files are
    LPT-packed into one bin per task; records stream through the parser
    with bounded memory."""
    plan = _bin_plan(spark, path, target_partitions)
    if plan is None:
        return spark.createDataFrame([], PAGES_SCHEMA)
    return plan.mapInArrow(_make_warc_scan(rows_per_batch),
                           schema=PAGES_SCHEMA)


def extract_from_warc(
    spark: SparkSession,
    path: str,
    options: Options = DEFAULT_OPTIONS,
    target_partitions: Optional[int] = None,
    rows_per_batch: int = ROWS_PER_BATCH,
) -> DataFrame:
    """Single-hop WARC extraction: one mapInArrow stage parses the
    archive AND runs the kernel, so HTML bytes move disk -> extracting
    worker exactly once (the fastscan pattern, sources/fastscan.py)."""
    from ..plans.job import make_extract_arrow_batches

    plan = _bin_plan(spark, path, target_partitions)
    if plan is None:
        return spark.createDataFrame([], OUTPUT_SCHEMA)
    kernel = make_extract_arrow_batches(options)
    parse = _make_warc_scan(rows_per_batch)

    def scan_extract(batches):
        yield from kernel(parse(batches))

    return plan.mapInArrow(scan_extract, schema=OUTPUT_SCHEMA)


# --- Spark sink --------------------------------------------------------------------


def write_warc(pages: DataFrame, out_dir: str, n_files: int = 16) -> DataFrame:
    """Write a pages DataFrame as ``part-NNNNN.warc.gz`` files under
    ``out_dir``; returns the written-file manifest (file, n_records,
    bytes) — the caller triggers the write by an action on it.

    Files are assigned deterministically (``xxhash64(url) % n_files``)
    and each file is written sorted by url, so re-running the sink over
    the same table produces byte-identical archives (mtime=0 in the gzip
    header for the same reason).  Each task writes only its own files —
    the standard distributed-sink contract; on a cluster ``out_dir``
    must be a shared/object filesystem."""
    os.makedirs(out_dir, exist_ok=True)
    assigned = pages.withColumn(
        "_file_idx", F.pmod(F.xxhash64("url"), F.lit(n_files)).cast("int")
    )
    cols = [c for c in ("url", "warc_ts", "html", "lang")
            if c in pages.columns]

    def write_partition(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        rows_by_idx: dict[int, list[dict]] = {}
        for batch in batches:
            for row in batch.to_pylist():
                rows_by_idx.setdefault(row["_file_idx"], []).append(row)
        out = []
        for idx, rows in sorted(rows_by_idx.items()):
            rows.sort(key=lambda r: r["url"])
            dest = os.path.join(out_dir, f"part-{idx:05d}.warc.gz")
            # task-attempt temp name + atomic rename: a speculative or
            # retried attempt of the same partition can run concurrently,
            # and two writers on the final path would interleave gzip
            # members (corrupting both the archive and its .cdx offsets);
            # os.replace publishes only a fully-written file
            tmp = f"{dest}.inprogress-{os.getpid()}"
            index: list[str] = []
            n = offset = 0
            with open(tmp, "wb") as sink:
                for row in rows:
                    rec = build_warc_record(
                        row["url"], row.get("warc_ts"),
                        bytes(row.get("html") or b""), row.get("lang"),
                    )
                    # one gzip member per record = the Common Crawl layout;
                    # (offset, length) of the member is the CDX random-
                    # access contract — one seek + one gunzip per record
                    member = gzip.compress(rec, mtime=0)
                    sink.write(member)
                    ts = row.get("warc_ts")
                    index.append("\t".join((
                        row["url"],
                        ts.strftime(_WARC_DATE) if ts else "-",
                        os.path.basename(dest),
                        str(offset), str(len(member)),
                    )))
                    offset += len(member)
                    n += 1
            os.replace(tmp, dest)
            cdx_dest = dest[: -len(".warc.gz")] + ".cdx"
            cdx_tmp = f"{cdx_dest}.inprogress-{os.getpid()}"
            with open(cdx_tmp, "w") as cdx:
                cdx.write("\n".join(index) + ("\n" if index else ""))
            os.replace(cdx_tmp, cdx_dest)
            out.append({"file": dest, "n_records": n,
                        "bytes": os.path.getsize(dest)})
        if out:
            yield pa.RecordBatch.from_pylist(
                out, schema=to_arrow_schema(WRITE_RESULT_SCHEMA)
            )

    return (
        assigned.select("_file_idx", *cols)
        .repartition(n_files, "_file_idx")
        .mapInArrow(write_partition, schema=WRITE_RESULT_SCHEMA)
    )


# --- CDX index ---------------------------------------------------------------------


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """The sink's ``.cdx`` sidecars as a DataFrame (url, warc_ts, file,
    offset, length) — the lookup table for random access into the
    archives.  Plain tab-separated text through Spark's csv reader, so at
    warehouse scale the index itself is a normal distributed scan."""
    df = (
        spark.read.option("sep", "\t")
        .option("pathGlobFilter", "*.cdx")
        .schema("url STRING, ts STRING, file STRING, "
                "offset LONG, length LONG")
        .csv(path)
    )
    return df.select(
        "url",
        F.to_timestamp(F.when(F.col("ts") != "-", F.col("ts")),
                       "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_ts"),
        "file", "offset", "length",
    )


def fetch_warc_record(archive_dir: str, file: str, offset: int,
                      length: int, url: Optional[str] = None
                      ) -> Optional[dict]:
    """Random access: read ONE record by its CDX coordinates (seek +
    bounded read + gunzip of a single member — never touches the rest of
    the archive).  Returns the parsed record dict or None.

    ``url``: foreign writers may pack SEVERAL records into one gzip
    member, so a CDX line's (offset, length) only addresses the member;
    when ``url`` is given, the member's records are scanned for the one
    whose WARC-Target-URI matches (our own sink's one-record-per-member
    layout short-circuits on the first record either way)."""
    with open(os.path.join(archive_dir, file), "rb") as f:
        f.seek(offset)
        member = f.read(length)
    stream = io.BufferedReader(gzip.GzipFile(fileobj=io.BytesIO(member)))
    with stream:
        for rec in parse_warc_stream(stream):
            if url is None or rec.get("url") == url:
                return rec
    return None


def fetch_records(cdx: DataFrame, archive_dir: str,
                  rows_per_batch: int = ROWS_PER_BATCH) -> DataFrame:
    """Distributed random access: resolve a CDX selection back into pages
    (url, warc_ts, html, lang) — one seek + one-member gunzip per row,
    never a sequential archive scan.  This is the Common-Crawl re-fetch
    pattern (an index query picks records, then range-reads hit only
    those byte ranges); against an object store the seek becomes a range
    request.  Input needs (file, offset, length); ``url``, when present,
    addresses records inside multi-record members (foreign framings —
    see fetch_warc_record).  Missing files/corrupt members are skipped
    (same never-raise contract as the sequential parser)."""
    has_url = "url" in cdx.columns

    def fetch(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        def records():
            for batch in batches:
                for row in batch.to_pylist():
                    try:
                        rec = fetch_warc_record(
                            archive_dir, row["file"], row["offset"],
                            row["length"], url=row.get("url"),
                        )
                    except OSError:
                        continue
                    if rec is not None:
                        yield rec

        yield from _records_to_batches(
            records(), to_arrow_schema(PAGES_SCHEMA), rows_per_batch)

    cols = (["url"] if has_url else []) + ["file", "offset", "length"]
    return cdx.select(*cols).mapInArrow(fetch, schema=PAGES_SCHEMA)
