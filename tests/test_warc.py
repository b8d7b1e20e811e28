"""WARC source/sink: spec round-trips, malformed-stream recovery, the
deterministic sink contract, and parity with the table extraction path."""

import gzip
import io
from datetime import datetime, timezone

import pytest


def _rec(i, lang="en"):
    from rs_trafilatura_spark.sources.warc import build_warc_record

    return build_warc_record(
        f"https://ex.com/p{i}",
        datetime(2026, 1, 1, 0, 0, i, tzinfo=timezone.utc),
        f"<html><body><p>doc {i} body text</p></body></html>".encode(),
        lang,
    )


def test_record_roundtrip_plain_and_gzip(tmp_path):
    from rs_trafilatura_spark.sources.warc import _open_warc, parse_warc_stream

    recs = [_rec(i, "en" if i % 2 == 0 else None) for i in range(5)]
    plain = tmp_path / "a.warc"
    plain.write_bytes(b"".join(recs))
    gz = tmp_path / "a.warc.gz"
    # one gzip member per record — the Common Crawl layout
    gz.write_bytes(b"".join(gzip.compress(r, mtime=0) for r in recs))

    # each archive from its path and from an in-memory buffer
    sources = [str(plain), str(gz)] + [
        io.BufferedReader(io.BytesIO(p.read_bytes())) for p in (plain, gz)
    ]
    for src in sources:
        with _open_warc(src) as s:
            out = list(parse_warc_stream(s))
        assert [r["url"] for r in out] == [f"https://ex.com/p{i}" for i in range(5)]
        assert out[4]["html"] == b"<html><body><p>doc 4 body text</p></body></html>"
        assert out[2]["lang"] == "en" and out[1]["lang"] is None
        assert out[3]["warc_ts"] == datetime(2026, 1, 1, 0, 0, 3,
                                             tzinfo=timezone.utc)


def test_parser_skips_malformed_records():
    from rs_trafilatura_spark.sources.warc import parse_warc_stream

    recs = [_rec(0), _rec(1), _rec(2)]
    blob = (recs[0] + b"garbage, not a warc header\r\n\r\n"
            + recs[1][:40] + recs[2])
    with io.BufferedReader(io.BytesIO(blob)) as s:
        got = [r["url"] for r in parse_warc_stream(s)]
    # record 0 parses, the truncated record 1 is skipped, 2 recovers
    assert got[0] == "https://ex.com/p0"
    assert "https://ex.com/p2" in got
    assert "https://ex.com/p1" not in got


def test_parser_skips_non_response_records():
    from rs_trafilatura_spark.sources.warc import parse_warc_stream

    warcinfo = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
                b"Content-Length: 4\r\n\r\nabcd\r\n\r\n")
    with io.BufferedReader(io.BytesIO(warcinfo + _rec(7))) as s:
        got = [r["url"] for r in parse_warc_stream(s)]
    assert got == ["https://ex.com/p7"]


def test_deterministic_sink_bytes(spark, tmp_path):
    from rs_trafilatura_spark.datagen.corpus import generate_pages_df
    from rs_trafilatura_spark.sources.warc import write_warc

    pages = generate_pages_df(spark, n_rows=40)
    d1, d2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    m1 = {r["file"].split("/")[-1]: r["n_records"]
          for r in write_warc(pages, d1, n_files=3).collect()}
    m2 = {r["file"].split("/")[-1]: r["n_records"]
          for r in write_warc(pages, d2, n_files=3).collect()}
    assert m1 == m2 and sum(m1.values()) == 40
    for name in m1:
        b1 = (tmp_path / "w1" / name).read_bytes()
        b2 = (tmp_path / "w2" / name).read_bytes()
        assert b1 == b2, f"{name} not byte-identical across runs"


def test_warc_spark_roundtrip_and_extract_parity(spark, tmp_path):
    from rs_trafilatura_spark.datagen.corpus import generate_pages_df
    from rs_trafilatura_spark.plans.job import run_extraction
    from rs_trafilatura_spark.sources.warc import (
        extract_from_warc,
        read_warc,
        write_warc,
    )

    pages = generate_pages_df(spark, n_rows=60)
    out = str(tmp_path / "warc")
    write_warc(pages, out, n_files=4).count()

    back = {r["url"]: (bytes(r["html"]), r["lang"], r["warc_ts"])
            for r in read_warc(spark, out).collect()}
    orig = {r["url"]: (bytes(r["html"]), r["lang"], r["warc_ts"])
            for r in pages.collect()}
    assert back == orig

    via_table = {(r["url"], r["content_text"], r["stage"])
                 for r in run_extraction(spark, pages).collect()}
    via_warc = {(r["url"], r["content_text"], r["stage"])
                for r in extract_from_warc(spark, out).collect()}
    assert via_table == via_warc


def test_read_warc_empty_dir(spark, tmp_path):
    from rs_trafilatura_spark.sources.warc import read_warc

    df = read_warc(spark, str(tmp_path))
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["url", "warc_ts", "html", "lang"]
    # an empty file is read as an empty archive, whatever its suffix
    (tmp_path / "x.warc.gz").write_bytes(b"")
    assert read_warc(spark, str(tmp_path)).count() == 0


def test_cdx_index_and_random_access(spark, tmp_path):
    from rs_trafilatura_spark.datagen.corpus import generate_pages_df
    from rs_trafilatura_spark.sources.warc import (
        fetch_warc_record,
        read_cdx,
        write_warc,
    )

    pages = generate_pages_df(spark, n_rows=30)
    out = str(tmp_path / "arch")
    write_warc(pages, out, n_files=3).count()
    idx = read_cdx(spark, out).collect()
    assert len(idx) == 30
    orig = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    for r in idx[:10]:
        rec = fetch_warc_record(out, r["file"], r["offset"], r["length"])
        assert rec is not None and rec["url"] == r["url"]
        assert rec["html"] == orig[r["url"]]


def test_fetch_records_distributed(spark, tmp_path):
    from rs_trafilatura_spark.datagen.corpus import generate_pages_df
    from rs_trafilatura_spark.sources.warc import (
        fetch_records,
        read_cdx,
        write_warc,
    )

    pages = generate_pages_df(spark, n_rows=30)
    out = str(tmp_path / "arch")
    write_warc(pages, out, n_files=3).count()
    got = {r["url"]: bytes(r["html"])
           for r in fetch_records(read_cdx(spark, out), out).collect()}
    assert got == {r["url"]: bytes(r["html"]) for r in pages.collect()}


def test_fetch_records_skips_missing_file(spark, tmp_path):
    from rs_trafilatura_spark.sources.warc import fetch_records

    cdx = spark.createDataFrame(
        [("nope.warc.gz", 0, 100)], ["file", "offset", "length"])
    assert fetch_records(cdx, str(tmp_path)).count() == 0


def test_streaming_warc_ingest_parity(spark, tmp_path):
    """binaryFile readStream over landed archives -> streaming parse +
    kernel == the batch table path."""
    from rs_trafilatura_spark.datagen.corpus import generate_pages_df
    from rs_trafilatura_spark.plans.job import run_extraction
    from rs_trafilatura_spark.sources.warc import write_warc
    from rs_trafilatura_spark.streaming.pipeline import (
        run_warc_stream_to_memory,
    )

    pages = generate_pages_df(spark, n_rows=40)
    src = str(tmp_path / "crawl")
    write_warc(pages, src, n_files=3).count()
    out = run_warc_stream_to_memory(spark, src, query_name="ws_pytest")
    got = {(r["url"], r["content_text"], r["stage"]) for r in out.collect()}
    want = {(r["url"], r["content_text"], r["stage"])
            for r in run_extraction(spark, pages).collect()}
    assert got == want


def test_foreign_framed_archive_sequential_and_random_access(spark, tmp_path):
    """Archives framed by a DIFFERENT writer (multi-record gzip members,
    FNAME/mtime/level-varying headers, empty padding members) must work
    through both the sequential parser and CDX random access — including
    the SECOND record of a member, which shares its (offset, length) with
    the first and is only addressable by url."""
    from datetime import datetime, timezone

    from rs_trafilatura_spark.datagen.foreign_warc import write_foreign_warc
    from rs_trafilatura_spark.sources.warc import (
        fetch_records, fetch_warc_record, read_cdx, read_warc,
    )

    rows = [
        {"url": f"https://f.example/p{i}",
         "warc_ts": datetime(2026, 1, 1, tzinfo=timezone.utc),
         "html": f"<html><body><p>page {i} body</p></body></html>".encode(),
         "lang": "en"}
        for i in range(7)  # odd count -> last member has ONE record
    ]
    d = str(tmp_path / "foreign")
    write_foreign_warc(rows, d, records_per_member=2)

    # sequential ingest sees every record despite padding members
    seq = {r["url"]: bytes(r["html"]) for r in read_warc(spark, d).collect()}
    assert seq == {r["url"]: r["html"] for r in rows}

    # random access: every CDX line resolves to ITS record's bytes
    cdx = read_cdx(spark, d)
    assert cdx.count() == 7
    back = {r["url"]: bytes(r["html"])
            for r in fetch_records(cdx, d).collect()}
    assert back == {r["url"]: r["html"] for r in rows}

    # the second record of a shared member differs from the first
    lines = {r["url"]: r for r in cdx.collect()}
    a, b = lines["https://f.example/p0"], lines["https://f.example/p1"]
    assert (a["offset"], a["length"]) == (b["offset"], b["length"])
    rec = fetch_warc_record(d, b["file"], b["offset"], b["length"],
                            url="https://f.example/p1")
    assert rec["url"] == "https://f.example/p1"
    assert bytes(rec["html"]) == rows[1]["html"]
