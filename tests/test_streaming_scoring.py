"""Structured Streaming pipeline + F-score evaluation + language filter."""

import pytest
from pyspark.sql import functions as F

from rs_trafilatura_spark.datagen import generate_pages_df
from rs_trafilatura_spark.options import Options


def test_streaming_extraction(spark, tmp_path):
    from rs_trafilatura_spark.streaming.pipeline import run_stream_to_memory

    path = str(tmp_path / "pages")
    generate_pages_df(spark, 40).write.parquet(path)
    out = run_stream_to_memory(spark, path, query_name="stream_t1",
                               options=Options(deduplicate=True))
    rows = out.count()
    assert rows == 40
    # byte-identical through the streaming path too
    pages = generate_pages_df(spark, 40).select("url", "text")
    bad = (
        out.select("url", "content_text").join(pages, "url")
        .filter(~F.col("content_text").eqNullSafe(F.col("text"))).count()
    )
    assert bad == 0
    # every output column equals the batch path's on the same pages
    from rs_trafilatura_spark.plans import OUTPUT_COLUMNS, run_extraction

    batch = run_extraction(spark, spark.read.parquet(path),
                           Options(deduplicate=True))
    got = sorted(map(repr, out.select(*OUTPUT_COLUMNS).collect()))
    want = sorted(map(repr, batch.select(*OUTPUT_COLUMNS).collect()))
    assert got == want


def test_fscore_spark(spark):
    from rs_trafilatura_spark.functions.scoring import fscore_df

    extracted = spark.createDataFrame(
        [("u1", "the quick brown fox"), ("u2", "alpha beta")],
        ["url", "content_text"],
    )
    expected = spark.createDataFrame(
        [("u1", "the quick brown fox"), ("u2", "alpha gamma")],
        ["url", "text"],
    )
    rows = {r["url"]: r for r in fscore_df(extracted, expected).collect()}
    assert rows["u1"]["f1"] == pytest.approx(1.0)
    assert rows["u2"]["precision"] == pytest.approx(0.5)
    assert rows["u2"]["recall"] == pytest.approx(0.5)


def test_fscore_python():
    from rs_trafilatura_spark.functions.scoring import fscore

    p, r, f1 = fscore("The Quick fox", "the quick fox jumps")
    assert p == pytest.approx(1.0)
    assert r == pytest.approx(0.75)
    assert f1 == pytest.approx(2 * 1.0 * 0.75 / 1.75)


def test_language_filter_kernel():
    from rs_trafilatura_spark.kernel import extract

    pad = " ".join(f"Sentence {i} brings plenty of words." for i in range(15))
    html = (
        "<html lang='de'><head><title>T</title></head><body>"
        f"<article><p>GERMAN_BODY {pad}</p></article></body></html>"
    )
    r = extract(html, Options(target_language="en"))
    assert any("does not match target" in w for w in r["warnings"])
    assert r["language"] == "de"
    # graceful pass-through: content still extracted
    assert "GERMAN_BODY" in r["content_text"]


def test_windowed_stage_metrics_stream(spark, tmp_path):
    """Watermarked tumbling-window agg over the extraction stream."""
    import datetime as dt

    from pyspark.sql import functions as F

    from rs_trafilatura_spark.datagen.corpus import generate_pages_df
    from rs_trafilatura_spark.streaming.pipeline import (
        PAGES_SCHEMA,
        extraction_stream,
        read_pages_stream,
        windowed_stage_metrics_stream,
    )

    src = str(tmp_path / "pages_in")
    # spread warc_ts across 3 distinct 10-minute windows
    pages = generate_pages_df(spark, 30).withColumn(
        "warc_ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:00")) +
        (F.monotonically_increasing_id() % 3).cast("int")
        * F.expr("INTERVAL 10 MINUTES"),
    )
    pages.write.mode("overwrite").parquet(src)

    # extraction_stream already watermarks warc_ts -> set_watermark=False
    extracted = extraction_stream(read_pages_stream(spark, src))
    metrics = windowed_stage_metrics_stream(extracted, set_watermark=False)
    q = (metrics.writeStream.outputMode("complete")
         .format("memory").queryName("win_metrics")
         .trigger(availableNow=True).start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM win_metrics").collect()
    assert sum(r["n_pages"] for r in rows) == 30
    windows = {(r["window_start"], r["window_end"]) for r in rows}
    assert len(windows) == 3
    for start, end in windows:
        assert (end - start) == dt.timedelta(minutes=10)
    assert any(r["stage"] == "main" for r in rows)
