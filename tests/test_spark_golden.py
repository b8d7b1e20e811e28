"""Golden end-to-end gate (FIXTURES.md §2): deterministic synthetic corpus
-> Spark extraction job -> join on url -> BYTE-IDENTICAL text per row, plus
per-family metadata assertions and checkpoint/resume behavior.
"""

import dataclasses
import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from rs_trafilatura_spark.datagen import (
    generate_expected_meta_df,
    generate_pages_df,
)
from rs_trafilatura_spark.options import Options
from rs_trafilatura_spark.plans import run_extraction, stage_metrics

N_ROWS = 200
OPTS = Options(deduplicate=True)


@pytest.fixture(scope="module")
def extracted(spark):
    pages = generate_pages_df(spark, N_ROWS)
    out = run_extraction(spark, pages, OPTS)
    out.cache()
    yield out
    out.unpersist()


def test_byte_identical_text(spark, extracted):
    pages = generate_pages_df(spark, N_ROWS).select("url", "text")
    joined = extracted.select("url", "content_text").join(pages, "url", "inner")
    assert joined.count() == N_ROWS
    mismatches = joined.filter(
        ~(F.col("content_text").eqNullSafe(F.col("text")))
    )
    bad = mismatches.limit(3).collect()
    assert not bad, f"byte mismatch for: {[r['url'] for r in bad]}"


def test_stage_and_metadata(spark, extracted):
    meta = generate_expected_meta_df(spark, N_ROWS)
    joined = extracted.join(meta, "url", "inner").cache()
    assert joined.count() == N_ROWS

    stage_bad = joined.filter(F.col("stage") != F.col("exp_stage")).count()
    assert stage_bad == 0

    ptype_bad = joined.filter(
        ~F.col("page_type").eqNullSafe(F.col("exp_page_type"))
    ).count()
    assert ptype_bad == 0

    author_bad = joined.filter(
        F.col("exp_author").isNotNull()
        & ~F.col("author").eqNullSafe(F.col("exp_author"))
    ).count()
    assert author_bad == 0

    date_bad = joined.filter(
        F.col("exp_date").isNotNull()
        & ~F.col("date").eqNullSafe(F.col("exp_date"))
    ).count()
    assert date_bad == 0

    lang_bad = joined.filter(
        ~F.col("language").eqNullSafe(F.col("exp_language"))
    ).count()
    assert lang_bad == 0
    joined.unpersist()


def test_stage_metrics_shape(extracted):
    rows = stage_metrics(extracted).collect()
    stages = {r["stage"] for r in rows}
    assert "main" in stages
    assert sum(r["n_pages"] for r in rows) == N_ROWS


def test_checkpoint_resume(spark, tmp_path):
    from rs_trafilatura_spark.sources import (
        completed_chunks,
        read_output,
        run_extraction_checkpointed,
    )

    out_dir = str(tmp_path / "out")
    pages = generate_pages_df(spark, 60)
    s1 = run_extraction_checkpointed(spark, pages, out_dir, OPTS, n_chunks=4)
    assert s1["chunks_run"] == 4 and s1["chunks_skipped"] == 0
    assert len(completed_chunks(out_dir)) == 4

    # wipe one chunk's manifest -> only that chunk re-runs
    os.remove(os.path.join(out_dir, "_manifest", "chunk-2.json"))
    s2 = run_extraction_checkpointed(spark, pages, out_dir, OPTS, n_chunks=4)
    assert s2["chunks_run"] == 1 and s2["chunks_skipped"] == 3

    total = read_output(spark, out_dir).count()
    assert total == 60

    # manifest carries lineage + stage metrics
    entry = completed_chunks(out_dir)[2]
    assert entry["rows"] > 0
    assert entry["input_fingerprint"]
    assert isinstance(entry["stages"], dict) and entry["stages"]
    assert entry["wall_time_sec"] >= 0


def test_output_schema_stable(extracted):
    from rs_trafilatura_spark.plans import OUTPUT_SCHEMA

    assert extracted.schema == OUTPUT_SCHEMA


def test_salted_host_agg_matches_direct(spark):
    """Two-stage salted aggregation == direct groupBy (the skew recipe)."""
    from rs_trafilatura_spark.plans import salted_host

    pages = generate_pages_df(spark, 150).withColumn(
        "host", F.regexp_extract("url", r"https://([^/]+)/", 1)
    )
    direct = {
        r["host"]: r["n"]
        for r in pages.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    salted = (
        pages.withColumn("skey", salted_host(F.col("host"), F.col("url")))
        .groupBy("skey").agg(F.count("*").alias("n1"))
        .withColumn("host", F.split(F.col("skey"), "#")[0])
        .groupBy("host").agg(F.sum("n1").alias("n"))
    )
    assert {r["host"]: r["n"] for r in salted.collect()} == direct


def _kernel_input_batch():
    """One input row for the Arrow kernel closure, with no warc_ts column."""
    import pyarrow as pa

    return pa.RecordBatch.from_pydict({
        "url": pa.array(["https://x/1"], pa.string()),
        "html": pa.array([b"<html><body><p>x</p></body></html>"], pa.binary()),
        "lang": pa.array(["en"], pa.string()),
    })


def test_kernel_error_degrades_to_row(spark, monkeypatch):
    """A page that crashes the kernel yields stage='error', not a dead task."""
    import importlib

    # attribute access resolves to the extract() FUNCTION re-exported by the
    # kernel package, so fetch the module through importlib
    kx = importlib.import_module("rs_trafilatura_spark.kernel.extract")
    from rs_trafilatura_spark.plans.job import make_extract_arrow_batches

    out = run_extraction(spark, generate_pages_df(spark, 8))
    assert out.filter(F.col("stage") == "error").count() == 0

    # in-process guard check: the same closure the workers run
    def boom(html, opts):
        raise RuntimeError("synthetic kernel failure")

    monkeypatch.setattr(kx, "extract_bytes", boom)
    fn = make_extract_arrow_batches(OPTS)
    (result,) = list(fn(iter([_kernel_input_batch()])))
    row = result.to_pylist()[0]
    assert row["stage"] == "error"
    assert "synthetic kernel failure" in row["warnings"][0]
    assert row["url"] == "https://x/1" and row["language"] == "en"
    assert row["warc_ts"] is None  # no warc_ts column in the input


def test_kernel_import_error_fails_batch(monkeypatch):
    """A missing shipped module is a broken deployment, not a bad page: the
    guard re-raises ImportError instead of emitting a stage='error' row."""
    import importlib

    kx = importlib.import_module("rs_trafilatura_spark.kernel.extract")
    from rs_trafilatura_spark.plans.job import make_extract_arrow_batches

    def missing(html, opts):
        raise ImportError("No module named 'rs_trafilatura_spark.gone'")

    monkeypatch.setattr(kx, "extract_bytes", missing)
    fn = make_extract_arrow_batches(OPTS)
    with pytest.raises(ImportError, match="gone"):
        list(fn(iter([_kernel_input_batch()])))


def test_null_html_is_an_empty_page():
    """A null html gets the reference's empty-input result
    (extract.rs:161-169), the same row as an empty html, not an error."""
    import pyarrow as pa

    from rs_trafilatura_spark.plans.job import make_extract_arrow_batches

    batch = pa.RecordBatch.from_pydict({
        "url": pa.array(["https://x/null", "https://x/empty"], pa.string()),
        "html": pa.array([None, b""], pa.binary()),
        "lang": pa.array(["en", "en"], pa.string()),
    })
    (result,) = list(make_extract_arrow_batches(OPTS)(iter([batch])))
    null, empty = result.to_pylist()
    assert null["stage"] == empty["stage"] == "empty"
    assert null["warnings"] == ["Empty input document"]
    assert {**null, "url": None} == {**empty, "url": None}


def test_size_aware_repartition_same_rows(spark, extracted):
    """Pages split on both sides of ``large_threshold`` extract to the same
    rows as the plain scan-partitioned run."""
    from rs_trafilatura_spark.plans import size_aware_repartition

    pages = generate_pages_df(spark, N_ROWS)
    sizes = sorted(r[0] for r in pages.select(F.length("html")).collect())
    threshold = sizes[len(sizes) // 2]
    assert sizes[0] <= threshold < sizes[-1]
    spread = size_aware_repartition(pages, 8, large_threshold=threshold)
    assert spread.rdd.getNumPartitions() >= 4
    got = run_extraction(spark, spread, OPTS)
    assert sorted(map(repr, got.collect())) == sorted(
        map(repr, extracted.collect())
    )


def test_checkpoint_refuses_n_chunks_mismatch(spark, tmp_path):
    import pytest

    from rs_trafilatura_spark.sources import run_extraction_checkpointed

    out_dir = str(tmp_path / "out")
    pages = generate_pages_df(spark, 20)
    run_extraction_checkpointed(spark, pages, out_dir, OPTS, n_chunks=2)
    with pytest.raises(ValueError, match="n_chunks"):
        run_extraction_checkpointed(spark, pages, out_dir, OPTS, n_chunks=4)


def test_checkpoint_refuses_options_mismatch(spark, tmp_path):
    """A resume under changed Options is refused; the same Options skip
    every chunk; manifest entries without an Options digest (written
    before it existed) still resume."""
    from rs_trafilatura_spark.sources import run_extraction_checkpointed

    out_dir = str(tmp_path / "out")
    pages = generate_pages_df(spark, 20)
    run_extraction_checkpointed(spark, pages, out_dir, OPTS, n_chunks=2)
    changed = Options(deduplicate=True, output_markdown=True)
    with pytest.raises(ValueError, match="Options"):
        run_extraction_checkpointed(spark, pages, out_dir, changed,
                                    n_chunks=2)
    same = run_extraction_checkpointed(spark, pages, out_dir, OPTS,
                                       n_chunks=2)
    assert same["chunks_skipped"] == 2 and same["chunks_run"] == 0

    mdir = os.path.join(out_dir, "_manifest")
    for name in os.listdir(mdir):
        path = os.path.join(mdir, name)
        with open(path) as f:
            entry = json.load(f)
        del entry["options_digest"]
        with open(path, "w") as f:
            json.dump(entry, f)
    old = run_extraction_checkpointed(spark, pages, out_dir, changed,
                                      n_chunks=2)
    assert old["chunks_skipped"] == 2 and old["chunks_run"] == 0


def test_checkpoint_fingerprint_verify_detects_changed_input(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from rs_trafilatura_spark.sources import run_extraction_checkpointed

    out_dir = str(tmp_path / "out")
    pages = generate_pages_df(spark, 20)
    run_extraction_checkpointed(spark, pages, out_dir, OPTS, n_chunks=2)
    changed = pages.withColumn("url", F.concat(F.col("url"), F.lit("-v2")))
    with pytest.raises(ValueError, match="input changed"):
        run_extraction_checkpointed(
            spark, changed, out_dir, OPTS, n_chunks=2,
            verify_input_fingerprint=True,
        )


def test_checkpoint_manifest_records_input_rows(spark, tmp_path):
    """The manifest stores the INPUT row count separately from the
    output-row sum (ADVICE r2), and unchanged input resumes clean under
    fingerprint verification."""
    from rs_trafilatura_spark.sources import run_extraction_checkpointed
    from rs_trafilatura_spark.sources.checkpoint import completed_chunks

    out_dir = str(tmp_path / "out")
    pages = generate_pages_df(spark, 20)
    run_extraction_checkpointed(spark, pages, out_dir, OPTS, n_chunks=2)
    manifest = completed_chunks(out_dir)
    assert set(manifest) == {0, 1}
    for entry in manifest.values():
        assert "input_rows" in entry
        assert entry["input_rows"] == entry["rows"]  # kernel is row-preserving
    assert sum(e["input_rows"] for e in manifest.values()) == 20
    s2 = run_extraction_checkpointed(
        spark, pages, out_dir, OPTS, n_chunks=2,
        verify_input_fingerprint=True,
    )
    assert s2["chunks_skipped"] == 2 and s2["chunks_run"] == 0


def test_checkpoint_one_job_per_chunk_same_manifest(spark, tmp_path):
    """Each chunk is ONE Spark job (the manifest is observed inside the
    write), and every manifest entry but wall_time_sec equals what a
    re-read of the written chunk plus a rescan of its input compute."""
    from rs_trafilatura_spark.sources import run_extraction_checkpointed
    from rs_trafilatura_spark.sources.checkpoint import completed_chunks

    sc = spark.sparkContext
    out_dir = str(tmp_path / "out")
    n_chunks = 4
    pages = generate_pages_df(spark, N_ROWS)
    group = f"checkpoint-one-job-{tmp_path.name}"
    sc.setJobGroup(group, "checkpointed write")
    try:
        summary = run_extraction_checkpointed(
            spark, pages, out_dir, OPTS, n_chunks=n_chunks)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert summary["chunks_run"] == n_chunks
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == n_chunks

    chunked = pages.withColumn(
        "_chunk", F.pmod(F.xxhash64(F.col("url")), F.lit(n_chunks)))
    manifest = completed_chunks(out_dir)
    assert sorted(manifest) == list(range(n_chunks))
    for k, entry in manifest.items():
        written = spark.read.parquet(os.path.join(out_dir, f"chunk={k}"))
        stages = {r["stage"]: r["n"] for r in
                  written.groupBy("stage").agg(F.count("*").alias("n"))
                  .collect()}
        fp = (chunked.filter(F.col("_chunk") == k)
              .agg(F.expr("bit_xor(xxhash64(url))").alias("f"),
                   F.count("*").alias("n")).collect()[0])
        want = {
            "chunk_id": k, "n_chunks": n_chunks,
            "rows": sum(stages.values()), "input_rows": fp["n"],
            "input_fingerprint": str(fp["f"]), "stages": stages,
            "options_digest": hashlib.sha256(json.dumps(
                dataclasses.asdict(OPTS), sort_keys=True).encode()
            ).hexdigest(),
        }
        got = {key: v for key, v in entry.items() if key != "wall_time_sec"}
        assert got == want, k


def test_read_output_reads_manifest_chunks_only(spark, tmp_path):
    """A chunk directory with no manifest entry (an unfinished write) is
    not part of the output; no completed chunk gives an empty frame."""
    import shutil

    from rs_trafilatura_spark.plans import OUTPUT_SCHEMA
    from rs_trafilatura_spark.sources import (
        read_output, run_extraction_checkpointed,
    )

    empty = read_output(spark, str(tmp_path / "nothing"))
    assert empty.count() == 0
    assert empty.schema.fields[:-1] == OUTPUT_SCHEMA.fields
    assert empty.columns[-1] == "chunk"

    out_dir = str(tmp_path / "out")
    pages = generate_pages_df(spark, 20)
    run_extraction_checkpointed(spark, pages, out_dir, OPTS, n_chunks=2)
    shutil.copytree(os.path.join(out_dir, "chunk=0"),
                    os.path.join(out_dir, "chunk=5"))
    out = read_output(spark, out_dir)
    assert out.count() == 20
    assert {r["chunk"] for r in out.select("chunk").distinct().collect()} \
        == {0, 1}
    assert out.columns == empty.columns
