"""Python-side parquet scan (sources/fastscan.py): bin packing and
bit-identical parity with the DataFrame-path kernel."""

import os

import pytest

from rs_trafilatura_spark.sources.fastscan import (
    _local_path,
    list_parquet_files,
    pack_bins,
)
from rs_trafilatura_spark.sources.warc import (
    extract_from_warc,
    list_warc_files,
    read_warc,
    write_warc,
)


def test_local_path_forms():
    assert _local_path("file:///tmp/x.parquet") == "/tmp/x.parquet"
    assert _local_path("/tmp/x.parquet") == "/tmp/x.parquet"
    assert _local_path("s3://bucket/key.parquet") is None
    assert _local_path("hdfs://nn/path.parquet") is None
    # inputFiles() percent-encodes; a bare path is taken as it is
    assert (_local_path("file:///x/enc%20dir%2541/p.parquet")
            == "/x/enc dir%41/p.parquet")
    assert _local_path("file:/x/a%23b.parquet") == "/x/a#b.parquet"
    assert _local_path("/x/enc dir%41/p.parquet") == "/x/enc dir%41/p.parquet"


def test_pack_bins_balances_bytes():
    files = [(f"f{i}", size) for i, size in
             enumerate([100, 90, 80, 10, 10, 10, 5, 5])]
    bins = pack_bins(files, 3)
    assert sorted(f for b in bins for f in b) == sorted(f for f, _ in files)
    sizes = {f: s for f, s in files}
    loads = sorted(sum(sizes[f] for f in b) for b in bins)
    # LPT keeps the spread tight: heaviest bin within 25% of lightest here
    assert loads[-1] <= loads[0] * 1.25 + 1


def test_pack_bins_round_robin_when_sizes_unknown():
    files = [(f"f{i}", 0) for i in range(10)]
    bins = pack_bins(files, 4)
    assert sorted(len(b) for b in bins) == [2, 2, 3, 3]


def test_pack_bins_never_exceeds_file_count():
    bins = pack_bins([("a", 1), ("b", 2)], 8)
    assert len(bins) == 2


@pytest.fixture(scope="module")
def small_corpus(spark, tmp_path_factory):
    from rs_trafilatura_spark.datagen.corpus import generate_rows

    path = str(tmp_path_factory.mktemp("fastscan") / "pages.parquet")
    rows = generate_rows(60, 7)
    spark.createDataFrame(rows).repartition(5).write.parquet(path)
    return path


def test_fastscan_matches_dataframe_path(spark, small_corpus):
    from pyspark.sql import functions as F

    from rs_trafilatura_spark.options import Options
    from rs_trafilatura_spark.plans import run_extraction
    from rs_trafilatura_spark.sources import extract_from_parquet

    opts = Options(deduplicate=True)

    def rowhash(df):
        cols = [F.coalesce(F.col(c).cast("string"), F.lit("<null>"))
                for c in df.columns]
        return df.select("url", F.md5(F.concat_ws("\x01", *cols)).alias("h"))

    via_df = {
        r["url"]: r["h"]
        for r in rowhash(
            run_extraction(spark, spark.read.parquet(small_corpus), opts)
        ).collect()
    }
    via_fast = {
        r["url"]: r["h"]
        for r in rowhash(
            extract_from_parquet(spark, small_corpus, opts,
                                 target_partitions=3)
        ).collect()
    }
    assert via_df == via_fast
    assert len(via_df) == 60


def test_fastscan_empty_dir(spark, tmp_path):
    from pyspark.sql import types as T

    from rs_trafilatura_spark.sources import extract_from_parquet

    path = str(tmp_path / "empty.parquet")
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("html", T.BinaryType()),
    ])
    spark.createDataFrame([], schema).write.parquet(path)
    out = extract_from_parquet(spark, path)
    assert out.count() == 0


def test_fastscan_percent_encoded_table_path(spark, tmp_path):
    from rs_trafilatura_spark.datagen.corpus import generate_rows
    from rs_trafilatura_spark.sources import extract_from_parquet

    path = str(tmp_path / "pages dir%41")
    rows = generate_rows(12, 3)
    spark.createDataFrame(rows).repartition(3).write.parquet(path)
    files = list_parquet_files(spark, path)
    assert len(files) == 3
    assert all("%2541" in uri and size > 0 for uri, size in files)
    out = extract_from_parquet(spark, path, target_partitions=2)
    assert sorted(r["url"] for r in out.select("url").collect()) == sorted(
        r["url"] for r in rows)


@pytest.fixture(scope="module")
def small_warc(spark, small_corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fastscan_warc") / "crawl")
    write_warc(spark.read.parquet(small_corpus), path, n_files=5).count()
    return path


def test_scan_plans_have_a_range_leaf(spark, small_corpus, small_warc):
    """The file-bin plan is made in the JVM: its leaf is a Range, not a
    Python RDD of bin paths."""
    from rs_trafilatura_spark.sources import extract_from_parquet

    for df in (extract_from_parquet(spark, small_corpus),
               read_warc(spark, small_warc),
               extract_from_warc(spark, small_warc)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan
        assert "Range (" in plan.strip().splitlines()[-1]


@pytest.mark.parametrize("target, want", [(3, 3), (8, 5)])
def test_scan_partitions_one_bin_each(spark, small_corpus, small_warc,
                                      target, want):
    """5 files give min(target_partitions, 5) partitions, none empty, and
    every input row comes out exactly once."""
    from pyspark.sql import functions as F

    from rs_trafilatura_spark.sources import extract_from_parquet

    assert len(list_parquet_files(spark, small_corpus)) == 5
    assert len(list_warc_files(small_warc)) == 5
    urls = sorted(r["url"] for r in
                  spark.read.parquet(small_corpus).select("url").collect())
    for df in (extract_from_parquet(spark, small_corpus,
                                    target_partitions=target),
               read_warc(spark, small_warc, target_partitions=target)):
        assert df.rdd.getNumPartitions() == want
        rows = df.select("url", F.spark_partition_id().alias("p")).collect()
        assert sorted(r["url"] for r in rows) == urls
        assert len({r["p"] for r in rows}) == want
