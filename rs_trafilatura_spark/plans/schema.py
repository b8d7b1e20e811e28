"""The engine's two table contracts (SURVEY.md §1).

- ``PAGES_SCHEMA`` / ``PAGE_COLUMNS``: the one pages contract, what every
  source yields and the kernel reads — (url, warc_ts, html, lang).  The
  parquet, fastscan, WARC and streaming paths all take it from here.
- ``OUTPUT_SCHEMA``: StructType mirror of the reference's
  ExtractResult/Metadata (result.rs:36-136; SURVEY.md §1.2), plus the
  engine's `spans` (source offsets) and `stage` (lineage) columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("lang", T.StringType(), True),
])
# the page columns the kernel reads; warc_ts and lang may be absent
PAGE_COLUMNS = tuple(PAGES_SCHEMA.names)

IMAGE_STRUCT = T.StructType([
    T.StructField("src", T.StringType(), True),
    T.StructField("filename", T.StringType(), True),
    T.StructField("alt", T.StringType(), True),
    T.StructField("caption", T.StringType(), True),
    T.StructField("is_hero", T.BooleanType(), True),
])

SPAN_STRUCT = T.StructType([
    T.StructField("start", T.LongType(), True),
    T.StructField("end", T.LongType(), True),
    T.StructField("kind", T.StringType(), True),
])

OUTPUT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("content_text", T.StringType(), True),
    T.StructField("content_html", T.StringType(), True),
    T.StructField("content_markdown", T.StringType(), True),
    T.StructField("comments_text", T.StringType(), True),
    T.StructField("comments_html", T.StringType(), True),
    T.StructField("images", T.ArrayType(IMAGE_STRUCT), True),
    T.StructField("title", T.StringType(), True),
    T.StructField("author", T.StringType(), True),
    T.StructField("canonical_url", T.StringType(), True),
    T.StructField("hostname", T.StringType(), True),
    T.StructField("description", T.StringType(), True),
    T.StructField("sitename", T.StringType(), True),
    T.StructField("date", T.TimestampType(), True),
    T.StructField("categories", T.ArrayType(T.StringType()), True),
    T.StructField("tags", T.ArrayType(T.StringType()), True),
    T.StructField("id", T.StringType(), True),
    T.StructField("fingerprint", T.StringType(), True),
    T.StructField("license", T.StringType(), True),
    T.StructField("language", T.StringType(), True),
    T.StructField("image", T.StringType(), True),
    T.StructField("page_type", T.StringType(), True),
    T.StructField("classification_confidence", T.DoubleType(), True),
    T.StructField("extraction_quality", T.DoubleType(), True),
    T.StructField("warnings", T.ArrayType(T.StringType()), True),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    T.StructField("stage", T.StringType(), False),
])

# column order the kernel emits (must match OUTPUT_SCHEMA field order)
OUTPUT_COLUMNS = [f.name for f in OUTPUT_SCHEMA.fields]

# every value the `stage` column can take: the kernel cascade's stages
# (kernel/extract.py, kernel/fallback.py) plus the closures' "error" row
STAGES = (
    "main", "ancestor_walkup", "bottom_up", "relaxed_boilerplate",
    "split_body", "body", "empty", "jsonld_body", "jsonld_product",
    "discourse", "merge", "repeated_items", "baseline_article",
    "baseline_rescue", "baseline_body", "baseline_doc", "error",
)
