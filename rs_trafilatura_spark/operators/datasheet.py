"""Corpus datasheet — the auditable summary sheet for a training corpus
("Datasheets for Datasets", Gebru et al. 2021, applied to the composed
pipeline's output): document / token / char totals, text uniqueness,
per-source and per-language composition, and discrete token-length
percentiles, all as ONE tall engine-exact (section, key, value) frame a
release process can diff between corpus versions.

Shape for 100 TB: the corpus is scanned ONCE — a single GROUPING SETS
aggregation computes both the (source, lang, n_tokens) cube (bounded:
sources x languages x distinct per-doc token counts) and the distinct
text fingerprints in the same shuffle.  The grouped output is
materialized via localCheckpoint (narrow rows, no text) so the five
downstream roll-ups read materialized rows instead of each re-running
the corpus scan.  The only window in the plan orders the token-count
HISTOGRAM — O(distinct per-doc lengths) rows, a corpus-size-independent
constant — never the corpus itself.

Every value is integer (counts, sums, order statistics); the percentile
rule is the discrete order statistic "smallest v with cum_count * 100 >=
p * n_docs", which both engines evaluate in exact integer arithmetic —
no interpolated-percentile float drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

PERCENTILES = (10, 50, 90, 100)

# grouping_id bit values for the two sets below: bits follow the groupBy
# column order (source, lang, n_tokens, fp), 1 = aggregated away
_GID_CUBE = 0b0001     # (source, lang, n_tokens) kept, fp grouped out
_GID_UNIQUE = 0b1110   # fp kept, the rest grouped out


def corpus_datasheet(documents: DataFrame, source_col: str = "source",
                     lang_col: str | None = "lang") -> DataFrame:
    """(section, key, value) datasheet rows.  Sections:

    - overview: n_docs, n_unique_texts, total_tokens, total_chars,
      n_sources, n_langs
    - tokens_percentile: p10 / p50 / p90 / p100 (discrete, exact)
    - docs_per_source / tokens_per_source: key = source value
    - docs_per_lang: key = language value

    ``lang_col=None`` records the whole corpus as 'und' (undetermined)
    — the shape the composed pipeline's output has before a language-ID
    pass is joined on.
    """
    words = F.split(F.col("text"), " ")
    lang_expr = F.lit("und") if lang_col is None else F.col(lang_col)
    stats = documents.select(
        F.col(source_col).alias("source"),
        lang_expr.alias("lang"),
        F.size(words).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.md5(F.col("text").cast("binary")).alias("fp"),
    )
    grouped = (
        stats.groupingSets(
            [["source", "lang", "n_tokens"], ["fp"]],
            "source", "lang", "n_tokens", "fp",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("n_chars").alias("sum_chars"),
            F.grouping_id().alias("gid"),
        )
        # one corpus scan total: both grouping sets share the shuffle,
        # and the checkpoint hands the roll-ups below materialized
        # narrow rows (cube + distinct fingerprints, no text column)
        .localCheckpoint(eager=True)
    )
    cube = grouped.filter(F.col("gid") == _GID_CUBE).select(
        "source", "lang", "n_tokens", "cnt", "sum_chars",
    )

    def _tall(section: str, key_col, value_col) -> DataFrame:
        return cube.groupBy(key_col.alias("key")).agg(
            value_col.alias("value")
        ).select(F.lit(section).alias("section"), "key",
                 F.col("value").cast("long"))

    overview_src = cube.agg(
        F.sum("cnt").alias("n_docs"),
        F.sum(F.col("n_tokens") * F.col("cnt")).alias("total_tokens"),
        F.sum("sum_chars").alias("total_chars"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
    ).crossJoin(
        grouped.filter(F.col("gid") == _GID_UNIQUE)
        .agg(F.count(F.lit(1)).alias("n_unique_texts"))
    )
    overview = overview_src.select(F.expr(
        "stack(6, 'n_docs', n_docs, 'n_unique_texts', n_unique_texts, "
        "'total_tokens', total_tokens, 'total_chars', total_chars, "
        "'n_sources', n_sources, 'n_langs', n_langs) AS (key, value)"
    )).select(F.lit("overview").alias("section"), "key",
              F.col("value").cast("long"))

    # token-length histogram: O(distinct per-doc token counts) rows, so
    # the unpartitioned window is over a bounded constant, not the corpus
    hist = cube.groupBy("n_tokens").agg(F.sum("cnt").alias("c"))
    w_cum = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    w_all = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    cum = hist.select(
        "n_tokens",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("tot"),
    )
    pct_src = cum.agg(*[
        F.min(F.when(F.col("cum") * 100 >= F.lit(p) * F.col("tot"),
                     F.col("n_tokens"))).alias(f"p{p}")
        for p in PERCENTILES
    ])
    pct = pct_src.select(F.expr(
        "stack(" + str(len(PERCENTILES)) + ", "
        + ", ".join(f"'p{p}', p{p}" for p in PERCENTILES)
        + ") AS (key, value)"
    )).select(F.lit("tokens_percentile").alias("section"), "key",
              F.col("value").cast("long"))

    return (
        overview
        .unionByName(pct)
        .unionByName(_tall("docs_per_source", F.col("source"),
                           F.sum("cnt")))
        .unionByName(_tall("tokens_per_source", F.col("source"),
                           F.sum(F.col("n_tokens") * F.col("cnt"))))
        .unionByName(_tall("docs_per_lang", F.col("lang"), F.sum("cnt")))
    )


def datasheet_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`corpus_datasheet` over ``table``'s ``source``,
    ``lang`` and ``text`` columns — generated from the same
    section/percentile tables so operator and oracle cannot drift."""
    pct_rows = " UNION ALL ".join(
        f"SELECT 'tokens_percentile' AS section, 'p{p}' AS key, "
        f"(SELECT min(n_tokens) FROM cum WHERE cum * 100 >= {p} * tot) "
        "AS value FROM (SELECT 1)"
        for p in PERCENTILES
    )
    return (
        "WITH stats AS (SELECT "
        "source, lang, len(string_split(text, ' ')) AS n_tokens, "
        "length(text) AS n_chars, md5(text) AS fp "
        f"FROM {table}), "
        "cube_ AS (SELECT source, lang, n_tokens, count(*) AS cnt, "
        "sum(n_chars) AS sum_chars FROM stats GROUP BY 1, 2, 3), "
        "hist AS (SELECT n_tokens, sum(cnt) AS c FROM cube_ GROUP BY 1), "
        "cum AS (SELECT n_tokens, sum(c) OVER (ORDER BY n_tokens) AS cum, "
        "sum(c) OVER () AS tot FROM hist) "
        "SELECT section, key, CAST(value AS BIGINT) AS value FROM ("
        "SELECT 'overview' AS section, key, value FROM ("
        "SELECT 'n_docs' AS key, count(*) AS value FROM stats "
        "UNION ALL SELECT 'n_unique_texts', count(DISTINCT fp) FROM stats "
        "UNION ALL SELECT 'total_tokens', sum(n_tokens) FROM stats "
        "UNION ALL SELECT 'total_chars', sum(n_chars) FROM stats "
        "UNION ALL SELECT 'n_sources', count(DISTINCT source) FROM stats "
        "UNION ALL SELECT 'n_langs', count(DISTINCT lang) FROM stats) "
        f"UNION ALL {pct_rows} "
        "UNION ALL SELECT 'docs_per_source', source, sum(cnt) "
        "FROM cube_ GROUP BY source "
        "UNION ALL SELECT 'tokens_per_source', source, "
        "sum(n_tokens * cnt) FROM cube_ GROUP BY source "
        "UNION ALL SELECT 'docs_per_lang', lang, sum(cnt) "
        "FROM cube_ GROUP BY lang)"
    )
