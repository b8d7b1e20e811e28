"""Custom stateful streaming operator: cross-page boilerplate dedup per host.

Generalizes the reference's per-process LRU segment dedup
(html_processing.rs:694-715; SURVEY.md §2.12) to a stream: repeated text
blocks across pages of the SAME host (cookie banners, footers, promos that
survived extraction) are dropped once seen more than MAX_DUPLICATE_COUNT+1
times.  State = per-host counts of block hashes, held by
``applyInPandasWithState`` with a processing-time timeout so idle hosts
expire.

At 10^12 documents the grouping key (hostname) is zipfian.  With
``n_salts > 1`` the group key becomes the SALTED host
(host + '#' + pmod(xxhash64(url), n_salts) — plans.salted_host semantics) so
one megasite cannot pin a single state partition; dedup then happens within
each salt bucket, a controlled approximation (a boilerplate block repeated R
times is seen ~R/n_salts times per bucket, still far above the duplicate
threshold for the banners this targets).  The default n_salts=1 keys by raw
host: exact reference semantics, right for moderate-skew corpora.
"""

from __future__ import annotations

import zlib
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

MIN_BLOCK_CHARS = 100
MAX_DUPLICATE_COUNT = 2
MAX_STATE_ENTRIES = 4096

OUT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("host", T.StringType(), True),
    T.StructField("content_text", T.StringType(), True),
    T.StructField("n_blocks_dropped", T.IntegerType(), True),
])

STATE_SCHEMA = T.StructType([
    T.StructField("hashes", T.ArrayType(T.LongType()), True),
    T.StructField("counts", T.ArrayType(T.IntegerType()), True),
])


def _dedup_against_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState,
    salted: bool = False,
) -> Iterator[pd.DataFrame]:
    # With n_salts>1 the key is a salted host ("example.com#3"): report the
    # raw host.  Unsalted keys pass through verbatim — a host value that
    # legitimately contains '#' (malformed crawl data) is never mangled.
    raw_host = key[0]
    if salted and raw_host:
        raw_host = raw_host.rsplit("#", 1)[0]
    if state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        hashes, counts = state.get
        seen: dict[int, int] = dict(zip(hashes, counts))
    else:
        seen = {}

    out_rows: list[dict[str, Any]] = []
    for pdf in pdfs:
        for url, text in zip(pdf["url"], pdf["content_text"]):
            kept: list[str] = []
            dropped = 0
            for block in (text or "").split("\n\n"):
                b = block.strip()
                if len(b) <= MIN_BLOCK_CHARS:
                    kept.append(block)
                    continue
                h = zlib.crc32(b.encode("utf-8"))
                count = seen.get(h, 0) + 1
                seen[h] = count
                if count > MAX_DUPLICATE_COUNT + 1:
                    dropped += 1
                else:
                    kept.append(block)
            out_rows.append({
                "url": url,
                "host": raw_host,
                "content_text": "\n\n".join(kept),
                "n_blocks_dropped": dropped,
            })

    # bound state (drop the rarest entries first)
    if len(seen) > MAX_STATE_ENTRIES:
        seen = dict(
            sorted(seen.items(), key=lambda kv: -kv[1])[:MAX_STATE_ENTRIES]
        )
    state.update((list(seen.keys()), [int(v) for v in seen.values()]))
    state.setTimeoutDuration(30 * 60 * 1000)  # 30 min idle -> expire host
    yield pd.DataFrame(out_rows, columns=[f.name for f in OUT_SCHEMA.fields])


def host_dedup_stream(extracted_stream: DataFrame,
                      n_salts: int = 1) -> DataFrame:
    """extracted_stream must carry (url, hostname, content_text).
    n_salts > 1 shards megasites across salt buckets (see module doc)."""
    host = F.coalesce(F.col("hostname"), F.lit("unknown"))
    if n_salts > 1:
        host = F.concat(
            host, F.lit("#"),
            F.pmod(F.xxhash64(F.col("url")), F.lit(n_salts)).cast("string"),
        )
    keyed = extracted_stream.select(
        host.alias("host"), "url", "content_text",
    )
    from functools import partial

    return keyed.groupBy("host").applyInPandasWithState(
        partial(_dedup_against_state, salted=n_salts > 1),
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
