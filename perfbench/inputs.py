"""Seeded inputs for the benchmark's workloads and the near_dup corpus the
traced run scores the dedup layers on.

Every workload is a directory of parquet files (``pages/``: url, warc_ts,
html, lang) that is the only thing the program under test reads, plus a
``golden.parquet`` sidecar the benchmark keeps to itself (url, expected
text, and for ``near_dup`` the planted source url and copy kind).

Inputs are a pure function of (generator version, workload, seed, size)
and are cached on exactly that key, so repeated runs with one seed skip
generation.  Each entry is built in a scratch directory and renamed into
place, so an interrupted run never leaves a half-written cache entry.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

# bump when anything below changes what a seed generates
GENERATOR_VERSION = 1

# pages per workload: sized so one timed job takes ~1-4 s on local[4]
SIZES = {"fixture_mix": 1000, "large_pages": 64, "near_dup": 600}
# parquet files per table: 2 per core at local[4], one row group each
FILES = 8

# near_dup: copies are planted only from families whose golden text is long
# plain prose in UTF-8, so a one-word edit keeps the pair's Jaccard far
# above the 0.8 threshold even for the 64-hash signature estimate
# (sd ~0.03 there), and the page passes curation's quality gates
_COPY_FAMILIES = frozenset({
    "article_plain", "article_boilerplate", "main_only", "heuristic_div",
    "entry_content", "metadata_rich", "tables", "split_body",
})
# edit words come from outside the generator's vocabulary, so every edit
# really changes the text
_EDIT_WORDS = ("copper", "violet", "saffron", "granite", "marble", "cobalt",
               "indigo", "walnut", "crimson", "silver")


@dataclass(frozen=True)
class Inputs:
    workload: str
    seed: int
    n_pages: int
    root: str

    @property
    def pages_dir(self) -> str:
        return os.path.join(self.root, "pages")

    @property
    def golden_path(self) -> str:
        return os.path.join(self.root, "golden.parquet")


def _cache_key(workload: str, seed: int, n: int) -> str:
    from rs_trafilatura_spark.datagen import corpus

    return (f"{workload}-v{GENERATOR_VERSION}.{corpus.GENERATOR_VERSION}."
            f"{corpus.LARGE_GENERATOR_VERSION}-seed{seed}-n{n}")


def workload_inputs(cache_dir: str, workload: str, seed: int) -> Inputs:
    """Return the cached inputs for (workload, seed), generating them on a
    cache miss."""
    n = SIZES[workload]
    final = os.path.join(cache_dir, _cache_key(workload, seed, n))
    if not os.path.isdir(final):
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        _generate(tmp, workload, seed, n)
        try:
            os.rename(tmp, final)
        except OSError:
            # another run with the same seed finished first: keep its copy
            shutil.rmtree(tmp, ignore_errors=True)
    return Inputs(workload, seed, n, final)


def _generate(out: str, workload: str, seed: int, n: int) -> None:
    from rs_trafilatura_spark.datagen.corpus import generate_large_row

    if workload == "fixture_mix":
        rows = [_golden(r) for r in _stratified(seed, n)]
    elif workload == "large_pages":
        rows = [_golden(generate_large_row(i, seed)) for i in range(n)]
    elif workload == "near_dup":
        rows = _near_dup_rows(seed, n)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    os.makedirs(out)
    _write_pages(os.path.join(out, "pages"), rows)
    _write_golden(os.path.join(out, "golden.parquet"), rows)


def _quotas(n: int) -> dict[str, int]:
    """Pages per family for an n-page corpus: the generator's family
    weights, rounded by largest remainder so they sum to n."""
    from rs_trafilatura_spark.datagen.corpus import _FAMILIES

    total = sum(w for _, w in _FAMILIES)
    exact = {f: n * w / total for f, w in _FAMILIES}
    quotas = {f: int(x) for f, x in exact.items()}
    by_remainder = sorted(exact, key=lambda f: quotas[f] - exact[f])
    for f in by_remainder[:n - sum(quotas.values())]:
        quotas[f] += 1
    return quotas


def _stratified(seed: int, n: int) -> list[dict]:
    """The first rows of the seed's fixture stream that fill every family's
    quota.  A free draw would let the count of rare, heavy families (one
    huge_page is ~150 small pages of work) swing the corpus cost from seed
    to seed; fixed quotas keep the work per seed the same while the pages
    themselves still change with the seed."""
    from rs_trafilatura_spark.datagen.corpus import generate_row

    left = _quotas(n)
    rows, i = [], 0
    while len(rows) < n:
        row = generate_row(i, seed)
        if left[row["family"]]:
            left[row["family"]] -= 1
            rows.append(row)
        i += 1
    return rows


def _golden(row: dict, src_url: str | None = None, kind: str = "base") -> dict:
    return {**row, "src_url": src_url, "kind": kind}


def _near_dup_rows(seed: int, n: int) -> list[dict]:
    """Fixture pages where a third are planted copies of other pages: half
    exact byte copies, half with one word of one paragraph replaced.  A
    copy lives on a mirror host under the same path, so URL-based page
    typing treats it like its source."""
    rnd = random.Random(f"perfbench-near_dup:{seed}")
    n_base = n - n // 3
    base = _stratified(seed, n_base)
    eligible = [r for r in base if r["family"] in _COPY_FAMILIES]
    sources = rnd.sample(eligible, min(n - n_base, len(eligible)))
    rows = [_golden(r) for r in base]
    for k, src in enumerate(sources):
        copy = dict(src)
        copy["url"] = src["url"].replace("://www.site", "://www.mirror", 1)
        kind = "exact"
        if k % 2:
            edited = _edit(rnd, src["html"], src["text"])
            if edited is not None:
                copy["html"], copy["text"] = edited
                kind = "edited"
        rows.append(_golden(copy, src_url=src["url"], kind=kind))
    rnd.shuffle(rows)
    return rows


def _edit(rnd: random.Random, html: bytes, text: str):
    """Replace one inner word of a paragraph that occurs exactly once in
    both the html and the golden text; None if no paragraph qualifies."""
    paras = [
        p for p in text.split("\n\n")
        if len(p.split(" ")) >= 8 and text.count(p) == 1
        and html.count(p.encode()) == 1
    ]
    if not paras:
        return None
    para = rnd.choice(paras)
    words = para.split(" ")
    words[rnd.choice([j for j in range(1, len(words) - 1)
                      if words[j].isalpha()])] = rnd.choice(_EDIT_WORDS)
    new = " ".join(words)
    return html.replace(para.encode(), new.encode()), text.replace(para, new)


def _write_pages(path: str, rows: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("lang", pa.string()),
    ])
    os.makedirs(path)
    for f in range(FILES):
        part = rows[f::FILES]
        table = pa.table({
            "url": [r["url"] for r in part],
            "warc_ts": [r["warc_ts"] for r in part],
            "html": [r["html"] for r in part],
            "lang": [r["lang"] for r in part],
        }, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def _write_golden(path: str, rows: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "url": [r["url"] for r in rows],
        "text": [r["text"] for r in rows],
        "src_url": pa.array([r["src_url"] for r in rows], pa.string()),
        "kind": [r["kind"] for r in rows],
    }), path)


def read_golden(inputs: Inputs) -> dict[str, dict]:
    """url -> {"text", "src_url", "kind"}."""
    import pyarrow.parquet as pq

    table = pq.read_table(inputs.golden_path).to_pylist()
    return {r["url"]: r for r in table}
