#!/usr/bin/env python
"""Differential byte-identity check of the extraction kernel.

Runs ``extract_bytes`` over a fixed page set under four option sets and
prints one sha256 over every result, a second sha256 over the results of
the generated pages only, and the count of results per extraction stage.
Two checkouts whose kernels produce identical output print the same
digests.  The second one does not depend on the perfbench input cache, so
it compares runs made in different checkouts:

    python3 scripts/extract_digest.py                      # this checkout
    python3 scripts/extract_digest.py --tree /path/to/parent

Pages: the generated fixture families (seeds 1, 2, 3 and 42, 600 rows
each), 6 ``generate_large_row`` pages, and the first 400 rows of up to
three cached perfbench corpora (``.perfbench/inputs/*/pages`` of the
checkout holding this script, skipped if absent).
Option sets: default, ``favor_precision``, ``favor_recall``, and
``include_comments + output_markdown + deduplicate``.  Each page is
extracted with its own url set, as the Spark kernel closure does.
"""

from __future__ import annotations

import argparse
import collections
import glob
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FIXTURE_SEEDS = (1, 2, 3, 42)
FIXTURE_ROWS = 600
LARGE_ROWS = 6
CACHED_CORPORA = 3
CACHED_ROWS = 400


def pages(inputs_dir: str) -> tuple[list, list]:
    """(url, html) for every page of the check, in a fixed order: the
    generated pages, then the cached corpora's."""
    import pyarrow.parquet as pq

    from rs_trafilatura_spark.datagen.corpus import (
        generate_large_row, generate_row,
    )

    rows = [generate_row(i, seed) for seed in FIXTURE_SEEDS
            for i in range(FIXTURE_ROWS)]
    rows += [generate_large_row(i, 1) for i in range(LARGE_ROWS)]
    generated = [(r["url"], bytes(r["html"])) for r in rows]
    cached = []
    corpora = sorted(glob.glob(os.path.join(inputs_dir, "*", "pages")))
    for path in corpora[:CACHED_CORPORA]:
        table = pq.read_table(path, columns=["url", "html"])
        head = table.slice(0, CACHED_ROWS).to_pylist()
        cached += [(r["url"], bytes(r["html"] or b"")) for r in head]
    return generated, cached


def option_sets():
    from rs_trafilatura_spark.options import Options

    return (
        Options(),
        Options(favor_precision=True),
        Options(favor_recall=True),
        Options(include_comments=True, output_markdown=True,
                deduplicate=True),
    )


def digests(page_set: list, n_generated: int):
    """Extract every page under every option set.  Returns the sha256 hex
    digest over all results, the one over the results of the first
    ``n_generated`` pages only, and the count of results per stage."""
    from dataclasses import replace

    from rs_trafilatura_spark.kernel.extract import extract_bytes

    digest = hashlib.sha256()
    generated_digest = hashlib.sha256()
    stages: collections.Counter = collections.Counter()
    for opts in option_sets():
        for i, (url, html) in enumerate(page_set):
            try:
                result = extract_bytes(html, replace(opts, url=url))
            except Exception as exc:  # noqa: BLE001 - hashed as a result
                result = {"stage": "error",
                          "error": f"{type(exc).__name__}: {exc}"}
            line = json.dumps(result, sort_keys=True, default=str,
                              ensure_ascii=False).encode() + b"\n"
            digest.update(line)
            if i < n_generated:
                generated_digest.update(line)
            stages[result["stage"]] += 1
    return digest.hexdigest(), generated_digest.hexdigest(), stages


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--tree", default=HERE,
                    help="checkout whose rs_trafilatura_spark is run "
                         "(default: the one holding this script)")
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.tree))

    generated, cached = pages(os.path.join(HERE, ".perfbench", "inputs"))
    page_set = generated + cached
    digest, generated_digest, stages = digests(page_set, len(generated))
    print(f"sha256 {digest}  "
          f"({sum(stages.values())} results, {len(page_set)} pages)")
    print(f"sha256 {generated_digest}  "
          f"({len(option_sets()) * len(generated)} results, "
          f"{len(generated)} generated pages only)")
    for stage, n in sorted(stages.items()):
        print(f"  {stage:20s} {n}")


if __name__ == "__main__":
    main()
