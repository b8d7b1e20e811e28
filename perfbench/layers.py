"""Traced run: the per-layer numbers of one workload.

Spans are recorded only here, around calls into each layer's public
functions; nothing inside the program is instrumented.

- Spark-level spans: each layer boundary is called as its own job on the
  workload's input (scan, run_extraction, fastscan, checkpointed write and
  resume), sinking to Spark's ``noop`` writer where the boundary returns a
  DataFrame.  The three curation steps run on the ``near_dup`` corpus of
  the same seed: fixture pages plus planted exact and one-word-edited
  copies, so the duplicate marks are scored against a ground truth.
- Kernel spans: on a seeded sample of the workload's pages, in the
  benchmark's own process, the steps of ``kernel.extract.extract`` are called one by one
  in its order, and ``extract_bytes`` is called whole.
- Tracing overhead: the workload's timed job runs plain, inside a span,
  and plain again; the traced pages/s is compared with the plain mean.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
from dataclasses import replace

from pyspark.sql import functions as F

from rs_trafilatura_spark.dom import Document
from rs_trafilatura_spark.functions.encoding import transcode_to_utf8
from rs_trafilatura_spark.kernel.cleaning import doc_cleaning
from rs_trafilatura_spark.kernel.content_select import find_main_content_node
from rs_trafilatura_spark.kernel.extract import extract_bytes
from rs_trafilatura_spark.kernel.metadata import extract_metadata
from rs_trafilatura_spark.kernel.page_type import classify_page, profile_for
from rs_trafilatura_spark.kernel.traversal import extract_filtered_text
from rs_trafilatura_spark.plans import run_extraction
from rs_trafilatura_spark.plans.curate import (
    curate_pages, curation_report, mark_near_duplicates, release_cache,
)
from rs_trafilatura_spark.sources import (
    extract_from_parquet, read_output,
)
from rs_trafilatura_spark.sources.fastscan import (
    list_parquet_files, pack_bins,
)

from harness import cores
from inputs import Inputs, read_golden
from spans import Tracer
from workloads import N_CHUNKS, Check, Workload

DUP_REASONS = frozenset({"exact_duplicate", "near_duplicate"})

# every stage the cascade can emit; anything new counts as "other"
STAGES = (
    "main", "ancestor_walkup", "bottom_up", "relaxed_boilerplate",
    "split_body", "body", "empty", "jsonld_body", "jsonld_product",
    "discourse", "merge", "repeated_items", "baseline_article",
    "baseline_rescue", "baseline_body", "baseline_doc", "error", "other",
)
# resumes of the completed checkpoint; resume_s is their median
N_RESUMES = 5
# kernel sample size per workload
SAMPLE = {"fixture_mix": 300, "large_pages": 24}
# kernel steps in kernel.extract.extract's order
KERNEL_STEPS = (
    "functions.transcode", "dom.parse", "kernel.metadata",
    "kernel.page_type", "kernel.cleaning", "kernel.content_select",
    "kernel.traversal",
)

PER_LAYER = [
    ("functions.transcode.ms_per_page", "ms", "lower"),
    ("dom.parse.ms_per_page_p50", "ms", "lower"),
    ("dom.parse.ms_per_page_tail", "ms", "lower"),
    ("dom.parse.us_per_kb", "us/KiB", "lower"),
    ("kernel.metadata.ms_per_page", "ms", "lower"),
    ("kernel.page_type.ms_per_page", "ms", "lower"),
    ("kernel.cleaning.ms_per_page", "ms", "lower"),
    ("kernel.content_select.ms_per_page", "ms", "lower"),
    ("kernel.traversal.ms_per_page", "ms", "lower"),
    ("kernel.extract.ms_per_page_p50", "ms", "lower"),
    ("kernel.extract.ms_per_page_tail", "ms", "lower"),
    ("kernel.cascade_rest.ms_per_page", "ms", "lower"),
    ("kernel.fallback_share", "share", "lower"),
    *((f"kernel.stage_count.{s}", "count", "higher" if s == "main"
       else "lower") for s in STAGES),
    ("sources.scan.wall_s", "s", "lower"),
    ("plans.run_extraction.wall_s", "s", "lower"),
    ("plans.kernel_share", "share", "higher"),
    ("plans.partitions", "count", "higher"),
    ("plans.partition_skew", "ratio", "lower"),
    ("sources.fastscan.wall_s", "s", "lower"),
    ("sources.fastscan.bin_skew", "ratio", "lower"),
    ("sources.checkpoint.write_s", "s", "lower"),
    ("sources.checkpoint.resume_s", "s", "lower"),
    ("sources.checkpoint.chunks_run", "count", "higher"),
    ("sources.checkpoint.chunks_skipped", "count", "higher"),
    ("sources.output_mb_per_kpage", "MB", "lower"),
    ("plans.curate_pages.wall_s", "s", "lower"),
    ("plans.mark_near_duplicates.wall_s", "s", "lower"),
    ("plans.curation_report.wall_s", "s", "lower"),
    ("operators.dedup.dropped_exact", "count", "higher"),
    ("operators.dedup.dropped_near", "count", "higher"),
    ("operators.dedup.recall", "share", "higher"),
    ("operators.dedup.precision", "share", "higher"),
    ("jvm.cpu_s_per_kpage", "s", "lower"),
    ("pyworker.cpu_s_per_kpage", "s", "lower"),
    ("check.failed_share", "share", "lower"),
    ("trace.pages_per_s_untraced", "1/s", "higher"),
    ("trace.pages_per_s_traced", "1/s", "higher"),
    ("trace.overhead_share", "share", "lower"),
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tail(values: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it (at
    least the median, at most p99)."""
    xs = sorted(values)
    q = min(0.99, max(0.5, 1 - 10 / len(xs)))
    return xs[max(0, int(q * len(xs) + 0.999999) - 1)]


def _skew(loads: list[float]) -> float:
    median = statistics.median(loads)
    return max(loads) / median if median else float(len(loads))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def spark_layers(wl: Workload, tracer: Tracer) -> dict:
    spark, opts, n = wl.spark, wl.opts, wl.inputs.n_pages
    m: dict[str, float] = {}

    with tracer.span("sources.scan") as s:
        _noop(wl.pages().select("html"))
    m["sources.scan.wall_s"] = s["end"] - s["start"]

    with tracer.span("plans.run_extraction") as s:
        out = run_extraction(spark, wl.pages(), opts)
        _noop(out)
    m["plans.run_extraction.wall_s"] = s["end"] - s["start"]
    m["plans.partitions"] = out.rdd.getNumPartitions()
    loads = [r["b"] for r in wl.pages()
             .groupBy(F.spark_partition_id())
             .agg(F.sum(F.length("html")).alias("b")).collect()]
    m["plans.partition_skew"] = _skew(loads)

    with tracer.span("sources.fastscan") as s:
        _noop(extract_from_parquet(spark, wl.inputs.pages_dir, opts))
    m["sources.fastscan.wall_s"] = s["end"] - s["start"]
    files = list_parquet_files(spark, wl.inputs.pages_dir)
    size = dict(files)
    bins = pack_bins(files, spark.sparkContext.defaultParallelism)
    m["sources.fastscan.bin_skew"] = _skew(
        [sum(size[u] for u in b) for b in bins])

    shutil.rmtree(wl.ckpt_dir, ignore_errors=True)
    with tracer.span("sources.checkpoint") as s:
        written = wl.checkpointed()
    m["sources.checkpoint.write_s"] = (
        s["end"] - s["start"] - m["plans.run_extraction.wall_s"])
    m["sources.checkpoint.chunks_run"] = written["chunks_run"]
    m["sources.output_mb_per_kpage"] = _dir_bytes(wl.ckpt_dir) / 1e6 / n * 1e3
    resume_s = []
    for _ in range(N_RESUMES):
        with tracer.span("sources.checkpoint.resume") as s:
            resumed = wl.checkpointed(verify=True)
        resume_s.append(s["end"] - s["start"])
    m["sources.checkpoint.resume_s"] = statistics.median(resume_s)
    m["sources.checkpoint.chunks_skipped"] = resumed["chunks_skipped"]

    stages = {s: 0 for s in STAGES}
    for r in read_output(spark, wl.ckpt_dir).groupBy("stage").count().collect():
        key = r["stage"] if r["stage"] in stages else "other"
        stages[key] += r["count"]
    for stage, count in stages.items():
        m[f"kernel.stage_count.{stage}"] = count
    m["kernel.fallback_share"] = 1 - stages["main"] / n
    return m


def dedup_layers(wl: Workload, tracer: Tracer, dup_inputs: Inputs) -> dict:
    """curate -> mark_near_duplicates(estimate) -> report on a corpus with
    planted copies, scored against its ground truth."""
    spark, opts = wl.spark, wl.opts
    m: dict[str, float] = {}
    with tracer.span("plans.curate_pages") as s:
        curated = curate_pages(spark, spark.read.parquet(dup_inputs.pages_dir),
                               opts)
        _noop(curated)
    m["plans.curate_pages.wall_s"] = s["end"] - s["start"]
    with tracer.span("plans.mark_near_duplicates") as s:
        marked = mark_near_duplicates(curated, method="estimate")
        _noop(marked)
    m["plans.mark_near_duplicates.wall_s"] = s["end"] - s["start"]
    with tracer.span("plans.curation_report") as s:
        report = {r["outcome"]: r["n"] for r in curation_report(marked).collect()}
    m["plans.curation_report.wall_s"] = s["end"] - s["start"]
    m["operators.dedup.dropped_exact"] = report.get("exact_duplicate", 0)
    m["operators.dedup.dropped_near"] = report.get("near_duplicate", 0)
    reasons = {r["url"]: r["drop_reason"]
               for r in marked.select("url", "drop_reason").collect()}
    score = planted_score(read_golden(dup_inputs), reasons)
    m["operators.dedup.recall"] = score["recall"]
    m["operators.dedup.precision"] = score["precision"]
    release_cache()
    return m


def kernel_layers(wl: Workload, tracer: Tracer, seed: int) -> dict:
    """Kernel step timings on a seeded sample, in this process."""
    import pyarrow.parquet as pq

    rows = pq.read_table(wl.inputs.pages_dir, columns=["url", "html"]).to_pylist()
    rnd = random.Random(f"perfbench-sample:{wl.name}:{seed}")
    sample = rnd.sample(rows, min(SAMPLE[wl.name], len(rows)))
    for r in sample[:8]:  # warm this process's regex and class caches
        extract_bytes(r["html"], replace(wl.opts, url=r["url"]))

    extract_s, parse_s, kb = [], [], 0.0
    for r in sample:
        opts = replace(wl.opts, url=r["url"])
        with tracer.span("kernel.extract") as s:
            extract_bytes(r["html"], opts)
        extract_s.append(s["end"] - s["start"])
        with tracer.span("kernel.steps"):
            with tracer.span("functions.transcode"):
                html = transcode_to_utf8(r["html"])
            with tracer.span("dom.parse") as s:
                doc = Document(html)
            parse_s.append(s["end"] - s["start"])
            with tracer.span("kernel.metadata"):
                meta = extract_metadata(doc, opts.author_blacklist)
            with tracer.span("kernel.page_type"):
                page_type, _ = classify_page(doc, opts.url)
            profile = profile_for(page_type)
            with tracer.span("kernel.cleaning"):
                doc_cleaning(doc.body, opts,
                             preserve_tags=frozenset(profile.preserve_tags),
                             boilerplate_selectors=profile.boilerplate_selectors)
            with tracer.span("kernel.content_select"):
                node = find_main_content_node(
                    doc.body, opts, profile.content_selectors,
                    doc_lang=meta.get("language"))
            if node is not None:
                with tracer.span("kernel.traversal"):
                    extract_filtered_text(
                        node, opts, filter_named_boilerplate=True,
                        page_title=meta.get("title"),
                        comments_are_content=profile.comments_are_content)
        kb += len(r["html"]) / 1024

    n = len(sample)
    step_ms = {step: sum(tracer.durations(step)) / n * 1e3
               for step in KERNEL_STEPS}
    m = {f"{step}.ms_per_page": ms for step, ms in step_ms.items()
         if step != "dom.parse"}
    m["dom.parse.ms_per_page_p50"] = statistics.median(parse_s) * 1e3
    m["dom.parse.ms_per_page_tail"] = _tail(parse_s) * 1e3
    m["dom.parse.us_per_kb"] = sum(parse_s) * 1e6 / kb
    m["kernel.extract.ms_per_page_p50"] = statistics.median(extract_s) * 1e3
    m["kernel.extract.ms_per_page_tail"] = _tail(extract_s) * 1e3
    m["kernel.cascade_rest.ms_per_page"] = (
        sum(extract_s) / n * 1e3 - sum(step_ms.values()))
    return m


def planted_score(golden: dict, reasons: dict) -> dict:
    """Recall and precision of the duplicate marks against the planted
    (copy, source) pairs.  A pair is found when either page is marked a
    duplicate; every other duplicate mark is a false positive."""
    marked = {u for u, r in reasons.items() if r in DUP_REASONS}
    pairs = [(u, g["src_url"]) for u, g in golden.items() if g["src_url"]]
    found = [p for p in pairs if p[0] in marked or p[1] in marked]
    return {
        "recall": len(found) / len(pairs) if pairs else 1.0,
        "precision": len(found) / len(marked) if marked else 1.0,
    }


def traced_run(wl: Workload, tracer: Tracer, seed: int,
               dup_inputs: Inputs) -> tuple[dict, Check]:
    n = wl.inputs.n_pages
    # plain, traced, plain: the mean of the two plain jobs cancels the
    # steady speed-up the JVM still shows from one job to the next
    before = wl.iteration()
    with tracer.span(f"workload.{wl.name}"):
        traced = wl.iteration()
    after = wl.iteration()
    plain_s = (before.wall_s + after.wall_s) / 2
    check = wl.check()

    m = {
        "trace.pages_per_s_untraced": n / plain_s,
        "trace.pages_per_s_traced": n / traced.wall_s,
        "trace.overhead_share": 1 - plain_s / traced.wall_s,
        "jvm.cpu_s_per_kpage": before.cpu.jvm_s / n * 1e3,
        "pyworker.cpu_s_per_kpage": before.cpu.py_s / n * 1e3,
        "check.failed_share": check.failed / check.attempted,
    }
    m.update(spark_layers(wl, tracer))
    m.update(dedup_layers(wl, tracer, dup_inputs))
    # every planted copy found and nothing else marked: part of the check
    dedup_ok = (m["operators.dedup.recall"] == 1
                and m["operators.dedup.precision"] == 1)
    check.detail["dedup_matches_planted"] = dedup_ok
    # a resume of the completed checkpoint skips every chunk
    resume_ok = m["sources.checkpoint.chunks_skipped"] == N_CHUNKS
    check.detail["resume_skips_every_chunk"] = resume_ok
    check.correct = check.correct and dedup_ok and resume_ok
    m.update(kernel_layers(wl, tracer, seed))
    # the sample's mean kernel time over every page, against the cores'
    # capacity during the scan + kernel job
    kernel_s = statistics.fmean(tracer.durations("kernel.extract")) * n
    m["plans.kernel_share"] = kernel_s / (
        cores() * m["plans.run_extraction.wall_s"])
    return m, check
