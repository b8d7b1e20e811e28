"""The two workloads.  Each runs as a closed loop: one client submits
one batch job, waits for it to finish, and submits the next.  Output
checks run outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from rs_trafilatura_spark.plans import OUTPUT_COLUMNS, run_extraction
from rs_trafilatura_spark.sources import (
    extract_from_parquet, read_output, run_extraction_checkpointed,
)

from harness import Session, options
from inputs import Inputs, read_golden
from procstat import Cpu

# checkpoint chunks: each chunk costs three Spark jobs of fixed overhead,
# and at 4 chunks that overhead was half of fixture_mix's job time
N_CHUNKS = 2


@dataclass
class Sample:
    wall_s: float
    cpu: Cpu


@dataclass
class Check:
    attempted: int
    failed: int
    correct: bool
    detail: dict = field(default_factory=dict)


def xor_hash(df) -> tuple[int, int]:
    """(bit_xor of xxhash64 over every column, row count): an
    order-independent digest of a whole table."""
    cols = ", ".join(f"`{c}`" for c in df.columns)
    row = df.select(F.expr(f"bit_xor(xxhash64({cols}))").alias("h"),
                    F.count(F.lit(1)).alias("n")).collect()[0]
    return row["h"], row["n"]


def _text_failures(golden: dict, got: dict) -> set[str]:
    """urls whose row is missing, extra, errored or differs from golden;
    ``got`` maps url -> (stage, content_text)."""
    bad = {u for u in got if u not in golden}
    for url, g in golden.items():
        stage, text = got.get(url, ("missing", None))
        if stage in ("missing", "error") or text != g["text"]:
            bad.add(url)
    return bad


class Workload:
    name = ""
    # jobs run in set-up, before timing: the JVM keeps compiling for the
    # first few jobs of a session (on fixture_mix, after three warm-up jobs
    # the first timed job still took ~10 % more CPU than the later ones)
    warmup_jobs = 5

    def __init__(self, session: Session, inputs: Inputs, work_dir: str):
        self.session = session
        self.spark = session.spark
        self.inputs = inputs
        self.opts = options()
        self.ckpt_dir = os.path.join(work_dir, f"ckpt-{self.name}")

    def pages(self):
        return self.spark.read.parquet(self.inputs.pages_dir)

    def checkpointed(self, verify: bool = False) -> dict:
        return run_extraction_checkpointed(
            self.spark, self.pages(), self.ckpt_dir, self.opts,
            n_chunks=N_CHUNKS, verify_input_fingerprint=verify,
        )

    def before_job(self) -> None:
        pass

    def job(self) -> None:
        raise NotImplementedError

    def check(self) -> Check:
        raise NotImplementedError

    def iteration(self) -> Sample:
        """One timed job."""
        monitor = self.session.monitor
        self.before_job()
        c0, t0 = monitor.cpu(), time.perf_counter()
        self.job()
        t1, c1 = time.perf_counter(), monitor.cpu()
        return Sample(t1 - t0, c1 - c0)


class FixtureMix(Workload):
    """The production path: JVM scan -> run_extraction -> parquet write +
    manifest, chunk by chunk."""

    name = "fixture_mix"

    def before_job(self) -> None:
        shutil.rmtree(self.ckpt_dir, ignore_errors=True)

    def job(self) -> None:
        summary = self.checkpointed()
        if summary["chunks_run"] != N_CHUNKS:
            raise RuntimeError(f"checkpointed run skipped chunks: {summary}")

    def check(self) -> Check:
        golden = read_golden(self.inputs)
        out = read_output(self.spark, self.ckpt_dir)
        got = {r["url"]: (r["stage"], r["content_text"])
               for r in out.select("url", "stage", "content_text").collect()}
        bad = _text_failures(golden, got)
        # the checkpointed table must equal a plain run_extraction
        ckpt = xor_hash(out.select(*OUTPUT_COLUMNS))
        plain = xor_hash(run_extraction(self.spark, self.pages(), self.opts)
                         .select(*OUTPUT_COLUMNS))
        return Check(len(golden), len(bad), not bad and ckpt == plain,
                     {"checkpoint_equals_plain": ckpt == plain})


class LargePages(Workload):
    """~300 KB pages through the Python-side parquet scan into a hash
    aggregate: no JVM hop, no write."""

    name = "large_pages"
    # its jobs are short, and the JVM's CPU per job was still falling over
    # the first five
    warmup_jobs = 6

    def job(self) -> None:
        self.result = (
            extract_from_parquet(self.spark, self.inputs.pages_dir, self.opts)
            .groupBy("stage")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.expr("bit_xor(xxhash64(url, content_text))").alias("h"))
            .collect()
        )

    def check(self) -> Check:
        golden = read_golden(self.inputs)
        n = sum(r["n"] for r in self.result)
        digest = 0
        for r in self.result:
            digest ^= r["h"]
        want = xor_hash(self.spark.read.parquet(self.inputs.golden_path)
                        .select("url", "text"))
        errors = sum(r["n"] for r in self.result if r["stage"] == "error")
        if (digest, n) == want and not errors:
            return Check(len(golden), 0, True)
        # digest mismatch: find the failing rows (slow path)
        rows = (extract_from_parquet(self.spark, self.inputs.pages_dir,
                                     self.opts)
                .select("url", "stage", "content_text").collect())
        bad = _text_failures(golden, {r["url"]: (r["stage"], r["content_text"])
                                      for r in rows})
        return Check(len(golden), len(bad), False)


WORKLOADS = {w.name: w for w in (FixtureMix, LargePages)}
