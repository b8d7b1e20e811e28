"""Benchmark of the extraction engine: one command, two workloads.

    python3 perfbench/run.py --workload fixture_mix --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout.  It generates the workload's
inputs from the seed (cached under ``.perfbench/``), starts a fixed small
Spark (``local[k]``, k = min(4, usable CPUs)), warms it up, times the
workload's job in a closed loop for ``--seconds``, checks the outputs
outside the timed region and prints one metric per line followed by a JSON
result line.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the traced
per-layer measurement instead (see layers.py) and writes its spans to
``.perfbench/traces/``.

``--repeat N`` reruns the command in N child processes with seeds
seed..seed+N-1 and prints every metric's median, quartiles and spread
(interquartile range over median); ``--workload all`` covers every
workload.  It is how the bounds in BENCHMARK.json are set and checked.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from procstat import host_steal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOAD_NAMES = ("fixture_mix", "large_pages")

END_TO_END = [
    ("cpu_s_per_kpage", "s"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
    ("ok_share", "share"),
]


def _end_to_end(samples, peak_rss, setup_s, check, n_pages) -> dict:
    return {
        "cpu_s_per_kpage":
            statistics.median(s.cpu.total_s for s in samples) / n_pages * 1e3,
        "peak_rss_mb": peak_rss / 1e6,
        "setup_s": setup_s,
        "ok_share": 1 - check.failed / check.attempted,
    }


def _measure(wl, seconds: float):
    """Closed loop: job after job until ``seconds`` have passed (the last
    job runs to its end)."""
    monitor = wl.session.monitor
    samples = []
    steal0 = host_steal()
    monitor.start_peak()
    t0 = time.perf_counter()
    try:
        while not samples or time.perf_counter() - t0 < seconds:
            samples.append(wl.iteration())
    finally:
        peak = monitor.stop_peak()
    steal, total = (a - b for a, b in zip(host_steal(), steal0))
    # not a metric: it tells a slow run on a busy host from a slow program
    print(f"host CPU steal during the timed loop: {steal / total:.1%}")
    return samples, peak


def run_once(args) -> dict:
    sys.path.insert(1, ROOT)
    # import the program first: without it, fail before writing anything
    import harness
    import workloads
    from inputs import workload_inputs

    harness.confine_to(WORK)
    inputs = workload_inputs(os.path.join(WORK, "inputs"), args.workload,
                             args.seed)
    run_dir = os.path.join(WORK, "run")
    session = None
    try:
        # set-up: session start, package ship and warm-up jobs (the
        # workload's own job on its own input), which fork the Python
        # workers, import the package and let the JVM compile the code
        # paths the timed loop runs
        t0 = time.perf_counter()
        session = harness.start(ROOT, WORK)
        wl = workloads.WORKLOADS[args.workload](session, inputs, run_dir)
        for _ in range(wl.warmup_jobs):
            wl.iteration()
        setup_s = time.perf_counter() - t0
        if args.trace:
            import layers
            from spans import Tracer

            tracer = Tracer()
            # the dedup layers run on the near_dup corpus of the same seed,
            # whose planted copies give them a ground truth
            dup_inputs = workload_inputs(os.path.join(WORK, "inputs"),
                                         "near_dup", args.seed)
            metrics, check = layers.traced_run(wl, tracer, args.seed,
                                               dup_inputs)
            units = {name: unit for name, unit, _ in layers.PER_LAYER}
            trace_path = os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            tracer.write(trace_path, {"workload": args.workload,
                                      "seed": args.seed, "metrics": metrics})
            for name, self_s in sorted(tracer.self_times().items()):
                print(f"self_time {name:<40} {self_s:12.4f} s")
            print(f"trace written to {os.path.relpath(trace_path, ROOT)}")
        else:
            samples, peak = _measure(wl, args.seconds)
            check = wl.check()
            metrics = _end_to_end(samples, peak, setup_s, check,
                                  inputs.n_pages)
            units = dict(END_TO_END)
            print("jobs (wall s / jvm cpu s + python cpu s): " + "  ".join(
                f"{s.wall_s:.3f}/{s.cpu.jvm_s:.2f}+{s.cpu.py_s:.2f}"
                for s in samples))
            # printed, not a metric: on a shared host a job's wall time
            # moves with the host's CPU steal (see perfbench/README.md)
            wall_s = statistics.median(s.wall_s for s in samples)
            print(f"pages/s by wall time: {inputs.n_pages / wall_s:.4g}")
    finally:
        if session is not None:
            harness.tear_down(session)

    for key, value in check.detail.items():
        print(f"check {key}: {value}")
    for name, value in metrics.items():
        print(f"{name:<40} {value:14.6g} {units[name]}")
    return {
        "correct": bool(check.correct),
        "attempted": check.attempted,
        "failed": check.failed,
        "metrics": {name: {"value": float(value), "unit": units[name]}
                    for name, value in metrics.items()},
    }


def _quartiles(values: list[float]):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def repeat(args) -> dict:
    """Rerun in child processes with consecutive seeds; summarize."""
    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    summary = {}
    for name in names:
        values: dict[str, list[float]] = {}
        for k in range(args.repeat):
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--workload", name, "--seed", str(args.seed + k),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, check=False)
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"{name} seed {args.seed + k} failed")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            print(f"{name} seed={args.seed + k} correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']}",
                  flush=True)
            for metric, v in result["metrics"].items():
                values.setdefault(metric, []).append(v["value"])
        summary[name] = {}
        for metric, vals in values.items():
            q1, med, q3 = _quartiles(vals)
            spread = (q3 - q1) / abs(med) if med else 0.0
            summary[name][metric] = {"median": med, "q1": q1, "q3": q3,
                                     "spread": spread, "values": vals}
            print(f"{name:<12} {metric:<40} median {med:12.6g} "
                  f"q1 {q1:12.6g} q3 {q3:12.6g} spread {spread:7.4f}",
                  flush=True)
    return summary


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=(*WORKLOAD_NAMES, "all"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, default=10)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--repeat", type=int, default=0,
                        help="run N times with consecutive seeds and "
                             "print each metric's median and spread")
    args = parser.parse_args()
    if args.repeat:
        print(json.dumps(repeat(args)))
        return 0
    if args.workload == "all":
        parser.error("--workload all needs --repeat")
    print(json.dumps(run_once(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
