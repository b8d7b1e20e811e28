"""Spark session start and tear-down for one benchmark run.

Tear-down stops the session, shuts the gateway JVM down and waits until
every process of its tree has ended, so a run leaves no process behind.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import time
import zipfile
from dataclasses import dataclass

from procstat import TreeMonitor, tree_stats

JVM_HEAP = "1g"


def cores() -> int:
    """Spark parallelism: at most 4, at most the CPUs this process may use."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def options():
    from rs_trafilatura_spark.options import Options

    # the golden text assumes paragraph dedup on (datagen/corpus.py)
    return Options(deduplicate=True)


def confine_to(work_dir: str) -> None:
    """Point every scratch location of this process, the JVM and the Python
    workers at ``work_dir``; must run before the first session starts."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, spark-submit's launcher included: no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # a fixed, pre-touched heap: the JVM's RSS then no longer depends on
    # when the collector decides to grow the heap
    java_opts = f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(
            f"spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}"),
        "pyspark-shell",
    ])


@dataclass
class Session:
    spark: object
    monitor: TreeMonitor


def _ship(spark, repo_root: str, work_dir: str) -> None:
    """Zip the package source and add it to the workers' path (the
    spark-submit --py-files mechanism)."""
    ship_dir = os.path.join(work_dir, "ship")
    os.makedirs(ship_dir, exist_ok=True)
    path = os.path.join(ship_dir, "rs_trafilatura_spark.zip")
    pkg = os.path.join(repo_root, "rs_trafilatura_spark")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(root, name)
                    zf.write(full, os.path.relpath(full, repo_root))
    spark.sparkContext.addPyFile(path)


def start(repo_root: str, work_dir: str) -> Session:
    """Start a session on a fresh gateway JVM and ship the package."""
    from pyspark import SparkContext

    from rs_trafilatura_spark.session import get_spark

    spark = get_spark(app="perfbench", parallelism=cores(),
                      driver_memory=JVM_HEAP)
    session = Session(spark, TreeMonitor(SparkContext._gateway.proc.pid))
    _ship(spark, repo_root, work_dir)
    return session


def tear_down(session: Session) -> None:
    from pyspark import SparkContext

    pids = set(tree_stats(session.monitor.root))
    session.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        # the JVM exits when its stdin closes
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    _wait_gone(pids)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return False
    return raw[raw.rfind(b")") + 2:][:1] != b"Z"


def _wait_gone(pids: set[int], timeout_s: float = 30.0) -> None:
    """Wait for the tree's processes to end; kill what outlives the
    timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            break
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in left) and time.monotonic() < deadline:
        time.sleep(0.1)
