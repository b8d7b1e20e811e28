"""Capture .explain("formatted") for every declared query into a plans/
directory (judge-facing evidence for optimization rounds).

Usage: python scripts/capture_plans.py <out_dir> [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod
from rs_trafilatura_spark.session import get_spark


def main() -> None:
    out_dir = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    only = set(sys.argv[3:])
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(parallelism=8, driver_memory="8g")
    entry_mod._ensure_pyfiles(spark)
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"PLAN CAPTURE FAILED: {type(exc).__name__}: {exc}"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        print(f"captured {name}")
    spark.stop()


if __name__ == "__main__":
    main()
