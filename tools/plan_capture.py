"""Capture .explain('formatted') for declared queries into plans/r09/.

Usage: python tools/plan_capture.py before|after [query ...]

Notes: some queries execute side effects while BUILDING the DataFrame
(merge_upsert, ann_ivf*, compact_roundtrip) — capturing their plan runs
those jobs; the captured plan is the final returned frame's.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from veranda_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r09")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(master=f"local[{cpus}]", app_name="plan_capture")
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count(chr(10))} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
