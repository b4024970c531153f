"""Self-test of the benchmark: parser, references and a tiny run of every
workload.  Takes about two minutes.

    python3 perfbench/selftest.py           # from the repository root
    python3 perfbench/selftest.py --quick   # parser and references only
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import reference as ref  # noqa: E402
import run  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)


def test_parser() -> None:
    log = eventlog.read_log(os.path.join(HERE, "canned_eventlog.jsonl"))
    stats = eventlog.parse(log, ["pb:0:joins.pip_join", "pb:1:absent"])
    d = stats["pb:0:joins.pip_join"]
    want = {"jobs": 2, "tasks": 3, "task_s": 2.25, "gc_s": 0.1, "max_task_s": 1.5,
            "shuffle_bytes": 2048, "fetch_wait_s": 0.25, "py_bytes_out": 5120,
            "py_bytes_in": 512, "join_rows": 500}
    for k, v in want.items():
        check(math.isclose(d[k], v), f"parser {k}: {d[k]} != {v}")
    check(sorted(d["job_intervals"]) == [(1000.0, 1002.0), (1002.5, 1003.0)],
          f"job intervals {d['job_intervals']}")
    check(math.isclose(eventlog.union_s(d["job_intervals"], 999.0, 1004.0), 2.5),
          "union of job intervals")
    check(math.isclose(eventlog.union_s([(0, 2), (1, 3), (5, 6)], 0.5, 5.5), 3.0),
          "union of overlapping intervals")
    check(all(v in (0, []) for v in stats["pb:1:absent"].values()), "untagged call")


def test_references() -> None:
    rng = np.random.default_rng(7)
    for off in (0.0, 0.5):
        ring = ref.star_ring(rng, 500, 500, 40, 200, 12, off)
        step = np.roll(ring, -1, axis=0) - ring
        check(bool(np.all(step[:, 0] % 2 == 1) and np.all(step[:, 1] % 2 == 0)),
              "star_ring edges step odd in x and even in y")
    square = [np.array([[0.5, 0.5], [10.5, 0.5], [10.5, 10.5], [0.5, 10.5]])]
    hole = square + [np.array([[3.5, 3.5], [6.5, 3.5], [6.5, 6.5], [3.5, 6.5]])]
    px, py = np.array([1, 5, 11, 4]), np.array([1, 5, 5, 9])
    check(ref.in_rings(px, py, square).tolist() == [True, True, False, True], "pip square")
    check(ref.in_rings(px, py, hole).tolist() == [True, False, False, True], "pip hole")
    ids = np.arange(4)
    got = ref.knn(px, py, ids, np.array([0]), np.array([0]), np.array([9]), 2)
    check(got == {(9, 1): (0, 2), (9, 2): (1, 50)}, f"knn {got}")
    check(ref.tile_cover([250], [0], [16], [16]) == {"0_0": 1, "0_1": 1}, "tile cover")


def test_memory() -> None:
    jvm, other = run.tree_pss_bytes(os.getpid())
    check(jvm == 0 and other > 0, f"process-tree memory of this process: {jvm}, {other}")
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        time.sleep(0.5)
        check(run.tree_pss_bytes(os.getpid())[1] > other, "a child's memory is counted")
    finally:
        child.kill()
        child.wait()


def test_tiny_runs() -> None:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"]]
    for w in spec["workloads"]:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
               "--seed", "3", "--seconds", "1", "--trace", "0", "--size", "tiny"]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=180)
        check(proc.returncode == 0, f"{w['name']} exited {proc.returncode}: {proc.stderr[-2000:]}")
        last = json.loads(proc.stdout.strip().splitlines()[-1])
        check(set(last) == {"correct", "attempted", "failed", "metrics"}, "result keys")
        check(last["correct"] and last["failed"] == 0 and last["attempted"] > 0,
              f"{w['name']} outputs: {proc.stdout[-2000:]}")
        check(sorted(last["metrics"]) == sorted(names), f"{w['name']} metric names")
        check(all(m["value"] > 0 for m in last["metrics"].values()), f"{w['name']} zero metric")
        print(f"ok tiny {w['name']}: {last['attempted']} calls")


def main() -> int:
    test_parser()
    print("ok parser")
    test_references()
    print("ok references")
    test_memory()
    print("ok memory")
    if "--quick" not in sys.argv:
        test_tiny_runs()
    return 0


if __name__ == "__main__":
    sys.exit(main())
