"""Interleaved A/B pairs of the engine benchmark between two checkouts.

    python tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload spatial_join --seeds 1-10

For each seed it runs ``python3 perfbench/run.py --workload W --seed S
--seconds R`` once in each checkout, R being ``BENCHMARK.json``'s
``run_seconds`` (5), one run after the other, never two
at once: the parent goes first on odd seeds and the change on even ones,
so drift of the host during the session falls on both sides alike.  Each
checkout runs its own ``perfbench/`` on its own source tree and keeps its
files under its own ``.bench_work/``.

It then prints, for every end-to-end metric that ``BENCHMARK.json``
lists, each side's median and quartiles, the median of the per-pair
change/parent ratios and the pairs the change won (a tie wins for
neither side), and whether the medians differ by more than the parent's
interquartile range.  It also prints each side's ``run.fail_frac``
(failed operations over attempted ones) and the median wall of every
set-up span and timed call, read from the worker's result file, so a
moved end-to-end figure can be put down to the span that moved it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text: str) -> list[int]:
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(root: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in ``root``: its end-to-end metrics, fail
    fraction and per-span walls."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} in {root} exited with {proc.returncode}:\n"
                           f"{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    res_path = os.path.join(root, ".bench_work", "results", f"{workload}-seed{seed}-plain.json")
    with open(res_path, encoding="utf-8") as f:
        spans: dict[str, float] = {}
        for s in json.load(f)["spans"]:
            key = f"{s['phase']}:{s['name']}"
            spans[key] = spans.get(key, 0.0) + s["wall"]
    return {"metrics": {k: m["value"] for k, m in out["metrics"].items()},
            "fail_frac": out["failed"] / max(1, out["attempted"]), "spans": spans}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def spread(q: tuple[float, float, float]) -> str:
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,3,5-7")
    args = ap.parse_args()

    roots = {"parent": os.path.abspath(args.parent_dir),
             "change": os.path.abspath(args.change_dir)}
    with open(os.path.join(roots["change"], "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    seeds = parse_seeds(args.seeds)
    for seed in seeds:
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for side in order:
            r = run_once(roots[side], args.workload, seed, seconds)
            runs[side].append(r)
            print(f"seed {seed} {side}: " + " ".join(
                f"{k}={v:.4g}" for k, v in r["metrics"].items())
                + f" fail_frac={r['fail_frac']:.4g}", flush=True)

    print(f"\n{args.workload}, {len(seeds)} pairs (seeds {args.seeds}), {seconds:g} s runs")
    print(f"{'metric':<16}{'parent median [q1, q3]':>34}{'change median [q1, q3]':>34}"
          f"{'ratio':>8}{'won':>7}  |dmed| > parent IQR")
    for m in spec["end_to_end"]:
        name, higher = m["name"], m["better"] == "higher"
        p = [r["metrics"][name] for r in runs["parent"]]
        c = [r["metrics"][name] for r in runs["change"]]
        pq, cq = quartiles(p), quartiles(c)
        ratio = statistics.median(b / a for a, b in zip(p, c) if a)
        won = sum((b > a) if higher else (b < a) for a, b in zip(p, c))
        wide = abs(cq[1] - pq[1]) > pq[2] - pq[0]
        print(f"{name:<16}{spread(pq):>34}{spread(cq):>34}"
              f"{ratio:>8.3f}{won:>4}/{len(p)}  {'yes' if wide else 'no'}")
    for side in ("parent", "change"):
        ff = [r["fail_frac"] for r in runs[side]]
        print(f"run.fail_frac {side}: max {max(ff):.4g}, median {statistics.median(ff):.4g}")

    print("\nmedian span wall (s): parent -> change")
    names = sorted(set().union(*(r["spans"] for r in runs["parent"] + runs["change"])))
    for key in names:
        p = statistics.median(r["spans"].get(key, 0.0) for r in runs["parent"])
        c = statistics.median(r["spans"].get(key, 0.0) for r in runs["change"])
        print(f"  {key:<48}{p:>8.3f} -> {c:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
