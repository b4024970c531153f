"""One benchmark run of one workload in one fresh JVM.

Started by ``run.py``; not meant to be called by hand.  Steps:

1. start the Spark session and warm the Python workers (timed, set-up);
2. the workload's own set-up (timed, set-up);
3. the closed loop of whole rounds until ``--seconds`` have passed
   (timed); each call is a span tagged with ``setJobDescription``;
4. the reference checks (not timed);
5. write every span and count to the ``--out`` JSON file.

The seeded inputs must exist already.  With ``--inputs-only`` the worker
makes them instead, in Python and without Spark, and exits: the measured
process never runs the input generation, so it starts equally cold, and
holds no more memory, whether or not the inputs were made just before.

While steps 2 and 3 run, the file ``<out>.mem`` exists; ``run.py``
samples the memory of this process and its descendants meanwhile, from
outside, so that the sampling takes no time of the measured process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

import workloads

class Run:
    """State of one run: the session, the inputs and the recorded spans."""

    def __init__(self, args):
        self.workload = workloads.WORKLOADS[args.workload]()
        self.seed = args.seed
        self.cores = args.cores
        self.size = self.workload.SIZES[args.size]
        self.data_dir = workloads.data_dir(args.work, args.workload, args.size, args.seed)
        self.work_dir = os.path.join(args.work, "run", f"{args.workload}-{os.getpid()}")
        self.spans: list[dict] = []
        self.spark = None
        self._current: dict | None = None

    @contextmanager
    def span(self, name: str, rows: int = 0, phase: str = "setup"):
        """Time one call from the benchmark side and tag its Spark jobs."""
        tag = f"pb:{len(self.spans)}:{name}"
        rec = {"name": name, "tag": tag, "rows": rows, "phase": phase, "counters": {}}
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobDescription(tag)
        self._current = rec
        t0, p0 = time.time(), time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall"] = time.perf_counter() - p0
            rec["t0"], rec["t1"] = t0, t0 + rec["wall"]
            self._current = None
            if sc is not None:
                sc.setJobDescription(None)
            self.spans.append(rec)

    def note(self, counter: str, value: float) -> None:
        """Add to a counter of the span that is running now."""
        c = self._current["counters"]
        c[counter] = c.get(counter, 0) + value


def make_inputs(run: Run) -> float:
    """Materialize the seeded inputs of one (workload, seed, size)."""
    t0 = time.perf_counter()
    tmp = run.data_dir + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    run.workload.make_inputs(tmp, run.seed, run.size)
    open(os.path.join(tmp, "_done"), "w").close()
    shutil.rmtree(run.data_dir, ignore_errors=True)
    os.replace(tmp, run.data_dir)
    return time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("--event-dir", default="")
    ap.add_argument("--no-check", action="store_true",
                    help="skip the reference checks (timing-only companion runs)")
    ap.add_argument("--inputs-only", action="store_true",
                    help="only make the seeded inputs (no Spark)")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    run = Run(args)
    if args.inputs_only:
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump({"gen_s": make_inputs(run)}, f)
        return 0
    if not os.path.exists(os.path.join(run.data_dir, "_done")):
        raise SystemExit(f"no inputs under {run.data_dir}")
    shutil.rmtree(run.work_dir, ignore_errors=True)
    os.makedirs(run.work_dir)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run.work_dir, "warehouse"),
    }
    if args.event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": args.event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from veranda_spark.session import get_spark

    with run.span("session.get_spark"):
        run.spark = get_spark(master=f"local[{args.cores}]", app_name="perfbench",
                              extra_conf=conf)
    with run.span("session.warmup"):  # a Python worker on every task slot
        run.spark.range(1000).count()
        run.spark.range(1024, numPartitions=2 * args.cores).mapInPandas(
            lambda it: it, "id long").count()

    # run.py samples the memory of this process tree while this file exists
    open(args.out + ".mem", "w").close()
    run.workload.setup(run)
    setup_s = sum(s["wall"] for s in run.spans)

    calls: list[tuple[dict, workloads.Op, object]] = []
    errors: list[str] = []
    rounds = 0
    t_loop = time.perf_counter()
    deadline = t_loop + args.seconds
    while True:
        for op in run.workload.round_ops(run, rounds):
            value, rec = None, None
            try:
                with run.span(op.name, rows=op.rows, phase="timed") as rec:
                    value = op.fn()
                if op.after is not None:
                    rec["counters"].update(op.after())
            except Exception:  # a failing call is counted, the loop goes on
                errors.append(f"{op.name}: {traceback.format_exc(limit=3)}")
                rec = run.spans[-1]
                rec["error"] = True
            calls.append((rec, op, value))
        rounds += 1
        if time.perf_counter() >= deadline:
            break
    timed_wall = time.perf_counter() - t_loop
    os.remove(args.out + ".mem")

    failed = 0
    mismatches = []
    for rec, op, value in calls:
        if rec.get("error"):
            failed += 1
            continue
        if op.expect is None or args.no_check:
            continue
        try:
            want = op.expect()
            ok = op.same(value, want)
        except Exception:  # a reference that cannot be computed is a failure
            want, ok = traceback.format_exc(limit=2), False
        if not ok:
            failed += 1
            rec["mismatch"] = True
            if len(mismatches) < 5:
                mismatches.append(f"{op.name}: got {str(value)[:200]} want {str(want)[:200]}")
    if not args.no_check:
        failed += run.workload.final_check(run)
    extra = run.workload.extra_metrics(run)

    sc = run.spark.sparkContext
    result = {
        "workload": args.workload, "seed": args.seed, "cores": args.cores,
        "size": args.size, "seconds": args.seconds, "rounds": rounds,
        "attempted": len(calls), "failed": failed, "errors": errors,
        "mismatches": mismatches, "timed_wall_s": timed_wall, "setup_s": setup_s,
        "spans": run.spans,
        "extra": extra, "app_id": sc.applicationId, "spark_version": sc.version,
    }
    run.spark.stop()
    shutil.rmtree(run.work_dir, ignore_errors=True)
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
