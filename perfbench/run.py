"""The engine benchmark: one command, one workload, one seed per run.

Usage (from the repository root):

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 10 --trace 0

Each run starts the workload in its own fresh JVM on ``local[<cores>]``
(``perfbench/worker.py``), never two at once.  ``--trace 0`` measures the
end-to-end metrics listed in ``BENCHMARK.json``.  ``--trace 1`` runs the
workload with the Spark event log on, which splits every call into layers,
and reports the per-layer metrics.  Time allowing, timing-only companion
runs follow, one JVM after the other: on a quarter of the cores (the
scaling efficiency, ``spatial_join`` only) and without the event log on
the same cores (the tracing overhead).  A companion that would not end in
time is left out, and its figure reads 0.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Everything the
run leaves behind goes under ``.bench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import workloads  # noqa: E402

TIME_LIMIT_S = 160.0  # every worker is stopped by then; the run ends within 180 s
GEOMEAN_SHIFT_S = 0.1
MEAN_COUNTERS = ("files_scanned", "rounds")  # reported per call, not summed
CALL_FIELDS = ("wall_s", "driver_s", "jobs", "tasks", "task_s", "gc_s", "max_task_s",
               "shuffle_bytes", "fetch_wait_s", "py_bytes_out", "py_bytes_in")


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def host_facts(root: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    model = ""
    try:
        with open("/proc/cpuinfo", encoding="ascii", errors="replace") as f:
            model = next((line.split(":", 1)[1].strip() for line in f
                          if line.startswith("model name")), "")
    except OSError:
        pass
    digest = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(root, "veranda_spark"))):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    digest.update(name.encode() + f.read())
    sha = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                                 capture_output=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            sha = None
    return {"cores": cores, "mem_mb": mem_kb // 1024, "cpu": model,
            "kernel": platform.release(), "python": platform.python_version(),
            "git_sha": sha, "src_sha256": digest.hexdigest()[:16]}


def driver_mem(mem_mb: int) -> str:
    """An eighth of host RAM, between 1 and 2 GiB: the same heap on every
    host with 16 GiB or more, so memory figures compare across hosts."""
    return f"{max(1024, min(2048, mem_mb // 8))}m"


PAGE = os.sysconf("SC_PAGE_SIZE")


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm", "rb") as f:
        return int(f.read().split()[1]) * PAGE


def tree_pss_bytes(root: int) -> tuple[int, int]:
    """Proportional set size of ``root`` and all of its descendants, split
    into (JVM, Python and everything else).

    PSS splits a page shared by n processes n ways, so the Python workers
    the daemon forks, which share its imported modules, are not counted
    once per worker.  The JVM shares no pages with the other processes, so
    its PSS is its resident size, read from the cheap ``statm`` (its
    ``smaps_rollup`` takes tens of milliseconds to read).  A ``java``
    process under the JVM is a process-launch helper that shares the JVM's
    memory until it execs; it is skipped, or the JVM would be counted twice.
    """
    children: dict[int, list[int]] = {}
    comm: dict[int, bytes] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
        comm[int(entry)] = stat[stat.index(b"(") + 1:stat.rindex(b")")]
    jvm = other = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        is_jvm = comm.get(pid) == b"java"
        todo.extend(c for c in children.get(pid, ()) if not (is_jvm and comm.get(c) == b"java"))
        try:
            pss = _rss_bytes(pid) if is_jvm else _pss_bytes(pid)
        except OSError:  # the process has ended
            continue
        if is_jvm:
            jvm += pss
        else:
            other += pss
    return jvm, other


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            if int(stat[stat.rindex(b")") + 2:].split()[2]) == pgid:
                return True
    return False


def run_worker(args, work: str, cores: int, event_dir: str, tag: str, deadline: float,
               env: dict, *flags: str) -> dict:
    """Run one worker JVM to completion (or kill it at the deadline).

    While the worker's marker file exists (its set-up and timed phase),
    the memory of its process tree is sampled every 0.5 s; the peaks go
    into the returned result as ``peak_pss_mb``, ``peak_jvm_pss_mb`` and
    ``peak_py_pss_mb``."""
    out = os.path.join(work, "results", f"{args.workload}-seed{args.seed}-{tag}.json")
    log = os.path.join(work, "logs", f"{args.workload}-seed{args.seed}-{tag}.log")
    for stale in (out, out + ".mem"):
        if os.path.exists(stale):
            os.remove(stale)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--cores", str(cores),
           "--size", args.size, "--work", work, "--out", out, "--event-dir", event_dir,
           *flags]
    with open(log, "w", encoding="utf-8") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        code = None
        peak = [0, 0, 0]  # total, JVM, the rest
        try:
            while (code := proc.poll()) is None and time.monotonic() < deadline:
                if os.path.exists(out + ".mem"):
                    jvm, other = tree_pss_bytes(proc.pid)
                    peak = [max(peak[0], jvm + other), max(peak[1], jvm), max(peak[2], other)]
                time.sleep(0.5)
        finally:
            # the JVM and Python workers share the worker's process group;
            # after a clean exit they get a moment to end by themselves
            t_end = min(deadline, time.monotonic() + 10) if code == 0 else 0
            while _group_alive(proc.pid) and time.monotonic() < t_end:
                time.sleep(0.1)
            for sig in (signal.SIGTERM, signal.SIGKILL):
                try:
                    os.killpg(proc.pid, sig)
                except ProcessLookupError:
                    break
                t_end = time.monotonic() + 5
                while _group_alive(proc.pid) and time.monotonic() < t_end:
                    time.sleep(0.1)
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log, encoding="utf-8", errors="replace") as f:
            tail = f.read()[-3000:]
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"worker {tag} {why}; log {log}:\n{tail}")
    with open(out, encoding="utf-8") as f:
        res = json.load(f)
    for key, b in zip(("peak_pss_mb", "peak_jvm_pss_mb", "peak_py_pss_mb"), peak):
        res[key] = b / 2**20
    return res


def shifted_geomean(values: list[float], shift: float = GEOMEAN_SHIFT_S) -> float:
    """exp(mean(log(v + shift))) - shift.  Every call weighs the same
    however long it runs, as in a plain geometric mean, but the jitter of a
    call of a few milliseconds does not swing the result (the shifted mean
    of solver benchmarks)."""
    return math.exp(statistics.fmean(math.log(v + shift) for v in values)) - shift


def end_to_end(res: dict) -> dict:
    timed = [s for s in res["spans"] if s["phase"] == "timed"]
    rows = sum(s["rows"] for s in timed)
    return {
        "setup_s": res["setup_s"],
        "rows_per_s": rows / res["timed_wall_s"],
        "call_geomean_s": shifted_geomean([s["wall"] for s in timed]),
        "peak_pss_mb": res["peak_pss_mb"],
    }


def layers(res: dict, log_path: str) -> dict:
    """Per-call layer split of one traced run, keyed by call name."""
    spans = res["spans"]
    stats = eventlog.parse(eventlog.read_log(log_path), [s["tag"] for s in spans])
    out: dict[str, dict] = {}
    for s in spans:
        st = stats[s["tag"]]
        d = out.setdefault(s["name"], {f: 0.0 for f in CALL_FIELDS} | {
            "calls": 0, "join_rows": 0, "phase": s["phase"], "counters": {}})
        d["calls"] += 1
        d["wall_s"] += s["wall"]
        d["driver_s"] += s["wall"] - eventlog.union_s(st["job_intervals"], s["t0"], s["t1"])
        for f in ("jobs", "tasks", "task_s", "gc_s", "shuffle_bytes", "fetch_wait_s",
                  "py_bytes_out", "py_bytes_in", "join_rows"):
            d[f] += st[f]
        d["max_task_s"] = max(d["max_task_s"], st["max_task_s"])
        for k, v in s["counters"].items():
            d["counters"][k] = d["counters"].get(k, 0) + v
    for d in out.values():
        c = d.pop("counters")
        for k, v in c.items():
            d[k] = v / d["calls"] if k in MEAN_COUNTERS else v
        if c.get("hits"):
            d["cand_per_hit"] = d["join_rows"] / c["hits"]
        if c.get("pairs"):
            d["cand_per_pair"] = d["join_rows"] / c["pairs"]
    return out


def per_layer(res: dict, table: dict, plain: dict, quarter: dict, cores: int,
              quarter_cores: int) -> dict:
    timed = {k: v for k, v in table.items() if v["phase"] == "timed"}
    walls = sum(v["wall_s"] for v in timed.values())
    rows = sum(s["rows"] for s in res["spans"] if s["phase"] == "timed")
    plain_rps = end_to_end(plain or res)["rows_per_s"]
    flat = {
        "run.driver_s": sum(v["driver_s"] for v in timed.values()),
        "run.gc_s": sum(v["gc_s"] for v in timed.values()),
        "run.glue_s": res["timed_wall_s"] - walls,
        "run.trace_overhead_s": 0.0 if plain is None else res["timed_wall_s"] - rows / plain_rps,
        # 0 where the workload has no quarter-core companion run
        "run.scaling_eff": 0.0 if quarter is None else
        (plain_rps / end_to_end(quarter)["rows_per_s"]) / (cores / quarter_cores),
        "run.fail_frac": res["failed"] / max(1, res["attempted"]),
    }
    for name, v in table.items():
        for k, x in v.items():
            if k != "phase":
                flat[f"{name}.{k}"] = x
    flat.update(res["extra"])
    flat["run.peak_jvm_pss_mb"] = res["peak_jvm_pss_mb"]
    flat["run.peak_py_pss_mb"] = res["peak_py_pss_mb"]
    return flat


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's input sizes")
    args = ap.parse_args()
    # a terminated benchmark still stops its worker's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.monotonic()
    deadline = t_start + TIME_LIMIT_S
    root = os.getcwd()

    if not os.path.isfile(os.path.join(root, "veranda_spark", "__init__.py")):
        return fail("no veranda_spark/ package here; run from the repository root")
    try:
        with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        return fail(f"cannot read BENCHMARK.json: {e}")
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        return fail(f"unknown workload {args.workload!r}")

    host = host_facts(root)
    cores = host["cores"]
    quarter = max(1, cores // 4)
    work = os.path.join(root, ".bench_work")
    for sub in ("results", "logs", "spark-local", "events", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    env.update({
        # keep every file the JVM and Python write inside the checkout
        "TMPDIR": tmp,
        "VERANDA_SPARK_DRIVER_JAVA_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        + env.get("VERANDA_SPARK_DRIVER_JAVA_OPTS", ""),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "VERANDA_SPARK_DRIVER_MEM": driver_mem(host["mem_mb"]),
        "PYTHONPATH": os.pathsep.join([HERE, root, env.get("PYTHONPATH", "")]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })

    try:
        gen_s = 0.0
        if not os.path.exists(os.path.join(workloads.data_dir(
                work, args.workload, args.size, args.seed), "_done")):
            gen_s = run_worker(args, work, cores, "", "inputs", deadline, env,
                               "--inputs-only")["gen_s"]
        if args.trace:
            event_dir = os.path.join(work, "events", f"{args.workload}-seed{args.seed}")
            shutil.rmtree(event_dir, ignore_errors=True)
            os.makedirs(event_dir)
            t0 = time.monotonic()
            res = run_worker(args, work, cores, event_dir, "traced", deadline, env)
            one_run_s = time.monotonic() - t0

            def companion(tag: str, n_cores: int, factor: float) -> dict | None:
                """A timing-only run of the same rounds; None (its figure
                reads 0) when it would not, or did not, end in time."""
                if deadline - time.monotonic() < factor * one_run_s:
                    print(f"perfbench: no time left for the {tag} run", file=sys.stderr)
                    return None
                try:
                    return run_worker(args, work, n_cores, "", tag, deadline, env, "--no-check")
                except RuntimeError as e:
                    print(f"perfbench: {e}", file=sys.stderr)
                    return None

            slow = None
            if workloads.WORKLOADS[args.workload].scaling:
                slow = companion("quarter", quarter, 1.2)
            plain = companion("plain", cores, 1.0)
            table = layers(res, os.path.join(event_dir, res["app_id"]))
            flat = per_layer(res, table, plain, slow, cores, quarter)
            wanted = spec["per_layer"]
        else:
            res = run_worker(args, work, cores, "", "plain", deadline, env)
            flat = end_to_end(res)
            wanted = spec["end_to_end"]
    except RuntimeError as e:
        return fail(str(e))

    metrics = {m["name"]: {"value": float(flat.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    stamp = {"host": host, "spark_version": res["spark_version"],
             "driver_mem": env["VERANDA_SPARK_DRIVER_MEM"], "master": f"local[{cores}]"}
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "rounds": res["rounds"], "timed_wall_s": res["timed_wall_s"],
               "gen_s": gen_s, "stamp": stamp, "metrics": flat,
               "memory_mb": {k: res[k] for k in ("peak_pss_mb", "peak_jvm_pss_mb",
                                                 "peak_py_pss_mb")}}
    with open(os.path.join(work, "results", f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}-summary.json"), "w", encoding="utf-8") as f:
        json.dump(summary, f, indent=1, sort_keys=True)

    print(f"host {json.dumps(stamp, sort_keys=True)}")
    print(f"run workload={args.workload} seed={args.seed} rounds={res['rounds']} "
          f"calls={res['attempted']} timed_wall_s={res['timed_wall_s']:.3f} "
          f"inputs_s={gen_s:.3f} fail_frac={res['failed'] / res['attempted']:.4f}")
    for line in res["mismatches"] + res["errors"]:
        print(f"mismatch {line}")
    if args.trace:
        for name, v in sorted(table.items()):
            cells = " ".join(f"{k}={x:.4g}" for k, x in v.items() if k != "phase")
            print(f"layer {name} [{v['phase']}] {cells}")
    for name, m in metrics.items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
