"""Query runner: ``python bench.py [query ...]`` (data: $SPARK_GRAFT_SF_DIR).

Query phase: 3 passes, each a fresh JVM on ``local[<cores>]`` (the CPUs this
process may run on) running every queries() entry once in dict order; per-
query wall = min across passes, frame build plus action.  The event log
splits the best pass's wall into tagged jobs, task, GC, shuffle, Python-
worker bytes and ``driver_s`` (wall outside any job).  Scaling phase, unless
queries are named: burn-in at ``local[max(1, cores // 4)]`` and
``local[cores]``, both with ``2 * cores`` shuffle partitions (strong
scaling), a fresh JVM per run, 3 interleaved rounds, best rows/s per level.
Per-query rows go to stderr; the last stdout line is one JSON object.  All
files the runs write live in one temporary directory, removed at exit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(HERE, "perfbench")]

import eventlog  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from veranda_spark.grid import RegularGrid  # noqa: E402
from veranda_spark.session import get_spark  # noqa: E402

PASSES = 3
CORES = len(os.sched_getaffinity(0))
LAYERS = ("jobs", "task_s", "gc_s", "shuffle_bytes", "py_bytes_out", "py_bytes_in")

#: row-preserving projections, whose expressions ``count()`` would prune:
#: timed under a value-dependent action that forces full evaluation
FULL_EVAL = {"reproject_crs", "reproject_aeqd", "reproject_lcc",
             "reproject_merc",
             "doc_tokens", "doc_text_profile", "hash_split",
             "zorder_cells"}


def _timed_action(df, name: str) -> None:
    if name in FULL_EVAL:
        from pyspark.sql import functions as F

        # pmod keeps the ANSI sum from overflowing long
        df.agg(
            F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1_000_003)))
        ).collect()
    else:
        df.count()


SCALE_ROWS = 600_000
SCALE_PARTITIONS = 128
# finer grid than the query GRID: parallelism must come from tiles at scale
SCALE_GRID = RegularGrid(tile_cols=64, tile_rows=64, n_tile_cols=64, n_tile_rows=32)


def scale_run(cores: int, partitions: int, parquet_path: str) -> None:
    """Child process: the timed north-rule job at one parallelism level."""
    from veranda_spark.operators.raster import burn_in

    spark = get_spark(
        master=f"local[{cores}]", app_name=f"scale_{cores}",
        shuffle_partitions=partitions,
        # AQE's extra query-stage materialization roughly doubles wall time
        # for this short grouped-map pipeline, whose partitioning is explicit
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    imgs = spark.read.parquet(parquet_path)
    n_rows = imgs.count()  # warms the scan outside the window
    # warm python workers on every task slot (fork + numpy/pandas import)
    spark.range(4096, numPartitions=4 * cores).mapInPandas(lambda it: it, "id long").count()
    t0 = time.monotonic()
    n_tiles = burn_in(imgs, SCALE_GRID, per_layer=False).count()
    dt = time.monotonic() - t0
    spark.stop()
    print("SCALE_RESULT " + json.dumps({"cores": cores, "sec": round(dt, 2), "rows": n_rows,
                                        "rows_per_sec": round(n_rows / dt, 1), "n_tiles": n_tiles}))


def make_scale_input(parquet_path: str) -> None:
    """Child process: write the scaling input, outside any timed window."""
    from veranda_spark.fixtures import generate_images

    t0 = time.monotonic()
    spark = get_spark(master=f"local[{CORES}]", shuffle_partitions=SCALE_PARTITIONS,
                      app_name="bench_datagen")
    generate_images(spark, SCALE_ROWS, partitions=SCALE_PARTITIONS).write.parquet(parquet_path)
    spark.stop()
    print("GEN_RESULT " + json.dumps({"sec": round(time.monotonic() - t0, 2)}))


def query_pass(sf_dir: str, event_dir: str, *names: str) -> None:
    """Child process: one pass over ``names`` in a fresh JVM, each query once."""
    spark = get_spark(master=f"local[{CORES}]", app_name="bench", extra_conf={
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
        "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    sc = spark.sparkContext
    # warm-up outside the walls: JVM, codegen, a Python worker on every task
    # slot, and a first grouped SQL query over a parquet scan, whose reader
    # set-up the first timed query paid (about 1 s of driver time)
    spark.range(1000).count()
    spark.range(1024, numPartitions=2 * CORES).mapInPandas(lambda it: it, "id long").count()
    region = os.path.join(sf_dir, "region.parquet")
    spark.sql(f"SELECT r_regionkey % 2 AS k, count(*) AS n FROM parquet.`{region}` GROUP BY 1"
              ).collect()
    qs, spans = entrymod.queries(), {}
    for name in names:  # a failing query ends the pass, and the run
        sc.setJobDescription(name)
        t0 = time.time()
        _timed_action(qs[name](spark, sf_dir), name)
        spans[name] = (t0, time.time())
    app_id = sc.applicationId
    spark.stop()
    print("PASS_RESULT " + json.dumps({"app_id": app_id, "spans": spans}))


def layer_split(lines, spans: dict) -> dict[str, dict]:
    """Event-log layer rows per job description ``spans`` maps to (t0, t1)."""
    stats = eventlog.parse(lines, spans)
    return {tag: {"wall": t1 - t0} | {k: stats[tag][k] for k in LAYERS} | {
        "driver_s": t1 - t0 - eventlog.union_s(stats[tag]["job_intervals"], t0, t1)}
        for tag, (t0, t1) in spans.items()}


def query_names(argv: list[str]) -> list[str]:
    return argv or list(entrymod.queries())


def child(*args: str, env: dict) -> dict:
    """Run this file with ``args`` in a fresh process; parse its result line."""
    proc = subprocess.run([sys.executable, os.path.abspath(__file__), *args],
                          capture_output=True, text=True, env=env, timeout=3600)
    if proc.returncode != 0:
        raise RuntimeError(f"{args[0]} exited with {proc.returncode}: {proc.stderr[-3000:]}")
    return json.loads(proc.stdout.splitlines()[-1].split(" ", 1)[1])


def run_queries(sf_dir: str, names: list[str], tmp: str, env: dict) -> dict[str, dict]:
    best: dict[str, dict] = {}
    for i in range(PASSES):
        event_dir = os.path.join(tmp, f"events{i}")
        os.makedirs(event_dir)
        res = child("--pass", sf_dir, event_dir, *names, env=env)
        with open(os.path.join(event_dir, res["app_id"]), encoding="utf-8") as f:
            rows = layer_split(f, res["spans"])
        for name, row in rows.items():
            if name not in best or row["wall"] < best[name]["wall"]:
                best[name] = row
        print(f"pass {i + 1}: {sum(r['wall'] for r in rows.values()):.1f}s", file=sys.stderr)
    return best


def run_scaling(tmp: str, env: dict) -> dict:
    path = os.path.join(tmp, "images")
    gen_s = child("--gen", path, env=env)["sec"]
    lo, hi = max(1, CORES // 4), CORES
    levels = sorted({lo, hi})
    best: dict[int, dict] = {}
    for c in levels + levels[::-1] + levels:  # 3 interleaved rounds
        # strong scaling: both levels burn the same 2 x hi tasks, so the
        # figure is what more cores buy, not what a smaller task buys
        res = child("--scale-run", str(c), str(2 * hi), path, env=env)
        if c not in best or res["rows_per_sec"] > best[c]["rows_per_sec"]:
            best[c] = res
    eff = (best[hi]["rows_per_sec"] / best[lo]["rows_per_sec"]) / (hi / lo)
    return {"rows": SCALE_ROWS, "gen_s": gen_s, "efficiency": round(eff, 3) if hi > lo else None,
            "levels": {f"local[{c}]": best[c] for c in levels}}


def main() -> None:
    mode, a = (sys.argv + [""])[1], sys.argv[2:]
    if mode == "--pass":
        return query_pass(*a)
    if mode == "--gen":
        return make_scale_input(a[0])
    if mode == "--scale-run":
        return scale_run(int(a[0]), int(a[1]), a[2])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tmp = tempfile.mkdtemp(prefix="veranda_bench_")
    # the children keep their temporary files (and Spark's) inside tmp
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    t0 = time.monotonic()
    try:
        best = run_queries(sf_dir, query_names(sys.argv[1:]), tmp, env)
        scaling = None if sys.argv[1:] else run_scaling(tmp, env)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    layers = {n: {k: round(v, 3) for k, v in r.items()} for n, r in best.items()}
    cols = ("wall", "driver_s", *LAYERS)
    for n, r in ({"query": dict(zip(cols, cols))} | layers).items():
        print(f"{n:<20}" + "".join(f"{r[c]:>14}" for c in cols), file=sys.stderr)
    print(json.dumps({
        "metric": "query_wall_sec_total", "value": round(sum(r["wall"] for r in best.values()), 3),
        "unit": "sec", "queries": {n: r["wall"] for n, r in layers.items()},
        "sf": float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1),
        "cores": CORES, "passes": PASSES, "layers": layers, "scaling": scaling,
        "total_wall_s": round(time.monotonic() - t0, 1)}))


if __name__ == "__main__":
    main()
