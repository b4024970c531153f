"""Round-9 profiling harness (guide §1): one fresh-JVM pass over the
bench query set with the SAME timed actions as bench.py, plus a Spark
event log so each query's wall splits into jobs / stages / tasks.

Usage:
    python tools/prof_pass.py [query ...]        # default: bench set
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/prof_pass.py knn

Prints one JSON line per query: wall, n_jobs, n_stages, n_tasks,
sum of task run times, scheduler overhead estimate.  This is a
measurement-only tool — bench.py stays the frozen methodology.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as benchmod
import __spark_entry__ as entrymod
from veranda_spark.session import get_spark

EVDIR = "/tmp/spark-events-r9"


def main() -> None:
    import shutil
    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    names = sys.argv[1:] or (
        benchmod.HEADLINE + benchmod.NEWOP + benchmod.ROUND3
        + benchmod.ROUND4 + benchmod.ROUND5 + benchmod.ROUND6
        + benchmod.ROUND7
    )
    spark = get_spark(
        master=f"local[{cpus}]", app_name="prof_pass",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.range(1000).count()
    spark.range(1024, numPartitions=2 * cpus).mapInPandas(
        lambda it: it, "id long"
    ).count()
    qs = entrymod.queries()
    walls = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"Q:{name}")
        t0 = time.monotonic()
        benchmod._timed_action(qs[name](spark, sf_dir), name)
        walls[name] = round(time.monotonic() - t0, 3)
        spark.sparkContext.setJobDescription(None)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    print("WALLS " + json.dumps(walls), file=sys.stderr)

    # ---- parse event log (Spark 4 rolling dir or single file) -----------
    ev_path = os.path.join(EVDIR, app_id)
    if not os.path.exists(ev_path):
        d = os.path.join(EVDIR, f"eventlog_v2_{app_id}")
        evs = [os.path.join(d, f) for f in sorted(os.listdir(d))
               if f.startswith("events")]
    else:
        evs = [ev_path]
    jobs: dict[int, dict] = {}
    stage_of_job: dict[int, int] = {}
    per_q: dict[str, dict] = {
        n: {"wall": walls[n], "n_jobs": 0, "n_stages": 0, "n_tasks": 0,
            "n_stages_submitted": 0, "task_run_ms": 0, "job_ms": 0,
            "shuffle_fetch_ms": 0, "gc_ms": 0}
        for n in names
    }
    lines = []
    for e in evs:
        with open(e) as f:
            lines.extend(f)
    if True:
        for line in lines:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get(
                    "spark.job.description", "")
                jid = ev["Job ID"]
                jobs[jid] = {"desc": desc, "t0": ev["Submission Time"]}
                for sid in ev.get("Stage IDs", []):
                    stage_of_job[sid] = jid
                if desc.startswith("Q:"):
                    q = desc[2:]
                    if q in per_q:
                        per_q[q]["n_jobs"] += 1
                        per_q[q]["n_stages_submitted"] += len(
                            ev.get("Stage IDs", []))
            elif et == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j and j["desc"].startswith("Q:"):
                    q = j["desc"][2:]
                    if q in per_q:
                        per_q[q]["job_ms"] += ev["Completion Time"] - j["t0"]
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                jid = stage_of_job.get(si["Stage ID"])
                j = jobs.get(jid) if jid is not None else None
                if j and j["desc"].startswith("Q:"):
                    q = j["desc"][2:]
                    if q in per_q:
                        per_q[q]["n_stages"] += 1
                        per_q[q]["n_tasks"] += si.get("Number of Tasks", 0)
            elif et == "SparkListenerTaskEnd":
                jid = stage_of_job.get(ev["Stage ID"])
                j = jobs.get(jid) if jid is not None else None
                if j and j["desc"].startswith("Q:"):
                    q = j["desc"][2:]
                    m = ev.get("Task Metrics") or {}
                    if q in per_q and m:
                        per_q[q]["task_run_ms"] += m.get(
                            "Executor Run Time", 0)
                        per_q[q]["gc_ms"] += m.get("JVM GC Time", 0)
                        srm = m.get("Shuffle Read Metrics") or {}
                        per_q[q]["shuffle_fetch_ms"] += srm.get(
                            "Fetch Wait Time", 0)

    total = 0.0
    for n in names:
        d = per_q[n]
        d["sched_gap_ms"] = int(d["wall"] * 1000 - d["job_ms"])
        total += d["wall"]
        print(json.dumps({"query": n, **d}))
    print(f"TOTAL {round(total, 2)}s over {len(names)} queries",
          file=sys.stderr)


if __name__ == "__main__":
    main()
