"""Spark event-log parser: splits each benchmark call into layers.

The benchmark tags every Spark job a call runs with
``setJobDescription(<tag>)``, where the tag is unique to one call.  This
module reads the JSON-lines event log Spark writes with
``spark.eventLog.enabled`` and attributes jobs, stages and tasks to the
tag, then derives, per call:

- ``jobs``, ``tasks``: counts of tagged jobs and of the tasks they ran;
- ``task_s``, ``gc_s``, ``max_task_s``: summed executor run time, summed
  JVM GC time and the slowest single task;
- ``shuffle_bytes``, ``fetch_wait_s``: shuffle bytes written and the time
  tasks waited on shuffle fetches;
- ``py_bytes_out``, ``py_bytes_in``: Arrow bytes sent to and returned from
  Python workers (SQL metrics of the ArrowEvalPython / MapInPandas nodes);
- ``join_rows``: rows out of the plan's join nodes (candidate rows);
- ``job_intervals``: the wall-clock intervals of the tagged jobs, from
  which ``driver_s`` (wall not covered by any job) is computed.

Only the standard library is used, so the parser also runs where no
Spark is installed.
"""

from __future__ import annotations

import json
from collections import defaultdict

JOIN_NODES = (
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "SortMergeJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
PY_OUT = "data sent to Python workers"
PY_IN = "data returned from Python workers"
ROWS = "number of output rows"


def _walk_plan(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", ()):
        out[int(m["accumulatorId"])] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", ()):
        _walk_plan(child, out)


def _empty() -> dict:
    return {
        "jobs": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0, "max_task_s": 0.0,
        "shuffle_bytes": 0, "fetch_wait_s": 0.0, "py_bytes_out": 0,
        "py_bytes_in": 0, "join_rows": 0, "job_intervals": [],
    }


def parse(lines, tags) -> dict[str, dict]:
    """Attribute one application's events to the given call tags.

    ``lines`` iterates over the event log's JSON lines; ``tags`` is the
    collection of job descriptions to report.  Returns ``{tag: stats}``
    with one entry per tag (all zero for a tag that ran no job)."""
    wanted = set(tags)
    per_tag = {t: _empty() for t in wanted}
    job_tag: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_tag: dict[int, str] = {}
    accum_node: dict[int, tuple[str, str]] = {}
    # SQL metric updates are summed per (tag, accumulator) and resolved to
    # plan nodes at the end: adaptive re-plans may arrive after the tasks
    accum_sum: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue  # a truncated last line of a log still being written
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            tag = (ev.get("Properties") or {}).get("spark.job.description")
            if tag in wanted:
                jid = ev["Job ID"]
                job_tag[jid] = tag
                job_start[jid] = ev["Submission Time"]
                per_tag[tag]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_tag.setdefault(sid, tag)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_tag:
                per_tag[job_tag[jid]]["job_intervals"].append(
                    (job_start[jid] / 1000.0, ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get(ev.get("Stage ID"))
            if tag is None:
                continue
            d = per_tag[tag]
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            d["tasks"] += 1
            d["task_s"] += run_s
            d["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            d["max_task_s"] = max(d["max_task_s"], run_s)
            d["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            d["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get(
                "Fetch Wait Time", 0
            ) / 1000.0
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                if acc.get("Metadata") == "sql" and "Update" in acc:
                    try:
                        accum_sum[tag][int(acc["ID"])] += int(acc["Update"])
                    except (TypeError, ValueError):
                        pass
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            _walk_plan(ev.get("sparkPlanInfo") or {}, accum_node)
    for tag, sums in accum_sum.items():
        d = per_tag[tag]
        for aid, value in sums.items():
            node, name = accum_node.get(aid, ("", ""))
            if name == PY_OUT:
                d["py_bytes_out"] += value
            elif name == PY_IN:
                d["py_bytes_in"] += value
            elif name == ROWS and node in JOIN_NODES:
                d["join_rows"] += value
    return per_tag


def union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def read_log(path: str) -> list[str]:
    with open(path, encoding="utf-8") as f:
        return f.readlines()
