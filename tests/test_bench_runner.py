"""bench.py's layer split and query list, checked without Spark."""

import os

import pytest

import __spark_entry__
import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAG = "pb:0:joins.pip_join"


def test_layer_split_reads_the_canned_event_log():
    with open(os.path.join(ROOT, "perfbench", "canned_eventlog.jsonl"), encoding="utf-8") as f:
        rows = bench.layer_split(f, {TAG: (999.0, 1004.0)})
    assert list(rows) == [TAG]
    row = rows[TAG]
    # two tagged jobs; the untagged one (9 s of tasks, 9 s of GC) is not counted
    assert row["jobs"] == 2
    assert row["task_s"] == pytest.approx(2.25)
    assert row["gc_s"] == pytest.approx(0.1)
    assert row["wall"] == pytest.approx(5.0)
    # 5.0 s wall minus the 2.5 s its jobs cover
    assert row["driver_s"] == pytest.approx(2.5)
    assert row["shuffle_bytes"] == 2048
    assert (row["py_bytes_out"], row["py_bytes_in"]) == (5120, 512)


def test_default_query_list_is_every_entry_in_order():
    assert bench.query_names([]) == list(__spark_entry__.queries())
    assert bench.query_names(["knn", "tpch_q1"]) == ["knn", "tpch_q1"]
