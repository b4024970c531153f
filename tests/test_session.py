"""``get_spark``'s defaults fit the CPUs the process may run on."""

import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_master_follows_cpu_affinity():
    """Pinned to one CPU, a default session runs ``local[1]``, whatever
    ``os.cpu_count()`` reports for the whole host."""
    if shutil.which("taskset") is None:
        pytest.skip("taskset not on this host")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["VERANDA_SPARK_DRIVER_MEM"] = "1g"
    code = ("from veranda_spark.session import get_spark\n"
            "s = get_spark()\n"
            "print('MASTER', s.sparkContext.master)\n"
            "s.stop()\n")
    proc = subprocess.run(["taskset", "-c", "0", sys.executable, "-c", code], cwd=ROOT,
                          env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "MASTER local[1]" in proc.stdout.splitlines()
