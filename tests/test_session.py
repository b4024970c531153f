"""``get_spark``'s defaults fit the CPUs the process may run on, and its
driver JVM starts from a class-data-sharing archive."""

import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest
from pyspark import SparkContext

from veranda_spark.session import _cds_launch

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


# -- the driver JVM's class-data-sharing archive ----------------------------


@pytest.fixture
def cds_host(tmp_path, monkeypatch):
    """A fake JDK, Spark home (two jars, a templates-only conf directory)
    and cache, with no live gateway: what ``_cds_launch`` reads."""
    java_home, spark_home = tmp_path / "jdk", tmp_path / "spark"
    for d in (java_home / "bin", java_home / "lib" / "server", spark_home / "jars",
              spark_home / "conf"):
        d.mkdir(parents=True)
    for f in (java_home / "bin" / "java", java_home / "lib" / "server" / "libjvm.so",
              spark_home / "jars" / "a.jar", spark_home / "jars" / "b.jar",
              spark_home / "conf" / "spark-defaults.conf.template"):
        f.write_bytes(b"x")
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return tmp_path


def test_cds_first_session_records_then_later_ones_map(cds_host):
    cds = cds_host / "cache" / "veranda_spark" / "cds"
    opt, conf = _cds_launch()
    assert conf == str(cds / "conf") and os.listdir(conf) == []
    flag, _, log = opt.partition(" ")
    name, _, tmp = flag.partition("=")
    assert name == "-XX:ArchiveClassesAtExit" and log == "-Xlog:cds=off"
    key = tmp[: -len(f".jsa.{os.getpid()}.tmp")]
    assert os.path.dirname(key) == str(cds) and os.path.exists(key + ".attempt")
    # the marker without an archive: another process records, or a
    # recording failed; either way no CDS and no second recording
    assert _cds_launch() == ("", None)
    open(key + ".jsa", "wb").close()
    assert _cds_launch() == (f"-XX:SharedArchiveFile={key}.jsa", conf)


def test_cds_key_follows_the_jars(cds_host):
    first = _cds_launch()[0]
    jar = cds_host / "spark" / "jars" / "b.jar"
    os.utime(jar, ns=(1, 1))
    second = _cds_launch()[0]
    assert second.startswith("-XX:ArchiveClassesAtExit=") and second != first


def test_cds_skipped_with_a_real_conf_file(cds_host, monkeypatch):
    conf = cds_host / "myconf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert _cds_launch() == ("", None)
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert not (cds_host / "cache").exists()


def test_cds_skipped_with_an_unwritable_cache(cds_host, monkeypatch):
    (cds_host / "not_a_dir").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(cds_host / "not_a_dir"))
    assert _cds_launch() == ("", None)


def test_cds_skipped_when_the_jvm_runs(cds_host, monkeypatch):
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert _cds_launch() == ("", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert _cds_launch() == ("", None)
    assert not (cds_host / "cache").exists()


CDS_CHILD = """
import json
from pyspark import SparkContext
from veranda_spark.session import get_spark
spark = get_spark(master="local[2]")
rows = spark.sql("SELECT id % 7 AS k, count(*) AS n FROM range(1000) GROUP BY 1 ORDER BY 1")
with open(f"/proc/{SparkContext._gateway.proc.pid}/maps") as f:
    maps = sorted({line.split()[-1] for line in f if line.rstrip().endswith(".jsa")})
print("RESULT " + json.dumps({"rows": [list(r) for r in rows.collect()], "maps": maps}))
"""


def _cds_child(cache) -> dict:
    """A fresh interpreter that starts a session, runs one query and exits
    without stopping it; its process group must end with it."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    env.update(XDG_CACHE_HOME=str(cache), VERANDA_SPARK_DRIVER_MEM="1g")
    proc = subprocess.Popen([sys.executable, "-c", CDS_CHILD], cwd=ROOT, env=env,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    out, err = proc.communicate(timeout=240)
    assert proc.returncode == 0, err[-2000:]
    deadline = time.monotonic() + 10  # Python workers end on their stdin's EOF
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        time.sleep(0.2)
    else:
        os.killpg(proc.pid, signal.SIGKILL)
        pytest.fail("a process of the session outlived its interpreter")
    return json.loads(out.rsplit("RESULT ", 1)[1])


def test_cds_archive_recorded_mapped_and_survives_junk(tmp_path):
    """The first session records the archive at exit, the next one maps it,
    and a corrupt archive still starts (without CDS)."""
    cds = tmp_path / "veranda_spark" / "cds"
    first = _cds_child(tmp_path)
    archives = sorted(cds.glob("*.jsa"))
    assert len(archives) == 1 and not list(cds.glob("*.tmp"))
    jsa = os.path.realpath(archives[0])
    assert jsa not in first["maps"]
    second = _cds_child(tmp_path)
    assert jsa in second["maps"] and second["rows"] == first["rows"]
    os.chmod(jsa, 0o644)
    with open(jsa, "wb") as f:
        f.write(os.urandom(1024))
    third = _cds_child(tmp_path)
    assert third["rows"] == first["rows"] and jsa not in third["maps"]
