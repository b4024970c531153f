"""SparkSession factory tuned for the tiling/join workload.

Local-mode settings mirror what we would set on a real cluster:
AQE on (runtime coalesce + skew-join splitting), Arrow on (every pixel
kernel is a pandas UDF), shuffle partitions sized to cores not 200.

The driver JVM that ``get_spark`` launches starts from a dynamic
class-data-sharing archive (JEP 350) kept in
``${XDG_CACHE_HOME:-~/.cache}/veranda_spark/cds/``: start-up is JVM
start and class loading, and the archive maps the classes a session
loads instead of reading them out of Spark's jars.  The first session on
a host records the archive when its interpreter exits; later sessions
map it.  Measured with perfbench on a 4-core host (``local[4]``, 2011m
driver, JDK 17, Spark 4.1.2; medians of 10 interleaved pairs):
``spatial_join`` ``get_spark`` 6.47 → 3.64 s, its Python-worker warm-up
6.76 → 4.67 s and ``setup_s`` 15.87 → 10.46 s; ``tile_io`` ``setup_s``
18.54 → 12.80 s.  The archive is 150–180 MB and resident in the mapping
JVM (``spatial_join`` peak PSS 1389 → 1508 MB).  The recording session
pays 2–5 s more set-up than a start without an archive, and 10–12 s at
exit, while its JVM writes the archive.  No archive is used when the conf
directory holds real files (CDS refuses a non-empty directory on the
classpath) or when this process did not launch the JVM.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession

#: seconds an exiting interpreter waits for the JVM to write its archive
_DUMP_WAIT_S = 120


def _file_key(path: str) -> str:
    st = os.stat(path)
    return f"{path} {st.st_size} {st.st_mtime_ns}"


def _cds_launch() -> tuple[str, str | None]:
    """The class-data-sharing option for the driver JVM this process is
    about to launch, and the ``SPARK_CONF_DIR`` to launch it with:
    ``("", None)`` (launch as without CDS) when the JVM already runs, the
    conf directory holds any file but a ``*.template``, or the cache
    cannot be keyed or written.

    The archive is named by a hash of the JVM's ``libjvm.so``, the jars and
    the (empty) conf directory, the classpath the archive is valid for.
    With no archive yet, this process records one: it takes
    ``<key>.attempt`` with ``O_EXCL`` (an existing marker means another
    process is recording or a recording failed: no CDS, no retry) and its
    JVM writes ``<key>.jsa.<pid>.tmp`` at exit, which ``_publish_archive``
    renames into place."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return "", None
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        return "", None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    cache = os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
                         "veranda_spark", "cds")
    empty_conf = os.path.join(cache, "conf")
    jars = os.path.join(spark_home, "jars")
    try:
        if not all(n.endswith(".template") for n in os.listdir(conf_dir)):
            return "", None
        libjvm = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(java))),
                              "lib", "server", "libjvm.so")
        parts = [_file_key(libjvm), empty_conf]
        parts += [_file_key(os.path.join(jars, n)) for n in sorted(os.listdir(jars))]
        key = os.path.join(cache, hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16])
        os.makedirs(empty_conf, exist_ok=True)
        if os.path.exists(key + ".jsa"):
            return f"-XX:SharedArchiveFile={key}.jsa", empty_conf
        os.close(os.open(key + ".attempt", os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    except OSError:
        return "", None
    # -Xlog: the dump warns once per class it skips (hundreds of lines)
    return f"-XX:ArchiveClassesAtExit={key}.jsa.{os.getpid()}.tmp -Xlog:cds=off", empty_conf


def _publish_archive(proc: subprocess.Popen, tmp: str) -> None:
    """At interpreter exit: close the gateway JVM's stdin, on which Spark's
    ``PythonGatewayServer`` calls ``System.exit(0)`` so that the JVM writes
    ``tmp``; wait for it, and rename the archive into place if it exited
    with 0.  A JVM still dumping after ``_DUMP_WAIT_S`` is killed, and its
    file is dropped."""
    sc = SparkContext._active_spark_context
    if sc is not None:  # its accumulator server would see the JVM vanish
        sc.stop()
    proc.stdin.close()
    try:
        code = proc.wait(timeout=_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        code = proc.wait()
    try:
        if code == 0:
            os.replace(tmp, tmp.rsplit(".", 2)[0])  # <key>.jsa.<pid>.tmp
        else:
            os.remove(tmp)
    except OSError:
        pass


def _default_driver_mem() -> str:
    """Half the host's physical RAM, at most 24g.  In local mode the
    driver heap is the whole executor, and the Python workers and page
    cache need the other half: a fixed 24g heap on a 15 GB host let the
    JVM grow until the kernel OOM-killed it."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return f"{max(1024, min(24 * 1024, ram_mb // 2))}m"


def get_spark(
    master: str | None = None,
    app_name: str = "veranda_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # the CPUs this process may run on: under taskset, fewer than cpu_count()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism of the master if local[N], else 2x cores
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 4)
        else:
            shuffle_partitions = 2 * cpus
    # Parallelism-aware Arrow batch sizing (round-3, measured as a sweep
    # on the 600k-row burn-in, fresh JVM per trial, configs interleaved
    # so host weather cancels):
    #   local[2]:  1024rec/32m 63.5s | 2048/64m 47.6s | 4096/128m 34.4s
    #   local[8]:  1024rec/32m 12.9s | 2048/64m 11.1s | 4096/128m 11.7s
    #   local[32]: 1024rec/32m is the round-2 GC fix (64 MB batches x 32
    #              tasks drove 10-20s ParallelGC pauses; 24-73s -> 7-18s)
    # The pathology is TOTAL in-flight Arrow bytes (~concurrency x batch
    # bytes), so the cap scales inversely with cores: ~512 MB in flight,
    # batch bytes clamped to [32m, 128m], records scaled to match.  Small
    # batches at low parallelism just pay per-batch worker round-trips
    # (2x at local[2]) without any GC benefit.
    n_cores = (
        int(master[6:-1])
        if master.startswith("local[") and master[6:-1].isdigit()
        else cpus
    )
    batch_mb = min(128, max(32, 512 // max(n_cores, 1)))
    batch_rec = 1024 * batch_mb // 32
    cds_opt, conf_dir = _cds_launch()
    if conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # round-9: the engine's keyed repartitions are now UNNUMBERED
        # (REPARTITION_BY_COL) so AQE sizes every exchange from real
        # bytes.  The merge floor drops 1m -> 64k because pixel kernels
        # amplify CPU per shuffled byte (a 2 KB encoded patch becomes a
        # 0.5 MB float canvas downstream): medium shuffles keep
        # one-task-per-core parallelism, KB-sized fixture shuffles still
        # collapse to one task.  At cluster scale totalBytes/parallelism
        # >> 64k, so the floor is inert there (guide §2.2).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # let AQE coalesce shuffles INSIDE cached plans too (off by
        # default to keep cache partitioning stable): build_pyramid /
        # quicklook persist their levels, and without this every cached
        # level's keyed repartition stays at the static partition count —
        # 32 near-empty Python-worker tasks per level at fixture scale
        # (round-9; nothing here depends on cache partitioning)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # maxBytesPerBatch caps the Python->JVM return direction the same
        # way (worker-side, pyspark worker.py).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_rec))
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(batch_mb * 1024 * 1024),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("VERANDA_SPARK_DRIVER_MEM") or _default_driver_mem(),
        )
        # Arrow batches allocate multi-MB byte[]s; under G1 those are
        # "humongous" allocations and the default collector GC-thrashes
        # (measured 30x slowdown: VM Thread + GC threads saturating all
        # cores).  ParallelGC handles big short-lived arrays in eden.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseParallelGC " + (cds_opt and cds_opt + " ")
            + os.environ.get("VERANDA_SPARK_DRIVER_JAVA_OPTS", ""),
        )
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local_df frames are LocalRelations, and this rule would evaluate
        # every projection over one on the driver BEFORE column pruning and
        # filter pushdown: a pruned raise_error column, or an ANSI division
        # by zero that a later filter guards, then fails the query.
        # Excluded, those projections run as ordinary JVM tasks instead.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if cds_opt.startswith("-XX:ArchiveClassesAtExit="):
        tmp = cds_opt.split()[0].partition("=")[2]
        atexit.register(_publish_archive, SparkContext._gateway.proc, tmp)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Small driver-local rows (tuples in ``schema`` order, or a pyarrow
    Table with ``schema``'s columns in order) → DataFrame.

    The rows go to Spark as one Arrow table typed by the DDL ``schema``.
    Below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default) the result is a ``LocalRelation``: its plan is a
    ``LocalTableScan`` in ``min(rows, defaultParallelism)`` partitions,
    and collecting or broadcasting it runs no Spark job and no Python
    worker.  ``createDataFrame`` over a list or a parallelized RDD maps
    every row through pickled-row Python on each scan instead; the
    150-key frame of perfbench tile_io's ``delete_rows`` was such a
    one-task Python broadcast build.  Measured on a 4-core host
    (``local[4]``, perfbench seed 1, traced): ``delete_rows`` 11 → 7
    jobs, 1.57 → 0.86 s wall, longest task 0.68 → 0.15 s; over 12
    interleaved pairs, spatial_join rows/s median 21470 → 24490 and
    tile_io 10810 → 12140.  Use for fixture rows, salt maps, polygon
    dicts, key sets, index metadata — anything dim-sized and
    driver-local."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    cols = rows.columns if isinstance(rows, pa.Table) else list(zip(*rows))
    cols = cols or [()] * len(struct.fields)
    if len(cols) != len(struct.fields):
        raise ValueError(f"local_df: rows have {len(cols)} fields, schema {len(struct.fields)}")
    table = pa.Table.from_arrays(
        [c.cast(f.type) if isinstance(c, pa.ChunkedArray) else pa.array(c, type=f.type)
         for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def stop_spark() -> None:
    """Stop the active session (needed before starting one with a different master)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # clear the JVM-held default session so a new master takes effect
    SparkSession.builder._options = {}
