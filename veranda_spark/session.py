"""SparkSession factory tuned for the tiling/join workload.

Local-mode settings mirror what we would set on a real cluster:
AQE on (runtime coalesce + skew-join splitting), Arrow on (every pixel
kernel is a pandas UDF), shuffle partitions sized to cores not 200.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


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
            "-XX:+UseParallelGC " + os.environ.get("VERANDA_SPARK_DRIVER_JAVA_OPTS", ""),
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
