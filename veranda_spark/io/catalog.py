"""Catalog-table layout for the image register (Iceberg-style).

The north rule targets an Iceberg table; no Iceberg runtime ships in this
environment, so the same layout is expressed with Spark's built-in
catalog (partitioned + bucketed managed parquet tables), which exercises
the identical planner features the Iceberg spec would buy:

- ``PARTITIONED BY (tile_id)``  → P2 tile selects become partition
  pruning (no file even listed for unselected tiles)
- ``CLUSTERED BY (phash) INTO n BUCKETS`` → co-located joins/dedup on the
  bucket key without a shuffle
- append writes → S7/append-mode snapshots (here: parquet appends)

Swap `.format("parquet")` for `.format("iceberg")` + a catalog config on
a real cluster; no other code changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def create_images_table(
    df: DataFrame,
    name: str = "images",
    partition_col: str = "tile_id",
    bucket_col: str | None = None,
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write the register as a partitioned (optionally bucketed) managed
    table — the engine's 'mosaic' persisted as table layout."""
    w = df.write.mode(mode).partitionBy(partition_col)
    if bucket_col:
        w = w.bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
    w.format("parquet").saveAsTable(name)


def read_tiles_pruned(
    spark: SparkSession, name: str, tile_ids: list[str]
) -> DataFrame:
    """P2 via partition pruning: the filter is on the partition column, so
    the scan lists only the selected tile directories."""
    return spark.table(name).filter(F.col("tile_id").isin(tile_ids))


def partitions_scanned(df: DataFrame) -> int:
    """Count the files the plan will actually scan (partition-pruning
    proof used by tests); ``inputFiles`` reflects pruning for static
    partition filters."""
    return len(df.inputFiles())


def write_zordered(
    df,
    path: str,
    a_col: str = "tile_row",
    b_col: str = "tile_col",
    n_files: int | None = None,
) -> None:
    """Z-order-clustered parquet write (Iceberg/Delta Z-ORDER BY analog):
    range-partition + sort on the morton key of (a_col, b_col) so each
    output file covers a compact 2-D region — parquet min/max stats on
    a_col/b_col then prune spatial range scans to a few files instead of
    all of them.  The key is dropped before write; clustering lives in
    the file layout, not the schema."""
    from veranda_spark.cells import zorder_key

    n = n_files or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # zorder_key interleaves the LOW 16 BITS of each coordinate; larger
    # values alias onto the same key and the clustering (hence min/max
    # pruning) silently degrades.  Enforce the precondition up front with
    # a plan-side assert — no extra pass, it rides the write scan.
    guard = F.assert_true(
        (F.col(a_col) >= 0) & (F.col(a_col) <= 0xFFFF)
        & (F.col(b_col) >= 0) & (F.col(b_col) <= 0xFFFF),
        F.concat(
            F.lit(f"write_zordered: {a_col}/{b_col} must be in [0, 65535], got ("),
            F.col(a_col).cast("string"), F.lit(", "),
            F.col(b_col).cast("string"), F.lit(")"),
        ),
    )
    (
        df.withColumn("_z", zorder_key(F.col(a_col), F.col(b_col)))
        .withColumn("_zg", guard).filter(F.col("_zg").isNull()).drop("_zg")
        .repartitionByRange(n, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
