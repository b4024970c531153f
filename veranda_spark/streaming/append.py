"""Structured-Streaming append ingestion.

Maps the reference's append mode (NetCdf4File mode='a' along the
unlimited stack dim, native/netcdf.py:354-358, 565-598; test
test_netcdf4.py:39-51 'writing twice doubles the stack') to its Spark
analog: a file-source stream appended to a tiled sink with an
availableNow trigger — each new batch of image rows becomes new layers;
watermarked windowed counts give per-tile ingest rates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from veranda_spark.fixtures import IMAGES_SCHEMA
from veranda_spark.grid import RegularGrid


def stream_images(spark: SparkSession, src_dir: str) -> DataFrame:
    """readStream over a parquet drop directory of image rows."""
    return spark.readStream.schema(IMAGES_SCHEMA).parquet(src_dir)


def append_to_tiles(
    stream: DataFrame, grid: RegularGrid, sink_dir: str, checkpoint_dir: str
):
    """Append-mode sink: assign tiles, write partitioned parquet.  With
    Trigger.AvailableNow the stream drains everything present and stops —
    the batch-append parity of the reference's mode='a'."""
    tiled = stream.withColumn(
        "tile_id",
        grid.tile_id_of(
            grid.tile_row_of(F.col("px_row0")), grid.tile_col_of(F.col("px_col0"))
        ),
    )
    return (
        tiled.writeStream.format("parquet")
        .option("path", os.path.join(sink_dir, "tiles"))
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("tile_id")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


def windowed_ingest_counts(
    stream: DataFrame, ts_col: str = "ingest_ts", window: str = "10 seconds"
) -> DataFrame:
    """Watermarked tumbling-window counts per tile (late data dropped
    after 30s) — the streaming-agg surface of the engine."""
    return (
        stream.withWatermark(ts_col, "30 seconds")
        .groupBy(F.window(F.col(ts_col), window), F.col("tile_id"))
        .agg(F.count("*").alias("n_rows"))
    )


SESSION_STATE_SCHEMA = "n_events long, last_ts double, session_start double"
SESSION_OUT_SCHEMA = (
    "user_id long, session_start double, session_end double, n_events long"
)


def sessionize_stream(
    stream: DataFrame,
    gap_seconds: float = 600.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
):
    """Custom stateful streaming operator (applyInPandasWithState): gap-
    based sessionization with per-user state.  A session CLOSES — and one
    output row is emitted — when the watermark passes last_ts + gap (via
    state timeout) or the state sees an event beyond the gap.

    This is the §2.8 stateful surface the reference has no analog for
    (batch-only library); included because the north rule's streaming
    ingest needs late-data-aware state, and Spark's built-in session
    window covers only aggregations, not arbitrary per-key state.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        user = key[0]
        if state.hasTimedOut:
            n, last, start = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user], "session_start": [start],
                 "session_end": [last], "n_events": [n]}
            )
            return
        events = pd.concat(list(pdfs))
        ts = events[ts_col].astype("int64").to_numpy() / 1e9  # epoch seconds
        ts.sort()
        out = []
        if state.exists:
            n, last, start = state.get
        else:
            n, last, start = 0, None, None
        for t in ts:
            if last is not None and t - last > gap_seconds:
                out.append((user, start, last, n))
                n, start = 0, t
            if start is None:
                start = t
            n += 1
            last = t
        state.update((int(n), float(last), float(start)))
        state.setTimeoutTimestamp(int(last * 1000) + int(gap_seconds * 1000))
        yield pd.DataFrame(
            out or None,
            columns=["user_id", "session_start", "session_end", "n_events"],
        )

    return (
        stream.withWatermark(ts_col, "10 seconds")
        .groupBy(F.col(user_col))
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def burn_in_stream(
    stream: DataFrame,
    grid: RegularGrid,
    base: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Incremental tile burn-in with exactly-once commits (§2.8 + the
    north rule's 'killed job resumes without recomputing completed
    tiles', in STREAMING form).

    foreachBatch: every micro-batch of image rows burns into per-tile
    canvases and commits one tile-sink version with run_id = the
    batch id and scope="run" — a crash-replay of the same
    epoch anti-joins its own committed tiles away (idempotent), while
    other batches' generations are untouched.  Read back with
    ``read_tiles(mode="all")`` (each batch is one generation of layers)
    or ``mode="latest"`` (newest generation per tile wins).
    """
    from veranda_spark.io.lineage import write_tiles_checkpointed
    from veranda_spark.operators.raster import burn_in

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        tiles = burn_in(batch_df, grid, per_layer=False)
        write_tiles_checkpointed(
            tiles, base, run_id=f"b{int(batch_id):09d}", scope="run"
        )

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def merge_batch_handler(
    path: str,
    keys: list[str],
    checkpoint_dir: str,
    partition_by: str | None = None,
):
    """The foreachBatch handler behind ``merge_stream``, exposed so the
    replay semantics are directly testable: calling it twice with the
    same batch id merges once."""
    import hashlib
    import os

    from veranda_spark.io.table import merge_into

    ckpt_tag = hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(path, f"_stream_batch_{ckpt_tag}")
        try:
            with open(marker) as f:
                last = int(f.read().strip())
        except FileNotFoundError:
            last = -1
        if batch_id <= last:
            return  # crash-replay of an applied epoch: no-op
        # nothing to recover first: a crashed merge (this stream's or a
        # compactor's) leaves only an unpublished stage under _staging/,
        # which no commit looks at.  A LIVE compact_table or manual
        # merge_into that publishes the same version first makes this
        # merge fail loudly with FileExistsError at its rename — the
        # marker stays unwritten, so the batch replays — instead of two
        # writers' data mixing in one version.
        merge_into(
            batch_df.sparkSession, path, batch_df, keys,
            partition_by=partition_by,
        )
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        os.replace(tmp, marker)

    return handle


def merge_stream(
    stream: DataFrame,
    path: str,
    keys: list[str],
    checkpoint_dir: str,
    partition_by: str | None = None,
    available_now: bool = True,
):
    """CDC-style streaming upsert: every micro-batch MERGEs into a
    versioned table (io/table.py) — the streaming half of §2.8 for keyed
    tables, complementing burn_in_stream's tile sinks.

    Exactly-once: the applied batch id is committed to a marker file
    (atomic rename) AFTER the merge commit, so a crash-replay of an
    already-applied epoch is a no-op — no duplicate version, no double
    upsert.  The marker is scoped to THIS stream's checkpoint (hash of
    ``checkpoint_dir`` in the filename): batch ids restart at 0 for
    every new query, so a table-global marker would silently swallow a
    second stream's early batches.  (The merge itself is also idempotent
    for identical batch content; the marker keeps the version history
    clean.)
    """
    handle = merge_batch_handler(path, keys, checkpoint_dir, partition_by)

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    watermark_col: str = "ingest_ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with bounded state
    (``dropDuplicatesWithinWatermark``): duplicate keys arriving within
    ``delay`` of each other emit once; state for keys older than the
    watermark is dropped, so a forever-running ingest never accumulates
    unbounded dedup state — the streaming half of dedup.exact_duplicates
    for the image ingest path (re-crawled images carry the same
    image_id/phash within a bounded window)."""
    return stream.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        keys
    )
