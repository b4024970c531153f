"""Checkpointed tiled writes with per-tile lineage + resume.

North-rule addition (no reference analog — veranda is one-shot batch;
closest is its append mode, native/netcdf.py:354-358): the sink at
``base`` is an io/table.py versioned table partitioned by ``tile_id``,
and every data row carries its own lineage (``run_id``,
``completed_at``, and ``psnr`` for re-encoded runs).  Each write is one
``table.append_rows`` commit — a stage under ``<base>/_staging/``
published by one rename — so a crash before the rename leaves only a
stage, invisible to every reader and in no writer's way.  A killed job
resumes by anti-joining completed tiles — no recomputation, no
streaming state store (SURVEY.md §2.8: resume is table-driven by
design).  A sink has a SINGLE writer (the table contract).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from veranda_spark.io import table


def read_lineage(spark: SparkSession, base: str) -> DataFrame | None:
    """One lineage row per committed data row — a projection of the
    sink's current version (``psnr`` null for lossless runs).  None when
    no sink has been committed at ``base`` yet."""
    if table.current_version(base) is None:
        return None
    t = table.read_table(spark, base)
    psnr = F.col("psnr") if "psnr" in t.columns else F.lit(None).cast("double")
    return t.select(
        "tile_id",
        "tile_row",
        "tile_col",
        F.col("n_images").cast("long").alias("n_images"),
        "run_id",
        psnr.alias("psnr"),
        "completed_at",
    )


def write_tiles_checkpointed(
    tiles: DataFrame,
    base: str,
    run_id: str | None = None,
    lossy_fmt: str | None = None,
    min_psnr: float | None = 40.0,
    grid=None,
    scope: str = "table",
) -> dict:
    """Write burn-in output partitioned by tile_id with lineage records.

    ``tiles`` is the output of ``operators.raster.burn_in`` (one row per
    tile canvas).  Already-completed tiles (per the sink's lineage
    columns) are anti-joined away before any pixel work — the resume
    path.

    Crash-safety: every data row carries this run's ``run_id`` and
    ``completed_at``, and the rows commit as ONE table version
    (``table.append_rows``).  A crash before the commit leaves only an
    unpublished stage that no reader sees; the rerun commits its tiles
    once beside it — no duplicate tiles on read, also for a replay with
    the same run_id.

    With ``lossy_fmt`` canvases are re-encoded through the codec hook —
    "dctq" (lossy) or "tiff"/"tiff_lzw"/"tiff_deflate"/"tiff_packbits"/
    "cog" (lossless GeoTIFF-sink parity, PSNR recorded as the 1e9 cap
    for exact round-trips; pass ``grid`` to embed each tile's GeoTIFF
    placement tags so payloads are self-describing GeoTIFFs) — and
    the PER-TILE PSNR vs the exact canvas is recorded in a ``psnr``
    column; tiles below ``min_psnr`` (input_hint: 40 dB) fail the job
    loudly instead of silently persisting corrupt pixels.  Lossless
    writes carry no psnr column (``read_lineage`` reports NULL, not
    NaN).  Returns counters {run_id, written, skipped} where skipped =
    tiles already committed (computed from the sink's lineage columns
    alone — the pixel pipeline is executed exactly once).

    ``scope`` controls the resume anti-join: "table" (default) skips
    tiles committed by ANY run — overwrite/one-shot semantics; "run"
    skips only tiles committed by THIS run_id — append semantics where
    each run adds its own generation of tiles (streaming micro-batches:
    a crash-replay of the same batch is a no-op, while other batches'
    tiles are untouched).
    """
    if scope not in ("table", "run"):
        raise ValueError(f"scope {scope!r}")
    # rotated grids flow through the FULL 6-value tile geotransform,
    # which the TIFF writer encodes as ModelTransformationTag; north-up
    # grids keep the minimal PixelScale+Tiepoint pair bit-identically
    # (round 5c — the last rotation guard, now real support)
    spark = tiles.sparkSession
    run_id = run_id or f"run_{int(time.time() * 1000)}"
    lin = read_lineage(spark, base)
    if lin is not None and scope == "run":
        lin = lin.filter(F.col("run_id") == run_id)
    done = None if lin is None else lin.select("tile_id").distinct()
    n_done = 0 if done is None else done.count()
    todo = tiles if done is None else tiles.join(done, "tile_id", "left_anti")
    if lossy_fmt is not None:
        from typing import Iterator

        import numpy as np
        import pandas as pd

        from veranda_spark.functions.codec import (
            LOSSLESS_FMTS,
            decode_image,
            encode_image,
            psnr,
        )

        out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in todo.schema) + ", psnr double, fmt string"

        def reencode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                payloads, psnrs = [], []
                for row in pdf.itertuples(index=False):
                    ch = int(getattr(row, "channels", 1) or 1)
                    if ch != 1 and lossy_fmt not in LOSSLESS_FMTS:
                        # the TIFF family writes (h, w, spp) interleaved
                        # samples losslessly; only truly lossy codecs
                        # (dctq) are single-band
                        raise ValueError(
                            f"lossy fmt {lossy_fmt!r} re-encode supports "
                            f"single-band canvases (tile {row.tile_id} has "
                            f"channels={ch})"
                        )
                    shape = (row.h, row.w) if ch == 1 else (row.h, row.w, ch)
                    canvas = np.frombuffer(row.bytes, dtype=row.dtype).reshape(shape)
                    if canvas.dtype not in (np.dtype("uint8"), np.dtype("uint16")) and (
                        lossy_fmt not in LOSSLESS_FMTS
                    ):
                        # lossless TIFF round-trips any supported dtype
                        # bit-exactly; the uint gate only protects truly
                        # lossy codecs (dctq)
                        raise ValueError(
                            f"lossy fmt {lossy_fmt!r} supports uint8/uint16 canvases, "
                            f"got {canvas.dtype} for tile {row.tile_id}"
                        )
                    geo = (
                        grid.tile_geotrans(int(row.tile_row), int(row.tile_col))
                        if grid is not None
                        else None
                    )
                    enc = encode_image(canvas, lossy_fmt, geo=geo)
                    dec = decode_image(enc, lossy_fmt, row.h, row.w)
                    peak = 255.0 if canvas.dtype == np.dtype("uint8") else 65535.0
                    p = min(psnr(canvas.astype("float64"), dec.astype("float64"), peak), 1e9)
                    if min_psnr is not None and p < min_psnr:
                        raise ValueError(
                            f"tile {row.tile_id}: lossy PSNR {p:.2f} dB < {min_psnr} dB gate"
                        )
                    payloads.append(enc)
                    psnrs.append(p)
                pdf = pdf.copy()
                pdf["bytes"] = payloads
                pdf["psnr"] = psnrs
                pdf["fmt"] = lossy_fmt
                yield pdf

        todo = todo.mapInPandas(reencode, schema=out_schema)
    todo = (
        todo.withColumn("run_id", F.lit(run_id))
        .withColumn("completed_at", F.lit(time.time()))
        .cache()
    )
    n_todo = todo.count()
    if n_todo:
        table.append_rows(todo, base, "tile_id")
    todo.unpersist()
    return {"run_id": run_id, "written": n_todo, "skipped": n_done}


def snapshots(spark: SparkSession, base: str) -> DataFrame:
    """Iceberg-style snapshot log derived from the lineage columns: one
    row per committed run (run_id, n_tiles, committed_at).  The lineage
    IS the snapshot metadata — no extra bookkeeping write."""
    lin = read_lineage(spark, base)
    if lin is None:
        raise FileNotFoundError(f"no committed tile sink at {base}")
    return (
        lin.groupBy("run_id")
        .agg(
            F.count("*").alias("n_tiles"),
            F.max("completed_at").alias("committed_at"),
        )
        .orderBy("committed_at")
    )


def read_tiles(
    spark: SparkSession,
    base: str,
    as_of: str | float | None = None,
    mode: str = "latest",
) -> DataFrame:
    """Read back the tiled sink's current version (partition pruning on
    tile_id applies).  ``mode``: "latest" (default) — the newest run per
    tile wins (overwrite semantics); "all" — every committed (tile_id,
    run_id) generation is returned (append semantics: streaming
    micro-batch layers).

    ``as_of`` time-travels the read (Iceberg snapshot semantics on top of
    the per-row ``completed_at``): a run_id string pins the sink as of
    that run's commit; a float unix timestamp pins it as of that instant.
    Runs committed later are invisible — including tiles they added."""
    if mode not in ("latest", "all"):
        raise ValueError(f"mode {mode!r}")
    data = table.read_table(spark, base)
    if as_of is not None:
        if isinstance(as_of, str):
            cutoff = data.filter(F.col("run_id") == as_of).agg(
                F.max("completed_at")
            ).first()[0]
            if cutoff is None:
                raise ValueError(f"unknown run_id {as_of!r}")
        else:
            cutoff = as_of
        data = data.filter(F.col("completed_at") <= float(cutoff))
    if mode == "all":
        return data
    latest = data.groupBy(F.col("tile_id").alias("_tile")).agg(
        F.max_by("run_id", "completed_at").alias("_run")
    )
    return data.join(
        F.broadcast(latest),
        (F.col("tile_id") == F.col("_tile")) & (F.col("run_id") == F.col("_run")),
        "left_semi",
    )


def compact_tiles(
    spark: SparkSession,
    base: str,
    run_id: str | None = None,
    keep_history: bool = False,
) -> dict:
    """Small-file compaction + history expiry (Iceberg rewrite-data-files
    / expire-snapshots analog).  Many append runs (streaming micro-batches,
    resumed jobs) leave one small parquet file per run per tile; at 10^12
    scale that file count dominates scan planning.  This rewrites the sink
    to the CURRENT generation only — one file per tile, every row
    restamped as one compact run — and expires every older version.
    Time travel to pre-compaction runs is expired by design (that is what
    'expire snapshots' means) — snapshot history restarts at the compact
    run.  ``keep_history=True`` instead compacts EVERY committed
    generation into one file per tile (``table.compact_table``) and keeps
    the rows' lineage verbatim — snapshots/time travel still work.

    Both are ordinary table commits: a crash at any point leaves the
    committed sink untouched and an unpublished stage that blocks no
    later write (``table.recover_orphans`` sweeps it when no writer is
    live).  Returns {run_id, tiles, files_before, files_after}."""
    cur = table.current_version(base)
    if cur is None:
        raise FileNotFoundError(f"no committed tile sink at {base}")
    run_id = run_id or f"compact_{int(time.time() * 1000)}"
    before = table._partition_file_counts(base, cur, "tile_id")
    if keep_history:
        table.compact_table(spark, base, partition_by="tile_id")
    else:
        latest = (
            read_tiles(spark, base, mode="latest")
            .withColumn("run_id", F.lit(run_id))
            .withColumn("completed_at", F.lit(time.time()))
        )
        table.merge_into(
            spark, base, latest, keys=["tile_id"], partition_by="tile_id"
        )
        table.expire_versions(base, keep=1)
    after = table._partition_file_counts(
        base, table.current_version(base), "tile_id"
    )
    return {
        "run_id": run_id,
        "tiles": len(after),
        "files_before": sum(before.values()),
        "files_after": sum(after.values()),
    }
