"""Raster operators: stitched reads, tiled burn-in writes, zonal stats,
quicklook decimation.

Re-expresses veranda's mosaic read/write paths Spark-first
(SURVEY.md §3 EP1-EP3):

- one placement path (RasterAccess analog, reference base.py:44-73):
  ``_slice_patches`` decodes each image once BEFORE the shuffle and
  cuts one overlap patch per destination rectangle; ``_groups`` collects
  a partition's patches by key after an unnumbered keyed repartition;
  ``_paint`` places a group's patches on a canvas in order-key order.
- stitched read (GeoTiffReader.read, reference mosaic/geotiff.py:233-288):
  NOT a shared-memory scatter — the destination rectangle is the window,
  painted last-writer-wins per (var, layer).
- tiled write / burn-in (GeoTiffWriter.write, mosaic/geotiff.py:558-618):
  the rectangles are the covered in-grid tiles, painted per tile (and
  per var/layer when present); the salted variant splits hot tiles
  over salts and overlays the partial canvases by per-pixel order.
- mask semantics (mosaic/geotiff.py:321-368): out-of-polygon pixels are
  set to nodata, never dropped.

Every pixel kernel is whole-array NumPy inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from veranda_spark.cells import cover_cells
from veranda_spark.functions.codec import decode_image
from veranda_spark.functions.geometry import spec_to_rings, rings_pixel_mask
from veranda_spark.grid import RegularGrid

ASSEMBLED_SCHEMA = (
    "var string, layer_id int, bytes binary, h int, w int, channels int, dtype string"
)
TILE_SCHEMA = (
    "tile_id string, tile_row long, tile_col long, var string, layer_id int, "
    "bytes binary, h int, w int, channels int, dtype string, n_images int"
)
TILE_KEYS = ["tile_id", "tile_row", "tile_col"]


def _decode_row(row) -> np.ndarray:
    dtype = np.dtype(getattr(row, "dtype", None) or "uint8")
    ch = int(getattr(row, "channels", 1) or 1)
    return decode_image(
        row.bytes, row.fmt, int(row.h), int(row.w), channels=ch, dtype=dtype
    )


def _maybe_decode_values(
    arr: np.ndarray, row, auto_decode: bool, decoder=None
) -> np.ndarray:
    """Value decode with the reference's hook contract (§2.9): a custom
    ``decoder(array, nodataval=, scale_factor=, add_offset=, dtype=)``
    callable wins over auto_decode (native/geotiff.py:359-363)."""
    if decoder is not None:
        return decoder(
            arr,
            nodataval=getattr(row, "nodata", None),
            scale_factor=getattr(row, "scale_factor", 1.0),
            add_offset=getattr(row, "add_offset", 0.0),
            dtype=str(arr.dtype),
        )
    if not auto_decode:
        return arr
    scale = getattr(row, "scale_factor", None)
    offset = getattr(row, "add_offset", None)
    nodata = getattr(row, "nodata", None)
    out = arr.astype("float64")
    if nodata is not None and not (isinstance(nodata, float) and np.isnan(nodata)):
        out[arr == nodata] = np.nan
    return out * (1.0 if scale is None else scale) + (0.0 if offset is None else offset)


def _key_schema(keys: Sequence[str]) -> str:
    return "".join(f"{c} {'string' if c == 'var' else 'int'}, " for c in keys)


def _slice_patches(
    df: DataFrame,
    dest: RegularGrid | tuple[int, int, int, int],
    keys: Sequence[str],
    order_col: str,
    salt_map: dict[str, int] | None = None,
    auto_decode: bool = False,
    decoder=None,
) -> DataFrame:
    """Pre-shuffle slicer (``mapInPandas``): decode each image once and
    emit one overlap PATCH per destination rectangle it touches — never
    move pixels you won't place (veranda's windowed-read discipline,
    mosaic/geotiff.py:615-618).  Shipping sliced windows instead of
    whole images cuts shuffle + Arrow volume by the cover amplification.

    ``dest`` is a grid (one rectangle per covered in-grid tile, keyed
    ``tile_id, tile_row, tile_col``) or a ``(row0, col0, height, width)``
    window (one unkeyed rectangle).  ``keys`` columns ride along
    unchanged; with ``salt_map`` each tile patch also carries
    ``salt = hash(order) % salt_map.get(tile_id, 1)``.  The order key
    keeps ``order_col``'s NATIVE type: a string sort would place image
    10 before image 2 for numeric ids (round-1 advisory)."""
    tiled = isinstance(dest, RegularGrid)
    rect_keys = (TILE_KEYS if tiled else []) + (["salt"] if salt_map is not None else [])
    cols = [*rect_keys, *keys, "dst_row0", "dst_col0", "win_h", "win_w",
            "patch", "channels", "dtype", "order_key"]
    order_type = {f.name: f.dataType.simpleString() for f in df.schema}.get(
        order_col, "string"
    )
    schema = (
        ("tile_id string, tile_row long, tile_col long, " if tiled else "")
        + ("salt int, " if salt_map is not None else "")
        + _key_schema(keys)
        + "dst_row0 int, dst_col0 int, win_h int, win_w int, "
        f"patch binary, channels int, dtype string, order_key {order_type}"
    )

    if tiled:
        th, tw = dest.tile_rows, dest.tile_cols
        nrows, ncols = dest.n_tile_rows, dest.n_tile_cols
    else:
        window = tuple(dest)

    def rects(r0: int, c0: int, h: int, w: int):
        """(key, row0, col0, height, width) of every destination
        rectangle an image footprint may touch."""
        if not tiled:
            yield (), *window
            return
        for trow in range(r0 // th, (r0 + h - 1) // th + 1):
            if nrows > 0 and not (0 <= trow < nrows):
                continue
            for tcol in range(c0 // tw, (c0 + w - 1) // tw + 1):
                if ncols > 0 and not (0 <= tcol < ncols):
                    continue
                yield (f"{trow}_{tcol}", trow, tcol), trow * th, tcol * tw, th, tw

    def slice_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                arr = _maybe_decode_values(_decode_row(row), row, auto_decode, decoder)
                r0, c0 = int(row.px_row0), int(row.px_col0)
                h, w = int(row.h), int(row.w)
                order = getattr(row, order_col, None)
                carried = tuple(getattr(row, c) for c in keys)
                for key, y0, x0, rh, rw in rects(r0, c0, h, w):
                    ov_r0, ov_r1 = max(r0, y0), min(r0 + h, y0 + rh)
                    ov_c0, ov_c1 = max(c0, x0), min(c0 + w, x0 + rw)
                    if ov_r1 <= ov_r0 or ov_c1 <= ov_c0:
                        continue
                    if salt_map is not None:
                        n_salt = salt_map.get(key[0], 1)
                        key += (hash(order) % n_salt if n_salt > 1 else 0,)
                    patch = arr[ov_r0 - r0 : ov_r1 - r0, ov_c0 - c0 : ov_c1 - c0]
                    rows.append(
                        key + carried + (
                            ov_r0 - y0, ov_c0 - x0, ov_r1 - ov_r0, ov_c1 - ov_c0,
                            np.ascontiguousarray(patch).tobytes(),
                            int(patch.shape[2]) if patch.ndim == 3 else 1,
                            str(patch.dtype), order,
                        )
                    )
            yield pd.DataFrame(rows or None, columns=cols)

    return df.mapInPandas(slice_batches, schema=schema)


def _groups(
    it: Iterator[pd.DataFrame], keys: Sequence[str]
) -> Iterator[tuple[dict, pd.DataFrame]]:
    """Collect one partition's Arrow batches by ``keys`` (the partition
    was hash-repartitioned on them, so every group is whole here) and
    yield ``(key dict, group frame)`` once per group."""
    pending: dict[tuple, list[pd.DataFrame]] = {}
    for pdf in it:
        if len(pdf) == 0:
            continue
        for key, g in pdf.groupby(list(keys), sort=False):
            pending.setdefault(key if isinstance(key, tuple) else (key,), []).append(g)
    for key, gs in pending.items():
        yield dict(zip(keys, key)), gs[0] if len(gs) == 1 else pd.concat(gs)


def _paint(
    g: pd.DataFrame,
    height: int,
    width: int,
    nodata: float,
    out_dtype: str | None = None,
    composite: str = "last",
    orderp: np.ndarray | None = None,
) -> np.ndarray:
    """Place one group's patches on a fresh ``nodata`` canvas in
    ``order_key`` order.  ``composite`` resolves overlap per pixel;
    ``orderp``, when given, receives each pixel's last placed order key
    (the salted partial's argmax plane)."""
    dt = out_dtype or str(np.dtype(g.iloc[0]["dtype"]))
    ch = int(g.iloc[0]["channels"])
    shape = (height, width) if ch == 1 else (height, width, ch)
    canvas = np.full(shape, nodata, dtype=dt)
    # nodata AS STORED: integer dtypes wrap (-9999 -> 241 for uint8);
    # comparisons must use the stored value
    nod = np.full((), nodata).astype(dt)[()]
    if composite == "mean":
        acc = np.zeros(shape, dtype="float64")
        cnt = np.zeros(shape, dtype="int64")
    for row in g.sort_values("order_key").itertuples(index=False):
        dr, dc = int(row.dst_row0), int(row.dst_col0)
        wh, ww = int(row.win_h), int(row.win_w)
        pshape = (wh, ww) if row.channels == 1 else (wh, ww, int(row.channels))
        patch = np.frombuffer(row.patch, dtype=row.dtype).reshape(pshape)
        region = (slice(dr, dr + wh), slice(dc, dc + ww))
        if orderp is not None:
            orderp[region] = row.order_key
        if composite == "last":
            canvas[region] = patch
        elif composite == "first":
            tgt = canvas[region]
            mask = tgt == nod
            tgt[mask] = patch.astype(dt, copy=False)[mask]
        elif composite in ("max", "min"):
            # nodata is MISSING on both sides: a nodata patch pixel must
            # not destroy valid canvas data (and vice versa) —
            # min(100, -9999) is not a composite
            tgt = canvas[region]
            p = patch.astype(dt, copy=False)
            p_nod = p == nod
            fn = np.maximum if composite == "max" else np.minimum
            combined = np.where(tgt == nod, p, fn(tgt, p))
            canvas[region] = np.where(p_nod, tgt, combined)
        else:  # mean — nodata patch pixels contribute nothing
            p = patch.astype("float64")
            valid = patch != np.full((), nodata).astype(patch.dtype)[()]
            acc[region] += np.where(valid, p, 0.0)
            cnt[region] += valid.astype("int64")
    if composite == "mean":
        seen = cnt > 0
        vals = acc[seen] / cnt[seen]
        if np.issubdtype(np.dtype(dt), np.integer):
            vals = np.round(vals)
        # uncovered pixels get the stored nodata via int→int wrap
        # (deterministic), never a float→int out-of-range cast
        # (platform-dependent C behavior)
        canvas = np.full(shape, nod, dtype=dt)
        canvas[seen] = vals.astype(dt)
    return canvas


def read_window(
    df: DataFrame,
    grid: RegularGrid,
    row0: int,
    col0: int,
    height: int,
    width: int,
    nodata: float = -9999.0,
    auto_decode: bool = False,
    mask_polygon: Sequence[tuple[float, float]] | None = None,
    out_dtype: str | None = None,
    decoder=None,
) -> DataFrame:
    """Stitched windowed read (EP1): assemble, per (var, layer), the pixel
    window [row0:row0+height, col0:col0+width] from all intersecting image
    rows.  Returns one row per (var, layer_id) with the canvas as raw bytes.

    The filter is a pure column predicate → Catalyst pushes it to the scan;
    the window's patches are sliced before the shuffle and painted
    last-writer-wins in ``image_id`` (else ``layer_id``) order.
    """
    pruned = grid.sref_guard(df).filter(
        (F.col("px_col0") < col0 + width)
        & (F.col("px_col0") + F.col("w") > col0)
        & (F.col("px_row0") < row0 + height)
        & (F.col("px_row0") + F.col("h") > row0)
    )
    group = [c for c in ("var", "layer_id") if c in pruned.columns]
    if not group:
        pruned = pruned.withColumn("var", F.lit("data")).withColumn("layer_id", F.lit(1))
        group = ["var", "layer_id"]
    # mask_polygon: one ring, or a list of rings (holes / multipolygons,
    # interpreted even-odd — round-2 generality)
    if mask_polygon is None:
        mask = None
    else:
        if isinstance(mask_polygon[0][0], (list, tuple, np.ndarray)):
            poly = [np.asarray(r, dtype="float64") for r in mask_polygon]
        else:
            poly = [np.asarray(mask_polygon, dtype="float64")]
        mask = rings_pixel_mask(
            poly, grid.ul_x, grid.ul_y, grid.psx, grid.psy, row0, col0,
            height, width, grid.rot_x, grid.rot_y,
        )
    dtype_out = out_dtype or ("float64" if (auto_decode or decoder is not None) else None)
    order_col = "image_id" if "image_id" in pruned.columns else "layer_id"
    patches = _slice_patches(
        pruned, (row0, col0, height, width), group, order_col,
        auto_decode=auto_decode, decoder=decoder,
    )

    def assemble_partition(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for kd, g in _groups(it, group):
            canvas = _paint(g, height, width, nodata, dtype_out)
            if mask is not None:
                canvas[~mask] = nodata  # (h,w) mask broadcasts across bands
            yield pd.DataFrame(
                {
                    "var": [kd.get("var", "data")],
                    "layer_id": [int(kd.get("layer_id", 1))],
                    "bytes": [np.ascontiguousarray(canvas).tobytes()],
                    "h": [height],
                    "w": [width],
                    "channels": [int(g.iloc[0]["channels"])],
                    "dtype": [str(canvas.dtype)],
                }
            )

    # keyed repartition WITHOUT an explicit count (round-9, guide §2):
    # REPARTITION_BY_COL keeps the co-location guarantee while letting
    # AQE size the exchange from the actual patch bytes — one task for a
    # KB-sized fixture window, hundreds for a 100 TB read — instead of
    # pinning spark.sql.shuffle.partitions mostly-empty tasks (each of
    # which still pays a Python-worker round trip in mapInPandas)
    return patches.repartition(*group).mapInPandas(
        assemble_partition, schema=ASSEMBLED_SCHEMA
    )


def burn_in(
    df: DataFrame,
    grid: RegularGrid,
    nodata: float = -9999.0,
    order_col: str = "image_id",
    per_layer: bool = True,
    out_dtype: str | None = None,
    encoder=None,
    composite: str = "last",
) -> DataFrame:
    """Tile burn-in (EP3, S13/S14 semantics): assign every image to the
    tiles it covers, assemble each tile canvas in deterministic placement
    order — the vector→raster path of the north rule.

    Two-phase plan, designed for the shuffle not the driver:

    1. ``_slice_patches`` BEFORE the shuffle: decode each image once and
       emit only the overlapping PATCH per covered tile (measured 6×+
       faster than the naive explode-then-group plan).
    2. keyed repartition on the tile (plus ``var``/``layer_id`` when
       ``per_layer`` and present) → ``mapInPandas``: paint raw patches
       into the canvas; no decode work after the shuffle.

    ``composite`` resolves overlap per pixel (the gdal_merge / mosaic
    strategy knob): ``last`` (default — last writer in ``order_col``
    order wins, the reference's stack semantics), ``first``, ``max``,
    ``min``, ``mean`` (count-weighted over non-nodata contributions,
    rounded back to the storage dtype).  ``max``/``min``/``mean`` are
    order-independent; all run in the same single assembly pass.
    """
    if composite not in ("last", "first", "max", "min", "mean"):
        raise ValueError(
            f"composite must be last|first|max|min|mean, got {composite!r}"
        )
    df = grid.sref_guard(df)
    layers = [c for c in ("var", "layer_id") if per_layer and c in df.columns]
    group = TILE_KEYS + layers
    th, tw = grid.tile_rows, grid.tile_cols
    patches = _slice_patches(df, grid, layers, order_col)

    # Phase 2 rides repartition + mapInPandas rather than groupBy +
    # applyInPandas: hash-partitioning on the group key gives the same
    # co-location guarantee, while the per-batch Arrow path measures ~40%
    # faster than the per-group grouped-map machinery for many small
    # groups with binary payloads.

    def assemble_partition(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for kd, g in _groups(it, group):
            canvas = _paint(g, th, tw, nodata, out_dtype, composite)
            if encoder is not None:
                # writer-side hook contract (§2.9: native/geotiff.py:389-398)
                canvas = encoder(canvas, nodataval=nodata, dtype=str(canvas.dtype))
            yield pd.DataFrame(
                {
                    "tile_id": [kd["tile_id"]],
                    "tile_row": [kd["tile_row"]],
                    "tile_col": [kd["tile_col"]],
                    "var": [kd.get("var", "data")],
                    "layer_id": [int(kd.get("layer_id", 1))],
                    "bytes": [np.ascontiguousarray(canvas).tobytes()],
                    "h": [th],
                    "w": [tw],
                    "channels": [int(g.iloc[0]["channels"])],
                    "dtype": [str(canvas.dtype)],
                    "n_images": [len(g)],
                }
            )

    # unnumbered keyed repartition (round-9, guide §2): AQE sizes the
    # exchange from the real patch bytes instead of a pinned
    # shuffle_partitions constant — scale-adaptive at both fixture and
    # 100 TB scale, co-location unchanged
    return patches.repartition(*group).mapInPandas(
        assemble_partition, schema=TILE_SCHEMA
    )


def burn_in_salted(
    df: DataFrame,
    grid: RegularGrid,
    salt_map: dict[str, int] | None = None,
    nodata: float = -9999.0,
    order_col: str = "image_id",
    out_dtype: str | None = None,
) -> DataFrame:
    """Hotspot-resilient burn-in (north rule: 'skew from dense geographic
    hotspots is handled by cell-level salting').  ``burn_in`` assembles
    each tile in ONE task; a tile covered by millions of images (the
    hotspot) becomes a straggler.  Here hot tiles' patch streams are split
    across ``salt_map[tile_id]`` salts (derive the map from
    ``grid.explode_cover(...).groupBy('tile_id').count()`` — the cell
    histogram); tiles missing from the map get one salt:

    A. patches carry salt = hash(order) % n_salt(tile); each (tile, salt)
       task paints a PARTIAL canvas plus a per-pixel placement-order
       plane — the hot tile's pixel work now spreads over n_salt tasks;
    B. a second, tiny shuffle (n_salt rows per tile) overlays partials by
       per-pixel order ARGMAX — bit-identical to burn_in's sorted
       last-writer-wins, because the painter's order values ARE the sort
       key.

    Canvases are kept apart per ``var``/``layer_id`` when the input has
    them, exactly as ``burn_in``'s default ``per_layer=True``.  Requires
    a NUMERIC order column (the argmax plane is float64); cast string
    ids to long upstream.  Multi-band capable: (h,w,c) payloads flow
    through with a single shared (th,tw) order plane — a later image
    replaces ALL bands of a pixel, matching burn_in's whole-row placement.
    """
    df = grid.sref_guard(df)
    order_dt = {f.name: f.dataType.simpleString() for f in df.schema}.get(order_col)
    if order_dt not in ("tinyint", "smallint", "int", "bigint", "float", "double"):
        raise ValueError(
            f"burn_in_salted needs a numeric order column, got {order_col}:{order_dt}"
        )
    th, tw = grid.tile_rows, grid.tile_cols
    layers = [c for c in ("var", "layer_id") if c in df.columns]
    group = TILE_KEYS + layers
    patches = _slice_patches(df, grid, layers, order_col, salt_map=dict(salt_map or {}))

    partial_schema = (
        "tile_id string, tile_row long, tile_col long, " + _key_schema(layers)
        + "bytes binary, order_bytes binary, channels int, dtype string, n_images int"
    )

    def assemble_partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for kd, g in _groups(it, group + ["salt"]):
            orderp = np.full((th, tw), -np.inf, dtype="float64")
            canvas = _paint(g, th, tw, nodata, out_dtype, orderp=orderp)
            yield pd.DataFrame(
                {
                    **{c: [kd[c]] for c in group},
                    "bytes": [canvas.tobytes()], "order_bytes": [orderp.tobytes()],
                    "channels": [int(g.iloc[0]["channels"])],
                    "dtype": [str(canvas.dtype)], "n_images": [len(g)],
                }
            )

    partials = patches.repartition(
        "tile_id", "salt"
    ).mapInPandas(assemble_partials, schema=partial_schema)

    def overlay(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for kd, g in _groups(it, group):
            dt = str(g.iloc[0]["dtype"])
            ch = int(g.iloc[0]["channels"])
            cshape = (th, tw) if ch == 1 else (th, tw, ch)
            best_c = np.full(cshape, nodata, dtype=dt)
            best_o = np.full((th, tw), -np.inf, dtype="float64")
            n_images = 0
            for row in g.itertuples(index=False):
                c = np.frombuffer(row.bytes, dtype=row.dtype).reshape(cshape)
                o = np.frombuffer(row.order_bytes, dtype="float64").reshape(th, tw)
                take = o > best_o
                best_c = np.where(take if ch == 1 else take[..., None], c, best_c)
                best_o = np.maximum(o, best_o)
                n_images += int(row.n_images)
            yield pd.DataFrame(
                {
                    "tile_id": [kd["tile_id"]],
                    "tile_row": [kd["tile_row"]],
                    "tile_col": [kd["tile_col"]],
                    "var": [kd.get("var", "data")],
                    "layer_id": [int(kd.get("layer_id", 1))],
                    "bytes": [np.ascontiguousarray(best_c).tobytes()],
                    "h": [th], "w": [tw], "channels": [ch], "dtype": [dt],
                    "n_images": [n_images],
                }
            )

    return partials.repartition("tile_id").mapInPandas(
        overlay, schema=TILE_SCHEMA
    )


ZONAL_SCHEMA = (
    "polygon_id string, n_px long, sum_val double, sum_sq double, "
    "min_val double, max_val double"
)


def _zonal_partial(arr: np.ndarray, rings, grid_args, row) -> tuple | None:
    ul_x, ul_y, psx, psy, rot_x, rot_y = grid_args
    h, w = arr.shape
    m = rings_pixel_mask(
        rings, ul_x, ul_y, psx, psy, int(row.px_row0), int(row.px_col0), h, w,
        rot_x, rot_y,
    )
    # float64 before squaring: integer dtypes wrap on x**2
    vals = arr[m & ~np.isnan(arr)].astype("float64")
    if not vals.size:
        return None
    return (
        int(vals.size), float(vals.sum()), float((vals ** 2).sum()),
        float(vals.min()), float(vals.max()),
    )


def _combine_zonal(part: DataFrame) -> DataFrame:
    return part.groupBy("polygon_id").agg(
        F.sum("n_px").alias("n_px"),
        F.sum("sum_val").alias("sum_val"),
        F.sum("sum_sq").alias("sum_sq"),
        F.min("min_val").alias("min_val"),
        F.max("max_val").alias("max_val"),
    ).select(
        "polygon_id",
        "n_px",
        (F.col("sum_val") / F.col("n_px")).alias("mean_val"),
        F.sqrt(F.col("sum_sq") / F.col("n_px") - (F.col("sum_val") / F.col("n_px")) ** 2).alias("std_val"),
        "min_val",
        "max_val",
    )


def zonal_stats(
    df: DataFrame,
    grid: RegularGrid,
    polygons: dict[str, Sequence],
    auto_decode: bool = True,
) -> DataFrame:
    """Raster→vector zonal extraction (north-rule addition; semantics =
    veranda polygon mask, base.py:510-557: out-of-polygon pixels excluded)
    against a small dict of zones.  Dict values may be one ring or a list
    of rings (holes/multipolygons, even-odd).

    The dict becomes a one-row-per-polygon local relation of ring lists
    and runs through ``zonal_stats_table``'s plan.
    """
    from veranda_spark.session import local_df

    rows = []
    for pid, value in polygons.items():
        rings = value if len(value) and hasattr(value[0][0], "__len__") else [value]
        rows.append((pid, [[[float(x), float(y)] for x, y in r] for r in rings]))
    zones = local_df(
        df.sparkSession, rows, "polygon_id string, xy array<array<array<double>>>"
    )
    return zonal_stats_table(df, grid, zones, auto_decode=auto_decode)


def zonal_stats_table(
    df: DataFrame,
    grid: RegularGrid,
    polygons: DataFrame,
    poly_id: str = "polygon_id",
    xy_col: str = "xy",
    auto_decode: bool = True,
) -> DataFrame:
    """Zonal extraction against a polygon TABLE of any size — the one
    zonal plan (the dict ``zonal_stats`` runs it too).

    Plan, shaped so pixels move at most once and never duplicate:

    1. slim image footprints ``(px_col0, px_row0, w, h)`` explode their
       cell cover (JVM-side); the polygons, moved into the pixel frame,
       take the shared classified cover (``joins._classified_cover``,
       outside cells dropped, broadcast); the two equi-join on the cell
       key → candidate (footprint, polygon) pairs;
    2. pairs collapse to ONE row per footprint carrying its candidate
       polygons (a set of (id, xy) structs) — payload bytes then join in
       once, on the footprint columns, with no per-polygon duplication;
    3. mapInPandas decodes each image once and emits per-polygon PARTIAL
       aggregates; a tiny groupBy(polygon_id) combines.

    Images are keyed by the footprint the cover is computed from:
    images with one footprint share one candidate set, and a null,
    duplicated or missing ``image_id`` neither drops pixels nor pulls
    extra candidates.  Every pixel centre inside a polygon lies in
    a non-outside cell of that polygon which its image's cover also
    holds, so dropping the outside cells loses no pixel;
    ``_zonal_partial`` skips pairs with no pixel inside.

    ``xy_col`` is either one ring (array<array<double>> of [x,y] points)
    or a ring LIST (holes / multipolygons, even-odd semantics) — detected
    from the column's nesting depth.
    """
    from veranda_spark.functions.geometry import (
        is_ring_list_column,
        rings_to_pixel_frame,
    )
    from veranda_spark.operators.joins import _classified_cover

    res = 6
    affine = (grid.ul_x, grid.ul_y, grid.psx, grid.psy, grid.rot_x, grid.rot_y)
    rings_to_pixel_frame([], *affine)  # a singular geotransform fails here, not in a task
    footprint = ["px_col0", "px_row0", "w", "h"]
    multi_ring = is_ring_list_column(polygons, xy_col)
    img_cover = df.select(
        *footprint,
        F.explode(cover_cells(*(F.col(c) for c in footprint), res)).alias("_cell"),
    )
    poly_cover = _classified_cover(
        polygons, poly_id, xy_col, res, lambda rings: rings_to_pixel_frame(rings, *affine)
    ).select(F.col(poly_id).alias("_pid"), "_cell")
    zones = polygons.select(F.col(poly_id).alias("_pid"), F.col(xy_col).alias("_xy"))
    pairs = (
        img_cover.join(F.broadcast(poly_cover), "_cell")
        .select(*footprint, "_pid")
        .distinct()
        .join(F.broadcast(zones), "_pid")
        .groupBy(*footprint)
        .agg(F.collect_set(F.struct("_pid", "_xy")).alias("zonal_polys"))
    )
    work = df.join(pairs, footprint)

    def partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: list[tuple] = []
            for row in pdf.itertuples(index=False):
                arr = _decode_row(row)
                arr = _maybe_decode_values(arr, row, auto_decode)
                for entry in row.zonal_polys:
                    pid, xy = entry["_pid"], entry["_xy"]
                    rings = spec_to_rings(xy, multi_ring)
                    p = _zonal_partial(arr, rings, affine, row)
                    if p is not None:
                        out.append((str(pid),) + p)
            yield pd.DataFrame(
                out or None,
                columns=["polygon_id", "n_px", "sum_val", "sum_sq", "min_val", "max_val"],
            )

    return _combine_zonal(work.mapInPandas(partials, schema=ZONAL_SCHEMA))


def quicklook(
    df: DataFrame,
    factor: int = 4,
    vmin: float | None = None,
    vmax: float | None = None,
    ct: "np.ndarray | None" = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Quicklook decimation + linear stretch (gen_qlook analog,
    reference gdalport.py:283-360): block-mean downsample by ``factor``,
    stretch [vmin, vmax] → 0..255 uint8, emit PNG payloads.  ``ct`` is
    the optional (256, 3) uint8 color table (gen_qlook's ``ct`` param):
    stretched gray values map through it to RGB quicklooks.

    When vmin/vmax are None a global min/max supplies the stretch
    (gdalport.py:264-269 '-scale' semantics).  Round-3 single-decode
    plan: pass 1 decodes each image ONCE and emits (downsampled float
    blocks + per-image min/max of the FULL-res pixels); the global
    stretch aggregates over those stats and pass 2 re-reads only the
    small blocks (1/factor² of the bytes) — originals are never decoded
    twice.  The intermediate is persisted MEMORY_AND_DISK (release with
    ``release_caches``) — or, with ``checkpoint_dir``, committed as
    version 1 of the io/table.py table ``<checkpoint_dir>/quicklook_mid``
    (``table.write_once``: data and parameter fingerprint published by
    one rename) and read back (VERDICT r3 #7): executor loss during the
    stretch re-reads the table instead of re-decoding the corpus, a
    rerun over a published pass 1 skips the decode entirely, a killed
    pass 1 leaves only an unpublished stage, and no cache handles leak.
    A rerun with a different ``factor`` or input columns raises, and so
    does one over a version without a fingerprint (a checkpoint written
    before fingerprints were stamped into the version is not resumed).
    Like every io/table.py writer, ``checkpoint_dir`` is a local
    filesystem path.
    """
    from veranda_spark.functions.codec import png_encode

    if ct is not None:
        ct = np.asarray(ct, dtype=np.uint8)
        if ct.shape != (256, 3):
            raise ValueError(f"ct must be a (256, 3) uint8 color table, got {ct.shape}")

    def _colorize(gray: np.ndarray) -> np.ndarray:
        return gray if ct is None else ct[gray]

    ql_schema = "image_id string, bytes binary, h int, w int, fmt string"

    def _small_of(row) -> np.ndarray:
        arr = _decode_row(row).astype("float64")
        h, w = arr.shape
        th, tw = h // factor * factor, w // factor * factor
        blocks = arr[:th, :tw].reshape(th // factor, factor, tw // factor, factor)
        return blocks.mean(axis=(1, 3)), arr

    def _rid(row) -> str:
        return (
            getattr(row, "image_id", None)
            or f"{getattr(row, 'var', 'data')}_{getattr(row, 'layer_id', 1)}"
        )

    if vmin is None or vmax is None:
        mid_schema = "image_id string, small binary, h int, w int, mn double, mx double"

        def pass1(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                rows = []
                for row in pdf.itertuples(index=False):
                    small, arr = _small_of(row)
                    rows.append((
                        _rid(row), small.tobytes(),
                        small.shape[0], small.shape[1],
                        float(np.nanmin(arr)), float(np.nanmax(arr)),
                    ))
                yield pd.DataFrame(
                    rows or None,
                    columns=["image_id", "small", "h", "w", "mn", "mx"],
                )

        if checkpoint_dir is not None:
            import json as _json

            from veranda_spark.io import table

            mid_path = os.path.join(checkpoint_dir, "quicklook_mid")
            # the version's parameter fingerprint stops a resume with a
            # different factor from stretching stale blocks
            fp = _json.dumps(
                {"factor": factor, "columns": sorted(df.columns)},
                sort_keys=True,
            )
            table.write_once(df.mapInPandas(pass1, schema=mid_schema), mid_path, fp)
            mid = table.read_table(df.sparkSession, mid_path)
        else:
            from pyspark import StorageLevel

            mid = df.mapInPandas(pass1, schema=mid_schema).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        stats = mid.agg(F.min("mn").alias("mn"), F.max("mx").alias("mx")).collect()[0]
        vmin = stats["mn"] if vmin is None else vmin
        vmax = stats["mx"] if vmax is None else vmax
        span = max(vmax - vmin, 1e-12)

        def stretch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                rows = []
                for row in pdf.itertuples(index=False):
                    small = np.frombuffer(row.small, dtype="float64").reshape(
                        row.h, row.w
                    )
                    out = np.clip((small - vmin) / span * 255.0, 0, 255).astype("uint8")
                    rows.append((row.image_id, png_encode(_colorize(out)), row.h, row.w, "png"))
                yield pd.DataFrame(
                    rows or None, columns=["image_id", "bytes", "h", "w", "fmt"]
                )

        out = mid.mapInPandas(stretch, schema=ql_schema)
        if checkpoint_dir is None:
            # hand the cache back to the caller: the intermediate must
            # stay persisted until the output is consumed (the stretch
            # re-reads it), so quicklook cannot unpersist it itself.
            # Call ``release_caches(out)`` after collecting/writing to
            # release the downsampled corpus from the block manager.
            out._quicklook_mid = mid
        return out

    span = max(vmax - vmin, 1e-12)

    def decimate(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                small, _ = _small_of(row)
                stretched = np.clip((small - vmin) / span * 255.0, 0, 255).astype("uint8")
                rows.append((
                    _rid(row), png_encode(_colorize(stretched)),
                    stretched.shape[0], stretched.shape[1], "png",
                ))
            yield pd.DataFrame(rows or None, columns=["image_id", "bytes", "h", "w", "fmt"])

    return df.mapInPandas(decimate, schema=ql_schema)


def _cubic_w(t: "np.ndarray") -> "np.ndarray":
    """Catmull-Rom / GDAL cubic convolution weights (a = -0.5)."""
    a = -0.5
    x = np.abs(t)
    return np.where(
        x < 1,
        (a + 2) * x**3 - (a + 3) * x**2 + 1,
        np.where(x < 2, a * x**3 - 5 * a * x**2 + 8 * a * x - 4 * a, 0.0),
    )


def _integral_pair(v: "np.ndarray"):
    """(value, valid-count) integral images of a NaN-masked array, with a
    zero top row / left column so box sums index cleanly."""
    val = np.where(np.isnan(v), 0.0, v)
    cnt = (~np.isnan(v)).astype("float64")

    def ii(a):
        s = np.cumsum(np.cumsum(a, axis=0), axis=1)
        out = np.zeros((a.shape[0] + 1, a.shape[1] + 1) + a.shape[2:])
        out[1:, 1:] = s
        return out

    return ii(val), ii(cnt)


def _sample_ii(S: "np.ndarray", r: "np.ndarray", c: "np.ndarray"):
    """Bilinear sample of an integral image at continuous coords — EXACT
    for a piecewise-constant integrand (the integral of a constant cell
    is bilinear in (r, c)), which is what makes fractional box means
    exact."""
    r = np.clip(r, 0.0, S.shape[0] - 1.0)
    c = np.clip(c, 0.0, S.shape[1] - 1.0)
    r0 = np.minimum(np.floor(r).astype("int64"), S.shape[0] - 2)
    c0 = np.minimum(np.floor(c).astype("int64"), S.shape[1] - 2)
    fr, fc = r - r0, c - c0
    if S.ndim == 3:
        fr, fc = fr[..., None], fc[..., None]
    return (
        S[r0, c0] * (1 - fr) * (1 - fc)
        + S[r0, c0 + 1] * (1 - fr) * fc
        + S[r0 + 1, c0] * fr * (1 - fc)
        + S[r0 + 1, c0 + 1] * fr * fc
    )


def _box_sum(S, rmin, rmax, cmin, cmax):
    return (
        _sample_ii(S, rmax, cmax)
        - _sample_ii(S, rmin, cmax)
        - _sample_ii(S, rmax, cmin)
        + _sample_ii(S, rmin, cmin)
    )


def _quad_cell_coverage(qc: "np.ndarray", qr: "np.ndarray"):
    """EXACT area of (quad ∩ unit cell) for every cell in each quad's
    stencil — the rotation-exact weights for ``average`` resampling
    (round-5, VERDICT r4 #5; replaces the bbox approximation for
    rotated/sheared footprints).

    ``qc``/``qr``: (n, 4) vertex cols/rows of each convex quad in
    continuous src pixel space, ring order.  Returns ``(W, rbase,
    cbase)`` where ``W[p, dr, dc]`` is the intersection area of quad p
    with cell ``[rbase[p]+dr, +1) × [cbase[p]+dc, +1)``.

    Method (scanline Green's theorem, the font-rasterizer coverage
    trick): the winding indicator decomposes per directed edge as
    ``1_P(x,y) = Σ_e sign(dy_e)·[y in e's range]·[x < x_e(y)]``, so each
    edge segment split at integer lattice crossings contributes
    ``dy·(x_mid − C)`` to its own cell (x is linear along the segment —
    the midpoint integral is exact) and a full ``dy`` to every cell to
    its LEFT (resolved by one reverse cumulative sum per row).  Exact
    for straight-edge polygons — for curved (cross-CRS) footprints the
    chord approximation error is O(edge sag), far below the old bbox
    overshoot."""
    n = qc.shape[0]
    cbase = np.floor(qc.min(1)).astype("int64")
    rbase = np.floor(qr.min(1)).astype("int64")
    k = int(
        max(
            np.ceil(qc.max(1) - cbase).max(initial=1.0),
            np.ceil(qr.max(1) - rbase).max(initial=1.0),
        )
    )
    x = qc - cbase[:, None]
    y = qr - rbase[:, None]
    # flat (pixel, row, col) accumulators scattered via bincount rather
    # than np.add.at (round-9, guide §4.2): ~2× faster for this shape.
    # WITHIN one edge the accumulation order matches add.at exactly
    # (ravel order per flat index; measured max|Δ| = 0.0 on the 30°
    # bench quad set); ACROSS edges the per-edge partial sums are
    # reassociated ((a+c1)+c2 vs a+(c1+c2)), so cells fed by several
    # edges can drift by an ulp vs the pre-r9 kernel — inside the
    # kernel's documented accuracy (weights are later tolerance-checked
    # against scalar clipping, never bit-compared)
    area = np.zeros(n * k * k)
    cover = np.zeros(n * k * k)
    base_idx = np.arange(n) * (k * k)
    shoelace = np.zeros(n)
    for e in range(4):
        x0, y0 = x[:, e], y[:, e]
        x1, y1 = x[:, (e + 1) % 4], y[:, (e + 1) % 4]
        shoelace += x0 * y1 - x1 * y0
        dx, dy = x1 - x0, y1 - y0
        dxs = np.where(dx == 0, 1.0, dx)
        dys = np.where(dy == 0, 1.0, dy)
        ts = [np.zeros(n), np.ones(n)]
        for kk in range(k + 1):
            th = np.where(dy != 0, (kk - y0) / dys, -1.0)
            tv = np.where(dx != 0, (kk - x0) / dxs, -1.0)
            # out-of-range crossings collapse to t=1 (empty tail segment)
            ts.append(np.where((th > 0) & (th < 1), th, 1.0))
            ts.append(np.where((tv > 0) & (tv < 1), tv, 1.0))
        t = np.sort(np.stack(ts, axis=1), axis=1)
        ta, tb = t[:, :-1], t[:, 1:]
        tm = (ta + tb) / 2.0
        seg_dy = (tb - ta) * dy[:, None]
        xm = x0[:, None] + tm * dx[:, None]
        ym = y0[:, None] + tm * dy[:, None]
        cc = np.clip(np.floor(xm).astype("int64"), 0, k - 1)
        rr = np.clip(np.floor(ym).astype("int64"), 0, k - 1)
        flat = (base_idx[:, None] + rr * k + cc).ravel()
        area += np.bincount(
            flat, weights=(seg_dy * (xm - cc)).ravel(), minlength=n * k * k
        )
        cover += np.bincount(
            flat, weights=seg_dy.ravel(), minlength=n * k * k
        )
    area = area.reshape(n, k, k)
    cover = cover.reshape(n, k, k)
    # cells strictly LEFT of a segment's column get its full dy
    tail = np.flip(np.cumsum(np.flip(cover, -1), -1), -1) - cover
    w = area + tail
    # a mirrored (negative-Jacobian) mapping yields negative winding
    w *= np.sign(shoelace)[:, None, None]
    return np.maximum(w, 0.0), rbase, cbase


def warp_window(
    df: DataFrame,
    src_grid: RegularGrid,
    dst_grid: RegularGrid,
    row0: int,
    col0: int,
    height: int,
    width: int,
    nodata: float = -9999.0,
    method: str = "nearest",
    pad_px: int = 2,
) -> DataFrame:
    """Cross-CRS windowed WARP — the pixel half of reprojection (round 3;
    the reference delegates this to gdal.Warp, which veranda calls via
    gdalport).  Assembles the destination window
    ``[row0:row0+height, col0:col0+width]`` in ``dst_grid``'s pixel frame
    from imagery registered on ``src_grid``, resampling through the CRS
    transform (functions/crs.py lon/lat hub; identity when the srefs
    match).

    Plan (distributed where the bytes are):
      1. the dst window's corner+edge world coords inverse-transform
         dst→src to bound the SOURCE read — only that region's images
         are scanned/decoded (read_window's pushdown + pre-shuffle patch
         slicing do the heavy lifting);
      2. one numpy gather per assembled (var, layer) canvas maps every
         dst pixel center through the transform to a src pixel
         (``nearest``), a bilinear blend (``bilinear``), a 4x4
         Catmull-Rom convolution (``cubic``, GDAL's a=-0.5 kernel), or
         an area-weighted box mean (``average`` — the anti-aliasing
         choice for >2x downscales; reference resample set:
         gdalport.py:30-41).  All but nearest emit float64 and are
         nodata-aware (cubic renormalizes over valid taps; average
         integrates value and valid-count integral images on the
         axis-aligned fast path, and — round 5 — switches to EXACT
         quad∩cell coverage weights (``_quad_cell_coverage``) when the
         footprints are rotated or sheared, so 30°-rotated warps carry
         true area-weighted means, not bbox approximations).
         Out-of-source pixels come back as ``nodata``.
    """
    from veranda_spark.functions.crs import NP, transform

    same_crs = (
        src_grid.sref is None
        or dst_grid.sref is None
        or src_grid.sref == dst_grid.sref
    )

    def dst_world(cols: np.ndarray, rows: np.ndarray):
        # full geotransform incl. rot terms (SURVEY §1.4 #1) — identical
        # to the pre-rotation formula when rot_x = rot_y = 0
        return dst_grid.px_center_world_np(cols, rows)

    def to_src(x: np.ndarray, y: np.ndarray):
        if same_crs:
            return x, y
        return transform(NP, dst_grid.sref, src_grid.sref, x, y)

    # 1. bound the source read from the dst window's boundary (corners +
    # edge midpoints: projective edges can bow outward between corners)
    bc = np.array([col0, col0 + width / 2, col0 + width], dtype="float64")
    br = np.array([row0, row0 + height / 2, row0 + height], dtype="float64")
    cols_b, rows_b = np.meshgrid(bc, br)
    xb, yb = dst_world(cols_b.ravel() - 0.5, rows_b.ravel() - 0.5)
    sxb, syb = to_src(xb, yb)
    sc, sr = src_grid.world_to_px_np(sxb, syb)
    src_c0 = int(np.floor(sc.min())) - pad_px
    src_r0 = int(np.floor(sr.min())) - pad_px
    src_w = int(np.ceil(sc.max())) + pad_px - src_c0
    src_h = int(np.ceil(sr.max())) + pad_px - src_r0

    canvases = read_window(
        df, src_grid, src_r0, src_c0, src_h, src_w, nodata=nodata
    )

    # 2. per-canvas gather (dst pixel centers → src pixel coords)
    jj, ii = np.meshgrid(
        np.arange(col0, col0 + width), np.arange(row0, row0 + height)
    )
    gx, gy = dst_world(jj.astype("float64"), ii.astype("float64"))
    sx, sy = to_src(gx, gy)
    _fc, _fr = src_grid.world_to_px_np(sx, sy)
    fcol = _fc - 0.5 - src_c0
    frow = _fr - 0.5 - src_r0

    box_rmin = box_rmax = box_cmin = box_cmax = None
    quad_c = quad_r = None  # rotated path: exact quad coverage weights
    if method == "average":
        # per-dst-pixel src footprint quads from the PIXEL CORNER grid
        # (continuous src coords: src pixel k spans [k, k+1))
        ej, ei = np.meshgrid(
            np.arange(col0, col0 + width + 1, dtype="float64"),
            np.arange(row0, row0 + height + 1, dtype="float64"),
        )
        ex, ey = dst_world(ej - 0.5, ei - 0.5)  # corner world coords
        esx, esy = to_src(ex, ey)
        ec, er = src_grid.world_to_px_np(esx, esy)
        ec, er = ec - src_c0, er - src_r0
        axis_aligned = (
            np.abs(np.diff(ec, axis=0)).max(initial=0.0) < 1e-9
            and np.abs(np.diff(er, axis=1)).max(initial=0.0) < 1e-9
        )
        if axis_aligned:
            corners_c = np.stack([ec[:-1, :-1], ec[:-1, 1:], ec[1:, :-1], ec[1:, 1:]])
            corners_r = np.stack([er[:-1, :-1], er[:-1, 1:], er[1:, :-1], er[1:, 1:]])
            box_cmin, box_cmax = corners_c.min(0), corners_c.max(0)
            box_rmin, box_rmax = corners_r.min(0), corners_r.max(0)
        else:
            # RING order (ccw/cw consistent): (i,j) (i,j+1) (i+1,j+1) (i+1,j)
            quad_c = np.stack(
                [ec[:-1, :-1], ec[:-1, 1:], ec[1:, 1:], ec[1:, :-1]], axis=-1
            ).reshape(-1, 4)
            quad_r = np.stack(
                [er[:-1, :-1], er[:-1, 1:], er[1:, 1:], er[1:, :-1]], axis=-1
            ).reshape(-1, 4)

    # per-task memo for the coverage chunks: the weights depend only on
    # the grids, not the canvas, so computing them once per TASK (not
    # once per canvas row — review r5 finding) amortizes the most
    # expensive part of the rotated kernel across vars/layers.  The memo
    # lives in the closure, so each Spark task builds it at most once;
    # it is only kept when the whole tensor fits the ~256 MB cap.
    _avg_geom_memo: dict = {}

    def _avg_chunks():
        """Yield (pixel slice, W, rbase, cbase) coverage chunks, bounding
        the (npix × K × K) weight tensor to ~32 MB per chunk."""
        if "chunks" in _avg_geom_memo:
            yield from _avg_geom_memo["chunks"]
            return
        npix = quad_c.shape[0]
        span = max(
            1.0,
            (quad_c.max(1) - quad_c.min(1)).max(),
            (quad_r.max(1) - quad_r.min(1)).max(),
        )
        k_est = int(np.ceil(span)) + 1
        step = max(1, int(4e6 // (k_est * k_est)))
        cache = npix * k_est * k_est <= 32e6  # ~256 MB of float64
        out = [] if cache else None
        for s in range(0, npix, step):
            sl = slice(s, min(s + step, npix))
            w, rb, cb = _quad_cell_coverage(quad_c[sl], quad_r[sl])
            if out is not None:
                out.append((sl, w, rb, cb))
            yield sl, w, rb, cb
        if out is not None:
            _avg_geom_memo["chunks"] = out

    def _avg_quad_exact(vals: np.ndarray, h: int, w_: int) -> np.ndarray:
        """Rotation-exact area-weighted mean: per dst pixel, the mean of
        src values weighted by the EXACT quad∩cell areas; nodata (NaN)
        cells and out-of-window cells drop from numerator AND
        denominator."""
        ch_shape = vals.shape[2:]
        out = np.full((height * width,) + ch_shape, np.nan)
        for sl, cw, rb, cb in _avg_chunks():
            m, kk = cw.shape[0], cw.shape[1]
            num = np.zeros((m,) + ch_shape)
            den = np.zeros((m,) + ch_shape)
            for dr in range(kk):
                rr = rb + dr
                rok = (rr >= 0) & (rr < h)
                rrc = np.clip(rr, 0, h - 1)
                for dc in range(kk):
                    cc = cb + dc
                    ok = rok & (cc >= 0) & (cc < w_)
                    ccc = np.clip(cc, 0, w_ - 1)
                    v = vals[rrc, ccc]
                    wgt = cw[:, dr, dc]
                    if ch_shape:
                        ok_t = ok[:, None] & ~np.isnan(v)
                        wgt = wgt[:, None]
                    else:
                        ok_t = ok & ~np.isnan(v)
                    num += np.where(ok_t, wgt * np.nan_to_num(v), 0.0)
                    den += np.where(ok_t, wgt, 0.0)
            out[sl] = np.where(den > 1e-12, num / np.where(den == 0, 1, den), np.nan)
        return out.reshape((height, width) + ch_shape)

    def _warp(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                ch = int(row.channels)
                shape = (row.h, row.w) if ch == 1 else (row.h, row.w, ch)
                src = np.frombuffer(row.bytes, dtype=row.dtype).reshape(shape)
                if method == "nearest":
                    ir = np.rint(frow).astype("int64")
                    ic = np.rint(fcol).astype("int64")
                    ok = (ir >= 0) & (ir < row.h) & (ic >= 0) & (ic < row.w)
                    out = np.full(
                        (height, width) if ch == 1 else (height, width, ch),
                        nodata,
                        dtype=src.dtype,
                    )
                    out[ok] = src[ir[ok], ic[ok]]
                    dt = str(src.dtype)
                elif method == "bilinear":
                    # nodata AS STORED: integer dtypes wrap (-9999 -> 241
                    # for uint8) — compare against the wrapped value, not
                    # the raw float, or integer nodata blends as data
                    nod = np.full((), nodata).astype(src.dtype)[()]
                    vals = src.astype("float64")
                    vals[src == nod] = np.nan
                    r0f = np.floor(frow).astype("int64")
                    c0f = np.floor(fcol).astype("int64")
                    wr = frow - r0f
                    wc = fcol - c0f
                    ok = (
                        (r0f >= 0) & (r0f + 1 < row.h)
                        & (c0f >= 0) & (c0f + 1 < row.w)
                    )
                    rr, cc = np.clip(r0f, 0, row.h - 2), np.clip(c0f, 0, row.w - 2)
                    if ch != 1:
                        wr = wr[..., None]
                        wc = wc[..., None]
                    v = (
                        vals[rr, cc] * (1 - wr) * (1 - wc)
                        + vals[rr, cc + 1] * (1 - wr) * wc
                        + vals[rr + 1, cc] * wr * (1 - wc)
                        + vals[rr + 1, cc + 1] * wr * wc
                    )
                    out = np.where(ok if ch == 1 else ok[..., None], v, np.nan)
                    out = np.where(np.isnan(out), nodata, out)
                    dt = "float64"
                elif method == "cubic":
                    nod = np.full((), nodata).astype(src.dtype)[()]
                    vals = src.astype("float64")
                    vals[src == nod] = np.nan
                    valid = ~np.isnan(vals)
                    r0f = np.floor(frow).astype("int64")
                    c0f = np.floor(fcol).astype("int64")
                    tshape = (height, width) if ch == 1 else (height, width, ch)
                    num = np.zeros(tshape)
                    den = np.zeros(tshape)
                    for kr in range(-1, 3):
                        wr = _cubic_w(frow - (r0f + kr))
                        rr = r0f + kr
                        rin = (rr >= 0) & (rr < row.h)
                        rrc = np.clip(rr, 0, row.h - 1)
                        for kc in range(-1, 3):
                            wc = _cubic_w(fcol - (c0f + kc))
                            cc = c0f + kc
                            cin = rin & (cc >= 0) & (cc < row.w)
                            ccc = np.clip(cc, 0, row.w - 1)
                            v = vals[rrc, ccc]
                            w = wr * wc
                            if ch == 1:
                                tap_ok = cin & ~np.isnan(v)
                                num += np.where(tap_ok, w * np.nan_to_num(v), 0.0)
                                den += np.where(tap_ok, w, 0.0)
                            else:
                                tap_ok = cin[..., None] & ~np.isnan(v)
                                num += np.where(tap_ok, w[..., None] * np.nan_to_num(v), 0.0)
                                den += np.where(tap_ok, w[..., None], 0.0)
                    out = np.where(np.abs(den) > 1e-6, num / np.where(den == 0, 1, den), np.nan)
                    # a dst pixel whose NEAREST src pixel is out of range
                    # or nodata stays nodata (no negative-lobe ghosts)
                    irn = np.rint(frow).astype("int64")
                    icn = np.rint(fcol).astype("int64")
                    cen_ok = (irn >= 0) & (irn < row.h) & (icn >= 0) & (icn < row.w)
                    cv = valid[np.clip(irn, 0, row.h - 1), np.clip(icn, 0, row.w - 1)]
                    cen_val = cv if ch == 1 else cv.all(axis=-1)
                    cen = cen_ok & cen_val
                    out = np.where(cen if ch == 1 else cen[..., None], out, np.nan)
                    out = np.where(np.isnan(out), nodata, out)
                    dt = "float64"
                elif method == "average":
                    nod = np.full((), nodata).astype(src.dtype)[()]
                    vals = src.astype("float64")
                    vals[src == nod] = np.nan
                    if quad_c is not None:
                        # rotated/sheared footprint: exact quad coverage
                        # weights (round-5) — the bbox shortcut would
                        # overweight the corners
                        out = _avg_quad_exact(vals, row.h, row.w)
                        out = np.where(np.isnan(out), nodata, out)
                    else:
                        Sv, Sc = _integral_pair(vals)
                        rmin = np.clip(box_rmin, 0.0, float(row.h))
                        rmax = np.clip(box_rmax, 0.0, float(row.h))
                        cmin = np.clip(box_cmin, 0.0, float(row.w))
                        cmax = np.clip(box_cmax, 0.0, float(row.w))
                        s = _box_sum(Sv, rmin, rmax, cmin, cmax)
                        n = _box_sum(Sc, rmin, rmax, cmin, cmax)
                        out = np.where(n > 1e-9, s / np.where(n == 0, 1, n), nodata)
                    dt = "float64"
                else:
                    raise ValueError(
                        "method must be nearest|bilinear|cubic|average, "
                        f"got {method!r}"
                    )
                rows.append((
                    row.var, int(row.layer_id),
                    np.ascontiguousarray(out).tobytes(),
                    height, width, ch, dt,
                ))
            yield pd.DataFrame(
                rows or None,
                columns=["var", "layer_id", "bytes", "h", "w", "channels", "dtype"],
            )

    return canvases.mapInPandas(_warp, schema=ASSEMBLED_SCHEMA)


PYRAMID_SCHEMA = (
    "level int, tile_id string, tile_row long, tile_col long, var string, "
    "layer_id int, bytes binary, h int, w int, channels int, dtype string"
)


def _pyramid_level_df(cur: DataFrame, nodata: float) -> DataFrame:
    """ONE pyramid level: 2× block-mean shrink of every tile into its
    parent quadrant, then one parent-keyed shuffle assembling 2×2
    children into each parent tile.  Shared by build_pyramid (in-memory
    chain) and build_pyramid_checkpointed (sink-committed chain).  The
    parent-keyed shuffle is unnumbered so AQE sizes it from the level's
    real bytes (round-9, guide §2 scale-adaptive partitioning)."""

    def shrink(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                ch = int(getattr(row, "channels", 1) or 1)
                shape = (row.h, row.w) if ch == 1 else (row.h, row.w, ch)
                arr = np.frombuffer(row.bytes, dtype=row.dtype).reshape(shape)
                # nodata AS STORED (wrapped for integer dtypes), matching
                # burn_in's convention — else integer nodata pollutes means
                nod = np.full((), nodata).astype(arr.dtype)[()]
                v = arr.astype("float64")
                v[arr == nod] = np.nan
                th, tw = row.h // 2 * 2, row.w // 2 * 2
                blocks = (
                    v[:th, :tw].reshape(th // 2, 2, tw // 2, 2)
                    if ch == 1
                    else v[:th, :tw].reshape(th // 2, 2, tw // 2, 2, ch)
                )
                axes = (1, 3)
                import warnings

                with warnings.catch_warnings():
                    warnings.simplefilter("ignore")  # all-NaN blocks
                    small = np.nanmean(blocks, axis=axes)
                small = np.where(np.isnan(small), nodata, small)
                if np.issubdtype(np.dtype(row.dtype), np.integer):
                    # round-half-to-even (np.round), matching burn_in's
                    # mean composite (raster.py ~384) so pyramid levels
                    # and burned tiles agree — plain astype truncates
                    # toward zero (off-by-one)
                    small = np.round(small)
                small = small.astype(row.dtype)
                rows.append((
                    int(row.tile_row) // 2, int(row.tile_col) // 2,
                    int(row.tile_row) % 2, int(row.tile_col) % 2,
                    getattr(row, "var", "data"),
                    int(getattr(row, "layer_id", 1) or 1),
                    np.ascontiguousarray(small).tobytes(),
                    small.shape[0], small.shape[1], ch, str(small.dtype),
                ))
            yield pd.DataFrame(
                rows or None,
                columns=["p_row", "p_col", "q_row", "q_col", "var",
                         "layer_id", "bytes", "h", "w", "channels", "dtype"],
            )

    quad_schema = (
        "p_row long, p_col long, q_row int, q_col int, var string, "
        "layer_id int, bytes binary, h int, w int, channels int, dtype string"
    )

    parent_keys = ["p_row", "p_col", "var", "layer_id"]

    def assemble(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for kd, g in _groups(it, parent_keys):
            pr, pc = kd["p_row"], kd["p_col"]
            first = g.iloc[0]
            qh, qw, ch = int(first["h"]), int(first["w"]), int(first["channels"])
            shape = (2 * qh, 2 * qw) if ch == 1 else (2 * qh, 2 * qw, ch)
            canvas = np.full(shape, nodata, dtype=first["dtype"])
            for row in g.itertuples(index=False):
                pshape = (row.h, row.w) if ch == 1 else (row.h, row.w, ch)
                patch = np.frombuffer(row.bytes, dtype=row.dtype).reshape(pshape)
                r0, c0 = int(row.q_row) * qh, int(row.q_col) * qw
                canvas[r0: r0 + row.h, c0: c0 + row.w] = patch
            yield pd.DataFrame({
                "tile_id": [f"{pr}_{pc}"],
                "tile_row": [int(pr)], "tile_col": [int(pc)],
                "var": [kd["var"]], "layer_id": [int(kd["layer_id"])],
                "bytes": [np.ascontiguousarray(canvas).tobytes()],
                "h": [canvas.shape[0]], "w": [canvas.shape[1]],
                "channels": [ch], "dtype": [str(canvas.dtype)],
            })

    lvl_schema = (
        "tile_id string, tile_row long, tile_col long, var string, "
        "layer_id int, bytes binary, h int, w int, channels int, dtype string"
    )
    quads = cur.mapInPandas(shrink, schema=quad_schema)
    return quads.repartition(*parent_keys).mapInPandas(assemble, schema=lvl_schema)


def build_pyramid(
    tiles: DataFrame,
    levels: int = 2,
    nodata: float = -9999.0,
) -> DataFrame:
    """Distributed overview pyramid over burn-in tiles (the gdaladdo /
    COG-overview analog, computed ACROSS tiles instead of inside one
    file — tiff_encode_cog builds per-payload overviews; this op builds
    the mosaic-level ones).

    Level k+1 tile (r, c) assembles from the 2×2 level-k tiles
    (2r..2r+1, 2c..2c+1), each 2× block-mean downsampled into its
    quadrant; missing children leave nodata.  Nodata pixels are excluded
    from block means (all-nodata blocks stay nodata) — the standard
    overview convention.

    Scale: each level is ONE unnumbered shuffle keyed on the parent tile
    (AQE sizes it from the level's bytes), and its input is the PREVIOUS
    level (4× smaller), never the originals — total bytes moved ≈ 4/3 of
    level 1, exactly how gdaladdo recurses.
    Output: union of levels 1..``levels`` (level 0 is the input).
    Each level is persisted MEMORY_AND_DISK (the union shares it between
    its own branch and the next level's lineage); after consuming, call
    ``release_caches(out)`` (or ``.unpersist()`` each frame in
    ``out._pyramid_levels``) to release the caches.  For long jobs that
    must survive executor loss without recompute-from-source, use
    ``build_pyramid_checkpointed``.
    """
    from pyspark import StorageLevel

    out: DataFrame | None = None
    cur = tiles
    level_frames: list[DataFrame] = []
    for level in range(1, levels + 1):
        # persist each level: the returned union references level k from
        # BOTH its own branch and level k+1's lineage — without the shared
        # InMemoryRelation, evaluating the union would recompute every
        # lower level (and re-read the originals) once per higher level
        nxt = _pyramid_level_df(cur, nodata).persist(StorageLevel.MEMORY_AND_DISK)
        tagged = nxt.withColumn("level", F.lit(level)).select(
            "level", "tile_id", "tile_row", "tile_col", "var", "layer_id",
            "bytes", "h", "w", "channels", "dtype",
        )
        out = tagged if out is None else out.unionByName(tagged)
        cur = nxt
        level_frames.append(nxt)
    out._pyramid_levels = level_frames
    return out


def release_caches(df: DataFrame) -> int:
    """Unpersist the intermediate caches quicklook/build_pyramid hand
    back on their result frames (``_quicklook_mid`` /
    ``_pyramid_levels``).  Returns how many frames were released — the
    discoverable release path for the session-lifetime caches those
    operators need while their output is being consumed."""
    n = 0
    mid = getattr(df, "_quicklook_mid", None)
    if mid is not None:
        mid.unpersist()
        n += 1
    for frame in getattr(df, "_pyramid_levels", None) or []:
        frame.unpersist()
        n += 1
    return n


def build_pyramid_checkpointed(
    tiles: DataFrame,
    base: str,
    levels: int = 2,
    nodata: float = -9999.0,
    run_id: str | None = None,
) -> DataFrame:
    """Resumable pyramid build (VERDICT r3 #7): every level is COMMITTED
    as an io/table.py tile table under ``base/level_k`` before the next
    level starts, and level k+1 reads level k's committed table — never
    an in-memory cache, never the originals.  A level is one
    ``table.write_once`` checkpoint: its tiles (with the ``run_id`` /
    ``completed_at`` lineage columns ``write_tiles_checkpointed`` adds,
    so ``read_tiles`` and ``read_lineage`` work on it) and the parameter
    fingerprint publish together by one rename.  A crashed build resumes
    where it stopped:

      - a published level is read back, zero recompute;
      - a level is all-or-nothing: a build that crashed inside a level
        published none of it and recomputes the whole level, with the
        SHRINK input being the previous level's committed table (4×
        smaller than source) rather than the original imagery.

    Resuming with a different ``nodata`` raises, and so does resuming a
    level whose version carries no fingerprint (levels written before
    fingerprints were stamped into the version are not resumed).  Like
    every io/table.py writer, ``base`` is a local filesystem path.

    tile_ids are namespaced ``var/layer/r_c`` so multi-variable levels
    don't collide in the per-tile lineage.  Returns the same
    (level, tile…) union build_pyramid returns, read entirely from the
    committed tables.
    """
    import json as _json
    import time

    from veranda_spark.io import table
    from veranda_spark.io.lineage import read_tiles

    spark = tiles.sparkSession
    cols = ["tile_id", "tile_row", "tile_col", "var", "layer_id",
            "bytes", "h", "w", "channels", "dtype"]
    # parameter fingerprint in every level's version: resuming with a
    # different nodata (or over a different input — the caller owns one
    # base per input, like any checkpoint) must fail loudly, never reuse
    # stale levels silently
    fp = _json.dumps({"nodata": nodata}, sort_keys=True)
    run_id = run_id or f"run_{int(time.time() * 1000)}"
    out: DataFrame | None = None
    cur = tiles
    for level in range(1, levels + 1):
        lvl_base = os.path.join(base, f"level_{level}")
        level_rows = _pyramid_level_df(cur, nodata).withColumns({
            "tile_id": F.concat_ws(
                "/", F.col("var"), F.col("layer_id").cast("string"),
                F.col("tile_id"),
            ),
            "n_images": F.lit(0).cast("long"),
            "run_id": F.lit(run_id),
            "completed_at": F.lit(time.time()),
        })
        table.write_once(level_rows, lvl_base, fp, "tile_id")
        committed = read_tiles(spark, lvl_base).select(*[
            c for c in cols if c != "tile_id"
        ] + [F.element_at(F.split("tile_id", "/"), -1).alias("tile_id")])
        committed = committed.select(*cols)
        tagged = committed.withColumn("level", F.lit(level)).select(
            "level", *cols
        )
        out = tagged if out is None else out.unionByName(tagged)
        cur = committed
    return out
