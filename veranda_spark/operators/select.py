"""The select_* operator family (SURVEY.md §2.2, P1-P11).

veranda's selections are metadata-only pruning of the file register +
mosaic with copy-on-write semantics (reference base.py:297-557) — exactly
Spark's immutable DataFrame transformations.  Each function below is a
pure ``DataFrame -> DataFrame`` that Catalyst folds into scan-level
predicate pushdown / partition pruning.

The register DataFrame is any table carrying integer-pixel footprint
columns ``px_col0, px_row0, w, h`` (plus optional ``tile_id, layer_id``).
"""

from __future__ import annotations

from typing import Any, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from veranda_spark.functions.geometry import (
    points_in_rings,
    rings_bbox,
    segment_intersects_boxes,
)
from veranda_spark.grid import RegularGrid


def with_tile_id(df: DataFrame, grid: RegularGrid) -> DataFrame:
    """Attach the canonical tile id of the footprint's upper-left pixel
    (point→tile, base.py:471-477)."""
    df = grid.sref_guard(df)
    tr = grid.tile_row_of(F.col("px_row0"))
    tc = grid.tile_col_of(F.col("px_col0"))
    return (
        df.withColumn("tile_row", tr)
        .withColumn("tile_col", tc)
        .withColumn("tile_id", grid.tile_id_of(tr, tc))
    )


def select_tiles(df: DataFrame, tile_ids: Sequence[str]) -> DataFrame:
    """P2 (base.py:334-359): keep rows whose tile ∈ names → partition
    pruning when the table is partitioned by tile_id."""
    return df.filter(F.col("tile_id").isin(list(tile_ids)))


def select_layers(df: DataFrame, layer_ids: Sequence[Any]) -> DataFrame:
    """P3 (base.py:361-387)."""
    return df.filter(F.col("layer_id").isin(list(layer_ids)))


def select_px_window(
    df: DataFrame, row: int, col: int, height: int, width: int
) -> DataFrame:
    """P4 (base.py:389-435): keep rows whose footprint overlaps the pixel
    window [row, row+height) × [col, col+width) (inclusive max+1 slices,
    base.py:56-73)."""
    return df.filter(
        (F.col("px_col0") < col + width)
        & (F.col("px_col0") + F.col("w") > col)
        & (F.col("px_row0") < row + height)
        & (F.col("px_row0") + F.col("h") > row)
    )


def select_xy(df: DataFrame, grid: RegularGrid, x: float, y: float) -> DataFrame:
    """P5 (base.py:437-483): point select — rows whose footprint contains
    the pixel of (x, y).  Rotation-aware (round 5): the full inverse
    geotransform resolves the pixel, so sheared grids select exactly.

    A point outside a BOUNDED grid's static extent warns like the
    reference (base.py:479-480 "outside the spatial extent") and still
    returns the (empty) filtered frame — same net result, but the user
    hears why."""
    pcf, prf = grid.world_to_px_np(np.array([x]), np.array([y]))
    pc, pr = int(np.floor(pcf[0])), int(np.floor(prf[0]))
    if (
        grid.n_tile_cols > 0 and grid.n_tile_rows > 0
        and not (
            0 <= pc < grid.n_tile_cols * grid.tile_cols
            and 0 <= pr < grid.n_tile_rows * grid.tile_rows
        )
    ):
        import warnings

        warnings.warn(
            "Coordinates are outside the spatial extent of the raster mosaic."
        )
    return select_px_window(df, pr, pc, 1, 1)


def select_bbox(
    df: DataFrame, grid: RegularGrid, bbox: tuple[float, float, float, float]
) -> DataFrame:
    """P6 (base.py:485-508): bbox = polygon select with apply_mask=False →
    a pure range predicate on footprint extents (world coords: bbox =
    (xmin, ymin, xmax, ymax)).  On a ROTATED grid the world bbox maps to
    a diamond in pixel space, so a pixel-window range predicate would
    over-select; the bbox is instead treated as a polygon and routed
    through the exact pixel-frame intersect test (round 5 — same
    semantics, exact on sheared grids)."""
    xmin, ymin, xmax, ymax = bbox
    if grid.is_rotated:
        rect = [(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax)]
        return select_polygon(df, grid, rect, exact=True)
    c0 = int(np.floor((xmin - grid.ul_x) / grid.psx))
    c1 = int(np.ceil((xmax - grid.ul_x) / grid.psx))
    r0 = int(np.floor((grid.ul_y - ymax) / grid.psy))
    r1 = int(np.ceil((grid.ul_y - ymin) / grid.psy))
    return select_px_window(df, r0, c0, r1 - r0, c1 - c0)



def _pixel_frame(grid: RegularGrid, rings):
    """World rings → the (col, −row) frame of a ROTATED grid, paired
    with the equivalent unit north-up grid.  An affine maps straight
    edges to straight edges, so running the standard world-space
    intersect/mask logic in this frame is EXACT — footprints are
    axis-aligned boxes in pixel space by construction (round 5; replaces
    the former require_axis_aligned guards on the select family)."""
    from veranda_spark.functions.geometry import rings_to_pixel_frame

    px = rings_to_pixel_frame(
        rings, grid.ul_x, grid.ul_y, grid.psx, grid.psy,
        grid.rot_x, grid.rot_y,
    )
    flipped = [np.stack([r[:, 0], -r[:, 1]], axis=1) for r in px]
    return flipped, RegularGrid(ul_x=0.0, ul_y=0.0, psx=1.0, psy=1.0)


def select_polygon(
    df: DataFrame,
    grid: RegularGrid,
    polygon: Sequence[tuple[float, float]],
    exact: bool = True,
) -> DataFrame:
    """P7 register pruning (base.py:510-557): keep rows whose footprint
    intersects the polygon.  Two-phase: bbox prefilter (pushed down), then
    an exact footprint∩polygon test in a vectorized pandas UDF.

    Pixel-level masking (apply_mask=True) happens at read time —
    ``read_window(..., mask_polygon=...)`` — matching veranda, where the
    register keeps whole tiles and only pixels are nodata'd out.  The
    ring runs through ``select_multipolygon``: for a single ring its
    bbox, even-odd test and edge loop are the same.
    """
    return select_multipolygon(df, grid, [polygon], exact)


def select_multipolygon(
    df: DataFrame,
    grid: RegularGrid,
    rings: Sequence[Sequence[tuple[float, float]]],
    exact: bool = True,
) -> DataFrame:
    """P7 generalized to multi-ring geometry: a list of rings interpreted
    even-odd (outer rings + holes + disjoint parts — the reference accepts
    arbitrary OGR geometry via any_geom2ogr_geom, base.py:15,538).

    A footprint is kept iff it intersects the filled region: corner/center
    inside (even-odd), any ring vertex inside the box, or any ring edge
    crossing the box while the edge's midpoint region matters — the edge
    test keeps boxes whose boundary region is cut (conservative for a box
    straddling only a hole edge: such a box DOES intersect the filled
    region just outside the hole, so keeping it is correct)."""
    if grid.is_rotated:
        rings_px, unit = _pixel_frame(grid, rings)
        return select_multipolygon(df, unit, rings_px, exact)
    polys = [np.asarray(r, dtype="float64") for r in rings]
    xmin, ymin, xmax, ymax = rings_bbox(polys)
    out = select_bbox(df, grid, (xmin, ymin, xmax, ymax))
    if not exact:
        return out
    ul_x, ul_y, psx, psy = grid.ul_x, grid.ul_y, grid.psx, grid.psy

    @F.pandas_udf("boolean")
    def footprint_hits(
        px_col0: pd.Series, px_row0: pd.Series, w: pd.Series, h: pd.Series
    ) -> pd.Series:
        x0 = ul_x + px_col0.to_numpy() * psx
        x1 = ul_x + (px_col0.to_numpy() + w.to_numpy()) * psx
        y0 = ul_y - px_row0.to_numpy() * psy
        y1 = ul_y - (px_row0.to_numpy() + h.to_numpy()) * psy
        hit = np.zeros(len(px_col0), dtype=bool)
        for cx, cy in ((x0, y0), (x0, y1), (x1, y0), (x1, y1), ((x0 + x1) / 2, (y0 + y1) / 2)):
            hit |= points_in_rings(cx, cy, polys)
        for ring in polys:
            for vx, vy in ring:
                hit |= (x0 <= vx) & (vx <= x1) & (y1 <= vy) & (vy <= y0)
            n = len(ring)
            for i in range(n):
                ax, ay = ring[i]
                bx, by = ring[(i + 1) % n]
                miss = ~hit
                if not miss.any():
                    break
                hit[miss] |= segment_intersects_boxes(
                    ax, ay, bx, by, x0[miss], y1[miss], x1[miss], y0[miss]
                )
        return pd.Series(hit)

    return out.filter(
        footprint_hits(F.col("px_col0"), F.col("px_row0"), F.col("w"), F.col("h"))
    )


# ---- P1: serialized logical plan interpreter -------------------------------

_OPS = {
    "select_tiles": lambda df, grid, args, kw: select_tiles(df, *args, **kw),
    "select_layers": lambda df, grid, args, kw: select_layers(df, *args, **kw),
    "select_px_window": lambda df, grid, args, kw: select_px_window(df, *args, **kw),
    "select_xy": lambda df, grid, args, kw: select_xy(df, grid, *args, **kw),
    "select_bbox": lambda df, grid, args, kw: select_bbox(df, grid, *args, **kw),
    "select_polygon": lambda df, grid, args, kw: select_polygon(df, grid, *args, **kw),
    "select_multipolygon": lambda df, grid, args, kw: select_multipolygon(df, grid, *args, **kw),
}


def select(df: DataFrame, grid: RegularGrid, cmds: Sequence) -> DataFrame:
    """P1 (base.py:297-332): execute a JSON-compatible list of
    ``(op_name, args)`` or ``(op_name, args, kwargs)`` select commands —
    a serialized logical plan replayed as DataFrame transformations."""
    out = df
    for cmd in cmds:
        name, args = cmd[0], cmd[1] if len(cmd) > 1 else []
        kw = cmd[2] if len(cmd) > 2 else {}
        if name not in _OPS:
            raise ValueError(f"unknown select op {name!r}")
        out = _OPS[name](out, grid, args, kw)
    return out
