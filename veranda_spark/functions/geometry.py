"""Planar geometry kernels (NumPy-vectorized; no shapely in this env).

Covers what veranda delegates to geospade/OGR (`any_geom2ogr_geom`,
`slice_by_geom`, tile∩polygon intersection — reference base.py:510-557,
mosaic/geotiff.py:346-368): point-in-polygon tests, bbox intersection,
and per-tile raster masks.  Every function is whole-array NumPy so it can
run inside Arrow-batched pandas UDFs.

Polygons are (N, 2) float arrays of (x, y) vertices, implicitly closed.
"""

from __future__ import annotations

import numpy as np


def polygon_bbox(poly: np.ndarray) -> tuple[float, float, float, float]:
    p = np.asarray(poly, dtype="float64")
    return float(p[:, 0].min()), float(p[:, 1].min()), float(p[:, 0].max()), float(p[:, 1].max())


def points_in_polygon(px: np.ndarray, py: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast: True where (px, py) is strictly inside
    (boundary points follow the half-open crossing convention).  This is the
    exact re-check behind the cell-cover prefilter (SURVEY.md §2.2 P7)."""
    px = np.asarray(px, dtype="float64")
    py = np.asarray(py, dtype="float64")
    poly = np.asarray(poly, dtype="float64")
    x0, y0 = poly[:, 0], poly[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    inside = np.zeros(px.shape, dtype=bool)
    for i in range(len(poly)):
        cond = (y0[i] > py) != (y1[i] > py)
        if not cond.any():
            continue
        xin = (x1[i] - x0[i]) * (py - y0[i]) / (y1[i] - y0[i]) + x0[i]
        inside ^= cond & (px < xin)
    return inside


def points_in_rings(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd test over MULTIPLE rings: holes and multipolygons fall out
    of the crossing parity for free (a point inside an outer ring AND a
    hole ring toggles twice → outside).  This is the generality the
    reference gets from arbitrary OGR geometry (any_geom2ogr_geom,
    base.py:15,538) — round 1 supported single rings only."""
    px = np.asarray(px, dtype="float64")
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        inside ^= points_in_polygon(px, py, np.asarray(ring, dtype="float64"))
    return inside


def rings_bbox(rings) -> tuple[float, float, float, float]:
    boxes = [polygon_bbox(np.asarray(r, dtype="float64")) for r in rings]
    return (
        min(b[0] for b in boxes),
        min(b[1] for b in boxes),
        max(b[2] for b in boxes),
        max(b[3] for b in boxes),
    )


def rings_to_pixel_frame(
    rings, ul_x: float, ul_y: float, psx: float, psy: float,
    rot_x: float, rot_y: float,
) -> list:
    """World-coordinate rings → continuous (col, row) pixel-frame rings
    via the inverse of the full geotransform.  EXACT: an affine maps
    straight edges to straight edges, so point-in-polygon in the pixel
    frame is identical to point-in-polygon in world space — this is what
    lets rotated/sheared grids use the same even-odd mask kernels
    (round 5; closes the require_axis_aligned gap for polygon ops)."""
    det = -(psx * psy + rot_x * rot_y)
    scale = abs(psx * psy) + abs(rot_x * rot_y)
    if not (abs(det) > 1e-12 * max(scale, 1e-300)):
        # same loud failure as RegularGrid._inv_affine — a silent
        # inf-ring would make every mask/select empty (review r5
        # pass-3 #2)
        raise ValueError(
            f"singular geotransform: psx={psx}, psy={psy}, rot_x={rot_x}, "
            f"rot_y={rot_y} has determinant ~0 — the pixel axes are "
            "collinear"
        )
    out = []
    for ring in rings:
        r = np.asarray(ring, dtype="float64")
        dx, dy = r[:, 0] - ul_x, r[:, 1] - ul_y
        c = (-psy * dx - rot_x * dy) / det
        rr = (-rot_y * dx + psx * dy) / det
        out.append(np.stack([c, rr], axis=1))
    return out


def rings_pixel_mask(
    rings,
    ul_x: float,
    ul_y: float,
    psx: float,
    psy: float,
    row0: int,
    col0: int,
    h: int,
    w: int,
    rot_x: float = 0.0,
    rot_y: float = 0.0,
) -> np.ndarray:
    """polygon_pixel_mask generalized to multi-ring geometry (even-odd).
    With nonzero rot terms the RINGS move into the pixel frame (exact —
    see rings_to_pixel_frame) and centers are tested at (col+0.5,
    row+0.5); the north-up path keeps the round-1 world-space formula
    bit-for-bit."""
    cols = col0 + np.arange(w)
    rows = row0 + np.arange(h)
    if rot_x == 0.0 and rot_y == 0.0:
        xs = ul_x + (cols + 0.5) * psx
        ys = ul_y - (rows + 0.5) * psy
        gx, gy = np.meshgrid(xs, ys)
        return points_in_rings(gx.ravel(), gy.ravel(), rings).reshape(h, w)
    px_rings = rings_to_pixel_frame(rings, ul_x, ul_y, psx, psy, rot_x, rot_y)
    gx, gy = np.meshgrid(cols + 0.5, rows + 0.5)
    return points_in_rings(gx.ravel(), gy.ravel(), px_rings).reshape(h, w)


def polygon_pixel_mask(
    poly_xy: np.ndarray,
    ul_x: float,
    ul_y: float,
    psx: float,
    psy: float,
    row0: int,
    col0: int,
    h: int,
    w: int,
) -> np.ndarray:
    """(h, w) bool mask: True where the PIXEL CENTER falls inside the
    polygon.  veranda's mask semantics (mosaic/geotiff.py:321-368,
    mosaic/netcdf.py:309-336): out-of-polygon pixels are set to nodata on
    read, rows are NOT dropped.  Pixel centers per native/netcdf.py:225-243:
    x = ul_x + (0.5+col)*psx ; y = ul_y - (0.5+row)*psy.
    """
    cols = col0 + np.arange(w)
    rows = row0 + np.arange(h)
    xs = ul_x + (cols + 0.5) * psx
    ys = ul_y - (rows + 0.5) * psy
    gx, gy = np.meshgrid(xs, ys)
    return points_in_polygon(gx.ravel(), gy.ravel(), poly_xy).reshape(h, w)


def segment_intersects_boxes(
    ax: float, ay: float, bx: float, by: float,
    xmin: np.ndarray, ymin: np.ndarray, xmax: np.ndarray, ymax: np.ndarray,
) -> np.ndarray:
    """Liang-Barsky clip test of ONE segment (a→b) against N axis-aligned
    boxes, vectorized over the boxes.  True where the segment touches the
    box (including a segment wholly inside it).  Closes the sliver hole in
    footprint∩polygon: a polygon edge slicing a footprint box without any
    corner-in-polygon / vertex-in-box hit (reference slice_by_geom keeps
    such tiles, base.py:546-555)."""
    xmin = np.asarray(xmin, dtype="float64")
    ymin = np.asarray(ymin, dtype="float64")
    xmax = np.asarray(xmax, dtype="float64")
    ymax = np.asarray(ymax, dtype="float64")
    t0 = np.zeros(xmin.shape)
    t1 = np.ones(xmin.shape)
    ok = np.ones(xmin.shape, dtype=bool)
    for p0, d, lo, hi in ((ax, bx - ax, xmin, xmax), (ay, by - ay, ymin, ymax)):
        if d == 0.0:
            ok &= (p0 >= lo) & (p0 <= hi)
        else:
            tn = (lo - p0) / d
            tf = (hi - p0) / d
            if d < 0.0:
                tn, tf = tf, tn
            t0 = np.maximum(t0, tn)
            t1 = np.minimum(t1, tf)
    return ok & (t0 <= t1)


def is_ring_list_column(df, xy_col: str) -> bool:
    """True when ``xy_col`` holds a ring LIST (array<array<array<double>>>,
    holes/multipolygons) rather than a single ring — shared schema probe
    for pip_join_table / zonal_stats_table."""
    from pyspark.sql import types as T

    elem = df.schema[xy_col].dataType.elementType
    return isinstance(elem, T.ArrayType) and isinstance(elem.elementType, T.ArrayType)


def spec_to_rings(spec, multi_ring: bool) -> list[np.ndarray]:
    """Arrow row value of an xy column → list of (N,2) float64 ring arrays."""
    if multi_ring:
        return [
            np.asarray([list(v) for v in ring], dtype="float64") for ring in spec
        ]
    return [np.asarray([list(v) for v in spec], dtype="float64")]
