"""Hierarchical spatial cell index (H3/S2-style) as Column expressions.

Neither h3 nor s2 bindings exist in this environment, so the engine ships
its own deterministic hierarchy: an axis-aligned power-of-two quad grid
over the world pixel plane ("zcell").  Semantics match what the north rule
needs from H3/S2: a point→cell key at a chosen resolution, parent/child
moves between resolutions, k-rings for neighborhood expansion, and
polygon/bbox cell covers — all computable as integer Column math so the
same values are reproducible in ANSI SQL (the DuckDB oracle) and so
Catalyst can push cell predicates into parquet scans.

Encoding: cell_id = (res << 58) | (iy << 29) | ix  with
ix = floor(px_col / 2^res), iy = floor(px_row / 2^res) — 29 bits each,
covering ±2^28 cells per axis, far beyond any earthly grid.
ix/iy are offset by CELL_OFFSET to stay non-negative for negative pixels.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CELL_OFFSET = 1 << 28  # shifts signed cell coords into non-negative range


def cell_xy(px_col: Column, px_row: Column, res: int) -> tuple[Column, Column]:
    """Integer cell coordinates (ix, iy) at resolution ``res`` (cell edge =
    2^res pixels)."""
    size = 1 << res
    ix = F.floor(px_col / F.lit(size)).cast("long")
    iy = F.floor(px_row / F.lit(size)).cast("long")
    return ix, iy


def cell_id(px_col: Column, px_row: Column, res: int) -> Column:
    """Point → packed int64 cell key at resolution ``res``."""
    ix, iy = cell_xy(px_col, px_row, res)
    return (
        (F.lit(int(res)).cast("long") * F.lit(1 << 58))
        + ((iy + F.lit(CELL_OFFSET)) * F.lit(1 << 29))
        + (ix + F.lit(CELL_OFFSET))
    )


def pack_cell(ix: Column, iy: Column, res: int) -> Column:
    return (
        (F.lit(int(res)).cast("long") * F.lit(1 << 58))
        + ((iy + F.lit(CELL_OFFSET)) * F.lit(1 << 29))
        + (ix + F.lit(CELL_OFFSET))
    )


def unpack_cell(cell: Column) -> tuple[Column, Column, Column]:
    """cell_id → (res, ix, iy)."""
    res = F.floor(cell / F.lit(1 << 58)).cast("long")
    rem = cell - res * F.lit(1 << 58)
    iy = F.floor(rem / F.lit(1 << 29)).cast("long") - F.lit(CELL_OFFSET)
    ix = rem % F.lit(1 << 29) - F.lit(CELL_OFFSET)
    return res, ix, iy


def parent_cell(cell: Column, parent_res: int) -> Column:
    """Move a cell key to a coarser resolution (H3 cell_to_parent analog)."""
    res, ix, iy = unpack_cell(cell)
    # shift amount is (parent_res - res); only valid when parent coarser,
    # caller guarantees res of input — we recompute from packed value
    shift = F.pow(F.lit(2.0), (F.lit(parent_res) - res)).cast("double")
    pix = F.floor(ix / shift).cast("long")
    piy = F.floor(iy / shift).cast("long")
    return pack_cell(pix, piy, parent_res)


def ring_cells(cell: Column, k: int, res: int) -> Column:
    """Array of all cell ids within Chebyshev distance k of ``cell``
    ((2k+1)^2 cells — H3 grid_disk analog).  Used for neighborhood
    joins."""
    _, ix, iy = unpack_cell(cell)
    dxs = F.sequence(F.lit(-k), F.lit(k))
    return F.flatten(
        F.transform(
            dxs,
            lambda dy: F.transform(dxs, lambda dx: pack_cell(ix + dx, iy + dy, res)),
        )
    )


def cover_cells(
    px_col0: Column, px_row0: Column, w: Column, h: Column, res: int
) -> Column:
    """Array of cell ids covering a pixel-window footprint (H3 polyfill
    analog for axis-aligned boxes; inclusive max+1 window semantics
    matching RasterAccess, reference base.py:56-73)."""
    size = 1 << res
    ix0 = F.floor(px_col0 / F.lit(size)).cast("long")
    ix1 = F.floor((px_col0 + w - 1) / F.lit(size)).cast("long")
    iy0 = F.floor(px_row0 / F.lit(size)).cast("long")
    iy1 = F.floor((px_row0 + h - 1) / F.lit(size)).cast("long")
    return F.flatten(
        F.transform(
            F.sequence(iy0, iy1),
            lambda iy: F.transform(
                F.sequence(ix0, ix1), lambda ix: pack_cell(ix, iy, res)
            ),
        )
    )


def cell_id_sql(px_col_expr: str, px_row_expr: str, res: int) -> str:
    """ANSI-SQL rendering of cell_id() for DuckDB oracle parity.

    floor() returns DOUBLE in DuckDB — cast to BIGINT before the 2^58-scale
    packing arithmetic or the key loses precision past 2^53."""
    size = 1 << res
    return (
        f"({int(res)} * {1 << 58} "
        f"+ (cast(floor(({px_row_expr}) / {size}) as bigint) + {CELL_OFFSET}) * {1 << 29} "
        f"+ (cast(floor(({px_col_expr}) / {size}) as bigint) + {CELL_OFFSET}))"
    )


def _spread_bits16(x: Column) -> Column:
    """Spread the low 16 bits of x to even bit positions (0,2,4,...,30)
    — the classic morton-code magic-mask ladder, all JVM bit ops."""
    x = x.bitwiseAND(F.lit(0xFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
    return x


def zorder_key(col_a: Column, col_b: Column) -> Column:
    """Morton / Z-order interleave of two 16-bit non-negative ints into a
    32-bit key: bit i of a lands at 2i+1, bit i of b at 2i.  Rows sorted
    by this key are spatially clustered, so parquet row-group min/max
    statistics prune 2-D range scans — the Iceberg/Delta Z-ORDER BY
    analog, as a plain Column expression."""
    return F.shiftleft(_spread_bits16(col_a.cast("long")), 1).bitwiseOR(
        _spread_bits16(col_b.cast("long"))
    )


def zorder_key_sql(a_expr: str, b_expr: str) -> str:
    """ANSI-SQL rendering of zorder_key for the DuckDB oracle."""

    def spread(e: str) -> str:
        # BIGINT throughout: DuckDB << raises on INT32 overflow
        s = f"(cast(({e}) as bigint) & 65535)"
        for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
            s = f"(({s} | ({s} << {shift})) & {mask})"
        return s

    return f"(({spread(a_expr)} << 1) | {spread(b_expr)})"
