"""Mosaic-parity tests (SURVEY.md §5 level (c)): regenerate the reference's
fixtures as DataFrames and assert identical row→tile mapping, window
contents, decode math and mask semantics.

Mirrors /root/reference/tests/raster/mosaic/geotiff/test_geotiff.py and
mosaic_common.py (fixtures F1/F2): 60x50 one-tile mosaic '0', window
probes (0,0,10,10), (10,12,5,5), (45,55,5,5); quadrant writes; decode
golden raw*2+3.
"""

import numpy as np
import pytest

from veranda_spark.fixtures import (
    MOSAIC_2X2_GRID,
    ONE_TILE_GRID,
    complex_cube,
    cube_to_rows,
    simple_cube,
)
from veranda_spark.operators.raster import burn_in, read_window
from veranda_spark.operators.select import select, select_layers, select_px_window


@pytest.fixture(scope="module")
def cube():
    return simple_cube()  # (50, 50, 60) float64 randn


@pytest.fixture(scope="module")
def rows(spark, cube):
    return cube_to_rows(spark, cube).cache()


def _assembled_to_cube(result_rows, height, width):
    """Collect read_window output into a (layers, h, w) array keyed by layer."""
    out = {}
    for r in result_rows:
        arr = np.frombuffer(r["bytes"], dtype=r["dtype"]).reshape(r["h"], r["w"])
        out[r["layer_id"]] = arr
    layers = sorted(out)
    return np.stack([out[l] for l in layers]), layers


WINDOWS = [(0, 0, 10, 10), (10, 12, 5, 5), (45, 55, 5, 5)]


@pytest.mark.parametrize("row,col,h,w", WINDOWS)
def test_windowed_read_matches_numpy(spark, cube, rows, row, col, h, w):
    # reference: write px window, read back equals source slice
    # (tests/raster/mosaic/geotiff/test_geotiff.py:5-17)
    res = read_window(rows, ONE_TILE_GRID, row, col, h, w).collect()
    got, layers = _assembled_to_cube(res, h, w)
    want = cube[:, row : row + h, col : col + w]
    assert layers == list(range(1, 51))
    np.testing.assert_array_equal(got, want)


def test_auto_decode_parity(spark):
    # complex_ds: decoded data1 == raw*2+3 (geotiff test:20-45)
    cx = complex_cube()
    v = cx["data1"]
    rows = cube_to_rows(
        spark, v["data"], var="data1",
        scale_factor=v["scale_factor"], add_offset=v["add_offset"], nodata=v["nodata"],
    )
    res = read_window(rows, ONE_TILE_GRID, 0, 0, 50, 60, auto_decode=True).collect()
    got, _ = _assembled_to_cube(res, 50, 60)
    np.testing.assert_array_equal(got, v["data"] * 2.0 + 3.0)
    raw = read_window(rows, ONE_TILE_GRID, 0, 0, 50, 60, auto_decode=False).collect()
    got_raw, _ = _assembled_to_cube(raw, 50, 60)
    np.testing.assert_array_equal(got_raw, v["data"])


def test_quadrant_writes_then_full_read(spark, cube, rows):
    # reference geotiff test:48-67: select layers [0,5,9] (1-based 1,6,10),
    # write 4 quadrants, read everything back
    layer_sel = [1, 6, 10]
    sel = select_layers(rows, layer_sel)
    quads = [(0, 0, 25, 30), (0, 30, 25, 30), (25, 0, 25, 30), (25, 30, 25, 30)]
    pieces = []
    for r, c, h, w in quads:
        got, layers = _assembled_to_cube(
            read_window(select_px_window(sel, r, c, h, w), ONE_TILE_GRID, r, c, h, w).collect(),
            h, w,
        )
        assert layers == layer_sel
        pieces.append(((r, c), got))
    full = np.full((3, 50, 60), np.nan)
    for (r, c), got in pieces:
        full[:, r : r + got.shape[1], c : c + got.shape[2]] = got
    want = cube[[l - 1 for l in layer_sel]]
    np.testing.assert_array_equal(full, want)


def test_regular_mosaic_tile_mapping(spark, cube, rows):
    # F2: 2x2 mosaic of 25x30 tiles; row→tile mapping invariant
    # tile_row = floor(px_row/25), tile_col = floor(px_col/30)
    tiles = burn_in(select_layers(rows, [1]), MOSAIC_2X2_GRID, order_col="layer_id").collect()
    assert sorted(t["tile_id"] for t in tiles) == ["0_0", "0_1", "1_0", "1_1"]
    for t in tiles:
        arr = np.frombuffer(t["bytes"], dtype=t["dtype"]).reshape(t["h"], t["w"])
        r0 = t["tile_row"] * 25
        c0 = t["tile_col"] * 30
        np.testing.assert_array_equal(arr, cube[0, r0 : r0 + 25, c0 : c0 + 30])


def test_mask_semantics_polygon_read(spark, cube, rows):
    # P7 apply_mask: out-of-polygon pixels → nodata, rows kept
    # (mosaic/geotiff.py:321-368 semantics)
    tri = [(5.0, -5.0), (55.0, -5.0), (30.0, -45.0)]
    res = read_window(
        select_layers(rows, [1]), ONE_TILE_GRID, 0, 0, 50, 60,
        mask_polygon=tri, nodata=-9999.0,
    ).collect()
    got, _ = _assembled_to_cube(res, 50, 60)
    from veranda_spark.functions.geometry import polygon_pixel_mask

    m = polygon_pixel_mask(np.array(tri), 0.0, 0.0, 1.0, 1.0, 0, 0, 50, 60)
    assert m.any() and (~m).any()
    np.testing.assert_array_equal(got[0][m], cube[0][m])
    assert np.all(got[0][~m] == -9999.0)


def test_select_plan_interpreter(spark, rows):
    # P1: serialized command list replay (base.py:297-332)
    out = select(
        rows, ONE_TILE_GRID,
        [("select_layers", [[1, 2, 3]]), ("select_px_window", [0, 0, 10, 10])],
    )
    assert out.count() == 3


def test_burn_in_numeric_order_last_writer_wins(spark):
    # round-1 advisory: str(order) put image "10" before "2"; the order key
    # now keeps the source column's native type, so numeric recency wins
    from veranda_spark.grid import RegularGrid

    g = RegularGrid(tile_cols=8, tile_rows=8, n_tile_cols=1, n_tile_rows=1)
    rows = [
        (2, np.full((8, 8), 2, dtype=np.uint8).tobytes(), 8, 8, "raw", 0, 0),
        (10, np.full((8, 8), 10, dtype=np.uint8).tobytes(), 8, 8, "raw", 0, 0),
    ]
    df = spark.createDataFrame(
        rows,
        "image_id long, bytes binary, w int, h int, fmt string, px_col0 long, px_row0 long",
    )
    out = burn_in(df, g, per_layer=False).collect()
    assert len(out) == 1
    canvas = np.frombuffer(out[0]["bytes"], dtype=np.uint8).reshape(8, 8)
    assert (canvas == 10).all()  # numeric max id placed last
    # the stitched read places in the same native order over the window
    win = read_window(df, g, 0, 0, 8, 8).collect()
    assert len(win) == 1
    assert (np.frombuffer(win[0]["bytes"], dtype=np.uint8) == 10).all()
