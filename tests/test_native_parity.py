"""Native-layer parity (FIXTURES.md F3): coordinate formula goldens,
per-variable dtype/nodata/scale overrides, JSON plan round-trip, and the
full write→read cycle (EP3 then EP1)."""

import json

import numpy as np
from pyspark.sql import functions as F

from veranda_spark.fixtures import ONE_TILE_GRID, cube_to_rows

from veranda_spark.grid import RegularGrid
from veranda_spark.operators.cube import stitch_union
from veranda_spark.operators.raster import burn_in, read_window
from veranda_spark.operators.select import select


def test_coordinate_formula_golden(spark):
    # F3 geo metadata golden (test_netcdf4.py:91-107): geotrans
    # (3000000, 500, 0, 1800000, 0, -500); x = gt0 + (0.5+i)*gt1
    g = RegularGrid(ul_x=3000000.0, ul_y=1800000.0, psx=500.0, psy=500.0,
                    tile_cols=100, tile_rows=100, n_tile_cols=1, n_tile_rows=1)
    assert g.tile_geotrans(0, 0) == (3000000.0, 500.0, 0.0, 1800000.0, 0.0, -500.0)
    import pyspark.sql.functions as F_

    df = spark.range(100).select(
        g.x_center(F_.col("id")).alias("x"), g.y_center(F_.col("id")).alias("y")
    )
    rows = df.collect()
    want_x = 3000000.0 + (0.5 + np.arange(100)) * 500.0
    want_y = 1800000.0 + (0.5 + np.arange(100)) * -500.0
    np.testing.assert_array_equal(np.array([r["x"] for r in rows]), want_x)
    np.testing.assert_array_equal(np.array([r["y"] for r in rows]), want_y)


def test_three_var_decode_overrides(spark):
    # complex_three_var_ds goldens (netcdf_common.py:41-53,
    # test_netcdf4.py:17-25): sig*2+3, inc*2, azi unchanged; write dtypes
    # override inc/azi to int32 with nodata -9999
    n, h, w = 3, 20, 30
    ones = np.ones((n, h, w), dtype="float32")
    grid = RegularGrid(tile_cols=w, tile_rows=h, n_tile_cols=1, n_tile_rows=1)
    sig = cube_to_rows(spark, ones.astype("float32"), var="sig",
                       scale_factor=2.0, add_offset=3.0, nodata=-9999.0)
    inc = cube_to_rows(spark, np.ones((n, h, w), dtype="int32"), var="inc",
                       scale_factor=2.0, add_offset=0.0, nodata=-9999.0)
    azi = cube_to_rows(spark, np.ones((n, h, w), dtype="int32"), var="azi",
                       scale_factor=1.0, add_offset=0.0, nodata=-9999.0)
    reg = stitch_union(sig, inc, azi)
    res = read_window(reg, grid, 0, 0, h, w, auto_decode=True).collect()
    got = {(r["var"], r["layer_id"]): np.frombuffer(r["bytes"], dtype=r["dtype"]).reshape(h, w)
           for r in res}
    assert len(got) == 9
    np.testing.assert_array_equal(got[("sig", 1)], np.full((h, w), 5.0))   # 1*2+3
    np.testing.assert_array_equal(got[("inc", 2)], np.full((h, w), 2.0))   # 1*2
    np.testing.assert_array_equal(got[("azi", 3)], np.full((h, w), 1.0))   # unchanged


def test_json_plan_roundtrip(spark):
    # P1: the select-command list is JSON-serializable and replayable
    cube = np.arange(2 * 50 * 60, dtype="float64").reshape(2, 50, 60)
    rows = cube_to_rows(spark, cube)
    cmds = [["select_layers", [[1]]], ["select_px_window", [0, 0, 10, 10]]]
    replay = json.loads(json.dumps(cmds))
    out = select(rows, ONE_TILE_GRID, replay)
    assert out.count() == 1
    assert out.first()["layer_id"] == 1


def test_write_then_read_cycle(spark, tmp_path):
    # EP3 -> sink -> EP1: burn a cube into 2x2 tiles, persist, read the
    # tiles back and stitch a center window; pixels must round-trip
    from veranda_spark.fixtures import MOSAIC_2X2_GRID, simple_cube
    from veranda_spark.io.lineage import read_tiles, write_tiles_checkpointed
    from veranda_spark.operators.select import select_layers

    cube = simple_cube(n_layers=2)
    rows = cube_to_rows(spark, cube)
    tiles = burn_in(select_layers(rows, [1, 2]), MOSAIC_2X2_GRID, order_col="layer_id")
    write_tiles_checkpointed(tiles, str(tmp_path / "sink"))

    back = read_tiles(spark, str(tmp_path / "sink"))
    # tiles are image rows again: footprint = tile origin, raw payload
    reg = back.select(
        F.col("tile_id").alias("image_id"),
        "var", "layer_id", "bytes", "h", "w", "dtype",
        F.lit("raw").alias("fmt"),
        (F.col("tile_row") * 25).alias("px_row0"),
        (F.col("tile_col") * 30).alias("px_col0"),
    )
    res = read_window(reg, MOSAIC_2X2_GRID, 10, 10, 30, 40).collect()
    got = {r["layer_id"]: np.frombuffer(r["bytes"], dtype=r["dtype"]).reshape(30, 40)
           for r in res}
    np.testing.assert_array_equal(got[1], cube[0, 10:40, 10:50])
    np.testing.assert_array_equal(got[2], cube[1, 10:40, 10:50])
