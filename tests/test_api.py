"""User-facing chained API parity: the reference's method-chain style
(from_filepaths → select_* → read / export) over the Spark engine."""

import numpy as np
import pytest

from veranda_spark.api import RasterReader, RasterWriter
from veranda_spark.fixtures import MOSAIC_2X2_GRID, ONE_TILE_GRID, cube_to_rows, simple_cube


def test_reader_chain_matches_reference_semantics(spark):
    cube = simple_cube()
    rows = cube_to_rows(spark, cube)
    reader = RasterReader.from_table(rows, ONE_TILE_GRID)

    # chained select is copy-on-write: the parent is not narrowed
    narrowed = reader.select_layers([1, 2]).select_px_window(10, 12, 5, 5)
    assert narrowed.file_register.count() == 2
    assert reader.file_register.count() == 50

    got = narrowed.read_numpy(row=10, col=12, height=5, width=5)
    np.testing.assert_array_equal(got[("data", 1)], cube[0, 10:15, 12:17])
    np.testing.assert_array_equal(got[("data", 2)], cube[1, 10:15, 12:17])


def test_reader_polygon_mask_chain(spark):
    cube = simple_cube(n_layers=1)
    rows = cube_to_rows(spark, cube)
    tri = [(5.0, -5.0), (55.0, -5.0), (30.0, -45.0)]
    got = (
        RasterReader.from_table(rows, ONE_TILE_GRID)
        .select_polygon(tri, apply_mask=True)
        .read_numpy(nodata=-9999.0)
    )
    from veranda_spark.functions.geometry import polygon_pixel_mask

    m = polygon_pixel_mask(np.array(tri), 0, 0, 1, 1, 0, 0, 50, 60)
    arr = got[("data", 1)]
    np.testing.assert_array_equal(arr[m], cube[0][m])
    assert np.all(arr[~m] == -9999.0)


def test_writer_chain_and_export(spark, tmp_path):
    cube = simple_cube(n_layers=4)
    rows = cube_to_rows(spark, cube)
    writer = RasterWriter(rows, MOSAIC_2X2_GRID)
    res = writer.select_layers([1, 3]).export(str(tmp_path / "out"))
    assert res["written"] == 8  # 2 layers x 4 tiles
    from veranda_spark.io.lineage import read_tiles

    back = read_tiles(spark, str(tmp_path / "out"))
    assert back.count() == 8
    assert set(r["layer_id"] for r in back.select("layer_id").distinct().collect()) == {1, 3}


def test_reader_from_sink_roundtrip(spark, tmp_path):
    # export a mosaic, bind the sink as a register, stitched-read a
    # window spanning four tiles — pixels equal the original burn-in
    import numpy as np
    from pyspark.sql import functions as F

    from veranda_spark.api import RasterReader, RasterWriter
    from veranda_spark.fixtures import generate_images
    from veranda_spark.grid import RegularGrid
    from veranda_spark.operators.raster import burn_in, read_window

    g = RegularGrid(tile_cols=256, tile_rows=256, n_tile_cols=16, n_tile_rows=8)
    imgs = generate_images(spark, 400).cache()
    base = str(tmp_path / "sink")
    RasterWriter(imgs, g).export(base, run_id="r1", per_layer=False)

    # original full-pipeline window (spans a 2x2 tile neighborhood)
    want_rows = read_window(imgs, g, 200, 200, 300, 300).collect()
    want = {
        (r["var"], r["layer_id"]): np.frombuffer(r["bytes"], dtype=r["dtype"])
        for r in want_rows
    }
    got_rows = (
        RasterReader.from_sink(spark, base, g)
        .read(row=200, col=200, height=300, width=300)
        .collect()
    )
    got = {
        (r["var"], r["layer_id"]): np.frombuffer(r["bytes"], dtype=r["dtype"])
        for r in got_rows
    }
    assert set(got) == set(want)
    for k in want:
        np.testing.assert_array_equal(got[k], want[k], err_msg=str(k))


LOCAL_SCHEMA = "i int, l long, s string, b binary, a array<array<array<double>>>"
LOCAL_ROWS = [
    (1, 2**40, None, b"\x00\xff", [[[1.0, 2.0]], []]),
    (2, None, "x", None, []),
    (None, -5, "", b"", None),
]


@pytest.mark.parametrize("rows", [LOCAL_ROWS, []], ids=["rows", "empty"])
def test_local_df_is_a_local_relation(spark, rows):
    # driver-built frames are Arrow local relations: the plan is a
    # LocalTableScan and collecting one runs no Spark job (a parallelized
    # list ran a pickled-row Python task on every scan)
    from veranda_spark.session import local_df

    df = local_df(spark, rows, LOCAL_SCHEMA)
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    sc = spark.sparkContext
    sc.setJobGroup("local_df_collect", "local_df collect")
    got = df.collect()
    sc.setJobGroup("local_df_done", "")
    assert len(sc.statusTracker().getJobIdsForGroup("local_df_collect")) == 0
    # exact round trip: nulls, int vs long, binary, nested empty lists;
    # zero rows keep the declared schema
    assert [tuple(r) for r in got] == rows
    assert df.schema.simpleString() == (
        "struct<i:int,l:bigint,s:string,b:binary,a:array<array<array<double>>>>"
    )


def test_local_df_filter_guards_a_derived_column(spark):
    # projections over a local relation are not evaluated before filter
    # pushdown: under ANSI, a division that a later filter guards must
    # not raise, and a pruned raising column is never evaluated
    from pyspark.sql import functions as F

    from veranda_spark.session import local_df

    df = local_df(spark, [(1, 2), (3, 0)], "a long, b long")
    guarded = df.withColumn("x", F.col("a") / F.col("b")).filter("b != 0")
    assert [r["x"] for r in guarded.collect()] == [0.5]
    trap = df.withColumn("t", F.raise_error(F.lit("evaluated")))
    assert trap.select("a").count() == 2
