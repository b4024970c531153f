"""zonal_stats_table and zonal_stats (dict) against an independent numpy
reference on identical zones, plus multi-ring (donut) zonal semantics."""

import numpy as np
from pyspark.sql import functions as F

from veranda_spark.fixtures import generate_images, make_image_array
from veranda_spark.grid import RegularGrid
from veranda_spark.operators.raster import zonal_stats, zonal_stats_table

GRID = RegularGrid(tile_cols=512, tile_rows=512, n_tile_cols=8, n_tile_rows=4)

TRI = [(100.0, -100.0), (900.0, -150.0), (400.0, -800.0)]
SQ = [(1200.0, -200.0), (2000.0, -200.0), (2000.0, -900.0), (1200.0, -900.0)]


def _rows(df):
    return {
        r["polygon_id"]: (r["n_px"], round(r["mean_val"], 9), r["min_val"], r["max_val"])
        for r in df.collect()
    }


def _in_rings(px, py, rings):
    """Even-odd point-in-polygon over a list of rings (holes toggle)."""
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        ring = np.asarray(ring, dtype="float64")
        xa, ya = ring[:, 0], ring[:, 1]
        xb, yb = np.roll(xa, -1), np.roll(ya, -1)
        for i in range(len(ring)):
            crosses = (ya[i] > py) != (yb[i] > py)
            if crosses.any():
                x_at = xa[i] + (py - ya[i]) * (xb[i] - xa[i]) / (yb[i] - ya[i])
                inside ^= crosses & (px < x_at)
    return inside


def _reference(imgs, rings_by_id):
    """_rows' shape computed in numpy: every pixel centre of every image
    (GRID is unit north-up at the origin: x = col + 0.5, y = -(row + 0.5))
    tested against the rings, values from the F0 golden arrays."""
    vals: dict[str, list] = {}
    for r in imgs.select("image_id", "px_col0", "px_row0", "w", "h").collect():
        i = int(r["image_id"].removeprefix("img_"))
        gx, gy = np.meshgrid(r["px_col0"] + np.arange(r["w"]) + 0.5,
                             -(r["px_row0"] + np.arange(r["h"]) + 0.5))
        arr = make_image_array(i, r["h"], r["w"]).ravel().astype("float64")
        for pid, rings in rings_by_id.items():
            v = arr[_in_rings(gx.ravel(), gy.ravel(), rings)]
            if v.size:
                vals.setdefault(pid, []).append(v)
    return {
        pid: (v.size, round(v.sum() / v.size, 9), v.min(), v.max())
        for pid, v in ((p, np.concatenate(vs)) for p, vs in vals.items())
    }


def test_table_matches_dict_variant(spark):
    imgs = generate_images(spark, 200).cache()
    want = _rows(zonal_stats(imgs, GRID, {"tri": TRI, "sq": SQ}, auto_decode=False))
    polys = spark.createDataFrame(
        [("tri", [[float(x), float(y)] for x, y in TRI]),
         ("sq", [[float(x), float(y)] for x, y in SQ])],
        "polygon_id string, xy array<array<double>>",
    )
    got = _rows(zonal_stats_table(imgs, GRID, polys, auto_decode=False))
    assert got == want == _reference(imgs, {"tri": [TRI], "sq": [SQ]})
    assert len(got) == 2 and all(v[0] > 0 for v in got.values())


def test_zonal_dict_accepts_rings(spark):
    imgs = generate_images(spark, 150).cache()
    outer = [(100.0, -100.0), (1100.0, -100.0), (1100.0, -1100.0), (100.0, -1100.0)]
    hole = [(400.0, -400.0), (800.0, -400.0), (800.0, -800.0), (400.0, -800.0)]
    full = _rows(zonal_stats(imgs, GRID, {"z": outer}, auto_decode=False))
    donut = _rows(zonal_stats(imgs, GRID, {"z": [outer, hole]}, auto_decode=False))
    inner = _rows(zonal_stats(imgs, GRID, {"z": hole}, auto_decode=False))
    # even-odd: donut pixel count = outer minus hole
    assert donut["z"][0] == full["z"][0] - inner["z"][0]
    assert donut["z"][0] > 0
    assert donut == _reference(imgs, {"z": [outer, hole]})
    assert full == _reference(imgs, {"z": [outer]})


def test_table_accepts_rings(spark):
    imgs = generate_images(spark, 150).cache()
    outer = [(100.0, -100.0), (1100.0, -100.0), (1100.0, -1100.0), (100.0, -1100.0)]
    hole = [(400.0, -400.0), (800.0, -400.0), (800.0, -800.0), (400.0, -800.0)]
    want = _rows(zonal_stats(imgs, GRID, {"z": [outer, hole]}, auto_decode=False))
    polys = spark.createDataFrame(
        [("z", [[[float(x), float(y)] for x, y in ring] for ring in (outer, hole)])],
        "polygon_id string, xy array<array<array<double>>>",
    )
    got = _rows(zonal_stats_table(imgs, GRID, polys, auto_decode=False))
    assert got == want == _reference(imgs, {"z": [outer, hole]})
    assert got["z"][0] > 0


def test_images_keyed_by_footprint_not_id(spark):
    # both operators key images by their footprint: a null, missing or
    # shared image_id neither drops pixels nor changes any zone
    imgs = generate_images(spark, 200).cache()
    want = _reference(imgs, {"tri": [TRI], "sq": [SQ]})
    shared = imgs.withColumn("image_id", F.substring("image_id", 1, 9))
    assert shared.select("image_id").distinct().count() < shared.count()
    assert shared.select("px_col0", "px_row0", "w", "h").distinct().count() > (
        shared.select("image_id").distinct().count())
    polys = spark.createDataFrame(
        [("tri", [[float(x), float(y)] for x, y in TRI]),
         ("sq", [[float(x), float(y)] for x, y in SQ])],
        "polygon_id string, xy array<array<double>>",
    )
    for frame in (
        imgs.withColumn("image_id", F.lit(None).cast("string")),
        imgs.drop("image_id"),
        shared,
    ):
        assert _rows(zonal_stats_table(frame, GRID, polys, auto_decode=False)) == want
        got = _rows(zonal_stats(frame, GRID, {"tri": TRI, "sq": SQ}, auto_decode=False))
        assert got == want
    assert len(want) == 2
    empty = zonal_stats(imgs, GRID, {})
    assert empty.columns == ["polygon_id", "n_px", "mean_val", "std_val", "min_val", "max_val"]
    assert empty.collect() == []
