"""burn_in_salted == burn_in bit-for-bit: the salted overlay's per-pixel
order argmax must reproduce sorted last-writer-wins exactly, while the
hot tile's pixel work spreads across salt tasks."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from veranda_spark.grid import RegularGrid
from veranda_spark.operators.raster import burn_in, burn_in_salted

GRID = RegularGrid(tile_cols=32, tile_rows=32, n_tile_cols=4, n_tile_rows=2)


def _hotspot_rows(spark, n=120):
    # 80% of images piled on tile 0_0 (the hotspot), rest spread out
    rng = np.random.default_rng(9)
    rows = []
    for i in range(n):
        if i % 5 != 4:
            c0, r0 = int(rng.integers(0, 24)), int(rng.integers(0, 24))
        else:
            c0, r0 = int(rng.integers(0, 120)), int(rng.integers(0, 56))
        arr = rng.integers(0, 256, (8, 8), dtype=np.uint8)
        rows.append((i, arr.tobytes(), 8, 8, "raw", "uint8", c0, r0))
    return spark.createDataFrame(
        rows,
        "image_id long, bytes binary, w int, h int, fmt string, dtype string, "
        "px_col0 long, px_row0 long",
    )


def _every_tile(n_salt):
    return {
        f"{r}_{c}": n_salt
        for r in range(GRID.n_tile_rows)
        for c in range(GRID.n_tile_cols)
    }


def _canvases(tiles):
    return {
        t["tile_id"]: np.frombuffer(t["bytes"], dtype=t["dtype"]).reshape(
            t["h"], t["w"]
        )
        for t in tiles
    }


def test_salted_matches_plain(spark):
    df = _hotspot_rows(spark).cache()
    plain = _canvases(burn_in(df, GRID, per_layer=False).collect())
    salted = _canvases(
        burn_in_salted(df, GRID, salt_map={"0_0": 8}).collect()
    )
    assert set(plain) == set(salted)
    for tid in plain:
        np.testing.assert_array_equal(salted[tid], plain[tid], err_msg=tid)


def test_salted_all_tiles_salted(spark):
    df = _hotspot_rows(spark, 60).cache()
    plain = _canvases(burn_in(df, GRID, per_layer=False).collect())
    salted = _canvases(burn_in_salted(df, GRID, salt_map=_every_tile(4)).collect())
    for tid in plain:
        np.testing.assert_array_equal(salted[tid], plain[tid], err_msg=tid)


def test_salted_keeps_layers_apart(spark):
    # two layers piled on the same hotspot: one canvas per (tile, layer),
    # exactly burn_in's default per_layer=True — never one mixed canvas
    df = (
        _hotspot_rows(spark)
        .withColumn("var", F.lit("sig"))
        .withColumn("layer_id", (F.col("image_id") % 2 + 1).cast("int"))
        .cache()
    )

    def keyed(tiles):
        return {
            (t["tile_id"], t["var"], t["layer_id"]): (
                t["n_images"],
                np.frombuffer(t["bytes"], dtype=t["dtype"]).reshape(t["h"], t["w"]),
            )
            for t in tiles
        }

    plain = keyed(burn_in(df, GRID).collect())
    salted = keyed(burn_in_salted(df, GRID, salt_map={"0_0": 8}).collect())
    assert {k[2] for k in plain} == {1, 2}
    assert set(salted) == set(plain)
    for k, (n, canvas) in plain.items():
        assert salted[k][0] == n, k
        np.testing.assert_array_equal(salted[k][1], canvas, err_msg=str(k))


def test_salted_rejects_string_order(spark):
    df = _hotspot_rows(spark, 5).withColumn(
        "image_id", F.col("image_id").cast("string")
    )
    with pytest.raises(ValueError, match="numeric order"):
        burn_in_salted(df, GRID)


def _hotspot_rows_rgb(spark, n=80):
    rng = np.random.default_rng(13)
    rows = []
    for i in range(n):
        if i % 5 != 4:
            c0, r0 = int(rng.integers(0, 24)), int(rng.integers(0, 24))
        else:
            c0, r0 = int(rng.integers(0, 120)), int(rng.integers(0, 56))
        arr = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
        rows.append((i, arr.tobytes(), 8, 8, 3, "raw", "uint8", c0, r0))
    return spark.createDataFrame(
        rows,
        "image_id long, bytes binary, w int, h int, channels int, fmt string, "
        "dtype string, px_col0 long, px_row0 long",
    )


def _canvases_nd(tiles):
    return {
        t["tile_id"]: np.frombuffer(t["bytes"], dtype=t["dtype"]).reshape(
            (t["h"], t["w"]) if t["channels"] == 1 else (t["h"], t["w"], t["channels"])
        )
        for t in tiles
    }


def test_salted_multiband_matches_plain(spark):
    df = _hotspot_rows_rgb(spark).cache()
    plain = _canvases_nd(burn_in(df, GRID, per_layer=False).collect())
    salted = _canvases_nd(
        burn_in_salted(df, GRID, salt_map={**_every_tile(2), "0_0": 8}).collect()
    )
    assert set(plain) == set(salted)
    for tid in plain:
        assert plain[tid].ndim == 3
        np.testing.assert_array_equal(salted[tid], plain[tid], err_msg=tid)
