"""Lossy codec path: PSNR>=40dB per-row invariant (input_hint) through
the full pipeline, and real PSNR stats in the lineage table."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from veranda_spark.fixtures import generate_images, make_image_array
from veranda_spark.functions.codec import decode_image, lossy_decode, lossy_encode, psnr
from veranda_spark.grid import RegularGrid
from veranda_spark.io.lineage import read_lineage, read_tiles, write_tiles_checkpointed
from veranda_spark.operators.raster import burn_in

GRID = RegularGrid(tile_cols=512, tile_rows=512, n_tile_cols=8, n_tile_rows=4)


def test_dctq_roundtrip_psnr():
    for seed in range(5):
        rng = np.random.default_rng(seed)
        arr = rng.integers(0, 256, (33, 47), dtype=np.uint8)  # non-multiple of 8
        dec = lossy_decode(lossy_encode(arr))
        assert dec.shape == arr.shape
        assert psnr(arr.astype(float), dec.astype(float)) >= 40.0


def test_dctq_roundtrip_uint16():
    # round-2: dctq carries dtype in-header; 16-bit depth keeps the
    # >=40dB invariant relative to the 65535 peak
    for seed in range(3):
        rng = np.random.default_rng(seed)
        arr = rng.integers(0, 65536, (40, 52), dtype=np.uint16)
        dec = lossy_decode(lossy_encode(arr))
        assert dec.shape == arr.shape and dec.dtype == np.uint16
        assert psnr(arr.astype(float), dec.astype(float), peak=65535.0) >= 40.0


def test_lossy_dtype_gate(spark, tmp_path):
    # float canvases must fail loudly, not wrap through astype(uint8)
    import pytest
    from pyspark.sql import Row

    tiles = spark.createDataFrame(
        [
            Row(
                tile_id="0_0", tile_row=0, tile_col=0, n_images=1,
                h=8, w=8, dtype="float64",
                bytes=bytearray(np.full((8, 8), -9999.0).tobytes()),
            )
        ]
    )
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="uint8/uint16"):
        write_tiles_checkpointed(tiles, str(tmp_path / "sink"), lossy_fmt="dctq")
    # the sink's cached batch is released on the failure path too
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_lossy_images_through_pipeline(spark):
    # F0 rows encoded as dctq: decoded pixels must satisfy PSNR>=40 vs the
    # golden array, captions byte-equal (input_hint invariant)
    imgs = generate_images(spark, 60, fmts=("dctq",)).cache()
    rows = imgs.collect()
    for r in rows[:20]:
        i = int(r["image_id"].split("_")[1])
        gold = make_image_array(i, r["h"], r["w"])
        dec = decode_image(bytes(r["bytes"]), "dctq", r["h"], r["w"])
        assert psnr(gold.astype(float), dec.astype(float)) >= 40.0
        assert r["caption"] == f"caption {i} tile test {i * 2654435761 % 997}"
    # pipeline: burn-in of lossy rows still assembles
    tiles = burn_in(imgs, GRID, per_layer=False)
    assert tiles.count() > 0


def test_lineage_records_real_psnr(spark, tmp_path):
    imgs = generate_images(spark, 100)
    tiles = burn_in(imgs, GRID, per_layer=False)
    res = write_tiles_checkpointed(tiles, str(tmp_path / "sink"), lossy_fmt="dctq")
    assert res["written"] > 0
    lin = read_lineage(spark, str(tmp_path / "sink"))
    stats = lin.agg(
        F.min("psnr").alias("mn"), F.count("*").alias("n")
    ).collect()[0]
    assert stats["n"] == res["written"]
    assert stats["mn"] >= 40.0  # the input_hint gate, recorded per tile
    # payloads really are lossy now
    back = read_tiles(spark, str(tmp_path / "sink"))
    assert back.select("fmt").first()["fmt"] == "dctq"


def test_lossless_tiff_export_accepts_float_canvases(spark, tmp_path):
    # tile_algebra emits float64 canvases; lossless TIFF export must
    # round-trip them bit-exactly (the uint gate only guards lossy dctq)
    from veranda_spark.functions.codec import decode_image
    from veranda_spark.io.lineage import read_tiles, write_tiles_checkpointed
    from veranda_spark.operators.cube import tile_algebra

    a = burn_in(generate_images(spark, 80, seed=42), GRID, per_layer=False)
    b = burn_in(generate_images(spark, 80, seed=43), GRID, per_layer=False)
    alg = tile_algebra(a, b, lambda x, y: (x - y) / (x + y + 1.0)).cache()
    base = str(tmp_path / "sink")
    out = write_tiles_checkpointed(alg, base, run_id="r1", lossy_fmt="tiff_lzw")
    assert out["written"] > 0
    back = read_tiles(spark, base)
    row = back.first()
    dec = decode_image(row["bytes"], "tiff_lzw", row["h"], row["w"])
    assert dec.dtype == np.dtype("float64")
    golden = {r["tile_id"]: r["bytes"] for r in alg.collect()}
    np.testing.assert_array_equal(
        dec, np.frombuffer(golden[row["tile_id"]], dtype="float64").reshape(row["h"], row["w"])
    )


def test_dctq_still_rejects_float_canvases(spark, tmp_path):
    from veranda_spark.io.lineage import write_tiles_checkpointed
    from veranda_spark.operators.cube import tile_algebra

    a = burn_in(generate_images(spark, 40, seed=1), GRID, per_layer=False)
    alg = tile_algebra(a, a, lambda x, y: x - y)
    with pytest.raises(Exception, match="uint8/uint16"):
        write_tiles_checkpointed(alg, str(tmp_path / "s2"), run_id="r1", lossy_fmt="dctq")
