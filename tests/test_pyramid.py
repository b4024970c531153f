"""build_pyramid vs direct downsample of the stitched mosaic."""

import os

import numpy as np

from veranda_spark.fixtures import generate_images
from veranda_spark.grid import RegularGrid
from veranda_spark.operators.raster import build_pyramid, burn_in, read_window

GRID = RegularGrid(tile_cols=64, tile_rows=64, n_tile_cols=8, n_tile_rows=4)


def _nanmean_down(arr, f, nodata=-9999.0):
    v = arr.astype("float64")
    v[v == nodata] = np.nan
    th, tw = arr.shape[0] // f * f, arr.shape[1] // f * f
    b = v[:th, :tw].reshape(th // f, f, tw // f, f)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        out = np.nanmean(b, axis=(1, 3))
    return np.where(np.isnan(out), nodata, out)


def test_pyramid_levels_match_direct_downsample(spark):
    imgs = generate_images(spark, 150, seed=7)
    tiles = burn_in(imgs, GRID, per_layer=False, out_dtype="float64").cache()
    pyr = build_pyramid(tiles, levels=2).collect()
    # full mosaic at native resolution via stitched read
    full_row = read_window(
        imgs, GRID, 0, 0, 4 * 64, 8 * 64, out_dtype="float64"
    ).collect()[0]
    full = np.frombuffer(full_row["bytes"], dtype="float64").reshape(256, 512)

    by_level = {}
    for r in pyr:
        by_level.setdefault(r["level"], {})[(r["tile_row"], r["tile_col"])] = (
            np.frombuffer(r["bytes"], dtype=r["dtype"]).reshape(r["h"], r["w"])
        )
    # level 1: 64x64 tiles covering a 2x downsampled mosaic (128x256)
    want1 = _nanmean_down(full, 2)
    for (tr, tc), got in by_level[1].items():
        assert got.shape == (64, 64)
        np.testing.assert_allclose(
            got, want1[tr * 64:(tr + 1) * 64, tc * 64:(tc + 1) * 64],
            rtol=1e-12, err_msg=f"L1 {tr}_{tc}",
        )
    # level 2 is built FROM level 1, so compare against mean-of-means
    # (which differs from a direct 4x mean when nodata is present)
    want2 = _nanmean_down(want1, 2)
    for (tr, tc), got in by_level[2].items():
        np.testing.assert_allclose(
            got, want2[tr * 64:(tr + 1) * 64, tc * 64:(tc + 1) * 64],
            rtol=1e-12, err_msg=f"L2 {tr}_{tc}",
        )
    # tile counts shrink 4x-ish per level (missing children allowed)
    assert len(by_level[1]) <= -(-len(by_level[2]) * 4) + 4 * len(by_level[2])


def test_pyramid_all_nodata_block_stays_nodata(spark):
    rows = [(1, np.full((8, 8), 5, np.uint8).tobytes(), 8, 8, "raw", "uint8", 0, 0)]
    df = spark.createDataFrame(
        rows,
        "image_id long, bytes binary, w int, h int, fmt string, dtype string, "
        "px_col0 long, px_row0 long",
    )
    g = RegularGrid(tile_cols=16, tile_rows=16, n_tile_cols=2, n_tile_rows=2)
    tiles = burn_in(df, g, per_layer=False, out_dtype="float64")
    lvl1 = build_pyramid(tiles, levels=1).collect()
    t = next(r for r in lvl1 if r["tile_id"] == "0_0")
    c = np.frombuffer(t["bytes"], dtype=t["dtype"]).reshape(t["h"], t["w"])
    # image occupied [0:8, 0:8] of the 16x16 tile -> level1 quadrant [0:4, 0:4]
    assert (c[0:4, 0:4] == 5).all()
    assert (c[0:4, 4:8] == -9999.0).all()  # all-nodata blocks stay nodata


def test_pyramid_integer_nodata_and_rounding(spark):
    # ADVICE r3: integer tiles store nodata wrapped (-9999 -> 241 for
    # uint8) — block means must EXCLUDE those pixels; and integer casts
    # must round (not truncate) to match burn_in's mean semantics
    imgs = generate_images(spark, 60, seed=11)
    tiles = burn_in(imgs, GRID, per_layer=False, out_dtype="uint8").cache()
    nod8 = np.full((), -9999.0).astype(np.uint8)[()]
    base = {
        (r["tile_row"], r["tile_col"]): np.frombuffer(
            r["bytes"], dtype=r["dtype"]
        ).reshape(r["h"], r["w"])
        for r in tiles.collect()
    }
    pyr = {
        (r["tile_row"], r["tile_col"]): np.frombuffer(
            r["bytes"], dtype=r["dtype"]
        ).reshape(r["h"], r["w"])
        for r in build_pyramid(tiles, levels=1).collect()
    }
    assert pyr, "no level-1 tiles"
    for (pr, pc), got in pyr.items():
        assert got.dtype == np.uint8
        want = np.full((64, 64), nod8, np.float64)
        for qr in (0, 1):
            for qc in (0, 1):
                child = base.get((2 * pr + qr, 2 * pc + qc))
                if child is None:
                    continue
                v = child.astype("float64")
                v[child == nod8] = np.nan
                b = v.reshape(32, 2, 32, 2)
                import warnings

                with warnings.catch_warnings():
                    warnings.simplefilter("ignore")
                    m = np.nanmean(b, axis=(1, 3))
                m = np.where(np.isnan(m), float(nod8), np.round(m))
                want[qr * 32:(qr + 1) * 32, qc * 32:(qc + 1) * 32] = m
        np.testing.assert_array_equal(got, want.astype(np.uint8),
                                      err_msg=f"L1 {pr}_{pc}")


def test_pyramid_checkpointed_matches_and_resumes(spark, tmp_path):
    # VERDICT r3 #7: sink-committed pyramid — identical pixels to the
    # local-checkpoint chain, and a resumed build never recomputes a
    # committed level (each level is one all-or-nothing table version)
    from veranda_spark.io.lineage import read_lineage

    base = str(tmp_path / "pyr")
    imgs = generate_images(spark, 120, seed=3)
    tiles = burn_in(imgs, GRID, per_layer=False, out_dtype="float64").cache()

    def snap(df):
        return {
            (r["level"], r["tile_row"], r["tile_col"], r["var"], r["layer_id"]):
                (r["bytes"], r["dtype"], r["h"], r["w"])
            for r in df.collect()
        }

    want = snap(build_pyramid(tiles, levels=2))
    got = snap(build_pyramid(tiles, levels=2, checkpoint_dir=base))
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == want[k], f"mismatch at {k}"

    # resume: a second build over the same base must add NO new lineage
    # commits to either level (a published version short-circuits it)
    n1 = {
        lvl: read_lineage(spark, os.path.join(base, f"level_{lvl}")).count()
        for lvl in (1, 2)
    }
    again = snap(build_pyramid(tiles, levels=2, checkpoint_dir=base))
    n2 = {
        lvl: read_lineage(spark, os.path.join(base, f"level_{lvl}")).count()
        for lvl in (1, 2)
    }
    assert n1 == n2
    assert again.keys() == want.keys()

    # partial build (levels=1) then extension to 2: level 1 untouched
    base2 = str(tmp_path / "pyr2")
    build_pyramid(tiles, levels=1, checkpoint_dir=base2).count()
    c1 = read_lineage(spark, os.path.join(base2, "level_1")).count()
    ext = snap(build_pyramid(tiles, levels=2, checkpoint_dir=base2))
    assert read_lineage(spark, os.path.join(base2, "level_1")).count() == c1
    assert ext.keys() == want.keys()
    tiles.unpersist()


def test_pyramid_checkpoint_param_mismatch_raises(spark, tmp_path):
    import pytest as _pytest

    imgs = generate_images(spark, 40, seed=13)
    tiles = burn_in(imgs, GRID, per_layer=False, out_dtype="float64")
    base = str(tmp_path / "pyrfp")
    build_pyramid(tiles, levels=1, checkpoint_dir=base).count()
    with _pytest.raises(ValueError, match="different parameters"):
        build_pyramid(tiles, levels=1, nodata=0.0, checkpoint_dir=base).count()
