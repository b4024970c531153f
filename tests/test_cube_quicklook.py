"""Cube merges (J4), quicklook decimation (S17), append semantics."""

import numpy as np
from pyspark.sql import functions as F

from veranda_spark.fixtures import ONE_TILE_GRID, cube_to_rows, simple_cube
from veranda_spark.operators.cube import append_layers, merge_variables, stitch_union
from veranda_spark.operators.raster import quicklook


def test_stitch_union_and_merge_variables(spark):
    cube = simple_cube(n_layers=4)
    a = cube_to_rows(spark, cube, var="sig")
    b = cube_to_rows(spark, cube * 2, var="inc")
    a = a.withColumn("tile_id", F.lit("0"))
    b = b.withColumn("tile_id", F.lit("0"))
    u = stitch_union(a, b)
    assert u.count() == 8
    m = merge_variables(a, b)
    assert m.count() == 4
    assert {"bytes_sig", "bytes_inc"} <= set(m.columns)


def test_merge_variables_explicit_names_skip_probe(spark):
    # VERDICT r5 #7: explicit a_var/b_var must not run the .first()
    # probe jobs.  Proof: a 'var' column that RAISES if ever evaluated —
    # the merge still plans and counts fine because nothing touches it.
    cube = simple_cube(n_layers=4)
    a = cube_to_rows(spark, cube, var="sig").withColumn("tile_id", F.lit("0"))
    b = cube_to_rows(spark, cube * 2, var="inc").withColumn("tile_id", F.lit("0"))
    a_trap = a.withColumn("var", F.raise_error(F.lit("probe ran on a")))
    b_trap = b.withColumn("var", F.raise_error(F.lit("probe ran on b")))
    m = merge_variables(a_trap, b_trap, a_var="sig", b_var="inc")
    assert m.count() == 4
    assert {"bytes_sig", "bytes_inc"} <= set(m.columns)


def test_append_layers_doubles_then_dedupes(spark):
    # append parity: writing the same layers twice must not duplicate
    # (mode='a' with overwrite-on-conflict); new layers extend the stack
    cube = simple_cube(n_layers=3)
    a = cube_to_rows(spark, cube).withColumn("tile_id", F.lit("0"))
    b = cube_to_rows(spark, cube).withColumn("tile_id", F.lit("0")).withColumn(
        "layer_id", F.col("layer_id") + 3
    )
    doubled = append_layers(a, b)
    assert doubled.count() == 6  # test_netcdf4.py:39-51 stack-doubling golden
    rewrite = append_layers(a, a)
    assert rewrite.count() == 3


def test_quicklook_decimation_and_stretch(spark):
    cube = simple_cube(n_layers=2)
    rows = cube_to_rows(spark, cube)
    ql = quicklook(rows, factor=5).collect()
    assert len(ql) == 2
    for r in ql:
        assert r["h"] == 10 and r["w"] == 12 and r["fmt"] == "png"
        from veranda_spark.functions.codec import png_decode

        arr = png_decode(bytes(r["bytes"]))
        assert arr.min() >= 0 and arr.max() <= 255
    # golden: block mean + linear stretch computed by numpy
    vmin, vmax = cube.min(), cube.max()
    blocks = cube[0][:50, :60].reshape(10, 5, 12, 5).mean(axis=(1, 3))
    want = np.clip((blocks - vmin) / (vmax - vmin) * 255.0, 0, 255).astype("uint8")
    got = png_decode(bytes(next(r for r in ql if True)["bytes"]))
    layer1 = [r for r in ql if r["image_id"].endswith("_1")]
    if layer1:
        got = png_decode(bytes(layer1[0]["bytes"]))
    np.testing.assert_array_equal(got, want)


def test_quicklook_color_table(spark):
    import numpy as np
    import pytest

    from veranda_spark.fixtures import generate_images
    from veranda_spark.functions.codec import png_decode
    from veranda_spark.operators.raster import quicklook

    imgs = generate_images(spark, 12)
    # identity-ish ct: gray g -> (g, 255-g, 0)
    ct = np.stack(
        [np.arange(256), 255 - np.arange(256), np.zeros(256)], axis=1
    ).astype(np.uint8)
    gray = {r["image_id"]: png_decode(bytes(r["bytes"]))
            for r in quicklook(imgs, factor=4).collect()}
    color = {r["image_id"]: png_decode(bytes(r["bytes"]))
             for r in quicklook(imgs, factor=4, ct=ct).collect()}
    assert set(gray) == set(color)
    for iid, g in gray.items():
        c = color[iid]
        assert c.shape == (*g.shape, 3)
        np.testing.assert_array_equal(c[..., 0], g)
        np.testing.assert_array_equal(c[..., 1], 255 - g)
        assert (c[..., 2] == 0).all()
    with pytest.raises(ValueError, match="color table"):
        quicklook(imgs, ct=np.zeros((16, 3), np.uint8))


def test_quicklook_checkpointed_matches_and_skips_pass1(spark, tmp_path):
    # VERDICT r3 #7: pass-1 blocks land in a versioned parquet table (no
    # cache handles); a rerun over the published version never re-decodes
    import os

    from veranda_spark.fixtures import generate_images
    from veranda_spark.io import table
    from veranda_spark.operators.raster import quicklook

    imgs = generate_images(spark, 50, seed=9)
    ckpt = str(tmp_path / "ql_ckpt")

    spark.catalog.clearCache()
    plain = quicklook(imgs, factor=4)
    want = {r["image_id"]: r["bytes"] for r in plain.collect()}

    ck = quicklook(imgs, factor=4, checkpoint_dir=ckpt)
    got = {r["image_id"]: r["bytes"] for r in ck.collect()}
    assert got == want
    # neither pass 1 (local checkpoint / table version) is a cached frame
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    mid = os.path.join(ckpt, "quicklook_mid")
    assert table.list_versions(mid) == [1]
    vdir = table._version_path(mid, 1)
    assert os.path.exists(os.path.join(vdir, "_fingerprint"))
    mtimes = {
        f: os.path.getmtime(os.path.join(vdir, f))
        for f in os.listdir(vdir) if f.endswith(".parquet")
    }
    assert mtimes
    got2 = {r["image_id"]: r["bytes"]
            for r in quicklook(imgs, factor=4, checkpoint_dir=ckpt).collect()}
    assert got2 == want
    mtimes2 = {
        f: os.path.getmtime(os.path.join(vdir, f))
        for f in os.listdir(vdir) if f.endswith(".parquet")
    }
    assert mtimes2 == mtimes  # pass-1 parquet untouched on resume
    assert table.list_versions(mid) == [1]


def test_quicklook_checkpoint_param_mismatch_raises(spark, tmp_path):
    import pytest as _pytest

    from veranda_spark.fixtures import generate_images
    from veranda_spark.operators.raster import quicklook

    imgs = generate_images(spark, 20, seed=2)
    ckpt = str(tmp_path / "ql")
    quicklook(imgs, factor=4, checkpoint_dir=ckpt).count()
    # resuming the same dir with a DIFFERENT factor must fail loudly,
    # never stretch stale factor-4 blocks (review r4)
    with _pytest.raises(ValueError, match="different parameters"):
        quicklook(imgs, factor=8, checkpoint_dir=ckpt).count()


def test_quicklook_checkpoint_without_fingerprint_raises(spark, tmp_path):
    # a live version with no stamp (written by anything but write_once,
    # e.g. a checkpoint from before stamps lived in the version) is never
    # resumed: its parameters are unknown
    import os

    import pytest as _pytest

    from veranda_spark.fixtures import generate_images
    from veranda_spark.io import table
    from veranda_spark.operators.raster import quicklook

    imgs = generate_images(spark, 20, seed=2)
    ckpt = str(tmp_path / "ql")
    mid = os.path.join(ckpt, "quicklook_mid")
    table.create_table(
        spark.createDataFrame(
            [("img_0", b"", 1, 1, 0.0, 1.0)],
            "image_id string, small binary, h int, w int, mn double, mx double",
        ),
        mid,
    )
    with _pytest.raises(ValueError, match="different parameters"):
        quicklook(imgs, factor=4, checkpoint_dir=ckpt).count()
    assert table.list_versions(mid) == [1]


def test_quicklook_checkpoint_ignores_leftover_stage(spark, tmp_path):
    # a killed pass 1 leaves only an unpublished stage; the next call
    # neither reads it nor trips on it and publishes version 1
    import os

    from veranda_spark.fixtures import generate_images
    from veranda_spark.io import table
    from veranda_spark.operators.raster import quicklook

    imgs = generate_images(spark, 20, seed=4)
    plain = quicklook(imgs, factor=4)
    want = {r["image_id"]: r["bytes"] for r in plain.collect()}

    ckpt = str(tmp_path / "ql")
    mid = os.path.join(ckpt, "quicklook_mid")
    leftover = os.path.join(mid, "_staging", "deadbeef")
    spark.createDataFrame(
        [("img_x", b"\x00" * 8, 1, 1, -1e9, 1e9)],
        "image_id string, small binary, h int, w int, mn double, mx double",
    ).write.parquet(leftover)

    got = {r["image_id"]: r["bytes"]
           for r in quicklook(imgs, factor=4, checkpoint_dir=ckpt).collect()}
    assert got == want
    assert table.list_versions(mid) == [1]
    assert os.path.isdir(leftover)


def test_quicklook_checkpoint_killed_after_publish_resumes(spark, tmp_path, monkeypatch):
    # the stamp is inside the published version: a process killed right
    # after the rename still leaves a checkpoint the next run resumes
    import os

    import pytest as _pytest

    from veranda_spark.fixtures import generate_images
    from veranda_spark.io import table
    from veranda_spark.operators.raster import quicklook

    imgs = generate_images(spark, 20, seed=6)
    plain = quicklook(imgs, factor=4)
    want = {r["image_id"]: r["bytes"] for r in plain.collect()}

    publish = table._publish

    def publish_then_die(stage, vdir):
        publish(stage, vdir)
        raise RuntimeError("killed after publish")

    ckpt = str(tmp_path / "ql")
    monkeypatch.setattr(table, "_publish", publish_then_die)
    with _pytest.raises(RuntimeError, match="killed after publish"):
        quicklook(imgs, factor=4, checkpoint_dir=ckpt)
    monkeypatch.undo()

    mid = os.path.join(ckpt, "quicklook_mid")
    assert table.list_versions(mid) == [1]
    got = {r["image_id"]: r["bytes"]
           for r in quicklook(imgs, factor=4, checkpoint_dir=ckpt).collect()}
    assert got == want
    assert table.list_versions(mid) == [1]
