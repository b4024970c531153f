"""Checkpoint/lineage resume, streaming append, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from veranda_spark.fixtures import generate_images
from veranda_spark.grid import RegularGrid
from veranda_spark.io import table
from veranda_spark.io.lineage import (
    read_lineage,
    read_tiles,
    write_tiles_checkpointed,
)
from veranda_spark.io.table import delete_rows
from veranda_spark.operators.raster import burn_in
from veranda_spark.sources.multimodal import extract_features, resize, sample_frames

GRID = RegularGrid(tile_cols=512, tile_rows=512, n_tile_cols=8, n_tile_rows=4)


def test_checkpointed_write_and_resume(spark, tmp_path):
    base = str(tmp_path / "sink")
    imgs = generate_images(spark, 300).cache()
    tiles = burn_in(imgs, GRID, per_layer=False).cache()
    n_tiles = tiles.count()

    # first run writes everything
    r1 = write_tiles_checkpointed(tiles, base, run_id="r1")
    assert r1 == {"run_id": "r1", "written": n_tiles, "skipped": 0}
    lin = read_lineage(spark, base)
    assert lin.count() == n_tiles

    # resume: nothing recomputed
    r2 = write_tiles_checkpointed(tiles, base, run_id="r2")
    assert r2["written"] == 0 and r2["skipped"] == n_tiles

    # 3 tiles deleted from the sink → only those rewritten
    some = [r["tile_id"] for r in lin.limit(3).collect()]
    delete_rows(
        spark, base, spark.createDataFrame([(t,) for t in some], "tile_id string"),
        keys=["tile_id"], partition_by="tile_id",
    )
    r3 = write_tiles_checkpointed(tiles, base, run_id="r3")
    assert r3["written"] == 3 and r3["skipped"] == n_tiles - 3
    assert {
        r["tile_id"] for r in read_lineage(spark, base)
        .filter("run_id = 'r3'").select("tile_id").collect()
    } == set(some)

    back = read_tiles(spark, base)
    assert back.select("tile_id").distinct().count() == n_tiles


def test_streaming_append_available_now(spark, tmp_path):
    from veranda_spark.streaming.append import append_to_tiles, stream_images

    src = str(tmp_path / "drop")
    generate_images(spark, 100).write.parquet(src)
    stream = stream_images(spark, src)
    assert stream.isStreaming
    q = append_to_tiles(stream, GRID, str(tmp_path / "sink"), str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "sink" / "tiles"))
    assert out.count() == 100
    assert "tile_id" in out.columns
    # append again (mode='a' parity: stack doubles — test_netcdf4.py:39-51)
    generate_images(spark, 100).write.mode("append").parquet(src)
    q2 = append_to_tiles(stream_images(spark, src), GRID, str(tmp_path / "sink"), str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "sink" / "tiles")).count() == 200


def test_extract_features_and_resize(spark):
    imgs = generate_images(spark, 30).cache()
    feats = extract_features(imgs).collect()
    assert len(feats) == 30
    for f in feats:
        assert 0 <= f["mean_val"] <= 255 and sum(f["histogram"]) == f["w"] * f["h"]
        assert abs(f["mean_val"] - 127.5) < 20  # uniform noise
    small = resize(imgs, 8, 8).collect()
    assert all(r["w"] == 8 and r["h"] == 8 and r["fmt"] == "png" for r in small)


def test_multimodal_stub_gating(spark):
    rows = [("vid1", b"\x00" * 64, 100, 24, 32, "h264")]
    df = spark.createDataFrame(
        rows, schema="media_id string, bytes binary, n_frames int, h int, w int, fmt string"
    )
    frames = sample_frames(df, every_n=25, fake=True).collect()
    assert [f["frame_idx"] for f in frames] == [0, 25, 50, 75]
    with pytest.raises(Exception):  # real decode path is explicitly stubbed
        from veranda_spark.sources.multimodal import _decode_any

        class R:
            fmt, bytes, w, h = "h264", b"", 1, 1

        _decode_any(R(), fake=False)


def test_snapshot_time_travel(spark, tmp_path):
    from veranda_spark.io.lineage import snapshots

    base = str(tmp_path / "sink")
    t1 = burn_in(generate_images(spark, 120), GRID, per_layer=False).cache()
    n1 = t1.count()
    write_tiles_checkpointed(t1, base, run_id="rA")

    # second run adds the tiles the larger corpus newly covers
    t2 = burn_in(generate_images(spark, 300), GRID, per_layer=False).cache()
    n2 = t2.count()
    rB = write_tiles_checkpointed(t2, base, run_id="rB")
    assert rB["written"] == n2 - n1 and rB["skipped"] == n1

    snaps = {r["run_id"]: r["n_tiles"] for r in snapshots(spark, base).collect()}
    assert snaps == {"rA": n1, "rB": n2 - n1}

    assert read_tiles(spark, base).count() == n2
    assert read_tiles(spark, base, as_of="rA").count() == n1
    # timestamp pin between the two commits behaves like as_of=rA
    cut = snapshots(spark, base).collect()
    ts_between = (cut[0]["committed_at"] + cut[1]["committed_at"]) / 2
    assert read_tiles(spark, base, as_of=ts_between).count() == n1
    with pytest.raises(ValueError, match="unknown run_id"):
        read_tiles(spark, base, as_of="nope").count()


def test_streaming_burn_in_exactly_once(spark, tmp_path):
    from veranda_spark.io.lineage import write_tiles_checkpointed
    from veranda_spark.streaming.append import burn_in_stream, stream_images

    src = str(tmp_path / "drop")
    base = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    # epoch 1: 120 images
    generate_images(spark, 120).write.mode("append").parquet(src)
    q = burn_in_stream(stream_images(spark, src), GRID, base, ckpt)
    q.awaitTermination(120)
    n_gen1 = read_tiles(spark, base, mode="all").count()
    assert n_gen1 > 0

    # epoch 2: more images (re-running the drained stream picks up only
    # the new files — the availableNow resume)
    generate_images(spark, 300, seed=43).write.mode("append").parquet(src)
    q = burn_in_stream(stream_images(spark, src), GRID, base, ckpt)
    q.awaitTermination(120)
    all_rows = read_tiles(spark, base, mode="all")
    assert all_rows.count() > n_gen1
    # every (tile, run) generation appears exactly once
    dup = (
        all_rows.groupBy("tile_id", "run_id").count().filter("count > 1").count()
    )
    assert dup == 0
    # latest mode: one row per tile
    latest = read_tiles(spark, base, mode="latest")
    assert latest.count() == latest.select("tile_id").distinct().count()

    # crash-replay of an epoch is a no-op (scope="run" anti-join)
    tiles1 = burn_in(generate_images(spark, 120), GRID, per_layer=False)
    runs = {r["run_id"] for r in all_rows.select("run_id").distinct().collect()}
    first_run = sorted(runs)[0]
    replay = write_tiles_checkpointed(tiles1, base, run_id=first_run, scope="run")
    assert replay["written"] == 0
    assert read_tiles(spark, base, mode="all").count() == all_rows.count()


def test_compact_tiles(spark, tmp_path):
    from veranda_spark.io.lineage import compact_tiles, snapshots
    from veranda_spark.streaming.append import burn_in_stream, stream_images

    src = str(tmp_path / "drop")
    base = str(tmp_path / "sink")
    # several streaming epochs -> several files per hot tile
    for seed, n in ((1, 80), (2, 150), (3, 220)):
        generate_images(spark, n, seed=seed).write.mode("append").parquet(src)
        q = burn_in_stream(stream_images(spark, src), GRID, base,
                           str(tmp_path / "ckpt"))
        q.awaitTermination(120)
    before = {
        (r["tile_id"], bytes(r["bytes"])) for r in
        read_tiles(spark, base, mode="latest").select("tile_id", "bytes").collect()
    }
    stats = compact_tiles(spark, base)
    assert stats["files_after"] <= stats["files_before"]
    assert stats["files_after"] == stats["tiles"]  # one file per tile
    after = {
        (r["tile_id"], bytes(r["bytes"])) for r in
        read_tiles(spark, base, mode="latest").select("tile_id", "bytes").collect()
    }
    assert after == before  # latest generation is preserved bit-for-bit
    # history is expired: one snapshot, the compact run
    snaps = snapshots(spark, base).collect()
    assert len(snaps) == 1 and snaps[0]["run_id"] == stats["run_id"]
    # the sink still accepts new runs afterwards
    t = burn_in(generate_images(spark, 40, seed=9), GRID, per_layer=False)
    out = write_tiles_checkpointed(t, base, run_id="post", scope="run")
    assert out["written"] > 0


def _crash_commit_once(monkeypatch):
    """Make the next table commit die after its data is staged, as a
    killed writer does: nothing is published, and the stage stays under
    ``_staging/`` (moved to a name the writer's own cleanup does not
    know).  Returns the list the debris path is appended to."""
    import os
    import uuid

    real = table._publish
    calls = []

    def crash(stage, vdir):
        if not calls:
            debris = os.path.join(os.path.dirname(stage), uuid.uuid4().hex)
            os.rename(stage, debris)
            calls.append(debris)
            raise RuntimeError("simulated crash before commit")
        return real(stage, vdir)

    monkeypatch.setattr(table, "_publish", crash)
    return calls


def _tile_runs(spark, base):
    return sorted(
        (r["tile_id"], r["run_id"]) for r in
        read_tiles(spark, base, mode="all").select("tile_id", "run_id").collect()
    )


def test_compact_keep_history_vacuums_orphans(spark, tmp_path, monkeypatch):
    import os

    from veranda_spark.io.lineage import compact_tiles, snapshots

    base = str(tmp_path / "sink")
    for i, n in enumerate((60, 150)):
        t = burn_in(generate_images(spark, n, seed=i), GRID, per_layer=False)
        write_tiles_checkpointed(t, base, run_id=f"r{i}", scope="run")
    committed = _tile_runs(spark, base)
    snaps_before = {r["run_id"]: r["n_tiles"] for r in snapshots(spark, base).collect()}

    # a real crash between the staged data write and the commit: the
    # rows sit in an unpublished stage nobody reads
    orphan = burn_in(generate_images(spark, 40, seed=7), GRID, per_layer=False)
    calls = _crash_commit_once(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        write_tiles_checkpointed(orphan, base, run_id="crashed", scope="run")
    orphan_stage = calls[0]
    assert os.path.isdir(orphan_stage)  # staged debris on disk
    assert _tile_runs(spark, base) == committed  # invisible

    stats = compact_tiles(spark, base, keep_history=True)
    assert table.current_version(base) == 3  # the slot the crash never took
    assert _tile_runs(spark, base) == committed  # exactly one copy each
    # the manual sweep vacuums the debris and changes no read
    assert table.recover_orphans(base) == [os.path.basename(orphan_stage)]
    assert not os.path.exists(orphan_stage)
    assert _tile_runs(spark, base) == committed
    assert stats["files_after"] == stats["tiles"]
    # history preserved: same snapshots, time travel still works
    snaps_after = {r["run_id"]: r["n_tiles"] for r in snapshots(spark, base).collect()}
    assert snaps_after == snaps_before
    assert read_tiles(spark, base, as_of="r0").count() == snaps_before["r0"]


def test_replay_after_partial_crash_never_duplicates(spark, tmp_path, monkeypatch):
    # THE deterministic-run_id crash window: batch "b1"'s data is
    # staged, its commit never lands, then streaming replays the same
    # batch.  Exactly ONE copy must be visible afterwards.
    base = str(tmp_path / "sink")
    first = burn_in(generate_images(spark, 60, seed=4), GRID, per_layer=False)
    write_tiles_checkpointed(first, base, run_id="b0", scope="run")
    committed = _tile_runs(spark, base)
    tiles = burn_in(generate_images(spark, 100, seed=3), GRID, per_layer=False).cache()
    n_tiles = tiles.count()

    _crash_commit_once(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        write_tiles_checkpointed(tiles, base, run_id="b1", scope="run")
    assert _tile_runs(spark, base) == committed  # nothing visible changed

    # the replay: same run_id, scope="run" — sees no commit, rewrites all
    out = write_tiles_checkpointed(tiles, base, run_id="b1", scope="run")
    assert out["written"] == n_tiles

    back = read_tiles(spark, base, mode="all").filter("run_id = 'b1'")
    assert back.count() == n_tiles  # one visible copy, not two
    assert back.groupBy("tile_id").count().filter("count > 1").count() == 0
    assert _tile_runs(spark, base) == sorted(
        committed + [(r["tile_id"], "b1") for r in tiles.select("tile_id").collect()]
    )


def test_crashed_first_write_is_replayed(spark, tmp_path, monkeypatch):
    # a crash in the very first commit publishes no version 1; the
    # rerun commits version 1 itself, beside the crashed stage
    base = str(tmp_path / "sink")
    tiles = burn_in(generate_images(spark, 60, seed=8), GRID, per_layer=False).cache()
    _crash_commit_once(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        write_tiles_checkpointed(tiles, base, run_id="b0", scope="run")
    assert read_lineage(spark, base) is None
    out = write_tiles_checkpointed(tiles, base, run_id="b0", scope="run")
    assert out["written"] == tiles.count() == read_tiles(spark, base).count()
    assert table.current_version(base) == 1


def test_compact_requires_lineage(spark, tmp_path):
    import os

    from veranda_spark.io.lineage import compact_tiles

    base = str(tmp_path / "s")
    t = burn_in(generate_images(spark, 40), GRID, per_layer=False)
    t.withColumn("run_id", F.lit("x")).write.mode("append").partitionBy(
        "tile_id"
    ).parquet(os.path.join(base, "tiles"))
    with pytest.raises(FileNotFoundError, match="no committed tile sink"):
        compact_tiles(base=base, spark=spark)
    # the sink was never touched: raw rows still readable
    assert spark.read.parquet(os.path.join(base, "tiles")).count() > 0


def test_mixed_schema_runs_share_one_sink(spark, tmp_path):
    # a lossless run then a lossy_fmt run into one sink: the second run
    # adds psnr/fmt columns; both generations read back, null-filled
    base = str(tmp_path / "sink")
    t1 = burn_in(generate_images(spark, 120, seed=5), GRID, per_layer=False)
    r1 = write_tiles_checkpointed(t1, base, run_id="r1", scope="run")
    t2 = burn_in(generate_images(spark, 300, seed=6), GRID, per_layer=False)
    r2 = write_tiles_checkpointed(
        t2, base, run_id="r2", lossy_fmt="tiff", scope="run"
    )
    assert r1["written"] > 0 and r2["written"] > 0
    got = {
        (r["run_id"], r["fmt"]): r["count"]
        for r in read_tiles(spark, base, mode="all")
        .groupBy("run_id", "fmt").count().collect()
    }
    assert got == {("r1", None): r1["written"], ("r2", "tiff"): r2["written"]}
    psnr = {
        r["run_id"]: (r["n"], r["n_null"], r["mx"])
        for r in read_lineage(spark, base).groupBy("run_id").agg(
            F.count("*").alias("n"),
            F.sum(F.col("psnr").isNull().cast("int")).alias("n_null"),
            F.max("psnr").alias("mx"),
        ).collect()
    }
    assert psnr == {
        "r1": (r1["written"], r1["written"], None),
        "r2": (r2["written"], 0, 1e9),
    }
