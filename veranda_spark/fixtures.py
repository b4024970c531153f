"""Deterministic synthetic inputs (FIXTURES.md) — no external data.

F0: the authoritative Iceberg-shaped image+caption table from
BASELINE.json ``input_hint``: (image_id, bytes, w, h, fmt, caption, phash)
plus derived integer-pixel footprints for tiling/joins.  Generated
DISTRIBUTED via ``spark.range(n).mapInPandas`` — each row is a pure
function of (seed, i), so the same table materializes identically at any
parallelism and any scale (the 10^12-row story: generation is embarrassingly
parallel, no driver-side loop).

F1/F2: veranda mosaic-parity fixtures (reference
tests/raster/mosaic/mosaic_common.py:26-69 and docs/notebooks/mosaic.ipynb
cells 35-45) re-expressed as DataFrames of per-layer image rows.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from veranda_spark.functions.codec import encode_image
from veranda_spark.grid import RegularGrid
from veranda_spark.session import local_df

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, px_col0 long, px_row0 long"
)

# world extent in pixels for footprint placement (FIXTURES.md F0)
WORLD_W_PX = 4096
WORLD_H_PX = 2048
_PHI = 7919  # deterministic irrational-ish multipliers (FIXTURES.md F0)
_PSI = 104729


def _phash_of(image_id: str) -> int:
    return int.from_bytes(
        hashlib.sha256(image_id.encode()).digest()[:8], "big", signed=True
    )


def make_image_array(i: int, h: int, w: int, channels: int = 1, seed: int = 42) -> np.ndarray:
    """The per-image golden array A_i (FIXTURES.md F0): seeded uint8 noise."""
    rng = np.random.default_rng([seed, i])
    shape = (h, w) if channels == 1 else (h, w, channels)
    return rng.integers(0, 256, shape, dtype=np.uint8)


def footprint_of(i: int, hotspot: bool = False) -> tuple[int, int]:
    """Deterministic integer-pixel footprint upper-left (px_col0, px_row0).

    Mix of uniform + hotspot placement; with hotspot=True, 80% of rows land
    in 5% of the world extent (FIXTURES.md skew variant) to exercise
    salting/AQE skew handling.
    """
    x = (i * _PHI) % WORLD_W_PX
    y = (i * _PSI) % WORLD_H_PX
    if hotspot and i % 5 != 0:
        x = x % max(1, WORLD_W_PX // 20)
        y = y % max(1, WORLD_H_PX // 20)
    return x, y


def _gen_batch(
    it: Iterator[pd.DataFrame], seed: int, hotspot: bool, fmts: tuple[str, ...]
) -> Iterator[pd.DataFrame]:
    ws = [16, 32, 64]
    hs = [16, 32, 48]
    for pdf in it:
        ids = pdf["id"].to_numpy()
        rows = []
        for i in ids:
            i = int(i)
            w, h = ws[i % 3], hs[i % 3]
            fmt = fmts[i % len(fmts)]
            arr = make_image_array(i, h, w, seed=seed)
            image_id = f"img_{i:012d}"
            x0, y0 = footprint_of(i, hotspot)
            rows.append(
                (
                    image_id,
                    encode_image(arr, fmt),
                    w,
                    h,
                    fmt,
                    f"caption {i} tile test {i * 2654435761 % 997}",
                    _phash_of(image_id),
                    x0,
                    y0,
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "image_id", "bytes", "w", "h", "fmt",
                "caption", "phash", "px_col0", "px_row0",
            ],
        )


def generate_images(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    hotspot: bool = False,
    fmts: tuple[str, ...] = ("raw", "png"),
    partitions: int | None = None,
) -> DataFrame:
    """The F0 image+caption table, generated in parallel on executors."""
    rng = spark.range(n, numPartitions=partitions)
    return rng.mapInPandas(
        lambda it: _gen_batch(it, seed, hotspot, fmts), schema=IMAGES_SCHEMA
    )


# ---- veranda-parity fixtures (F1/F2) --------------------------------------

#: the reference's one-tile mosaic: 50 rows x 60 cols, tile named '0'
#: (tests/raster/mosaic/mosaic_common.py:37-43)
ONE_TILE_GRID = RegularGrid(
    ul_x=0.0, ul_y=0.0, psx=1.0, psy=1.0,
    tile_cols=60, tile_rows=50, n_tile_cols=1, n_tile_rows=1,
    namer=None,
)

#: the notebook's 2x2 regular mosaic of 25x30-px tiles over the same extent
#: (docs/notebooks/mosaic.ipynb cell 35; FIXTURES.md F2)
MOSAIC_2X2_GRID = RegularGrid(
    ul_x=0.0, ul_y=0.0, psx=1.0, psy=1.0,
    tile_cols=30, tile_rows=25, n_tile_cols=2, n_tile_rows=2,
)


def simple_cube(seed: int = 42, n_layers: int = 50, h: int = 50, w: int = 60) -> np.ndarray:
    """simple_ds analog: (time, y, x) float64 randn
    (mosaic_common.py:46-54)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_layers, h, w))


def complex_cube(n_layers: int = 25, h: int = 50, w: int = 60) -> dict:
    """complex_ds analog (mosaic_common.py:57-69): two all-ones variables;
    data1 carries scale=2/offset=3/fill=-9999 decode attrs."""
    ones = np.ones((n_layers, h, w), dtype="float32")
    return {
        "data1": {"data": ones, "scale_factor": 2.0, "add_offset": 3.0, "nodata": -9999.0},
        "data2": {"data": ones.copy(), "scale_factor": 1.0, "add_offset": 0.0, "nodata": -9999.0},
    }


CUBE_ROWS_SCHEMA = (
    "layer_id int, var string, bytes binary, w int, h int, fmt string, "
    "px_col0 long, px_row0 long, dtype string, "
    "scale_factor double, add_offset double, nodata double"
)


def cube_to_rows(
    spark: SparkSession,
    cube: np.ndarray,
    var: str = "data",
    px_col0: int = 0,
    px_row0: int = 0,
    scale_factor: float = 1.0,
    add_offset: float = 0.0,
    nodata: float = -9999.0,
) -> DataFrame:
    """Tabularize a (layers, h, w) cube: one row per layer slab, payload =
    raw C-order bytes of the slab (the engine's register form of F1)."""
    n, h, w = cube.shape
    dtype = str(cube.dtype)
    rows = [
        (
            lay + 1,  # veranda layers are 1-based (base.py:1052-1054)
            var,
            np.ascontiguousarray(cube[lay]).tobytes(),
            w, h, "raw", px_col0, px_row0, dtype,
            scale_factor, add_offset, nodata,
        )
        for lay in range(n)
    ]
    return local_df(spark, rows, CUBE_ROWS_SCHEMA)


AUDIO_SCHEMA = "audio_id string, bytes binary, fmt string, rate int, n_samples int"


def generate_audio(spark: SparkSession, n: int, rate: int = 16_000,
                   seconds: float = 0.5) -> DataFrame:
    """Deterministic WAV clip table (the audio leg of the multimodal
    columns): clip i is a two-tone sine mix with frequencies keyed on i,
    PCM-16 encoded by functions/wav.py on the executors."""

    def gen(it):
        import pandas as pd

        from veranda_spark.functions.wav import wav_encode

        n_samp = int(rate * seconds)
        t = np.arange(n_samp) / rate
        for pdf in it:
            rows = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                f1 = 200.0 + (i * 37) % 3000
                f2 = 150.0 + (i * 91) % 5000
                x = 0.5 * np.sin(2 * np.pi * f1 * t) + 0.3 * np.sin(
                    2 * np.pi * f2 * t
                )
                pcm = np.round(x * 20000).astype(np.int16)
                rows.append(
                    (f"clip_{i:08d}", wav_encode(pcm, rate), "wav", rate, n_samp)
                )
            yield pd.DataFrame(
                rows, columns=["audio_id", "bytes", "fmt", "rate", "n_samples"]
            )

    return spark.range(n).mapInPandas(gen, schema=AUDIO_SCHEMA)


MEDIA_SCHEMA = "media_id string, bytes binary, fmt string"


def generate_media(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic compressed-media container table (round 4): item i
    alternates between a structurally valid MPEG-1 Layer III stream and
    a minimal MP4, with header parameters keyed on i — the fixture side
    of sources/multimodal.extract_media_metadata (payload decode stays
    gated; the STRUCTURE is real and probe-verifiable)."""

    def gen(it):
        import pandas as pd

        from veranda_spark.functions.media import (
            build_mp3_bytes,
            build_mp4_bytes,
        )

        for pdf in it:
            rows = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                if i % 2 == 0:
                    b = build_mp3_bytes(
                        n_frames=5 + i % 7,
                        bitrate_idx=1 + (i // 2) % 14,
                        sr_idx=i % 3,
                        mode_idx=(0, 3)[i % 4 // 2],
                        with_id3=i % 3 == 0,
                        with_xing=i % 5 == 0,
                    )
                    rows.append((f"media_{i:08d}", b, "mp3"))
                else:
                    b = build_mp4_bytes(
                        duration_sec=1.0 + (i % 60),
                        timescale=(600, 1000, 90000)[i % 3],
                        width=160 + 16 * (i % 50),
                        height=90 + 9 * (i % 50),
                        video_codec=("avc1", "hev1", "av01")[i % 3],
                    )
                    rows.append((f"media_{i:08d}", b, "mp4"))
            yield pd.DataFrame(rows, columns=["media_id", "bytes", "fmt"])

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)
