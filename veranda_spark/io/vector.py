"""Vector geometry sink (S15 analog).

The reference writes one OGR geometry + a DN:int field to an ESRI
shapefile (reference vector/native/shp.py:4-32).  Spark-first: geometries
live in a WKB binary column next to their attributes and the sink is a
plain columnar write (GeoParquet-style layout: geometry column + metadata)
— no OGR in this environment, so WKB encoding is implemented natively.
"""

from __future__ import annotations

import struct
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from veranda_spark.session import local_df

_WKB_POINT, _WKB_POLYGON = 1, 3


def wkb_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, _WKB_POINT, x, y)


def wkb_polygon(rings) -> bytes:
    """WKB polygon from one ring (list of (x, y)) or a ring LIST
    (exterior + holes — multi-ring, even-odd downstream)."""
    if rings and hasattr(rings[0][0], "__len__"):
        ring_list = [list(r) for r in rings]
    else:
        ring_list = [list(rings)]
    out = struct.pack("<BII", 1, _WKB_POLYGON, len(ring_list))
    for pts in ring_list:
        if pts[0] != pts[-1]:
            pts.append(pts[0])
        out += struct.pack("<I", len(pts))
        for x, y in pts:
            out += struct.pack("<dd", x, y)
    return out


def parse_wkb(data: bytes):
    """Inverse of the two writers above (round-trip tested).  Polygons
    return ("polygon", first_ring) for backward compatibility; use
    parse_wkb_rings for the full ring list."""
    kind, rings = parse_wkb_rings(data)
    if kind == "point":
        return (kind, rings)
    return (kind, rings[0])


def parse_wkb_rings(data: bytes):
    byte_order, geom_type = struct.unpack_from("<BI", data, 0)
    assert byte_order == 1
    if geom_type == _WKB_POINT:
        return ("point", struct.unpack_from("<dd", data, 5))
    if geom_type == _WKB_POLYGON:
        (n_rings,) = struct.unpack_from("<I", data, 5)
        off = 9
        rings = []
        for _ in range(n_rings):
            (n_pts,) = struct.unpack_from("<I", data, off)
            off += 4
            rings.append(
                [struct.unpack_from("<dd", data, off + 16 * i) for i in range(n_pts)]
            )
            off += 16 * n_pts
        return ("polygon", rings)
    raise ValueError(f"unsupported wkb type {geom_type}")


def with_xy_rings(df: DataFrame, geom_col: str = "geometry", out_col: str = "xy") -> DataFrame:
    """GeoParquet-style WKB geometry column → ring-list xy column
    (array<array<array<double>>>), directly consumable by
    pip_join_table / zonal_stats_table — the read-side connector of the
    vector sink."""

    @F.pandas_udf(T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))))
    def rings_of(geom: pd.Series) -> pd.Series:
        out = []
        for blob in geom:
            kind, rings = parse_wkb_rings(bytes(blob))
            if kind != "polygon":
                raise ValueError(f"with_xy_rings expects polygons, got {kind}")
            out.append([[[float(x), float(y)] for x, y in ring] for ring in rings])
        return pd.Series(out)

    return df.withColumn(out_col, rings_of(F.col(geom_col)))


@F.pandas_udf(T.BinaryType())
def point_wkb_udf(x: pd.Series, y: pd.Series) -> pd.Series:
    return pd.Series(
        [wkb_point(float(a), float(b)) for a, b in zip(x.to_numpy(), y.to_numpy())]
    )


def write_geometry(
    df: DataFrame,
    path: str,
    x_col: str = "px",
    y_col: str = "py",
    dn_col: str | None = None,
) -> None:
    """Point-feature sink: attributes + WKB geometry column → parquet
    (write_geometry parity: geometry + DN field, shp.py:4-32)."""
    out = df.withColumn("geometry", point_wkb_udf(F.col(x_col), F.col(y_col)))
    if dn_col is not None:
        out = out.withColumn("DN", F.col(dn_col).cast("int"))
    out.write.mode("overwrite").parquet(path)


def polygons_df(
    spark: SparkSession, polygons: dict[str, Sequence[tuple[float, float]]]
) -> DataFrame:
    """Small polygon dimension table with WKB geometry (broadcastable)."""
    rows = [(pid, wkb_polygon(poly)) for pid, poly in polygons.items()]
    return local_df(spark, rows, "polygon_id string, geometry binary")
