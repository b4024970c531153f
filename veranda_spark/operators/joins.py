"""Spatial joins: point-in-polygon, point-in-tile, kNN, skew salting.

North-rule additions over the reference (SURVEY.md §2.3): veranda's only
join-shaped computations are register⋈mosaic tile pruning (J1),
polygon⋈tile intersection (J2, base.py:546-555) and point→tile lookup
(J3, base.py:471-477).  This module re-expresses them as real Spark joins
and adds what veranda lacks: kNN (an exact top-k per Arrow batch by cell
ring search, merged by one window) and explicit skew handling (cell
histogram → salted broadcast join).

All coordinates here are integer pixel coords (SURVEY.md §7 hard-part #1:
join on integers, never rounded floats); distances are exact integer
squared distances, ties broken by id — so results are reproducible in
ANSI SQL for the oracle.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from veranda_spark.cells import CELL_OFFSET, cell_id
from veranda_spark.functions.geometry import (
    is_ring_list_column,
    points_in_rings,
    segment_intersects_boxes,
    spec_to_rings,
)


# ---- point-in-polygon -------------------------------------------------------


def _pack_rings(rings: list[np.ndarray]) -> bytes:
    """Ring list → float64 bytes: per ring its vertex count, then its x,y
    pairs.  Exact, and flat: an Arrow batch whose nested-list column is
    all null or empty crashes the Python worker on conversion."""
    return np.concatenate([np.r_[len(r), r.ravel()] for r in rings]).tobytes()


def _unpack_rings(blob: bytes) -> list[np.ndarray]:
    a, rings, i = np.frombuffer(blob, "float64"), [], 0
    while i < len(a):
        n = int(a[i])
        rings.append(a[i + 1:i + 1 + 2 * n].reshape(n, 2))
        i += 1 + 2 * n
    return rings


def _polygon_cover_rows(rings: list[np.ndarray], res: int) -> tuple[np.ndarray, np.ndarray]:
    """Cell cover of ONE polygon (a ring list, even-odd) at resolution
    res, CLASSIFIED per cell (the Raptor full/partial split):

    - a cell no ring edge touches is uniformly inside or outside (the
      boundary cannot cross it) — decided by one centre test: outside
      cells are DROPPED, inside cells are ``full`` (their points are
      hits by construction and skip the exact re-check);
    - boundary cells (an edge touches the closed box) are not full and
      keep the exact ray-cast re-check.

    Holes and multipolygons need nothing extra: the edge test runs over
    every ring and the centre test is even-odd, so a cell strictly
    inside a hole comes out outside.  Returns the packed cell ids and
    full flags of the non-outside cells, row-major over the bbox."""
    size = 1 << res
    allv = np.concatenate(rings)
    ixs = np.arange(int(np.floor(allv[:, 0].min() / size)),
                    int(np.floor(allv[:, 0].max() / size)) + 1)
    iys = np.arange(int(np.floor(allv[:, 1].min() / size)),
                    int(np.floor(allv[:, 1].max() / size)) + 1)
    ix, iy = (a.ravel() for a in np.meshgrid(ixs, iys))
    xmin = (ix * size).astype("float64")
    ymin = (iy * size).astype("float64")
    xmax, ymax = xmin + size, ymin + size
    edge_hit = np.zeros(ix.shape, dtype=bool)
    for ring in rings:
        for (ax, ay), (bx, by) in zip(ring, np.roll(ring, -1, axis=0)):
            edge_hit |= segment_intersects_boxes(ax, ay, bx, by, xmin, ymin, xmax, ymax)
    keep = edge_hit | points_in_rings(xmin + size / 2.0, ymin + size / 2.0, rings)
    cell = (res << 58) + (iy[keep] + CELL_OFFSET) * (1 << 29) + (ix[keep] + CELL_OFFSET)
    return cell, ~edge_hit[keep]


def _classified_cover(
    polygons: DataFrame,
    poly_id: str,
    xy_col: str,
    res: int,
    to_frame: Callable[[list[np.ndarray]], list[np.ndarray]] | None = None,
) -> DataFrame:
    """The one polygon cover step of both polygon plans — pip_join_table
    (which the dict pip_join calls) and zonal_stats_table (which the dict
    zonal_stats calls): a single ``mapInPandas`` over the polygon rows
    (executor-side — the H3 polyfill analog) emitting
    ``(poly_id, _cell, _full, _rings)`` for every non-outside cell of
    each polygon (``_polygon_cover_rows``).  zonal_stats_table joins the
    cells against image footprint covers and keeps only
    ``(poly_id, _cell)``.

    ``xy_col`` is one ring or a ring list (holes / multipolygons,
    even-odd), detected from the column's nesting depth.  The rings,
    packed (``_pack_rings``), ride only on boundary rows — the only rows
    the exact re-check reads; full rows carry null.  A null or empty
    ``xy_col`` emits nothing.  ``to_frame`` first maps each polygon's
    rings into the frame the cells are keyed in (zonal: world → pixel)."""
    multi_ring = is_ring_list_column(polygons, xy_col)
    schema = T.StructType([
        polygons.schema[poly_id],
        T.StructField("_cell", T.LongType()),
        T.StructField("_full", T.BooleanType()),
        T.StructField("_rings", T.BinaryType()),
    ])

    def cover(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, cells, full, ring_rows = [], [], [], []
            for pid, spec in zip(pdf[poly_id], pdf[xy_col]):
                rings = [] if spec is None else spec_to_rings(spec, multi_ring)
                rings = [r for r in rings if len(r)]
                if not rings:
                    continue
                if to_frame is not None:
                    rings = to_frame(rings)
                c, f = _polygon_cover_rows(rings, res)
                packed = _pack_rings(rings)
                ids += [pid] * len(c)
                cells.append(c)
                full.append(f)
                ring_rows += [None if fi else packed for fi in f]
            yield pd.DataFrame({
                poly_id: ids,
                "_cell": np.concatenate(cells) if cells else np.empty(0, "int64"),
                "_full": np.concatenate(full) if full else np.empty(0, bool),
                "_rings": ring_rows,
            })

    return polygons.select(poly_id, xy_col).mapInPandas(cover, schema)


@F.pandas_udf(T.BooleanType())
def _inside(
    px: pd.Series, py: pd.Series, pid: pd.Series, full: pd.Series, rings: pd.Series
) -> pd.Series:
    """Exact re-check only where the boundary can reach: full-cell
    candidates are hits by construction; boundary-cell candidates — the
    ONLY rows where a point can sit near/on an edge — run the even-odd
    ray-cast bit for bit, so edge-point behavior (the half-open
    crossing convention) is exactly what it always was.  (A convex
    all-same-sign Column predicate was tried here and reverted in
    review: it excluded exactly-on-edge points the ray-cast admits.)
    The rings are parsed once per polygon id within the batch."""
    out = full.to_numpy(dtype=bool).copy()
    todo = np.flatnonzero(~out)
    xv, yv = px.to_numpy("float64"), py.to_numpy("float64")
    keys = pid.to_numpy()[todo]
    for pos in pd.Series(todo).groupby(keys, dropna=False).indices.values():
        m = todo[pos]
        out[m] = points_in_rings(xv[m], yv[m], _unpack_rings(rings.iloc[m[0]]))
    return pd.Series(out)


def pip_join(
    points: DataFrame,
    polygons: dict[str, Sequence[tuple[float, float]]],
    x_col: str = "px",
    y_col: str = "py",
    res: int = 6,
    how: str = "inner",
) -> DataFrame:
    """Point-in-polygon join (the north rule's core join; veranda analog:
    polygon select P7, base.py:510-557) against a small dict of
    single-ring polygons.

    The dict becomes a one-row-per-polygon local relation and runs
    through ``pip_join_table``'s plan (classified cover, broadcast
    equi-join on the cell key, exact re-check on boundary candidates).
    ``how="left"`` keeps unmatched points with a null polygon_id.

    ``points`` uses world coords equal to pixel coords here (grid with
    ul=0, ps=1); pass transformed columns otherwise.
    """
    from veranda_spark.session import local_df

    rows = [(pid, [[float(x), float(y)] for x, y in poly]) for pid, poly in polygons.items()]
    zones = local_df(
        points.sparkSession, rows, "polygon_id string, xy array<array<double>>"
    )
    hits = pip_join_table(points, zones, x_col, y_col, res=res)
    if how == "inner":
        return hits
    if how == "left":
        return points.join(
            hits.select(*points.columns, "polygon_id"), points.columns, "left"
        )
    raise ValueError(f"how={how!r}")


def pip_join_table(
    points: DataFrame,
    polygons: DataFrame,
    x_col: str = "px",
    y_col: str = "py",
    poly_id: str = "polygon_id",
    xy_col: str = "xy",
    res: int = 6,
    broadcast_cover: bool = True,
) -> DataFrame:
    """Point-in-polygon join against a polygon TABLE (scales past the
    task-closure size of a dict to millions of zones).

    ``polygons`` carries (poly_id, xy_col) with vertices in the SAME
    planar frame as (x_col, y_col); ``xy_col`` is one ring
    (array<array<double>>) or a ring LIST (holes / multipolygons,
    even-odd) — detected from the column's nesting depth.  Plan:

    1. classified cell cover, computed on the executors
       (``_classified_cover``): outside cells dropped, full cells
       flagged, rings only on boundary cells;
    2. candidate equi-join on the cell key (broadcast when the cover side
       is dim-sized, shuffle hash otherwise — set broadcast_cover=False
       for huge polygon tables and let AQE pick);
    3. exact ray-cast re-check (``_inside``) on boundary candidates only.

    Reference analog: slice_by_geom over arbitrary OGR geometry
    (base.py:538-555) — here as a relational join instead of a per-file
    loop."""
    cover = _classified_cover(polygons, poly_id, xy_col, res)
    if broadcast_cover:
        cover = F.broadcast(cover)
    pts = points.withColumn("_cell", cell_id(F.col(x_col), F.col(y_col), res))
    return (
        pts.join(cover, "_cell")
        .filter(_inside(F.col(x_col), F.col(y_col), F.col(poly_id),
                        F.col("_full"), F.col("_rings")))
        .drop("_cell", "_full", "_rings")
    )


# ---- point -> tile lookup (J1/J3) ------------------------------------------


def point_in_tile_join(
    points: DataFrame,
    tiles: DataFrame,
    grid,
    x_col: str = "px",
    y_col: str = "py",
    broadcast_threshold: int = 1_000_000,
    tile_count: int | None = None,
) -> DataFrame:
    """J3 (xy2tile, base.py:471-477) as an equi join against the tile
    dimension: the point's tile key is COMPUTED (tile_of_xy), never
    searched, so the join stays a key equi-join at any scale.

    The tile dim is broadcast only while it is dim-sized.  On a
    planetary grid (millions of tiles — PLANS.md flagged this flip),
    broadcasting would ship a multi-GB dim to every executor; above
    ``broadcast_threshold`` tiles the hint is dropped automatically and
    the join shuffle-partitions on the computed key (AQE may still pick
    a better physical strategy from real sizes).  The count comes from
    the grid's static bounds (``n_tile_rows × n_tile_cols``) or an
    explicit ``tile_count``; an unbounded grid without a count keeps the
    dim-sized default."""
    keyed = points.withColumn(
        "tile_id", grid.tile_of_xy(F.col(x_col), F.col(y_col))
    )
    if tile_count is None and grid.n_tile_rows > 0 and grid.n_tile_cols > 0:
        tile_count = grid.n_tile_rows * grid.n_tile_cols
    big_dim = tile_count is not None and tile_count > broadcast_threshold
    return keyed.join(tiles if big_dim else F.broadcast(tiles), "tile_id", "inner")


# ---- kNN: exact per-batch top-k, one merge ---------------------------------


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    res: int = 6,
    point_id: str = "point_id",
    px: str = "px",
    py: str = "py",
    query_id: str = "query_id",
    qx: str = "qx",
    qy: str = "qy",
) -> DataFrame:
    """k-nearest-neighbors of each query point (north-rule addition; no
    reference analog — SURVEY.md §2.3 J3 note).

    The query side must be small: it is collected to the driver and
    shipped to every task.  One ``mapInPandas`` over the points sorts
    each Arrow batch by (cy, cx) cell at ``res``; per query it reads a
    doubling Chebyshev ring of cells as ``searchsorted`` row slices until
    the k-th candidate lies within the ring's guaranteed radius r·2^res
    (any point outside is strictly farther) or the ring covers the
    batch, and emits the batch top-k in (dist_sq, point_id) order.  One
    ``row_number`` window per query keeps the first k.  Exact: the global
    top-k under a total order is a subset of the union of the per-batch
    top-k under that order, so ties break on point id as ``ORDER BY
    dist_sq, point_id`` does.  Distances are exact integer squared
    distances; rows with a null coordinate match nothing."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qrows = queries.select(query_id, F.col(qx).cast("long").alias("_qx"),
                           F.col(qy).cast("long").alias("_qy")).dropna(subset=["_qx", "_qy"]).collect()
    qids = np.array([r[0] for r in qrows])
    q = np.array([r[1:] for r in qrows], "int64").reshape(-1, 2)

    def topk(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty or not len(q):
                continue
            p = pdf[["_px", "_py"]].to_numpy("int64")
            o = np.lexsort((p >> res).T)  # (cy, cx) order
            p, ids = p[o], pdf["_pid"].to_numpy()[o]
            c = p >> res
            c0, c1 = c.min(0), c.max(0)
            nx = c1[0] - c0[0] + 1
            key = (c - c0) @ np.array([1, nx])
            sel = []
            for qi, (qp, qc) in enumerate(zip(q, q >> res)):
                r = 1
                while True:
                    a, b = np.maximum(qc - r, c0), np.minimum(qc + r, c1)  # ring ∩ batch extent
                    row = (np.arange(a[1], b[1] + 1) - c0[1]) * nx - c0[0]
                    lo = np.searchsorted(key, row + a[0])
                    n = np.maximum(np.searchsorted(key, row + b[0], "right") - lo, 0)
                    cand = np.arange(n.sum()) + np.repeat(lo - np.cumsum(n) + n, n)  # ∪ [lo, lo+n)
                    d2 = ((p[cand] - qp) ** 2).sum(1)
                    if (a == c0).all() and (b == c1).all() or (
                            len(d2) >= k and np.partition(d2, k - 1)[k - 1] <= (r << res) ** 2):
                        break
                    r *= 2
                top = cand[np.lexsort((ids[cand], d2))[:k]]
                sel.append((np.full(len(top), qi), top))
            qi, top = (np.concatenate(a) for a in zip(*sel))
            yield pd.DataFrame({"_qid": qids[qi], "_pid": ids[top], "_d2": ((p[top] - q[qi]) ** 2).sum(1)})

    schema = T.StructType([T.StructField("_qid", queries.schema[query_id].dataType),
                           T.StructField("_pid", points.schema[point_id].dataType),
                           T.StructField("_d2", T.LongType())])
    pts = points.select(F.col(point_id).alias("_pid"), F.col(px).cast("long").alias("_px"),
                        F.col(py).cast("long").alias("_py")).dropna(subset=["_px", "_py"])
    rank = F.row_number().over(Window.partitionBy("_qid").orderBy("_d2", "_pid"))
    return pts.mapInPandas(topk, schema).withColumn("_rn", rank).filter(F.col("_rn") <= k).select(
        F.col("_qid").alias(query_id), F.col("_pid").alias(point_id),
        F.col("_d2").alias("dist_sq"), F.col("_rn").alias("knn_rank"))


# ---- skew handling ----------------------------------------------------------


def cell_histogram(df: DataFrame, x_col: str, y_col: str, res: int) -> DataFrame:
    """Per-cell row counts — the skew diagnostic the salt map derives from
    (BASELINE.json north_rule: 'adaptive repartitioning keyed on H3 cell
    histograms')."""
    return (
        df.withColumn("cell", cell_id(F.col(x_col), F.col(y_col), res))
        .groupBy("cell")
        .count()
    )


def derive_salt_map(hist: DataFrame, target_rows_per_part: int = 100_000) -> dict[int, int]:
    """cell → salt fan-out for cells whose count exceeds the target
    (collected to the driver: the histogram of HOT cells is tiny)."""
    hot = hist.filter(F.col("count") > target_rows_per_part).collect()
    return {int(r["cell"]): int(np.ceil(r["count"] / target_rows_per_part)) for r in hot}


def salted_broadcast_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_map: dict[int, int] | None = None,
    default_salt: int = 1,
    how: str = "inner",
) -> DataFrame:
    """Equi join resilient to hot keys: the big side gets a per-row salt in
    [0, n_key) (n from the salt map, 1 for cold keys); the small side is
    exploded over every salt value.  With a broadcast small side Spark
    never shuffles the big side at all; the salt also protects downstream
    groupBys on (key, salt).

    Only inner/left are supported: with right/full outer the exploded
    small side would surface one unmatched row PER SALT VALUE.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_broadcast_join supports inner/left, got {how!r}")
    spark = big.sparkSession
    if salt_map:
        from veranda_spark.session import local_df

        entries = [(int(c), int(n)) for c, n in salt_map.items()]
        sm = F.broadcast(local_df(spark, entries, f"{key} long, _nsalt int"))
        big = big.join(sm, key, "left").withColumn(
            "_nsalt", F.coalesce(F.col("_nsalt"), F.lit(default_salt))
        )
        small = small.join(sm, key, "left").withColumn(
            "_nsalt", F.coalesce(F.col("_nsalt"), F.lit(default_salt))
        )
    else:
        big = big.withColumn("_nsalt", F.lit(default_salt))
        small = small.withColumn("_nsalt", F.lit(default_salt))
    big = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns if c not in ("_nsalt",)]), F.col("_nsalt")).cast("int")
    ).drop("_nsalt")
    small = (
        small.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.col("_nsalt") - 1)))
        .withColumn("_salt", F.col("_salt").cast("int"))
        .drop("_nsalt")
    )
    out = big.join(F.broadcast(small), [key, "_salt"], how)
    return out.drop("_salt")
