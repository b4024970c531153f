"""The benchmark's workloads: seeded inputs, program set-up and the calls.

Each workload is a single-client closed loop made of rounds.  A round is
a fixed sequence of calls into the engine's public functions; each call
is forced (its result collected and reduced to a checksum) before the
next one starts.  Rounds repeat until the run's time is up, so every run
holds whole rounds.

A workload supplies:

- ``SIZES``: input sizes for the ``full`` benchmark and the ``tiny``
  self-test;
- ``make_inputs(d, seed, size)``: writes the seeded inputs under
  directory ``d`` (parquet plus small JSON) without Spark; run once per
  (seed, size);
- ``setup(run)``: the program's own set-up, timed into ``setup_s``;
- ``round_ops(run, r)``: the calls of round ``r`` as :class:`Op` s;
- ``final_check(run)``: checks of cumulative state after the timed
  phase, returning the number of failed operations;
- ``extra_metrics(run)``: workload-level figures read after the checks.

Expected values come from :mod:`reference`, computed after the timed
phase from the generated rows alone.
"""

from __future__ import annotations

import json
import math
import os
import zlib
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import reference as ref

CELL_RES = 6
CELL_PX = 1 << CELL_RES
PARTS = 8  # parquet files per input table

IMAGES_ARROW = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()), ("px_col0", pa.int64()), ("px_row0", pa.int64()),
])


@dataclass
class Op:
    """One call of a round.  ``fn`` runs the call and forces its result;
    ``expect`` computes the reference value after the timed phase;
    ``same`` compares the two (exact equality by default)."""

    name: str
    rows: int
    fn: Callable[[], Any]
    expect: Callable[[], Any] | None = None
    same: Callable[[Any, Any], bool] = lambda a, b: a == b
    after: Callable[[], dict] | None = None


def data_dir(work: str, workload: str, size: str, seed: int) -> str:
    """Where the seeded inputs of one (workload, size, seed) live."""
    return os.path.join(work, "data", f"{workload}-{size}-seed{seed}")


def _grid():
    from veranda_spark.grid import RegularGrid

    return RegularGrid(
        ul_x=0.0, ul_y=0.0, psx=1.0, psy=1.0,
        tile_cols=ref.TILE, tile_rows=ref.TILE,
        n_tile_cols=ref.N_TILE_COLS, n_tile_rows=ref.N_TILE_ROWS,
    )


def _images(n: int, seed: int, hotspot: bool, fmts: tuple[str, ...]) -> pa.Table:
    """The rows ``veranda_spark.fixtures.generate_images`` makes for ids
    ``0 .. n-1``: the row generator it maps over the id range, run here in
    one Python process, so that no JVM runs before the measured one."""
    from veranda_spark.fixtures import _gen_batch

    pdf = pd.concat(_gen_batch(iter([pd.DataFrame({"id": np.arange(n)})]), seed, hotspot, fmts))
    return pa.Table.from_pandas(pdf, schema=IMAGES_ARROW, preserve_index=False)


def _write_parts(table: pa.Table, d: str, parts: int = PARTS) -> None:
    """Writes ``table`` as a parquet directory of ``parts`` files."""
    os.makedirs(d)
    n = table.num_rows
    for j in range(parts):
        lo, hi = j * n // parts, (j + 1) * n // parts
        pq.write_table(table.slice(lo, hi - lo), os.path.join(d, f"part-{j:05d}.parquet"))


def _ids(table: pa.Table) -> np.ndarray:
    """The numeric part of ``image_id`` (``img_000000000042`` -> 42)."""
    return np.array([int(s[4:]) for s in table.column("image_id").to_pylist()], dtype=np.int64)


def _write_json(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f)


def _read_json(path: str):
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def _numeric_id(col: str = "image_id"):
    from pyspark.sql import functions as F

    return F.substring(F.col(col), 5, 12).cast("long")


def _id_agg(df):
    """Forces a row set to (rows, sum id, sum (id % 10007) * (id % 101))."""
    from pyspark.sql import functions as F

    i = _numeric_id()
    r = df.agg(
        F.count("*"), F.coalesce(F.sum(i), F.lit(0)),
        F.coalesce(F.sum((i % 10007) * (i % 101)), F.lit(0)),
    ).first()
    return tuple(int(v) for v in r)


def _footprints(path: str) -> dict[str, np.ndarray]:
    t = pq.read_table(path, columns=["image_id", "px_col0", "px_row0", "w", "h"])
    cols = {c: t.column(c).to_numpy() for c in ("px_col0", "px_row0", "w", "h")}
    cols["id"] = np.array([int(s[4:]) for s in t.column("image_id").to_pylist()])
    return {k: np.asarray(v, dtype=np.int64) for k, v in cols.items()}


# ---- spatial_join ---------------------------------------------------------


class SpatialJoin:
    """Footprint points (hotspot skew on) against polygons, zones, kNN
    queries and a salted cell dimension.  No pixel bytes are read."""

    name = "spatial_join"
    scaling = True  # traced runs also time it on a quarter of the cores
    SIZES = {
        "full": {"points": 20_000, "zones": 160, "polys": 4, "queries": 16, "k": 8,
                 "dedup": 5_000},
        "tiny": {"points": 3_000, "zones": 24, "polys": 2, "queries": 8, "k": 4,
                 "dedup": 600},
    }

    def make_inputs(self, d: str, seed: int, size: dict) -> None:
        from veranda_spark.fixtures import WORLD_H_PX, WORLD_W_PX

        imgs = _images(size["points"], seed, hotspot=True, fmts=("raw",))
        off = np.random.default_rng([seed, 5])  # a point inside each footprint
        w, h = (imgs.column(c).to_numpy().astype(np.int64) for c in ("w", "h"))
        _write_parts(pa.table({
            "point_id": _ids(imgs),
            "px": imgs.column("px_col0").to_numpy() + off.integers(0, w),
            "py": imgs.column("px_row0").to_numpy() + off.integers(0, h),
        }), os.path.join(d, "points"))
        ncx, ncy = WORLD_W_PX // CELL_PX, WORLD_H_PX // CELL_PX
        cid = np.arange(ncx * ncy, dtype=np.int64)
        cid = cid[np.random.default_rng([seed, 6]).random(cid.size) < 0.7]  # 70% of cells
        _write_parts(pa.table({"ix": cid % ncx, "iy": cid // ncx}), os.path.join(d, "cells"), 1)

        rng = np.random.default_rng([seed, 1])
        hot_w, hot_h = WORLD_W_PX // 20, WORLD_H_PX // 20

        def centre(hot: bool):
            if hot:
                return rng.uniform(0, hot_w), rng.uniform(0, hot_h)
            return rng.uniform(0, WORLD_W_PX), rng.uniform(0, WORLD_H_PX)

        polys = {}
        for j in range(size["polys"]):
            cx, cy = centre(j % 2 == 1)
            polys[f"poly{j}"] = ref.star_ring(rng, cx, cy, 100, 450, 2 * int(rng.integers(4, 9)), 0.5).tolist()
        zones = []
        for j in range(size["zones"]):
            hot = j % 10 == 0  # small parcels inside the hotspot
            cx, cy = centre(hot)
            r_lo, r_hi = (4, 12) if hot else (20, 110)
            outer = ref.star_ring(rng, cx, cy, r_lo, r_hi, 2 * int(rng.integers(3, 7)), 0.5)
            rings = [outer.tolist()]
            if j % 3 == 0 and not hot:  # a hole well inside the outer ring
                rings.append(ref.star_ring(rng, cx, cy, 4, 14, 6, 0.5).tolist())
            zones.append(rings)
        queries = [
            [q, *map(int, centre(q % 8 == 0))] for q in range(size["queries"])
        ]
        _write_json(os.path.join(d, "geometry.json"),
                    {"polys": polys, "zones": zones, "queries": queries})
        pq.write_table(near_dup_table(np.random.default_rng([seed, 4]), size["dedup"]),
                       os.path.join(d, "phash.parquet"))

    def setup(self, run) -> None:
        from pyspark.sql import functions as F

        from veranda_spark.cells import cell_id
        from veranda_spark.session import local_df

        spark, d, g = run.spark, run.data_dir, _grid()
        geo = _read_json(os.path.join(d, "geometry.json"))
        self.polys = geo["polys"]
        self.zones = geo["zones"]
        self.queries = geo["queries"]
        self.n = run.size["points"]
        self.k = run.size["k"]
        with run.span("setup.load_inputs", rows=self.n):
            pts = spark.read.parquet(os.path.join(d, "points"))
            self.points = pts.withColumn("pyw", -F.col("py"))
            self.points_cell = pts.withColumn("cell", cell_id(F.col("px"), F.col("py"), CELL_RES))
            self.cells = spark.read.parquet(os.path.join(d, "cells")).select(
                cell_id(F.col("ix") * CELL_PX, F.col("iy") * CELL_PX, CELL_RES).alias("cell"),
                "ix", "iy")
            self.tiles = g.tiles_df(spark).cache()
            self.tiles.count()
            self.zones_df = local_df(
                spark, [(j, z) for j, z in enumerate(self.zones)],
                "polygon_id long, xy array<array<array<double>>>",
            )
            self.queries_df = local_df(spark, [tuple(q) for q in self.queries],
                                       "query_id long, qx long, qy long")
            self.phash = spark.read.parquet(os.path.join(d, "phash.parquet"))
        self.grid = g
        self._ref = None

    def _arrays(self, run):
        if self._ref is None:
            t = pq.read_table(os.path.join(run.data_dir, "points"))
            self._ref = {c: t.column(c).to_numpy().astype(np.int64)
                         for c in ("point_id", "px", "py")}
        return self._ref

    def round_ops(self, run, r: int) -> list[Op]:
        from pyspark.sql import functions as F

        from veranda_spark.operators import dedup, joins

        n, target = self.n, max(500, self.n // 40)
        a = lambda: self._arrays(run)  # noqa: E731

        def tile():
            out = joins.point_in_tile_join(self.points, self.tiles, self.grid,
                                           x_col="px", y_col="pyw")
            t = F.col("tile_row") * ref.N_TILE_COLS + F.col("tile_col")
            row = out.agg(F.count("*"), F.sum("point_id"), F.sum(t),
                          F.sum(F.col("point_id") % 997 * t)).first()
            return tuple(int(v or 0) for v in row)

        def per_polygon(df):
            rows = df.groupBy("polygon_id").agg(F.count("*"), F.sum("point_id")).collect()
            run.note("hits", sum(int(c) for _, c, _ in rows))
            return {str(p): (int(c), int(s)) for p, c, s in rows}

        def pip():
            flipped = {k: [(x, -y) for x, y in v] for k, v in self.polys.items()}
            return per_polygon(joins.pip_join(self.points, flipped, x_col="px",
                                              y_col="pyw", res=CELL_RES))

        def pip_table():
            return per_polygon(joins.pip_join_table(self.points, self.zones_df,
                                                    x_col="px", y_col="py", res=CELL_RES))

        def knn():
            out = joins.knn_join(self.points, self.queries_df, k=self.k, res=CELL_RES)
            return {(int(q), int(rk)): (int(p), int(d2))
                    for q, p, d2, rk in out.collect()}

        state = {}

        def salt_map():
            hist = joins.cell_histogram(self.points_cell, "px", "py", CELL_RES)
            state["salt"] = joins.derive_salt_map(hist, target_rows_per_part=target)
            return sorted(state["salt"].values())

        def salted():
            out = joins.salted_broadcast_join(self.points_cell, self.cells, "cell",
                                              salt_map=state["salt"])
            key = F.col("iy") * 64 + F.col("ix")
            row = out.agg(F.count("*"), F.sum("point_id"),
                          F.sum(F.col("point_id") % 991 * key)).first()
            return tuple(int(v or 0) for v in row)

        def ref_salt():
            x = a()
            _, counts = np.unique((x["py"] // CELL_PX) * 4096 + x["px"] // CELL_PX,
                                  return_counts=True)
            return sorted(int(math.ceil(c / target)) for c in counts if c > target)

        def ref_cells():
            x = a()
            t = pq.read_table(os.path.join(run.data_dir, "cells"))
            return ref.cell_join_checksum(
                x["px"], x["py"], x["point_id"], t.column("ix").to_numpy(),
                t.column("iy").to_numpy(), CELL_PX,
            )

        def ref_zones():
            x = a()
            return {str(j): v for j, v in ref.pip_counts(
                x["px"], x["py"], x["point_id"],
                dict(enumerate(self.zones))).items()}

        def ref_knn():
            x = a()
            q = np.array(self.queries, dtype=np.int64)
            return ref.knn(x["px"], x["py"], x["point_id"], q[:, 1], q[:, 2], q[:, 0], self.k)

        nd = run.size["dedup"]

        def pairs():
            # computed once and cached, as a caller feeding both steps would
            state["pairs_df"] = dedup.phash_neardup_pairs(self.phash).cache()
            rows = state["pairs_df"].collect()
            state["pairs"] = [(int(u[4:]), int(v[4:]), int(hm)) for u, v, hm in rows]
            run.note("pairs", len(rows))
            return {(u, v): hm for u, v, hm in state["pairs"] if u in sample or v in sample}

        def components():
            stats = {}
            comp = dedup.connected_components(state["pairs_df"], stats=stats)
            run.note("rounds", stats["rounds"])
            node, label = _numeric_id("node"), _numeric_id("component")
            row = comp.agg(F.count("*"), F.sum(node), F.sum(node % 9973 * (label % 9973))).first()
            return tuple(int(v or 0) for v in row)

        def survivors():
            try:
                out = dedup.dedup_keep_first_neardup(self.phash, state["pairs_df"],
                                                     id_col="image_id")
                return _id_agg(out)
            finally:
                state.pop("pairs_df").unpersist()

        sample = set(range(0, nd, max(1, nd // 300)))

        def ref_components():  # union-find on the pairs the engine returned
            lab = ref.min_labels(state["pairs"])
            nodes = np.fromiter(lab.keys(), dtype=np.int64)
            comp = np.fromiter(lab.values(), dtype=np.int64)
            return (int(nodes.size), int(nodes.sum()), int(((nodes % 9973) * (comp % 9973)).sum()))

        def ref_survivors():
            lab = ref.min_labels(state["pairs"])
            ids = np.array([i for i in range(nd) if lab.get(i, i) == i], dtype=np.int64)
            return ref.id_checksum(ids)

        def ref_pairs():
            t = pq.read_table(os.path.join(run.data_dir, "phash.parquet"))
            return ref.hamming_pairs(t.column("phash").to_numpy(), sorted(sample), 3)

        return [
            Op("joins.point_in_tile_join", n, tile,
               lambda: ref.tile_checksum(a()["px"], a()["py"], a()["point_id"])),
            Op("joins.pip_join", n, pip,
               lambda: ref.pip_counts(a()["px"], a()["py"], a()["point_id"],
                                      {k: [v] for k, v in self.polys.items()})),
            Op("joins.pip_join_table", n, pip_table, ref_zones),
            Op("joins.knn_join", n, knn, ref_knn),
            Op("joins.derive_salt_map", n, salt_map, ref_salt),
            Op("joins.salted_broadcast_join", n, salted, ref_cells),
            Op("dedup.phash_neardup_pairs", nd, pairs, ref_pairs),
            Op("dedup.connected_components", nd, components, ref_components),
            Op("dedup.dedup_keep_first_neardup", nd, survivors, ref_survivors),
        ]

    def final_check(self, run) -> int:
        return 0

    def extra_metrics(self, run) -> dict:
        return {}


def near_dup_table(rng, n: int):
    """``n`` images whose 64-bit phash forms seeded near-duplicate chains of
    one to four members.  Each member differs from the previous one in two
    bits, so members two apart may differ in four: no direct pair, but one
    component."""
    import pyarrow as pa

    phash = np.empty(n, dtype=np.uint64)
    i = c = 0
    while i < n:
        size = min(n - i, 1 + c % 4)  # the same chain lengths for every seed
        c += 1
        h = int(rng.integers(0, 2**63, dtype=np.int64)) * 2 + int(rng.integers(0, 2))
        for j in range(size):
            if j:
                for b in rng.choice(64, 2, replace=False):
                    h ^= 1 << int(b)
            phash[i + j] = h
        i += size
    return pa.table({
        "image_id": [f"img_{i:012d}" for i in range(n)],
        "phash": phash.view(np.int64),
    })


# ---- tile_read ------------------------------------------------------------


class TileRead:
    """Seeded selective reads against a z-ordered, encoded image table."""

    SIZES = {
        "full": {"images": 8_000},
        "tiny": {"images": 1_500},
    }
    ROUND = ("select_bbox", "select_xy", "read_window_small", "select_polygon",
             "select_xy", "select_bbox", "read_window_small", "read_window_large",
             "select_xy", "zonal_stats_table")

    def make_inputs(self, d: str, seed: int, size: dict) -> None:
        _write_parts(_images(size["images"], seed, hotspot=False, fmts=("raw", "png", "tiff")),
                     os.path.join(d, "images"))

    def setup(self, run) -> None:
        from veranda_spark.io.catalog import write_zordered
        from veranda_spark.operators.select import with_tile_id

        self.table = os.path.join(run.work_dir, "table")
        src = with_tile_id(run.spark.read.parquet(os.path.join(run.data_dir, "images")), _grid())
        with run.span("catalog.write_zordered", rows=run.size["images"]):
            write_zordered(src, self.table, n_files=4 * run.cores)
        self.df = run.spark.read.parquet(self.table)
        self.grid = _grid()
        self.n = run.size["images"]
        self.seed = run.seed
        self._fp = None
        self._arrays_cache: dict[int, np.ndarray] = {}

    def _foot(self, run):
        if self._fp is None:
            self._fp = _footprints(os.path.join(run.data_dir, "images"))
        return self._fp

    def _pixels(self, run, j: int) -> np.ndarray:
        from veranda_spark.fixtures import make_image_array

        if j not in self._arrays_cache:
            fp = self._foot(run)
            self._arrays_cache[j] = make_image_array(
                int(fp["id"][j]), int(fp["h"][j]), int(fp["w"][j]), seed=self.seed)
        return self._arrays_cache[j]

    def round_ops(self, run, r: int) -> list[Op]:
        from pyspark.sql import functions as F

        from veranda_spark.io.catalog import partitions_scanned
        from veranda_spark.operators import raster, select
        from veranda_spark.session import local_df

        rng = np.random.default_rng([run.seed, 2, r])
        df, g, n = self.df, self.grid, self.n
        fp = lambda: self._foot(run)  # noqa: E731
        ops = []
        for kind in self.ROUND:
            if kind == "select_bbox":
                ww, wh = (int(v) for v in rng.integers(64, 256, 2))
                c0, r0 = int(rng.integers(0, 4096 - ww)), int(rng.integers(0, 2048 - wh))

                def fn(c0=c0, r0=r0, ww=ww, wh=wh):
                    out = select.select_bbox(df, g, (c0, -(r0 + wh), c0 + ww, -r0))
                    run.note("files_scanned", partitions_scanned(out))
                    return _id_agg(out)

                def expect(c0=c0, r0=r0, ww=ww, wh=wh):
                    f = fp()
                    return ref.id_checksum(f["id"][ref.window_hits(
                        f["px_col0"], f["px_row0"], f["w"], f["h"], c0, r0, ww, wh)])
            elif kind == "select_xy":
                c, rr = int(rng.integers(0, 4096)), int(rng.integers(0, 2048))

                def fn(c=c, rr=rr):
                    out = select.select_xy(df, g, c + 0.5, -(rr + 0.5))
                    run.note("files_scanned", partitions_scanned(out))
                    return _id_agg(out)

                def expect(c=c, rr=rr):
                    f = fp()
                    return ref.id_checksum(f["id"][ref.window_hits(
                        f["px_col0"], f["px_row0"], f["w"], f["h"], c, rr, 1, 1)])
            elif kind == "select_polygon":
                ring = ref.star_ring(rng, rng.uniform(100, 3996), rng.uniform(100, 1948),
                                     30, 100, 2 * int(rng.integers(3, 7)), 0.5)
                world = [(x, -y) for x, y in ring]

                def fn(world=world):
                    out = select.select_polygon(df, g, world)
                    run.note("files_scanned", partitions_scanned(out))
                    return _id_agg(out)

                def expect(world=world):
                    f = fp()
                    hit = ref.boxes_meet_ring(
                        f["px_col0"].astype(float), -(f["px_row0"] + f["h"]).astype(float),
                        (f["px_col0"] + f["w"]).astype(float), -f["px_row0"].astype(float),
                        np.asarray(world))
                    return ref.id_checksum(f["id"][hit])
            elif kind.startswith("read_window"):
                side = int(rng.integers(16, 33)) if kind.endswith("small") else 320
                c0 = int(rng.integers(0, 4096 - side))
                r0 = int(rng.integers(0, 2048 - side))
                kind = "read_window"

                def fn(c0=c0, r0=r0, side=side):
                    rows = raster.read_window(df, g, r0, c0, side, side, nodata=0).collect()
                    if not rows:
                        return None
                    return (len(rows), zlib.crc32(rows[0]["bytes"]))

                def expect(c0=c0, r0=r0, side=side):
                    f = fp()
                    crc = ref.canvas_crc(lambda j: self._pixels(run, j), f["id"],
                                         f["px_col0"], f["px_row0"], f["w"], f["h"],
                                         c0, r0, side, side)
                    return None if crc is None else (1, crc)
            else:  # zonal_stats_table
                zones = [ref.star_ring(rng, rng.uniform(100, 3996), rng.uniform(100, 1948),
                                       20, 35, 8, 0.0)
                         for _ in range(3)]
                world = {f"z{j}": [[float(x), float(-y)] for x, y in z]
                         for j, z in enumerate(zones)}

                def fn(world=world):
                    polys = local_df(run.spark, list(world.items()),
                                     "polygon_id string, xy array<array<double>>")
                    rows = raster.zonal_stats_table(df, g, polys, auto_decode=False).collect()
                    return {row["polygon_id"]: (int(row["n_px"]), float(row["mean_val"]),
                                                float(row["min_val"]), float(row["max_val"]))
                            for row in rows}

                def expect(world=world):
                    f = fp()
                    got = ref.zonal(lambda j: self._pixels(run, j), f["px_col0"],
                                    f["px_row0"], f["w"], f["h"],
                                    {k: [v] for k, v in world.items()})
                    return {k: (n_, s / n_, lo, hi) for k, (n_, s, lo, hi) in got.items()}

                ops.append(Op("raster.zonal_stats_table", n, fn, expect, _same_zonal))
                continue
            module = "raster" if kind == "read_window" else "select"
            ops.append(Op(f"{module}.{kind}", n, fn, expect))
        return ops

    def final_check(self, run) -> int:
        return 0

    def extra_metrics(self, run) -> dict:
        return {}


def _same_zonal(got, want) -> bool:
    if got is None or want is None or set(got) != set(want):
        return False
    for k, (n, mean, lo, hi) in want.items():
        gn, gmean, glo, ghi = got[k]
        if gn != n or glo != lo or ghi != hi or not math.isclose(gmean, mean, rel_tol=1e-9):
            return False
    return True


# ---- tile_write -----------------------------------------------------------


class TileWrite:
    """Burn-in of seeded image batches into a checkpointed tile sink, plus
    incremental merge / delete / compact / expire on a versioned table
    partitioned by a skewed key (80% of rows in one tile)."""

    SIZES = {
        "full": {"batch": 1_500, "batches": 4},
        "tiny": {"batch": 300, "batches": 3},
    }

    def make_inputs(self, d: str, seed: int, size: dict) -> None:
        imgs = _images(size["batch"] * size["batches"], seed, hotspot=True, fmts=("raw", "png"))
        k = _ids(imgs)
        imgs = imgs.select(["image_id", "bytes", "w", "h", "fmt", "px_col0", "px_row0"])
        _write_parts(imgs.append_column("k", pa.array(k)).append_column(
            "batch", pa.array(k // size["batch"])), os.path.join(d, "images"))

    def setup(self, run) -> None:
        import shutil

        from pyspark.sql import functions as F

        from veranda_spark.io.table import create_table
        from veranda_spark.operators.select import with_tile_id

        imgs = run.spark.read.parquet(os.path.join(run.data_dir, "images"))
        # the partition key: the tile of the footprint, 80% of rows in one
        self.imgs = with_tile_id(imgs, _grid()).select(
            *imgs.columns, F.col("tile_id").alias("p"))
        self.table = os.path.join(run.work_dir, "table")
        self.sink = os.path.join(run.work_dir, "sink")
        for p in (self.table, self.sink):
            shutil.rmtree(p, ignore_errors=True)
        self.cols = ["k", "p", "rev", "image_id", "fmt", "w", "h", "px_col0", "px_row0", "bytes"]
        self.size = run.size
        with run.span("table.create_table", rows=run.size["batch"]):
            # an initial load of small files: compaction has work to do
            base = self.imgs.filter(F.col("batch") == 0).withColumn("rev", F.lit(0))
            create_table(base.select(*self.cols).repartition(2 * run.cores),
                         self.table, partition_by="p")
        self.grid = _grid()
        self.rounds: list[tuple[int, list[int], list[int]]] = []
        self.table_fs = FileLedger(self.table)
        self.sink_fs = FileLedger(self.sink)
        self._fp = None

    def _foot(self, run):
        if self._fp is None:
            t = pq.read_table(os.path.join(run.data_dir, "images"),
                              columns=["k", "batch", "px_col0", "px_row0", "w", "h"])
            self._fp = {c: t.column(c).to_numpy().astype(np.int64) for c in t.column_names}
        return self._fp

    def round_ops(self, run, r: int) -> list[Op]:
        from pyspark.sql import functions as F

        from veranda_spark.io import lineage, table
        from veranda_spark.operators import raster
        from veranda_spark.session import local_df

        spark, size = run.spark, self.size
        b = 1 + r % (size["batches"] - 1)
        rng = np.random.default_rng([run.seed, 3, r])
        base_keys = np.arange(size["batch"])
        upd_keys = sorted(int(k) for k in rng.choice(base_keys, size["batch"] // 10, replace=False))
        batch_keys = np.arange(b * size["batch"], (b + 1) * size["batch"])
        del_keys = sorted(int(k) for k in rng.choice(batch_keys, size["batch"] // 10, replace=False))
        self.rounds.append((b, upd_keys, del_keys))
        state = {}
        run_id = f"round{r:04d}"

        def burn():
            batch = self.imgs.filter(F.col("batch") == b)
            tiles = raster.burn_in(batch, self.grid, per_layer=False).cache()
            state["tiles"] = tiles
            row = tiles.agg(F.count("*"), F.sum("n_images")).first()
            return (int(row[0]), int(row[1]))

        def expect_burn():
            f = self._foot(run)
            m = f["batch"] == b
            cover = ref.tile_cover(f["px_col0"][m], f["px_row0"][m], f["w"][m], f["h"][m])
            return (len(cover), sum(cover.values()))

        def write():
            tiles = state.pop("tiles")
            try:
                res = lineage.write_tiles_checkpointed(tiles, self.sink, run_id=run_id, scope="run")
            finally:
                tiles.unpersist()
            return res["written"]

        def merge():
            upd = self.imgs.filter(
                (F.col("batch") == b) | F.col("k").isin(upd_keys)
            ).withColumn("rev", F.lit(r + 1))
            return table.merge_into(spark, self.table, upd.select(*self.cols),
                                    keys=["k"], partition_by="p")["version"]

        def delete():
            keys = local_df(spark, [(k,) for k in del_keys], "k long")
            return table.delete_rows(spark, self.table, keys, keys=["k"],
                                     partition_by="p")["version"]

        def compact():
            table.compact_table(spark, self.table, partition_by="p")
            return table.current_version(self.table) is not None

        def expire():
            table.expire_versions(self.table, keep=2)
            return len(table.list_versions(self.table))

        nb = size["batch"]
        return [
            Op("raster.burn_in", nb, burn, expect_burn),
            Op("lineage.write_tiles_checkpointed", nb, write, lambda: expect_burn()[0],
               after=self.sink_fs.written),
            Op("table.merge_into", nb, merge, after=self.table_fs.written),
            Op("table.delete_rows", nb, delete, after=self.table_fs.written),
            Op("table.compact_table", nb, compact, lambda: True, after=self.table_fs.written),
            Op("table.expire_versions", nb, expire, lambda: 2),
        ]

    def final_check(self, run) -> int:
        """Table key set, revisions and row count, and the sink's tiles
        per round, against a replay of the rounds run."""
        from pyspark.sql import functions as F

        from veranda_spark.io.lineage import read_tiles
        from veranda_spark.io.table import read_table

        nb = self.size["batch"]
        want = {k: 0 for k in range(nb)}
        for r, (b, upd, dels) in enumerate(self.rounds):
            for k in range(b * nb, (b + 1) * nb):
                want[k] = r + 1
            for k in upd:
                want[k] = r + 1
            for k in dels:
                want.pop(k, None)
        rows = read_table(run.spark, self.table).select("k", "rev").collect()
        got = {int(k): int(v) for k, v in rows}
        failed = 0
        if len(rows) != len(got) or got != want:
            failed += 2 * len(self.rounds)  # every merge and delete is suspect
        f = self._foot(run)
        tiles = read_tiles(run.spark, self.sink, mode="all").groupBy("run_id").agg(
            F.count("*"), F.sum("n_images")).collect()
        got_t = {rid: (int(c), int(s)) for rid, c, s in tiles}
        for r, (b, _, _) in enumerate(self.rounds):
            m = f["batch"] == b
            cover = ref.tile_cover(f["px_col0"][m], f["px_row0"][m], f["w"][m], f["h"][m])
            if got_t.get(f"round{r:04d}") != (len(cover), sum(cover.values())):
                failed += 1
        return failed

    def extra_metrics(self, run) -> dict:
        """Write and space amplification of the versioned table: bytes
        written under it in the timed phase, and bytes on disk now, each
        over the live bytes of the final committed version."""
        from veranda_spark.io.table import read_table

        live = sum(os.path.getsize(p.removeprefix("file:"))
                   for p in set(read_table(run.spark, self.table).inputFiles()))
        return {
            "table.write_amp": self.table_fs.total / live,
            "table.space_amp": self.table_fs.disk_bytes() / live,
        }


class FileLedger:
    """Tracks files under a directory by inode: bytes newly written since
    the last look, and bytes on disk now (hard links counted once)."""

    def __init__(self, root: str):
        self.root = root
        self.seen = set(self._scan())
        self.total = 0

    def _scan(self) -> dict[int, int]:
        out = {}
        for dirpath, _, files in os.walk(self.root):
            for name in files:
                try:
                    st = os.stat(os.path.join(dirpath, name))
                except FileNotFoundError:
                    continue
                out[st.st_ino] = st.st_size
        return out

    def written(self) -> dict:
        """Files and bytes that appeared since the last call."""
        now = self._scan()
        fresh = [ino for ino in now if ino not in self.seen]
        self.seen.update(fresh)
        nbytes = sum(now[i] for i in fresh)
        self.total += nbytes
        return {"files": len(fresh), "bytes": nbytes}

    def disk_bytes(self) -> int:
        return sum(self._scan().values())


class TileIO:
    """The raster layer as producer and as datacube: each round ingests one
    batch (``TileWrite``), then issues the seeded reads (``TileRead``)."""

    name = "tile_io"
    scaling = False
    SIZES = {size: {**TileWrite.SIZES[size], **TileRead.SIZES[size]}
             for size in ("full", "tiny")}

    def __init__(self):
        self.write, self.read = TileWrite(), TileRead()

    def make_inputs(self, d: str, seed: int, size: dict) -> None:
        for part in ("write", "read"):
            os.makedirs(os.path.join(d, part))
            getattr(self, part).make_inputs(os.path.join(d, part), seed, size)

    def setup(self, run) -> None:
        self.write.setup(_Sub(run, "write"))
        self.read.setup(_Sub(run, "read"))

    def round_ops(self, run, r: int) -> list[Op]:
        return (self.write.round_ops(_Sub(run, "write"), r)
                + self.read.round_ops(_Sub(run, "read"), r))

    def final_check(self, run) -> int:
        return self.write.final_check(_Sub(run, "write"))

    def extra_metrics(self, run) -> dict:
        return self.write.extra_metrics(_Sub(run, "write"))


class _Sub:
    """A run seen through one part's input and work sub-directories."""

    def __init__(self, run, part: str):
        self._run = run
        self.data_dir = os.path.join(run.data_dir, part)
        self.work_dir = os.path.join(run.work_dir, part)

    def __getattr__(self, name):
        return getattr(self._run, name)


WORKLOADS = {w.name: w for w in (SpatialJoin, TileIO)}
