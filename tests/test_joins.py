"""Join operators vs brute-force goldens (FIXTURES.md F4: PIP and kNN have
no reference analog — self-consistency against small-N brute force)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from veranda_spark.functions.geometry import points_in_polygon, points_in_rings
from veranda_spark.grid import RegularGrid
from veranda_spark.operators.joins import (
    cell_histogram,
    derive_salt_map,
    knn_join,
    pip_join,
    pip_join_table,
    point_in_tile_join,
    salted_broadcast_join,
)

N = 3000


@pytest.fixture(scope="module")
def points(spark):
    # deterministic integer points in a 1024x1024 world (y negative = south)
    df = spark.range(N).select(
        F.col("id").alias("point_id"),
        ((F.col("id") * 7919) % 1024).alias("px"),
        (-((F.col("id") * 104729) % 1024)).alias("py"),
    )
    return df.cache()


def _points_np():
    ids = np.arange(N)
    return ids, (ids * 7919) % 1024, -((ids * 104729) % 1024)


TRIANGLE = [(100.5, -100.5), (900.5, -150.5), (500.5, -900.5)]
SQUARE = [(0.5, -0.5), (200.5, -0.5), (200.5, -200.5), (0.5, -200.5)]


def test_pip_join_matches_bruteforce(spark, points):
    got = pip_join(points, {"tri": TRIANGLE, "sq": SQUARE}).collect()
    ids, xs, ys = _points_np()
    want = set()
    for pid, poly in [("tri", TRIANGLE), ("sq", SQUARE)]:
        inside = points_in_polygon(xs.astype(float), ys.astype(float), np.array(poly))
        want |= {(pid, int(i)) for i in ids[inside]}
    assert {(r["polygon_id"], r["point_id"]) for r in got} == want
    assert len(want) > 50


def test_pip_join_empty_polygon_dict(spark, points):
    # an empty dict is a zero-row local relation the optimizer may prune:
    # inner gives nothing, left keeps every point with a null polygon_id
    assert pip_join(points, {}).count() == 0
    left = pip_join(points, {}, how="left").collect()
    assert len(left) == N
    assert all(r["polygon_id"] is None for r in left)
    assert sorted(r["point_id"] for r in left) == list(range(N))


@pytest.mark.parametrize("via", ["dict", "table"])
def test_pip_join_classified_cover_edge_and_concave(spark, via):
    # The cell cover is classified (outside-dropped / full-skip /
    # boundary ray-cast), and the dict (pip_join) and DataFrame
    # (pip_join_table) inputs share it.  This pins the classification
    # against brute force for (a) points EXACTLY on polygon edges — they
    # live in boundary cells, so the half-open ray-cast convention must
    # be preserved bit-for-bit, (b) a CONCAVE polygon whose bbox contains
    # cells fully outside the polygon (the dropped-cell and full-cell
    # classes both appear), (c) interior points in full cells (skip
    # path) and, for the table input, (d) a ring list whose hole
    # strictly contains whole 32-px cells plus a disjoint second part:
    # cells inside the hole must come out outside, not full.
    concave = [(10.0, -10.0), (700.0, -10.0), (700.0, -700.0),
               (360.0, -360.0), (10.0, -700.0)]  # notch up the middle
    square = [(64.0, -64.0), (512.0, -64.0), (512.0, -512.0),
              (64.0, -512.0)]  # integer-vertex: real on-edge points exist
    polys = {"cv": [concave], "sq": [square]}
    outer = [(560.0, -560.0), (1000.0, -560.0), (1000.0, -1000.0), (560.0, -1000.0)]
    hole = [(630.0, -630.0), (930.0, -630.0), (930.0, -930.0), (630.0, -930.0)]
    part = [(100.0, -760.0), (400.0, -760.0), (250.0, -1000.0)]
    ids = np.arange(N)
    xs, ys = (ids * 7919) % 1024, -((ids * 104729) % 1024)
    df = spark.createDataFrame(
        [(int(i), int(x), int(y)) for i, x, y in zip(ids, xs, ys)],
        "point_id long, px long, py long",
    )
    if via == "dict":
        got = pip_join(df, {k: v[0] for k, v in polys.items()}, res=5)
    else:
        polys["mp"] = [outer, hole, part]
        frame = spark.createDataFrame(
            [(k, [[list(p) for p in ring] for ring in rings]) for k, rings in polys.items()],
            "polygon_id string, xy array<array<array<double>>>",
        )
        got = pip_join_table(df, frame, res=5)
    want = set()
    for pid, rings in polys.items():
        inside = points_in_rings(xs.astype(float), ys.astype(float), rings)
        want |= {(pid, int(i)) for i in ids[inside]}
    on_edge = (
        ((xs == 64) | (xs == 512)) & (ys <= -64) & (ys >= -512)
    ) | (((ys == -64) | (ys == -512)) & (xs >= 64) & (xs <= 512))
    in_hole = (xs > 630) & (xs < 930) & (ys < -630) & (ys > -930)
    assert {(r["polygon_id"], r["point_id"]) for r in got.collect()} == want
    # edge cases actually present
    assert len(want) > 100 and on_edge.sum() > 0 and in_hole.sum() > 50
    if via == "table":
        assert sum(p == "mp" for p, _ in want) > 50


def _knn_brute(ids, xs, ys, qpts, k):
    """Exact (query_id, point_id, dist_sq, knn_rank) rows, ORDER BY
    dist_sq, point_id per query."""
    rows = []
    for qid, qx, qy in qpts:
        d2 = (xs - qx) ** 2 + (ys - qy) ** 2
        rows += [(qid, int(ids[j]), int(d2[j]), rank)
                 for rank, j in enumerate(np.lexsort((ids, d2))[:k], 1)]
    return sorted(rows)


def _knn_rows(df):
    return sorted((r["query_id"], r["point_id"], r["dist_sq"], r["knn_rank"])
                  for r in df.collect())


@pytest.mark.parametrize("k", [1, 5, 20, 3500])
def test_knn_matches_bruteforce(spark, points, k):
    rng = np.random.default_rng(42)
    qpts = [(int(i), int(x), -int(y)) for i, (x, y) in enumerate(rng.integers(0, 1024, (25, 2)))]
    queries = spark.createDataFrame(qpts, schema="query_id long, qx long, qy long")
    # one pass: the query collect, then the top-k map + its one merge
    points.count()  # materialize the cached fixture outside the count
    sc = spark.sparkContext
    sc.setJobGroup(f"knn_k{k}", "knn_join one pass")
    got = _knn_rows(knn_join(points, queries, k=k, res=5))
    sc.setJobGroup("knn_done", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(f"knn_k{k}"))
    assert n_jobs <= 3, n_jobs
    assert got == _knn_brute(*_points_np(), qpts, k)


def test_knn_heavy_ties_across_batches(spark):
    # ~2000 points with shuffled ids on a 10x10 lattice: every distance is
    # tied ~20 ways, and the ties straddle 4 partitions and many Arrow
    # batches, so the per-batch top-k (cut inside a tie group at k=5) and
    # the merge (at k=37) must break ties on point id as the brute force does
    n = 2000
    ids = np.random.default_rng(3).permutation(n) * 5 + 11
    pos = np.arange(n) % 100
    xs, ys = 16 * (pos % 10) - 80, 16 * (pos // 10) - 40
    points = spark.createDataFrame(
        [(int(i), int(x), int(y)) for i, x, y in zip(ids, xs, ys)],
        "point_id long, px long, py long",
    ).repartition(4)
    qpts = [(0, -8, 32), (1, -80, -40), (2, 100_000, -250_000)]  # centre, corner, far outside
    queries = spark.createDataFrame(qpts, "query_id long, qx long, qy long")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "128")
    try:
        for k in (5, 37):
            got = _knn_rows(knn_join(points, queries, k=k, res=5))
            assert got == _knn_brute(ids, xs, ys, qpts, k), k
        assert knn_join(points, queries.limit(0), k=37, res=5).collect() == []
        with pytest.raises(ValueError, match="k must be >= 1"):
            knn_join(points, queries, k=0)
    finally:
        spark.conf.set(conf, old)


def test_knn_ring_guard_is_the_covered_radius(spark):
    # 32-px cells, query in cell (0,0): A sits in the radius-1 ring's
    # corner cell at d2=4050 (inside (2*32)^2), B just outside that ring
    # at d2=2500.  Only a guard of (r*32)^2 keeps searching and finds B.
    points = spark.createDataFrame([(1, 61, 61), (2, 66, 16)], "point_id long, px long, py long")
    queries = spark.createDataFrame([(0, 16, 16)], "query_id long, qx long, qy long")
    got = [tuple(r) for r in knn_join(points.coalesce(1), queries, k=1, res=5).collect()]
    assert got == [(0, 2, 2500, 1)]


def test_point_in_tile_join(spark, points):
    grid = RegularGrid(tile_cols=128, tile_rows=128, n_tile_cols=8, n_tile_rows=8)
    tiles = grid.tiles_df(spark)
    got = point_in_tile_join(points, tiles, grid).select("point_id", "tile_id").collect()
    assert len(got) == N  # every point lands in exactly one tile
    ids, xs, ys = _points_np()
    lookup = {int(i): f"{int(-y) // 128}_{int(x) // 128}" for i, x, y in zip(ids, xs, ys)}
    for r in got:
        assert r["tile_id"] == lookup[r["point_id"]]


def test_salted_join_equals_plain_join(spark, points):
    # hotspot: all points share few cells → salted join must not change results
    small = spark.createDataFrame(
        [(int(c), f"meta_{c}") for c in range(8)], schema="key long, meta string"
    )
    big = points.withColumn("key", F.col("point_id") % 8)
    plain = big.join(small, "key").select("point_id", "meta")
    salted = salted_broadcast_join(big, small, "key", salt_map={0: 4, 1: 8})
    got = salted.select("point_id", "meta").collect()
    assert sorted((r["point_id"], r["meta"]) for r in got) == sorted(
        (r["point_id"], r["meta"]) for r in plain.collect()
    )


def test_cell_histogram_and_salt_map(spark, points):
    hist = cell_histogram(points.withColumn("py", -F.col("py")), "px", "py", res=8)
    total = hist.agg(F.sum("count")).collect()[0][0]
    assert total == N
    salt = derive_salt_map(hist, target_rows_per_part=100)
    assert salt and all(v >= 2 for v in salt.values())


def test_point_in_tile_join_planetary_flip(spark, points):
    # VERDICT r4 #7: above the broadcast threshold the tile dim must NOT
    # be broadcast — the equi-join on the computed key shuffles instead
    from veranda_spark.grid import RegularGrid
    from veranda_spark.operators.joins import point_in_tile_join

    from pyspark.sql import functions as F

    small = RegularGrid(tile_cols=256, tile_rows=256,
                        n_tile_cols=16, n_tile_rows=8)
    big = RegularGrid(tile_cols=256, tile_rows=256,
                      n_tile_cols=2000, n_tile_rows=2000)  # 4M tiles
    # a big points side too, so Catalyst cannot sidestep by broadcasting
    # the probe side (which would be the RIGHT call for tiny points)
    big_points = spark.range(20_000_000).select(
        F.col("id").alias("point_id"),
        (F.col("id") * 7919 % (2000 * 256)).alias("px"),
        (F.col("id") * 104729 % (2000 * 256)).alias("py"),
    )

    plan_small = point_in_tile_join(
        points, small.tiles_df(spark), small
    )._jdf.queryExecution().executedPlan().toString()
    # dim-sized grid: the tile dim IS hint-broadcast (hash relation)
    assert "HashedRelationBroadcastMode" in plan_small

    plan_big = point_in_tile_join(
        big_points, big.tiles_df(spark), big
    )._jdf.queryExecution().executedPlan().toString()
    # planetary grid: NO hash-broadcast anywhere — the tile dim shuffles
    # (the only BroadcastExchange allowed is tiles_df's internal
    # IdentityBroadcastMode range cross-join that CONSTRUCTS the dim)
    assert "HashedRelationBroadcastMode" not in plan_big, plan_big
    assert ("SortMergeJoin" in plan_big) or ("ShuffledHashJoin" in plan_big)

    # explicit tile_count overrides the static bound: the broadcast HINT
    # disappears from the logical plan (Catalyst may still auto-broadcast
    # a dim its own stats prove tiny — that is the right call, so assert
    # at the hint level, not the physical level)
    forced = point_in_tile_join(
        big_points, small.tiles_df(spark), small, tile_count=10_000_000
    )._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in forced
    hinted = point_in_tile_join(
        big_points, small.tiles_df(spark), small
    )._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in hinted

    # and the flipped join still computes the same assignments
    got = {
        (r["point_id"], r["tile_id"])
        for r in point_in_tile_join(
            points, small.tiles_df(spark), small, broadcast_threshold=1
        ).select("point_id", "tile_id").collect()
    }
    want = {
        (r["point_id"], r["tile_id"])
        for r in point_in_tile_join(
            points, small.tiles_df(spark), small
        ).select("point_id", "tile_id").collect()
    }
    assert got == want and len(got) > 0
