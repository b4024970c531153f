"""Independent numpy references for the benchmark's correctness checks.

Nothing here calls the engine: every expected value is recomputed from
the generated input rows by brute force.  Geometry is generated on a
lattice that keeps every tested point strictly off every polygon edge
(see ``star_ring``), so any correct even-odd point-in-polygon test agrees
with these references exactly.
"""

from __future__ import annotations

import zlib

import numpy as np

TILE = 256  # tile edge of the benchmark grid, in pixels
N_TILE_ROWS, N_TILE_COLS = 8, 16


def star_ring(rng, cx: float, cy: float, r_lo: float, r_hi: float,
              n: int, off: float) -> np.ndarray:
    """A seeded star-shaped ring of ``n`` (even) vertices around (cx, cy).

    Vertex x coordinates alternate parity and y coordinates are even, so
    every edge has an odd x step and an even y step.  Such an edge never
    passes through a point whose coordinates both differ from the
    vertices' by a half-integer: with ``off`` 0.5 no integer point lies on
    a boundary, with ``off`` 0 no pixel centre does, and the even-odd
    answer is exact."""
    if n % 2:
        raise ValueError("star_ring needs an even vertex count")
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, n))
    rad = rng.uniform(r_lo, r_hi, n)
    x = np.round(cx + rad * np.cos(ang)).astype(np.int64)
    y = np.round(cy + rad * np.sin(ang)).astype(np.int64)
    x += (x - np.arange(n)) % 2
    y -= y % 2
    return np.stack([x + off, y + off], axis=1).astype("float64")


def in_rings(px, py, rings) -> np.ndarray:
    """Even-odd point-in-polygon over a list of rings (holes toggle)."""
    px = np.asarray(px, dtype="float64")
    py = np.asarray(py, dtype="float64")
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        ring = np.asarray(ring, dtype="float64")
        xa, ya = ring[:, 0], ring[:, 1]
        xb, yb = np.roll(xa, -1), np.roll(ya, -1)
        for i in range(len(ring)):
            crosses = (ya[i] > py) != (yb[i] > py)
            if crosses.any():
                x_at = xa[i] + (py - ya[i]) * (xb[i] - xa[i]) / (yb[i] - ya[i])
                inside ^= crosses & (px < x_at)
    return inside


def rings_bbox(rings) -> tuple[float, float, float, float]:
    allv = np.concatenate([np.asarray(r, dtype="float64") for r in rings])
    return allv[:, 0].min(), allv[:, 1].min(), allv[:, 0].max(), allv[:, 1].max()


def pip_counts(px, py, ids, rings_by_id) -> dict:
    """{polygon id: (hits, sum of hit point ids)} for every polygon with a hit."""
    out = {}
    for pid, rings in rings_by_id.items():
        x0, y0, x1, y1 = rings_bbox(rings)
        cand = np.flatnonzero((px >= x0) & (px <= x1) & (py >= y0) & (py <= y1))
        hit = cand[in_rings(px[cand], py[cand], rings)]
        if hit.size:
            out[pid] = (int(hit.size), int(ids[hit].sum()))
    return out


def knn(px, py, ids, qx, qy, qids, k: int) -> dict:
    """{(query id, rank): (point id, squared distance)}, ties by point id."""
    out = {}
    for q, x, y in zip(qids, qx, qy):
        d2 = (px - x) ** 2 + (py - y) ** 2
        order = np.lexsort((ids, d2))[:k]
        for rank, j in enumerate(order, start=1):
            out[(int(q), rank)] = (int(ids[j]), int(d2[j]))
    return out


def tile_checksum(px, py, ids) -> tuple[int, int, int, int]:
    """Point -> tile assignment by footprint arithmetic, as an aggregate:
    (rows, sum id, sum tile index, sum (id % 997) * tile index)."""
    row, col = py // TILE, px // TILE
    ok = (px >= 0) & (py >= 0) & (row < N_TILE_ROWS) & (col < N_TILE_COLS)
    t = (row * N_TILE_COLS + col)[ok]
    i = ids[ok]
    return int(ok.sum()), int(i.sum()), int(t.sum()), int(((i % 997) * t).sum())


def cell_join_checksum(px, py, ids, cells_ix, cells_iy, cell_px: int):
    """Equi-join of points to a set of (ix, iy) cells, as an aggregate:
    (rows, sum id, sum (id % 991) * (iy * 64 + ix))."""
    present = np.zeros((int(cells_iy.max()) + 2, int(cells_ix.max()) + 2), dtype=bool)
    present[cells_iy, cells_ix] = True
    ix, iy = px // cell_px, py // cell_px
    ok = (ix >= 0) & (iy >= 0) & (ix < present.shape[1]) & (iy < present.shape[0])
    ok[ok] = present[iy[ok], ix[ok]]
    key = (iy * 64 + ix)[ok]
    i = ids[ok]
    return int(ok.sum()), int(i.sum()), int(((i % 991) * key).sum())


def window_hits(col0, row0, w, h, c0: int, r0: int, ww: int, wh: int) -> np.ndarray:
    """Indexes of footprints overlapping the half-open pixel window."""
    return np.flatnonzero(
        (col0 < c0 + ww) & (col0 + w > c0) & (row0 < r0 + wh) & (row0 + h > r0)
    )


def id_checksum(ids) -> tuple[int, int, int]:
    ids = np.asarray(ids, dtype=np.int64)
    return int(ids.size), int(ids.sum()), int(((ids % 10007) * (ids % 101)).sum())


def _segment_hits_boxes(ax, ay, bx, by, x0, y0, x1, y1) -> np.ndarray:
    """Liang-Barsky: does segment a->b meet each box [x0,x1] x [y0,y1]?"""
    dx, dy = bx - ax, by - ay
    t0 = np.zeros(x0.shape)
    t1 = np.ones(x0.shape)
    ok = np.ones(x0.shape, dtype=bool)
    for p, q in ((-dx, ax - x0), (dx, x1 - ax), (-dy, ay - y0), (dy, y1 - ay)):
        if p == 0:
            ok &= q >= 0
            continue
        r = q / p
        if p < 0:
            t0 = np.maximum(t0, r)
        else:
            t1 = np.minimum(t1, r)
    return ok & (t0 <= t1)


def boxes_meet_ring(x0, y0, x1, y1, ring) -> np.ndarray:
    """Which axis-aligned boxes intersect the region of a ring."""
    ring = np.asarray(ring, dtype="float64")
    hit = np.zeros(x0.shape, dtype=bool)
    for cx, cy in ((x0, y0), (x0, y1), (x1, y0), (x1, y1)):
        hit |= in_rings(cx, cy, [ring])
    for vx, vy in ring:
        hit |= (x0 <= vx) & (vx <= x1) & (y0 <= vy) & (vy <= y1)
    n = len(ring)
    for i in range(n):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % n]
        hit |= _segment_hits_boxes(ax, ay, bx, by, x0, y0, x1, y1)
    return hit


def canvas_crc(make_array, order_ids, col0, row0, w, h,
               c0: int, r0: int, ww: int, wh: int, nodata: int = 0):
    """CRC32 of the stitched window, painted last-writer-wins in id order;
    None when no footprint overlaps the window."""
    idx = window_hits(col0, row0, w, h, c0, r0, ww, wh)
    if not idx.size:
        return None
    canvas = np.full((wh, ww), nodata, dtype=np.uint8)
    for j in idx[np.argsort(order_ids[idx], kind="stable")]:
        arr = make_array(j)
        rs, cs = int(row0[j]), int(col0[j])
        a0, a1 = max(rs, r0), min(rs + int(h[j]), r0 + wh)
        b0, b1 = max(cs, c0), min(cs + int(w[j]), c0 + ww)
        canvas[a0 - r0:a1 - r0, b0 - c0:b1 - c0] = arr[a0 - rs:a1 - rs, b0 - cs:b1 - cs]
    return zlib.crc32(canvas.tobytes())


def zonal(make_array, col0, row0, w, h, rings_by_id) -> dict:
    """{polygon id: (n_px, sum, min, max)} over pixel centres inside the
    polygon (world frame of a unit north-up grid: x = col, y = -row)."""
    out = {}
    for pid, rings in rings_by_id.items():
        x_lo, y_lo, x_hi, y_hi = rings_bbox(rings)
        cand = np.flatnonzero(
            (col0 < x_hi) & (col0 + w > x_lo) & (-row0 > y_lo) & (-(row0 + h) < y_hi)
        )
        n, s, lo, hi = 0, 0.0, np.inf, -np.inf
        for j in cand:
            hh, ww = int(h[j]), int(w[j])
            gx, gy = np.meshgrid(col0[j] + np.arange(ww) + 0.5,
                                 -(row0[j] + np.arange(hh) + 0.5))
            m = in_rings(gx.ravel(), gy.ravel(), rings)
            if m.any():
                v = make_array(j).ravel()[m].astype("float64")
                n += v.size
                s += v.sum()
                lo, hi = min(lo, v.min()), max(hi, v.max())
        if n:
            out[pid] = (n, s, lo, hi)
    return out


def tile_cover(col0, row0, w, h) -> dict:
    """{tile id: images covering it} by footprint arithmetic."""
    out: dict[str, int] = {}
    for c, r, ww, hh in zip(col0, row0, w, h):
        for tr in range(int(r) // TILE, (int(r) + int(hh) - 1) // TILE + 1):
            for tc in range(int(c) // TILE, (int(c) + int(ww) - 1) // TILE + 1):
                if tr < N_TILE_ROWS and tc < N_TILE_COLS:
                    key = f"{tr}_{tc}"
                    out[key] = out.get(key, 0) + 1
    return out


def hamming_pairs(phash, sample, max_hamming: int) -> dict:
    """{(a, b): hamming} for every pair a < b within ``max_hamming`` bits
    that has at least one member in ``sample`` (brute force)."""
    h = np.asarray(phash).view(np.uint64)
    out = {}
    for s in sample:
        x = h ^ h[s]
        bits = np.zeros(x.shape, dtype=np.int64)
        for shift in range(0, 64, 8):
            bits += _POPCOUNT8[((x >> np.uint64(shift)) & np.uint64(0xFF)).astype(np.int64)]
        for j in np.flatnonzero(bits <= max_hamming):
            if j != s:
                out[(min(s, int(j)), max(s, int(j)))] = int(bits[j])
    return out


_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def min_labels(pairs) -> dict[int, int]:
    """Union-find over (a, b, ...) pairs: node -> smallest node of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
    return {x: find(x) for x in parent}
