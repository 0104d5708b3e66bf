"""Independent output checks for the benchmark workloads.

Nothing here imports the engine: point-in-polygon is a brute-force
even-odd ray cast, intersection areas come from Sutherland–Hodgman
clipping against the convex parcels, polygon areas from the shoelace
formula with even-odd ring nesting, and cell codes from geohash
bisection written out bit by bit.
"""
from __future__ import annotations

import numpy as np

# pair keys and their checksum, mirrored by the Spark-side aggregate in
# workloads.py: key = doc_index * PAIR_SHAPES + shape_id, and the
# checksum is (count, sum(key), sum((key * HASH_MUL) mod HASH_MOD))
PAIR_SHAPES = 1000
HASH_MUL = 1_000_003
HASH_MOD = 2_147_483_647


# ------------------------------------------------------------ point in shape

def points_in_ring(px, py, xs, ys) -> np.ndarray:
    """Even-odd ray cast: a horizontal ray to +x from each point, counting
    edge crossings with the half-open rule (y1 > py) != (y2 > py)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    n = len(xs)
    for k in range(n):
        x1, y1 = xs[k], ys[k]
        x2, y2 = xs[(k + 1) % n], ys[(k + 1) % n]
        if y1 == y2:
            continue
        straddle = (y1 > py) != (y2 > py)
        xcross = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= straddle & (px < xcross)
    return inside


def pip_pairs(doc_idx, px, py, shapes) -> np.ndarray:
    """Sorted pair keys of every (doc, shape) with the point inside the
    shape, by brute force over each shape's bbox candidates."""
    keys = []
    for s in shapes:
        minx, maxx, miny, maxy = s.bbox
        cand = np.nonzero((px >= minx) & (px <= maxx)
                          & (py >= miny) & (py <= maxy))[0]
        if s.kind != "rect":
            cand = cand[points_in_ring(px[cand], py[cand], s.xs, s.ys)]
        keys.append(doc_idx[cand].astype(np.int64) * PAIR_SHAPES + s.sid)
    return np.sort(np.concatenate(keys)) if keys else np.zeros(0, np.int64)


def pair_checksum(keys) -> tuple:
    keys = np.asarray(keys, dtype=np.int64)
    return (int(len(keys)), int(keys.sum()),
            int(((keys * HASH_MUL) % HASH_MOD).sum()))


# ------------------------------------------------------------------- areas

def ring_area(xs, ys) -> float:
    """Unsigned shoelace area of one ring (open or closed)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    return abs(float(np.dot(xs, np.roll(ys, -1)) - np.dot(ys, np.roll(xs, -1)))) / 2.0


def split_rings(xs, ys, ring_offsets):
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if ring_offsets is None or len(ring_offsets) < 2:
        return [(xs, ys)]
    return [(xs[a:b], ys[a:b])
            for a, b in zip(ring_offsets[:-1], ring_offsets[1:])]


def evenodd_area(xs, ys, ring_offsets) -> float:
    """Area of a multi-ring polygon under the even-odd rule: a ring
    nested inside an odd number of the other rings is a hole."""
    rings = split_rings(xs, ys, ring_offsets)
    total = 0.0
    for i, (rx, ry) in enumerate(rings):
        # probe: the midpoint of the ring's first edge
        qx = np.array([(rx[0] + rx[1]) / 2.0])
        qy = np.array([(ry[0] + ry[1]) / 2.0])
        depth = sum(int(points_in_ring(qx, qy, ox, oy)[0])
                    for j, (ox, oy) in enumerate(rings) if j != i)
        total += ring_area(rx, ry) * (-1.0 if depth % 2 else 1.0)
    return total


def sutherland_hodgman(sx, sy, cx, cy):
    """Clip the subject ring by a convex CCW clip ring. The subject may be
    concave: the output can carry zero-width bridges, whose shoelace
    contribution is zero, so its area is the exact intersection area."""
    out = list(zip(np.asarray(sx, float).tolist(), np.asarray(sy, float).tolist()))
    n = len(cx)
    for k in range(n):
        ax, ay = cx[k], cy[k]
        bx, by = cx[(k + 1) % n], cy[(k + 1) % n]
        if not out:
            break

        def side(p):
            return (bx - ax) * (p[1] - ay) - (by - ay) * (p[0] - ax)

        def cut(p, q):
            sp, sq = side(p), side(q)
            t = sp / (sp - sq)
            return (p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1]))

        inp, out = out, []
        prev = inp[-1]
        for cur in inp:
            if side(cur) >= 0:
                if side(prev) < 0:
                    out.append(cut(prev, cur))
                out.append(cur)
            elif side(prev) >= 0:
                out.append(cut(prev, cur))
            prev = cur
    if len(out) < 3:
        return np.zeros(0), np.zeros(0)
    arr = np.asarray(out)
    return arr[:, 0], arr[:, 1]


def clip_area(sx, sy, cx, cy) -> float:
    xs, ys = sutherland_hodgman(sx, sy, cx, cy)
    return ring_area(xs, ys) if len(xs) else 0.0


def close(a: float, b: float, rel: float = 1e-7, abs_: float = 1e-9) -> bool:
    return abs(a - b) <= max(abs_, rel * max(abs(a), abs(b)))


# --------------------------------------------------------------- cell codes

def cell_code(lon, lat, precision: int) -> np.ndarray:
    """Geohash cell as an int64 code: ``5 * precision`` bits from the MSB,
    alternating lon and lat starting with lon; a bit is 1 when the
    coordinate is strictly above the running interval's midpoint."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lo = [np.full(lon.shape, -180.0), np.full(lat.shape, -90.0)]
    hi = [np.full(lon.shape, 180.0), np.full(lat.shape, 90.0)]
    coord = [lon, lat]
    code = np.zeros(lon.shape, dtype=np.int64)
    for b in range(5 * precision):
        a = b % 2
        mid = (lo[a] + hi[a]) / 2.0
        up = coord[a] > mid
        code = (code << 1) | up.astype(np.int64)
        lo[a] = np.where(up, mid, lo[a])
        hi[a] = np.where(up, hi[a], mid)
    return code
