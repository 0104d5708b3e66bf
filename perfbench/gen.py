"""Seeded benchmark inputs, built with NumPy and pyarrow only.

Every generator is a pure function of (seed, size): the same seed gives
the same coordinates, the same WKT text and the same parquet rows. The
engine only ever sees the materialized parquet tables and WKT strings;
the checkers in ``check.py`` work from the NumPy arrays returned here.
"""
from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator changes, so cached inputs are rebuilt
INPUT_VERSION = 4

SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int32())])

# the region every workload draws from: away from the dateline and the
# poles, so planar and geodetic containment agree
REGION = (-40.0, 40.0, -25.0, 25.0)


def fmt(v: float) -> str:
    """Shortest round-trip decimal: Java's parseDouble and Python's
    float() read back the exact same double."""
    return repr(float(v))


def ring_wkt(xs, ys) -> str:
    pts = ", ".join(f"{fmt(x)} {fmt(y)}" for x, y in zip(xs, ys))
    return f"POLYGON(({pts}, {fmt(xs[0])} {fmt(ys[0])}))"


def envelope_wkt(minx, maxx, miny, maxy) -> str:
    return f"ENVELOPE({fmt(minx)}, {fmt(maxx)}, {fmt(maxy)}, {fmt(miny)})"


def star_ring(cx, cy, r_out, r_in, n_vertices, phase):
    """Open CCW star ring with alternating outer/inner radii (concave)."""
    t = phase + 2.0 * np.pi * np.arange(n_vertices) / n_vertices
    r = np.where(np.arange(n_vertices) % 2 == 0, r_out, r_in)
    return cx + r * np.cos(t), cy + r * np.sin(t)


def regular_ring(cx, cy, r, k, phase):
    """Open CCW regular k-gon (convex)."""
    t = phase + 2.0 * np.pi * np.arange(k) / k
    return cx + r * np.cos(t), cy + r * np.sin(t)


@dataclass
class Shape:
    sid: int
    kind: str                 # "rect" | "convex" | "star"
    xs: np.ndarray            # open ring, CCW (rect: its 4 corners)
    ys: np.ndarray
    wkt: str

    @property
    def bbox(self):
        return (self.xs.min(), self.xs.max(), self.ys.min(), self.ys.max())


def rect_shape(sid, minx, maxx, miny, maxy, wkt=None) -> Shape:
    xs = np.array([minx, maxx, maxx, minx])
    ys = np.array([miny, miny, maxy, maxy])
    return Shape(sid, "rect", xs, ys,
                 wkt or envelope_wkt(minx, maxx, miny, maxy))


def docs_table(doc_idx: np.ndarray, geo_wkt: list) -> pa.Table:
    """(doc_id, spans) rows: a prose span, the geo WKT span, a media span."""
    ids = doc_idx.tolist()
    n = len(ids)
    text = [None] * (3 * n)
    text[0::3] = [f"synthetic document {i} about tiles" for i in ids]
    text[1::3] = geo_wkt
    media = [None] * (3 * n)
    media[2::3] = [f"raster://tile/{i % 1024}" for i in ids]
    spans = pa.StructArray.from_arrays(
        [pa.array(["text", "text", "media"] * n, pa.string()),
         pa.array(text, pa.string()), pa.array(media, pa.string()),
         pa.array(np.tile(np.arange(3, dtype=np.int32), n))],
        fields=list(SPAN_TYPE))
    offsets = pa.array(np.arange(0, 3 * n + 1, 3, dtype=np.int32))
    return pa.table({
        "doc_id": pa.array([doc_id(i) for i in ids], pa.string()),
        "spans": pa.ListArray.from_arrays(offsets, spans),
    })


def doc_id(i: int) -> str:
    return f"doc-{i:09d}"


def write_cached(table_fn, path: str, n_files: int) -> bool:
    """Write ``table_fn()`` as ``n_files`` parquet files under ``path``
    unless a complete copy is already there. Returns True on a cache hit."""
    done = os.path.join(path, "_SUCCESS")
    if os.path.exists(done):
        return True
    os.makedirs(path, exist_ok=True)
    table = table_fn()
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))
    open(done, "w").close()
    return False


# ---------------------------------------------------------------- point_join

# WKT kinds a doc's geo span can carry, and their share of the docs
DOC_KINDS = ("POINT", "ENVELOPE", "BUFFER", "POLYGON")
DOC_MIX = (0.85, 0.05, 0.05, 0.05)


def geo_wkt(kind: int, x: float, y: float, w: float, h: float) -> str:
    """The geo span text of one doc; ``kind`` indexes DOC_KINDS."""
    if kind == 0:
        return f"POINT ({fmt(x)} {fmt(y)})"
    if kind == 1:
        return envelope_wkt(x, x + w, y, y + h)
    if kind == 2:
        return f"BUFFER(POINT({fmt(x)} {fmt(y)}), {fmt(w / 4)})"
    return ring_wkt([x, x + w, x + w / 3], [y, y + h / 5, y + h])


@dataclass
class PointJoinInput:
    shapes: list
    doc_idx: np.ndarray       # every doc
    kind: np.ndarray          # index into DOC_KINDS
    px: np.ndarray            # the span's anchor point
    py: np.ndarray
    w: np.ndarray             # extent of the non-point kinds
    h: np.ndarray
    hot_share: float

    @property
    def has_point(self) -> np.ndarray:
        return self.kind == 0

    def wkt(self) -> list:
        return [geo_wkt(*a) for a in zip(self.kind.tolist(), self.px.tolist(),
                                         self.py.tolist(), self.w.tolist(),
                                         self.h.tolist())]

    def docs(self) -> pa.Table:
        return docs_table(self.doc_idx, self.wkt())


def point_join_input(seed: int, n_docs: int, n_shapes: int,
                     hot_share: float = 0.3, n_hot: int = 4) -> PointJoinInput:
    """Docs carrying every WKT kind (mixed by DOC_MIX) whose anchor
    points are skewed: ``hot_share`` of them land in ``n_hot`` small hot
    boxes placed on shape centres, the rest uniform over REGION. The
    shape layer mixes rects, convex k-gons and concave stars in equal
    thirds."""
    rng = np.random.default_rng([seed, 1])
    x0, x1, y0, y1 = REGION
    # sizes and vertex counts come from fixed spreads in a seeded order,
    # so every seed asks the engine for about the same work
    radius = rng.permutation(np.linspace(0.6, 2.5, n_shapes))
    shapes = []
    for sid in range(n_shapes):
        cx = rng.uniform(x0 + 3, x1 - 3)
        cy = rng.uniform(y0 + 3, y1 - 3)
        r = radius[sid]
        kind = ("rect", "convex", "star")[sid % 3]
        if kind == "rect":
            w, h = r * (0.8 + 0.8 * (sid % 7) / 6), r * (0.5 + 0.7 * (sid % 5) / 4)
            shapes.append(rect_shape(sid, cx - w, cx + w, cy - h, cy + h))
            continue
        if kind == "convex":
            xs, ys = regular_ring(cx, cy, r, 5 + (sid // 3) % 4,
                                  rng.uniform(0.1, 0.5))
        else:
            xs, ys = star_ring(cx, cy, r, r * (0.35 + 0.25 * (sid % 4) / 3),
                               2 * (5 + (sid // 3) % 8), rng.uniform(0.0, 0.3))
        shapes.append(Shape(sid, kind, xs, ys, ring_wkt(xs, ys)))

    hot = [shapes[int(k)] for k in rng.choice(n_shapes, n_hot, replace=False)]
    n_hot_pts = int(round(hot_share * n_docs))
    px = rng.uniform(x0, x1, n_docs)
    py = rng.uniform(y0, y1, n_docs)
    which = rng.integers(0, n_hot, n_hot_pts)
    centres = np.array([[(s.bbox[0] + s.bbox[1]) / 2, (s.bbox[2] + s.bbox[3]) / 2]
                        for s in hot])
    px[:n_hot_pts] = centres[which, 0] + rng.uniform(-0.15, 0.15, n_hot_pts)
    py[:n_hot_pts] = centres[which, 1] + rng.uniform(-0.1, 0.1, n_hot_pts)
    perm = rng.permutation(n_docs)
    kind = rng.choice(len(DOC_KINDS), n_docs, p=DOC_MIX)
    w = rng.uniform(0.2, 2.0, n_docs)
    h = rng.uniform(0.2, 2.0, n_docs)
    return PointJoinInput(shapes, np.arange(n_docs), kind, px[perm], py[perm],
                          w, h, hot_share)


# ---------------------------------------------------------- overlay_dissolve

@dataclass
class OverlayInput:
    stars: list
    parcels: list
    parcel_group: dict        # parcel sid -> group key
    union_groups: dict        # group key -> (star sid, parcel sid)


PINNED_VERTICES = (8, 32, 128, 400)


def overlay_input(seed: int, grid: int, n_stars: int, block: int = 3,
                  n_union: int = len(PINNED_VERTICES)) -> OverlayInput:
    """A ``grid`` x ``grid`` parcel grid (shared edges), grouped into
    ``block`` x ``block`` blocks; every other block's centre parcel is
    its own group, which leaves its block a ring with a hole. Stars have
    vertex counts spread log-evenly over 8..400 and are overlaid on
    the grid. ``n_union`` extra dissolve groups each hold one star and
    one parcel it partly overlaps, for the inclusion-exclusion check."""
    rng = np.random.default_rng([seed, 2])
    cell = 1.0
    ox, oy = -grid * cell / 2.0, -grid * cell / 2.0
    parcels, group = [], {}
    for i in range(grid):
        for j in range(grid):
            sid = i * grid + j
            minx, miny = ox + j * cell, oy + i * cell
            xs = [minx, minx + cell, minx + cell, minx]
            ys = [miny, miny, miny + cell, miny + cell]
            parcels.append(rect_shape(sid, minx, minx + cell, miny, miny + cell,
                                      ring_wkt(xs, ys)))
            bi, bj = i // block, j // block
            key = f"b{bi:03d}_{bj:03d}"
            centre = (i % block == block // 2 and j % block == block // 2)
            if centre and (bi + bj) % 2 == 0:
                key += "_c"
            group[sid] = key

    # vertex counts log-spaced over 8..400 and the first stars pinned to
    # the kernel timing sizes. Star k's size and lattice slot are fixed
    # and its centre sits on a parcel centre: the seed moves it by whole
    # parcels and rotates it, so every seed asks the engine for about
    # the same work
    counts = np.geomspace(8, 400, n_stars)
    counts[:len(PINNED_VERTICES)] = PINNED_VERTICES
    radius = (0.8 + 1.4 * (np.arange(n_stars) * 7 % n_stars) / max(n_stars - 1, 1)) * cell
    stars = []
    cols = int(np.ceil(np.sqrt(n_stars)))
    rows = -(-n_stars // cols)
    for k in range(n_stars):
        n = max(8, 2 * int(round(counts[k] / 2)))
        r = radius[k]
        margin = int(np.ceil(r / cell - 0.5))
        slot = ((k % cols + 0.5) * grid / cols, (k // cols + 0.5) * grid / rows)
        j, i = (int(np.clip(int(v) + rng.integers(-1, 2), margin, grid - 1 - margin))
                for v in slot)
        xs, ys = star_ring(ox + (j + 0.5) * cell, oy + (i + 0.5) * cell, r,
                           r * (0.45 + 0.25 * (k % 5) / 4), n, rng.uniform(0.0, 0.2))
        stars.append(Shape(k, "star", xs, ys, ring_wkt(xs, ys)))

    # each union group: a star and the parcel its first (outer) tip pokes into
    union_groups = {}
    for k in range(min(n_union, n_stars)):
        s = stars[k]
        j = int((s.xs[0] - ox) // cell)
        i = int((s.ys[0] - oy) // cell)
        union_groups[f"u{k:03d}"] = (s.sid, i * grid + j)
    return OverlayInput(stars, parcels, group, union_groups)
