"""Columnar st_* surface: shape struct schema + Arrow-batched UDFs.

Design rule (BASELINE north_star): geometry math runs in vectorized
NumPy inside pandas UDFs (Arrow batch transfer), never per-row Python;
everything relational stays in JVM whole-stage codegen via built-in
pyspark.sql.functions.

The shape struct mirrors the reference's tagged binary union
(Io/BinaryCodec.cs:40-57): a kind byte + doubles + vertex arrays, with
the bbox materialized eagerly (the reference caches bboxes per shape —
CircleImpl.cs:38-49, NtsGeometry.cs:79-87 — we persist them as columns
so scans can prune on min/max statistics).
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (ArrayType, ByteType, DoubleType, IntegerType,
                               StringType, StructField, StructType)

from ..kernels import geohash as _gh
from ..kernels import relation as _rel
from ..kernels import wkt as _wkt
from ..kernels.circle_box import geo_circle_bbox as _geo_circle_bbox
from ..kernels.distance import geo_distance_deg as _geo_dist
from ..kernels.relate_circle import relate_circle_rect as _relate_circle_rect
from ..kernels.relate_rect import relate_rect_point as _relate_rect_point
from ..kernels.relate_rect import relate_rect_rect as _relate_rect_rect

SHAPE_FIELDS = [
    StructField("kind", ByteType()),
    StructField("x", DoubleType()),
    StructField("y", DoubleType()),
    StructField("radius", DoubleType()),
    StructField("minx", DoubleType()),
    StructField("maxx", DoubleType()),
    StructField("miny", DoubleType()),
    StructField("maxy", DoubleType()),
    StructField("xs", ArrayType(DoubleType())),
    StructField("ys", ArrayType(DoubleType())),
    StructField("ring_offsets", ArrayType(IntegerType())),
    StructField("error", StringType()),
]
SHAPE_SCHEMA = StructType(SHAPE_FIELDS)

_EMPTY_ROW = dict(kind=0, x=None, y=None, radius=None, minx=None, maxx=None,
                  miny=None, maxy=None, xs=None, ys=None, ring_offsets=None)


@pandas_udf(SHAPE_SCHEMA)
def _st_from_wkt_default(texts: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(_wkt.parse_wkt_columns(texts))


_WKT_UDF_CACHE = {("width180", "error", True): _st_from_wkt_default}


def st_from_wkt(texts, dateline_rule: str = "width180",
                validation_rule: str = "error", geo: bool = True,
                precision_model: str = "floating",
                precision_scale: float | None = None,
                allow_multi_overlap: bool = False,
                parser: str = "default",
                norm_wrap_longitude: bool = False):
    """WKT -> shape struct (+ error column instead of exceptions).

    Parser semantics: Io/WktShapeParser.cs grammar incl. ENVELOPE arg
    order and BUFFER extension; the POINT fast path is one vectorized
    regex pass and lands straight in Arrow-bound columns.

    dateline_rule in {none, width180, ccwRect} and validation_rule in
    {none, error, repairConvexHull, repairBuffer0} mirror
    NtsSpatialContextFactory.datelineRule/validationRule (defaults
    Width180/Error, NtsSpatialContextFactory.cs:73-75); configured
    variants are cached pandas UDFs with the rules bound in the closure.

    parser="ntsReader" selects the alt reader
    (NtsWKTReaderShapeParser.cs — ISO-only grammar, per-vertex lon
    wrap under norm_wrap_longitude, per-vertex bounds verify); the
    wktShapeParserClass factory key's distributed surface.
    """
    if parser not in ("default", "ntsReader"):
        raise ValueError(f"unknown WKT parser {parser!r}")
    if norm_wrap_longitude and parser != "ntsReader":
        # the per-vertex lon wrap is the alt reader's coordinate filter
        # (NtsWKTReaderShapeParser.cs:108-124); the default grammar has
        # no analog — silently ignoring the flag would hand back
        # unwrapped coordinates the caller asked to normalize
        raise ValueError(
            "norm_wrap_longitude requires parser='ntsReader'")
    key = (dateline_rule, validation_rule, geo, precision_model,
           precision_scale, allow_multi_overlap, parser,
           norm_wrap_longitude)
    if (precision_model == "floating" and not allow_multi_overlap
            and parser == "default"):
        key = (dateline_rule, validation_rule, geo)  # default-cache key
    udf = _WKT_UDF_CACHE.get(key)
    if udf is None:
        if dateline_rule not in _wkt.DATELINE_RULES:
            raise ValueError(f"unknown dateline rule {dateline_rule!r}")
        if validation_rule not in _wkt.VALIDATION_RULES:
            raise ValueError(f"unknown validation rule {validation_rule!r}")
        snap = _wkt.make_snap(precision_model, precision_scale)
        amo = allow_multi_overlap

        if parser == "ntsReader":
            nwl = norm_wrap_longitude

            @pandas_udf(SHAPE_SCHEMA)
            def _configured(t: pd.Series) -> pd.DataFrame:
                return pd.DataFrame(_wkt.parse_ntsreader_columns(
                    t, geo, dateline_rule, validation_rule, snap, amo,
                    norm_wrap_longitude=nwl))
        else:
            @pandas_udf(SHAPE_SCHEMA)
            def _configured(t: pd.Series) -> pd.DataFrame:
                return pd.DataFrame(_wkt.parse_wkt_columns(
                    t, geo, dateline_rule, validation_rule, snap, amo))

        udf = _WKT_UDF_CACHE[key] = _configured
    return udf(texts)


@pandas_udf(StringType())
def _st_cell_udf(lat: pd.Series, lon: pd.Series, precision: pd.Series) -> pd.Series:
    p = int(precision.iloc[0])
    return pd.Series(_gh.encode(lat.to_numpy(), lon.to_numpy(), p))


def st_cell(lat, lon, precision: int):
    """Geohash cell id of points (GeohashUtils.EncodeLatLon semantics)."""
    return _st_cell_udf(lat, lon, F.lit(precision))


from pyspark.sql.types import LongType  # noqa: E402


@pandas_udf(LongType())
def _st_cell_code_udf(lat: pd.Series, lon: pd.Series, precision: pd.Series) -> pd.Series:
    p = int(precision.iloc[0])
    return pd.Series(_gh.cell_code(lat.to_numpy(), lon.to_numpy(), p))


def st_cell_code(lat, lon, precision: int):
    """Int64 cell code (interleaved geohash bits) — join fast path."""
    return _st_cell_code_udf(lat, lon, F.lit(precision))


@pandas_udf(ArrayType(LongType()))
def _st_cover_codes_udf(minx: pd.Series, maxx: pd.Series, miny: pd.Series,
                        maxy: pd.Series, precision: pd.Series) -> pd.Series:
    p = int(precision.iloc[0])
    return pd.Series(_gh.cover_codes_bbox_batch(
        minx.to_numpy(dtype=np.float64, na_value=np.nan),
        maxx.to_numpy(dtype=np.float64, na_value=np.nan),
        miny.to_numpy(dtype=np.float64, na_value=np.nan),
        maxy.to_numpy(dtype=np.float64, na_value=np.nan), p))


def st_cover_codes(minx, maxx, miny, maxy, precision: int):
    """Int64-code tile cover of a bbox (join fast path)."""
    return _st_cover_codes_udf(minx, maxx, miny, maxy, F.lit(precision))


@pandas_udf(ArrayType(StringType()))
def _st_cover_udf(minx: pd.Series, maxx: pd.Series, miny: pd.Series,
                  maxy: pd.Series, precision: pd.Series) -> pd.Series:
    p = int(precision.iloc[0])
    out = []
    mnx, mxx, mny, mxy = (minx.to_numpy(), maxx.to_numpy(),
                          miny.to_numpy(), maxy.to_numpy())
    for i in range(len(mnx)):
        if np.isnan(mnx[i]):
            out.append([])
        else:
            out.append(_gh.cover_cells_bbox(mnx[i], mxx[i], mny[i], mxy[i], p))
    return pd.Series(out)


def st_cover_cells(minx, maxx, miny, maxy, precision: int):
    """Tile cover of a bbox at a fixed level (dateline-aware).

    Equivalent to recursive GetSubGeohashes expansion with bbox pruning
    (GeohashUtils.cs:207-216) evaluated at `precision`.
    """
    return _st_cover_udf(minx, maxx, miny, maxy, F.lit(precision))


_BOX_SCHEMA = StructType([
    StructField("minx", DoubleType()), StructField("maxx", DoubleType()),
    StructField("miny", DoubleType()), StructField("maxy", DoubleType()),
])


@pandas_udf(_BOX_SCHEMA)
def st_cell_to_box(cells: pd.Series) -> pd.DataFrame:
    """Geohash -> cell bbox (GeohashUtils.DecodeBoundary, :163-204)."""
    minx, maxx, miny, maxy = _gh.decode_boundary(cells.to_numpy(dtype=str))
    return pd.DataFrame({"minx": minx, "maxx": maxx, "miny": miny, "maxy": maxy})


@pandas_udf(_BOX_SCHEMA)
def _st_circle_box_udf(x: pd.Series, y: pd.Series, r: pd.Series) -> pd.DataFrame:
    minx, maxx, miny, maxy = _geo_circle_bbox(x.to_numpy(), y.to_numpy(), r.to_numpy())
    return pd.DataFrame({"minx": minx, "maxx": maxx, "miny": miny, "maxy": maxy})


def st_circle_bbox(x, y, radius_deg):
    """Geo circle -> enclosing bbox (DistanceUtils.CalcBoxByDistFromPtDEG)."""
    return _st_circle_box_udf(x, y, radius_deg)


def _make_distance_udf(calculator: str):
    @pandas_udf(DoubleType())
    def _udf(x1: pd.Series, y1: pd.Series, x2: pd.Series, y2: pd.Series) -> pd.Series:
        return pd.Series(_geo_dist(x1.to_numpy(), y1.to_numpy(),
                                   x2.to_numpy(), y2.to_numpy(), calculator))
    return _udf


_DIST_UDFS = {c: _make_distance_udf(c)
              for c in ("haversine", "lawOfCosines", "vincentySphere")}


def st_distance_deg(x1, y1, x2, y2, calculator: str = "haversine"):
    """Great-circle distance in degrees (exact reference formulas)."""
    return _DIST_UDFS[calculator](x1, y1, x2, y2)


def st_distance_km(x1, y1, x2, y2, calculator: str = "haversine"):
    from ..kernels.normalize import DEGREES_TO_KILOMETERS
    return st_distance_deg(x1, y1, x2, y2, calculator) * F.lit(DEGREES_TO_KILOMETERS)


def st_dwithin(x1, y1, x2, y2, dist_deg, calculator: str = "haversine"):
    """Distance-within predicate (AbstractDistanceCalculator.Within)."""
    return st_distance_deg(x1, y1, x2, y2, calculator) <= dist_deg


@pandas_udf(ByteType())
def st_relate_rect_point(minx: pd.Series, maxx: pd.Series, miny: pd.Series,
                         maxy: pd.Series, px: pd.Series, py: pd.Series) -> pd.Series:
    """Dateline-aware rect.Relate(point) (RectangleImpl.cs:176-209)."""
    return pd.Series(_relate_rect_point(
        minx.to_numpy(), maxx.to_numpy(), miny.to_numpy(), maxy.to_numpy(),
        px.to_numpy(), py.to_numpy(), geo=True))


@pandas_udf(ByteType())
def st_relate_rect_rect(minx: pd.Series, maxx: pd.Series, miny: pd.Series, maxy: pd.Series,
                        eminx: pd.Series, emaxx: pd.Series, eminy: pd.Series,
                        emaxy: pd.Series) -> pd.Series:
    """Dateline-aware rect.Relate(rect) (RectangleImpl.cs:211-297)."""
    return pd.Series(_relate_rect_rect(
        minx.to_numpy(), maxx.to_numpy(), miny.to_numpy(), maxy.to_numpy(),
        eminx.to_numpy(), emaxx.to_numpy(), eminy.to_numpy(), emaxy.to_numpy(), geo=True))


@pandas_udf(ByteType())
def st_relate_circle_rect(cx: pd.Series, cy: pd.Series, r: pd.Series,
                          minx: pd.Series, maxx: pd.Series, miny: pd.Series,
                          maxy: pd.Series) -> pd.Series:
    """GeoCircle.Relate(rect) full state machine (GeoCircle.cs:107-230)."""
    return pd.Series(_relate_circle_rect(
        cx.to_numpy(), cy.to_numpy(), r.to_numpy(),
        minx.to_numpy(), maxx.to_numpy(), miny.to_numpy(), maxy.to_numpy(), geo=True))


@pandas_udf(ByteType())
def _st_relate_shape_point_udf(kind: pd.Series, x: pd.Series, y: pd.Series,
                               radius: pd.Series, minx: pd.Series, maxx: pd.Series,
                               miny: pd.Series, maxy: pd.Series,
                               xs: pd.Series, ys: pd.Series, ring_offsets: pd.Series,
                               px: pd.Series, py: pd.Series) -> pd.Series:
    """shape.Relate(point) dispatch by kind — the join refine kernel.

    Kernel selection happens per (kind-group), not per row: rows are
    grouped by kind and each group is processed as one NumPy batch.
    """
    from ..kernels.pip import points_in_polygon
    from ..kernels.relate_circle import relate_circle_point
    from ..kernels.relate_line import linestring_contains_point

    n = len(kind)
    out = np.full(n, _rel.DISJOINT, dtype=np.int8)
    kd = kind.to_numpy()
    pxv = px.to_numpy(dtype=np.float64)
    pyv = py.to_numpy(dtype=np.float64)

    m = kd == _wkt.KIND_RECT
    if m.any():
        out[m] = _relate_rect_point(minx.to_numpy()[m], maxx.to_numpy()[m],
                                    miny.to_numpy()[m], maxy.to_numpy()[m],
                                    pxv[m], pyv[m], geo=True)
    m = kd == _wkt.KIND_CIRCLE
    if m.any():
        out[m] = relate_circle_point(x.to_numpy()[m], y.to_numpy()[m],
                                     radius.to_numpy()[m], pxv[m], pyv[m], geo=True)
    m = kd == _wkt.KIND_POINT
    if m.any():
        same = (x.to_numpy()[m] == pxv[m]) & (y.to_numpy()[m] == pyv[m])
        out[m] = np.where(same, _rel.CONTAINS, _rel.DISJOINT)
    m = (kd == _wkt.KIND_POLYGON) | (kd == _wkt.KIND_MULTIPOLYGON)
    if m.any():
        # group rows sharing the same polygon (joins replicate one shape
        # to many candidate points) and PIP each group as one batch.
        # Key building avoids per-row pandas .iloc (2-5us each — it was
        # the refine hot spot at >100k pairs/batch): one to_numpy()
        # materialization, then a plain-python pass over the object
        # array.
        idxs = np.nonzero(m)[0]
        xs_np = xs.to_numpy()
        ys_np = ys.to_numpy()
        ro_np = ring_offsets.to_numpy()
        groups: dict = {}
        setd = groups.setdefault
        for i in idxs:
            # key on the FULL geometry bytes — a heuristic key like
            # (len, x0, x-1, y0) collides for distinct rings sharing
            # endpoints (closed rings always have x0 == x-1) and would
            # silently relate a row against the wrong polygon. tobytes()
            # is ~ns per vertex, negligible next to the PIP kernel.
            setd((np.asarray(xs_np[i]).tobytes(),
                  np.asarray(ys_np[i]).tobytes(),
                  np.asarray(ro_np[i]).tobytes()), []).append(i)
        for rows in groups.values():
            i0 = rows[0]
            vx = np.asarray(xs_np[i0], dtype=np.float64)
            vy = np.asarray(ys_np[i0], dtype=np.float64)
            ro = np.asarray(ro_np[i0], dtype=np.int64)
            rows = np.asarray(rows)
            hit = points_in_polygon(pxv[rows], pyv[rows], vx, vy, ro)
            out[rows] = np.where(hit, _rel.CONTAINS, _rel.DISJOINT)
    m = kd == _wkt.KIND_LINESTRING
    if m.any():
        # same per-shape grouping as the polygon branch: joins replicate
        # one line across many candidate points, so batch each line's
        # points into ONE kernel call instead of a per-row loop.
        idxs = np.nonzero(m)[0]
        xs_np = xs.to_numpy()
        ys_np = ys.to_numpy()
        rad_np = radius.to_numpy(dtype=np.float64, na_value=0.0)
        groups: dict = {}
        setd = groups.setdefault
        for i in idxs:
            # full-geometry key (see polygon branch above): two distinct
            # 2-vertex segments from one hub share (len, x0, x-1, y0) and
            # a heuristic key would batch them under the first row's line.
            setd((np.asarray(xs_np[i]).tobytes(),
                  np.asarray(ys_np[i]).tobytes(), rad_np[i]), []).append(i)
        for rows in groups.values():
            i0 = rows[0]
            vx = np.asarray(xs_np[i0], dtype=np.float64)
            vy = np.asarray(ys_np[i0], dtype=np.float64)
            rows = np.asarray(rows)
            hit = linestring_contains_point(vx, vy, rad_np[i0],
                                            pxv[rows], pyv[rows])
            out[rows] = np.where(hit, _rel.CONTAINS, _rel.DISJOINT)
    return pd.Series(out)


def st_relate_shape_point(shape_col, px, py):
    """shape.Relate(point) over a shape-struct column."""
    s = shape_col
    return _st_relate_shape_point_udf(
        s["kind"], s["x"], s["y"], s["radius"], s["minx"], s["maxx"],
        s["miny"], s["maxy"], s["xs"], s["ys"], s["ring_offsets"], px, py)


def st_relation_name(rel_col):
    """Relation code -> name (WITHIN/CONTAINS/DISJOINT/INTERSECTS)."""
    return (F.when(rel_col == _rel.WITHIN, "WITHIN")
             .when(rel_col == _rel.CONTAINS, "CONTAINS")
             .when(rel_col == _rel.DISJOINT, "DISJOINT")
             .when(rel_col == _rel.INTERSECTS, "INTERSECTS")
             .otherwise("NONE"))


@pandas_udf(SHAPE_SCHEMA)
def st_from_legacy(texts: pd.Series) -> pd.DataFrame:
    """Legacy text format -> shape struct ("X Y", "minX minY maxX maxY",
    "Circle(x y d=r)"; LegacyShapeReadWriterFormat.cs:46-96)."""
    return pd.DataFrame(_wkt.parse_legacy_columns(texts))


@pandas_udf(DoubleType())
def st_rect_area_geo(minx: pd.Series, maxx: pd.Series, miny: pd.Series,
                     maxy: pd.Series) -> pd.Series:
    """Spherical rect area in deg^2 (GeodesicSphereDistCalc.cs:58-66)."""
    from ..kernels.area import geo_rect_area
    return pd.Series(geo_rect_area(minx.to_numpy(), maxx.to_numpy(),
                                   miny.to_numpy(), maxy.to_numpy()))


@pandas_udf(DoubleType())
def st_circle_area_geo(r: pd.Series) -> pd.Series:
    """Spherical cap area in deg^2 (GeodesicSphereDistCalc.cs:68-73)."""
    from ..kernels.area import geo_circle_area
    return pd.Series(geo_circle_area(r.to_numpy()))


_DEST_SCHEMA = StructType([
    StructField("x2", DoubleType()), StructField("y2", DoubleType()),
])


@pandas_udf(_DEST_SCHEMA)
def st_point_on_bearing(x: pd.Series, y: pd.Series, dist_deg: pd.Series,
                        bearing_deg: pd.Series) -> pd.DataFrame:
    """Great-circle destination point (DistanceUtils.cs:222-283)."""
    from ..kernels.bearing import geo_point_on_bearing_deg
    lon2, lat2 = geo_point_on_bearing_deg(x.to_numpy(), y.to_numpy(),
                                          dist_deg.to_numpy(),
                                          bearing_deg.to_numpy())
    return pd.DataFrame({"x2": lon2, "y2": lat2})


from pyspark.sql.types import BooleanType  # noqa: E402


@pandas_udf(BooleanType())
def st_line_contains_point(ax: pd.Series, ay: pd.Series, bx: pd.Series,
                           by: pd.Series, buf: pd.Series, px: pd.Series,
                           py: pd.Series) -> pd.Series:
    """BufferedLine.Contains(point) (BufferedLine.cs:215-219)."""
    from ..kernels.relate_line import buffered_line_contains
    return pd.Series(buffered_line_contains(
        ax.to_numpy(), ay.to_numpy(), bx.to_numpy(), by.to_numpy(),
        buf.to_numpy(), px.to_numpy(), py.to_numpy()))


@pandas_udf(ByteType())
def st_relate_circle_circle(x1: pd.Series, y1: pd.Series, r1: pd.Series,
                            x2: pd.Series, y2: pd.Series,
                            r2: pd.Series) -> pd.Series:
    """Circle.Relate(circle) ring arithmetic (CircleImpl.cs:235-247)."""
    from ..kernels.relate_circle import relate_circle_circle
    return pd.Series(relate_circle_circle(
        x1.to_numpy(), y1.to_numpy(), r1.to_numpy(),
        x2.to_numpy(), y2.to_numpy(), r2.to_numpy(), geo=True))


@pandas_udf(DoubleType())
def st_norm_lon(lon: pd.Series) -> pd.Series:
    """Wrap longitude into [-180,180] (DistanceUtils.cs:290-301)."""
    from ..kernels.normalize import norm_lon_deg
    return pd.Series(norm_lon_deg(lon.to_numpy()))


@pandas_udf(DoubleType())
def st_norm_lat(lat: pd.Series) -> pd.Series:
    """Fold latitude into [-90,90] (DistanceUtils.cs:308-314)."""
    from ..kernels.normalize import norm_lat_deg
    return pd.Series(norm_lat_deg(lat.to_numpy()))


# ---------------------------------------------------------------------------
# JVM-side cell code: whole-stage-codegen geohash bit interleave
# ---------------------------------------------------------------------------

def _spread_bits32(v):
    """Interleave-spread a <=32-bit Column value: bit i -> bit 2i.

    Classic Morton magic-mask ladder — 15 long bitwise ops, all inside
    whole-stage codegen."""
    v = v.bitwiseOR(F.shiftleft(v, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x3333333333333333))
    v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x5555555555555555))
    return v


def _axis_idx_col(coord, lo: float, span: float, bits: int):
    """EXACT cell index along one axis: closed form + one boundary
    correction step.

    The kernel bisects with exact dyadic midpoints ("strictly greater
    goes high"), so cell i covers (b_i, b_{i+1}]. The raw closed form
    ceil(t*2^bits)-1 can be off by one when (coord - lo) rounds away a
    sub-ulp excess at a boundary (seen on real data: x =
    112.50000000000003 at the 112.5 boundary). Both grid step and
    boundaries b_i = lo + i*step are exactly representable (dyadic step,
    <=36-bit products), so comparing coord against b_{i0} / b_{i0+1}
    restores the exact bisection index. Mirrored by the DuckDB oracle
    (contract._lon_idx_sql)."""
    n = 1 << bits
    step = span / n  # exact dyadic for the +-180 / +-90 world
    i0 = F.ceil((coord + F.lit(-lo)) / F.lit(span) * F.lit(float(n))).cast("long") - 1
    i0 = F.least(F.lit(n - 1), F.greatest(F.lit(0), i0))
    b_lo = F.lit(lo) + i0.cast("double") * F.lit(step)
    b_hi = F.lit(lo) + (i0 + 1).cast("double") * F.lit(step)
    corr = (F.when(coord > b_hi, 1)
             .when(coord <= b_lo, -1).otherwise(0))
    return F.least(F.lit(n - 1), F.greatest(F.lit(0), i0 + corr))


def _dbl_lit(v: float) -> str:
    """Exact SQL double literal (D suffix keeps the parser off DECIMAL)."""
    return f"{v!r}D"


def _spread_bits32_sql(v: str) -> str:
    """SQL-string twin of _spread_bits32 — same five mask steps.

    Each step writes its input twice, so the result holds 2^5 copies
    of `v`. Textual duplication mirrors the Column version's effective
    tree (Column reuse shares objects but codegen walks the tree the
    same number of times), so the generated code is identical. Keep
    `v` a plain column reference: with a whole axis-index expression
    as `v` (the `st_cell_code_col` form) the SQL is ~31 KB at
    precision 6, its first parse in a fresh JVM took 9.5 s and each
    warm parse 0.3-0.6 s (4-vCPU VM). DataFrame callers use
    `with_cell_code`.
    """
    for shift, mask in ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                        (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                        (1, 0x5555555555555555)):
        v = f"(({v} | shiftleft({v}, {shift})) & {mask}L)"
    return v


def _axis_idx_sql(coord: str, lo: float, span: float, bits: int) -> str:
    """SQL-string twin of _axis_idx_col (same closed form + boundary
    correction; see that docstring for the exactness argument)."""
    n = 1 << bits
    step = span / n
    i0 = (f"(CAST(ceil((({coord}) + {_dbl_lit(-lo)}) / {_dbl_lit(span)}"
          f" * {_dbl_lit(float(n))}) AS BIGINT) - 1)")
    i0 = f"least({n - 1}L, greatest(0L, {i0}))"
    b_lo = f"({_dbl_lit(lo)} + (CAST({i0} AS DOUBLE) * {_dbl_lit(step)}))"
    b_hi = f"({_dbl_lit(lo)} + (CAST(({i0} + 1) AS DOUBLE) * {_dbl_lit(step)}))"
    corr = (f"(CASE WHEN ({coord}) > {b_hi} THEN 1"
            f" WHEN ({coord}) <= {b_lo} THEN -1 ELSE 0 END)")
    return f"least({n - 1}L, greatest(0L, {i0} + {corr}))"


def _morton_sql(li: str, ti: str, precision: int) -> str:
    nbits = precision * 5
    sl = _spread_bits32_sql(f"CAST({li} AS BIGINT)")
    st = _spread_bits32_sql(f"CAST({ti} AS BIGINT)")
    if nbits % 2 == 1:
        return f"CAST(({sl} | shiftleft({st}, 1)) AS BIGINT)"
    return f"CAST(({st} | shiftleft({sl}, 1)) AS BIGINT)"


def _axis_sql_params(axis: str, precision: int) -> tuple:
    nbits = precision * 5
    if axis == "lon":
        return -180.0, 360.0, (nbits + 1) // 2
    if axis == "lat":
        return -90.0, 180.0, nbits // 2
    raise ValueError(axis)


def st_axis_idx_col(coord, axis: str, precision: int):
    """Exact per-axis grid index ('lon' or 'lat') at a geohash precision.

    Exposed as a building block so joins can PRECOMPUTE per-side axis
    indices in a projection and keep filter conditions tiny: codegen
    performs no subexpression elimination inside Filter predicates, and
    `_spread_bits32`'s five v->f(v,v) steps duplicate their input tree
    2^5 times — a large coord expression inside a filter-context cell
    code blows the 64 KB Janino method limit (VERDICT r02 item 2).

    `coord` may be a Column or a SQL fragment string; the string form
    builds the expression with one F.expr parse instead of a py4j
    roundtrip per node. Projected on its own, the index is small; fed
    unprojected into `st_morton_col` (the `st_cell_code_col` form) it
    is copied 2^5 times, and that ~31 KB expression took 9.5 s to
    parse first in a fresh JVM and 0.3-0.6 s per warm parse (4-vCPU
    VM). DataFrame callers use `with_cell_code`.
    """
    lo, span, bits = _axis_sql_params(axis, precision)
    if isinstance(coord, str):
        return F.expr(_axis_idx_sql(coord, lo, span, bits))
    return _axis_idx_col(coord, lo, span, bits)


def st_morton_col(li, ti, precision: int):
    """Interleave precomputed (lon_idx, lat_idx) columns into the int64
    cell code. li/ti should be plain column references (see
    st_axis_idx_col) when used inside a filter condition. String
    arguments are SQL fragments (single-parse fast path)."""
    if isinstance(li, str) and isinstance(ti, str):
        return F.expr(_morton_sql(li, ti, precision))
    nbits = precision * 5
    sl = _spread_bits32(li.cast("long"))
    st = _spread_bits32(ti.cast("long"))
    if nbits % 2 == 1:
        # odd total: lon occupies even bit positions (LSB-indexed)
        return sl.bitwiseOR(F.shiftleft(st, 1)).cast("long")
    return st.bitwiseOR(F.shiftleft(sl, 1)).cast("long")


def _cell_code_sql(lat: str, lon: str, precision: int) -> str:
    lon_lo, lon_span, lon_bits = _axis_sql_params("lon", precision)
    lat_lo, lat_span, lat_bits = _axis_sql_params("lat", precision)
    return _morton_sql(_axis_idx_sql(lon, lon_lo, lon_span, lon_bits),
                       _axis_idx_sql(lat, lat_lo, lat_span, lat_bits),
                       precision)


def st_cell_code_col(lat, lon, precision: int):
    """Int64 geohash cell code as a PURE Column expression (no UDF).

    Bit-identical to kernels.geohash.cell_code: lon takes ceil(5p/2)
    bits, lat floor(5p/2), interleaved lon-first from the MSB. Keeps
    the entire point side of the spatial join in whole-stage codegen —
    zero Arrow exchanges for cell assignment.

    lat/lon may be Columns or SQL fragment strings. Either way this is
    ONE expression in which `_spread_bits32`'s five mask steps copy
    each axis index 2^5 times: ~31 KB of SQL at precision 6. Its first
    parse in a fresh JVM took 9.5 s, and every warm parse 0.3-0.6 s
    (4-vCPU VM); inside a CASE it overflows Janino's 64 KB method
    limit. DataFrame callers use `with_cell_code`, which projects the
    axis indices first and stays small.
    """
    if isinstance(lat, str) and isinstance(lon, str):
        return F.expr(_cell_code_sql(lat, lon, precision))
    return st_morton_col(st_axis_idx_col(lon, "lon", precision),
                         st_axis_idx_col(lat, "lat", precision), precision)


_LON_IDX_COL = "__s4n_cell_lon_idx"
_LAT_IDX_COL = "__s4n_cell_lat_idx"


def with_cell_code(df, lat, lon, precision: int, out_col: str):
    """`df` plus `out_col`: the int64 geohash cell code of (lat, lon),
    bit-identical to `st_cell_code_col` and kernels.geohash.cell_code.

    Staged: the lon and lat axis indices are projected as two temporary
    columns, `st_morton_col` spreads those plain columns, and the
    temporaries are dropped. CollapseProject does not inline a
    non-cheap column that is read 32 times, so the plan keeps one copy
    of each axis expression (precision 6: a 5.0k-character optimized
    plan against 28.9k for `st_cell_code_col`; first parse in a fresh
    JVM 0.8 s against 9.5 s, 4-vCPU VM).

    lat/lon are Columns or SQL fragment strings, as for
    `st_axis_idx_col`.
    """
    return (df.withColumn(_LON_IDX_COL, st_axis_idx_col(lon, "lon", precision))
              .withColumn(_LAT_IDX_COL, st_axis_idx_col(lat, "lat", precision))
              .withColumn(out_col, st_morton_col(f"`{_LON_IDX_COL}`",
                                                 f"`{_LAT_IDX_COL}`", precision))
              .drop(_LON_IDX_COL, _LAT_IDX_COL))


def _cover_codes_sql(minx: str, maxx: str, miny: str, maxy: str,
                     precision: int) -> str:
    nbits = precision * 5
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    lon_n = 1 << lon_bits
    li0 = _axis_idx_sql(minx, -180.0, 360.0, lon_bits)
    li1 = _axis_idx_sql(maxx, -180.0, 360.0, lon_bits)
    ti0 = _axis_idx_sql(miny, -90.0, 180.0, lat_bits)
    ti1 = _axis_idx_sql(maxy, -90.0, 180.0, lat_bits)
    lon_seq = (f"(CASE WHEN ({minx}) <= ({maxx}) THEN sequence({li0}, {li1})"
               f" ELSE concat(sequence({li0}, {lon_n - 1}L),"
               f" sequence(0L, {li1})) END)")
    # lambda var names must not collide with caller columns referenced
    # by the ti0/ti1 fragments (they sit inside the outer lambda body)
    return (f"flatten(transform({lon_seq},"
            f" __s4n_li -> transform(sequence({ti0}, {ti1}),"
            f" __s4n_ti -> {_morton_sql('__s4n_li', '__s4n_ti', precision)})))")


def st_cover_codes_col(minx, maxx, miny, maxy, precision: int):
    """Int64-code tile cover of a bbox as a PURE Column expression.

    Same cell set as kernels.geohash.cover_codes_bbox (grid range
    between the corner cells, dateline-aware lon wrap), built with
    sequence/transform/flatten + the Morton spread — no Python on the
    shape side of the join either.

    String arguments are SQL fragments (single-parse fast path); all
    four must then be strings.
    """
    if all(isinstance(c, str) for c in (minx, maxx, miny, maxy)):
        return F.expr(_cover_codes_sql(minx, maxx, miny, maxy, precision))
    nbits = precision * 5
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    lon_n = 1 << lon_bits
    li0 = _axis_idx_col(minx, -180.0, 360.0, lon_bits)
    li1 = _axis_idx_col(maxx, -180.0, 360.0, lon_bits)
    ti0 = _axis_idx_col(miny, -90.0, 180.0, lat_bits)
    ti1 = _axis_idx_col(maxy, -90.0, 180.0, lat_bits)
    lon_seq = F.when(minx <= maxx, F.sequence(li0, li1)).otherwise(
        F.concat(F.sequence(li0, F.lit(lon_n - 1)), F.sequence(F.lit(0), li1)))

    return F.flatten(F.transform(
        lon_seq, lambda li: F.transform(F.sequence(ti0, ti1),
                                        lambda ti: st_morton_col(li, ti,
                                                                 precision))))


@pandas_udf(ArrayType(LongType()))
def _st_cover_codes_adaptive_udf(minx: pd.Series, maxx: pd.Series,
                                 miny: pd.Series, maxy: pd.Series,
                                 min_level: pd.Series, max_level: pd.Series,
                                 cells_budget: pd.Series) -> pd.Series:
    lo, hi = int(min_level.iloc[0]), int(max_level.iloc[0])
    budget = int(cells_budget.iloc[0])
    return pd.Series(_gh.cover_codes_bbox_adaptive_batch(
        minx.to_numpy(dtype=np.float64, na_value=np.nan),
        maxx.to_numpy(dtype=np.float64, na_value=np.nan),
        miny.to_numpy(dtype=np.float64, na_value=np.nan),
        maxy.to_numpy(dtype=np.float64, na_value=np.nan), lo, hi, budget))


def st_cover_codes_adaptive(minx, maxx, miny, maxy,
                            min_level: int, max_level: int,
                            cells_budget: int = 4):
    """Level-TAGGED cover codes at each bbox's own adaptive level (the
    finest level in the band whose EXACT cover count fits
    `cells_budget`; oversized bboxes fall back to a min_level grid
    range). Join keys are (code << 4) | level — disjoint across levels.
    The multi-level spatial-index shape side (batch Arrow kernel,
    kernels/geohash.cover_codes_bbox_adaptive_batch)."""
    return _st_cover_codes_adaptive_udf(minx, maxx, miny, maxy,
                                        F.lit(min_level), F.lit(max_level),
                                        F.lit(cells_budget))


@pandas_udf(ArrayType(LongType()))
def _st_cover_pyramid_udf(minx: pd.Series, maxx: pd.Series,
                          miny: pd.Series, maxy: pd.Series,
                          min_level: pd.Series, max_level: pd.Series,
                          cells_budget: pd.Series) -> pd.Series:
    lo, hi = int(min_level.iloc[0]), int(max_level.iloc[0])
    budget = int(cells_budget.iloc[0])
    return pd.Series(_gh.cover_pyramid_batch(
        minx.to_numpy(dtype=np.float64, na_value=np.nan),
        maxx.to_numpy(dtype=np.float64, na_value=np.nan),
        miny.to_numpy(dtype=np.float64, na_value=np.nan),
        maxy.to_numpy(dtype=np.float64, na_value=np.nan), lo, hi, budget))


def st_cover_pyramid(minx, maxx, miny, maxy,
                     min_level: int, max_level: int,
                     cells_budget: int = 4):
    """Multi-level tagged cover pyramid of a bbox: own adaptive-level
    cover first (element 0's tag IS the shape's level), then the exact
    cover at every coarser level down to min_level (prefix-shift
    derived). The two-sided adaptive join's shape emission — bounded
    per row by cells_budget + 4x(levels below own)."""
    return _st_cover_pyramid_udf(minx, maxx, miny, maxy,
                                 F.lit(min_level), F.lit(max_level),
                                 F.lit(cells_budget))


def st_cell_codes_for_levels_col(lat, lon, levels):
    """Array of level-tagged cell codes of a point at each level in
    `levels` — the point side of the adaptive multi-level join, as a
    PURE Column expression (whole-stage codegen; zero Arrow exchange).

    Only the FINEST level gets a Morton tree; every coarser code is its
    ancestor by the prefix property (a level-L code >> 5*(L-Lc) IS the
    level-Lc code — kernels/geohash.py), so codegen evaluates one
    coordinate tree per row instead of len(levels) (ProjectExec
    subexpression elimination collapses the shared base). Pass only the
    levels the shape side actually uses (plan-time pruning) to cut the
    point-side fan-out."""
    levels = list(levels)
    finest = max(levels)
    return st_level_codes_col(st_cell_code_col(lat, lon, finest), finest,
                              levels)


def st_level_codes_col(code, precision: int, levels):
    """Array of level-tagged ancestors, one per level in `levels`, of a
    level-`precision` cell code column (`precision` >= every level).
    With `with_cell_code` this builds the adaptive join's point side
    from a projected code column."""
    tag_bits = _gh.LEVEL_TAG_BITS
    return F.array(*[
        F.shiftleft(F.shiftright(code, 5 * (precision - lv)), tag_bits)
         .bitwiseOR(F.lit(lv)).cast("long")
        for lv in levels])


def st_cell_codes_multilevel_col(lat, lon, min_level: int, max_level: int):
    """st_cell_codes_for_levels_col over the full [min_level, max_level]
    band."""
    return st_cell_codes_for_levels_col(lat, lon,
                                        range(min_level, max_level + 1))


@pandas_udf(ByteType())
def st_relate_polygon_circle(xs: pd.Series, ys: pd.Series,
                             ring_offsets: pd.Series,
                             minx: pd.Series, maxx: pd.Series,
                             miny: pd.Series, maxy: pd.Series,
                             cx: pd.Series, cy: pd.Series,
                             r: pd.Series) -> pd.Series:
    """Polygon.Relate(circle) vertex-counting (NtsGeometry.cs:248-275)."""
    from ..kernels.pip import relate_polygon_circle
    out = np.empty(len(xs), dtype=np.int8)
    for i in range(len(xs)):
        ro = ring_offsets.iloc[i]
        out[i] = relate_polygon_circle(
            np.asarray(xs.iloc[i]), np.asarray(ys.iloc[i]),
            np.asarray(ro) if ro is not None else None,
            float(minx.iloc[i]), float(maxx.iloc[i]),
            float(miny.iloc[i]), float(maxy.iloc[i]),
            float(cx.iloc[i]), float(cy.iloc[i]), float(r.iloc[i]))
    return pd.Series(out)


@pandas_udf(ByteType())
def st_relate_polygon_rect(xs: pd.Series, ys: pd.Series,
                           ring_offsets: pd.Series,
                           minx: pd.Series, maxx: pd.Series,
                           miny: pd.Series, maxy: pd.Series) -> pd.Series:
    """Polygon.Relate(rect), COVERS semantics (NtsGeometry.cs:303-314
    via from-scratch primitives)."""
    from ..kernels.pip import relate_polygon_rect
    out = np.empty(len(xs), dtype=np.int8)
    for i in range(len(xs)):
        ro = ring_offsets.iloc[i]
        out[i] = relate_polygon_rect(
            np.asarray(xs.iloc[i]), np.asarray(ys.iloc[i]),
            np.asarray(ro) if ro is not None else None,
            float(minx.iloc[i]), float(maxx.iloc[i]),
            float(miny.iloc[i]), float(maxy.iloc[i]))
    return pd.Series(out)


@pandas_udf(SHAPE_SCHEMA)
def st_from_latlon(texts: pd.Series) -> pd.DataFrame:
    """'lat, lon' string -> point shape struct (ParseUtils.cs:162-191);
    range-invalid rows get an error instead of a shape."""
    recs, errs = _wkt.parse_latlon_batch(texts.tolist())
    rows = []
    for rec, err in zip(recs, errs):
        if rec is None:
            rows.append(dict(_EMPTY_ROW, error=err))
        else:
            rows.append({k: rec.get(k) for k in
                         ("kind", "x", "y", "radius", "minx", "maxx",
                          "miny", "maxy")}
                        | {"xs": None, "ys": None, "ring_offsets": None,
                           "error": None})
    return pd.DataFrame(rows)


@pandas_udf(SHAPE_SCHEMA)
def st_buffer(kind: pd.Series, x: pd.Series, y: pd.Series,
              radius: pd.Series, minx: pd.Series, maxx: pd.Series,
              miny: pd.Series, maxy: pd.Series,
              xs: pd.Series, ys: pd.Series, ring_offsets: pd.Series,
              dist: pd.Series) -> pd.DataFrame:
    """GetBuffered(distance) for point/circle/rect/line/polygon structs.

    Point -> circle(distance) (PointImpl.cs:67-70); circle -> radius
    grows, clamped to 180 (CircleImpl.cs:78-81 + MakeCircle clamp);
    rect -> pole-wrap / lon-skew expansion (RectangleImpl.cs:76-114,
    kernels.buffer.buffer_rect); buffered line(string) -> buf grows
    (BufferedLine.cs:160-163 / BufferedLineString.cs:96-99) with the
    bbox expanded by the longitude-skew rule
    (ExpandBufForLongitudeSkew, BufferedLine.cs:170-182), clamped to
    world bounds like the BufferedLine ctor's bbox. (Multi)polygon ->
    planar degree-space Minkowski buffer (NtsGeometry.cs:175-180
    delegates to NTS Buffer, which is planar): exact with round joins
    for convex rings, documented hull/erode approximations otherwise —
    see kernels.buffer.buffer_polygon. The struct bbox is set
    ANALYTICALLY (vertex bbox +- d, world-clamped), not from the
    discretized arc vertices. Other kinds -> error row."""
    from ..kernels.buffer import buffer_polygon, buffer_rect
    from ..kernels.circle_box import geo_circle_bbox, lon_degrees_at_lat
    n = len(kind)
    k = kind.to_numpy(dtype=np.int8, na_value=0)
    d = dist.to_numpy(dtype=np.float64, na_value=np.nan)
    out = {f.name: np.full(n, np.nan) for f in SHAPE_FIELDS
           if f.name not in ("kind", "xs", "ys", "ring_offsets", "error")}
    okind = np.zeros(n, dtype=np.int8)
    err = np.full(n, None, dtype=object)

    pt = k == 1
    if pt.any():
        cx = x.to_numpy(dtype=np.float64, na_value=np.nan)
        cy = y.to_numpy(dtype=np.float64, na_value=np.nan)
        r = np.minimum(d, 180.0)
        bad_r = pt & (r < 0.0)  # MakeCircle throws on negative radius
        pt = pt & ~bad_r
        err[bad_r] = "st_buffer: negative circle radius (InvalidShape)"
        bminx, bmaxx, bminy, bmaxy = geo_circle_bbox(cx, cy, r)
        for nm, v in (("x", cx), ("y", cy), ("radius", r), ("minx", bminx),
                      ("maxx", bmaxx), ("miny", bminy), ("maxy", bmaxy)):
            out[nm][pt] = v[pt]
        okind[pt] = 3
    ci = k == 3
    if ci.any():
        cx = x.to_numpy(dtype=np.float64, na_value=np.nan)
        cy = y.to_numpy(dtype=np.float64, na_value=np.nan)
        r = np.minimum(radius.to_numpy(dtype=np.float64, na_value=np.nan) + d, 180.0)
        bad_r = ci & (r < 0.0)  # MakeCircle throws on negative radius
        ci = ci & ~bad_r
        err[bad_r] = "st_buffer: negative circle radius (InvalidShape)"
        bminx, bmaxx, bminy, bmaxy = geo_circle_bbox(cx, cy, r)
        for nm, v in (("x", cx), ("y", cy), ("radius", r), ("minx", bminx),
                      ("maxx", bmaxx), ("miny", bminy), ("maxy", bmaxy)):
            out[nm][ci] = v[ci]
        okind[ci] = 3
    rc = k == 2
    if rc.any():
        bminx, bmaxx, bminy, bmaxy = buffer_rect(
            minx.to_numpy(dtype=np.float64, na_value=np.nan),
            maxx.to_numpy(dtype=np.float64, na_value=np.nan),
            miny.to_numpy(dtype=np.float64, na_value=np.nan),
            maxy.to_numpy(dtype=np.float64, na_value=np.nan), d)
        bad_y = rc & (bminy > bmaxy)  # MakeRectangle throws (shrink
        rc = rc & ~bad_y              # past collapse, negative d)
        err[bad_y] = "st_buffer: maxY must be >= minY (InvalidShape)"
        for nm, v in (("minx", bminx), ("maxx", bmaxx),
                      ("miny", bminy), ("maxy", bmaxy)):
            out[nm][rc] = v[rc]
        okind[rc] = 2
    oxs: list = [None] * n
    oys: list = [None] * n
    ln = k == 4
    if ln.any():
        r0 = radius.to_numpy(dtype=np.float64, na_value=np.nan)
        for i in np.nonzero(ln)[0]:
            if xs.iloc[i] is None or ys.iloc[i] is None:
                err[i] = "st_buffer: line without vertex arrays"
                continue
            vx = np.asarray(xs.iloc[i], dtype=np.float64)
            vy = np.asarray(ys.iloc[i], dtype=np.float64)
            if vx.size == 0:
                err[i] = "st_buffer: empty linestring"
                continue
            nb = (0.0 if np.isnan(r0[i]) else r0[i]) + d[i]
            dl = float(lon_degrees_at_lat(np.abs(vy).max(), nb))
            out["radius"][i] = nb
            out["minx"][i] = max(-180.0, vx.min() - dl)
            out["maxx"][i] = min(180.0, vx.max() + dl)
            out["miny"][i] = max(-90.0, vy.min() - nb)
            out["maxy"][i] = min(90.0, vy.max() + nb)
            oxs[i] = vx.tolist()
            oys[i] = vy.tolist()
            okind[i] = 4
    oro: list = [None] * n
    pg = (k == 7) | (k == 8)
    if pg.any():
        kk = k  # original kinds, for pass-through of 7 vs 8
        for i in np.nonzero(pg)[0]:
            if xs.iloc[i] is None or ys.iloc[i] is None:
                err[i] = "st_buffer: polygon without vertex arrays"
                continue
            vx = np.asarray(xs.iloc[i], dtype=np.float64)
            vy = np.asarray(ys.iloc[i], dtype=np.float64)
            ro = (None if ring_offsets.iloc[i] is None
                  else np.asarray(ring_offsets.iloc[i], dtype=np.int64))
            try:
                bx, by, boff, _ = buffer_polygon(vx, vy, ro, d[i])
            except ValueError as e:
                err[i] = f"st_buffer: {e}"
                continue
            if len(bx) == 0:
                okind[i] = 0  # fully eroded -> EMPTY (NTS empty result)
                continue
            if d[i] >= 0.0:
                # analytic: the buffer touches vertex bbox +- d exactly
                out["minx"][i] = max(-180.0, vx.min() - d[i])
                out["maxx"][i] = min(180.0, vx.max() + d[i])
                out["miny"][i] = max(-90.0, vy.min() - d[i])
                out["maxy"][i] = min(90.0, vy.max() + d[i])
            else:
                # erosion: extremes live on output vertices (offset
                # segments; arcs are concave toward the region)
                out["minx"][i] = bx.min()
                out["maxx"][i] = bx.max()
                out["miny"][i] = by.min()
                out["maxy"][i] = by.max()
            oxs[i] = bx.tolist()
            oys[i] = by.tolist()
            oro[i] = list(boff)
            okind[i] = kk[i]
    # original kind masks (pt/ci/rc exclude invalid-result rows that
    # already carry their own error): unsupported = no known kind
    bad = ~((k == 1) | (k == 3) | (k == 2) | ln | pg)
    if bad.any():
        err[bad] = "st_buffer: unsupported shape kind"
    cols = {"kind": okind}
    for f in SHAPE_FIELDS:
        if f.name == "kind":
            continue
        if f.name == "xs":
            cols[f.name] = oxs
        elif f.name == "ys":
            cols[f.name] = oys
        elif f.name == "ring_offsets":
            cols[f.name] = oro
        elif f.name == "error":
            cols[f.name] = err
        else:
            v = out[f.name]
            cols[f.name] = np.where(np.isnan(v), None, v)
    return pd.DataFrame(cols)


_CENTER_SCHEMA = StructType([StructField("x", DoubleType()),
                             StructField("y", DoubleType())])


@pandas_udf(_CENTER_SCHEMA)
def st_center(kind: pd.Series, x: pd.Series, y: pd.Series,
              minx: pd.Series, maxx: pd.Series,
              miny: pd.Series, maxy: pd.Series,
              xs: pd.Series, ys: pd.Series,
              ring_offsets: pd.Series) -> pd.DataFrame:
    """GetCenter for shape structs.

    point/circle -> the point itself (CircleImpl.cs:62); rect and the
    bbox-centered kinds (line, multipoint, mls, collection) -> the
    dateline-aware bbox midpoint (RectangleImpl.cs:304-315,
    BufferedLine.cs:233, ShapeCollection.cs:101); (multi)polygon ->
    NTS area centroid with even-odd holes and the areal->lineal->
    puntal degenerate fallback (NtsGeometry.cs:200-210). Empty ->
    null/null (the reference's (nan, nan) point)."""
    from ..kernels.centroid import center_batch
    cx, cy = center_batch(
        kind.to_numpy(dtype=np.int8, na_value=0),
        x.to_numpy(dtype=np.float64, na_value=np.nan),
        y.to_numpy(dtype=np.float64, na_value=np.nan),
        minx.to_numpy(dtype=np.float64, na_value=np.nan),
        maxx.to_numpy(dtype=np.float64, na_value=np.nan),
        miny.to_numpy(dtype=np.float64, na_value=np.nan),
        maxy.to_numpy(dtype=np.float64, na_value=np.nan),
        xs.tolist(), ys.tolist(), ring_offsets.tolist())
    return pd.DataFrame({"x": np.where(np.isnan(cx), None, cx),
                         "y": np.where(np.isnan(cy), None, cy)})


@pandas_udf(DoubleType())
def _st_area_geo(kind: pd.Series, radius: pd.Series,
                 minx: pd.Series, maxx: pd.Series,
                 miny: pd.Series, maxy: pd.Series,
                 xs: pd.Series, ys: pd.Series,
                 ring_offsets: pd.Series) -> pd.Series:
    from ..kernels.area import shape_area_batch
    return pd.Series(shape_area_batch(
        kind.to_numpy(dtype=np.int8, na_value=0),
        radius.to_numpy(dtype=np.float64, na_value=np.nan),
        minx.to_numpy(dtype=np.float64, na_value=np.nan),
        maxx.to_numpy(dtype=np.float64, na_value=np.nan),
        miny.to_numpy(dtype=np.float64, na_value=np.nan),
        maxy.to_numpy(dtype=np.float64, na_value=np.nan),
        xs.tolist(), ys.tolist(), ring_offsets.tolist(), True))


@pandas_udf(DoubleType())
def _st_area_euclid(kind: pd.Series, radius: pd.Series,
                    minx: pd.Series, maxx: pd.Series,
                    miny: pd.Series, maxy: pd.Series,
                    xs: pd.Series, ys: pd.Series,
                    ring_offsets: pd.Series) -> pd.Series:
    from ..kernels.area import shape_area_batch
    return pd.Series(shape_area_batch(
        kind.to_numpy(dtype=np.int8, na_value=0),
        radius.to_numpy(dtype=np.float64, na_value=np.nan),
        minx.to_numpy(dtype=np.float64, na_value=np.nan),
        maxx.to_numpy(dtype=np.float64, na_value=np.nan),
        miny.to_numpy(dtype=np.float64, na_value=np.nan),
        maxy.to_numpy(dtype=np.float64, na_value=np.nan),
        xs.tolist(), ys.tolist(), ring_offsets.tolist(), False))


def st_has_area_col(shape):
    """IShape.HasArea as a pure Column over the shape struct:
    point/multipoint false (PointImpl.cs:81), rect maxX!=minX &&
    maxY!=minY (RectangleImpl.cs:116), circle radius>0
    (CircleImpl.cs:88), buffered line(string) buf>0
    (BufferedLine.cs:224 via the segment collection), (multi)polygon
    true (NtsGeometry: dimension-2 geometry), collection true iff its
    merged bbox has area (flat records drop members; exact member-any
    needs the parse-level member list), empty false."""
    k = shape["kind"]
    bbox_area = ((shape["maxx"] != shape["minx"])
                 & (shape["maxy"] != shape["miny"]))
    return (F.when(k == 2, bbox_area)
             .when(k == 3, shape["radius"] > 0)
             .when((k == 4) | (k == 6),
                   F.coalesce(shape["radius"] > 0, F.lit(False)))
             .when((k == 7) | (k == 8), F.lit(True))
             .when(k == 9, bbox_area)
             .otherwise(F.lit(False)))


def st_is_empty_col(shape):
    """IShape.IsEmpty as a pure Column (kind 0 = the NaN-coordinate
    empty record, Shape.cs:93-96)."""
    return shape["kind"] == 0


def st_area(kind, radius, minx, maxx, miny, maxy, xs, ys, ring_offsets,
            geo: bool = True):
    """GetArea(ctx) for shape structs — geo=True is the spherical
    context, geo=False the Euclidean (ctx=null) branch. Dispatch per
    kind: point 0, rect band/W*H, circle cap/pi r^2, buffered line
    segment-sum capped at the bbox area, (multi)polygon euclid shoelace
    scaled by filledRatio * geo bbox area (NtsGeometry.cs:184-196).
    Collection/empty -> null (flat records drop member structure; sum
    member areas with the ShapeCollection cap rule instead)."""
    f = _st_area_geo if geo else _st_area_euclid
    return f(kind, radius, minx, maxx, miny, maxy, xs, ys, ring_offsets)


def rect_center_cols(minx, maxx, miny, maxy):
    """JVM twin of the rect branch of `st_center` for hot paths: pure
    Column expressions (stay inside WholeStageCodegen, no Arrow
    exchange). Same float op order as kernels.centroid.rect_center so
    values are bit-identical (asserted in tests/test_center.py).
    Returns (cx, cy) Columns."""
    wrapped = maxx < minx
    w = F.when(wrapped, maxx - minx + F.lit(360.0)).otherwise(maxx - minx)
    raw = minx + w / F.lit(2.0)
    # norm_lon_deg (DistanceUtils.cs:290-301): in-range passthrough,
    # else -180 + pythonic-mod(lon + 180, 360), exact multiple -> +180
    off = F.pmod(raw + F.lit(180.0), F.lit(360.0))
    norm = (F.when((raw >= -180.0) & (raw <= 180.0), raw)
             .when((off == 0.0) & (raw > 0.0), F.lit(180.0))
             .otherwise(F.lit(-180.0) + off))
    cx = F.when(wrapped, norm).otherwise(raw)
    cy = miny + (maxy - miny) / F.lit(2.0)
    return cx, cy


@pandas_udf(ByteType())
def st_relate_polygon_polygon(axs: pd.Series, ays: pd.Series,
                              aro: pd.Series,
                              bxs: pd.Series, bys: pd.Series,
                              bro: pd.Series) -> pd.Series:
    """A.Relate(B) for two (multi)polygons, COVERS semantics
    (NtsGeometry.cs:283-314 DE-9IM -> SpatialRelation mapping,
    exact split-probe covers test in kernels.pip)."""
    from ..kernels.pip import relate_polygon_polygon
    out = np.empty(len(axs), dtype=np.int8)
    for i in range(len(axs)):
        ar = aro.iloc[i]
        br = bro.iloc[i]
        out[i] = relate_polygon_polygon(
            np.asarray(axs.iloc[i]), np.asarray(ays.iloc[i]),
            np.asarray(ar) if ar is not None else None,
            np.asarray(bxs.iloc[i]), np.asarray(bys.iloc[i]),
            np.asarray(br) if br is not None else None)
    return pd.Series(out)


@pandas_udf(DoubleType())
def st_intersection_area(axs: pd.Series, ays: pd.Series, aro: pd.Series,
                         bxs: pd.Series, bys: pd.Series,
                         bro: pd.Series) -> pd.Series:
    """Exact planar area (deg^2) of A ∩ B for even-odd (multi)polygon
    pairs — the overlay-join refine (kernels/overlay.py: Green's
    theorem over boundary sub-segments; robust to holes, multiparts,
    shared edges and A == B, no degenerate bailout)."""
    from ..kernels.overlay import intersection_area
    out = np.empty(len(axs), dtype=np.float64)
    for i in range(len(axs)):
        ar = aro.iloc[i]
        br = bro.iloc[i]
        out[i] = intersection_area(
            np.asarray(axs.iloc[i]), np.asarray(ays.iloc[i]),
            np.asarray(ar) if ar is not None else None,
            np.asarray(bxs.iloc[i]), np.asarray(bys.iloc[i]),
            np.asarray(br) if br is not None else None)
    return pd.Series(out)


def _shape_area_pages(kind, minx, maxx, miny, maxy, xs, ys, ro):
    """Shape -> list of planar (xs, ys, ring_offsets) pages for the
    overlay area kernel. Rects unwrap at the dateline into up to two
    pages; polygons arrive already page-split from the WKT parser.
    Returns None for kinds without a polygonal footprint the kernel
    can measure (circle/collection/empty); measure-zero kinds
    (point/line) return []."""
    import numpy as _np
    if kind == 2:
        pages = ([((minx, 180.0), (miny, maxy)), ((-180.0, maxx), (miny, maxy))]
                 if minx > maxx else [((minx, maxx), (miny, maxy))])
        out = []
        for (x0, x1), (y0, y1) in pages:
            out.append((_np.asarray([x0, x1, x1, x0]),
                        _np.asarray([y0, y0, y1, y1]), None))
        return out
    if kind in (7, 8):
        return [(_np.asarray(xs), _np.asarray(ys),
                 _np.asarray(ro) if ro is not None else None)]
    if kind in (1, 4, 5, 6):
        return []
    return None


@pandas_udf(DoubleType())
def st_shape_intersection_area(akind: pd.Series, aminx: pd.Series,
                               amaxx: pd.Series, aminy: pd.Series,
                               amaxy: pd.Series, axs: pd.Series,
                               ays: pd.Series, aro: pd.Series,
                               bkind: pd.Series, bminx: pd.Series,
                               bmaxx: pd.Series, bminy: pd.Series,
                               bmaxy: pd.Series, bxs: pd.Series,
                               bys: pd.Series, bro: pd.Series) -> pd.Series:
    """Kind-dispatching intersection area (deg^2) over shape structs:
    rect x rect / rect x polygon / polygon x polygon, dateline-crossing
    rects paged. Measure-zero kinds (point/line) give 0.0; kinds
    without a polygonal footprint (circle/collection/empty) give null."""
    from ..kernels.overlay import intersection_area
    out = np.full(len(akind), np.nan, dtype=np.float64)
    for i in range(len(akind)):
        pa = _shape_area_pages(akind.iloc[i], aminx.iloc[i], amaxx.iloc[i],
                               aminy.iloc[i], amaxy.iloc[i],
                               axs.iloc[i], ays.iloc[i], aro.iloc[i])
        pb = _shape_area_pages(bkind.iloc[i], bminx.iloc[i], bmaxx.iloc[i],
                               bminy.iloc[i], bmaxy.iloc[i],
                               bxs.iloc[i], bys.iloc[i], bro.iloc[i])
        if pa is None or pb is None:
            continue
        out[i] = sum(intersection_area(p[0], p[1], p[2], q[0], q[1], q[2])
                     for p in pa for q in pb) if pa and pb else 0.0
    return pd.Series(out)


@pandas_udf(SHAPE_SCHEMA)
def st_intersection(akind: pd.Series, aminx: pd.Series, amaxx: pd.Series,
                    aminy: pd.Series, amaxy: pd.Series, axs: pd.Series,
                    ays: pd.Series, aro: pd.Series,
                    bkind: pd.Series, bminx: pd.Series, bmaxx: pd.Series,
                    bminy: pd.Series, bmaxy: pd.Series, bxs: pd.Series,
                    bys: pd.Series, bro: pd.Series) -> pd.DataFrame:
    """Intersection GEOMETRY of two polygons/rects as a shape struct —
    concave, HOLED, MULTIPART and dateline-paged inputs included
    (round 5: kernels/booleans.intersect_evenodd, the member-algebra
    extension of the Greiner–Hormann kernels — the r4 version accepted
    only simple single rings). kind 7 for one output member
    (shell + holes), kind 8 for several (interlocking C-shapes,
    multipart inputs, hole-pinched islands), kind 0 (EMPTY) for a
    disjoint pair. Dateline-crossing rects page-split like the WKT
    parser, so paged inputs meet paged outputs consistently.

    Honest contract: degenerate boundary contact (shared vertices,
    collinear overlapping edges) still returns an error row — the
    exact MEASURE for those inputs is `st_intersection_area` /
    `st_overlay_measure`, which has no such bailout."""
    from ..kernels.booleans import intersect_evenodd
    return _boolean_geometry_frame(
        intersect_evenodd,
        (akind, aminx, amaxx, aminy, amaxy, axs, ays, aro),
        (bkind, bminx, bmaxx, bminy, bmaxy, bxs, bys, bro),
        robust_op="and")


@pandas_udf(SHAPE_SCHEMA)
def st_difference(akind: pd.Series, aminx: pd.Series, amaxx: pd.Series,
                  aminy: pd.Series, amaxy: pd.Series, axs: pd.Series,
                  ays: pd.Series, aro: pd.Series,
                  bkind: pd.Series, bminx: pd.Series, bmaxx: pd.Series,
                  bminy: pd.Series, bmaxy: pd.Series, bxs: pd.Series,
                  bys: pd.Series, bro: pd.Series) -> pd.DataFrame:
    """Difference GEOMETRY A \\ B as a shape struct (round 5 —
    completes the boolean set: union at parse/dissolve, intersection,
    difference). Same input coverage and error contract as
    `st_intersection`; kernels/booleans.difference_evenodd. The scalar
    twin `st_difference_area` remains the no-bailout MEASURE."""
    from ..kernels.booleans import difference_evenodd
    return _boolean_geometry_frame(
        difference_evenodd,
        (akind, aminx, amaxx, aminy, amaxy, axs, ays, aro),
        (bkind, bminx, bmaxx, bminy, bmaxy, bxs, bys, bro),
        robust_op="sub")


@pandas_udf(SHAPE_SCHEMA)
def st_union(akind: pd.Series, aminx: pd.Series, amaxx: pd.Series,
             aminy: pd.Series, amaxy: pd.Series, axs: pd.Series,
             ays: pd.Series, aro: pd.Series,
             bkind: pd.Series, bminx: pd.Series, bmaxx: pd.Series,
             bminy: pd.Series, bmaxy: pd.Series, bxs: pd.Series,
             bys: pd.Series, bro: pd.Series) -> pd.DataFrame:
    """Union GEOMETRY A ∪ B as a shape struct (round 5). REGION-exact
    for concave/holed/multipart/paged pairs (even-odd parity == in-A
    or in-B); the boundary keeps seam arcs where B\\A pieces meet ∂A —
    see kernels/booleans.union_evenodd. For a clean dissolved boundary
    on crossing single-ring members use `dissolve` / the parser's
    multi-overlap union; same degenerate-contact error contract as
    st_intersection."""
    from ..kernels.booleans import union_evenodd
    return _boolean_geometry_frame(
        union_evenodd,
        (akind, aminx, amaxx, aminy, amaxy, axs, ays, aro),
        (bkind, bminx, bmaxx, bminy, bmaxy, bxs, bys, bro),
        robust_op="or", robust_first=True)


@pandas_udf(SHAPE_SCHEMA)
def st_sym_difference(akind: pd.Series, aminx: pd.Series, amaxx: pd.Series,
                      aminy: pd.Series, amaxy: pd.Series, axs: pd.Series,
                      ays: pd.Series, aro: pd.Series,
                      bkind: pd.Series, bminx: pd.Series, bmaxx: pd.Series,
                      bminy: pd.Series, bmaxy: pd.Series, bxs: pd.Series,
                      bys: pd.Series, bro: pd.Series) -> pd.DataFrame:
    """Symmetric difference GEOMETRY A △ B (round 5 — closes the
    boolean algebra: union, intersection, difference, symmetric
    difference). (A\\B) ⊔ (B\\A), disjoint member concat; same input
    coverage and error contract as st_intersection."""
    from ..kernels.booleans import sym_difference_evenodd
    return _boolean_geometry_frame(
        sym_difference_evenodd,
        (akind, aminx, amaxx, aminy, amaxy, axs, ays, aro),
        (bkind, bminx, bmaxx, bminy, bmaxy, bxs, bys, bro),
        robust_op="xor", robust_first=True)


def _boolean_geometry_frame(op, a_cols, b_cols, robust_op=None,
                            robust_first=False) -> pd.DataFrame:
    """Shared per-row driver for the boolean geometry UDFs: shape
    structs -> even-odd rings -> member op -> closed-ring struct.

    `robust_op` names the boundary-selection overlay op (round 5,
    kernels/booleans.robust_boolean) used when the GH member algebra
    hits degenerate boundary contact — shared vertices and collinear
    overlapping edges (adjacent parcels!) now produce geometry instead
    of error rows. `robust_first=True` makes it the PRIMARY path
    (union / symmetric difference: the member-algebra composition
    leaves seam arcs, the boundary selection is canonical), with the
    member algebra as ITS fallback."""
    from ..kernels.booleans import members_of_robust, robust_boolean
    akind = a_cols[0]

    def _run(rings_a, rings_b):
        def gh():
            return op(rings_a, rings_b)

        def robust():
            if robust_op is None:
                return None
            r = robust_boolean(rings_a, rings_b, robust_op)
            return None if r is None else members_of_robust(r)
        first, second = (robust, gh) if robust_first else (gh, robust)
        m = first()
        return m if m is not None else second()
    rows = []
    for i in range(len(akind)):
        try:
            rings_a = _evenodd_rings(*(c.iloc[i] for c in a_cols))
            rings_b = _evenodd_rings(*(c.iloc[i] for c in b_cols))
        except ValueError as e:
            rows.append(dict(_EMPTY_ROW, error=str(e)))
            continue
        members = _run(rings_a, rings_b)
        if members is None:
            rows.append(dict(_EMPTY_ROW,
                             error="degenerate boundary contact"))
            continue
        if not members:
            rows.append(dict(_EMPTY_ROW, error=None))
            continue
        xs_out, ys_out, offs = [], [], [0]
        for shell, holes in members:
            for rx, ry in [shell] + holes:
                # emit closed rings, matching the WKT parser convention
                xs_out.extend(rx.tolist() + [float(rx[0])])
                ys_out.extend(ry.tolist() + [float(ry[0])])
                offs.append(len(xs_out))
        rows.append(dict(
            kind=8 if len(members) > 1 else 7, x=None, y=None, radius=None,
            minx=min(xs_out), maxx=max(xs_out),
            miny=min(ys_out), maxy=max(ys_out),
            xs=xs_out, ys=ys_out, ring_offsets=offs, error=None))
    return pd.DataFrame(rows)


def _evenodd_rings(kind, minx, maxx, miny, maxy, xs, ys, ro):
    """Even-odd ring list [(xs, ys), ...] from a shape struct, or
    ValueError for kinds without polygonal geometry. Dateline-crossing
    rects page-split into two rings (the WKT parser's convention);
    EMPTY (kind 0) is the empty ring set — the boolean member algebra
    then gives NTS parity for free (A ∩ ∅ = ∅, A \\ ∅ = A ∪ ∅ = A)."""
    if kind == 0:
        return []
    if kind == 2:
        pages = ([((minx, 180.0), (miny, maxy)),
                  ((-180.0, maxx), (miny, maxy))]
                 if minx > maxx else [((minx, maxx), (miny, maxy))])
        return [(np.asarray([x0, x1, x1, x0], dtype=np.float64),
                 np.asarray([y0, y0, y1, y1], dtype=np.float64))
                for (x0, x1), (y0, y1) in pages]
    if kind not in (7, 8):
        raise ValueError(f"st_intersection needs polygons/rects,"
                         f" got kind {int(kind)}")
    rx = np.asarray(xs, dtype=np.float64)
    ry = np.asarray(ys, dtype=np.float64)
    offs = (np.asarray(ro, dtype=np.int64) if ro is not None
            else np.asarray([0, len(rx)], dtype=np.int64))
    out = []
    for k in range(len(offs) - 1):
        gx, gy = rx[offs[k]:offs[k + 1]], ry[offs[k]:offs[k + 1]]
        if len(gx) >= 2 and gx[0] == gx[-1] and gy[0] == gy[-1]:
            gx, gy = gx[:-1], gy[:-1]
        if len(gx) < 3:
            raise ValueError("degenerate ring (<3 vertices)")
        out.append((gx, gy))
    return out


_OVERLAY_MEASURE_SCHEMA = StructType([
    StructField("inter", DoubleType()),
    StructField("a_area", DoubleType()),
    StructField("b_area", DoubleType()),
])


@pandas_udf(_OVERLAY_MEASURE_SCHEMA)
def st_overlay_measure(akind: pd.Series, aminx: pd.Series,
                       amaxx: pd.Series, aminy: pd.Series,
                       amaxy: pd.Series, axs: pd.Series,
                       ays: pd.Series, aro: pd.Series,
                       bkind: pd.Series, bminx: pd.Series,
                       bmaxx: pd.Series, bminy: pd.Series,
                       bmaxy: pd.Series, bxs: pd.Series,
                       bys: pd.Series, bro: pd.Series) -> pd.DataFrame:
    """Fused overlay measure: intersection area + both own areas in ONE
    Arrow exchange (the with_fracs overlay path would otherwise ship
    the pair's vertex arrays through three separate UDF stages)."""
    from ..kernels.overlay import intersection_area, polygon_area_evenodd
    n = len(akind)
    inter = np.full(n, np.nan, dtype=np.float64)
    a_area = np.full(n, np.nan, dtype=np.float64)
    b_area = np.full(n, np.nan, dtype=np.float64)

    def own(pages):
        if pages is None:
            return np.nan
        return sum(polygon_area_evenodd(p[0], p[1], p[2]) for p in pages)

    for i in range(n):
        pa = _shape_area_pages(akind.iloc[i], aminx.iloc[i], amaxx.iloc[i],
                               aminy.iloc[i], amaxy.iloc[i],
                               axs.iloc[i], ays.iloc[i], aro.iloc[i])
        pb = _shape_area_pages(bkind.iloc[i], bminx.iloc[i], bmaxx.iloc[i],
                               bminy.iloc[i], bmaxy.iloc[i],
                               bxs.iloc[i], bys.iloc[i], bro.iloc[i])
        a_area[i] = own(pa)
        b_area[i] = own(pb)
        if pa is None or pb is None:
            continue
        inter[i] = sum(intersection_area(p[0], p[1], p[2], q[0], q[1], q[2])
                       for p in pa for q in pb) if pa and pb else 0.0
    return pd.DataFrame({"inter": inter, "a_area": a_area, "b_area": b_area})


def st_difference_area(akind, aminx, amaxx, aminy, amaxy, axs, ays, aro,
                       bkind, bminx, bmaxx, bminy, bmaxy, bxs, bys, bro):
    """Planar area (deg^2) of A \\ B — pure composition, no new kernel:
    area(A) - area(A ∩ B), both terms from the fused overlay measure
    (ONE Arrow exchange). Exact wherever the measure is."""
    m = st_overlay_measure(akind, aminx, amaxx, aminy, amaxy, axs, ays, aro,
                           bkind, bminx, bmaxx, bminy, bmaxy, bxs, bys, bro)
    return m["a_area"] - m["inter"]


def rect_intersection_area_cols(aminx, amaxx, aminy, amaxy,
                                bminx, bmaxx, bminy, bmaxy,
                                geo: bool = True):
    """Planar intersection area (deg^2) of two rects as a PURE Column
    expression (JVM codegen, no Python).

    Dateline-aware: a geo rect with minX > maxX is the arc
    [minX, minX + width] with width = maxX - minX + 360
    (RectangleImpl.cs:134-147). The overlap LENGTH of two arcs on the
    longitude circle is the shifted-interval sum

        Σ_{s ∈ {-360, 0, +360}} max(0, min(a1, b1+s) - max(a0, b0+s))

    which is exact for arc widths ≤ 360 (a world-wrapping side and a
    two-component overlap both fall out of the same three terms).
    Mirrored verbatim by the SQL oracle (contract._rect_inter_area_sql)
    so engine and oracle agree bit-for-bit before rounding."""
    aw = amaxx - aminx
    bw = bmaxx - bminx
    if geo:
        aw = F.when(aw < 0, aw + 360.0).otherwise(aw)
        bw = F.when(bw < 0, bw + 360.0).otherwise(bw)
    a1 = aminx + aw
    b1 = bminx + bw
    zero = F.lit(0.0)
    if geo:
        x_ov = zero
        for s in (-360.0, 0.0, 360.0):
            x_ov = x_ov + F.greatest(
                zero, F.least(a1, b1 + s) - F.greatest(aminx, bminx + s))
    else:
        x_ov = F.greatest(zero, F.least(a1, b1) - F.greatest(aminx, bminx))
    y_ov = F.greatest(zero, F.least(amaxy, bmaxy) - F.greatest(aminy, bminy))
    return x_ov * y_ov


def make_st_to_wkt(decimals: int | None = None):
    """WKT formatter UDF factory (shape struct -> text)."""
    @pandas_udf(StringType())
    def _to_wkt(kind: pd.Series, x: pd.Series, y: pd.Series,
                radius: pd.Series, minx: pd.Series, maxx: pd.Series,
                miny: pd.Series, maxy: pd.Series, xs: pd.Series,
                ys: pd.Series, ring_offsets: pd.Series) -> pd.Series:
        out = []
        for i in range(len(kind)):
            out.append(_wkt.format_wkt(
                int(kind.iloc[i]), x.iloc[i], y.iloc[i], radius.iloc[i],
                minx.iloc[i], maxx.iloc[i], miny.iloc[i], maxy.iloc[i],
                xs.iloc[i], ys.iloc[i], ring_offsets.iloc[i], decimals))
        return pd.Series(out)
    return _to_wkt


def st_to_wkt(shape_col, decimals: int | None = None):
    s = shape_col
    return make_st_to_wkt(decimals)(
        s["kind"], s["x"], s["y"], s["radius"], s["minx"], s["maxx"],
        s["miny"], s["maxy"], s["xs"], s["ys"], s["ring_offsets"])


@pandas_udf(ByteType())
def st_relate_x_range(minx: pd.Series, maxx: pd.Series,
                      eminx: pd.Series, emaxx: pd.Series) -> pd.Series:
    """1-D longitude interval relate, dateline-aware
    (RectangleImpl.RelateXRange, :259-297)."""
    from ..kernels.relate_rect import relate_x_range
    return pd.Series(relate_x_range(minx.to_numpy(), maxx.to_numpy(),
                                    eminx.to_numpy(), emaxx.to_numpy(),
                                    geo=True))


@pandas_udf(ByteType())
def st_relate_y_range(miny: pd.Series, maxy: pd.Series,
                      eminy: pd.Series, emaxy: pd.Series) -> pd.Series:
    """1-D latitude interval relate (RectangleImpl.RelateYRange :254-257)."""
    from ..kernels.relate_rect import relate_y_range
    return pd.Series(relate_y_range(miny.to_numpy(), maxy.to_numpy(),
                                    eminy.to_numpy(), emaxy.to_numpy()))


@pandas_udf(DoubleType())
def st_cartesian_distance(x1: pd.Series, y1: pd.Series, x2: pd.Series,
                          y2: pd.Series) -> pd.Series:
    """Euclidean distance (CartesianDistCalc.cs:51-62)."""
    from ..kernels.distance import cartesian_distance
    return pd.Series(cartesian_distance(x1.to_numpy(), y1.to_numpy(),
                                        x2.to_numpy(), y2.to_numpy()))


@pandas_udf(DoubleType())
def st_cartesian_distance_sq(x1: pd.Series, y1: pd.Series, x2: pd.Series,
                             y2: pd.Series) -> pd.Series:
    """Squared distance — the sort-only optimization
    (CartesianDistCalc.cs:36-49)."""
    from ..kernels.distance import cartesian_distance
    return pd.Series(cartesian_distance(x1.to_numpy(), y1.to_numpy(),
                                        x2.to_numpy(), y2.to_numpy(),
                                        squared=True))


@pandas_udf(_DEST_SCHEMA)
def st_cartesian_point_on_bearing(x: pd.Series, y: pd.Series,
                                  dist: pd.Series,
                                  bearing_deg: pd.Series) -> pd.DataFrame:
    """Planar destination point (CartesianDistCalc.cs:70-91)."""
    from ..kernels.bearing import cartesian_point_on_bearing
    x2, y2 = cartesian_point_on_bearing(x.to_numpy(), y.to_numpy(),
                                        dist.to_numpy(),
                                        bearing_deg.to_numpy())
    return pd.DataFrame({"x2": x2, "y2": y2})


_UNITS_SCHEMA = StructType([
    StructField("deg", DoubleType()), StructField("km_rt", DoubleType()),
    StructField("rad", DoubleType()), StructField("mi", DoubleType()),
    StructField("km_from_mi", DoubleType()),
])


@pandas_udf(_UNITS_SCHEMA)
def st_units(dist_km: pd.Series) -> pd.DataFrame:
    """Unit conversions (DistanceUtils.cs:589-638 + the :95-112 mile
    constants, all exact): km -> degrees, round-trip back to km,
    degrees -> radians, km -> miles and back."""
    from ..kernels.normalize import (KM_TO_MILES, MILES_TO_KM,
                                     degrees_to_dist, dist_to_degrees,
                                     to_radians)
    km = dist_km.to_numpy()
    deg = dist_to_degrees(km)
    mi = km * KM_TO_MILES
    return pd.DataFrame({"deg": deg, "km_rt": degrees_to_dist(deg),
                         "rad": to_radians(deg), "mi": mi,
                         "km_from_mi": mi * MILES_TO_KM})


def st_vector_distance(vec1, vec2, power: float):
    """p-norm between two array<double> columns as a PURE Column
    expression (DistanceUtils.cs:123-189 special-case ladder: power=0
    counts differing components, 1 = Manhattan, 2 = Euclidean with
    sqrt, else generic p-norm with the 1/power root). Stays in
    whole-stage codegen — the embedding-distance hot path never needs
    an Arrow exchange for this."""
    p = float(power)
    if p == 0.0:
        term = lambda x, y: F.when(x == y, F.lit(0.0)).otherwise(F.lit(1.0))
    elif p == 1.0:
        term = lambda x, y: F.abs(x - y)
    elif p == 2.0:
        term = lambda x, y: (x - y) * (x - y)
    else:
        term = lambda x, y: F.pow(F.abs(x - y), F.lit(p))
    s = F.aggregate(F.zip_with(vec1, vec2, term), F.lit(0.0),
                    lambda acc, v: acc + v)
    if p in (0.0, 1.0):
        return s
    if p == 2.0:
        return F.sqrt(s)
    return F.pow(s, F.lit(1.0 / p))


def vector_box_corner_cols(center_cols, distance, upper_right: bool):
    """JVM VectorBoxCorner (DistanceUtils.cs:191-211): each coordinate
    Column moves by sin(45deg) * distance (negated for lower-left)."""
    from pyspark.sql import Column

    from ..kernels.distance import SIN_45_AS_RADS
    d = distance if isinstance(distance, Column) else F.lit(float(distance))
    d = F.lit(SIN_45_AS_RADS) * d
    if not upper_right:
        d = -d
    return [c + d for c in center_cols]


_HAV_VIN_SCHEMA = StructType([
    StructField("hav", DoubleType()), StructField("vin", DoubleType()),
])


@pandas_udf(_HAV_VIN_SCHEMA)
def st_hav_vin(x1: pd.Series, y1: pd.Series, x2: pd.Series,
               y2: pd.Series) -> pd.DataFrame:
    """Haversine + Vincenty in ONE Arrow pass (the kNN filter and the
    exact re-rank share the batch transfer)."""
    a = (x1.to_numpy(), y1.to_numpy(), x2.to_numpy(), y2.to_numpy())
    return pd.DataFrame({"hav": _geo_dist(*a, "haversine"),
                         "vin": _geo_dist(*a, "vincentySphere")})


from pyspark.sql.types import BinaryType  # noqa: E402


@pandas_udf(BinaryType())
def st_to_binary(kind: pd.Series, x: pd.Series, y: pd.Series,
                 radius: pd.Series, minx: pd.Series, maxx: pd.Series,
                 miny: pd.Series, maxy: pd.Series,
                 xs: pd.Series, ys: pd.Series,
                 ring_offsets: pd.Series) -> pd.Series:
    """Shape -> reference-layout bytes (Io/BinaryCodec.cs:158-234;
    geometry kinds via the WKB branch, Io/Nts/NtsBinaryCodec.cs)."""
    from ..kernels import binary as _bin
    out = []
    for i in range(len(kind)):
        vx = xs.iloc[i]
        ro = ring_offsets.iloc[i]
        out.append(_bin.write_shape(dict(
            kind=int(kind.iloc[i]), x=x.iloc[i], y=y.iloc[i],
            radius=radius.iloc[i], minx=minx.iloc[i], maxx=maxx.iloc[i],
            miny=miny.iloc[i], maxy=maxy.iloc[i],
            xs=list(vx) if vx is not None else None,
            ys=list(ys.iloc[i]) if vx is not None else None,
            ring_offsets=list(ro) if ro is not None else None)))
    return pd.Series(out)


@pandas_udf(SHAPE_SCHEMA)
def st_from_binary(blobs: pd.Series) -> pd.DataFrame:
    """Reference-layout bytes -> shape struct."""
    from ..kernels import binary as _bin
    rows = []
    for b in blobs:
        try:
            rec = _bin.read_shape(bytes(b))
            rows.append({k: rec.get(k) for k in
                         ("kind", "x", "y", "radius", "minx", "maxx",
                          "miny", "maxy")}
                        | {"xs": rec.get("xs") or None,
                           "ys": rec.get("ys") or None,
                           "ring_offsets": rec.get("ring_offsets") or None,
                           "error": None})
        except Exception as e:  # noqa: BLE001
            rows.append(dict(_EMPTY_ROW, error=str(e)[:200]))
    return pd.DataFrame(rows)


_SIMPLIFY_SCHEMA = StructType([
    StructField("xs", ArrayType(DoubleType())),
    StructField("ys", ArrayType(DoubleType())),
    StructField("ring_offsets", ArrayType(IntegerType())),
])


@pandas_udf(_SIMPLIFY_SCHEMA)
def _st_simplify_udf(xs: pd.Series, ys: pd.Series, ring_offsets: pd.Series,
                     tolerance: pd.Series) -> pd.DataFrame:
    from ..kernels import simplify as _simp
    tol = float(tolerance.iloc[0])
    out_x, out_y, out_o = [], [], []
    for i in range(len(xs)):
        vx = xs.iloc[i]
        if vx is None or (hasattr(vx, "__len__") and len(vx) == 0):
            out_x.append(vx)
            out_y.append(ys.iloc[i])
            out_o.append(ring_offsets.iloc[i])
            continue
        sx, sy, so = _simp.simplify_polygon(
            np.asarray(vx, dtype=np.float64),
            np.asarray(ys.iloc[i], dtype=np.float64),
            np.asarray(ring_offsets.iloc[i], dtype=np.int64), tol)
        out_x.append(sx.tolist())
        out_y.append(sy.tolist())
        out_o.append([int(v) for v in so])
    return pd.DataFrame({"xs": out_x, "ys": out_y, "ring_offsets": out_o})


def st_simplify(xs, ys, ring_offsets, tolerance: float):
    """Douglas-Peucker simplification of polygon vertex arrays
    (kernels/simplify.py): per-ring, part structure preserved, every
    dropped vertex within `tolerance` (degrees) of the simplified
    chain. Engine-added scale operator — pre-shrink the build side of
    shape_shape_join when exact-to-tolerance semantics suffice: refine
    cost is O(vertices), and a coastline polygon at tolerance = one
    cell width keeps the same cover cells with 100x fewer vertices."""
    return _st_simplify_udf(xs, ys, ring_offsets, F.lit(float(tolerance)))


def register_sql_functions(spark, prefix: str = "") -> list:
    """Register the Arrow-batched st_* UDFs for Spark SQL text queries
    (`spark.udf.register` surface — the SURVEY §2.6 extensibility row).
    Column-expression builders (st_cell_code_col, st_cover_codes_col)
    are pure Catalyst expressions and need no registration. Returns the
    registered names."""
    udfs = {
        "st_from_wkt": _st_from_wkt_default,
        "st_from_latlon": st_from_latlon,
        "st_from_binary": st_from_binary,
        "st_to_binary": st_to_binary,
        "st_buffer": st_buffer,
        "st_center": st_center,
        "st_area_geo": _st_area_geo,
        "st_area_euclid": _st_area_euclid,
        "st_relate_polygon_polygon": st_relate_polygon_polygon,
        "st_intersection_area": st_intersection_area,
        "st_intersection": st_intersection,
        "st_difference": st_difference,
        "st_union": st_union,
        "st_sym_difference": st_sym_difference,
        "st_overlay_measure": st_overlay_measure,
        "st_relate_polygon_rect": st_relate_polygon_rect,
        "st_relate_polygon_circle": st_relate_polygon_circle,
        "st_simplify": _st_simplify_udf,
    }
    names = []
    for name, fn in udfs.items():
        full = prefix + name
        spark.udf.register(full, fn)
        names.append(full)
    return names


def haversine_deg_jvm(x1, y1, x2, y2):
    """Haversine distance in degrees as a PURE Column expression
    (DistHaversineRAD, DistanceUtils.cs:502-514, in Spark SQL math).

    Java and NumPy libm may differ by ulps on the transcendentals, so
    this is NOT the exactness surface — it exists as a codegen
    PRE-filter: `haversine_deg_jvm(..) <= r + slack` keeps every true
    candidate (slack covers the drift) while the exact kernel filter
    runs only on the survivors. Arrow traffic then scales with the ring
    population, not the cell-cover candidate count.
    """
    lat1, lon1 = F.radians(y1), F.radians(x1)
    lat2, lon2 = F.radians(y2), F.radians(x2)
    hx = F.sin((lon1 - lon2) * 0.5)
    hy = F.sin((lat1 - lat2) * 0.5)
    h = hy * hy + F.cos(lat1) * F.cos(lat2) * hx * hx
    # clamp: rounding can push h a hair past 1 for near-antipodal pairs;
    # sqrt(1-h) would be NaN, the prefilter comparison false, and a true
    # candidate silently dropped (ADVICE r03).
    h = F.least(F.greatest(h, F.lit(0.0)), F.lit(1.0))
    d = F.atan2(F.sqrt(h), F.sqrt(F.lit(1.0) - h)) * 2.0
    return F.degrees(d)


# absolute+relative slack on the JVM prefilter: libm drift is ~1 ulp,
# this is ~1e6 ulps of headroom at planetary magnitudes
JVM_PREFILTER_SLACK = 1e-7
