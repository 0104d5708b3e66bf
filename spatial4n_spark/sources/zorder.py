"""Z-order clustered point layout — the Iceberg sort-order analog.

`sources/bucketed.py` amortizes the JOIN shuffle (bucketBy on the cell
code); this module amortizes the SCAN: points are written range-
partitioned AND sorted by their interleaved-bit cell code, so spatially
close rows land in the same parquet files and row groups. A bbox query
then reads almost nothing:

- each cover cell at level L owns a CONTIGUOUS code range at the
  stored level F (geohash prefix property: [code << 5(F-L),
  (code+1) << 5(F-L)) ) — so a bbox compiles to an OR of a few BETWEEN
  predicates on one int64 column;
- those predicates push down to the parquet reader (PushedFilters),
  which skips whole row groups on min/max stats — the stats are tight
  BECAUSE the file is sorted by the very column being filtered;
- `repartitionByRange` makes entire FILES disjoint in code space, so
  the skip happens at file granularity too.

At 100 TB this is the difference between "scan the planet to answer a
city-bbox query" and "read the files whose code range intersects the
city" — no index structure, just layout + stats + pushdown, all
native Spark/parquet machinery.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import functions as SF
from ..kernels.geohash import cover_codes_bbox

CELL_COL = "cell_id"


def write_zordered(points: DataFrame, path: str, precision: int = 6,
                   n_files: int = 32, x: str = "x", y: str = "y") -> None:
    """Write points clustered by their level-`precision` cell code.

    The code is computed as a pure Column expression (codegen), the
    range partitioner samples it, and rows are sorted inside each
    partition — one shuffle at write time buys min/max-prunable scans
    for every later bbox query. Parquet footer stats do the rest.
    """
    coded = SF.with_cell_code(points, f"`{y}`", f"`{x}`", precision,
                              CELL_COL)
    (coded.repartitionByRange(n_files, F.col(CELL_COL))
          .sortWithinPartitions(CELL_COL)
          .write.mode("overwrite").parquet(path))


def bbox_code_ranges(minx: float, maxx: float, miny: float, maxy: float,
                     stored_precision: int,
                     max_ranges: int = 32) -> list[tuple[int, int]]:
    """Merged, bounded [lo, hi] stored-code ranges covering the bbox.

    The candidate level is picked from the O(1) cover COUNT
    (`cover_counts_bbox`) before any enumeration — a world-size bbox
    must not enumerate millions of fine cells just to discover it needs
    level 1. Cells are then enumerated only at levels whose raw count
    is already <= 8x max_ranges (Morton adjacency merges most of a
    rectangular region's cells into runs, so the merged count lands
    under the cap almost always; one coarsening step is the fallback).
    Each cover cell is one contiguous range of stored codes via the
    prefix property; merging adjacent runs loses no precision.
    """
    from ..kernels.geohash import cover_counts_bbox

    # start at stored_precision itself (shift=0 is a valid cover level):
    # with stored_precision=1 a (stored_precision-1)-start made the range
    # EMPTY, returned [], and read_bbox silently matched zero rows.
    for cover_precision in range(stored_precision, 0, -1):
        n_raw = int(cover_counts_bbox([minx], [maxx], [miny], [maxy],
                                      cover_precision)[0])
        if n_raw > 8 * max_ranges and cover_precision > 1:
            continue
        shift = 5 * (stored_precision - cover_precision)
        codes = sorted(int(c) for c in cover_codes_bbox(
            minx, maxx, miny, maxy, cover_precision))
        ranges: list[list[int]] = []
        for c in codes:
            lo = c << shift
            hi = ((c + 1) << shift) - 1
            if ranges and lo == ranges[-1][1] + 1:
                ranges[-1][1] = hi
            else:
                ranges.append([lo, hi])
        if len(ranges) <= max_ranges or cover_precision == 1:
            return [(lo, hi) for lo, hi in ranges]
    return []


def bbox_code_predicate(minx: float, maxx: float, miny: float, maxy: float,
                        stored_precision: int,
                        max_ranges: int = 32) -> Column:
    """Pushdown-able bbox predicate on the stored cell-code column:
    OR of at most `max_ranges` BETWEEN legs (merged contiguous code
    runs) — every leaf is a plain int64 comparison the parquet reader
    evaluates against row-group min/max stats. The leg count is bounded
    so the Column tree stays shallow whatever the bbox size."""
    legs = [F.col(CELL_COL).between(lo, hi)
            for lo, hi in bbox_code_ranges(minx, maxx, miny, maxy,
                                           stored_precision, max_ranges)]
    if not legs:
        return F.lit(False)
    # balanced OR fold (a left-deep chain deepens the converter stack)
    while len(legs) > 1:
        legs = [legs[i] | legs[i + 1] if i + 1 < len(legs) else legs[i]
                for i in range(0, len(legs), 2)]
    return legs[0]


def read_bbox(spark: SparkSession, path: str,
              minx: float, maxx: float, miny: float, maxy: float,
              stored_precision: int = 6,
              x: str = "x", y: str = "y",
              max_ranges: int = 32) -> DataFrame:
    """Scan a z-ordered layout for a bbox: coarse code-range pruning at
    the parquet reader (row-group min/max skip) + the exact x/y bbox
    filter (also pushed to the scan). Closed-rect semantics, matching
    zonal/PIP rect containment (boundary in)."""
    df = spark.read.parquet(path)
    coarse = bbox_code_predicate(minx, maxx, miny, maxy,
                                 stored_precision, max_ranges)
    if minx <= maxx:
        lon_ok = (F.col(x) >= minx) & (F.col(x) <= maxx)
    else:  # dateline-crossing box: the lon interval wraps at +-180
        lon_ok = (F.col(x) >= minx) | (F.col(x) <= maxx)
    exact = lon_ok & (F.col(y) >= miny) & (F.col(y) <= maxy)
    return df.where(coarse & exact)


def read_shape(spark: SparkSession, path: str, wkt: str,
               stored_precision: int = 6,
               x: str = "x", y: str = "y",
               max_ranges: int = 32) -> DataFrame:
    """Pruned scan for an arbitrary WKT shape: the shape's bbox turns
    into pushed code ranges (row-group skip), then the exact relate
    kernel refines — polygon/circle/line/rect all via the closure
    refine (the single parsed shape rides the UDF closure; the scan
    ships only x, y).

    The composition IS the point of the layout: any shape query costs
    O(bbox ∩ data) scan + O(survivors) refine, independent of table
    size.
    """
    from ..kernels.relation import CONTAINS
    from ..kernels.wkt import parse_shape
    from ..operators.refine import make_closure_refine

    rec = parse_shape(wkt)
    table = {0: (rec["kind"], rec.get("x"), rec.get("y"), rec.get("radius"),
                 rec["minx"], rec["maxx"], rec["miny"], rec["maxy"],
                 _np_or_none(rec.get("xs")), _np_or_none(rec.get("ys")),
                 _np_int_or_none(rec.get("ring_offsets")))}
    refine = make_closure_refine(table)

    df = spark.read.parquet(path)
    coarse = bbox_code_predicate(rec["minx"], rec["maxx"],
                                 rec["miny"], rec["maxy"],
                                 stored_precision, max_ranges)
    return (df.where(coarse)
              .where(refine(F.lit(0), F.col(x), F.col(y)) == int(CONTAINS)))


def _np_or_none(v):
    import numpy as np
    return np.asarray(v, dtype=np.float64) if v is not None else None


def _np_int_or_none(v):
    import numpy as np
    return np.asarray(v, dtype=np.int64) if v is not None else None
