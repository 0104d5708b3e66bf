"""Dissolve: per-group geometry union (merge parcels by owner, tracts
by county — the classic GIS dissolve) as a distributed aggregate.

Engine-added operator. The geometry math is the SAME resolver the WKT
parser runs on overlapping MULTIPOLYGON members
(`kernels.wkt._resolve_multi_overlap`, the UnionGeometryCollection
analog of NtsGeometry.cs:64-94): duplicate drop, containment
absorption, exact Greiner–Hormann union for transversal crossings,
plain even-odd merge for touch-only contact, convex-hull degrade for
degenerate contact when `allow_approx=True`.

Scale shape: ONE shuffle on the dissolve keys (`applyInPandas`), each
group's members resolved inside its task — dissolve is inherently a
gather-per-key operation, so per-key vertex volume must fit a task
(the same contract every GIS engine's dissolve carries). Hot keys are
an AQE skew concern for the shuffle, not for memory: a group's rings
are small next to a task's budget until parcel counts reach ~1e6 per
key; beyond that, pre-dissolve per (key, cover-cell) and re-dissolve
the per-cell results (documented pattern; exactness unchanged because
union is associative — cell pieces of one key still meet in round 2).

Output per group: the dissolved shape struct, `n_members`, `exact`
(False when a degenerate overlap degraded to the hull), `error`
(non-null instead of a task failure when the group is not exactly
unionable and `allow_approx=False`).
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FLAT_FIELDS = ("kind byte, minx double, maxx double, miny double,"
                " maxy double, xs array<double>, ys array<double>,"
                " ring_offsets array<int>, n_members int,"
                " exact boolean, error string")


def _member_record(kind, minx, maxx, miny, maxy, xs, ys, ro):
    """One input shape -> a parser-style polygon record. Rects become
    their 4-corner closed ring (dateline-crossing rects: two pages)."""
    recs = []
    if kind == 2:
        spans = ([(minx, 180.0), (-180.0, maxx)] if minx > maxx
                 else [(minx, maxx)])
        for x0, x1 in spans:
            recs.append(dict(
                kind=7, minx=x0, maxx=x1, miny=miny, maxy=maxy,
                xs=[x0, x1, x1, x0, x0], ys=[miny, miny, maxy, maxy, miny],
                ring_offsets=[0, 5]))
        return recs
    if kind in (7, 8):
        return [dict(kind=int(kind), minx=minx, maxx=maxx, miny=miny,
                     maxy=maxy, xs=list(xs), ys=list(ys),
                     ring_offsets=(list(ro) if ro is not None
                                   else [0, len(xs)]))]
    raise ValueError(f"dissolve supports rect/polygon shapes, got kind "
                     f"{int(kind)}")


def _dissolve_group(members: list, allow_approx: bool) -> dict:
    from ..kernels.wkt import WktParseError, _resolve_multi_overlap
    # r5 PRIMARY: the boundary-selection union fold — exact for every
    # contact class including the degenerate ones (adjacent parcels
    # sharing edges, vertex-on-edge touch), and CANONICAL: touching
    # members come out with the shared seams dissolved away, which is
    # what a GIS dissolve means (the GH resolver keeps touch-only
    # members as separate rings — reference ShapeCollection semantics,
    # right for the parser, wrong for dissolve output)
    if len(members) > 1:
        rec = _robust_union_fold(members)
        if rec is not None:
            return {"rec": rec, "exact": True, "error": None}
    try:
        merged = _resolve_multi_overlap(members, True, "width180",
                                        "error", False)
        return {"rec": merged, "exact": True, "error": None}
    except WktParseError as e:
        if not allow_approx:
            return {"rec": None, "exact": False, "error": str(e)[:200]}
    merged = _resolve_multi_overlap(members, True, "width180",
                                    "error", True)
    return {"rec": merged, "exact": False, "error": None}


def _robust_union_fold(members: list):
    """Exact union of a member list via the boundary-selection overlay
    (kernels/booleans.robust_boolean 'or'), folded pairwise. Returns a
    merged polygon record or None when a probe/stitch cannot be
    settled (the caller keeps the error/hull contract)."""
    from ..kernels.booleans import members_of_robust, robust_boolean

    def rings_of(rec):
        xs = np.asarray(rec["xs"], dtype=np.float64)
        ys = np.asarray(rec["ys"], dtype=np.float64)
        ro = rec["ring_offsets"]
        return [(xs[a:b], ys[a:b]) for a, b in zip(ro[:-1], ro[1:])
                if b - a >= 3]
    acc = rings_of(members[0])
    for m in members[1:]:
        acc = robust_boolean(acc, rings_of(m), "or")
        if acc is None:
            return None
    if not acc:
        return None  # empty union of area members: unclassifiable
    mem = members_of_robust(acc)
    if mem is None:
        return None
    xs_out, ys_out, offs = [], [], [0]
    for shell, holes in mem:
        for rx, ry in [shell] + holes:
            xs_out.extend(rx.tolist() + [float(rx[0])])
            ys_out.extend(ry.tolist() + [float(ry[0])])
            offs.append(len(xs_out))
    return dict(kind=8 if len(mem) > 1 else 7,
                minx=min(xs_out), maxx=max(xs_out),
                miny=min(ys_out), maxy=max(ys_out),
                xs=xs_out, ys=ys_out, ring_offsets=offs)


def dissolve(df: DataFrame, keys: list, shape_col: str = "shape",
             allow_approx: bool = False) -> DataFrame:
    """GroupBy `keys` and union each group's rect/polygon shapes into
    one (multi)polygon shape struct. See module docstring."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        key_vals = {k: pdf[k].iloc[0] for k in keys}
        members = []
        err = None
        for i in range(len(pdf)):
            s = pdf["__s"].iloc[i]
            try:
                members.extend(_member_record(
                    s["kind"], s["minx"], s["maxx"], s["miny"], s["maxy"],
                    s["xs"], s["ys"], s["ring_offsets"]))
            except ValueError as e:
                err = str(e)
                break
        if err is None:
            res = _dissolve_group(members, allow_approx)
        else:
            res = {"rec": None, "exact": False, "error": err}
        rec = res["rec"]
        row = dict(key_vals, n_members=len(pdf), exact=res["exact"],
                   error=res["error"])
        if rec is None:
            row.update(kind=0, minx=None, maxx=None, miny=None, maxy=None,
                       xs=None, ys=None, ring_offsets=None)
        else:
            row.update(kind=rec["kind"], minx=rec["minx"], maxx=rec["maxx"],
                       miny=rec["miny"], maxy=rec["maxy"],
                       xs=list(rec["xs"]), ys=list(rec["ys"]),
                       ring_offsets=list(rec["ring_offsets"]))
        return pd.DataFrame([row])

    key_schema = ", ".join(
        f"{k} {df.schema[k].dataType.simpleString()}" for k in keys)
    out = (df.select(*keys, F.col(shape_col).alias("__s"))
             .groupBy(*keys)
             .applyInPandas(run, schema=f"{key_schema}, {_FLAT_FIELDS}"))
    return _repack(out, keys, shape_col)


def dissolve_two_level(df: DataFrame, keys: list, shape_col: str = "shape",
                       precision: int = 3) -> DataFrame:
    """Dissolve for HOT keys (1e6+ members): pre-dissolve per
    (key, coarse cell) so no single task gathers a whole key's rings,
    then re-dissolve the per-cell partials per key. Exact because union
    is associative — pieces of one key that span cells still meet in
    round 2. Each shape is assigned ONE cell (its bbox min corner at
    `precision`), so partials partition the members; shuffle 1 is keyed
    (key, cell) — a hot key spreads over its spatial footprint — and
    shuffle 2 carries one already-merged row per touched cell.

    Strict mode only (`allow_approx=False`): the hull degrade is not
    associative, so approximate groups must go through single-level
    `dissolve(allow_approx=True)`. Non-unionable groups surface
    `error` rather than raising — but the two-level error SET is a
    superset of single-level's: stage-1 cell partials can be holed or
    multipart unions whose stage-2 crossings are GH-infeasible, so
    two-level may reject (fail-safe, never wrong) some groups that
    single-level dissolves exactly. Callers wanting maximum coverage
    should re-run keys that error here through single-level
    `dissolve` (bounded by the per-key-gather contract)."""
    from .. import functions as SF

    celled = SF.with_cell_code(df, f"`{shape_col}`.`miny`",
                               f"`{shape_col}`.`minx`", precision, "__cell")
    stage1 = dissolve(celled, keys + ["__cell"], shape_col,
                      allow_approx=False)
    bad1 = stage1.where(F.col("error").isNotNull())
    ok1 = stage1.where(F.col("error").isNull())
    stage2 = dissolve(ok1.select(*keys, shape_col), keys, shape_col,
                      allow_approx=False)
    # true ORIGINAL member count per key (stage2's own n_members would
    # count cell PARTIALS — a different contract than single-level)
    totals = stage1.groupBy(*keys).agg(
        F.sum("n_members").cast("int").alias("__total"))
    # a key with any failed cell partial is reported failed as a whole;
    # FULL join: a key whose EVERY cell failed has no stage2 row at all
    # and must still surface (a left join would silently drop it)
    failed = (bad1.groupBy(*keys)
                  .agg(F.first("error").alias("__err")))
    joined = (stage2.join(failed, keys, "full")
                    .join(totals, keys, "inner"))
    nul = F.lit(None)
    empty_shape = F.struct(
        F.lit(0).cast("byte").alias("kind"),
        *[nul.cast("double").alias(c) for c in
          ("x", "y", "radius", "minx", "maxx", "miny", "maxy")],
        nul.cast("array<double>").alias("xs"),
        nul.cast("array<double>").alias("ys"),
        nul.cast("array<int>").alias("ring_offsets"),
        F.col("__err").alias("error"))
    has_err = F.col("__err").isNotNull()
    return (joined.select(
        *keys,
        F.when(has_err, empty_shape).otherwise(F.col(shape_col))
         .alias(shape_col),
        F.col("__total").alias("n_members"),
        (~has_err & F.coalesce(F.col("exact"), F.lit(False)))
        .alias("exact"),
        F.when(has_err, F.col("__err")).otherwise(F.col("error"))
         .alias("error")))


def _repack(out: DataFrame, keys: list, shape_col: str) -> DataFrame:
    nul = F.lit(None)
    shape = F.struct(
        F.col("kind").alias("kind"),
        nul.cast("double").alias("x"), nul.cast("double").alias("y"),
        nul.cast("double").alias("radius"),
        F.col("minx").alias("minx"), F.col("maxx").alias("maxx"),
        F.col("miny").alias("miny"), F.col("maxy").alias("maxy"),
        F.col("xs").alias("xs"), F.col("ys").alias("ys"),
        F.col("ring_offsets").alias("ring_offsets"),
        F.col("error").alias("error"))
    return out.select(*keys, shape.alias(shape_col),
                      "n_members", "exact", "error")

