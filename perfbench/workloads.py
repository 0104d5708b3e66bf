"""The three benchmark workloads, driven through the engine's public
functions.

Each workload splits into: ``inputs`` (seeded generation, untimed and
cached by seed and size), ``prepare`` (the program calls a user makes
before the first pass; timed as set-up), ``run_pass`` (one closed-loop
pass), ``check`` (independent output checks, untimed), ``layer_metrics``
(per-layer numbers from spans and Spark counters) and ``kernel_metrics``
(pure-NumPy kernel timings on the workload's own seeded shapes).
"""
from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import check
import gen


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _time_kernel(fn, min_seconds: float = 0.2, max_reps: int = 50) -> float:
    """Median seconds per call of ``fn`` over repeated calls."""
    times = []
    t_end = time.perf_counter() + min_seconds
    while len(times) < 3 or (time.perf_counter() < t_end and len(times) < max_reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


class Workload:
    name = ""
    why = ""
    rows_name = "rows"        # what rows_per_s counts

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.rows = 0

    def input_dir(self, tag: str) -> str:
        return os.path.join(self.work, "inputs", f"v{gen.INPUT_VERSION}-{tag}")

    def traced_extras(self, spark) -> tuple:
        """Extra layer calls made only in a traced run, after the warm
        passes. Returns (operations attempted, operations failed, problems)."""
        return 0, 0, []


# ------------------------------------------------------------------ point_join

class PointJoin(Workload):
    name = "point_join"
    why = ("skewed points from docs of every WKT kind against a mixed "
           "rect/convex/star layer: planner, cell equi-join, closure refine; "
           "traced runs add the tile-index write path")
    rows_name = "docs"
    N_DOCS = 100_000
    N_SHAPES = 240
    N_BUCKETS = 8
    TILE_PRECISION = 6
    KIND_CODE = {"POINT": 1, "ENVELOPE": 2, "BUFFER": 3, "POLYGON": 7}

    def inputs(self) -> dict:
        self.inp = gen.point_join_input(self.seed, self.N_DOCS, self.N_SHAPES)
        self.docs_path = self.input_dir(
            f"point_join-s{self.seed}-n{self.N_DOCS}-k{self.N_SHAPES}")
        hit = gen.write_cached(self.inp.docs, self.docs_path, 8)
        m = self.inp.has_point
        self.expected = check.pair_checksum(check.pip_pairs(
            self.inp.doc_idx[m], self.inp.px[m], self.inp.py[m],
            self.inp.shapes))
        codes = np.array([self.KIND_CODE[k] for k in gen.DOC_KINDS])
        kind = codes[self.inp.kind]
        self.exp_kind_counts = {int(c): int((kind == c).sum()) for c in codes}
        self.exp_cells = check.cell_code(self.inp.px[m], self.inp.py[m],
                                         self.TILE_PRECISION)
        self.rows = self.N_DOCS
        return {"cache_hit": hit, "docs": self.N_DOCS,
                "shapes": self.N_SHAPES, "hot_share": self.inp.hot_share,
                "kind_counts": self.exp_kind_counts,
                "expected_pairs": self.expected[0]}

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        from spatial4n_spark import functions as SF
        from spatial4n_spark.plans.strategy import (estimate_hot_cell_ratio,
                                                    pick_cell_level,
                                                    plan_point_shape_join)
        from spatial4n_spark.sources.docs import (extract_point_spans,
                                                  read_docs)
        tr = self.tracer
        with tr.span("functions.st_from_wkt"):
            raw = spark.createDataFrame(
                [(s.sid, s.wkt) for s in self.inp.shapes],
                "shape_id int, wkt string")
            self.shapes = raw.select(
                "shape_id", SF.st_from_wkt(F.col("wkt")).alias("shape")).persist()
            kinds = sorted({r[0] for r in self.shapes.select("shape.kind").distinct().collect()})
        self.docs = read_docs(spark, self.docs_path)
        bb = np.array([s.bbox for s in self.inp.shapes])
        med_w = float(np.median(bb[:, 1] - bb[:, 0]))
        med_h = float(np.median(bb[:, 3] - bb[:, 2]))
        with tr.span("plans.plan") as sp:
            level = pick_cell_level(med_w, med_h)
            hot = estimate_hot_cell_ratio(extract_point_spans(self.docs),
                                          precision=level)
            self.plan = plan_point_shape_join(
                int(self.inp.has_point.sum()), len(self.inp.shapes),
                med_w, med_h, hot_cell_ratio=hot, shape_kinds=tuple(kinds))
            sp.update(hot_cell_ratio=hot, precision=self.plan.precision,
                      broadcast=self.plan.broadcast_shapes, salt=self.plan.salt)

    def run_pass(self, spark, traced: bool):
        from pyspark.sql import functions as F

        from spatial4n_spark.operators.joins import (point_in_shape_join,
                                                     with_point_cell)
        from spatial4n_spark.sources.docs import extract_point_spans
        tr = self.tracer
        with tr.span("sources.extract_point_spans"):
            pts = extract_point_spans(self.docs).select("doc_id", "x", "y")
            if traced:
                pts = pts.persist()
                pts.count()
        with tr.span("operators.point_in_shape_join"):
            cells = with_point_cell(pts, "x", "y", self.plan.precision)
            out = point_in_shape_join(cells, self.shapes, self.plan,
                                      shape_id="shape_id")
            key = F.expr(f"cast(substring(doc_id, 5) as bigint) * "
                         f"{check.PAIR_SHAPES} + shape_id")
            row = out.agg(
                F.count(F.lit(1)).alias("n"), F.sum(key).alias("s"),
                F.sum(F.pmod(key * F.lit(check.HASH_MUL), F.lit(check.HASH_MOD)))
                .alias("h")).collect()[0]
        if traced:
            pts.unpersist()
        return (int(row["n"]), int(row["s"] or 0), int(row["h"] or 0))

    def check(self, result) -> list:
        if tuple(result) != tuple(self.expected):
            return [f"pair checksum {result} != ray-cast {self.expected}"]
        return []

    def layer_metrics(self, spark_groups: dict, warm_groups: list) -> dict:
        tr = self.tracer
        joins = [spark_groups.get(g, {}).get("join_rows", 0) for g in warm_groups]
        cand = _median(joins)
        out_rows = self.expected[0]
        return {
            "sources.extract_point_spans_s": _median(tr.durations(
                "sources.extract_point_spans", phase="warm")),
            "operators.point_in_shape_join_s": _median(tr.durations(
                "operators.point_in_shape_join", phase="warm")),
            "operators.candidate_rows": cand,
            "operators.output_rows": out_rows,
            "operators.refine_yield": out_rows / cand if cand else 0.0,
            "checkpoint.write_docs_bucketed_s": _median(tr.durations(
                "checkpoint.write_docs_bucketed")),
            "sources.extract_geo_spans_s": _median(tr.durations(
                "sources.extract_geo_spans")),
            "jobs.run_tile_index_job_cold_s": _median(tr.durations(
                "jobs.run_tile_index_job", run="cold")),
            "jobs.run_tile_index_job_s": _median(tr.durations(
                "jobs.run_tile_index_job", run="warm")),
            "checkpoint.resume_noop_s": _median(tr.durations(
                "checkpoint.resume_noop", run="warm")),
            "checkpoint.bytes_written_per_input_byte": self.tile_bytes_ratio,
        }

    def traced_extras(self, spark) -> tuple:
        """Traced runs only: the production write path over the same docs.
        write_docs_bucketed, then the checkpointed tile-index job into a
        fresh output twice (cold, then warm), each followed by a no-op
        resume, then the WKT parse layer alone. Returns (jobs attempted,
        jobs failed, problems)."""
        from spatial4n_spark.checkpoint import write_docs_bucketed
        from spatial4n_spark.jobs.tile_index import run_tile_index_job
        from spatial4n_spark.sources.docs import extract_geo_spans, read_docs
        tr = self.tracer
        run_dir = os.path.join(self.work, "tile_runs", tr.run_id)
        bucketed = os.path.join(run_dir, "bucketed")
        with tr.span("checkpoint.write_docs_bucketed"):
            write_docs_bucketed(read_docs(spark, self.docs_path), bucketed,
                                self.N_BUCKETS)
        problems, failed = [], 0
        for run in ("cold", "warm"):
            spark.sparkContext.setJobGroup(f"tile-{run}", f"perfbench tile {run}")
            out = os.path.join(run_dir, f"out-{run}")
            with tr.span("jobs.run_tile_index_job", run=run):
                first = run_tile_index_job(spark, bucketed, out, self.N_BUCKETS,
                                           self.TILE_PRECISION)
            with tr.span("checkpoint.resume_noop", run=run):
                again = run_tile_index_job(spark, bucketed, out, self.N_BUCKETS,
                                           self.TILE_PRECISION)
            bad = self.check_tile(out, first, again)
            failed += bool(bad)
            problems += [f"tile-{run}: {p}" for p in bad]
        with tr.span("sources.extract_geo_spans"):
            (extract_geo_spans(read_docs(spark, bucketed))
             .write.format("noop").mode("overwrite").save())
        in_bytes = _parquet_bytes(bucketed)
        self.tile_bytes_ratio = self.tile_out_bytes / max(in_bytes, 1)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2, failed, problems

    def check_tile(self, out, first, again) -> list:
        import pyarrow.dataset as ds
        bad = []
        n = self.N_DOCS
        if first["input_rows"] != n or first["output_rows"] != n:
            bad.append(f"job rows {first['input_rows']}->{first['output_rows']} != {n}")
        if again["buckets_run"] != 0 or again["buckets_skipped"] != self.N_BUCKETS:
            bad.append(f"resume re-ran {again['buckets_run']} buckets")
        data = os.path.join(out, "data")
        t = ds.dataset(data, format="parquet", partitioning="hive").to_table(
            columns=["doc_id", "kind", "cell_id"])
        kind = t.column("kind").to_numpy()
        counts = {int(k): int(v) for k, v in zip(*np.unique(kind, return_counts=True))}
        if counts != self.exp_kind_counts:
            bad.append(f"kind counts {counts} != {self.exp_kind_counts}")
        pt = kind == 1
        ids = np.asarray(t.column("doc_id").to_pylist(), dtype=object)[pt]
        idx = np.array([int(d[4:]) for d in ids], dtype=np.int64)
        cells = t.column("cell_id").to_numpy(zero_copy_only=False)[pt].astype(np.int64)
        order = np.argsort(idx)
        if not (np.array_equal(idx[order], self.inp.doc_idx[self.inp.has_point])
                and np.array_equal(cells[order], self.exp_cells)):
            bad.append("point cell codes differ from geohash bisection")
        self.tile_out_bytes = _parquet_bytes(data)
        return bad

    def kernel_metrics(self) -> dict:
        import pandas as pd

        from spatial4n_spark.kernels.pip import points_in_polygon
        from spatial4n_spark.kernels.wkt import parse_wkt_columns
        inp = self.inp
        work = []
        for s in inp.shapes:
            if s.kind != "star":
                continue
            minx, maxx, miny, maxy = s.bbox
            sel = ((inp.px >= minx) & (inp.px <= maxx)
                   & (inp.py >= miny) & (inp.py <= maxy))
            work.append((inp.px[sel], inp.py[sel], s.xs, s.ys))
        pe = sum(len(w[0]) * len(w[2]) for w in work)

        def run():
            for px, py, xs, ys in work:
                points_in_polygon(px, py, xs, ys)
        texts = pd.Series(self.inp.wkt()[:20_000], dtype=object)
        return {"kernels.pip_ns_per_point_edge":
                _time_kernel(run) * 1e9 / max(pe, 1),
                "kernels.parse_wkt_columns_us_per_row":
                _time_kernel(lambda: parse_wkt_columns(texts)) * 1e6 / len(texts)}


# ------------------------------------------------------------ overlay_dissolve

class OverlayDissolve(Workload):
    name = "overlay_dissolve"
    why = ("concave stars of 8-400 vertices overlaid on a shared-edge parcel "
           "grid, then a parcel dissolve: Python boolean and union kernels")
    rows_name = "shapes"
    GRID = 12
    N_STARS = 12
    PRECISION = 3

    def inputs(self) -> dict:
        inp = self.inp = gen.overlay_input(self.seed, self.GRID, self.N_STARS)
        # expected pair areas: Sutherland–Hodgman of each star by each
        # bbox-overlapping parcel
        self.expected_pairs = {}
        for s in inp.stars:
            sx0, sx1, sy0, sy1 = s.bbox
            for p in inp.parcels:
                px0, px1, py0, py1 = p.bbox
                if px0 > sx1 or px1 < sx0 or py0 > sy1 or py1 < sy0:
                    continue
                a = check.clip_area(s.xs, s.ys, p.xs, p.ys)
                if a > 0.0:
                    self.expected_pairs[(s.sid, p.sid)] = a
        by_id = {p.sid: p for p in inp.parcels}
        self.expected_groups = {}
        for sid, g in inp.parcel_group.items():
            self.expected_groups[g] = self.expected_groups.get(g, 0.0) + \
                check.ring_area(by_id[sid].xs, by_id[sid].ys)
        for g, (star, parcel) in inp.union_groups.items():
            a, b = inp.stars[star], by_id[parcel]
            self.expected_groups[g] = (check.ring_area(a.xs, a.ys)
                                       + check.ring_area(b.xs, b.ys)
                                       - check.clip_area(a.xs, a.ys, b.xs, b.ys))
        self.rows = len(inp.stars) + len(inp.parcels)
        return {"stars": len(inp.stars),
                "parcels": len(inp.parcels),
                "star_vertices": [len(s.xs) for s in inp.stars],
                "expected_pairs": len(self.expected_pairs),
                "dissolve_groups": len(self.expected_groups)}

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        from spatial4n_spark import functions as SF
        inp = self.inp
        by_id = {p.sid: p for p in inp.parcels}
        members = [(inp.parcel_group[p.sid], p.wkt) for p in inp.parcels]
        for g, (star, parcel) in inp.union_groups.items():
            members += [(g, inp.stars[star].wkt), (g, by_id[parcel].wkt)]
        with self.tracer.span("functions.st_from_wkt"):
            stars = spark.createDataFrame(
                [(s.sid, s.wkt) for s in inp.stars], "star_id int, wkt string")
            self.stars = stars.select(
                "star_id", SF.st_from_wkt(F.col("wkt")).alias("lshape")).persist()
            parcels = spark.createDataFrame(
                [(p.sid, p.wkt) for p in inp.parcels], "parcel_id int, wkt string")
            self.parcels = parcels.select(
                "parcel_id", SF.st_from_wkt(F.col("wkt")).alias("rshape")).persist()
            groups = spark.createDataFrame(members, "grp string, wkt string")
            self.members = groups.select(
                "grp", SF.st_from_wkt(F.col("wkt")).alias("shape")).persist()
            for df in (self.stars, self.parcels, self.members):
                df.count()

    def run_pass(self, spark, traced: bool):
        from spatial4n_spark.operators.dissolve import dissolve
        from spatial4n_spark.operators.overlay import overlay_intersection_join
        with self.tracer.span("operators.overlay_intersection_join"):
            pairs = overlay_intersection_join(
                self.stars, self.parcels, self.PRECISION,
                left_shape="lshape", right_shape="rshape",
                with_geometry=True).select(
                    "star_id", "parcel_id", "inter_area_deg2",
                    "inter_shape").collect()
        with self.tracer.span("operators.dissolve"):
            groups = dissolve(self.members, ["grp"]).collect()
        return pairs, groups

    def check(self, result) -> list:
        pairs, groups = result
        bad = []
        got = {}
        for r in pairs:
            key = (r["star_id"], r["parcel_id"])
            got[key] = r
            want = self.expected_pairs.get(key)
            if want is None:
                bad.append(f"unexpected overlay pair {key}")
                continue
            if not check.close(r["inter_area_deg2"], want):
                bad.append(f"pair {key} area {r['inter_area_deg2']} != clip {want}")
            g = r["inter_shape"]
            if g is None or g["error"] is not None:
                bad.append(f"pair {key} geometry error: {g and g['error']}")
            elif not check.close(check.evenodd_area(g["xs"], g["ys"],
                                                    g["ring_offsets"]), want):
                bad.append(f"pair {key} geometry area != clip {want}")
        for key, want in self.expected_pairs.items():
            if key not in got and want > 1e-9:
                bad.append(f"missing overlay pair {key} (clip area {want})")
        seen = set()
        for r in groups:
            seen.add(r["grp"])
            want = self.expected_groups.get(r["grp"])
            s = r["shape"]
            if want is None:
                bad.append(f"unexpected dissolve group {r['grp']}")
            elif r["error"] is not None or s["xs"] is None:
                bad.append(f"dissolve {r['grp']} error: {r['error']}")
            elif not check.close(check.evenodd_area(s["xs"], s["ys"],
                                                    s["ring_offsets"]), want):
                bad.append(f"dissolve {r['grp']} area != {want}")
        missing = set(self.expected_groups) - seen
        if missing:
            bad.append(f"missing dissolve groups {sorted(missing)[:5]}")
        self.last_counts = {
            "geometry_error_rows": sum(
                1 for r in pairs
                if r["inter_shape"] is None or r["inter_shape"]["error"] is not None),
            "dissolve_exact_share": (sum(1 for r in groups if r["exact"])
                                     / max(len(groups), 1))}
        return bad

    def layer_metrics(self, spark_groups: dict, warm_groups: list) -> dict:
        tr = self.tracer
        counts = getattr(self, "last_counts", {})
        return {
            "operators.overlay_intersection_join_s": _median(tr.durations(
                "operators.overlay_intersection_join", phase="warm")),
            "operators.dissolve_s": _median(tr.durations(
                "operators.dissolve", phase="warm")),
            "operators.geometry_error_rows": counts.get("geometry_error_rows", 0),
            "operators.dissolve_exact_share": counts.get("dissolve_exact_share", 0.0),
        }

    def kernel_metrics(self) -> dict:
        from spatial4n_spark.kernels.booleans import intersect_evenodd
        from spatial4n_spark.kernels.union import union_many
        inp = self.inp
        by_id = {p.sid: p for p in inp.parcels}
        out = {}
        # the union groups pair each pinned-size star with a parcel that
        # its boundary crosses
        for a, b in inp.union_groups.values():
            star = [(inp.stars[a].xs, inp.stars[a].ys)]
            sq = [(by_id[b].xs, by_id[b].ys)]
            out[f"kernels.intersection_ms.n{len(star[0][0])}"] = _time_kernel(
                lambda: intersect_evenodd(star, sq)) * 1e3
        rings = [[(inp.stars[a].xs, inp.stars[a].ys),
                  (by_id[b].xs, by_id[b].ys)]
                 for a, b in inp.union_groups.values()]
        out["kernels.union_many_ms"] = _time_kernel(
            lambda: [union_many(r) for r in rings]) * 1e3 / max(len(rings), 1)
        return out


WORKLOADS = {w.name: w for w in (PointJoin, OverlayDissolve)}
