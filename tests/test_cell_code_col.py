"""JVM-side cell code (Morton column expression) vs the NumPy kernel,
and the rect-only join fast path vs the kernel-refine path."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatial4n_spark import functions as SF
from spatial4n_spark.kernels.geohash import cell_code


@pytest.mark.parametrize("mode", ["column", "sqlstr", "staged"])
@pytest.mark.parametrize("precision", [1, 2, 4, 5, 6, 7, 9, 12])
def test_cell_code_col_bit_identical(spark, precision, mode):
    """Every construction mode — Column-API tree, single-parse SQL
    string and the staged DataFrame builder `with_cell_code` — must be
    bit-identical to the kernel."""
    rng = np.random.default_rng(42)
    lon = np.concatenate([rng.uniform(-180, 180, 5000),
                          [-180.0, 180.0, 0.0, 11.25, -11.25, 90.0, -90.0,
                           179.999999, -179.999999]])
    lat = np.concatenate([rng.uniform(-90, 90, 5000),
                          [-90.0, 90.0, 0.0, 45.0, -45.0, 22.5, -22.5,
                           89.999999, -89.999999]])
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    if mode == "staged":
        out = SF.with_cell_code(df, "`lat`", "`lon`", precision, "c")
        assert out.columns == ["lon", "lat", "c"]
    else:
        args = (("`lat`", "`lon`") if mode == "sqlstr"
                else (F.col("lat"), F.col("lon")))
        out = df.select(SF.st_cell_code_col(*args, precision).alias("c"))
    got = np.array(out.toPandas()["c"], dtype=np.int64)
    want = cell_code(lat, lon, precision)
    assert np.array_equal(got, want)


@pytest.mark.parametrize("precision", [1, 2, 4, 6, 7])
def test_cover_codes_col_sqlstr_identical(spark, precision):
    """String-fragment cover builder == Column-API cover builder on
    random and dateline-crossing bboxes (same cell set, same order)."""
    rng = np.random.default_rng(7)
    m = 500
    span = min(30.0, 4000.0 / (1 << ((precision * 5 + 1) // 2)))
    minx = rng.uniform(-180, 180, m)
    maxx = minx + rng.uniform(0, span, m)
    maxx = np.where(maxx > 180, maxx - 360, maxx)   # ~some cross +-180
    miny = rng.uniform(-90, 89, m)
    maxy = np.minimum(90, miny + rng.uniform(0, span, m))
    df = spark.createDataFrame(pd.DataFrame(
        {"minx": minx, "maxx": maxx, "miny": miny, "maxy": maxy}))
    a = df.select(SF.st_cover_codes_col(
        F.col("minx"), F.col("maxx"), F.col("miny"), F.col("maxy"),
        precision).alias("c")).toPandas()["c"]
    b = df.select(SF.st_cover_codes_col(
        "`minx`", "`maxx`", "`miny`", "`maxy`",
        precision).alias("c")).toPandas()["c"]
    assert all(list(x) == list(y) for x, y in zip(a, b))


def test_cover_codes_sqlstr_lambda_shadowing(spark):
    """Columns literally named li/ti must not be captured by the cover
    HOF lambda variables (regression for the string-path lambda names)."""
    df = spark.createDataFrame(pd.DataFrame(
        {"li": [10.0], "ti": [20.0], "maxx": [11.0], "maxy": [21.0]}))
    a = df.select(SF.st_cover_codes_col(
        F.col("li"), F.col("maxx"), F.col("ti"), F.col("maxy"), 3).alias("c")
    ).toPandas()["c"]
    b = df.select(SF.st_cover_codes_col(
        "`li`", "`maxx`", "`ti`", "`maxy`", 3).alias("c")).toPandas()["c"]
    assert list(a[0]) == list(b[0])


def test_with_point_cell_plan_stays_small(spark):
    """The staged point cell code keeps one copy of each axis-index
    expression in the optimized plan; the single-expression form copies
    it 2^5 times (28.9k characters at precision 6)."""
    from spatial4n_spark.operators.joins import with_point_cell
    df = spark.range(100).selectExpr("cast(id as double) / 7 as x",
                                     "cast(id as double) / 11 as y")
    out = with_point_cell(df, "x", "y", 6)
    assert len(out._jdf.queryExecution().optimizedPlan().toString()) < 8000


def test_cell_code_col_no_python_in_plan(spark):
    df = spark.range(10).selectExpr("cast(id as double) as x",
                                    "cast(id as double) as y")
    out = df.select(SF.st_cell_code_col(F.col("y"), F.col("x"), 6))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_rect_fast_path_equals_kernel_refine(spark):
    """shape_kinds=(2,) skips the Python refine; the result row set must
    equal the kernel-refined join on dateline-crossing rects."""
    import dataclasses

    from spatial4n_spark import contract
    from spatial4n_spark.operators.joins import point_in_shape_join
    from spatial4n_spark.plans.strategy import plan_point_shape_join

    sf = "/root/testdata/sf0.001"
    pts = contract.customer_points(spark, sf)
    rects = contract.nation_rects(spark, sf)
    plan_fast = plan_point_shape_join(1500, 25, 34.0, 18.0, shape_kinds=(2,))
    plan_kern = dataclasses.replace(plan_fast, shape_kinds=None)

    fast = {(r.c_custkey, r.rect_id) for r in
            point_in_shape_join(pts, rects, plan_fast)
            .select("c_custkey", "rect_id").collect()}
    kern = {(r.c_custkey, r.rect_id) for r in
            point_in_shape_join(pts, rects, plan_kern)
            .select("c_custkey", "rect_id").collect()}
    assert fast == kern
    assert len(fast) > 0


@pytest.mark.parametrize("precision,build", [
    pytest.param(p, b, id=str(p) if b == "column" else f"{p}-{b}")
    for b in ("column", "staged") for p in (2, 5, 6, 12)])
def test_cell_code_exact_at_boundaries(spark, precision, build):
    """Adversarial boundary battery: exact grid boundaries and +-3e-14 /
    +-1ulp neighbors must match the kernel bisection exactly (the
    closed form alone loses sub-ulp excesses — real data hit this at
    x=112.50000000000003)."""
    bounds = []
    for bits, lo, span in ((13, -180.0, 360.0), (12, -90.0, 180.0)):
        step = span / (1 << bits)
        for i in (1, 7, 100, 2048, (1 << bits) - 1):
            b = lo + i * step
            bounds += [b, b + 3e-14, b - 3e-14,
                       float(np.nextafter(b, 1e9)), float(np.nextafter(b, -1e9))]
    lon = np.array([v for v in bounds if -180 <= v <= 180]
                   + [1e-300, -1e-300, 112.50000000000003])
    lat = np.clip(lon / 2.0, -90, 90)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    if build == "staged":
        out = SF.with_cell_code(df, F.col("lat"), F.col("lon"), precision,
                                "c")
    else:
        out = df.select(SF.st_cell_code_col(F.col("lat"), F.col("lon"),
                                            precision).alias("c"))
    got = np.array(out.toPandas()["c"], dtype=np.int64)
    assert np.array_equal(got, cell_code(lat, lon, precision))


def test_sqlstr_path_plan_stays_codegen_no_decimal(spark):
    """The string-built expression must stay in whole-stage codegen with
    BIGINT/DOUBLE types throughout — a bare `1.5` literal in the SQL
    template would parse as DECIMAL and silently change arithmetic
    (the D-suffix in _dbl_lit is the guard)."""
    df = spark.range(100).selectExpr("cast(id as double) / 7 as x",
                                     "cast(id as double) / 11 as y")
    out = df.select(SF.st_cell_code_col("`y`", "`x`", 6).alias("c"))
    assert out.schema["c"].dataType.simpleString() == "bigint"
    plan = out._jdf.queryExecution().executedPlan().toString()
    # "*(N)" prefixes mark whole-stage-codegen stages in the compact form
    assert "*(" in plan or "WholeStageCodegen" in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "decimal" not in analyzed.lower()

    cov = df.selectExpr("x as minx", "x + 0.1 as maxx",
                        "y as miny", "y + 0.1 as maxy").select(
        SF.st_cover_codes_col("`minx`", "`maxx`", "`miny`", "`maxy`",
                              4).alias("c"))
    assert cov.schema["c"].dataType.simpleString() == "array<bigint>"
    analyzed = cov._jdf.queryExecution().analyzed().toString()
    assert "decimal" not in analyzed.lower()
