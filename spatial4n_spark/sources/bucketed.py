"""Bucketed cell tables: shuffle-free co-located spatial joins.

The 100 TB lever SURVEY §2.6 names ("bucketing for co-located joins"):
when BOTH sides of the recurring cell equi-join are written bucketed by
the cell code (``DataFrameWriter.bucketBy`` — the Spark-managed analog
of Iceberg's ``bucket(N, cell_id)`` partition transform), the join
needs NO Exchange at read time — each task zips bucket i of the left
table with bucket i of the right table. For a planetary point table
joined against a tile/zone layer every night, the shuffle of the big
side (the dominant cost at 100 TB: the whole table through the network
every run) is paid ONCE at write time and amortized over every
subsequent join.

Local/sandbox form uses the session warehouse (``saveAsTable``); on a
cluster the same code targets an external catalog. The bucket COUNT
must match on both sides (Spark requirement for zip-join eligibility).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import functions as SF


def write_bucketed_by_cell(df: DataFrame, table: str, n_buckets: int,
                           cell_col: str = "cell_id",
                           sort: bool = True) -> None:
    """Persist a table bucketed (and optionally sorted) by its cell
    code. Sorting within buckets additionally enables sort-merge zip
    joins without a per-task sort."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, cell_col)
    if sort:
        w = w.sortBy(cell_col)
    w.format("parquet").saveAsTable(table)


def cell_join_bucketed(spark: SparkSession, left_table: str,
                       right_table: str,
                       cell_col: str = "cell_id",
                       force_sort_merge: bool = False) -> DataFrame:
    """Equi-join two cell-bucketed tables on the cell code.

    With matching bucket counts Spark plans this WITHOUT any shuffle
    Exchange (asserted in tests/test_bucketed_join.py) — the scan IS
    the partitioning. A small side may still be broadcast (also
    shuffle-free for the big side); force_sort_merge=True pins the
    bucket-zip SortMergeJoin, the plan shape two HUGE layers get.
    """
    left = spark.table(left_table)
    right = spark.table(right_table)
    if force_sort_merge:
        left = left.hint("merge")
    return left.join(right, cell_col, "inner")


def prepare_points_bucketed(spark: SparkSession, points: DataFrame,
                            table: str, precision: int,
                            n_buckets: int = 64,
                            x: str = "x", y: str = "y") -> None:
    """Assign cell codes (pure-JVM Morton expression) and write the
    point table bucketed by cell — the write-once side of the amortized
    join."""
    pts = SF.with_cell_code(points, f"`{y}`", f"`{x}`", precision,
                            "cell_id")
    write_bucketed_by_cell(pts, table, n_buckets)
