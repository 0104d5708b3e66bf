"""The production job: docs table -> per-span tile index, resumable.

This is the north-rule end-to-end flow assembled from the engine
pieces: bucketed docs input (Iceberg bucket-transform analog) ->
WKT parse (one Arrow stage) -> JVM cell assignment -> output
partitioned by bucket, with per-bucket lineage manifests
(`checkpoint.run_checkpointed`) so a killed job resumes exactly,
skipping completed buckets on partition-pruned scans.

Run locally: `python scripts/tile_index_submit.py ...`
Run on a cluster:
    spark-submit --py-files /tmp/spatial4n_spark_pkg.zip \\
        scripts/tile_index_submit.py --in ... --out ... --buckets 256
(`spatial4n_spark.session.package_zip()` builds the artifact.)
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import functions as SF
from ..checkpoint import (BUCKET_COL, read_output, run_checkpointed,
                          with_bucket)


def make_tile_index_transform(n_buckets: int, precision: int = 6):
    """Transform for run_checkpointed: docs -> one row per geo span
    with its cell assignment. The bucket column is RE-DERIVED from
    doc_id (a pure function), so the parse stage ships only
    (doc_id, pos, wkt) through Arrow."""
    def tile_index(docs: DataFrame) -> DataFrame:
        from ..sources.docs import extract_geo_spans
        geo = extract_geo_spans(docs.drop(BUCKET_COL))
        pts = geo.select(
            "doc_id", "pos", F.col("kind").alias("kind"),
            F.col("x"), F.col("y"),
            F.col("minx"), F.col("maxx"), F.col("miny"), F.col("maxy"))
        out = (SF.with_cell_code(pts, "`y`", "`x`", precision, "cell_id")
                 .withColumn("cell_id", F.when(F.col("kind") == 1,
                                               F.col("cell_id"))))
        return with_bucket(out, n_buckets)
    return tile_index


def run_tile_index_job(spark: SparkSession, in_path: str, out_path: str,
                       n_buckets: int, precision: int = 6,
                       buckets_per_job: int = 8) -> dict:
    """Checkpointed tile-index build; re-invoke to resume."""
    return run_checkpointed(spark, in_path, out_path,
                            make_tile_index_transform(n_buckets, precision),
                            n_buckets, buckets_per_job)


def read_tile_index(spark: SparkSession, out_path: str) -> DataFrame:
    return read_output(spark, out_path)
