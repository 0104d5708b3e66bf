"""clear_cached_state: sweeps localCheckpoint blocks + table cache.

Why: iterative operators (knn rungs, CC rounds, multimodal decode)
eager-localCheckpoint intermediate frames; the blocks stay pinned in
the block manager until driver GC. In a long bench session that
residue degraded later Python-worker queries 2-8x (VERDICT r04 #1).
bench.py now sweeps between queries; this test pins the sweep's
contract.
"""
import pyspark.sql.functions as F


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_clear_cached_state_releases_checkpoint_blocks(spark):
    from spatial4n_spark.session import clear_cached_state

    clear_cached_state(spark)
    base = _n_persistent(spark)

    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    chk = df.localCheckpoint(eager=True)
    assert chk.count() == 1000
    cached = df.cache()
    assert cached.count() == 1000
    assert _n_persistent(spark) > base

    released = clear_cached_state(spark)
    assert released >= 1
    assert _n_persistent(spark) <= base
    # the session stays fully usable afterwards
    assert spark.range(10).count() == 10


def test_clear_cached_state_idempotent(spark):
    from spatial4n_spark.session import clear_cached_state

    clear_cached_state(spark)
    assert clear_cached_state(spark) == 0


def test_default_driver_mem_follows_machine_memory(tmp_path):
    """Unset SPARK_GRAFT_DRIVER_MEM: half of MemTotal, capped at 24g."""
    from spatial4n_spark.session import _default_driver_mem

    small = tmp_path / "small"
    small.write_text("MemTotal:       15728640 kB\nMemFree: 1 kB\n")
    assert _default_driver_mem(str(small)) == "7680m"
    big = tmp_path / "big"
    big.write_text("MemTotal:       263000000 kB\n")
    assert _default_driver_mem(str(big)) == "24576m"
    assert _default_driver_mem(str(tmp_path / "missing")) == "24g"
