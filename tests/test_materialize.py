"""materialize(): local masters keep the r14 localCheckpoint barrier
(bench plans unchanged); non-local masters persist WITH lineage so an
executor loss recomputes instead of failing (VERDICT r14 #2)."""

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from supermusr_data_pipeline_spark import materialize as mat


def test_master_classification():
    assert mat._local_master("local")
    assert mat._local_master("local[8]")
    assert mat._local_master("local[*]")
    assert mat._local_master("local[4,2]")
    assert not mat._local_master("local-cluster[2,1,1024]")
    assert not mat._local_master("spark://host:7077")
    assert not mat._local_master("yarn")
    assert not mat._local_master("k8s://https://host:443")


def test_local_branch_is_localcheckpoint(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = mat.materialize(df)
    # localCheckpoint rewrites the plan to a materialized-RDD scan
    assert "LogicalRDD" in str(out._jdf.queryExecution().logical())
    assert out.count() == 100
    assert out.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]


def test_cluster_branch_persists_with_lineage(spark, monkeypatch):
    monkeypatch.setattr(mat, "_local_master", lambda m: False)
    df = spark.range(50).withColumn("v", F.col("id") + 1)
    out = mat.materialize(df)
    try:
        # persisted (MEMORY_AND_DISK), not checkpointed: lineage intact
        assert out.storageLevel == StorageLevel.MEMORY_AND_DISK
        assert "LogicalRDD" not in str(out._jdf.queryExecution().logical())
        assert out.count() == 50
        assert out.agg(F.sum("v")).first()[0] == 50 * 51 // 2
    finally:
        out.unpersist()


def test_cluster_branch_lazy(spark, monkeypatch):
    monkeypatch.setattr(mat, "_local_master", lambda m: False)
    df = spark.range(10)
    out = mat.materialize(df, eager=False)
    try:
        assert out.storageLevel == StorageLevel.MEMORY_AND_DISK
        assert out.count() == 10
    finally:
        out.unpersist()


@pytest.mark.parametrize("eager", [True, False])
def test_registers_persistent_rdds_for_id_diff_bookkeeping(spark, eager):
    """The CC loop / shared-cache release logic diffs
    sc.getPersistentRDDs — both branches must register there."""
    from supermusr_data_pipeline_spark.plans.text_dedup import (
        _persistent_rdd_ids,
        _unpersist_rdd_ids,
    )

    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    out = mat.materialize(spark.range(20), eager=eager)
    out.count()  # materialize the lazy case too
    new = _persistent_rdd_ids(sc) - before
    assert new, "materialize() must create persistent RDDs visible to the id diff"
    _unpersist_rdd_ids(sc, new)


def test_shared_checkpoint_cluster_branch_released_by_clear(spark, monkeypatch):
    """The session-shared cache materializes through materialize(): on a
    cluster master an entry is a lineage-keeping persist, and clearing the
    cache returns the persisted-RDD set to its baseline."""
    from supermusr_data_pipeline_spark.plans import text_dedup

    monkeypatch.setattr(mat, "_local_master", lambda m: False)
    sc = spark.sparkContext
    text_dedup.clear_shared_cache()
    before = text_dedup._persistent_rdd_ids(sc)

    def build():
        return spark.range(30).withColumn("v", F.col("id") * 3)

    out = text_dedup._shared_checkpoint(spark, "cluster-branch-sf", "t", build)
    try:
        assert out.storageLevel == StorageLevel.MEMORY_AND_DISK
        assert "LogicalRDD" not in str(out._jdf.queryExecution().logical())
        assert text_dedup._persistent_rdd_ids(sc) - before, "entry must be persisted"
        assert out.agg(F.sum("v")).first()[0] == 3 * 29 * 30 // 2
        text_dedup.clear_shared_cache()
        # subset, not equality: the ContextCleaner may release blocks of
        # earlier tests meanwhile — the contract is "nothing of ours is left"
        assert not (text_dedup._persistent_rdd_ids(sc) - before)
    finally:
        out.unpersist()
        text_dedup.clear_shared_cache()
