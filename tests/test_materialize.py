"""materialize(): local masters keep the r14 localCheckpoint barrier
(bench plans unchanged); non-local masters persist WITH lineage so an
executor loss recomputes instead of failing (VERDICT r14 #2)."""

import pytest
from pyspark import StorageLevel
from conftest import SF_DIR
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


# ---------------------------------------------------------------------------
# the streaming ingest doors materialize through materialize() and release
# what they materialized at the end of every micro-batch, on both branches
# ---------------------------------------------------------------------------

DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _branch(monkeypatch, cluster: bool) -> list:
    """Route materialize() to the requested branch; returns the list of
    masters it was asked about (one entry per materialize() call)."""
    calls: list = []
    real = mat._local_master
    monkeypatch.setattr(
        mat, "_local_master", lambda m: calls.append(m) or (real(m) and not cluster)
    )
    return calls


def _assert_released(spark, before):
    from supermusr_data_pipeline_spark.plans.text_dedup import _persistent_rdd_ids

    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert not (_persistent_rdd_ids(spark.sparkContext) - before)


@pytest.mark.parametrize("cluster", [False, True])
def test_shard_ingest_batch_releases_materializations(spark, tmp_path, monkeypatch, cluster):
    from supermusr_data_pipeline_spark.plans import incremental
    from supermusr_data_pipeline_spark.plans.text_dedup import _persistent_rdd_ids
    from supermusr_data_pipeline_spark.sources.testdata import load_table
    from supermusr_data_pipeline_spark.streaming import shard_ingest

    idx = str(tmp_path / "idx")
    incremental.write_lsh_index(spark, SF_DIR, idx)
    base = (
        load_table(spark, SF_DIR, "documents")
        .filter("doc_id % 10 != 7 AND length(text) > 40")
        .orderBy("doc_id").first()
    )
    fresh = "unique text about parquet footers and row group statistics here"
    batch = spark.createDataFrame(
        [(10**9, base.text, "en", "s1", len(base.text)),
         (10**9 + 1, fresh, "en", "s1", len(fresh))],
        DOC_SCHEMA,
    )
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark.sparkContext)
    calls = _branch(monkeypatch, cluster)
    dec = str(tmp_path / "decisions")
    shard_ingest.ingest_shard_batch(batch, 0, idx, dec)
    assert len(calls) == 2  # the candidate pairs and the decisions
    _assert_released(spark, before)
    got = {r.doc_id: r.reason for r in spark.read.parquet(dec).collect()}
    assert got == {10**9: "near_dup_of_base", 10**9 + 1: "admitted"}


@pytest.mark.parametrize("cluster", [False, True])
def test_vector_ingest_batch_releases_materializations(spark, tmp_path, monkeypatch, cluster):
    import numpy as np

    from supermusr_data_pipeline_spark.plans.text_dedup import (
        _codebook,
        _persistent_rdd_ids,
    )
    from supermusr_data_pipeline_spark.streaming import vector_ingest

    cents = _codebook("")[0]
    rng = np.random.default_rng(5)
    vschema = "vec_id bigint, embedding array<double>"
    base = [(i, rng.normal(size=64).tolist()) for i in range(1, 4)]
    idx = str(tmp_path / "vidx")
    vector_ingest.write_vector_index(spark.createDataFrame(base, vschema), idx, cents)
    batch = spark.createDataFrame(
        [(100, base[0][1]), (101, rng.normal(size=64).tolist())], vschema
    )
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark.sparkContext)
    calls = _branch(monkeypatch, cluster)
    dec = str(tmp_path / "decisions")
    vector_ingest.ingest_vector_batch(batch, 0, idx, dec, cents)
    assert len(calls) == 2  # the cell assignment and the decisions
    _assert_released(spark, before)
    got = {r.vec_id: r.admit for r in spark.read.parquet(dec).collect()}
    assert got == {100: False, 101: True}
