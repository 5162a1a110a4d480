"""Executor-storage hygiene for the iterative/materialized paths: a
20-round run of the distributed connected-components loop must hold ONE
label checkpoint, not 20, and the driver-path CC must hold none; clearing
the shared intermediate cache must actually release the blocks;
LRU eviction must unpersist what it evicts.  At test scale these leaks are
kilobytes — at 100 TB they are the difference between a pipeline that runs
for a week and one that OOMs executors on day two."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from supermusr_data_pipeline_spark.plans import text_dedup
from supermusr_data_pipeline_spark.plans.text_dedup import (
    _persistent_rdd_ids,
    min_label_components,
)

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.1"


def _chain_edges(spark, n):
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "u bigint, v bigint")
    return df.union(df.select(F.col("v"), F.col("u")))


@pytest.fixture
def cc_loop(monkeypatch):
    """Force the distributed CC loop: no graph is under a gate of -1."""
    monkeypatch.setattr(text_dedup, "_CC_DRIVER_MAX_EDGES", -1)


def test_cc_holds_one_checkpoint_not_one_per_round(spark, cc_loop):
    """A 64-node chain takes several pointer-jumping rounds; only the FINAL
    round's checkpoint may remain persisted when the call returns."""
    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    labels = min_label_components(_chain_edges(spark, 64))
    leaked = _persistent_rdd_ids(sc) - before
    assert text_dedup.LAST_CC_ROUNDS is not None and text_dedup.LAST_CC_ROUNDS >= 3
    # exactly the returned labels' own checkpoint survives — not R copies
    assert len(leaked) <= 1, f"CC leaked {len(leaked)} persistent RDDs across rounds"
    assert labels.count() == 64
    text_dedup._unpersist_rdd_ids(sc, leaked)


def test_cc_failure_path_releases_everything(spark, cc_loop):
    """max_rounds=1 on a deep chain raises — and must not leave the edges
    cache or the last round's checkpoint behind."""
    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    with pytest.raises(RuntimeError, match="did not converge"):
        min_label_components(_chain_edges(spark, 64), max_rounds=1)
    # subset, not equality: Spark's ContextCleaner may concurrently release
    # out-of-scope blocks from EARLIER tests, shrinking the baseline set —
    # the contract here is only "this call added nothing"
    assert not (_persistent_rdd_ids(sc) - before)


def test_cc_driver_path_holds_nothing(spark):
    """The driver path labels a collected edge list: once the call returns,
    not even the persisted edges remain."""
    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    labels = min_label_components(_chain_edges(spark, 64))
    assert not (_persistent_rdd_ids(sc) - before)
    assert text_dedup.LAST_CC_ROUNDS == 2  # one hook round, one to confirm
    assert labels.count() == 64


def test_cc_driver_failure_path_releases_everything(spark):
    """A too-small max_rounds raises on the driver path too, and leaves no
    persisted RDD behind."""
    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    with pytest.raises(RuntimeError, match="did not converge"):
        min_label_components(_chain_edges(spark, 64), max_rounds=1)
    assert not (_persistent_rdd_ids(sc) - before)


def test_clear_shared_cache_releases_blocks(spark):
    sc = spark.sparkContext
    text_dedup.clear_shared_cache()
    before = _persistent_rdd_ids(sc)
    entry_mod.queries()["q42_dedup_clusters"](spark, SF_DIR).count()
    assert _persistent_rdd_ids(sc) - before, "expected checkpoints while cached"
    text_dedup.clear_shared_cache()
    # subset, not equality (see test_cc_failure_path_releases_everything)
    assert not (_persistent_rdd_ids(sc) - before)


def test_lru_eviction_unpersists(spark, monkeypatch):
    sc = spark.sparkContext
    text_dedup.clear_shared_cache()
    monkeypatch.setattr(text_dedup, "_SHARED_CACHE_MAX", 1)
    before = _persistent_rdd_ids(sc)
    q25 = entry_mod.queries()["q25_lsh_near_dup"]
    q25(spark, SF_DIR).count()
    first_ids = _persistent_rdd_ids(sc) - before
    q25(spark, "/root/testdata/sf0.01").count()  # evicts the sf0.001 entry
    assert len(text_dedup._SHARED_CACHE) == 1
    assert not (first_ids & _persistent_rdd_ids(sc)), "evicted entry still persisted"
    # the evicted entry rebuilds on next use (counted, not silently served stale)
    q25(spark, SF_DIR).count()
    assert (
        sum(v for k, v in text_dedup._SHARED_BUILDS.items() if k[2] == "q25_lsh_near_dup")
        == 3
    )
    text_dedup.clear_shared_cache()


def test_q42_converges_in_few_rounds_at_bench_scale(spark):
    """Punch-list gate: the near-dup pair graph at sf0.1 (bench scale) must
    keep components shallow — if a threshold change ever makes the CC round
    count climb, CI catches it before the cluster bill does."""
    text_dedup.clear_shared_cache()
    # the pair graph is under the CC gate, so the rounds are driver-path
    # union-find rounds
    n_pairs = entry_mod.queries()["q25_lsh_near_dup"](spark, SF01_DIR).count()
    assert 2 * n_pairs <= text_dedup._CC_DRIVER_MAX_EDGES
    entry_mod.queries()["q42_dedup_clusters"](spark, SF01_DIR).count()
    assert text_dedup.LAST_CC_ROUNDS is not None
    assert text_dedup.LAST_CC_ROUNDS <= 8, (
        f"q42 CC took {text_dedup.LAST_CC_ROUNDS} rounds at sf0.1 — "
        "pair-graph blowup?"
    )
    text_dedup.clear_shared_cache()


def _shared_ids() -> set:
    return set().union(*(ids for _df, ids in text_dedup._SHARED_CACHE.values()))


@pytest.mark.parametrize(
    "writer", ["write_lsh_index", "append_shard_to_index", "write_postings_index"]
)
def test_index_writers_leave_nothing_persisted(spark, tmp_path, writer):
    """The index builds read the session-shared feature tables and persist
    nothing of their own: after the write, the only new persisted RDDs are
    the shared entries, and clearing the cache releases those too."""
    from supermusr_data_pipeline_spark.plans import incremental, retrieval

    fn = getattr(incremental, writer, None) or getattr(retrieval, writer)
    sc = spark.sparkContext
    text_dedup.clear_shared_cache()
    idx = str(tmp_path / "idx")
    if writer == "append_shard_to_index":
        incremental.write_lsh_index(spark, SF_DIR, idx)
    before = _persistent_rdd_ids(sc)
    fn(spark, SF_DIR, idx)
    assert not (_persistent_rdd_ids(sc) - before - _shared_ids())
    text_dedup.clear_shared_cache()
    assert not (_persistent_rdd_ids(sc) - before)


def test_clear_shared_cache_after_curation_chain(spark, tmp_path):
    """After the whole dedup -> index build -> probe -> retrieval chain,
    clearing the cache returns the persisted-RDD set to its baseline.  The
    one exception is named: q78 checkpoints its PQ code table and query
    side per query (lazy materialize()), which belong to the returned
    DataFrame, not to the shared cache."""
    from supermusr_data_pipeline_spark.plans import incremental

    qs = entry_mod.queries()
    sc = spark.sparkContext
    text_dedup.clear_shared_cache()
    before = _persistent_rdd_ids(sc)
    for name in ("q25_lsh_near_dup", "q42_dedup_clusters", "q46_curated_corpus"):
        qs[name](spark, SF_DIR).count()
    incremental.write_lsh_index(spark, SF_DIR, str(tmp_path / "idx"))
    for name in (
        "q82_indexed_incremental",
        "q79_incremental_dedup",
        "q69_lsh_recall",
        "q112_bm25_topk",
        "q116_hybrid_rrf",
        "q117_hard_negatives",
    ):
        qs[name](spark, SF_DIR).count()
    mid = _persistent_rdd_ids(sc)
    qs["q78_ivf_pq_ann"](spark, SF_DIR).count()
    q78_own = _persistent_rdd_ids(sc) - mid - _shared_ids()
    assert len(q78_own) <= 2
    text_dedup.clear_shared_cache()
    assert not (_persistent_rdd_ids(sc) - before - q78_own)
    text_dedup._unpersist_rdd_ids(sc, q78_own)
