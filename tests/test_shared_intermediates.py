"""Materialized-intermediate contract for composed queries: the q25 LSH pair
graph, the q42 cluster labels and the per-document feature tables (token
signatures, BM25 term frequencies, the normed embedding cast) are built
ONCE per (session, sf_dir) and reused by every consumer — at 100 TB these
are written tables, and a re-run-per-subquery plan would multiply the most
expensive pass in the pipeline.  `_SHARED_BUILDS` counts actual builder executions, so this test
fails if a refactor silently reintroduces recomputation."""

import __spark_entry__ as entry_mod
from supermusr_data_pipeline_spark.plans import incremental, text_dedup

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.01"


FEATURE_TABLES = ("token_signatures", "term_freqs", "embedding_table")


def _builds(name: str) -> int:
    return sum(v for k, v in text_dedup._SHARED_BUILDS.items() if k[2] == name)


def _job_ids(spark, group: str, fn) -> list:
    """Run ``fn`` under its own job group; return the group's job ids once
    the listener bus has delivered every job event to the status store."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_one_lsh_pass_per_session(spark):
    text_dedup.clear_shared_cache()
    assert entry_mod.queries()["q46_curated_corpus"](spark, SF_DIR).count() > 0
    assert _builds("q25_lsh_near_dup") == 1
    assert _builds("q42_dedup_clusters") == 1
    # later direct invocations (and a second capstone run) reuse checkpoints
    entry_mod.queries()["q42_dedup_clusters"](spark, SF_DIR).count()
    entry_mod.queries()["q25_lsh_near_dup"](spark, SF_DIR).count()
    entry_mod.queries()["q46_curated_corpus"](spark, SF_DIR).count()
    assert _builds("q25_lsh_near_dup") == 1
    assert _builds("q42_dedup_clusters") == 1


def test_q47_reuses_ivf_result(spark):
    text_dedup.clear_shared_cache()
    entry_mod.queries()["q47_ann_recall"](spark, SF_DIR).count()
    entry_mod.queries()["q47_ann_recall"](spark, SF_DIR).count()
    assert _builds("q29_ivf_ann") == 1


def test_cache_is_per_sf_dir(spark):
    text_dedup.clear_shared_cache()
    entry_mod.queries()["q25_lsh_near_dup"](spark, SF_DIR).count()
    entry_mod.queries()["q25_lsh_near_dup"](spark, SF01_DIR).count()
    assert _builds("q25_lsh_near_dup") == 2  # different datasets never alias


def test_q42_job_count_on_cached_pairs(spark):
    """With q25's pair graph already cached, building q42 at sf0.01 (under
    the CC gate) and counting it takes 7 jobs: the edge count that picks
    the CC path (3 with AQE: cache fill, shuffle stage, result), the one
    Arrow collect of the edges, the label checkpoint, and the count itself
    (2).  The distributed loop schedules dozens; a rise means the dedup
    decision is scheduling Spark rounds again."""
    text_dedup.clear_shared_cache()
    entry_mod.queries()["q25_lsh_near_dup"](spark, SF01_DIR).count()
    jobs = _job_ids(
        spark,
        "q42-job-pin",
        lambda: entry_mod.queries()["q42_dedup_clusters"](spark, SF01_DIR).count(),
    )
    assert len(jobs) == 7
    text_dedup.clear_shared_cache()


def _curation_chain(spark, sf_dir: str, idx: str) -> None:
    qs = entry_mod.queries()
    qs["q25_lsh_near_dup"](spark, sf_dir).count()
    incremental.write_lsh_index(spark, sf_dir, idx)
    for name in (
        "q82_indexed_incremental",
        "q79_incremental_dedup",
        "q112_bm25_topk",
        "q116_hybrid_rrf",
        "q117_hard_negatives",
        "q78_ivf_pq_ann",
    ):
        qs[name](spark, sf_dir).count()


def test_feature_tables_built_once_per_session(spark, tmp_path):
    """Tokenize+MinHash, the BM25 tf table and the embedding cast each run
    once for the whole dedup / index-build / retrieval / ANN chain, and a
    second round of the chain builds nothing."""
    text_dedup.clear_shared_cache()
    _curation_chain(spark, SF_DIR, str(tmp_path / "idx1"))
    builds = dict(text_dedup._SHARED_BUILDS)
    for name in FEATURE_TABLES:
        assert _builds(name) == 1, name
    _curation_chain(spark, SF_DIR, str(tmp_path / "idx2"))
    assert text_dedup._SHARED_BUILDS == builds
    text_dedup.clear_shared_cache()


def test_lsh_build_job_count_on_cached_signatures(spark, tmp_path):
    """With the signature table already cached, building the LSH index at
    sf0.01 takes 4 jobs: each of the tokens/ and bands/ writes runs its
    repartition's shuffle-map stage as one job and the write as another.
    No job tokenizes or hashes the corpus (the traced benchmark's
    lsh_build, at sf0.1, fell from 7 jobs to 4 when the build stopped
    deriving and persisting its own signatures)."""
    text_dedup.clear_shared_cache()
    text_dedup.token_signatures(spark, SF01_DIR)
    jobs = _job_ids(
        spark,
        "lsh-build-job-pin",
        lambda: incremental.write_lsh_index(spark, SF01_DIR, str(tmp_path / "idx")),
    )
    assert _builds("token_signatures") == 1
    assert len(jobs) == 4
    text_dedup.clear_shared_cache()
