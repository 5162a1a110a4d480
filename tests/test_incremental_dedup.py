"""q79 incremental dedup contract: the incremental pass over the delta
shard must produce EXACTLY the full-corpus q25 pair set restricted to
pairs touching the delta — same banding, same stop-bucket cap, same
star-linking, same Jaccard verification — while never generating a
base x base candidate."""

import contextlib
import io

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from supermusr_data_pipeline_spark.plans import incremental
from supermusr_data_pipeline_spark.plans.text_dedup import clear_shared_cache

SF_DIR = "/root/testdata/sf0.01"

_D = incremental._DELTA_MOD
_R = incremental._DELTA_REM


def _touches_delta(a: int, b: int) -> bool:
    return a % _D == _R or b % _D == _R


def test_incremental_equals_full_pass_restricted(spark):
    """The semantics contract from the module docstring, verified
    literally: q79 == q25 ⋈ (doc_a or doc_b in delta)."""
    clear_shared_cache()
    full = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in entry_mod.queries()["q25_lsh_near_dup"](spark, SF_DIR).collect()
    }
    expected = {k: v for k, v in full.items() if _touches_delta(*k)}
    got = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in entry_mod.queries()["q79_incremental_dedup"](spark, SF_DIR).collect()
    }
    assert got == expected
    # the restriction is non-trivial in both directions: the delta shard
    # has new pairs, and the base has pairs the incremental pass skips
    assert expected, "fixture produced no delta-touching pairs"
    assert len(full) > len(expected), "fixture produced no base-only pairs"
    clear_shared_cache()


def test_no_base_base_pairs_and_kinds(spark):
    rows = entry_mod.queries()["q79_incremental_dedup"](spark, SF_DIR).collect()
    for r in rows:
        assert _touches_delta(r.doc_a, r.doc_b), f"base x base pair {r}"
        both = r.doc_a % _D == _R and r.doc_b % _D == _R
        assert r.kind == ("delta_delta" if both else "delta_base")


def test_plan_stays_jvm_and_ids_only(spark):
    """Signatures/banding/verification are JVM expressions; no Python in
    the pair path, no cartesian product."""
    df = entry_mod.queries()["q79_incremental_dedup"](spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_indexed_incremental_equals_derived(spark):
    """q82 (base side from the persisted index) must equal q79 (base side
    derived in-plan) exactly — the layout change moves no value."""
    q79 = {
        (r.doc_a, r.doc_b): (round(r.jaccard, 9), r.kind)
        for r in entry_mod.queries()["q79_incremental_dedup"](spark, SF_DIR).collect()
    }
    q82 = {
        (r.doc_a, r.doc_b): (round(r.jaccard, 9), r.kind)
        for r in entry_mod.queries()["q82_indexed_incremental"](spark, SF_DIR).collect()
    }
    assert q79 == q82


def test_index_builds_once_and_plan_reads_it(spark):
    """The index write is a once-per-session side effect; the probe plan
    scans the persisted artifacts (both band and token parquet), and the
    only text-derived signatures are the delta's."""
    import os

    q = entry_mod.queries()["q82_indexed_incremental"]
    q(spark, SF_DIR).count()
    path = incremental.lsh_index_path(SF_DIR)
    assert os.path.isdir(os.path.join(path, "bands"))
    assert os.path.isdir(os.path.join(path, "tokens"))
    # band layout is partitioned by band_no
    assert any(d.startswith("band_no=") for d in os.listdir(os.path.join(path, "bands")))
    mtimes = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            mtimes[p] = os.path.getmtime(p)
    q(spark, SF_DIR).count()  # second call must not rebuild
    for p, t in mtimes.items():
        assert os.path.getmtime(p) == t, f"index rewritten on second call: {p}"

    df = q(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "supermusr_lsh_index_" in p, "plan must scan the persisted index"
    assert "BatchEvalPython" not in p


def test_incremental_hot_bucket_stays_linear(spark, tmp_path):
    """A degenerate shard (hundreds of identical documents) must ride the
    same stop-bucket/star-link guard as the batch pass: pair output grows
    linearly with the bucket, never O(bucket^2)."""
    n = 240
    delta_ids = [i for i in range(10 * n) if i % _D == _R][:n]
    rows = [(i, "the same boilerplate text repeated for every document", "en",
             "src_hot", 49) for i in delta_ids]
    # a handful of distinct base docs so the index side is non-trivial
    rows += [(j, f"unique base document number {j} with its own words", "en",
              "src_base", 40) for j in range(0, 50) if j % _D != _R]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = entry_mod.queries()["q79_incremental_dedup"](spark, str(tmp_path)).collect()
    from supermusr_data_pipeline_spark.plans.text_dedup import _LSH_BUCKET_CAP

    # all-pairs would be ~n^2/2 = 28k; star-linking bounds it to ~n
    assert 0 < len(out) <= 2 * n, f"hot delta bucket produced {len(out)} pairs"
    # the family stays connected through the representative
    reps = {r.doc_a for r in out if r.doc_b in set(delta_ids)}
    assert len(reps) <= 3, "star linking should funnel through few representatives"


def test_index_append_grows_to_full_corpus(spark, tmp_path):
    """write_lsh_index(base) + append_shard_to_index(delta) must leave an
    index whose contents equal an index built over ALL documents — the
    append path is a rebuild-free admit."""
    idx = str(tmp_path / "idx")
    incremental.write_lsh_index(spark, SF_DIR, idx)
    incremental.append_shard_to_index(spark, SF_DIR, idx)

    from supermusr_data_pipeline_spark.plans.text_dedup import (
        _banded,
        _minhash_cols_spark,
        _with_token_hashes,
    )

    all_docs = _with_token_hashes(spark, SF_DIR).filter(F.size("th") > 0)
    want_tokens = {(r.doc_id, tuple(r.th)) for r in
                   all_docs.select("doc_id", "th").collect()}
    got_tokens = {(r.doc_id, tuple(r.th)) for r in
                  spark.read.parquet(f"{idx}/tokens").collect()}
    assert got_tokens == want_tokens
    want_bands = {(r.doc_id, r.band_no, r.key) for r in
                  _banded(all_docs.select("doc_id", *_minhash_cols_spark())).collect()}
    got_bands = {(r.doc_id, int(r.band_no), r.key) for r in
                 spark.read.parquet(f"{idx}/bands").collect()}
    assert got_bands == want_bands


def test_admission_covers_shard_and_agrees_with_pairs(spark):
    """q94: one decision per shard doc; drops exactly the docs q79 pairs
    against base or an earlier peer; at least one doc admitted and one
    dropped on the fixture."""
    decisions = {r.doc_id: r for r in
                 entry_mod.queries()["q94_shard_admission"](spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    shard_ids = {r.doc_id for r in docs.collect() if r.doc_id % _D == _R}
    assert set(decisions) == shard_ids
    pairs = entry_mod.queries()["q79_incremental_dedup"](spark, SF_DIR).collect()
    should_drop = set()
    for p in pairs:
        if p.kind == "delta_base":
            should_drop.add(p.doc_a if p.doc_a % _D == _R else p.doc_b)
        else:
            should_drop.add(p.doc_b)
    for did, r in decisions.items():
        assert r.admit == (did not in should_drop)
    admits = sum(1 for r in decisions.values() if r.admit)
    assert 0 < admits < len(decisions)
