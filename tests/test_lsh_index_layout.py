"""The LSH index's tokens/ layout: one ``bid=<segment>/`` directory per
segment holding files sorted by the stored ``tb`` column, a layout marker
next to the swap-protocol pointer, probes that prune through a pushed-down
``tb`` filter, compaction that only concatenates, and an old
``tb=*/bid=*`` index that is refused or rebuilt, never mixed."""

import collections
import glob
import os

import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from supermusr_data_pipeline_spark.plans import incremental
from supermusr_data_pipeline_spark.plans import index_maintenance as im
from supermusr_data_pipeline_spark.streaming import shard_ingest

SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _fresh(i):
    text = f"unique document number {i} about topic {i * 17} with its own words"
    return (i, text, "en", "s1", len(text))


def _tokens(idx):
    return im.resolve_dir(os.path.join(idx, "tokens"))


def _visible(path):
    return [n for n in os.listdir(path) if not n.startswith(("_", "."))]


def _token_multiset(spark, idx):
    rows = spark.read.parquet(_tokens(idx)).select("doc_id", "th").collect()
    return collections.Counter((r.doc_id, tuple(r.th)) for r in rows)


def _assert_sorted_files(spark, idx):
    files = glob.glob(os.path.join(_tokens(idx), "bid=*", "*.parquet"))
    assert files
    for f in files:
        tb = pq.read_table(f, columns=["tb"]).column("tb").to_pylist()
        assert tb == sorted(tb), f
    wrong = (
        spark.read.parquet(_tokens(idx))
        .filter(F.col("tb") != incremental._tok_bucket(F.col("doc_id")))
        .count()
    )
    assert wrong == 0


@pytest.fixture
def built(spark, tmp_path):
    idx = str(tmp_path / "idx")
    incremental.write_lsh_index(spark, SF_DIR, idx)
    return idx


def test_tokens_layout_is_sorted_files_per_segment(spark, built):
    tokens = os.path.join(built, "tokens")
    assert _visible(tokens) == ["bid=-1"]
    assert im.read_layout(tokens) == incremental.TOKENS_LAYOUT
    _assert_sorted_files(spark, built)
    # the segment holds files, not bucket directories
    seg = os.path.join(tokens, "bid=-1")
    assert all(n.endswith(".parquet") for n in _visible(seg))


def test_admit_batch_pushes_tb_filter_into_token_scan(spark, built):
    from supermusr_data_pipeline_spark.sources.testdata import load_table

    # one fresh doc and one copy of a base doc, so both token probes run:
    # redelivery presence and candidate verification
    base = (
        load_table(spark, SF_DIR, "documents")
        .filter("doc_id % 10 != 7 AND length(text) > 40")
        .orderBy("doc_id").first()
    )
    batch = spark.createDataFrame(
        [_fresh(9001), (9002, base.text, "en", "s1", len(base.text))], SCHEMA
    )
    decisions = shard_ingest.admit_batch(batch, built, exclude_bid=4)
    plan = decisions._jdf.queryExecution().toString()
    scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "tb:int" in ln
    ]
    assert len(scans) >= 2, plan
    for ln in scans:
        pushed = ln.split("PushedFilters: [", 1)[1]
        assert pushed.startswith("In(tb, ["), ln
        # the own-segment exclusion stays a partition filter
        assert "NOT (bid#" in ln.split("PartitionFilters: [", 1)[1], ln
    assert {r.doc_id: r.reason for r in decisions.collect()} == {
        9001: "admitted", 9002: "near_dup_of_base"
    }


def test_build_append_compact_is_concatenation(spark, built):
    tokens = os.path.join(built, "tokens")
    marker = os.stat(os.path.join(tokens, "_LAYOUT"))
    incremental.append_shard_to_index(spark, SF_DIR, built)
    batch = spark.createDataFrame([_fresh(9100 + k) for k in range(5)], SCHEMA)
    d = shard_ingest.admit_batch(batch, built, exclude_bid=0)
    shard_ingest._append_admitted(batch, d.filter("admit"), built, bid=0)
    # appends find the marker current and leave the file alone
    after = os.stat(os.path.join(tokens, "_LAYOUT"))
    assert (after.st_ino, after.st_mtime_ns) == (
        marker.st_ino, marker.st_mtime_ns
    )
    assert sorted(_visible(tokens)) == ["bid=-1", "bid=-2", "bid=0"]
    _assert_sorted_files(spark, built)
    # every segment counts once toward the compaction trigger, exactly as
    # each band_no directory holds one file per segment
    assert im._max_files_per_dir(_tokens(built)) == 3
    assert im._max_files_per_dir(im.resolve_dir(os.path.join(built, "bands"))) == 3
    before = _token_multiset(spark, built)

    im.compact_lsh_index(spark, built)
    assert _token_multiset(spark, built) == before
    assert _visible(_tokens(built)) == ["bid=-1"]
    assert im.read_layout(tokens) == incremental.TOKENS_LAYOUT
    _assert_sorted_files(spark, built)
    assert im._max_files_per_dir(_tokens(built)) == 1


def _write_old_layout(spark, idx):
    """The earlier writer: tokens partitioned by (tb, bid), no marker."""
    incremental.write_lsh_index(spark, SF_DIR, idx)
    tokens = os.path.join(idx, "tokens")
    df = spark.read.parquet(tokens).select("doc_id", "th", "tb", "bid")
    rows = df.collect()
    old = spark.createDataFrame(rows, df.schema)
    old.write.partitionBy("tb", "bid").mode("overwrite").parquet(tokens)
    assert im.read_layout(tokens) is None
    return collections.Counter((r.doc_id, tuple(r.th)) for r in rows)


def test_old_layout_is_refused_not_mixed(spark, tmp_path):
    idx = str(tmp_path / "old")
    _write_old_layout(spark, idx)
    tokens = os.path.join(idx, "tokens")
    listing = sorted(os.listdir(tokens))
    batch = spark.createDataFrame([_fresh(9200)], SCHEMA)
    with pytest.raises(incremental.IndexLayoutError, match="rebuild it with write_lsh_index"):
        incremental.append_shard_to_index(spark, SF_DIR, idx)
    with pytest.raises(incremental.IndexLayoutError, match="tb=\\*/bid=\\*"):
        shard_ingest.admit_batch(batch, idx, exclude_bid=0)
    with pytest.raises(incremental.IndexLayoutError):
        shard_ingest._append_admitted(batch, batch.select("doc_id"), idx, bid=0)
    # nothing was written next to the old layout
    assert sorted(os.listdir(tokens)) == listing
    assert not any(n.startswith("bid=") for n in listing)

    # the bulk build replaces it wholesale and records the marker
    assert im.read_layout(tokens) is None
    incremental.write_lsh_index(spark, SF_DIR, idx)
    assert _visible(tokens) == ["bid=-1"]
    assert im.read_layout(tokens) == incremental.TOKENS_LAYOUT
    assert shard_ingest.admit_batch(batch, idx, exclude_bid=0).count() == 1


def test_compaction_migrates_old_layout(spark, tmp_path):
    idx = str(tmp_path / "old")
    want = _write_old_layout(spark, idx)
    im.compact_lsh_index(spark, idx)
    tokens = os.path.join(idx, "tokens")
    assert im.read_layout(tokens) == incremental.TOKENS_LAYOUT
    assert _visible(_tokens(idx)) == ["bid=-1"]
    assert _token_multiset(spark, idx) == want
    _assert_sorted_files(spark, idx)
