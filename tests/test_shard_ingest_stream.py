"""Streaming shard ingestion against the standing LSH index: batch
admission semantics on crafted docs, cross-batch dedup via index growth
(a doc admitted in batch 1 blocks its copy in batch 2), and re-run
idempotency of the index append."""

import time

from pyspark.sql import functions as F

from supermusr_data_pipeline_spark.plans.incremental import write_lsh_index
from supermusr_data_pipeline_spark.streaming.shard_ingest import (
    admit_batch,
    ingest_shard_stream,
)

import pytest

# slow set (pytest.ini deselects by default; opt in with -m slow):
# multi-minute soak / streaming end-to-end / large-SF coverage whose
# operators' value-correctness stays pinned by the default sf0.001
# parity + plan audits
pytestmark = pytest.mark.slow

SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"

BASE_TEXT = "the quick brown fox jumps over the lazy dog near the river bank today"
NEW_TEXT = "completely different content about spark executors shuffling partitions efficiently"
NEW_TEXT2 = "yet another unique document describing parquet footers and column statistics"


def _mk_index(spark, tmp_path):
    """A standing index over a tiny base corpus (doc 1 = BASE_TEXT)."""
    src = tmp_path / "base_sf"
    src.mkdir()
    rows = [(1, BASE_TEXT, "en", "s0", len(BASE_TEXT)),
            (2, "some other base document with its own words entirely", "en", "s0", 50)]
    spark.createDataFrame(rows, SCHEMA).write.parquet(str(src / "documents.parquet"))
    idx = str(tmp_path / "idx")
    write_lsh_index(spark, str(src), idx)
    # the fixture base has no doc_id % 10 == 7 rows, so the whole corpus is
    # "base"; sanity-check the artifacts exist
    assert spark.read.parquet(f"{idx}/tokens").count() == 2
    return idx


def test_admit_batch_semantics(spark, tmp_path):
    idx = _mk_index(spark, tmp_path)
    batch = spark.createDataFrame(
        [
            (10, BASE_TEXT, "en", "s1", len(BASE_TEXT)),       # dup of base 1
            (11, NEW_TEXT, "en", "s1", len(NEW_TEXT)),         # fresh
            (12, NEW_TEXT, "en", "s1", len(NEW_TEXT)),         # dup of peer 11
        ],
        SCHEMA,
    )
    d = {r.doc_id: r for r in admit_batch(batch, idx).collect()}
    assert not d[10].admit and d[10].reason == "near_dup_of_base"
    assert d[11].admit and d[11].reason == "admitted"
    assert not d[12].admit and d[12].reason == "near_dup_of_earlier_peer"


def test_stream_dedups_across_batches_via_index_growth(spark, tmp_path):
    idx = _mk_index(spark, tmp_path)
    src = tmp_path / "incoming"
    src.mkdir()
    # batch 1: a fresh doc; batch 2: its copy under a new id + another fresh
    spark.createDataFrame(
        [(21, NEW_TEXT, "en", "s1", len(NEW_TEXT))], SCHEMA
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(31, NEW_TEXT, "en", "s2", len(NEW_TEXT)),
         (32, NEW_TEXT2, "en", "s2", len(NEW_TEXT2))], SCHEMA
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "*"))
    dec_path = str(tmp_path / "decisions")
    q = ingest_shard_stream(stream, idx, dec_path, str(tmp_path / "ckpt"))
    deadline = time.time() + 120
    while time.time() < deadline:
        try:
            if spark.read.parquet(dec_path).count() >= 3:
                break
        except Exception:
            pass
        time.sleep(0.3)
    q.stop()

    d = {r.doc_id: r for r in spark.read.parquet(dec_path).collect()}
    assert d[21].admit, "first arrival must be admitted"
    assert not d[31].admit and d[31].reason == "near_dup_of_base", (
        "the copy in a LATER batch must be blocked by the grown index"
    )
    assert d[32].admit
    # index grew by exactly the admitted docs
    got = {r.doc_id for r in spark.read.parquet(f"{idx}/tokens").collect()}
    assert got == {1, 2, 21, 32}


def test_append_is_rerun_idempotent(spark, tmp_path):
    """Re-running a batch (crash/retry) must not duplicate index rows —
    the segment (bid) dynamic-partition-overwrite guarantee: the retry
    REPLACES its own bid partitions."""
    idx = _mk_index(spark, tmp_path)
    batch = spark.createDataFrame(
        [(41, NEW_TEXT, "en", "s1", len(NEW_TEXT))], SCHEMA
    )
    from supermusr_data_pipeline_spark.streaming import shard_ingest

    decisions = admit_batch(batch, idx, exclude_bid=7)
    shard_ingest._append_admitted(batch, decisions.filter("admit"), idx, bid=7)
    before = spark.read.parquet(f"{idx}/tokens").count()
    # simulated re-run: same batch id, same decisions, full re-append
    shard_ingest._append_admitted(batch, decisions.filter("admit"), idx, bid=7)
    assert spark.read.parquet(f"{idx}/tokens").count() == before
    assert spark.read.parquet(f"{idx}/tokens").filter("doc_id = 41").count() == 1


def test_partial_append_heals_on_retry(spark, tmp_path, monkeypatch):
    """ADVICE r7: a crash BETWEEN the tokens append and the bands append
    must not leave a doc permanently invisible to LSH candidate
    generation.  Simulate the half-segment (tokens written, bands not)
    and re-run the whole batch: the doc must end up in BOTH artifacts
    exactly once, and its decision must still be 'admitted'."""
    from supermusr_data_pipeline_spark.plans import incremental, index_maintenance
    from supermusr_data_pipeline_spark.streaming import shard_ingest

    idx = _mk_index(spark, tmp_path)
    batch = spark.createDataFrame(
        [(61, NEW_TEXT, "en", "s1", len(NEW_TEXT))], SCHEMA
    )
    # first attempt: tokens landed, crash before bands — the segment
    # writer itself, stopped right after its tokens write (the layout
    # marker is the step between the two writes)
    tokens, bands = shard_ingest._batch_artifacts(batch)
    real_write_layout = index_maintenance.write_layout

    def crash_after_tokens(path, layout):
        real_write_layout(path, layout)
        raise RuntimeError("injected crash: before bands")

    monkeypatch.setattr(index_maintenance, "write_layout", crash_after_tokens)
    with pytest.raises(RuntimeError, match="before bands"):
        incremental.write_segment(tokens, bands, idx, 3, "overwrite", dynamic=True)
    monkeypatch.undo()
    assert spark.read.parquet(f"{idx}/tokens").filter("doc_id = 61").count() == 1
    assert spark.read.parquet(f"{idx}/bands").filter("doc_id = 61").count() == 0
    # retry of batch 3: own-segment exclusion hides the half-append, so
    # the decision recomputes as a fresh admit, and the segment overwrite
    # completes both artifacts
    d = {r.doc_id: r for r in admit_batch(batch, idx, exclude_bid=3).collect()}
    assert d[61].admit and d[61].reason == "admitted"
    shard_ingest._append_admitted(
        batch, admit_batch(batch, idx, exclude_bid=3).filter("admit"), idx, bid=3
    )
    assert spark.read.parquet(f"{idx}/tokens").filter("doc_id = 61").count() == 1
    assert (
        spark.read.parquet(f"{idx}/bands").filter("doc_id = 61").count() > 0
    ), "the doc must be visible to LSH candidate generation after the retry"


def test_decisions_are_rerun_idempotent(spark, tmp_path):
    """Crash between the index append and the decisions write: the batch
    re-runs with its own admitted docs already in the index.  admit_batch
    must recompute the SAME decisions — a doc must not flip to
    near_dup_of_base by matching itself, and a same-batch peer dup must
    not flip to a base dup because its peer was appended."""
    idx = _mk_index(spark, tmp_path)
    batch = spark.createDataFrame(
        [
            (41, NEW_TEXT, "en", "s1", len(NEW_TEXT)),   # fresh → admitted
            (42, NEW_TEXT, "en", "s1", len(NEW_TEXT)),   # dup of peer 41
            (43, BASE_TEXT, "en", "s1", len(BASE_TEXT)), # dup of base 1
        ],
        SCHEMA,
    )
    from supermusr_data_pipeline_spark.streaming import shard_ingest

    first = sorted(admit_batch(batch, idx, exclude_bid=5).collect())
    # crash point: append done, decisions write lost → foreachBatch re-runs
    # with its own bid=5 segment already in the index; exclusion is by bid
    shard_ingest._append_admitted(
        batch, admit_batch(batch, idx, exclude_bid=5).filter("admit"), idx, bid=5
    )
    rerun = sorted(admit_batch(batch, idx, exclude_bid=5).collect())
    assert rerun == first, (
        "re-run decisions diverged from the original:\n"
        f"first={first}\nrerun={rerun}"
    )
    d = {r.doc_id: r for r in rerun}
    assert d[41].admit and d[41].reason == "admitted"
    assert d[42].reason == "near_dup_of_earlier_peer"
    assert d[43].reason == "near_dup_of_base"


def test_later_batch_redelivery_short_circuits(spark, tmp_path):
    """An at-least-once source redelivering an ALREADY-ADMITTED doc_id in
    a later batch (different batch_id, so no marker guards it) must be
    rejected as already_ingested, not re-admitted as a fresh doc — and
    must not append a duplicate index row (ADVICE r6)."""
    idx = _mk_index(spark, tmp_path)
    from supermusr_data_pipeline_spark.streaming import shard_ingest

    b1 = spark.createDataFrame(
        [(51, NEW_TEXT, "en", "s1", len(NEW_TEXT))], SCHEMA
    )
    d1 = admit_batch(b1, idx, exclude_bid=0)
    assert d1.collect()[0].admit
    shard_ingest._append_admitted(b1, d1.filter("admit"), idx, bid=0)

    # later batch redelivers 51 alongside a genuinely fresh doc
    b2 = spark.createDataFrame(
        [(51, NEW_TEXT, "en", "s1", len(NEW_TEXT)),
         (52, NEW_TEXT2, "en", "s1", len(NEW_TEXT2))], SCHEMA
    )
    d2 = {r.doc_id: r for r in admit_batch(b2, idx, exclude_bid=1).collect()}
    assert not d2[51].admit and d2[51].reason == "already_ingested"
    assert d2[52].admit and d2[52].reason == "admitted"
    # appending only the admitted slice leaves exactly one row for 51
    shard_ingest._append_admitted(
        b2, admit_batch(b2, idx, exclude_bid=1).filter("admit"), idx, bid=1
    )
    tok = spark.read.parquet(f"{idx}/tokens")
    assert tok.filter("doc_id = 51").count() == 1
    assert tok.filter("doc_id = 52").count() == 1
