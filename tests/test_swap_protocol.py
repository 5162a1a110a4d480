"""The object-storage-safe publish protocol (VERDICT r7 #2): versioned
hidden dirs + a one-file _CURRENT pointer for the segmented indexes, and
the resumable file-level manifest for nexus run compaction.  Each test
injects a crash at a protocol step and asserts that (a) readers resolve
a complete, value-identical state at every crash point, and (b) a retry
converges to the compacted end state."""

import os

import pytest

from supermusr_data_pipeline_spark.plans import index_maintenance as im
from supermusr_data_pipeline_spark.plans.incremental import write_lsh_index
from supermusr_data_pipeline_spark.streaming import shard_ingest


# slow set (pytest.ini deselects by default; opt in with -m slow):
# multi-minute soak / streaming end-to-end / large-SF coverage whose
# operators' value-correctness stays pinned by the default sf0.001
# parity + plan audits
pytestmark = pytest.mark.slow

SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
BASE_TEXT = "the quick brown fox jumps over the lazy dog near the river bank today"


def _doc(i, text):
    return (i, text, "en", "s1", len(text))


def _fresh(i):
    return _doc(i, f"unique document number {i} about topic {i * 17} with its own words")


def _mk_lsh(spark, tmp_path):
    src = tmp_path / "base_sf"
    src.mkdir()
    spark.createDataFrame(
        [_doc(1, BASE_TEXT), _doc(2, "some other base document entirely")], SCHEMA
    ).write.parquet(str(src / "documents.parquet"))
    idx = str(tmp_path / "idx")
    write_lsh_index(spark, str(src), idx)
    for b in range(2):
        batch = spark.createDataFrame(
            [_fresh(100 + b * 100 + k) for k in range(10)], SCHEMA
        )
        d = shard_ingest.admit_batch(batch, idx, exclude_bid=b)
        shard_ingest._append_admitted(batch, d.filter("admit"), idx, bid=b)
    return idx


def _probe_decisions(spark, idx):
    probe = spark.createDataFrame(
        [_doc(500, BASE_TEXT), _fresh(501), _fresh(105)], SCHEMA
    )
    return sorted(shard_ingest.admit_batch(probe, idx).collect())


def test_crash_before_flip_keeps_old_state_then_retry_converges(spark, tmp_path):
    idx = _mk_lsh(spark, tmp_path)
    bands = os.path.join(idx, "bands")
    before = _probe_decisions(spark, idx)

    with pytest.raises(RuntimeError, match="after_write"):
        im._compact_segmented(spark, bands, "band_no", _fail_at="after_write")
    # no pointer yet -> readers still resolve the pre-compaction layout
    assert im._read_pointer(bands) is None
    assert _probe_decisions(spark, idx) == before

    # retry completes: pointer flipped, decisions identical; the plain
    # pre-versioning layout is TOMBSTONED (recorded in _RETIRED), not
    # deleted — phase 2 of the two-phase retire collects it on the next
    # maintenance call, after the flip's batch has committed
    im._compact_segmented(spark, bands, "band_no")
    assert im._read_pointer(bands) == ".v1"
    assert _probe_decisions(spark, idx) == before
    assert im._RETIRED in os.listdir(bands)
    assert any(n.startswith("band_no=") for n in os.listdir(bands))
    assert im.gc_retired(bands) > 0
    assert set(os.listdir(bands)) == {im._POINTER, ".v1"}


def test_crash_after_flip_serves_new_state_and_gc_later(spark, tmp_path):
    idx = _mk_lsh(spark, tmp_path)
    tokens = os.path.join(idx, "tokens")
    before = _probe_decisions(spark, idx)

    with pytest.raises(RuntimeError, match="after_flip"):
        im._compact_segmented(
            spark, tokens, "tb", sorted_by_key=True, _fail_at="after_flip"
        )
    # pointer flipped: readers already resolve the compacted copy; the
    # stale plain segment dirs are inert garbage awaiting GC (the
    # crash lost the _RETIRED marker — the next publish's catch-all
    # collects them anyway)
    assert im._read_pointer(tokens) == ".v1"
    assert _probe_decisions(spark, idx) == before
    assert any(n.startswith("bid=") for n in os.listdir(tokens))

    # the next maintenance run collects the stranded garbage, publishes
    # .v2, and tombstones .v1; phase 2 then collects .v1.  The layout
    # marker lives next to the pointer and survives every GC.
    im._compact_segmented(spark, tokens, "tb", sorted_by_key=True)
    assert im._read_pointer(tokens) == ".v2"
    assert _probe_decisions(spark, idx) == before
    assert not any(n.startswith("bid=") for n in os.listdir(tokens))
    assert ".v1" in os.listdir(tokens)  # tombstoned, one cycle of grace
    im.gc_retired(tokens)
    assert set(os.listdir(tokens)) == {im._POINTER, im._LAYOUT, ".v2"}


def test_repeated_compaction_and_post_compaction_appends(spark, tmp_path):
    """Appends after a compaction must land inside the live version dir
    (writers resolve through the pointer), stay visible to admission,
    and survive a SECOND compaction."""
    idx = _mk_lsh(spark, tmp_path)
    before = _probe_decisions(spark, idx)
    im.compact_lsh_index(spark, idx)
    assert _probe_decisions(spark, idx) == before

    # collect the tombstoned plain layout so root listings are clean
    for sub in ("bands", "tokens"):
        im.gc_retired(os.path.join(idx, sub))

    batch = spark.createDataFrame([_fresh(300)], SCHEMA)
    d = shard_ingest.admit_batch(batch, idx, exclude_bid=9)
    assert d.collect()[0].admit
    shard_ingest._append_admitted(batch, d.filter("admit"), idx, bid=9)
    # the append went into .v1, not a new plain segment dir at the root
    assert not any(
        n.startswith("bid=") for n in os.listdir(os.path.join(idx, "tokens"))
    )
    redel = spark.createDataFrame([_fresh(300)], SCHEMA)
    d2 = shard_ingest.admit_batch(redel, idx, exclude_bid=10).collect()[0]
    assert d2.reason == "already_ingested"

    im.compact_lsh_index(spark, idx)
    d3 = shard_ingest.admit_batch(redel, idx, exclude_bid=11).collect()[0]
    assert d3.reason == "already_ingested", "post-compaction index lost the appended doc"


# ---------------------------------------------------------------------------
# nexus manifest protocol
# ---------------------------------------------------------------------------

from datetime import datetime, timezone

from pyspark.sql import functions as F

FRAMES_SCHEMA = (
    "ts timestamp, period_number long, protons_per_pulse int, running boolean, "
    "frame_number long, veto_flags int, complete boolean, "
    "digitizers_present array<int>, channel array<int>, "
    "event_time array<long>, event_voltage array<double>"
)


def _mk_nexus_sink(spark, tmp_path):
    from supermusr_data_pipeline_spark.streaming.nexus_stream import NexusStreamWriter

    runs = spark.createDataFrame(
        [("runA", "2023-12-31 23:59:59", "2024-01-02 00:00:00")],
        "run_name string, f string, u string",
    ).select(
        "run_name",
        F.to_timestamp("f").alias("collect_from"),
        F.to_timestamp("u").alias("collect_until"),
    )
    sink = str(tmp_path / "sink")
    writer = NexusStreamWriter(runs, sink)
    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    for b in range(3):
        rows = []
        for i in range(b * 3, b * 3 + 3):
            ts = datetime.fromtimestamp(base.timestamp() + i * 0.02, tz=timezone.utc)
            ev = list(range(i * 10, i * 10 + 5))
            rows.append(
                (ts.replace(tzinfo=None), 0, 4, True, i, 1, True, [0, 1],
                 [e % 8 for e in ev], [e * 7 for e in ev], [float(e) for e in ev])
            )
        writer(spark.createDataFrame(rows, FRAMES_SCHEMA), b)
    return sink


def test_nexus_crash_after_manifest_resumes_to_identical_rows(spark, tmp_path):
    sink = _mk_nexus_sink(spark, tmp_path)
    before = sorted(map(tuple, spark.read.parquet(sink).collect()))
    with pytest.raises(RuntimeError, match="after_manifest"):
        im.compact_nexus_run(spark, sink, "run_name=runA", _fail_at="after_manifest")
    # manifest exists, nothing applied yet: rows unchanged
    assert sorted(map(tuple, spark.read.parquet(sink).collect())) == before
    stats = im.compact_nexus_run(spark, sink, "run_name=runA")
    assert stats.get("resumed") is True
    assert stats["files_after"] == 1
    assert sorted(map(tuple, spark.read.parquet(sink).collect())) == before
    run_dir = os.path.join(sink, "run_name=runA")
    assert not os.path.exists(os.path.join(run_dir, im._MANIFEST))


def test_nexus_crash_mid_copy_resumes_without_duplicates(spark, tmp_path):
    sink = _mk_nexus_sink(spark, tmp_path)
    before = sorted(map(tuple, spark.read.parquet(sink).collect()))
    with pytest.raises(RuntimeError, match="after_first_copy"):
        im.compact_nexus_run(
            spark, sink, "run_name=runA", _fail_at="after_first_copy"
        )
    # mid-apply the run transiently holds old + compacted files — the
    # documented completed-run/single-maintainer window; resume converges
    stats = im.compact_nexus_run(spark, sink, "run_name=runA")
    assert stats.get("resumed") is True
    assert stats["files_after"] == 1
    assert sorted(map(tuple, spark.read.parquet(sink).collect())) == before
