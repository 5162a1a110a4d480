"""S7 — completed-run file lifecycle: retire stopped runs into completed/
(run/mod.rs:116-139) then archive-flush (flush_to_archive.rs:1-118), as
Hadoop-FS renames over the partitioned nexus sink."""

import os
from datetime import datetime, timezone

import pytest

from supermusr_data_pipeline_spark.generator import generate_runs, generate_traces
from supermusr_data_pipeline_spark.operators.nexus_sink import (
    flush_completed_to_archive,
    retire_completed_runs,
)
from supermusr_data_pipeline_spark.plans.daq_chain import daq_chain
from supermusr_data_pipeline_spark.operators.nexus_sink import write_nexus


def test_retire_and_archive(spark, tmp_path):
    traces = generate_traces(spark, n_frames=12, n_digitizers=2, n_samples=300)
    runs = generate_runs(spark, n_frames=12, frames_per_run=4, gap_frames=1)
    nexus = daq_chain(
        traces, runs, expected_digitizers=[0, 1], mode="fixed", threshold=300.0,
        duration=2, cool_off=0,
    )
    sink = str(tmp_path / "sink")
    write_nexus(nexus, sink)
    run_dirs = sorted(d for d in os.listdir(sink) if d.startswith("run_name="))
    assert len(run_dirs) >= 2

    # far-future "now": every stopped run is past its TTL; the open last run
    # (collect_until NULL) must never be retired
    moved = retire_completed_runs(
        spark, sink, runs, now="2030-01-01 00:00:00", run_ttl_ms=2000
    )
    open_runs = {r["run_name"] for r in runs.filter("collect_until IS NULL").collect()}
    stopped_with_data = {d.split("=")[1] for d in run_dirs} - open_runs
    assert sorted(moved) == sorted(stopped_with_data)
    assert not (set(moved) & open_runs)
    for name in moved:
        assert os.path.isdir(os.path.join(sink, "completed", f"run_name={name}"))
        assert not os.path.exists(os.path.join(sink, f"run_name={name}"))

    # a "now" before any stop retires nothing
    assert retire_completed_runs(spark, sink, runs, now="2000-01-01 00:00:00") == []

    archive = str(tmp_path / "archive")
    flushed = flush_completed_to_archive(spark, sink, archive)
    assert sorted(flushed) == sorted(f"run_name={m}" for m in moved)
    for name in moved:
        assert os.path.isdir(os.path.join(archive, f"run_name={name}"))
    assert flush_completed_to_archive(spark, sink, archive) == []

    # retired data stays readable: the archive is still a valid parquet table
    back = spark.read.parquet(archive)
    assert back.count() > 0


def test_retire_with_compaction(spark, tmp_path):
    """retire_completed_runs(compact=True): each retired run's partition
    is rewritten to ONE sorted zstd file with identical rows — the
    lifecycle closing the appender's file accumulation."""
    traces = generate_traces(spark, n_frames=8, n_digitizers=2, n_samples=300)
    runs = generate_runs(spark, n_frames=8, frames_per_run=4, gap_frames=0)
    nexus = daq_chain(
        traces, runs, expected_digitizers=[0, 1], mode="fixed", threshold=300.0,
        duration=2, cool_off=0,
    )
    sink = str(tmp_path / "sink")
    # write twice so each run dir holds multiple files (micro-batch shape)
    write_nexus(nexus.filter("event_index % 2 = 0"), sink)
    write_nexus(nexus.filter("event_index % 2 = 1"), sink, mode="append")
    before = {}
    for d in os.listdir(sink):
        if d.startswith("run_name="):
            p = os.path.join(sink, d)
            before[d] = sorted(
                tuple(map(repr, r)) for r in spark.read.parquet(p).collect()
            )
            assert len([f for f in os.listdir(p) if f.endswith(".parquet")]) > 1

    moved = retire_completed_runs(
        spark, sink, runs, now="2030-01-01 00:00:00", compact=True
    )
    assert moved
    for name in moved:
        p = os.path.join(sink, "completed", f"run_name={name}")
        files = [f for f in os.listdir(p) if f.endswith(".parquet")]
        assert len(files) == 1 and files[0].endswith(".zstd.parquet")
        after = sorted(
            tuple(map(repr, r)) for r in spark.read.parquet(p).collect()
        )
        assert after == before[f"run_name={name}"]


@pytest.mark.parametrize("name", ["run_a", "a%b", "MuSR:12"])
def test_retire_escaped_run_name(spark, tmp_path, name):
    """A run name that partition directories escape (``%`` -> ``%25``,
    ``:`` -> ``%3A``) retires and compacts like a plain one."""
    runs = spark.createDataFrame(
        [(name, datetime(2024, 3, 1), datetime(2024, 3, 2))],
        "run_name string, collect_from timestamp, collect_until timestamp",
    )
    rows = spark.createDataFrame(
        [(name, s, 10 * s, s, 100 * s) for s in range(4)],
        "run_name string, frame_seq long, event_index long, event_id int, "
        "event_time_offset long",
    )
    sink = str(tmp_path / "sink")
    write_nexus(rows, sink)
    moved = retire_completed_runs(
        spark, sink, runs, now="2030-01-01 00:00:00", compact=True
    )
    assert moved == [name]
    assert not [d for d in os.listdir(sink) if d.startswith("run_name=")]
    back = spark.read.parquet(os.path.join(sink, "completed"))
    assert sorted(tuple(r) for r in back.select(*rows.columns).collect()) == (
        sorted(tuple(r) for r in rows.collect())
    )


def test_retire_drops_run_from_fetch_loop(spark, tmp_path):
    """``writer=`` a fetch-loop door: after retirement a straggler frame
    inside the retired run's interval matches no run, so the run's live
    directory is not re-created next to its completed/ copy."""
    from pyspark.sql import functions as F

    from supermusr_data_pipeline_spark.kafka.client import ConsumerRecord
    from supermusr_data_pipeline_spark.sources import messages as M
    from supermusr_data_pipeline_spark.streaming.nexus_fetchloop import (
        FetchLoopNexusWriter,
    )

    t0_us = int(datetime(2024, 3, 1, tzinfo=timezone.utc).timestamp() * 1e6)
    runs = spark.createDataFrame(
        [("run_a", t0_us - 1_000_000, t0_us + 100_000)],
        "run_name string, from_us long, until_us long",
    ).select(
        "run_name",
        F.timestamp_micros("from_us").alias("collect_from"),
        F.timestamp_micros("until_us").alias("collect_until"),
    )

    def frame(fno):  # both digitisers, 2 events each, 20 ms apart
        md = {
            "ts_ns": (t0_us + fno * 20_000) * 1000, "period_number": 0,
            "protons_per_pulse": 4, "running": True, "frame_number": fno,
            "veto_flags": 0,
        }
        return [
            ConsumerRecord(
                "t", 0, 2 * fno + d, 0, b"k",
                M.encode_dev2(d, md, [10, 20], [1, 2], [d, d]),
            )
            for d in (0, 1)
        ]

    sink = str(tmp_path / "sink")
    live = os.path.join(sink, "run_name=run_a")
    w = FetchLoopNexusWriter(runs, sink, [0, 1], "unused:0", ["t"])
    assert w.poll_once(records=frame(0)) == [0]
    assert os.path.isdir(live)

    moved = retire_completed_runs(
        spark, sink, runs, now="2030-01-01 00:00:00", writer=w
    )
    assert moved == ["run_a"]
    assert not os.path.exists(live)

    assert w.poll_once(records=frame(2)) == []  # inside the retired interval
    assert not os.path.exists(live)
    completed = os.path.join(sink, "completed", "run_name=run_a")
    assert spark.read.parquet(completed).count() == 4


def test_retire_drops_run_from_fsm_door_writer(spark, tmp_path):
    """``writer=`` the FSM door's NexusStreamWriter: after retirement a
    straggler frame inside the retired run's interval no longer matches
    it, so the run's live directory is not resurrected next to its
    completed/ copy."""
    from pyspark.sql import functions as F

    from supermusr_data_pipeline_spark.schemas import FRAME_EVENT_LIST_SCHEMA
    from supermusr_data_pipeline_spark.streaming.nexus_stream import (
        NexusStreamWriter,
    )

    t0 = datetime(2024, 3, 1, tzinfo=timezone.utc)
    t0_us = int(t0.timestamp() * 1e6)
    runs = spark.createDataFrame(
        [("run_a", t0_us - 1_000_000, t0_us + 100_000)],
        "run_name string, from_us long, until_us long",
    ).select(
        "run_name",
        F.timestamp_micros("from_us").alias("collect_from"),
        F.timestamp_micros("until_us").alias("collect_until"),
    )

    def frame(fno):  # one complete frame of 4 events, 20 ms apart
        return spark.createDataFrame(
            [(
                datetime.fromtimestamp(
                    (t0_us + fno * 20_000) / 1e6, tz=timezone.utc
                ),
                0, 4, True, fno, 0, True, [0, 1],
                [0, 1, 0, 1], [10, 20, 30, 40], [1.0, 2.0, 3.0, 4.0],
            )],
            FRAME_EVENT_LIST_SCHEMA,
        )

    sink = str(tmp_path / "sink")
    live = os.path.join(sink, "run_name=run_a")
    w = NexusStreamWriter(runs, sink)
    w(frame(0), 0)
    assert os.path.isdir(live)

    moved = retire_completed_runs(
        spark, sink, runs, now="2030-01-01 00:00:00", compact=True, writer=w
    )
    assert moved == ["run_a"]
    assert not os.path.exists(live)

    w(frame(2), 1)  # inside the retired interval
    assert not os.path.exists(live)
    completed = os.path.join(sink, "completed", "run_name=run_a")
    assert spark.read.parquet(completed).count() == 4
